"""Measure get_many batch hydration OVER AN OBJECT STORE (moto S3,
real wire protocol on localhost): serial file walk vs the thread-pool
fan-out (VERDICT r9 item 5's object-store leg — there the overlapped
per-file latency is HTTP GETs, not local decode).

Builds the store locally with Spark (data plane), uploads it, then
reads exclusively through S3FS + pyarrow's S3 client. Parity is
hash-checked against the local Spark path before timing.

Usage: python tools/bench_s3_get_many.py [sf_dir] [batch]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def _latency_proxy(upstream: str, delay_s: float) -> str:
    """Threaded HTTP proxy adding ``delay_s`` per request — models the
    object-store RTT the thread pool exists to hide. time.sleep
    releases the GIL, so concurrent requests genuinely overlap (the
    moto endpoint itself is Python and serializes CPU work, which is
    why the direct-moto number under-states the pool's win)."""
    import http.client as hc
    import http.server
    import threading

    class Handler(http.server.BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *a):
            pass

        def _forward(self):
            time.sleep(delay_s)
            n = int(self.headers.get("Content-Length", 0) or 0)
            body = self.rfile.read(n) if n else b""
            headers = {
                k: v for k, v in self.headers.items()
                if k.lower() not in ("host", "connection", "content-length",
                                     "transfer-encoding", "expect")
            }
            conn = hc.HTTPConnection(upstream.split("://", 1)[1])
            conn.request(self.command, self.path, body=body or None,
                         headers=headers)
            resp = conn.getresponse()
            rheaders = dict(resp.getheaders())
            rbody = b"" if self.command == "HEAD" else resp.read()
            conn.close()
            self.send_response(resp.status)
            for k, v in rheaders.items():
                if k.lower() in ("connection", "transfer-encoding",
                                 "content-length"):
                    continue
                self.send_header(k, v)
            if self.command == "HEAD":
                cl = rheaders.get("Content-Length")
                if cl is not None:
                    self.send_header("Content-Length", cl)
            else:
                self.send_header("Content-Length", str(len(rbody)))
            self.send_header("Connection", "close")
            self.close_connection = True
            self.end_headers()
            if self.command != "HEAD":
                self.wfile.write(rbody)

        do_GET = do_PUT = do_POST = do_HEAD = do_DELETE = _forward

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return f"http://127.0.0.1:{server.server_address[1]}"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    batch = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    delay_ms = float(sys.argv[3]) if len(sys.argv) > 3 else 0.0

    from moto.server import ThreadedMotoServer

    srv = ThreadedMotoServer(port=0, verbose=False)
    srv.start()
    endpoint = f"http://127.0.0.1:{srv._server.socket.getsockname()[1]}"
    if delay_ms > 0:
        endpoint = _latency_proxy(endpoint, delay_ms / 1000.0)
    os.environ["AWS_ENDPOINT_URL_S3"] = endpoint
    os.environ.setdefault("AWS_ACCESS_KEY_ID", "bench")
    os.environ.setdefault("AWS_SECRET_ACCESS_KEY", "bench")
    os.environ.setdefault("AWS_DEFAULT_REGION", "us-east-1")

    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.serving import PointReader
    from ftm_lakehouse_spark.session import get_spark
    from ftm_lakehouse_spark.sources.object_store import S3FS
    from ftm_lakehouse_spark.sources.statement_store import StatementStore

    spark = get_spark("bench-s3-get-many")
    root = tempfile.mkdtemp(prefix="s3gm_")
    import atexit
    import shutil

    atexit.register(shutil.rmtree, root, ignore_errors=True)
    ds = Lakehouse(spark, root).dataset("s3gm", shards=32)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ents = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("id"),
        F.lit("Document").alias("schema"),
        F.create_map(
            F.lit("title"), F.array(F.substring(F.col("text"), 1, 40)),
        ).alias("properties"),
    )
    n = ents.count()
    ds.write_entities(ents, origin="bulk")
    ds.optimize(force=True, zorder=("entity_id",))
    ds.store.vacuum(retention_hours=0.0)

    fs = S3FS()
    fs._s3.create_bucket(Bucket="bench")
    store_dir = str(ds.store.path)
    n_up = 0
    for r, _dirs, files in os.walk(store_dir):
        for f in files:
            full = os.path.join(r, f)
            rel = os.path.relpath(full, store_dir).replace(os.sep, "/")
            with open(full, "rb") as fh:
                fs._s3.put_object(
                    Bucket="bench", Key=f"s3gm/{rel}", Body=fh.read()
                )
            n_up += 1
    print(f"# store: {n} entities, {n_up} objects uploaded to moto")

    s3store = StatementStore(spark, "s3://bench/s3gm", ds.config)
    reader = PointReader(s3store)

    step = max(1, n // (batch + 1))
    ids = [f"doc-{i * step}" for i in range(1, batch + 1)]

    got = reader.get_many(ids)
    for eid in ids[:: max(1, batch // 10)]:
        a = json.dumps(got[eid], default=str, sort_keys=True)
        b = json.dumps(ds.get(eid, engine="spark"), default=str, sort_keys=True)
        assert a == b, f"s3 vs local-spark mismatch for {eid}"
    print("parity: s3 get_many == local spark path on sampled ids")

    def timed(threads: int, reps: int = 5) -> float:
        reader.GET_MANY_THREADS = threads
        reader.get_many(ids)  # warm footer cache + snapshot
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            out = reader.get_many(ids)
            runs.append(time.perf_counter() - t0)
            assert sum(v is not None for v in out.values()) == batch
        return statistics.median(runs)

    serial = timed(1)
    pooled = timed(16)
    tag = f"moto+{sys.argv[3]}ms RTT" if delay_ms > 0 else "moto localhost"
    print(
        f"get_many over S3 ({batch} ids, {n} entities, {tag}): "
        f"serial {serial * 1000:.0f}ms ({batch / serial:.0f} ids/s), "
        f"pooled(16) {pooled * 1000:.0f}ms ({batch / pooled:.0f} ids/s), "
        f"speedup {serial / pooled:.2f}x"
    )
    srv.stop()


if __name__ == "__main__":
    main()
