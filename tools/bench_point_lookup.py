"""Measure warm point-lookup (``Dataset.get``) latency on a merged,
z-order-clustered store (round-6 VERDICT item 8): the number behind
SCALE.md §7's "serving cache outside the engine" recommendation.

Builds a store from the sf-dir's documents table (one entity per doc,
a few properties), merges, z-orders on (entity_id), then measures
``get()`` wall time — one cold call, then N warm calls on distinct
ids (median + p95 reported). The measured floor is Spark job
scheduling + plan analysis, not IO: the executed plan reads one shard
directory with entity_id row-group skipping (test_point_lookup pins
that), so at any corpus size the latency stays where this measures it
— which is exactly why a 100 TB deployment fronts `get()` with a
serving cache instead of asking Spark for sub-ms lookups.

Round-8 addition (VERDICT r7 item 7): ``--concurrent [C]`` measures
the SERVING path under load — C client threads (default 8) issue
``GET /{dataset}/entities/{id}`` against :func:`api.serve_in_thread`'s
ThreadingHTTPServer concurrently, so C Spark jobs race inside one
driver. Run with ``SPARK_GRAFT_CONF="spark.scheduler.mode=FAIR"`` so
the concurrent lookups share executor slots fairly instead of queuing
FIFO behind each other; the reported per-request median/p95 is the
concurrent floor the serving-cache recommendation must quote.

Round-9 addition (VERDICT r8 item 3): ``Dataset.get`` now defaults to
the Spark-FREE direct path (serving.PointReader — driver-side pyarrow
over the MVCC snapshot with footer row-group pruning), so this tool
measures that path by default; ``--engine spark`` forces the old
Spark-job path for comparison, and every run hash-compares a sample of
entity dicts across both engines before timing anything.

Usage: python tools/bench_point_lookup.py [sf_dir] [n_warm]
           [--engine auto|spark|direct] [--concurrent [C]]
"""

from __future__ import annotations

import statistics
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ftm_lakehouse_spark.lakehouse import Lakehouse
from ftm_lakehouse_spark.session import get_spark


def main() -> None:
    # argparse so flag VALUES never leak into positionals ('--engine
    # direct' must not make sf_dir='direct')
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("n_warm", nargs="?", type=int, default=50)
    ap.add_argument("--engine", choices=("auto", "spark", "direct"),
                    default="auto")
    ap.add_argument("--concurrent", nargs="?", type=int, const=8,
                    default=None, metavar="C")
    ap.add_argument("--many", nargs="?", type=int, const=1000,
                    default=None, metavar="B",
                    help="measure get_many batch hydration with B-id "
                         "batches, serial walk vs thread-pool fan-out")
    opts = ap.parse_args()
    sf_dir, n_warm, engine = opts.sf_dir, opts.n_warm, opts.engine

    spark = get_spark("bench-point-lookup")
    root = tempfile.mkdtemp(prefix="pl_bench_")
    import atexit
    import shutil

    atexit.register(shutil.rmtree, root, ignore_errors=True)
    lake = Lakehouse(spark, root)
    ds = lake.dataset("plbench", shards=32)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ents = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("id"),
        F.lit("Document").alias("schema"),
        F.create_map(
            F.lit("title"), F.array(F.substring(F.col("text"), 1, 40)),
            F.lit("language"), F.array(F.col("lang").cast("string")),
        ).alias("properties"),
    )
    n = ents.count()
    ds.write_entities(ents, origin="bulk")
    ds.optimize(force=True, zorder=("entity_id",))

    ids = [f"doc-{i * (n // (n_warm + 1) or 1)}" for i in range(1, n_warm + 1)]

    # correctness first: direct and Spark paths must serve identical
    # entity dict bytes (the serving-path parity contract)
    import json

    for eid in ids[:: max(1, len(ids) // 10)]:
        a = json.dumps(ds.get(eid, engine="direct"), default=str, sort_keys=True)
        b = json.dumps(ds.get(eid, engine="spark"), default=str, sort_keys=True)
        assert a == b, f"engine mismatch for {eid}"
    print(f"engine parity: direct == spark on {len(ids[::max(1, len(ids)//10)])} sampled ids")

    t0 = time.perf_counter()
    assert ds.get("doc-1", engine=engine) is not None
    cold = time.perf_counter() - t0

    samples = []
    for eid in ids:
        t0 = time.perf_counter()
        ent = ds.get(eid, engine=engine)
        samples.append(time.perf_counter() - t0)
        assert ent is not None, eid
    samples.sort()
    print(
        f"point lookup on merged+zordered store ({n} entities, 32 shards, "
        f"engine={engine}): "
        f"cold {cold * 1000:.0f}ms, warm median "
        f"{statistics.median(samples) * 1000:.0f}ms, p95 "
        f"{samples[int(0.95 * len(samples))] * 1000:.0f}ms over {n_warm} gets"
    )

    if opts.concurrent is not None:
        concurrent_bench(lake, ds, ids, opts.concurrent, spark)
    if opts.many is not None:
        get_many_bench(ds, n, opts.many)


def get_many_bench(ds, n_entities: int, batch: int) -> None:
    """Batch hydration throughput: get_many with the serial file walk
    (GET_MANY_THREADS=1) vs the thread-pool fan-out (VERDICT r9 item
    5), hash-parity-checked against singles first."""
    import json

    reader = ds._point_reader
    step = max(1, n_entities // (batch + 1))
    ids = [f"doc-{i * step}" for i in range(1, batch + 1)]

    got = ds.get_many(ids, engine="direct")
    for eid in ids[:: max(1, batch // 20)]:
        a = json.dumps(got[eid], default=str, sort_keys=True)
        b = json.dumps(ds.get(eid, engine="direct"), default=str, sort_keys=True)
        assert a == b, f"get_many mismatch vs single for {eid}"
    print(f"get_many parity: batch == singles on sampled ids (batch={batch})")

    def timed(threads: int, reps: int = 5) -> float:
        old = reader.GET_MANY_THREADS
        reader.GET_MANY_THREADS = threads
        try:
            ds.get_many(ids, engine="direct")  # warm footers/snapshot
            runs = []
            for _ in range(reps):
                t0 = time.perf_counter()
                out = ds.get_many(ids, engine="direct")
                runs.append(time.perf_counter() - t0)
                assert sum(v is not None for v in out.values()) == batch
            return statistics.median(runs)
        finally:
            reader.GET_MANY_THREADS = old

    serial = timed(1)
    pooled = timed(reader.GET_MANY_THREADS)
    print(
        f"get_many ({batch} ids, {n_entities} entities): serial "
        f"{serial * 1000:.0f}ms ({batch / serial:.0f} ids/s), pooled "
        f"{pooled * 1000:.0f}ms ({batch / pooled:.0f} ids/s), speedup "
        f"{serial / pooled:.2f}x"
    )


def concurrent_bench(lake, ds, ids, n_clients, spark) -> None:
    """p95 of ``get()`` under ``n_clients`` concurrent HTTP callers
    through the NDJSON API (each HTTP handler thread runs a Spark job
    in the shared driver)."""
    import json
    import threading
    import urllib.request

    from ftm_lakehouse_spark.api import serve_in_thread

    mode = spark.sparkContext.getConf().get("spark.scheduler.mode", "FIFO")
    server, base = serve_in_thread(lake)
    name = ds.config.name
    per_client = max(1, len(ids) // n_clients)
    lat: list[float] = []
    lock = threading.Lock()

    def client(cid: int) -> None:
        mine = ids[cid * per_client : (cid + 1) * per_client]
        got = []
        for eid in mine:
            t0 = time.perf_counter()
            with urllib.request.urlopen(f"{base}/{name}/entities/{eid}") as r:
                ent = json.loads(r.read())
            got.append(time.perf_counter() - t0)
            assert ent["entity_id"] == eid
        with lock:
            lat.extend(got)

    # one warm lap through the API before measuring (handler threads +
    # HTTP keepalive caches are not what we're measuring)
    client(0)
    lat.clear()
    t_all = time.perf_counter()
    threads = [
        threading.Thread(target=client, args=(c,)) for c in range(n_clients)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(600)
    wall = time.perf_counter() - t_all
    server.shutdown()
    lat.sort()
    n_req = len(lat)
    print(
        f"concurrent serving ({n_clients} clients x {per_client} gets, "
        f"scheduler={mode}): per-request median "
        f"{statistics.median(lat) * 1000:.0f}ms, p95 "
        f"{lat[int(0.95 * n_req)] * 1000:.0f}ms, throughput "
        f"{n_req / wall:.1f} gets/s over {n_req} requests"
    )


if __name__ == "__main__":
    main()
