"""Plane split for cluster deployments (round 11, VERDICT r10 item 2)
plus the round-11 ADVICE S3 fixes.

An ``s3a://``-rooted store keeps its Spark DATA plane on the cluster's
s3a jars (``spark.read``/``df.write`` never touch the FS shim), but its
CONTROL plane — commit log, tags, config, stage moves, vacuum — must
run on boto3 where ``write_text_exclusive`` is a TRUE conditional-write
put-if-absent on the same bucket. The r10 scheme-split routed ``s3a``
wholesale to HadoopFS, whose rename-based exclusive create is copy-based
(non-atomic) on S3 — exactly the wrong plane got the commit log. These
tests pin the ROUTING and the conditional-write commit over moto (the
parts s3a jars can't cover in this image; the jars-only part is
``spark.read.parquet("s3a://...")`` itself, a stock Spark capability).

ADVICE fixes pinned here:
* high — ``S3FS.mkdirs`` persists a ``.init`` marker so the
  StatementStore's pre-log ownership signal (the commit-log directory
  existing at birth) survives on object stores: a crash between the
  first stage-move and the first commit no longer flips reopen into
  adoption mode (which would fold the torn write's orphans into v1 and
  double-apply a streaming replay).
* medium — ``S3FS.mtime`` on a directory PREFIX (orphaned ``_stage-*``)
  falls back to the newest LastModified under it instead of raising a
  raw botocore 404, so ``vacuum`` works on S3; mtime/filesize map true
  misses to FileNotFoundError like every other read.
* low — endpoints that silently IGNORE ``If-None-Match`` are caught by
  a one-time per-bucket probe that hard-fails instead of letting the
  commit log degrade to last-writer-wins.
"""

import json
import os
import subprocess
import sys
import threading

import pytest

pytest.importorskip("moto")
pytest.importorskip("boto3")

# reuse the moto-server + counting-proxy harness and the local
# reference dataset from the serving tests
from tests.test_object_store_serving import (  # noqa: F401
    _canon,
    _upload_dir,
    local_ds,
    s3env,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_get_fs_routes_all_s3_schemes_to_s3fs(s3env):
    from ftm_lakehouse_spark.sources.fs import get_fs
    from ftm_lakehouse_spark.sources.object_store import S3FS

    for scheme in ("s3", "s3a", "s3n"):
        fs = get_fs(f"{scheme}://lake/tables/x")
        assert isinstance(fs, S3FS), scheme
        assert fs.atomic_put_if_absent


def test_mkdirs_persists_ownership_marker(s3env):
    from ftm_lakehouse_spark.sources.object_store import S3FS

    fs = S3FS()
    d = "s3a://lake/marker-test/_meta/commits"
    assert not fs.isdir(d)
    fs.mkdirs(d)
    assert fs.isdir(d)  # the signal now EXISTS before any commit
    # marker is invisible to the commit log's version listing filter
    assert [n for n in fs.listdir(d) if n.endswith(".json")] == []
    fs.delete("s3a://lake/marker-test")


def test_torn_first_write_does_not_flip_adoption_on_s3(s3env, local_ds, spark):
    """ADVICE high: engine-created store on S3, crash between the first
    stage-move and the first commit. Reopen must see the ownership
    marker, stay non-adopting, read EMPTY, and never bootstrap the
    orphans — so a streaming replay of the write cannot double-apply."""
    from ftm_lakehouse_spark.sources.object_store import S3FS
    from ftm_lakehouse_spark.sources.statement_store import StatementStore

    root = "s3a://lake/tables/torn"
    store = StatementStore(spark, root, local_ds.config)
    assert isinstance(store._fs, S3FS)
    assert not store._adopting
    assert store._fs.isdir(store.commits.root)  # signal persisted at birth

    # simulate the torn write: a data file lands, no commit record
    src = sorted(local_ds.store._fs.parquet_files(local_ds.store._data_path()))
    local_file = local_ds.store._fs.join(
        local_ds.store._data_path(), src[0]
    )
    with open(local_file, "rb") as fh:
        S3FS()._s3.put_object(
            Bucket="lake", Key=f"tables/torn/statements/{src[0]}",
            Body=fh.read(),
        )

    reopened = StatementStore(spark, root, local_ds.config)
    assert not reopened._adopting  # the fix: marker survives the crash
    assert reopened.raw().count() == 0  # orphan invisible
    reopened._ensure_bootstrap()
    assert reopened.commits.current_version() == 0  # nothing adopted
    S3FS().delete(root)


def test_vacuum_reaps_orphan_stage_dir_on_s3(s3env, local_ds, spark):
    """ADVICE medium: vacuum age-gates ``_stage-*`` DIRECTORY prefixes
    via mtime — on S3 there is no object at the prefix key, so mtime
    must fall back to the newest LastModified under it instead of
    crashing with a raw botocore 404."""
    from ftm_lakehouse_spark.sources.object_store import S3FS
    from ftm_lakehouse_spark.sources.statement_store import StatementStore

    _upload_dir(str(local_ds.store.path), "lake", "tables/vac",
                include_meta=True)
    s3 = S3FS()._s3
    s3.put_object(
        Bucket="lake",
        Key="tables/vac/_stage-deadbeef/shard=0/bucket=b/origin=o/x.parquet",
        Body=b"orphan",
    )
    store = StatementStore(spark, "s3a://lake/tables/vac", local_ds.config)
    # mtime on the stage PREFIX resolves (the old behavior raised)
    assert store._fs.mtime("s3a://lake/tables/vac/_stage-deadbeef") > 0
    with pytest.raises(FileNotFoundError):
        store._fs.mtime("s3a://lake/tables/vac/_stage-missing")
    with pytest.raises(FileNotFoundError):
        store._fs.filesize("s3a://lake/tables/vac/_stage-missing")
    removed = store.vacuum(retention_hours=0.0)
    assert "_stage-deadbeef" in removed
    assert not store._fs.isdir("s3a://lake/tables/vac/_stage-deadbeef")
    S3FS().delete("s3a://lake/tables/vac")


_STORM_WORKER = """
import json, sys
from ftm_lakehouse_spark.sources.commits import CommitLog
from ftm_lakehouse_spark.sources.object_store import S3FS

wid, root, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
fs = S3FS()
log = CommitLog(fs, root)
for i in range(n):
    log.commit("append", [["s", "b", wid]], [f"{wid}-{i}.parquet"])
print(json.dumps({"wid": wid, "done": n}))
"""


def test_multiprocess_commit_storm_over_s3a_root(s3env):
    """The multiprocess commit storm (test_multiprocess_store.py shape)
    over moto with an ``s3a://``-shaped root: separate PROCESSES race
    version allocation through conditional PUTs — contiguous versions,
    every logical commit exactly once, no file tracked twice. This is
    the routing + atomic-commit half of the cluster deployment shape;
    the jars-only half (executors reading s3a parquet) is stock Spark."""
    from ftm_lakehouse_spark.sources.commits import CommitLog
    from ftm_lakehouse_spark.sources.object_store import S3FS

    root = "s3a://lake/storm/_meta/commits"
    n, workers = 6, 3
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _STORM_WORKER, f"w{i}", root, str(n)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, cwd=REPO,
        )
        for i in range(workers)
    ]
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()[-2000:]

    log = CommitLog(S3FS(), root)
    versions = log._versions()
    assert versions == list(range(1, workers * n + 1)), versions
    recs = log.read()
    files = [f for r in recs for f in r["files_added"]]
    assert len(files) == len(set(files)) == workers * n
    S3FS().delete("s3a://lake/storm")


def test_statement_store_wiring_composes_the_planes(s3env, local_ds, spark):
    """StatementStore rooted at s3a://: control plane (commit log,
    tags) runs on S3FS conditional writes end-to-end. The data plane is
    exercised by manifest-only commits here (Spark s3a jars absent in
    this image); on a cluster, executors write the parquet and the SAME
    commit path flips visibility."""
    from ftm_lakehouse_spark.sources.object_store import S3FS
    from ftm_lakehouse_spark.sources.statement_store import StatementStore

    store = StatementStore(spark, "s3a://lake/tables/planes", local_ds.config)
    assert isinstance(store._fs, S3FS)
    store.commits.commit("append", [["s", "b", "o"]], ["f1.parquet"])
    assert store.commits.current_version() == 1
    store.tags.touch("last_updated")
    assert store.tags.get("last_updated") is not None
    # reopen: same version via a fresh client, still owned (not adopting)
    again = StatementStore(spark, "s3a://lake/tables/planes", local_ds.config)
    assert again.commits.current_version() == 1
    assert not again._adopting
    S3FS().delete("s3a://lake/tables/planes")


class _IgnoringClient:
    """Fake boto3 client: accepts If-None-Match but ignores it (older
    MinIO / proxy behavior) — both racing PUTs return 200."""

    class _Meta:
        endpoint_url = "http://fake-minio.local"

    meta = _Meta()

    def __init__(self):
        self.objects = {}

    def put_object(self, Bucket, Key, Body, **kw):
        self.objects[(Bucket, Key)] = Body  # IfNoneMatch silently dropped
        return {}

    def delete_object(self, Bucket, Key):
        self.objects.pop((Bucket, Key), None)
        return {}


def test_conditional_put_probe_hard_fails_on_ignoring_endpoint():
    from ftm_lakehouse_spark.sources.object_store import S3FS

    fs = S3FS(client=_IgnoringClient())
    with pytest.raises(RuntimeError, match="LockClient"):
        fs.write_text_exclusive("s3a://lake/x/commit.json", "{}")
    # nothing was written to the target — the probe fails BEFORE the
    # commit payload could land under last-writer-wins rules
    assert ("lake", "x/commit.json") not in fs._s3.objects


def test_conditional_put_probe_runs_once_per_bucket(s3env):
    from ftm_lakehouse_spark.sources.object_store import S3FS

    S3FS._cond_put_verified.clear()
    fs = S3FS()
    s3env.reset()
    assert fs.write_text_exclusive("s3a://lake/probe-once/c1.json", "{}")
    with s3env.lock:
        first = sum(1 for m, p, _ in s3env.log
                    if m == "PUT" and ".cond-probe-" in p)
    assert first == 2  # the double probe
    s3env.reset()
    assert fs.write_text_exclusive("s3a://lake/probe-once/c2.json", "{}")
    with s3env.lock:
        second = sum(1 for m, p, _ in s3env.log
                     if m == "PUT" and ".cond-probe-" in p)
    assert second == 0  # cached per (endpoint, bucket)
    fs.delete("s3a://lake/probe-once")


def test_rename_many_moves_all_pairs_concurrently(s3env):
    """Stage→data move fan-out: every pair lands, sources gone, bytes
    intact — bit-identical outcome to the serial walk."""
    from ftm_lakehouse_spark.sources.object_store import S3FS

    fs = S3FS()
    pairs = []
    for i in range(24):
        src = f"s3a://lake/rnm/_stage-x/part-{i:02d}.parquet"
        fs.write_bytes_atomic(src, f"body-{i}".encode())
        pairs.append((src, f"s3a://lake/rnm/data/part-{i:02d}.parquet"))
    fs.rename_many(pairs)
    for i, (src, dst) in enumerate(pairs):
        assert fs.read_bytes(dst) == f"body-{i}".encode()
        assert not fs.exists(src)
    fs.delete("s3a://lake/rnm")


def test_vacuum_batches_deletes_on_s3(s3env, local_ds, spark):
    """Round-11 scale hygiene: vacuum's data-file reaping over S3 goes
    through 1000-key DeleteObjects batches (POST) — zero per-file
    DELETE requests — and issues no per-file HEAD existence probes
    (both sweeps feed from one data-dir walk)."""
    from ftm_lakehouse_spark.sources.object_store import S3FS
    from ftm_lakehouse_spark.sources.statement_store import StatementStore

    # a store state with retired files: re-merge after an extra write,
    # so pre-merge files are retired-but-present, then mirror to S3
    local_ds.store.vacuum(retention_hours=0.0)  # start clean
    _upload_dir(str(local_ds.store.path), "lake", "tables/vacbatch",
                include_meta=True)
    store = StatementStore(
        spark, "s3a://lake/tables/vacbatch", local_ds.config
    )
    n_files = len(store._fs.parquet_files(store._data_path()))
    assert n_files > 1
    # retire EVERY live file via a directly-written rewrite commit that
    # replaces them with nothing-on-disk names (metadata-only: the
    # point is the reaper's request pattern, not the rewrite)
    live = store.commits.snapshot()
    store.commits.commit(
        "rewrite",
        [["s", "b", "o"]],
        files_added=[],
        files_removed=live,
        read_version=store.commits.current_version(),
    )
    s3env.reset()
    removed = store.vacuum(retention_hours=0.0)
    assert set(removed) >= set(live)
    with s3env.lock:
        per_file_deletes = sum(
            1 for m, p, _ in s3env.log if m == "DELETE" and ".parquet" in p
        )
        batch_posts = sum(
            1 for m, p, _ in s3env.log if m == "POST" and "delete" in p
        )
        heads = sum(
            1 for m, p, _ in s3env.log if m == "HEAD" and ".parquet" in p
        )
    assert per_file_deletes == 0, per_file_deletes
    assert 1 <= batch_posts <= 2 + len(live) // 1000, batch_posts
    # mtime age-gating HEADs only the ORPHAN candidates (none here);
    # retired files are never HEAD-probed
    assert heads == 0, heads
    S3FS().delete("s3a://lake/tables/vacbatch")


def test_point_reader_serves_an_s3a_root(s3env, local_ds, spark):
    """The serving read plane works through the s3a-rooted shape too:
    pyarrow's S3 client reads the same bucket the cluster's jars would
    write, with full hash parity vs the local Spark path — so a
    read-only serving deployment can point at the production s3a URI
    verbatim."""
    from ftm_lakehouse_spark.serving import PointReader
    from ftm_lakehouse_spark.sources.statement_store import StatementStore

    _upload_dir(str(local_ds.store.path), "lake", "tables/s3ademo",
                include_meta=True)
    store = StatementStore(
        spark, "s3a://lake/tables/s3ademo", local_ds.config
    )
    assert not store._adopting
    reader = PointReader(store)
    for eid in ("alice", "acme", "gone", "missing"):
        assert _canon(reader.get(eid)) == _canon(
            local_ds.get(eid, engine="spark")
        ), eid
    batch = reader.get_many(["alice", "acme", "gone", "missing"])
    assert _canon(batch["alice"]) == _canon(reader.get("alice"))
