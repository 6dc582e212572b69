"""CommitLog: optimistic-concurrency transaction log — versioned
put-if-absent commits, MVCC file snapshots, incremental reads, time
travel, retention vacuum (the Delta protocol on plain parquet)."""

from ftm_lakehouse_spark.lakehouse import Lakehouse

from .test_lakehouse import ACME, JANE, PAY, entities_df


def test_append_commits_record_files(spark, lake_root):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("cl")
    assert ds.store.commits.current_version() == 0

    ds.write_entities(entities_df(spark, JANE), origin="a")
    assert ds.store.commits.current_version() == 1
    ds.write_entities(entities_df(spark, ACME), origin="b")
    assert ds.store.commits.current_version() == 2

    recs = ds.store.commits.read()
    assert [r["kind"] for r in recs] == ["append", "append"]
    assert all(r["files_added"] for r in recs)
    assert all(f.endswith(".parquet") for r in recs for f in r["files_added"])
    # partition provenance is embedded in the recorded paths
    assert all("origin=a" in f for f in recs[0]["files_added"])
    assert all("origin=b" in f for f in recs[1]["files_added"])


def test_raw_since_reads_only_new_files(spark, lake_root):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("cl2")
    ds.write_entities(entities_df(spark, JANE), origin="a")
    v1 = ds.store.commits.current_version()
    ds.write_entities(entities_df(spark, ACME, PAY), origin="b")

    full = ds.store.raw()
    inc = ds.store.raw_since(v1)
    # incremental slice is exactly the second batch
    assert inc.count() == full.filter("origin = 'b'").count()
    assert inc.select("origin").distinct().collect()[0]["origin"] == "b"
    # partition columns recovered from file paths (basePath)
    assert set(inc.columns) == set(full.columns)
    # since-0 covers everything
    assert ds.store.raw_since(0).count() == full.count()
    # nothing after the latest version
    assert ds.store.raw_since(ds.store.commits.current_version()).count() == 0


def test_rewrite_supersedes_appended_files(spark, lake_root):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("cl3")
    ds.write_entities(entities_df(spark, JANE), origin="a")
    v1 = ds.store.commits.current_version()
    ds.write_entities(entities_df(spark, JANE), origin="a")  # dup → dirty
    assert ds.merge() is True

    recs = ds.store.commits.read()
    assert recs[-1]["kind"] == "rewrite"
    # the rewrite names both its output and the files it retired
    assert recs[-1]["files_added"] and recs[-1]["files_removed"]
    assert recs[-1]["read_version"] == v1 + 1

    files, legacy = ds.store.commits.files_since(v1)
    # the appended-then-rewritten files are superseded: only the
    # rewrite's canonical output is in the incremental read set
    assert files == recs[-1]["files_added"]
    assert not legacy
    inc = ds.store.raw_since(v1)
    assert inc.count() == ds.store.raw().count()
    # a later untouched-partition append stays file-exact
    v3 = ds.store.commits.current_version()
    ds.write_entities(entities_df(spark, ACME), origin="c")
    files2, legacy2 = ds.store.commits.files_since(v3)
    assert files2 and not legacy2
    assert ds.store.raw_since(v3).count() == ds.store.raw().filter("origin='c'").count()


def test_vacuum_reaps_orphaned_stage(spark, lake_root):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("cl4")
    ds.write_entities(entities_df(spark, JANE), origin="a")
    # simulate a crash between stage write and move
    orphan = ds.store._fs.join(ds.store.path, "_stage-123456")
    ds.store._fs.mkdirs(orphan)
    # default retention keeps a fresh stage (it may be an in-flight
    # writer from another driver); zero retention reaps it
    assert ds.store.vacuum() == []
    assert ds.store.vacuum(retention_hours=0) == ["_stage-123456"]
    assert not ds.store._fs.exists(orphan)
    assert ds.store.vacuum(retention_hours=0) == []
    assert ds.count() == 1  # data untouched


def test_vacuum_reaps_retired_files_after_retention(spark, lake_root):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("cl6")
    ds.write_entities(entities_df(spark, JANE), origin="a")
    ds.write_entities(entities_df(spark, JANE), origin="a")
    v_pre = ds.store.commits.current_version()
    assert ds.merge() is True

    # retired files still on disk → time travel works
    pre = ds.store.raw(as_of=v_pre)
    assert pre.count() > ds.store.raw().count()  # dup rows still visible at v_pre

    # inside retention: nothing reaped, history still readable
    assert ds.store.vacuum() == []
    assert ds.store.raw(as_of=v_pre).count() == pre.count()

    # zero retention: retired files go, head unaffected
    reaped = ds.store.vacuum(retention_hours=0)
    assert reaped and all(f.endswith(".parquet") for f in reaped)
    head_rows = ds.store.raw().count()
    assert head_rows == ds.count() or head_rows >= 1  # head intact
    disk = ds.store._fs.parquet_files(ds.store._data_path())
    assert disk == set(ds.store.commits.snapshot())  # disk == live set


def test_dataset_time_travel(spark, lake_root):
    """Dataset.statements/entities(as_of=v): the Delta versionAsOf
    surface — a past commit version stays readable until vacuum."""
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("tt")
    ds.write_entities(entities_df(spark, JANE), origin="a")
    v1 = ds.version
    ds.write_entities(entities_df(spark, ACME), origin="a")
    v2 = ds.version
    ds.delete_entity("jane")
    assert ds.merge() is True  # apply the tombstone (canonicalize)

    assert v2 == v1 + 1
    now_ids = {r["entity_id"] for r in ds.entities().select("entity_id").collect()}
    assert now_ids == {"acme"}
    at_v1 = {r["entity_id"] for r in ds.entities(as_of=v1).select("entity_id").collect()}
    assert at_v1 == {"jane"}
    at_v2 = {r["entity_id"] for r in ds.entities(as_of=v2).select("entity_id").collect()}
    assert at_v2 == {"jane", "acme"}
    assert ds.statements(as_of=v1).count() < ds.statements(as_of=v2).count()


def test_log_cleanup_preserves_protocol_state(spark, lake_root):
    """Log cleanup (Delta log-retention): commit records at or below
    the newest checkpoint age out, yet snapshot / dirty tracking / txn
    watermarks stay exact (they fold into the checkpoint), recent
    cursors stay file-exact, and pre-cleanup cursors degrade safely
    (full read; expired time travel raises)."""
    import pytest as _pytest

    from ftm_lakehouse_spark.operators.explode import explode_entities
    from ftm_lakehouse_spark.sources.commits import LogTruncated

    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("cl7")
    stmts = explode_entities(
        entities_df(spark, JANE), "cl7", origin="a", shards=ds.config.shards
    ).localCheckpoint(eager=True)
    # 22 commits crosses the checkpoint interval (20); a txn append
    # and a merge exercise the folded watermark + dirty maps
    for i in range(20):
        ds.store.append(stmts)
    ds.store.append(stmts, txn=("stream-x", 7))
    assert ds.merge() is True  # rewrite commit
    head = ds.store.commits.current_version()
    assert head == 22  # 21 appends + 1 rewrite
    pre_files = set(ds.store.commits.snapshot())
    pre_dirty = ds.store.dirty_partitions()
    rows = ds.store.raw().count()

    reaped = ds.store.vacuum(retention_hours=0)
    assert any(f.endswith(".json") for f in reaped)  # records cleaned
    assert ds.store.commits.oldest_version() > 1

    # protocol state intact after cleanup
    assert set(ds.store.commits.snapshot()) == pre_files
    assert ds.store.raw().count() == rows
    assert ds.store.dirty_partitions() == pre_dirty
    assert ds.store.commits.txn_version("stream-x") == 7
    ds.store.append(stmts, txn=("stream-x", 7))  # replay still fenced
    assert ds.store.commits.current_version() == head

    # recent cursor: still file-exact; ancient cursor: safe full read
    ds.store.append(stmts)
    assert ds.store.raw_since(head).count() > 0
    assert ds.store.raw_since(1).count() == ds.store.raw().count()
    # expired time travel says so instead of answering wrong
    with _pytest.raises(LogTruncated):
        ds.store.raw(as_of=2)


def test_canonical_since_incremental_entities(spark, lake_root):
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("cl5")
    ds.write_entities(entities_df(spark, JANE), origin="a")
    ds.merge()
    v = ds.store.commits.current_version()
    ds.write_entities(entities_df(spark, ACME, PAY), origin="b")
    got = ds.store.canonical_since(v)
    ids = {r["entity_id"] for r in got.select("entity_id").distinct().collect()}
    assert ids == {"acme", "pay1"}  # jane untouched since the cursor


def test_vacuum_keeps_recently_retired_files_after_checkpoint_fold(
    spark, lake_root, monkeypatch
):
    """A file ADDED long ago but RETIRED recently must survive vacuum
    even after checkpoints fold its add record away: the untracked-file
    sweep's mtime gate reflects add-time, so only the retained removing
    record keeps it safe — time travel inside the retention window
    depends on it (round-2 ADVICE, high)."""
    import json as _json
    import os
    import time
    from datetime import datetime, timedelta, timezone

    from ftm_lakehouse_spark.sources import commits as commits_mod

    monkeypatch.setattr(commits_mod, "CHECKPOINT_INTERVAL", 4)
    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("cl8")
    for _ in range(4):  # commits 1-4; checkpoint-4 folds the adds
        ds.write_entities(entities_df(spark, JANE), origin="a")
    v_pre = ds.store.commits.current_version()
    assert v_pre == 4
    assert ds.merge() is True  # commit 5 retires the appended files NOW
    rewrite = ds.store.commits.read(4)[0]
    retired = rewrite["files_removed"]
    assert retired
    for _ in range(3):  # commits 6-8; checkpoint-8 excludes retired files
        ds.write_entities(entities_df(spark, ACME), origin="b")
    assert ds.store.commits.current_version() == 8

    # age BOTH the retired files' mtimes (add-time) and the add
    # records' timestamps past retention; the REMOVING commit 5 stays
    # recent — the exact state of a table whose history aged while a
    # rewrite just happened
    data = ds.store._data_path()
    old_epoch = time.time() - 30 * 24 * 3600
    for f in retired:
        os.utime(os.path.join(data, f), (old_epoch, old_epoch))
    old_iso = (datetime.now(timezone.utc) - timedelta(days=30)).isoformat()
    for v in (1, 2, 3, 4):
        p = ds.store.commits._path(v)
        rec = _json.loads(ds.store._fs.read_text(p))
        rec["ts"] = old_iso
        os.remove(p)
        with open(p, "w") as fh:
            fh.write(_json.dumps(rec))

    # vacuum #1: files survive (records 1-4 still present during the
    # sweep), then log cleanup ages records 1-4 out
    reaped = ds.store.vacuum(retention_hours=168)
    assert all(not f.endswith(".parquet") for f in reaped)
    assert ds.store.commits.oldest_version() == 5
    # vacuum #2: the add records are GONE — only commit 5's
    # files_removed keeps the retired files tracked
    reaped2 = ds.store.vacuum(retention_hours=168)
    for f in retired:
        assert f not in reaped2
        assert ds.store._fs.exists(ds.store._fs.join(data, f))
    # time travel inside the retention window still reads them
    assert ds.store.raw(as_of=v_pre).count() > ds.store.raw(as_of=5).count()


def test_log_cleanup_never_punches_interior_holes(tmp_path, monkeypatch):
    """Cross-driver clock skew: a record with a FUTURE timestamp sits
    between old records. Cleanup must stop at it (contiguous-prefix
    delete) — interior holes would be silently skipped by read()/
    snapshot(), whose truncation guard only checks oldest_version()
    (round-2 ADVICE, low)."""
    import json as _json
    from datetime import datetime, timedelta, timezone

    from ftm_lakehouse_spark.sources import commits as commits_mod
    from ftm_lakehouse_spark.sources.commits import CommitLog
    from ftm_lakehouse_spark.sources.fs import LocalFS

    monkeypatch.setattr(commits_mod, "CHECKPOINT_INTERVAL", 4)
    fs = LocalFS()
    root = str(tmp_path / "log")
    fs.mkdirs(root)
    log = CommitLog(fs, root)
    for i in range(1, 6):  # commits 1-5, checkpoint at 4
        log.commit("append", [("s", str(i))], files_added=[f"f{i}.parquet"])
    pre = log.snapshot()
    old_iso = (datetime.now(timezone.utc) - timedelta(days=30)).isoformat()
    future_iso = (datetime.now(timezone.utc) + timedelta(hours=6)).isoformat()
    for v, ts in ((1, old_iso), (2, future_iso), (3, old_iso), (4, old_iso)):
        p = log._path(v)
        rec = _json.loads(fs.read_text(p))
        rec["ts"] = ts
        fs.write_text_atomic(p, _json.dumps(rec))

    removed = log.cleanup(datetime.now(timezone.utc) - timedelta(days=1))
    assert removed == ["000000000001.json"]  # stops at the skewed record 2
    assert log.oldest_version() == 2  # contiguous: no hole at 3/4
    assert log.snapshot() == pre


def test_cleanup_reaps_stale_cond_probes(tmp_path):
    """Round-12 ADVICE: S3FS's conditional-write probe sentinels are
    deleted best-effort; under write-only credentials they accumulate
    in the commit-log prefix forever. cleanup() already lists the
    directory — it must reap .cond-probe-* keys older than the cutoff,
    and spare fresh ones (a concurrently in-flight probe must survive
    the window between its two conditional PUTs)."""
    import os as _os
    from datetime import datetime, timedelta, timezone

    from ftm_lakehouse_spark.sources.commits import CommitLog
    from ftm_lakehouse_spark.sources.fs import LocalFS

    fs = LocalFS()
    root = str(tmp_path / "log")
    fs.mkdirs(root)
    log = CommitLog(fs, root)
    for i in range(1, 3):
        log.commit("append", [("s", str(i))], files_added=[f"f{i}.parquet"])

    stale = fs.join(root, ".cond-probe-1234-deadbeef")
    fresh = fs.join(root, ".cond-probe-5678-cafebabe")
    fs.write_text_atomic(stale, "")
    fs.write_text_atomic(fresh, "")
    old = (datetime.now(timezone.utc) - timedelta(days=30)).timestamp()
    _os.utime(stale, (old, old))

    removed = log.cleanup(datetime.now(timezone.utc) - timedelta(days=1))
    assert ".cond-probe-1234-deadbeef" in removed
    assert not fs.exists(stale)
    assert fs.exists(fresh)  # in-flight probe untouched
    # commit records untouched by the probe sweep (none old enough)
    assert log.oldest_version() == 1


def test_commit_jitter_uses_process_safe_entropy():
    """Round-12 ADVICE: fork-started workers inherit the global
    Mersenne Twister state, so the retry jitter must draw from
    SystemRandom (kernel entropy — differs across forks by
    construction) or the full-jitter backoff re-synchronizes the
    exact herd it exists to break."""
    import random as _random

    from ftm_lakehouse_spark.sources import commits as commits_mod

    assert isinstance(commits_mod._JITTER, _random.SystemRandom)
    # and the backoff site actually draws from it, not random.random
    import inspect

    src = inspect.getsource(commits_mod.CommitLog.commit)
    assert "_JITTER.random()" in src
    assert "random.random()" not in src


def test_newest_snapshot_state_under_concurrent_commits(tmp_path):
    """Threads commit and read through ONE CommitLog, whose newest
    replayed snapshot is folded forward incrementally: every thread
    reads exactly the state at its own commit, and the final state
    equals a fresh replay — a lost or out-of-order state update breaks
    one or the other."""
    import sys
    import threading

    from ftm_lakehouse_spark.sources.commits import CommitLog
    from ftm_lakehouse_spark.sources.fs import LocalFS

    fs = LocalFS()
    root = str(tmp_path / "log")
    fs.mkdirs(root)
    log = CommitLog(fs, root)
    errors = []

    def worker(w):
        try:
            for i in range(10):
                f = f"w{w}-{i}.parquet"
                v = log.commit("append", [("s",)], [f], stats={f: {"numRecords": i}})
                snap = log.snapshot_stats(v)  # one file per commit
                assert len(snap) == v and snap[f] == {"numRecords": i}
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    assert len(log.snapshot()) == 60
    assert log.snapshot_stats() == CommitLog(fs, root).snapshot_stats()


def test_snapshot_past_head_is_not_remembered_as_that_version(tmp_path):
    from ftm_lakehouse_spark.sources.commits import CommitLog
    from ftm_lakehouse_spark.sources.fs import LocalFS

    fs = LocalFS()
    root = str(tmp_path / "log")
    fs.mkdirs(root)
    log = CommitLog(fs, root)
    log.commit("append", [("s",)], ["a.parquet"])
    assert log.snapshot(5) == ["a.parquet"]  # replays to the head
    for f in ("b", "c", "d", "e"):
        log.commit("append", [("s",)], [f"{f}.parquet"])
    assert log.snapshot(5) == CommitLog(fs, root).snapshot(5)
    assert len(log.snapshot(5)) == 5


def test_only_canonical_rewrites_clear_dirty_partitions(tmp_path, monkeypatch):
    """A compaction record (``canonical: false``) leaves its partitions
    dirty; a merge record clears them — replayed from records and from
    a checkpoint alike. Every log answer is one replayed state: at
    every version a long-lived log and a fresh one agree on files,
    stats, txn watermarks and dirty partitions, and once the head is
    replayed no answer re-reads a record."""
    import json

    from ftm_lakehouse_spark.sources import commits as commits_mod
    from ftm_lakehouse_spark.sources.commits import CommitLog
    from ftm_lakehouse_spark.sources.fs import LocalFS

    monkeypatch.setattr(commits_mod, "CHECKPOINT_INTERVAL", 3)
    fs = LocalFS()
    root = str(tmp_path / "log")
    fs.mkdirs(root)
    log = CommitLog(fs, root)

    def agree():
        fresh = CommitLog(fs, root)
        assert log.dirty_partitions() == fresh.dirty_partitions()
        for v in range(log.current_version() + 1):
            assert log.snapshot(v) == fresh.snapshot(v)
            assert log.snapshot_stats(v) == fresh.snapshot_stats(v)
            assert log.txn_version("app", v) == fresh.txn_version("app", v)

    def st(n):
        return {"numRecords": n, "size": 100 * n}

    p, q = ("0", "thing", "x"), ("1", "thing", "x")
    log.commit("append", [p], ["a.parquet"], stats={"a.parquet": st(1)})
    log.commit("rewrite", [p], ["b.parquet"], ["a.parquet"], read_version=1,
               canonical=False, stats={"b.parquet": st(2)})
    assert log.read(1)[-1]["canonical"] is False
    assert log.dirty_partitions() == [p]
    agree()
    log.commit("append", [q], ["c.parquet"], txn=("app", 7))  # checkpoint 3
    assert fs.exists(log._checkpoint_path(3))
    cp = json.loads(fs.read_text(log._checkpoint_path(3)))
    assert list(cp) == [
        "version", "files", "stats", "txns", "cleared_at", "appended_at"
    ]
    assert cp == {
        "version": 3,
        "files": ["b.parquet", "c.parquet"],
        "stats": {"b.parquet": st(2)},
        "txns": {"app": 7},
        "cleared_at": {},
        "appended_at": {"0/thing/x": 1, "1/thing/x": 3},
    }
    assert CommitLog(fs, root).dirty_partitions() == [p, q]
    assert log.txn_version("app") == 7 and log.txn_version("other") == -1
    agree()
    log.commit("rewrite", [p], ["d.parquet"], ["b.parquet"], read_version=3)
    assert "canonical" not in log.read(3)[-1]
    assert log.dirty_partitions() == [q]
    agree()
    # restore to version 2 re-adds b (and its stats), retires d and c,
    # and re-dirties the partitions it touched
    log.commit("restore", [p, q], ["b.parquet"], ["c.parquet", "d.parquet"],
               read_version=4, stats={"b.parquet": st(2)})
    assert log.snapshot_stats() == {"b.parquet": st(2)}
    assert log.dirty_partitions() == [p, q]
    assert log.txn_version("app") == 7
    agree()
    log.commit("append", [q], ["e.parquet"], txn=("app", 9))  # checkpoint 6
    assert json.loads(fs.read_text(log._checkpoint_path(6)))["txns"] == {"app": 9}
    log.commit("append", [p], ["f.parquet"])
    agree()

    reads = []
    real_read = fs.read_text
    monkeypatch.setattr(fs, "read_text", lambda path: reads.append(path) or real_read(path))
    log.snapshot()
    assert reads == []
    assert log.dirty_partitions() == [p, q]
    assert log.txn_version("app") == 9
    assert reads == []
