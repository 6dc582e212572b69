"""Z-order compaction + stats-based file pruning (Delta OPTIMIZE
ZORDER analog, functions/zorder.py + StatementStore.compact(zorder=) +
StatementStore.scan_range, which prunes from the per-file min/max
stats in the commit log).

The pin that matters: after ``compact(zorder=("entity_id",
"first_seen"))`` a narrow ``first_seen`` range scan PLANS a strict
subset of the store's files (min/max pruning has something to
bite on), while the default entity-sorted layout — where every file
spans the full time range — plans essentially all of them. Both layouts
must return byte-identical results to an unpruned ``raw()`` filter:
pruning may only drop files the predicate could never match."""

from pyspark.sql import functions as F

from tests.helpers import make_df, stmt, ts


def _build_store(spark, root, *, n_entities=120, n_days=64):
    """One statement per (entity, day-slot): entity e{i} active on day
    i%n_days — entity order and time order are deliberately
    uncorrelated so an entity-sorted file always spans most of the
    time range."""
    from ftm_lakehouse_spark.lakehouse import Lakehouse

    ds = Lakehouse(spark, root).dataset("zo", shards=2)
    rows = []
    for i in range(n_entities):
        day = i % n_days
        when = f"2024-{1 + day // 28:02d}-{1 + day % 28:02d}T00:00:00"
        for p in range(4):
            rows.append(
                stmt(
                    id=f"s{i}-{p}",
                    entity_id=f"e{i:04d}",
                    prop=f"p{p}",
                    value=f"v{i}-{p}",
                    first_seen=when,
                    last_seen=when,
                    shard=str(i % 2),
                )
            )
    ds.store.append(make_df(spark, rows))
    return ds


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def _jobs_fired(spark, fn):
    """(result, Spark jobs submitted while ``fn`` ran) — read from the
    DAG scheduler's job-id counter, which advances synchronously on
    submit (the status store fills in asynchronously)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    out = fn()
    return out, dag.nextJobId() - before


def test_zorder_key_interleaves_rank_buckets(spark):
    from ftm_lakehouse_spark.functions.zorder import zorder_key

    df = spark.createDataFrame(
        [(float(x), float(y)) for x in range(16) for y in range(16)],
        "x double, y double",
    )
    out = df.withColumn("z", zorder_key(df, ["x", "y"], bits_per_dim=4)).collect()
    zs = {(r["x"], r["y"]): r["z"] for r in out}
    # cells spread over nearly the whole key space (quantile cut-point
    # ties may collapse a few edge buckets — documented), and the key
    # fits bits_per_dim * ndims bits
    assert len(set(zs.values())) >= 0.75 * len(zs)
    assert all(0 <= z < 2**8 for z in zs.values())
    # per-dimension monotonicity: with one dimension fixed, the Morton
    # key is non-decreasing in the other (interleaving is order-
    # preserving per dim; quantile bucketing is non-strictly monotone).
    # The exact bucket a value lands in depends on where approxQuantile
    # places its cut points, so the pin is on ORDER, not identity.
    for fixed in range(16):
        row = [zs[(float(x), float(fixed))] for x in range(16)]
        col = [zs[(float(fixed), float(y))] for y in range(16)]
        assert row == sorted(row)
        assert col == sorted(col)


def test_compact_zorder_prunes_time_range_files(spark, tmp_path):
    ds = _build_store(spark, str(tmp_path / "lake"))
    store = ds.store

    # expected answer, computed BEFORE any rewrite
    lo, hi = ts("2024-01-08T00:00:00"), ts("2024-01-14T00:00:00")
    pred = F.col("first_seen").between(F.lit(lo), F.lit(hi))
    expected = sorted(r["id"] for r in store.raw().filter(pred).select("id").collect())
    assert expected  # the window is non-empty

    # default layout: entity-sorted files span the whole time range
    store.compact(max_files_per_partition=0)
    plain = store.scan_range("first_seen", lo, hi)
    assert sorted(r["id"] for r in plain.select("id").collect()) == expected

    # z-order rewrite: (entity, time) Morton clustering
    done = store.compact(zorder=("entity_id", "first_seen"))
    assert done  # every multi-file partition rewritten
    # the rewrite's record carries each new file's stats
    rec = store.commits.read()[-1]
    assert set(rec["stats"]) == set(rec["files_added"])
    st = rec["stats"][rec["files_added"][0]]
    assert st["numRecords"] > 0 and st["size"] > 0
    assert st["minValues"]["first_seen"].endswith("Z")
    assert "value" not in st["minValues"] and "shard" not in st["minValues"]
    total = len(store.commits.snapshot())
    # planning is a log lookup: no Spark job before the action
    zscan, jobs = _jobs_fired(spark, lambda: store.scan_range("first_seen", lo, hi))
    assert jobs == 0
    kept = len(zscan.inputFiles())
    assert sorted(r["id"] for r in zscan.select("id").collect()) == expected
    # the whole point: the narrow window PLANS a strict subset of files
    assert kept < total, f"zorder pruned nothing ({kept}/{total} files)"
    # a full-range scan still sees everything (pruning is predicate-
    # driven, not lossy)
    full = store.scan_range(
        "first_seen", ts("2023-01-01T00:00:00"), ts("2025-01-01T00:00:00")
    )
    assert full.count() == store.raw().count()


def test_scan_range_exact_on_unclustered_store(spark, tmp_path):
    ds = _build_store(spark, str(tmp_path / "lake"), n_entities=40, n_days=8)
    store = ds.store
    lo, hi = ts("2024-01-02T00:00:00"), ts("2024-01-05T00:00:00")
    pred = F.col("first_seen").between(F.lit(lo), F.lit(hi))
    want = sorted(r["id"] for r in store.raw().filter(pred).select("id").collect())
    got = sorted(
        r["id"] for r in store.scan_range("first_seen", lo, hi).select("id").collect()
    )
    assert got == want


def test_zorder_rewrite_preserves_content_and_log(spark, tmp_path):
    ds = _build_store(spark, str(tmp_path / "lake"), n_entities=60, n_days=16)
    store = ds.store
    before = sorted(
        r["id"] for r in store.raw().select("id").collect()
    )
    v0 = store.commits.current_version()
    store.compact(zorder=("entity_id", "first_seen"))
    assert store.commits.current_version() == v0 + 1
    after = sorted(r["id"] for r in store.raw().select("id").collect())
    assert after == before
    # time travel to the pre-rewrite version still works (files retired,
    # not deleted, until vacuum)
    assert store.raw(as_of=v0).count() == len(before)


# ------------------------------------------------ log-resident stats


def test_scan_range_normalizes_tz_aware_bounds_to_utc(spark, tmp_path):
    """A +02:00 window [03:30, 06:00] is [01:30Z, 04:00Z]: s1 at 01:45Z
    sits in a file whose max (01:45Z) sorts below the window's lower
    bound when ``str()`` forms of mixed-offset datetimes are compared."""
    from datetime import datetime, timedelta, timezone

    from ftm_lakehouse_spark.lakehouse import Lakehouse

    store = Lakehouse(spark, str(tmp_path / "lake")).dataset("tz", shards=2).store
    rows = [
        stmt(id=i, entity_id=f"e{i}", first_seen=t, last_seen=t, shard=sh)
        for i, t, sh in (
            ("s0", "2024-01-01T00:00:00", "0"),
            ("s1", "2024-01-01T01:45:00", "0"),
            ("s2", "2024-01-01T03:00:00", "1"),
        )
    ]
    store.append(make_df(spark, rows))
    plus2 = timezone(timedelta(hours=2))
    lo = datetime(2024, 1, 1, 3, 30, tzinfo=plus2)
    hi = datetime(2024, 1, 1, 6, 0, tzinfo=plus2)
    want = _ids(store.raw().filter(F.col("first_seen").between(F.lit(lo), F.lit(hi))))
    assert want == ["s1", "s2"]
    assert _ids(store.scan_range("first_seen", lo, hi)) == want
    # a naive datetime and a string bound read exactly as Spark reads
    # the same literal
    for nlo, nhi in (
        (datetime(2024, 1, 1, 1, 30), datetime(2024, 1, 1, 4, 0)),
        ("2024-01-01 01:30:00", "2024-01-01 04:00:00"),
        ("2024-01-01T03:30:00+02:00", "2024-01-01T06:00:00+02:00"),
    ):
        pred = F.col("first_seen").between(F.lit(nlo), F.lit(nhi))
        assert _ids(store.scan_range("first_seen", nlo, nhi)) == _ids(
            store.raw().filter(pred)
        ), (nlo, nhi)


def test_stats_survive_checkpoint_fold_cleanup_and_restore(spark, tmp_path, monkeypatch):
    from ftm_lakehouse_spark.sources import commits

    monkeypatch.setattr(commits, "CHECKPOINT_INTERVAL", 3)
    ds = _build_store(spark, str(tmp_path / "lake"), n_entities=40, n_days=8)
    store = ds.store
    v1_stats = store.commits.snapshot_stats(1)
    store.compact(zorder=("entity_id", "first_seen"))
    assert store.restore(1)["restored"]  # metadata-only: re-adds v1 files
    restored = store.commits.read()[-1]
    assert restored["stats"] == {f: v1_stats[f] for f in restored["files_added"]}
    store.compact(zorder=("entity_id", "first_seen"))
    store.append(make_df(spark, [stmt(id="late", entity_id="e9999", shard="1")]))
    assert store.commits.current_version() > commits.CHECKPOINT_INTERVAL
    # the log's incrementally folded newest state == a fresh replay
    fresh = commits.CommitLog(store._fs, store.commits.root)
    assert store.commits.snapshot_stats() == fresh.snapshot_stats()
    store.vacuum(retention_hours=0)
    assert store.commits.oldest_version() > 1  # records folded away
    stats = store.commits.snapshot_stats()
    assert list(stats) == store.commits.snapshot()
    assert all(stats.values())
    lo, hi = ts("2024-01-02T00:00:00"), ts("2024-01-04T00:00:00")
    scan, jobs = _jobs_fired(spark, lambda: store.scan_range("first_seen", lo, hi))
    assert jobs == 0
    pred = F.col("first_seen").between(F.lit(lo), F.lit(hi))
    assert _ids(scan) == _ids(store.raw().filter(pred))


def test_scan_range_falls_back_to_footers_for_pre_stats_logs(spark, tmp_path):
    import json
    import os

    from ftm_lakehouse_spark.sources.statement_store import StatementStore

    ds = _build_store(spark, str(tmp_path / "lake"))
    store = ds.store
    store.compact(zorder=("entity_id", "first_seen"))
    store.commits._write_checkpoint(store.commits.current_version())
    # a log written before stats were recorded: no record or
    # checkpoint carries any
    for name in os.listdir(store.commits.root):
        path = os.path.join(store.commits.root, name)
        doc = json.load(open(path))
        assert doc.pop("stats")
        json.dump(doc, open(path, "w"))
    store = StatementStore(spark, store.path, store.config)  # a fresh reader
    assert not any(store.commits.snapshot_stats().values())
    lo, hi = ts("2024-01-08T00:00:00"), ts("2024-01-14T00:00:00")
    pred = F.col("first_seen").between(F.lit(lo), F.lit(hi))
    want = store.raw().filter(pred).orderBy("id").collect()
    scan, jobs = _jobs_fired(spark, lambda: store.scan_range("first_seen", lo, hi))
    assert jobs == 0  # footers are read driver-side
    assert scan.orderBy("id").collect() == want
    assert len(scan.inputFiles()) < len(store.commits.snapshot())
