"""SparkSession factory tuned for the lakehouse engine.

Defaults are chosen for correctness-portability (UTC session timezone —
the reference pins tz-aware UTC everywhere, see
/root/reference/ftm_lakehouse/model/statement.py:28-34) and for scale
(AQE on, skew-join handling on, shuffle partitions sized to the
environment rather than the 200 default).

On a real cluster the same builder is used with a different master; in
this repo everything runs on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "tune_for_local"]


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


#: Runtime-settable SQL conf the engine needs, applied by both
#: :func:`get_spark` and :func:`tune_for_local` (shuffle partitions are
#: sized per call, from :func:`_cpus`).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast budget: explicit hints are reserved for
    # cardinality-BOUNDED tables (see j_multiway_star's policy);
    # data-sized dims rely on the size thresholds. The STATIC
    # threshold stays at Spark's conservative default — Catalyst's
    # pre-execution size estimates above aggregates are unreliable
    # upward (measured: a 64m static threshold broadcast a 1 GB
    # post-aggregate fingerprint table at sf10 and blew
    # spark.driver.maxResultSize). The ADAPTIVE threshold is a
    # better-informed decision: AQE re-plans from the ACTUAL size
    # of materialized shuffle stages, extending the broadcast
    # regime to post-aggregate sides the static planner cannot
    # trust — e.g. Q3's orderkey-collapsed lineitem at sf100. It
    # is NOT a complete guarantee: a join side whose subtree puts
    # a Project/Generate ABOVE the measured exchange is still
    # costed by schema-width guesses (SCALE.md §12 defect 5), so
    # operators whose streamed side must never build pin it by
    # JOIN TYPE (outer probe), not by threshold. 64 MB is
    # executor-memory-bounded (one hashed relation per task slot
    # at 16g heap).
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    # Runtime Bloom-filter join pruning (on by default) keeps its
    # conservative creation caps (10 MB / 4M keys). Raising them
    # (512MB / 32M keys, so Q10's 12M date-filtered orderkeys
    # could bloom-prune the 150M-row returned-lineitem shuffle)
    # measured NEUTRAL-TO-NEGATIVE in a controlled solo A/B at
    # sf100 (19.7s off vs 21.1s on): on one box the shuffle the
    # bloom saves is page-cache-local, so the extra key-aggregate
    # pass over orders costs more than it saves. On a real cluster
    # with network shuffle the trade likely flips — revisit with a
    # multi-node measurement, per-job via SPARK_GRAFT_CONF, rather
    # than as an unmeasurable default here.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.parquet.compression.codec": "zstd",
    # functions/literals.sql_str escapes backslash and quote for the
    # default parser; with escaped string literals ON the backslashes
    # would be kept verbatim and every ontology map literal would
    # differ from its F.lit form
    "spark.sql.parser.escapedStringLiterals": "false",
    # modern parquet timestamps (µs int64) instead of legacy INT96:
    # INT96 columns carry NO min/max statistics, which blinds every
    # footer-stat consumer (scan_range pruning, z-order clustering,
    # row-group skipping on time predicates) and is refused by
    # strict Delta/Iceberg readers
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # RocksDB state store (bundled since Spark 3.2) as the engine
    # default: streaming dedup/session state lives off-heap on
    # disk instead of in the HDFS-backed ON-HEAP map, whose two
    # retained versions OOM'd the 16g heap at sf100 (33M dedup
    # keys, pipeline_streaming_ingest — round-7 decade defect #3).
    # At cluster scale this is the standard choice for any
    # state larger than a few GB per executor.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def get_spark(
    app_name: str = "ftm_lakehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's required conf
    (:data:`_RUNTIME_CONF` plus the static keys only a builder can set).

    Required semantics:
      * ``spark.sql.session.timeZone=UTC`` — all engine timestamps are
        tz-aware UTC microseconds.
      * ``nanosAsLong`` — parquet TIMESTAMP(NANOS) columns (e.g. the
        testdata ``events`` table) are read as long and normalized by
        :func:`ftm_lakehouse_spark.sources.tables.load_table`.
      * dynamic partition overwrite — the engine's merge job rewrites
        only dirty ``(shard, bucket, origin)`` partitions, the parquet
        analog of Delta ``replaceWhere``.
    """
    cpus = _cpus()
    builder = SparkSession.builder.appName(app_name)
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")
        # local mode: the driver JVM is the only memory pool
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    # sweep-time overrides without code changes, e.g.
    # SPARK_GRAFT_CONF="spark.io.compression.codec=zstd" halves shuffle
    # bytes on text-heavy gates when local disk is the binding
    # constraint (the sf100 single-box sweeps; a cluster spreads
    # shuffle across executors' disks instead)
    for kv in filter(None, os.environ.get("SPARK_GRAFT_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        if k.strip() and v.strip():
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_local(spark: SparkSession) -> SparkSession:
    """Re-apply runtime-settable conf on a session we did not create
    (e.g. the driver-provided one in ``__spark_entry__.entry``)."""
    rt = {**_RUNTIME_CONF, "spark.sql.shuffle.partitions": str(_cpus())}
    for k, v in rt.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on a live session
            pass
    return spark
