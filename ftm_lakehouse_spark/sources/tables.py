"""Loaders for the driver-provided benchmark tables.

``/root/testdata/sf*/`` holds a TPC-H-ish star schema plus ``events``
(ns-timestamp stream table), ``documents`` (text corpus) and
``embeddings`` (vector corpus). See TESTDATA.md.

The only normalization applied is ``events.ts``, which must come out
a tz-aware UTC microsecond TIMESTAMP regardless of how the driver
generated the file:

* parquet TIMESTAMP(NANOS) → read (under
  ``spark.sql.legacy.parquet.nanosAsLong``) as a long of nanoseconds
  and truncated to µs, matching DuckDB's ``CAST(ts_ns AS TIMESTAMP)``;
* parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark 4 infers
  TIMESTAMP_NTZ by default, which half the timestamp function surface
  (``unix_micros`` et al.) rejects. We disable the inference on the
  session (runtime-settable, zero per-row cost) so the scan yields
  TIMESTAMP directly; if the session's conf is locked, the NTZ column
  is reinterpreted as UTC wall-clock via ``to_utc_timestamp`` —
  session-timezone-independent either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        try:
            spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        except Exception:  # pragma: no cover - conf locked on a live session
            pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # ns → µs (truncating, matching DuckDB's CAST(ts_ns AS TIMESTAMP))
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # stored naive-µs are UTC wall-clock; reinterpret without
            # involving the session timezone
            df = df.withColumn("ts", F.to_utc_timestamp(F.col("ts"), "UTC"))
    return df


def register_views(spark: SparkSession, sf_dir: str, names=TESTDATA_TABLES) -> None:
    """Register each table as a temp view for ``spark.sql`` queries."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
