"""FtM-core scale benchmark: the engine's own pipeline at ~2M
statements, derived deterministically from lineitem at sf0.1.

Measures the stages a production lakehouse runs continuously:
  explode-shaped ingest write → canonicalize (merge) → entity assembly
  → changed-id diff scoping. Prints one JSON line.

Usage: python tools/bench_ftm.py [sf_dir]
"""

from __future__ import annotations

import json
import shutil
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ftm_lakehouse_spark.model.dataset import DatasetConfig
from ftm_lakehouse_spark.model.statement import STATEMENT_COLUMNS, entity_shard
from ftm_lakehouse_spark.operators.aggregate import assemble_entities
from ftm_lakehouse_spark.operators.merge import canonicalize
from ftm_lakehouse_spark.session import get_spark
from ftm_lakehouse_spark.sources.statement_store import StatementStore


def lineitem_statements(spark, sf_dir: str, shards: int = 4):
    """lineitem → ~3 statements per row (qty, price, shipdate), entity =
    order. Deterministic and merge-relevant: line numbers duplicate
    props per entity, re-runs duplicate statement ids."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    eid = F.col("l_orderkey").cast("string")
    base = li.select(
        eid.alias("entity_id"),
        F.col("l_linenumber").cast("string").alias("fragment_src"),
        F.date_trunc("second", F.col("l_shipdate")).alias("seen"),
        F.col("l_quantity").cast("string").alias("quantity"),
        F.col("l_extendedprice").cast("string").alias("price"),
        F.col("l_returnflag").alias("flag"),
    )
    stacked = base.selectExpr(
        "entity_id",
        "fragment_src",
        "seen",
        "stack(3, 'quantity', quantity, 'price', price, 'flag', flag) AS (prop, value)",
    )
    return stacked.select(
        entity_shard(F.col("entity_id"), shards).alias("shard"),
        F.sha1(F.concat_ws("\x1f", F.col("entity_id"), F.col("prop"), F.col("value"))).alias("id"),
        F.col("entity_id"),
        F.lit("bench").alias("dataset"),
        F.lit("thing").alias("bucket"),
        F.lit("bulk").alias("origin"),
        F.lit(None).cast("string").alias("source"),
        F.lit("Shipment").alias("schema"),
        F.col("prop"),
        F.lit("string").alias("prop_type"),
        F.col("value"),
        F.lit(None).cast("string").alias("original_value"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(False).alias("external"),
        F.col("seen").alias("first_seen"),
        F.col("seen").alias("last_seen"),
        F.concat(F.lit("row"), F.col("fragment_src")).alias("fragment"),
        F.lit(None).cast("timestamp").alias("deleted_at"),
    ).select(*STATEMENT_COLUMNS)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("bench-ftm")
    root = tempfile.mkdtemp(prefix="ftm-bench-")
    store = StatementStore(spark, root, DatasetConfig(name="bench", shards=4))
    timings = {}

    stmts = lineitem_statements(spark, sf_dir)
    n = stmts.count()

    t0 = time.perf_counter()
    store.append(stmts)
    store.append(stmts)  # re-import: duplicate ids, merge-relevant
    timings["ingest_2x"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    store.merge(force=True)
    timings["merge"] = round(time.perf_counter() - t0, 3)
    n_canonical = store.raw().count()

    t0 = time.perf_counter()
    ents = assemble_entities(store.live())
    n_entities = ents.count()
    timings["assembly"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    from datetime import datetime, timezone

    canonicalize(store.raw()).write.format("noop").mode("overwrite").save()
    timings["canonical_view"] = round(time.perf_counter() - t0, 3)

    print(
        json.dumps(
            {
                "metric": "ftm_core_seconds",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "stages": timings,
                "n_statements_in": n * 2,
                "n_canonical": n_canonical,
                "n_entities": n_entities,
            }
        )
    )
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
