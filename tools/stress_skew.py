"""Skew stress: one hot entity owning ~1/3 of all statements, pushed
through write → merge → assembly. Verifies the engine's skew posture:

* writes: entity-salted clustering puts the hot entity in ONE task —
  intentional (clustering invariant) and bounded by per-entity size;
* merge: non-fragment windows key on (partition, id) — the hot entity's
  statements have distinct ids, so dedupe work spreads across ids;
* assembly: the two-level fold (entity, prop) first splits the hot
  entity across its props; the value cap bounds collect state.

Usage: python tools/stress_skew.py [n_hot] [n_normal_entities]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ftm_lakehouse_spark.model.dataset import DatasetConfig
from ftm_lakehouse_spark.model.statement import STATEMENT_COLUMNS
from ftm_lakehouse_spark.operators.aggregate import assemble_entities
from ftm_lakehouse_spark.session import get_spark
from ftm_lakehouse_spark.sources.statement_store import StatementStore


def synth(spark, n_hot: int, n_normal: int):
    hot = spark.range(n_hot).select(
        F.lit("hot-entity").alias("entity_id"),
        F.concat(F.lit("p"), (F.col("id") % 50).cast("string")).alias("prop"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("value"),
    )
    normal = spark.range(n_normal).select(
        F.concat(F.lit("e"), F.col("id").cast("string")).alias("entity_id"),
        F.lit("name").alias("prop"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("value"),
    )
    rows = hot.unionByName(normal)
    seen = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    return rows.select(
        F.lit("0").alias("shard"),
        F.sha1(F.concat_ws("\x1f", "entity_id", "prop", "value")).alias("id"),
        "entity_id",
        F.lit("stress").alias("dataset"),
        F.lit("thing").alias("bucket"),
        F.lit("bulk").alias("origin"),
        F.lit(None).cast("string").alias("source"),
        F.lit("Thing").alias("schema"),
        "prop",
        F.lit("string").alias("prop_type"),
        "value",
        F.lit(None).cast("string").alias("original_value"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(False).alias("external"),
        seen.alias("first_seen"),
        seen.alias("last_seen"),
        F.lit("").alias("fragment"),
        F.lit(None).cast("timestamp").alias("deleted_at"),
    ).select(*STATEMENT_COLUMNS)


def main() -> None:
    n_hot = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    n_normal = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    spark = get_spark("stress-skew")
    store = StatementStore(
        spark, tempfile.mkdtemp(prefix="skew-"), DatasetConfig(name="stress")
    )
    timings = {}

    # materialize the synthetic input BEFORE timing: both appends
    # consume it, and the ingest number should isolate the write path,
    # not the synth recompute
    stmts = synth(spark, n_hot, n_normal).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    store.append(stmts)
    store.append(stmts)  # duplicate everything → merge has real work
    timings["ingest_2x"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    store.merge(force=True)
    timings["merge"] = round(time.perf_counter() - t0, 2)
    n_after = store.raw().count()
    assert n_after == n_hot + n_normal, (n_after, n_hot + n_normal)

    t0 = time.perf_counter()
    ents = assemble_entities(store.live(), max_values_per_prop=1000)
    hot = ents.filter(F.col("entity_id") == "hot-entity").collect()[0]
    n_entities = ents.count()
    timings["assembly"] = round(time.perf_counter() - t0, 2)
    assert len(hot["properties"]) == 50
    assert all(len(v) == 1000 for v in hot["properties"].values())

    print(
        json.dumps(
            {
                "metric": "skew_stress_seconds",
                "value": round(sum(timings.values()), 2),
                "stages": timings,
                "n_statements": (n_hot + n_normal) * 2,
                "n_entities": n_entities,
                "hot_share": round(n_hot / (n_hot + n_normal), 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
