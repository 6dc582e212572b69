"""Corpus stress probe: replicate the sf0.1 documents table R× (fresh
doc_ids per replica) and measure the text/dedup hot paths at ~R·5k
docs — one more decade of scale beyond bench.py, without synthesizing
new gate inputs (replicas are derived in-memory for stress only).

Replication also creates massive TRUE duplication (every doc has R
exact copies), so the dedup operators are measured under their
worst-case collision load, not a friendly unique corpus.

Usage:  python tools/stress_corpus.py [R] [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ftm_lakehouse_spark.queries.inventory import QUERIES
from ftm_lakehouse_spark.session import get_spark


def main() -> None:
    R = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("stress-corpus")
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n0 = base.count()
    big = (
        base.crossJoin(F.broadcast(spark.range(R).withColumnRenamed("id", "_rep")))
        .withColumn("doc_id", F.col("doc_id") + F.col("_rep") * 1_000_000)
        .drop("_rep")
    ).localCheckpoint()
    n = big.count()
    print(f"# corpus: {n0} -> {n} docs ({R}x, every doc in {R} exact copies)")

    import ftm_lakehouse_spark.sources.tables as tables

    real_load = tables.load_table

    def fake_load(spark_, sf, name):
        return big if name == "documents" else real_load(spark_, sf, name)

    tables.load_table = fake_load
    try:
        probes = [
            "dedup_exact",
            "text_fingerprint",
            "dedup_minhash_lsh",
            "text_dup_ngram_coverage",
            "text_bm25_topk",
            "text_quality_score",
            "sample_epoch_shuffle",
        ]
        # inventory imported load_table by name — patch its module ref too
        import ftm_lakehouse_spark.queries.inventory as inv

        inv.load_table = fake_load
        for name in probes:
            t0 = time.perf_counter()
            QUERIES[name][0](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            print(f"{name}: {time.perf_counter() - t0:.2f}s at {n} docs")
    finally:
        tables.load_table = real_load
        inv.load_table = real_load
    spark.stop()


if __name__ == "__main__":
    main()
