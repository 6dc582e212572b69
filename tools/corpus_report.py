"""Corpus data card: one JSON summarizing a documents corpus the way a
training-data pipeline hands it off — volume, language/source mix,
length distribution, quality, duplication, and PII surface. Composes
the SAME operators the graded gates run (functions/text, operators/
dedupe), aggregated to a driver-small card.

Usage:  python tools/corpus_report.py [sf_dir] [out.json]

Scale: every section is one aggregation over the corpus scan — the
card is a handful of groupBys whose results are tiny by construction
(langs × sources × buckets). Nothing per-document ever reaches the
driver.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ftm_lakehouse_spark.functions.text import fingerprint, pii_scrub, tokens
from ftm_lakehouse_spark.session import get_spark


def build_report(spark, sf_dir: str) -> dict:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.md5("text").alias("text_hash"),
        fingerprint(F.col("text")).alias("fp"),
        (pii_scrub(F.col("text")) != F.col("text")).alias("had_pii"),
    ).localCheckpoint()  # one corpus pass feeds every section below

    totals = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.avg("n_tokens").alias("avg_doc_tokens"),
        F.sum(F.col("had_pii").cast("int")).alias("docs_with_pii"),
    ).first()

    by_lang = {
        r["lang"]: {"docs": r["docs"], "tokens": r["tokens"]}
        for r in base.groupBy("lang")
        .agg(F.count("*").alias("docs"), F.sum("n_tokens").alias("tokens"))
        .collect()
    }
    by_source = {
        r["source"]: r["docs"]
        for r in base.groupBy("source").agg(F.count("*").alias("docs")).collect()
    }

    buckets = {
        r["bucket"]: r["docs"]
        for r in base.select(
            F.concat(
                ((F.col("n_tokens") / 256).cast("int") * 256).cast("string"),
                F.lit("-"),
                (((F.col("n_tokens") / 256).cast("int") + 1) * 256).cast("string"),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("docs"))
        .collect()
    }

    dup = base.groupBy("text_hash").agg(F.count("*").alias("c"))
    fpd = base.groupBy("fp").agg(F.count("*").alias("c"))
    dup_row = dup.agg(
        F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0)).alias("redundant"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("groups"),
    ).first()
    fp_row = fpd.agg(
        F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0)).alias("redundant")
    ).first()

    return {
        "sf_dir": sf_dir,
        "n_docs": totals["n_docs"],
        "n_tokens": int(totals["n_tokens"]),
        "n_chars": int(totals["n_chars"]),
        "avg_doc_tokens": round(totals["avg_doc_tokens"], 2),
        "docs_with_pii": int(totals["docs_with_pii"]),
        "by_lang": by_lang,
        "by_source": by_source,
        "token_length_buckets": buckets,
        "duplication": {
            "exact_redundant_docs": int(dup_row["redundant"]),
            "exact_dup_groups": int(dup_row["groups"]),
            "fingerprint_redundant_docs": int(fp_row["redundant"]),
        },
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("corpus-report")
    report = build_report(spark, sf_dir)
    out = json.dumps(report, sort_keys=True, indent=2)
    print(out)
    if len(sys.argv) > 2:
        with open(sys.argv[2], "w") as fh:
            fh.write(out + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
