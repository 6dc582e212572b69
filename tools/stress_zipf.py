"""Zipf-skew stress for the text/dedup family (round-9, VERDICT r8
item 4).

The sf* corpora are uniform replicas; real corpora are zipf — the
exact condition where a value-grain fold (count tables, vocab joins,
gram dedup) meets a single hot reducer key. This tool synthesizes a
zipf(1.1) token corpus at sf10-equivalent document count (500k docs,
50k vocab, rejection-sampled so the finite-vocab distribution is the
true zipf, not a mass-at-the-cap artifact), writes it as a
``documents.parquet`` sf-dir, runs the §12-rewritten text gates plus
the minhash/winnow dedup gates against it, and reads PER-TASK duration
quantiles from Spark's status REST API for every stage each gate ran.

The skew verdict per gate: for every stage whose MEDIAN task duration
is ≥ 1 s (stages below that are scheduling noise — a 4× ratio on a
50 ms median is irrelevant), ``max task / median task`` must be ≤ 4.
A violation names the stage so the fix (salting via operators/skew.py,
or a repartition of the expansion input) lands at the operator.

Usage: python tools/stress_zipf.py [n_docs] [vocab] [gate ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_UI", "true")  # status REST API

DEFAULT_GATES = [
    "text_novelty_score",
    "text_dup_ngram_coverage",
    "text_tfidf_top_terms",
    "text_repetition_stats",
    "sample_dsir_weights",
    "dedup_minhash_lsh",
    "dedup_winnow_substrings",
]

SKEW_RATIO_MAX = 4.0
MIN_MEDIAN_S = 1.0


def synth_corpus(spark, out_dir: str, n_docs: int, vocab: int) -> None:
    """zipf(1.1) tokens over a finite vocab via rejection sampling
    (np.random.zipf's infinite support puts ~32% of its mass past
    50k at a=1.1 — capping would make the CAP the hottest token)."""
    import pandas as pd  # noqa: F401

    from pyspark.sql import functions as F

    n_parts = 64

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id in pdf["id"]:
                rng = np.random.default_rng(doc_id)
                n_tok = int(40 + (doc_id % 7) * 25)
                toks = np.empty(0, dtype=np.int64)
                while toks.size < n_tok:
                    cand = rng.zipf(1.1, size=n_tok * 2)
                    toks = np.concatenate([toks, cand[cand <= vocab]])
                toks = toks[:n_tok]
                text = " ".join(f"t{t}" for t in toks)
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "text": text,
                        "lang": ["en", "de", "fr", "es"][doc_id % 4],
                        "source": ["web", "books", "wiki"][doc_id % 3],
                        "n_chars": len(text),
                    }
                )
            import pandas as _pd

            yield _pd.DataFrame(rows)

    docs = spark.range(n_docs).repartition(n_parts).mapInPandas(
        gen,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(8).write.mode("overwrite").parquet(os.path.join(out_dir, "_docs"))
    # the gates read a single documents.parquet path like the testdata
    # layout; collapse the directory to one file name the loader accepts
    part_dir = os.path.join(out_dir, "_docs")
    dest = os.path.join(out_dir, "documents.parquet")
    os.rename(part_dir, dest)


def _rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}") as r:
        return json.loads(r.read())


def completed_stage_ids(spark) -> set[int]:
    try:
        return {s["stageId"] for s in _rest(spark, "/stages?status=complete")}
    except Exception:
        return set()


def stage_skew(spark, new_ids: set[int]) -> list[dict]:
    out = []
    for sid in sorted(new_ids):
        try:
            stages = _rest(spark, f"/stages/{sid}")
        except Exception:
            continue
        for st in stages:
            att = st.get("attemptId", 0)
            n_tasks = st.get("numCompleteTasks", 0)
            if n_tasks < 4:
                continue
            try:
                summ = _rest(
                    spark,
                    f"/stages/{sid}/{att}/taskSummary?quantiles=0.5,1.0",
                )
            except Exception:
                continue
            med, mx = summ["executorRunTime"]
            out.append(
                {
                    "stage": sid,
                    "name": st.get("name", "")[:60],
                    "tasks": n_tasks,
                    "median_s": round(med / 1000, 2),
                    "max_s": round(mx / 1000, 2),
                    "ratio": round(mx / med, 2) if med > 0 else None,
                }
            )
    return out


def main() -> None:
    args = sys.argv[1:]
    n_docs = int(args[0]) if args else 500_000
    vocab = int(args[1]) if len(args) > 1 else 50_000
    gates = args[2:] or DEFAULT_GATES

    from ftm_lakehouse_spark.queries.inventory import QUERIES
    from ftm_lakehouse_spark.session import get_spark

    spark = get_spark("stress-zipf")
    sf_dir = tempfile.mkdtemp(prefix="zipf_")
    try:
        t0 = time.perf_counter()
        synth_corpus(spark, sf_dir, n_docs, vocab)
        print(f"corpus: {n_docs} docs, vocab {vocab}, "
              f"{time.perf_counter() - t0:.1f}s", flush=True)

        results = {}
        violations = []
        for name in gates:
            before = completed_stage_ids(spark)
            t0 = time.perf_counter()
            QUERIES[name][0](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            wall = round(time.perf_counter() - t0, 1)
            new = completed_stage_ids(spark) - before
            stages = stage_skew(spark, new)
            heavy = [s for s in stages if s["median_s"] >= MIN_MEDIAN_S]
            worst = max((s["ratio"] or 0) for s in heavy) if heavy else None
            bad = [s for s in heavy if (s["ratio"] or 0) > SKEW_RATIO_MAX]
            results[name] = {
                "wall_s": wall,
                "n_stages": len(stages),
                "heavy_stages": len(heavy),
                "worst_ratio": worst,
                "violations": bad,
            }
            violations.extend({"gate": name, **s} for s in bad)
            print(f"{name}: {wall}s, heavy stages {len(heavy)}, "
                  f"worst max/median {worst}", flush=True)
            for s in bad:
                print(f"  SKEW {s}", flush=True)

        print(json.dumps({
            "metric": "zipf_skew_stress",
            "n_docs": n_docs,
            "vocab": vocab,
            "gates": results,
            "n_violations": len(violations),
        }))
        sys.exit(1 if violations else 0)
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
