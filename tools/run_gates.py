"""Engine-only gate timer: run named queries() gates at an arbitrary
sf_dir and print one wall-time line per gate (noop sink — full plan
execution, no driver materialization). Used for scales where the
DuckDB oracle can no longer fit (the engine-only leg of SCALE.md's
decade sweeps; correctness at those scales is carried by the staged
oracle up to sf10 plus parallelism-invariance tests).

Usage: python tools/run_gates.py <sf_dir> <gate> [gate ...]
       python tools/run_gates.py <sf_dir> --heavy   # the curated heavy set
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ftm_lakehouse_spark.queries.inventory import query_map
from ftm_lakehouse_spark.session import get_spark

#: the gates that dominate bench wall time / stress distinct scale axes:
#: scan-agg, shuffle join, LSH + semantic dedup, winnowing, iterative
#: graph, ANN build+search, exact blocked k-NN, BPE, and both capstones.
HEAVY = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_semantic",
    "dedup_winnow_substrings",
    "dedup_cluster_canonical",
    "graph_pagerank",
    "sim_ivf_topk",
    "sim_knn_blocked",
    "text_bpe_merges",
    "text_dup_ngram_coverage",
    "pipeline_pretrain_corpus",
    "pipeline_embedding_curation",
]


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    if names == ["--heavy"]:
        names = HEAVY
    spark = get_spark("run-gates")
    qmap = query_map()
    qmap["q1_pricing_summary"](spark, sf_dir).limit(1).collect()  # warmup
    total = 0.0
    failed: list[str] = []
    for name in names:
        t0 = time.perf_counter()
        try:
            qmap[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            total += dt
            print(f"{dt:9.2f}s  {name}", flush=True)
        except Exception as e:  # keep sweeping; report the failure loudly
            failed.append(name)
            print(f"   FAILED  {name}: {type(e).__name__}: {e}", flush=True)
    tail = f", {len(failed)} FAILED" if failed else ""
    print(f"{total:9.2f}s  TOTAL ({len(names) - len(failed)} gates{tail})", flush=True)
    if failed:  # sweep automation must see a non-zero exit for any broken gate
        sys.exit(1)


if __name__ == "__main__":
    main()
