"""Scaling sweep: run representative operators at sf0.001 / sf0.01 /
sf0.1 (100x data spread) and report how wall time scales against data
volume. Sub-linear growth across the spread is the empirical check on
the design claim that every operator's work is O(data) behind
fixed-cost scheduling overhead — an operator whose time ratio tracked
or exceeded the data ratio would be hiding a super-linear stage
(all-pairs join, driver loop, single-reducer window).

Usage:  python tools/bench_scale.py [out_md]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ftm_lakehouse_spark.queries.inventory import query_map
from ftm_lakehouse_spark.session import get_spark

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

#: one per family: scan-agg, star join, window merge, LSH dedup,
#: cross-doc grams, iterative graph, retrieval, packing, ANN, capstone
PROBES = [
    "q5_local_supplier_volume",
    "a_merge_dedupe_latest",
    "dedup_minhash_lsh",
    "text_dup_ngram_coverage",
    "graph_pagerank",
    "text_bm25_topk",
    "sample_pack_sequences",
    "sim_ivf_topk",
    "pipeline_pretrain_corpus",
]


def main() -> None:
    spark = get_spark("bench-scale")
    qmap = query_map()
    qmap["q1_pricing_summary"](spark, SFS[1]).collect()  # JVM warmup

    rows = []
    for name in PROBES:
        times = []
        for sf_dir in SFS:
            t0 = time.perf_counter()
            qmap[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        # ratio of wall time across the 100x data spread
        rows.append((name, times, times[2] / times[0]))

    out = [
        "| query | sf0.001 | sf0.01 | sf0.1 | t(100x)/t(1x) |",
        "|---|---|---|---|---|",
    ]
    for name, ts, ratio in rows:
        out.append(
            f"| {name} | {ts[0]:.2f}s | {ts[1]:.2f}s | {ts[2]:.2f}s | {ratio:.1f}x |"
        )
    table = "\n".join(out)
    print(table)
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as fh:
            fh.write(table + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
