"""Generate PLANS.md: formatted physical plans of flagship queries with
the efficiency properties each one is expected to exhibit. Run after
changing any operator:  python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ftm_lakehouse_spark.queries.inventory import QUERIES
from ftm_lakehouse_spark.session import get_spark

SF = "/root/testdata/sf0.01"

FLAGSHIPS = {
    "q1_pricing_summary": (
        "Partial (map-side) + final HashAggregate; the scan reads only the"
        " 6 referenced columns; the shipdate predicate is in PushedFilters."
    ),
    "j_multiway_star": (
        "All dimension joins are BroadcastHashJoin (no shuffle of the fact"
        " table on dim keys); AQE re-plans the fact-fact join at runtime."
    ),
    "j_semi_join_changed": (
        "Changed-id set broadcast as a LeftSemi BroadcastHashJoin — the"
        " reference's 5k-id IN-batching loop is one join here."
    ),
    "a_merge_dedupe_latest": (
        "One shuffle on the window keys; both rank filter and projection"
        " happen inside the same stage."
    ),
    "o_topk_global": (
        "TakeOrderedAndProject — per-partition top-k then driver merge of"
        " k-sized heaps; never a global sort."
    ),
    "ftm_canonicalize": (
        "The engine's merge: two window branches (content dedupe +"
        " supersession) over one scan, unioned; window keys start with the"
        " table partition prefix so a real table merges partition-locally."
    ),
    "dedup_minhash_lsh": (
        "Shingle/signature projections are whole-stage-codegen; the bucket"
        " self-join carries only (doc, band, key); shingles re-attach to"
        " surviving candidate pairs only."
    ),
    "sim_ann_lsh": (
        "Candidate stage is a BroadcastHashJoin on (block, chunk) —"
        " pigeonhole signature chunks, no non-equi predicate, no"
        " BroadcastNestedLoopJoin — so each corpus row meets only queries"
        " sharing a chunk value; the corpus never self-joins. The property"
        " that survives a 100 TB corpus at any query-batch size"
        " (pinned by tests/test_plans.py)."
    ),
    "sim_ivf_topk": (
        "IVF probe search: corpus cell assignment is a JVM-side argmin"
        " over broadcast centroid literals; candidates come from a"
        " BroadcastHashJoin on the cell id, so the scan fraction is"
        " ~nprobe/num_centroids and there is no nested-loop stage"
        " (pinned by tests/test_plans.py)."
    ),
    "dedup_chunks": (
        "Passage dedup: chunks hash to 32-byte md5 keys map-side"
        " (whole-stage codegen); the two exchanges are the standard"
        " two-phase distinct aggregate (partial on (hash, doc), final on"
        " hash) — every stage keyed on the hash, and the text itself"
        " never travels."
    ),
    "sample_temperature_mix": (
        "The per-stratum counts aggregate is tiny and re-broadcast; the"
        " corpus side is scan → BroadcastHashJoin → filter with NO"
        " shuffle of the corpus — mixing decisions are a projection."
    ),
    "text_benchmark_overlap": (
        "Contamination check: benchmark-side shingles broadcast, corpus"
        " side streams through a BroadcastHashJoin on the md5 shingle"
        " key — O(corpus) work, no corpus shuffle before the final"
        " pair-count aggregate."
    ),
    "j_interval_attribution": (
        "Stream-capable interval join: equi-key (user_id) drives the"
        " join strategy; the event-time range rides as a post-join"
        " predicate, so no nested-loop over the full event space."
    ),
    "q6_forecast_revenue": (
        "The pushdown probe: every predicate appears in PushedFilters,"
        " ReadSchema is the three referenced columns, and the aggregate"
        " is a map-side partial + single-row final exchange."
    ),
    "text_bm25_topk": (
        "Retrieval: postings are term-filtered BEFORE any exchange (the"
        " isin filter sits inside the explode's codegen stage); df and"
        " corpus stats are single-row broadcasts; the only corpus-keyed"
        " shuffles are the posting groupBy and the per-doc pivot."
    ),
    "graph_pagerank": (
        "Iterative: the edge list and degree table materialize once"
        " (localCheckpoint) and each iteration is one edges-ranks join"
        " plus one groupBy(dst) — scan nodes in the plan read the"
        " checkpointed RDD, not the orders-lineitem derivation."
    ),
    "sample_dsir_weights": (
        "Features collapse to (doc, lang, int bucket) before any"
        " exchange; the 1024-row weight table is a BroadcastHashJoin;"
        " corpus-keyed shuffles are the two grouped aggregations only."
    ),
    "mm_image_roundtrip": (
        "The multimodal boundary: a single ArrowEvalPython/MapInPandas"
        " node over the JVM-computed pixel projection — one Arrow"
        " round-trip, no per-row Python, no shuffle at all."
    ),
}


def main() -> None:
    spark = get_spark("plans", shuffle_partitions=8)
    out = [
        "# PLANS — flagship physical plans (generated by tools/dump_plans.py)",
        "",
        "Regenerate after operator changes. Annotations state the property",
        "each plan is expected to exhibit; the driver-graded queries are the",
        "same code paths.",
        "",
    ]
    for name, note in FLAGSHIPS.items():
        df = QUERIES[name][0](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
