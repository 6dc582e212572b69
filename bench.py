"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"warm": {...}, "sf": ...}.

Timing = full plan execution to a count-style action (no driver-side
materialization of result rows beyond the aggregate), after a one-query
JVM warmup. ``queries`` carries the first (cold) run per query — the
measurement every prior round recorded, so round-over-round totals stay
comparable — and ``warm`` carries the median of $SPARK_GRAFT_BENCH_WARM
(default 3) subsequent runs, the contention-robust number rounds should
compare (cold runs pay codegen + Python-worker startup and swing
±30-50% with host contention; see SCALE.md §6d). Both dicts land in
the full-precision ``BENCH_LOCAL_r{N}.json`` artifact (``BENCH_LOCAL.json``
when ``SPARK_GRAFT_ROUND`` is unset); the byte-capped
STDOUT line the driver records carries the WARM medians (labeled
``queries_are``) since round 9, so geomeans are computable from driver
artifacts alone.

``pipeline_ftm_e2e`` and ``pipeline_streaming_ingest`` are the two
write-path queries: every run (cold AND each warm rep) builds a real
throwaway store (``ftm_e2e``: 3 MVCC appends + merge;
``streaming_ingest``: 3 checkpointed micro-batch waves + merge +
incremental refreshes — its wall time is dominated by per-wave
Structured Streaming query startup at this SF, not data volume), so
their "warm" numbers still include full store-lifecycle cost — that is
the measurement, not an artifact. Temp stores live under one
process-scoped directory removed at exit (no leaks across runs).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ftm_lakehouse_spark.queries.inventory import query_map
from ftm_lakehouse_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "j_multiway_star",
    "q5_local_supplier_volume",
    "j_semi_join_changed",
    "a_merge_dedupe_latest",
    "a_supersession_ties",
    "a_entity_assembly",
    "o_topk_global",
    "o_topk_per_group",
    "w_running_total",
    "dedup_exact",
    "text_fingerprint",
    "text_quality_score",
    "text_lang_id",
    "sim_cosine_topk",
    "c_checksum_fold",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "sim_knn_join",
    "w_sessionize",
    "x_asof_join",
    "a_cube_stats",
    "ftm_canonicalize",
    "text_tfidf_top_terms",
    "sim_ann_lsh",
    "dedup_embedding_cosine",
    "dedup_cluster_canonical",
    # round-2 additions (keep above list stable for cross-round diffing)
    "sim_ivf_topk",
    "dedup_chunks",
    "dedup_winnow_substrings",
    "pipeline_pretrain_corpus",
    "text_decontaminate",
    "x_histogram",
    "text_novelty_score",
    "sample_pack_sequences",
    # round-3 additions
    "text_repetition_stats",
    "doc_chunk_overlap",
    "text_unigram_logprob",
    "sim_kmeans_update",
    "dedup_semantic",
    "pipeline_embedding_curation",
    "x_countmin_sketch",
    "x_bloom_filter",
    "sample_interleave_sources",
    "pipeline_chunk_pack",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume_customer",
    "x_cohort_retention",
    "text_dup_ngram_coverage",
    "q13_customer_distribution",
    "q22_global_sales_opportunity",
    "graph_pagerank",
    "text_bm25_topk",
    "sample_dsir_weights",
    "x_kmv_distinct",
    "sample_epoch_shuffle",
    "x_feature_snapshot",
    "mm_image_roundtrip",
    "mm_audio_roundtrip",
    "mm_video_frame_sample",
    "pipeline_ftm_e2e",
    # round-4 additions
    "text_bpe_merges",
    # round-5 additions: exact k-NN past the broadcast ceiling, and the
    # streaming capstone (a write-path query like pipeline_ftm_e2e: each
    # run drives real micro-batch ingest + merge + incremental refresh,
    # so warm includes store-lifecycle cost by design)
    "sim_knn_blocked",
    "pipeline_streaming_ingest",
]


def _calibrate() -> float:
    """Fixed single-core CPU spin (sha256 over 192 MiB of zeros, ~0.15 s
    on an idle core) timed in wall seconds. Round-10 (VERDICT r9 item
    2): the r9 driver artifact recorded a 1.37× UNIFORM phantom
    regression across 67 queries that took a judge session to exonerate
    as host contention. This scalar makes that self-diagnosing: the
    workload is constant, so calib_s scales with host contention — a
    reader normalizes any round-over-round query ratio by the calib
    ratio before calling it a regression."""
    import hashlib

    chunk = bytes(1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(192):
        h.update(chunk)
    h.hexdigest()
    return round(time.perf_counter() - t0, 4)


def _calibrate_parallel(threads: int = 16) -> float:
    """Multi-core twin of :func:`_calibrate`: the same sha256 work on
    ``threads`` concurrent threads (hashlib releases the GIL), timed as
    wall seconds. A single-core spin can read "idle" while other
    tenants hold half the cores — THIS number scales with the
    aggregate CPU bandwidth Spark's 32-way stages actually get. Idle
    box: ≈ the solo time; contended: grows toward threads × solo."""
    import hashlib
    from concurrent.futures import ThreadPoolExecutor

    chunk = bytes(1 << 20)

    def spin(_):
        h = hashlib.sha256()
        for _ in range(192):
            h.update(chunk)
        return h.hexdigest()

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=threads) as pool:
        list(pool.map(spin, range(threads)))
    return round(time.perf_counter() - t0, 4)


def _spark_floor(run_once, reps: int = 5) -> float:
    """The Spark fixed-overhead floor, MEASURED in-session (round 12,
    VERDICT r11 item 2a): the warm median wall of a trivial one-row
    aggregate driven through the exact same noop-write path the bench
    queries use, so it pays the same scheduling + planning + Py4J +
    commit cost and ~zero compute. Sub-second warm medians are
    dominated by this floor, and the floor does NOT track the sha256
    CPU spin — which is why dividing raw query ratios by the spin
    ratio turned r11's idle-host, flat-to-faster round into a phantom
    1.22× regression. With the floor measured per round, the
    normalization can scale only the above-floor component."""

    def trivial(s, _sf_dir):
        return s.range(1000).selectExpr("sum(id) AS s")

    walls = sorted(run_once(trivial) for _ in range(reps))
    return walls[len(walls) // 2]


def _vs_prev(
    warm: dict[str, float],
    calib_par: list[float],
    here: str,
    calib_spark: float | None = None,
    prefix: str = "BENCH_r",
):
    """Round-over-round self-adjudication (round 11, VERDICT r10 item
    6): compare this run's warm medians against the newest committed
    driver artifact ``{prefix}{N}.json`` and emit the geomean ratio
    twice — raw, and host-normalized. Ratio < 1 = this round is faster
    like-for-like.

    Normalization model (round 12, VERDICT r11 item 2 — the r11
    artifact divided raw by the full sha256-spin ratio and read a
    flat-to-faster round as a 1.22× regression, because sub-second
    warm medians are dominated by Spark's fixed scheduling/planning
    floor which barely tracks CPU bandwidth):

    * ``floor`` — when BOTH rounds carry a measured ``calib_spark_s``
      probe (the warm median of a trivial one-row aggregate through
      the same noop-write path): decompose each query into
      floor + compute, scale only the compute component by the spin
      ratio, and compare the prediction against prev:
      ``pred_k = floor_prev + max(warm_k - floor_now, eps) / cratio``.
      Both floors are measured, so nothing is modeled.
    * ``damped_sqrt`` — when the prev artifact predates the probe:
      ``raw / sqrt(cratio)``. Rationale: the spin measures available
      CPU bandwidth (pass-through exponent 1 for compute-bound time,
      0 for the fixed floor); without measured floors the geometric
      midpoint is the estimator. Empirical anchor: the engine-
      unchanged r10→r11 pair measured pass-through
      ln(0.9098)/ln(0.7436) ≈ 0.32, so sqrt keeps that pair's verdict
      flat (1.055) where full division (exponent 1) manufactured a
      22% phantom and raw (exponent 0) overstated a 9% win.

    ``verdict`` classifies with a ±2% flat band: when raw and
    normalized land on OPPOSITE sides of 1.0 the round is
    ``host_dominated`` — the host moved more than the engine, and
    adjudication falls to BENCH_LOCAL on a comparable host or the next
    round (VERDICT r11 item 2c; BASELINE.md §adjudication)."""
    import glob
    import math
    import re

    # newest by the NUMERIC round, not lexicographic order (which would
    # put BENCH_r9.json after BENCH_r10.json for unpadded names)
    best, best_round = None, -1
    for f in glob.glob(os.path.join(here, prefix + "*.json")):
        m = re.fullmatch(re.escape(prefix) + r"(\d+)\.json", os.path.basename(f))
        if m and int(m.group(1)) > best_round:
            best, best_round = f, int(m.group(1))
    if best is None:
        return None
    try:
        with open(best) as fh:
            prev = json.load(fh).get("parsed") or {}
    except (OSError, ValueError):
        return None
    if prev.get("queries_are") != "warm_median":
        return None  # pre-r9 artifact: cold numbers, not comparable
    pq = prev.get("queries") or {}
    common = [k for k in warm if pq.get(k, 0) > 0 and warm[k] > 0]
    if len(common) < 10:
        return None
    raw = math.exp(
        sum(math.log(warm[k] / pq[k]) for k in common) / len(common)
    )
    out = {
        "prev": os.path.basename(best),
        "n_common": len(common),
        "warm_geomean_vs_prev": round(raw, 4),
    }
    pc = prev.get("calib_par_s") or []
    if pc and calib_par:
        cratio = (sum(calib_par) / len(calib_par)) / (sum(pc) / len(pc))
        if cratio > 0:
            def side(x: float) -> str:
                return "faster" if x < 0.98 else ("slower" if x > 1.02 else "flat")

            f_prev = prev.get("calib_spark_s")
            if calib_spark and f_prev:
                # per-query EFFECTIVE floors: a gate can run FASTER
                # than the trivial probe (lighter plan), and clamping
                # its compute to ~0 while predicting the full f_prev
                # would bias every such gate's ratio to f_prev/pq_k —
                # a systematic phantom regression. A query's floor
                # cannot exceed its own wall on either side.
                def _pred(k: str) -> float:
                    f_now_k = min(calib_spark, warm[k])
                    f_prev_k = min(f_prev, pq[k])
                    return f_prev_k + max(warm[k] - f_now_k, 1e-4) / cratio

                norm = math.exp(
                    sum(math.log(_pred(k) / pq[k]) for k in common)
                    / len(common)
                )
                out["calib_norm_model"] = "floor"
                # both floors are measured, so the model is trusted;
                # flag only a strict faster-vs-slower clash with raw
                s_raw, s_norm = side(raw), side(norm)
                verdict = (
                    "host_dominated"
                    if {s_raw, s_norm} == {"faster", "slower"}
                    else s_norm
                )
            else:
                norm = raw / math.sqrt(cratio)
                out["calib_norm_model"] = "damped_sqrt"
                # without measured floors the truth lies between raw
                # (pass-through 0: all-floor) and raw/cratio
                # (pass-through 1: all-compute); if that bracket spans
                # the flat band the spin cannot adjudicate the round
                lo, hi = sorted((raw, raw / cratio))
                verdict = (
                    side(norm) if side(lo) == side(hi) else "host_dominated"
                )
            out["warm_geomean_vs_prev_calib_norm"] = round(norm, 4)
            out["verdict"] = verdict
    return out


#: byte budget for the single stdout JSON line: the driver records only
#: the LAST 2000 bytes of stdout (measured from BENCH_r06/r07, whose
#: over-long lines were head-truncated to parsed:null). The line is the
#: final thing printed, so only its trailing newline shares the budget;
#: 15 bytes of slack cover that plus capture framing.
_STDOUT_CAP = 1985


def _stdout_line(out: dict, warm: dict, timings: dict, vs_prev) -> str:
    """The byte-capped stdout line the driver records. Principles
    (round 12 — r11's line degraded the 67 warm medians to ONE decimal,
    a 25% rounding error on a 0.25 s gate):

    * the driver-contract keys (``metric``/``value``/``unit``/``sf``/
      ``queries``) are present on EVERY rung — never degraded away;
    * **magnitude-aware precision**: 3 decimals under 1 s, 2 decimals
      under 10 s, 1 decimal above — small rounding error at every
      magnitude for the bytes fixed-decimal wastes on big values;
    * ceremony degrades before precision: ``warm_total`` (derivable by
      summing the queries) sheds first, then the precision tiers
      coarsen — the keys programmatic readers consume (``queries``,
      ``queries_are``, ``calib_s``/``calib_par_s``/``calib_spark_s``
      at FULL precision — VERDICT r11 item 6 — and the compact
      ``vs_prev`` verdict) never pay for decoration. Full provenance
      always lands in ``BENCH_LOCAL_r{N}.json``."""
    stdout_queries = warm if warm else timings

    def prec(v: float, small: int, mid: int, big: int) -> float:
        return round(v, small if v < 1 else mid if v < 10 else big)

    ladder = [
        ((3, 2, 1), True),
        ((3, 2, 1), False),
        ((2, 2, 1), False),
        ((2, 1, 1), False),
        ((1, 1, 1), False),
    ]
    for (small, mid, big), keep_warm_total in ladder:
        stdout_out = {
            "metric": out["metric"],
            "value": round(out["value"], 2),
            "unit": "sec",
            "sf": out["sf"],
        }
        if keep_warm_total:
            stdout_out["warm_total"] = round(out.get("warm_total", 0.0), 2)
        stdout_out.update(
            {
                "calib_s": out["calib_s"],
                "calib_par_s": out["calib_par_s"],
                "calib_spark_s": out["calib_spark_s"],
                "queries_are": "warm_median" if warm else "cold",
                "queries": {
                    k: prec(v, small, mid, big)
                    for k, v in stdout_queries.items()
                },
            }
        )
        if vs_prev:
            # compact keys; full names live in BENCH_LOCAL_r{N}.json
            stdout_out["vs_prev"] = {
                "raw": vs_prev.get("warm_geomean_vs_prev"),
                "norm": vs_prev.get("warm_geomean_vs_prev_calib_norm"),
                "model": vs_prev.get("calib_norm_model"),
                "verdict": vs_prev.get("verdict"),
            }
        line = json.dumps(stdout_out, separators=(",", ":"))
        if len(line) <= _STDOUT_CAP:
            return line
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    calib_start = _calibrate()
    calib_par_start = _calibrate_parallel()
    spark = get_spark("bench")

    qmap = query_map()
    # warmup: JVM + parquet footer caches
    qmap["q1_pricing_summary"](spark, sf_dir).collect()

    n_warm = int(os.environ.get("SPARK_GRAFT_BENCH_WARM", "3"))

    def run_once(fn) -> float:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        # force full execution incl. result production, cheap transfer
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 4)

    # Spark fixed-overhead floor, measured through the same path after
    # warmup (round 12: feeds the floor-aware _vs_prev normalization)
    calib_spark = _spark_floor(run_once)

    # optional gate subset (round 12, VERDICT r11 item 4: the sf1 depth
    # bench runs only the expensive gates — comma-separated names)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    headline = [n for n in HEADLINE if n in set(only.split(","))] if only else HEADLINE

    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in headline:
        fn = qmap[name]
        timings[name] = run_once(fn)
        if n_warm > 0:
            reps = sorted(run_once(fn) for _ in range(n_warm))
            warm[name] = reps[len(reps) // 2]

    calib_end = _calibrate()
    calib_par_end = _calibrate_parallel()
    total = round(sum(timings.values()), 4)
    out = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # contention calibration: same fixed spin at suite start/end;
        # compare across rounds to normalize host load out of ratios
        "calib_s": [calib_start, calib_end],
        "calib_par_s": [calib_par_start, calib_par_end],
        # measured Spark floor (trivial-query warm median through the
        # same noop-write path) — the floor-aware normalization input
        "calib_spark_s": calib_spark,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    # sf1 depth-bench mode writes/compares BENCH_SF1_* artifacts so the
    # two scale points adjudicate independently (VERDICT r11 item 4)
    tag = os.environ.get("SPARK_GRAFT_BENCH_TAG", "")
    prev_prefix = f"BENCH_{tag}_r" if tag else "BENCH_r"
    vs_prev = None
    if warm:
        out["warm"] = warm
        out["warm_total"] = round(sum(warm.values()), 4)
        vs_prev = _vs_prev(
            out["warm"], out["calib_par_s"], here,
            calib_spark=calib_spark, prefix=prev_prefix,
        )
        if vs_prev:
            out["vs_prev"] = vs_prev
    # One canonical committed full-precision artifact per round
    # (round-9, VERDICT r8 item 7: the suffixed name IS the live file).
    # A run with no round set writes the unsuffixed (git-ignored) name,
    # so it never overwrites a committed round's artifact.
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    parts = ["BENCH_LOCAL", tag, f"r{rnd}" if rnd else ""]
    local_name = "_".join(p for p in parts if p) + ".json"
    with open(os.path.join(here, local_name), "w") as fh:
        fh.write(json.dumps(out) + "\n")
    spark.stop()
    # The driver records only the LAST 2000 bytes of stdout (measured
    # from BENCH_r06/r07: "tail" is byte-capped and the head of the one
    # JSON line was cut, leaving parsed:null). The stdout line must
    # therefore FIT the cap: compact separators, reduced-precision
    # floats, ONE per-query dict. Round-9 (VERDICT r8 item 5): that
    # dict now carries the WARM medians — the contention-robust number
    # round-over-round geomeans are computed from — so the driver
    # artifact alone supports the comparison; "queries_are" labels the
    # semantics, and the cold total stays in "value" for continuity
    # with rounds 1-8. Degrade precision until it fits the cap.
    print(_stdout_line(out, warm, timings, vs_prev), flush=True)


if __name__ == "__main__":
    main()
