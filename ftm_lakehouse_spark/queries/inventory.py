"""The graded query inventory: every operator family from SURVEY.md §2,
demonstrated on the driver's testdata tables, each with a DuckDB oracle.

Determinism rules (both engines must produce hash-identical values):
  * monetary/double aggregates go through DECIMAL casts so sums are
    exact and order-independent, then cast to double for output;
  * every computed column is aliased identically in Spark and SQL;
  * top-k queries use a total order (unique tiebreak column);
  * timestamps are µs UTC on both sides (events ns → µs truncation).

Each entry is ``name -> (fn(spark, sf_dir) -> DataFrame, oracle_sql|None)``.
``oracle_sql`` is ANSI/DuckDB SQL over the pre-registered views
``region nation customer supplier part orders lineitem events documents
embeddings``. ``None`` marks a genuinely non-SQL-expressible operator
(driver records a rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ftm_lakehouse_spark.sources.tables import load_table

#: SCALE.md §8: capstone shared projections are corpus/entity-sized
#: multi-consumer materializations -> the data-sized policy level;
#: vocab-bound tables (unigram-LM term counts) keep the memory default.
from ftm_lakehouse_spark.persist import DATA_SIZED as _DISK

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, tuple[QueryFn, str | None]] = {}


def _register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = (fn, oracle)
        return fn

    return deco


#: The correctness driver grades the FIRST 50 entries of query_map()
#: against the DuckDB oracle — order carries evidence. The window is
#: curated per round: the active capstones (the four pipelines, TPC-H
#: Q5, winnowing, sequence packing, parent chains + pagerank, pack
#: codec, blocked k-NN) plus at least one gate per SURVEY §2 family
#: AND per added family, every one full-oracle. Gates past position 50
#: are same-family variants whose mechanics a window occupant already
#: grades OR multi-round-stable veterans rotated out to let
#: never-graded gates earn driver evidence — all of them still
#: verified every round by tools/check_parity.py (132/132) and pytest.
#: Since round 5 ALL 132 gates are full-oracle (x_approx_stats was the
#: last rows-only gate, retired via the portable KMV +
#: deterministic-sample construction).
# ---- round-12 window: GENERATED by `python tools/rotate_window.py`
# (VERDICT r11 item 3: the rotation is now computed from the committed
# CORRECTNESS_r*.json artifacts, not hand-transcribed;
# tests/test_inventory_order.py pins GRADE_ORDER == the generator's
# output at max_round=11). Staleness histogram before r12 was
# {r9: 37, r10: 45, r11: 50}; this window keeps the five
# bench-headline capstone anchors and fills the 45 rotation slots
# with ALL 37 r9-stale gates plus the 8 alphabetically-first
# r10-stale gates -- the same (last-round asc, name asc) rule
# rounds 10 and 11 applied by hand. 45/50 occupants were NOT in the
# r11 window. Rotated-out gates stay verified every round by
# tools/check_parity.py (132/132 full-oracle at sf0.01) and pytest.
GRADE_ORDER = [
    # kept bench-headline anchors (5) -------------------------------
    "pipeline_pretrain_corpus",
    "q5_local_supplier_volume",
    "pipeline_zorder_scan",
    "pipeline_ftm_e2e",
    "pipeline_streaming_ingest",
    # rotated IN: last driver-graded r9 (37, alphabetical) ----
    "mm_video_frame_sample",
    "q10_returned_items",
    "q22_global_sales_opportunity",
    "q3_shipping_priority",
    "sample_dsir_weights",
    "sample_epoch_shuffle",
    "sample_hash_based",
    "sample_interleave_sources",
    "sample_pack_sequences",
    "sim_centroid_stats",
    "sim_kmeans_update",
    "sim_knn_blocked",
    "sim_quantize_int8",
    "split_train_val_test",
    "text_bigram_topk",
    "text_bm25_topk",
    "text_bpe_merges",
    "text_decontaminate",
    "text_dup_ngram_coverage",
    "text_length_buckets",
    "text_novelty_score",
    "text_pii_scrub",
    "text_repetition_ratio",
    "text_repetition_stats",
    "text_tfidf_top_terms",
    "text_unigram_logprob",
    "w_hopping_window",
    "w_moving_avg",
    "w_ntile_quartiles",
    "w_session_window",
    "w_tumbling_window",
    "x_cohort_retention",
    "x_correlation",
    "x_feature_snapshot",
    "x_funnel_stages",
    "x_json_extract",
    "x_string_agg",
    # rotated IN: last driver-graded r10 (8, alphabetical) ----
    "a_count_distinct",
    "a_cube_stats",
    "a_entity_assembly",
    "a_exact_percentiles",
    "a_first_seen_fold",
    "a_grouping_sets",
    "a_merge_dedupe_latest",
    "a_pivot_status",
]

#: the round-11 window, retired intact (every member holds a green
#: r11 driver row in CORRECTNESS_r11.json); kept for the
#: rotation-audit test's fresh-occupant count.
_R11_GRADE_ORDER = [
    # ---- round-11 rotation (VERDICT r10 item 1): FINISH the rotation
    # cycle. After r10 the staleness histogram (computed from the
    # committed CORRECTNESS_r0*.json artifacts) was 37 gates last
    # driver-graded r7, 45 last r9, 50 last r10. This window takes ALL
    # 37 r7-stale gates plus the 8 stalest r9 gates (all 45 r9 gates
    # tie on round, so the tiebreak is alphabetical — the same rule the
    # r10 rotation used for its two r7 picks), keeping the five
    # bench-headline capstone anchors. 45/50 occupants were NOT in the
    # r10 window (bar: >=40), and after this round EVERY one of the 132
    # gates holds a driver grade from rounds 9-11 — zero pre-r9 grades
    # remain. Rotated-out gates stay verified every round by
    # tools/check_parity.py (132/132 full-oracle at sf0.01) and pytest.
    #
    # kept bench-headline anchors (5) -------------------------------
    "pipeline_pretrain_corpus",
    "q5_local_supplier_volume",
    "pipeline_zorder_scan",
    "pipeline_ftm_e2e",
    "pipeline_streaming_ingest",
    # rotated IN: all 37 gates last driver-graded r7 ----------------
    "a_stats_facets",
    "c_shard_assignment",
    "c_statement_id",
    "dedup_cluster_canonical",
    "dedup_minhash_lsh",
    "dedup_semantic",
    "f_point_lookup",
    "f_property_semi_join",
    "f_timestamp_range",
    "ftm_canonicalize",
    "i_matview_refresh",
    "j_correlated_threshold",
    "j_full_outer_nations",
    "j_multiway_star",
    "j_semi_join_changed",
    "mm_audio_roundtrip",
    "o_entity_slice",
    "q18_large_volume_customer",
    "q6_forecast_revenue",
    "sample_stratified",
    "sim_ann_lsh",
    "sim_ivf_topk",
    "sim_pq_adc_topk",
    "text_benchmark_overlap",
    "text_bpe_encode",
    "text_quality_score",
    "w_first_last_value",
    "w_lag_lead",
    "w_percent_rank",
    "w_range_frame",
    "x_approx_stats",
    "x_asof_join",
    "x_bloom_filter",
    "x_countmin_sketch",
    "x_histogram",
    "x_pivot_wide",
    "x_unpivot_long",
    # rotated IN: the 8 stalest r9 gates (alphabetical tiebreak) ----
    "a_median_groups",
    "a_skew_salted",
    "c_pack_codec",
    "dedup_chunks",
    "dedup_winnow_substrings",
    "doc_chunk_overlap",
    "graph_pagerank",
    "graph_parent_chain",
]


def _ordered_names() -> list[str]:
    head = [n for n in GRADE_ORDER if n in QUERIES]
    seen = set(head)
    return head + [n for n in QUERIES if n not in seen]


def query_map() -> dict[str, QueryFn]:
    return {name: QUERIES[name][0] for name in _ordered_names()}


def oracle_map() -> dict[str, str]:
    return {
        name: QUERIES[name][1]
        for name in _ordered_names()
        if QUERIES[name][1] is not None
    }


def _spread(df):
    """Repartition a small single-file table before a CPU-bound
    projection: one parquet file = one task otherwise, leaving 31 of 32
    cores idle. On a real corpus (many files) this is a no-op decision
    made by the scan."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _dec(col, scale=4):
    """Exact-sum helper: double → decimal (deterministic round-to-nearest
    in both engines, no float-order sensitivity in the aggregate)."""
    return F.col(col).cast(f"decimal(12,{scale})")


# =====================================================================
# S/F — scans, projections, filters (SURVEY §2.1, §2.2)
# =====================================================================

@_register(
    "f_scan_filter_project",
    """
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity >= 45 AND l_returnflag = 'R'
    """,
)
def f_scan_filter_project(spark, sf_dir):
    """S1/S2/F1/F8: projection + predicate, both pushed to the parquet scan
    (reference keeps the live view window-free for exactly this:
    logic/parquet.py:170-174)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") >= 45) & (F.col("l_returnflag") == "R")).select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )


@_register(
    "f_point_lookup",
    """
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
    FROM lineitem WHERE l_orderkey = 1 ORDER BY l_linenumber
    """,
)
def f_point_lookup(spark, sf_dir):
    """F7: single-key lookup — on the statement table this is shard-pruned;
    here it exercises predicate pushdown + file skipping."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") == 1)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_linenumber")
    )


@_register(
    "f_in_and_null_filters",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderstatus IN ('F', 'P') AND o_totalprice IS NOT NULL
      AND o_orderpriority NOT IN ('1-URGENT')
    """,
)
def f_in_and_null_filters(spark, sf_dir):
    """F4: equality / IN / NOT IN / NULL-check filters (ftmq-style
    lookups, reference tests/test_repository_entities.py:92-96)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "P")
        & F.col("o_totalprice").isNotNull()
        & ~F.col("o_orderpriority").isin("1-URGENT")
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


@_register(
    "f_timestamp_range",
    """
    SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
    FROM events
    WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-20 00:00:00'
    """,
)
def f_timestamp_range(spark, sf_dir):
    """F9/I2: changed-since predicate (reference first_seen >= ts OR
    deleted_at >= ts, storage/parquet.py:766-805)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("ts") >= F.lit("2024-01-20 00:00:00").cast("timestamp")).select(
        "event_id", "user_id", "event_type", "ts"
    )


@_register(
    "f_property_semi_join",
    """
    SELECT e.event_id, e.user_id, e.event_type
    FROM events e
    WHERE e.user_id IN (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    """,
)
def f_property_semi_join(spark, sf_dir):
    """F5: EAV property filter — entity-level semantics via id-set
    membership (reference P(name=...) semi-join shape)."""
    ev = load_table(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return ev.join(buyers, "user_id", "left_semi").select("event_id", "user_id", "event_type")


# =====================================================================
# J — joins (SURVEY §2.3)
# =====================================================================

@_register(
    "j_semi_join_changed",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey IN (SELECT DISTINCT o_custkey FROM orders
                        WHERE o_orderdate >= TIMESTAMP '1997-01-01')
    """,
)
def j_semi_join_changed(spark, sf_dir):
    """J1: semi-join on a changed-id set (reference build_changed_sql,
    logic/parquet.py:195-231). Broadcast semi-join — no IN-literal
    batching needed (reference J2 workaround deleted by design)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    changed = (
        o.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return c.join(F.broadcast(changed), "c_custkey", "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@_register(
    "j_anti_join_deleted",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def j_anti_join_deleted(spark, sf_dir):
    """J3: anti-join for DEL detection (reference original_ids - seen_ids,
    repository/entities/main.py:563-578)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti").select(
        "c_custkey", "c_name"
    )


@_register(
    "j_broadcast_dims",
    """
    SELECT r.r_name AS region, n.n_name AS nation, count(*) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,4))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def j_broadcast_dims(spark, sf_dir):
    """Star-schema dimension joins — both dims broadcast (no shuffle of
    the fact side on the dim keys)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"),
        )
    )


@_register(
    "j_multiway_star",
    """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,4))
                    * CAST(1 - l.l_discount AS DECIMAL(12,4))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n.n_name
    """,
)
def j_multiway_star(spark, sf_dir):
    """TPC-H Q5-shaped multiway join: fact-fact shuffle join on orderkey.

    Broadcast policy (applies to every TPC-H-shaped gate): explicit
    ``F.broadcast`` hints go ONLY on cardinality-BOUNDED tables (nation,
    region — fixed row counts at any SF). customer/supplier/part scale
    with the data, so their join strategy is left to the size-based
    planner + AQE: at bench SF they broadcast (under the threshold), at
    100 TB they shuffle — a forced hint would instead OOM every
    executor. The STATIC threshold stays at Spark's default; the
    adaptive threshold is raised to 64m (see session.py): Catalyst's
    static size estimates above aggregates are unreliable upward, but
    AQE re-decides from ACTUAL materialized shuffle sizes at runtime,
    which is the safe path to the broadcast regime."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (_dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@_register(
    "j_correlated_threshold",
    """
    SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly,
           count(*) AS n_small
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size <= 5
    JOIN (SELECT l_partkey,
                 0.2 * (sum(l_quantity) / count(l_quantity)) AS thr
          FROM lineitem GROUP BY l_partkey) t
      ON l.l_partkey = t.l_partkey
    WHERE l.l_quantity < t.thr
    """,
)
def j_correlated_threshold(spark, sf_dir):
    """TPC-H Q17-shaped correlated scalar subquery ("rows below 20% of
    their part's average quantity"), written in its decorrelated form —
    the rewrite Catalyst applies to the correlated SQL: one per-key
    aggregate, re-joined on the correlation key. The threshold is
    sum/count of integer-valued doubles (exact at any partial-agg
    order), so the float compare is engine-stable. part scales with SF
    (no broadcast hint — j_multiway_star's policy); the thr aggregate is
    one row per partkey, likewise size-decided by AQE."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    thr = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * (F.sum("l_quantity") / F.count("l_quantity"))).alias("thr")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(thr, "l_partkey")
        .filter(F.col("l_quantity") < F.col("thr"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly"),
            F.count("*").alias("n_small"),
        )
    )


# =====================================================================
# A — aggregations (SURVEY §2.4) + W — windows (§2.5)
# =====================================================================

@_register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                    * CAST(1 - l_discount AS DECIMAL(12,4))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                    * CAST(1 - l_discount AS DECIMAL(12,4))
                    * CAST(1 + l_tax AS DECIMAL(12,4))) AS DOUBLE) AS sum_charge,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1: the flagship scan→group→agg. Partial aggregation
    (map-side combine) is automatic; decimals keep sums exact and
    order-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
    tax = (F.lit(1) + F.col("l_tax")).cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * disc).cast("double").alias("sum_disc_price"),
            F.sum(_dec("l_extendedprice") * disc * tax).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@_register(
    "a_merge_dedupe_latest",
    """
    SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id, event_type
        ORDER BY ts DESC, event_id DESC
    ) = 1
    """,
)
def a_merge_dedupe_latest(spark, sf_dir):
    """A1: the merge dedupe window — keep the latest row per group
    (reference non-fragment branch, logic/parquet.py:128-137). Same
    row_number/filter stack the statement merge job uses."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts")
    )


@_register(
    "a_supersession_ties",
    """
    SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
    FROM events
    QUALIFY date_trunc('day', CAST(ts AS TIMESTAMP)) =
            max(date_trunc('day', CAST(ts AS TIMESTAMP)))
                OVER (PARTITION BY user_id)
    """,
)
def a_supersession_ties(spark, sf_dir):
    """A2: supersession — ALL rows tied at the group max survive (the
    reference's fragment branch keeps multi-valued props of one emission
    alive together, logic/parquet.py:98-108). Day-truncated ts creates
    real ties, like second-granularity last_seen does."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    w = W.partitionBy("user_id")
    return (
        ev.withColumn("_max_day", F.max(day).over(w))
        .filter(day == F.col("_max_day"))
        .select("event_id", "user_id", "event_type", "ts")
    )


@_register(
    "a_first_seen_fold",
    """
    SELECT DISTINCT user_id,
           min(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id) AS first_seen
    FROM events
    """,
)
def a_first_seen_fold(spark, sf_dir):
    """A3: min-over-group fold computed BEFORE any dedupe filter, so
    dropped duplicates still contribute (reference SELECT * REPLACE
    pattern, logic/parquet.py:109-112)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    return ev.withColumn("first_seen", F.min("ts").over(w)).select("user_id", "first_seen").distinct()


@_register(
    "a_entity_assembly",
    """
    SELECT user_id AS entity_id,
           count(*) AS n_statements,
           count(DISTINCT event_type) AS n_props,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS props,
           min(CAST(ts AS TIMESTAMP)) AS first_seen,
           max(CAST(ts AS TIMESTAMP)) AS last_seen
    FROM events
    GROUP BY user_id
    """,
)
def a_entity_assembly(spark, sf_dir):
    """A5: entity assembly — fold a group of statement-grain rows into one
    entity-grain row (reference aggregate_unsafe,
    logic/entities/aggregate.py:53-186; here: sorted prop set + min/max
    timestamps). Spark needs no sort-contiguity: groupBy is hash-based."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("user_id").alias("entity_id")).agg(
        F.count("*").alias("n_statements"),
        F.countDistinct("event_type").alias("n_props"),
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("props"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )


@_register(
    "a_stats_facets",
    """
    SELECT event_type AS schema, count(*) AS n_rows,
           count(DISTINCT user_id) AS n_entities
    FROM events GROUP BY event_type
    """,
)
def a_stats_facets(spark, sf_dir):
    """A6/A7: dataset statistics facets — per-schema entity counts
    (reference stats(), storage/parquet.py:294-324)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").alias("schema")).agg(
        F.count("*").alias("n_rows"), F.countDistinct("user_id").alias("n_entities")
    )


@_register(
    "a_count_distinct",
    "SELECT count(DISTINCT o_custkey) AS n_entities FROM orders",
)
def a_count_distinct(spark, sf_dir):
    """A7: count(q) — a single exact distinct count."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(F.countDistinct("o_custkey").alias("n_entities"))


@_register(
    "a_rollup_stats",
    """
    SELECT event_type, date_part('month', CAST(ts AS TIMESTAMP)) AS month,
           count(*) AS n
    FROM events
    GROUP BY ROLLUP (event_type, month)
    """,
)
def a_rollup_stats(spark, sf_dir):
    """Rollup hierarchy for the stats export (reference has flat facets;
    rollup is the scale path for a facet matrix — SURVEY §2.4 note)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.withColumn("month", F.month("ts").cast("long")).rollup("event_type", "month").agg(
        F.count("*").alias("n")
    )


@_register(
    "w_running_total",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def w_running_total(spark, sf_dir):
    """Window with an explicit ROWS frame (beyond the reference's
    unbounded analytics — SURVEY §2.5 notes Spark covers frames 1:1)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


# =====================================================================
# O — sorts / limits / top-k (SURVEY §2.6)
# =====================================================================

@_register(
    "o_topk_global",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 20
    """,
)
def o_topk_global(spark, sf_dir):
    """O5/O6: global top-k (TakeOrderedAndProject — no global sort of the
    full table; reference needed a routing rule for this,
    storage/parquet.py:197-209 — Spark plans are global by construction)."""
    c = load_table(spark, sf_dir, "customer")
    return c.orderBy(F.desc("c_acctbal"), F.asc("c_custkey")).limit(20).select(
        "c_custkey", "c_name", "c_acctbal"
    )


@_register(
    "o_entity_slice",
    """
    WITH ranked AS (
        SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_seen
        FROM events GROUP BY user_id
        ORDER BY first_seen, user_id
        LIMIT 10 OFFSET 5
    )
    SELECT e.event_id, e.user_id, e.event_type
    FROM events e JOIN ranked r ON e.user_id = r.user_id
    """,
)
def o_entity_slice(spark, sf_dir):
    """O5: entity-grain limit/offset — rank entity ids first, then
    semi-join back to the row grain (reference canonical_ids subquery,
    storage/parquet.py:197-209; SURVEY §7.4 hard-part 5)."""
    ev = load_table(spark, sf_dir, "events")
    ranked = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_seen"))
        # top-15 via TakeOrderedAndProject first, THEN rank the 15
        # survivors for the offset — no global single-partition window
        .orderBy("first_seen", "user_id")
        .limit(15)
        .withColumn("_rank", F.row_number().over(W.orderBy("first_seen", "user_id")))
        .filter(F.col("_rank") > 5)
        .select("user_id")
    )
    return ev.join(F.broadcast(ranked), "user_id", "inner").select(
        "event_id", "user_id", "event_type"
    )


@_register(
    "o_topk_per_group",
    """
    SELECT user_id, event_id, value
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY value DESC, event_id
    ) <= 3
    """,
)
def o_topk_per_group(spark, sf_dir):
    """Top-k per group — the canonical window ranking pattern."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "value")
    )


# =====================================================================
# U — set operations (SURVEY §2.7)
# =====================================================================

@_register(
    "u_union_branches",
    """
    SELECT o_orderkey, o_totalprice, 'open' AS branch
    FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'done' AS branch
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def u_union_branches(spark, sf_dir):
    """U1: UNION ALL of two filtered branches (the merge job unions its
    fragment/non-fragment branches the same way, logic/parquet.py:155-159)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_totalprice", F.lit("open").alias("branch")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice", F.lit("done").alias("branch")
    )
    return a.unionByName(b)


@_register(
    "u_intersect_except",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def u_intersect_except(spark, sf_dir):
    """INTERSECT (beyond the reference — SURVEY §2.7 notes Spark has it
    natively)."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return a.intersect(b)


# =====================================================================
# C — scalar functions (SURVEY §2.8)
# =====================================================================

@_register(
    "c_shard_assignment",
    """
    -- x % 16 of a hex number is its last hex digit: shard = 8th hash char
    SELECT c_custkey,
           substring(sha256(CAST(c_custkey AS VARCHAR)), 8, 1) AS shard
    FROM customer
    """,
)
def c_shard_assignment(spark, sf_dir):
    """C1: entity→shard assignment — first 8 hex chars of sha256 mod
    shards, zero-padded hex (reference core/conventions/path.py:245-264;
    the engine's actual expression lives in model/statement.entity_shard)."""
    from ftm_lakehouse_spark.model.statement import entity_shard

    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", entity_shard(F.col("c_custkey").cast("string"), 16).alias("shard")
    )


@_register(
    "c_statement_id",
    """
    SELECT event_id,
           md5('testdata' || chr(30) || CAST(user_id AS VARCHAR) || chr(30) ||
               event_type || chr(30) || CAST(event_id AS VARCHAR)) AS stmt_id
    FROM events
    """,
)
def c_statement_id(spark, sf_dir):
    """C2: content-addressed statement id — hash of
    (dataset, entity_id, prop, value) with an unambiguous separator
    (reference Statement.make_key, logic/entities/explode.py:129,196)."""
    ev = load_table(spark, sf_dir, "events")
    key = F.concat_ws(
        "\x1e",
        F.lit("testdata"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.col("event_id").cast("string"),
    )
    return ev.select("event_id", F.md5(key).alias("stmt_id"))


@_register(
    "c_checksum_fold",
    """
    SELECT user_id,
           md5(string_agg(md5(CAST(event_id AS VARCHAR)), '' ORDER BY md5(CAST(event_id AS VARCHAR)))) AS checksum
    FROM events GROUP BY user_id
    """,
)
def c_checksum_fold(spark, sf_dir):
    """C3: BASE_ID-style checksum — a hash folded over the sorted hashes
    of a group's row ids (reference helpers/statements.py:102-144). Sorted
    collect + concat keeps the fold order-independent of shuffle order."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.md5(
            F.concat_ws("", F.array_sort(F.collect_list(F.md5(F.col("event_id").cast("string")))))
        ).alias("checksum")
    )


# =====================================================================
# D — deduplication suite (training-data pipeline, BASELINE north star)
# =====================================================================

@_register(
    "dedup_exact",
    """
    WITH hashed AS (
        SELECT doc_id, md5(text) AS content_hash FROM documents
    )
    SELECT doc_id, content_hash,
           min(doc_id) OVER (PARTITION BY content_hash) AS keeper_id,
           count(*) OVER (PARTITION BY content_hash) AS n_copies,
           doc_id <> min(doc_id) OVER (PARTITION BY content_hash) AS is_duplicate
    FROM hashed
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: content-hash grouping; keeper = min id per group,
    every other copy flagged. At 100 TB this is one shuffle on a 32-byte
    key — the canonical first pass of a training-data dedup pipeline."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("content_hash")
    return (
        d.select("doc_id", F.md5("text").alias("content_hash"))
        .withColumn("keeper_id", F.min("doc_id").over(w))
        .withColumn("n_copies", F.count("*").over(w))
        .withColumn("is_duplicate", F.col("doc_id") != F.col("keeper_id"))
    )


@_register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')
           )), ' ')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprint: hash of the sorted distinct normalized token
    set (near-dup blocking key; word-order / duplication invariant)."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    toks = F.array_remove(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), "")
    return d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))).alias("fingerprint"),
    )


# =====================================================================
# T — text analysis (training-data pipeline)
# =====================================================================

@_register(
    "text_token_stats",
    """
    SELECT doc_id,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
           length(text) AS n_chars_measured,
           n_chars
    FROM documents
    """,
)
def text_token_stats(spark, sf_dir):
    """Whitespace token counting + char counts — all JVM-side expressions."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_remove(F.split(F.col("text"), "\\s+"), "")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        "n_chars",
    )


@_register(
    "text_quality_score",
    """
    SELECT doc_id,
           round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1), 6) AS punct_ratio,
           round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1), 6) AS digit_ratio,
           round(CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     x -> x IN ('the','a','of','and','to','in','is','that'))) AS DOUBLE)
                 / greatest(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     x -> x <> '')), 1), 6) AS stopword_ratio
    FROM documents
    """,
)
def text_quality_score(spark, sf_dir):
    """Quality heuristics: punctuation / digit / stopword ratios
    (C4-quality-filter style), pure column expressions."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    n = F.greatest(F.length("text"), F.lit(1))
    words = F.array_remove(F.split(F.lower(F.col("text")), "[^a-z]+"), "")
    stop = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "to", "in", "is", "that")])
    n_stop = F.size(F.filter(words, lambda x: F.array_contains(stop, x)))
    return d.select(
        "doc_id",
        F.round(
            F.length(F.regexp_replace("text", "[^.,;:!?]", "")).cast("double") / n, 6
        ).alias("punct_ratio"),
        F.round(
            F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double") / n, 6
        ).alias("digit_ratio"),
        F.round(
            n_stop.cast("double") / F.greatest(F.size(words), F.lit(1)), 6
        ).alias("stopword_ratio"),
    )


@_register(
    "text_lang_id",
    """
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                   x -> x IN ('the','and','of','to','is'))) AS en_hits,
               len(list_filter(string_split_regex(lower(text), '[^a-zäöüß]+'),
                   x -> x IN ('der','die','das','und','ist'))) AS de_hits,
               len(list_filter(string_split_regex(lower(text), '[^a-zéèàù]+'),
                   x -> x IN ('le','la','et','les','est'))) AS fr_hits
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
                WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
                WHEN fr_hits > 0 THEN 'fr'
                ELSE 'unknown' END AS detected_lang
    FROM scored
    """,
)
def text_lang_id(spark, sf_dir):
    """Language-ID by marker-word voting (n-gram-heuristic family),
    deterministic tiebreak order en > de > fr."""
    d = _spread(load_table(spark, sf_dir, "documents"))

    def hits(pattern, markers):
        words = F.array_remove(F.split(F.lower(F.col("text")), pattern), "")
        return F.size(F.filter(words, lambda x: F.array_contains(F.array(*map(F.lit, markers)), x)))

    en = hits("[^a-z]+", ["the", "and", "of", "to", "is"])
    de = hits("[^a-zäöüß]+", ["der", "die", "das", "und", "ist"])
    fr = hits("[^a-zéèàù]+", ["le", "la", "et", "les", "est"])
    detected = (
        F.when((en >= de) & (en >= fr) & (en > 0), "en")
        .when((de >= fr) & (de > 0), "de")
        .when(fr > 0, "fr")
        .otherwise("unknown")
    )
    return d.select("doc_id", "lang", detected.alias("detected_lang"))


# =====================================================================
# V — similarity search (training-data pipeline)
# =====================================================================

@_register(
    "sim_cosine_topk",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id, e.label,
               list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cos
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, round(cos, 4) AS cosine
    FROM scored ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k vs a query vector — the ANN baseline.
    Dot product via zip_with + aggregate (JVM higher-order functions,
    no Python); global top-k via TakeOrderedAndProject. The 100 TB path
    is the LSH-bucketed variant in operators/similarity.py."""
    from ftm_lakehouse_spark.functions.vectors import cosine_similarity

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cosine_similarity(F.col("embedding"), F.col("qv")).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("cos", 4).alias("cosine"))
    )


# =====================================================================
# D2 — near-dup suite (MinHash LSH, n-gram Jaccard, SimHash)
# =====================================================================

_TOKS_SQL = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
)
_SHINGLES_SQL = (
    "list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)),"
    " i -> array_to_string(t[i:i+2], ' ')))"
)


def _minhash_oracle(num_hashes: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    rows = num_hashes // bands
    mh = [
        f"list_min(list_transform(shingles, s -> md5('{i}:' || s))) AS h{i}"
        for i in range(num_hashes)
    ]
    band_keys = [
        "md5(" + " || '|' || ".join(f"h{b * rows + r}" for r in range(rows)) + f") AS k{b}"
        for b in range(bands)
    ]
    band_union = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, shingles, {b} AS band, k{b} AS key FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), sh AS (
        SELECT doc_id, {_SHINGLES_SQL} AS shingles
        FROM toks WHERE len(t) >= 3
    ), sig AS (
        SELECT doc_id, shingles, {", ".join(mh)} FROM sh
    ), sig2 AS (
        SELECT doc_id, shingles, {", ".join(band_keys)} FROM sig
    ), bands AS (
{band_union.replace('FROM sig', 'FROM sig2')}
    ), cand AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
               l.shingles AS sa, r.shingles AS sb
        FROM bands l JOIN bands r
          ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    )
    SELECT a, b,
           round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                 / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) AS jaccard
    FROM cand
    WHERE round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) >= {threshold}
    """


@_register("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash + banded LSH near-dup pairs, Jaccard-verified — the 100 TB
    dedup path (pair space collapses to band-bucket collisions). The
    oracle recomputes the identical md5-string minhash in DuckDB."""
    from ftm_lakehouse_spark.operators.dedupe import minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, num_hashes=16, bands=4, jaccard_threshold=0.5)


def _cluster_oracle() -> str:
    """Connected components of the minhash near-dup graph as a DuckDB
    recursive CTE: ``reach`` closes over "label L reaches doc D", and
    min(label) per doc is the component minimum — exactly what hash-min
    label propagation converges to."""
    return f"""
    WITH RECURSIVE edges AS (
        SELECT a, b FROM ({_minhash_oracle()})
    ), und AS (
        SELECT a AS u, b AS v FROM edges
        UNION ALL
        SELECT b AS u, a AS v FROM edges
    ), reach AS (
        SELECT DISTINCT u AS doc, u AS label FROM und
        UNION
        SELECT e.v AS doc, r.label FROM reach r JOIN und e ON e.u = r.doc
    )
    SELECT doc, min(label) AS cluster FROM reach GROUP BY doc
    """


@_register("dedup_cluster_canonical", _cluster_oracle())
def dedup_cluster_canonical(spark, sf_dir):
    """Near-dup CLUSTERS (not just pairs): connected components over the
    minhash-LSH graph by hash-min label propagation, canonical doc =
    component-minimum id — the step that turns pairwise dedup into a
    keep/drop decision per document. Iterative (O(diameter) rounds of
    join + min-agg) at VALUE grain (round 7: the doc-grain edge set is
    quadratic in the copy count — 2.5B clique edges at sf100 — while
    identical-text docs are interchangeable in the graph; see
    minhash_cluster_canonical). The oracle closes the same graph with
    a recursive CTE, so the comparison is a full hash match."""
    from ftm_lakehouse_spark.operators.dedupe import minhash_cluster_canonical

    d = load_table(spark, sf_dir, "documents")
    return minhash_cluster_canonical(
        d, num_hashes=16, bands=4, jaccard_threshold=0.5
    )


@_register(
    "dedup_ngram_jaccard",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), base AS (
        SELECT doc_id, {_SHINGLES_SQL} AS sh,
               md5(array_to_string(t[1:4], ' ')) AS block
        FROM toks WHERE len(t) >= 3
    )
    SELECT l.doc_id AS a, r.doc_id AS b,
           round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
                 / (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh))), 6) AS jaccard
    FROM base l JOIN base r ON l.block = r.block AND l.doc_id < r.doc_id
    WHERE round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
                / (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh))), 6) >= 0.3
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard over block-keyed candidate pairs."""
    from ftm_lakehouse_spark.operators.dedupe import ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, n=3, threshold=0.3, block_tokens=4)


def _simhash_oracle(bits: int = 48, max_hamming: int = 3) -> str:
    """Brute-force replica of the 48-bit vote-fold SimHash: per distinct
    token, md5 hex nibbles → sign votes per bit; signature = the
    positive-vote bits; pairs by exact hamming distance. Valid as an
    oracle because block probing with ``max_hamming < blocks`` is
    exhaustive (pigeonhole), so the LSH path and the O(n²) scan must
    produce the identical pair set."""
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_distinct(list_filter(
                 string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))) AS tok
        FROM documents
    ), bitv AS (
        SELECT doc_id, j,
               CASE WHEN ((strpos('0123456789abcdef',
                                  substr(md5(tok), CAST(j // 4 AS INT) + 1, 1)) - 1)
                          >> (3 - CAST(j % 4 AS INT))) & 1 = 1
                    THEN 1 ELSE -1 END AS vote
        FROM toks, (SELECT range AS j FROM range({bits})) bits
    ), votes AS (
        SELECT doc_id, j, sum(vote) AS v FROM bitv GROUP BY doc_id, j
    ), sh AS (
        SELECT d.doc_id,
               coalesce(sum(CASE WHEN v.v > 0
                                 THEN (CAST(1 AS BIGINT) << CAST(v.j AS INT))
                                 ELSE 0 END), 0) AS sh
        FROM documents d LEFT JOIN votes v ON d.doc_id = v.doc_id
        GROUP BY d.doc_id
    )
    SELECT l.doc_id AS a, r.doc_id AS b,
           CAST(bit_count(xor(l.sh, r.sh)) AS INT) AS hamming
    FROM sh l JOIN sh r ON l.doc_id < r.doc_id
    WHERE bit_count(xor(l.sh, r.sh)) <= {max_hamming}
    """


@_register("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark, sf_dir):
    """SimHash hamming-close pairs via pigeonhole block probing. The
    signature is engine-portable (md5 nibble votes, conv-parsed — see
    operators/dedupe.simhash), so the oracle recomputes it brute-force
    in DuckDB; pigeonhole exhaustiveness makes the pair sets equal."""
    from ftm_lakehouse_spark.operators.dedupe import simhash_duplicates

    d = load_table(spark, sf_dir, "documents")
    return simhash_duplicates(d, max_hamming=3)


# =====================================================================
# V2 — similarity search (k-NN join + ANN)
# =====================================================================

@_register(
    "sim_knn_join",
    """
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2)
    ), scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cos
        FROM embeddings e CROSS JOIN q
    )
    -- rank and report in the 6-digit SEQUENTIAL-fold cosine domain,
    -- exactly like the operator: the engine's reported cosine is the
    -- left-to-right fold (bit-equal to list_dot_product here), so one
    -- 6-digit round of the identical double matches on both engines.
    -- (A further round to 4 digits was REMOVED: 6-digit values landing
    -- on a 4-digit midpoint, e.g. 0.340450, tie-resolve differently
    -- between BigDecimal shortest-string and multiply-based rounding —
    -- the sf0.1/sf10 sweeps caught real rows doing exactly that.)
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine
    FROM scored
    QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY round(cos, 6) DESC, neighbor_id
    ) <= 5
    """,
)
def sim_knn_join(spark, sf_dir):
    """Exact k-NN join: numpy-matmul mapInPandas (one BLAS call per
    Arrow batch) for candidates + sequential-fold reported cosines +
    per-query top-k window in the 6-digit domain (cross-engine float
    portability — see knn_join's docstring). The oracle is the
    brute-force SQL cross join under the identical fold and rank
    domain — proving the vectorized path preserves semantics."""
    from ftm_lakehouse_spark.operators.similarity import knn_join

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id").isin(0, 1, 2))
    return knn_join(e, queries, k=5)


@_register(
    "sim_knn_blocked",
    """
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id % 10 = 0
    ), scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cos
        FROM embeddings e CROSS JOIN q
    )
    -- 6-digit sequential-fold domain, no further 4-digit round — same
    -- rationale as sim_knn_join's oracle comment
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine
    FROM scored
    QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY round(cos, 6) DESC, neighbor_id
    ) <= 5
    """,
)
def sim_knn_blocked(spark, sf_dir):
    """Exact k-NN join past the broadcast ceiling: grid cogroup over
    (corpus-chunk × query-block) cells — no driver-side collect of the
    query set anywhere in the plan (knn_join's documented ~100k-query
    ceiling removed while keeping exactness). The query cohort here is
    every 10th vector (50 at sf0.01) split over 2 blocks × 4 corpus
    chunks, so the gate actually exercises multi-cell candidate
    merging; the oracle is the same brute-force cross join as
    sim_knn_join's."""
    from ftm_lakehouse_spark.operators.similarity import knn_join_blocked

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 10 == 0)
    return knn_join_blocked(e, queries, k=5, corpus_chunks=4, query_blocks=2)


def _hyperplane_sig_sql(num_bits: int, dim: int, seed: int = 7) -> str:
    """SQL expression computing ``operators/similarity.hyperplane_signature``
    over a DOUBLE[] column ``v``: the seeded numpy hyperplane components
    embed as round-trippable float literals, so DuckDB reproduces the
    identical bigint signature (only the SIGN of each plane dot product
    matters, making the bits robust to summation-order float noise)."""
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal((num_bits, dim))
    return " + ".join(
        "CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(float(x)) for x in planes[b])
        + f"]) > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(num_bits)
    )


def _ann_lsh_oracle(
    k: int = 5,
    num_bits: int = 16,
    max_hamming: int = 4,
    dim: int = 64,
    query_ids: tuple[int, ...] = (0, 1, 2),
) -> str:
    """Replica of ``ann_lsh_topk``: 'approximate' only in WHICH
    candidates the hamming prefilter admits — and that filter is
    deterministic (seeded planes), so the final top-k is exactly
    reproducible. Ranks on the unrounded cosine with an id tiebreak,
    mirroring the Spark window spec."""
    cos = (
        "list_dot_product(c.v, q.v) / (sqrt(list_dot_product(c.v, c.v))"
        " * sqrt(list_dot_product(q.v, q.v)))"
    )
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), sig AS (
        SELECT vec_id, v, ({_hyperplane_sig_sql(num_bits, dim)}) AS sig FROM base
    ), cand AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid, {cos} AS cosine
        FROM sig c JOIN (SELECT * FROM sig WHERE vec_id IN ({ids})) q
          ON bit_count(xor(c.sig, q.sig)) <= {max_hamming}
    )
    SELECT qid, cid, round(cosine, 6) AS cosine
    FROM cand
    QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) <= {k}
    """


def _ivf_centroids(num_centroids: int = 8, dim: int = 64, seed: int = 11):
    import numpy as _np

    return _np.random.default_rng(seed).standard_normal((num_centroids, dim))


def _ivf_dists_sql(num_centroids: int, dim: int, seed: int) -> str:
    """Comma-joined per-centroid squared-L2 SQL expressions over ``v``,
    each a left-to-right ``+`` chain matching Spark's aggregate fold."""
    C = _ivf_centroids(num_centroids, dim, seed)
    return ", ".join(
        "(" + " + ".join(
            f"(v[{i + 1}] - ({C[j, i]!r}))*(v[{i + 1}] - ({C[j, i]!r}))"
            for i in range(dim)
        ) + ")"
        for j in range(num_centroids)
    )


def _ivf_assign_oracle(num_centroids: int = 8, dim: int = 64, seed: int = 11) -> str:
    """Nearest-centroid assignment against seeded literal centroids.

    Distances are left-to-right double sums on both engines (Spark's
    sequential zip_with/aggregate fold == DuckDB's ``+`` chain), and
    centroid components are repr() round-trip literals, so the argmin
    is float-identical — a full hash match for an 'approximate index'
    building block. Ties resolve to the first minimal index in both
    (array_position / list_position return the first occurrence)."""
    dists = _ivf_dists_sql(num_centroids, dim, seed)
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), d AS (
        SELECT vec_id, [{dists}] AS ds FROM base
    )
    SELECT vec_id, CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS centroid
    FROM d
    """


@_register("sim_ivf_assign", _ivf_assign_oracle())
def sim_ivf_assign(spark, sf_dir):
    """IVF coarse-quantizer assignment (the inverted-file ANN tier):
    every vector labeled with its nearest centroid, JVM-side argmin
    over broadcast-size centroid literals (similarity.ivf_assign).
    Centroids here are seeded so the oracle can embed them as literals;
    the k-means trainer itself is pinned by pytest
    (tests/test_dedupe_similarity.py)."""
    from ftm_lakehouse_spark.operators.similarity import ivf_assign

    e = load_table(spark, sf_dir, "embeddings")
    assigned, _ = ivf_assign(e, centroids=_ivf_centroids())
    return assigned.select("vec_id", "centroid")


@_register("sim_ann_lsh", _ann_lsh_oracle())
def sim_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH ANN top-k (deterministic seeded planes) — the
    scale path where the corpus never self-joins. The hamming prefilter
    is deterministic, so the DuckDB oracle reproduces the exact top-k:
    a full hash match despite the 'approximate' algorithm class."""
    from ftm_lakehouse_spark.operators.similarity import ann_lsh_topk

    e = load_table(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    queries = e.filter(F.col("vec_id").isin(0, 1, 2))
    return ann_lsh_topk(e, queries, k=5, num_bits=16, dim=dim, max_hamming=4)


# =====================================================================
# W2 — sessionization + pivot (stream-table analytics)
# =====================================================================

@_register(
    "w_sessionize",
    """
    WITH gaps AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                           OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800 * 1000000
                    OR lag(epoch_us(CAST(ts AS TIMESTAMP)))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT event_id, user_id, ts,
           CAST(sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS session_id
    FROM gaps
    """,
)
def w_sessionize(spark, sf_dir):
    """Sessionization: lag-gap detection + running count — the batch
    form of session_window (streaming form in streaming/journal.py)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    return (
        ev.withColumn("new_session", new_session)
        .withColumn(
            "session_id",
            F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .select("event_id", "user_id", "ts", "session_id")
    )


@_register(
    "a_pivot_status",
    """
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,4)))
                FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS open_total
    FROM orders GROUP BY o_orderpriority
    """,
)
def a_pivot_status(spark, sf_dir):
    """Pivot as conditional aggregation (explicit columns keep names
    deterministic across engines)."""
    o = load_table(spark, sf_dir, "orders")
    st = F.col("o_orderstatus")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(st == "O", 1)).alias("n_open"),
        F.count(F.when(st == "F", 1)).alias("n_finished"),
        F.count(F.when(st == "P", 1)).alias("n_pending"),
        F.sum(F.when(st == "O", _dec("o_totalprice"))).cast("double").alias("open_total"),
    )


# =====================================================================
# X — as-of join, cube, except (beyond-reference OLAP surface)
# =====================================================================

@_register(
    "x_asof_join",
    """
    WITH purchases AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events WHERE event_type = 'purchase'
    ), clicks AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS click_id
        FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.click_id AS click_id_right, c.ts AS click_ts_right
    FROM purchases p
    ASOF LEFT JOIN (SELECT user_id, ts, click_id, ts AS click_ts FROM clicks) c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def x_asof_join(spark, sf_dir):
    """As-of join (Spark lacks it natively): each purchase joined to the
    user's latest click at-or-before it. Implemented as the union+window
    carry-forward — ONE shuffle, no join operator. Oracle: DuckDB's
    native ASOF JOIN."""
    from ftm_lakehouse_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    return asof_join(purchases, clicks, on="user_id", ts="ts",
                     right_payload=["click_id", "click_ts"])


@_register(
    "a_cube_stats",
    """
    SELECT event_type, date_part('dow', CAST(ts AS TIMESTAMP)) AS dow,
           count(*) AS n, count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY CUBE (event_type, dow)
    """,
)
def a_cube_stats(spark, sf_dir):
    """CUBE over (event_type, day-of-week) — the facet-matrix scale path
    for the stats export (SURVEY §2.4 note)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("dow", F.dayofweek("ts").cast("long") - 1)
        .cube("event_type", "dow")
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users"))
    )


@_register(
    "u_except_ids",
    """
    SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
    FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
    FROM events WHERE event_type = 'purchase'
    """,
)
def u_except_ids(spark, sf_dir):
    """EXCEPT: user-days with clicks but no purchase (U2's set
    difference done engine-side instead of in Python sets)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    a = ev.filter(F.col("event_type") == "click").select("user_id", day)
    b = ev.filter(F.col("event_type") == "purchase").select("user_id", day)
    # subtract = EXCEPT (set semantics); exceptAll would keep leftover
    # multiplicities and diverge from SQL EXCEPT
    return a.subtract(b)


@_register(
    "x_approx_stats",
    """
    WITH hashed AS (
        SELECT DISTINCT event_type AS grp,
               CAST(('0x' || substring(md5('kmv:' || CAST(user_id AS VARCHAR)),
                                       1, 13)) AS BIGINT) AS h
        FROM events
    ),
    ranked AS (
        SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        FROM hashed
    ),
    kmv AS (
        SELECT grp, max(h) AS hk, CAST(count(*) AS BIGINT) AS k
        FROM ranked WHERE rn <= 64 GROUP BY grp
    ),
    samp AS (
        SELECT event_type AS grp, value FROM events
        WHERE CAST(('0x' || substring(md5('st:' || CAST(event_id AS VARCHAR)),
                                      1, 13)) AS BIGINT) % 10 = 0
    ),
    ord AS (
        SELECT grp, value,
               row_number() OVER (PARTITION BY grp ORDER BY value) AS rn,
               count(*) OVER (PARTITION BY grp) AS c
        FROM samp
    ),
    pct AS (
        SELECT grp,
               max(CASE WHEN rn = CAST(ceil(0.50 * c) AS BIGINT)
                        THEN value END) AS p50,
               max(CASE WHEN rn = CAST(ceil(0.95 * c) AS BIGINT)
                        THEN value END) AS p95,
               max(CASE WHEN rn = CAST(ceil(0.99 * c) AS BIGINT)
                        THEN value END) AS p99
        FROM ord GROUP BY grp
    ),
    tot AS (
        SELECT event_type AS grp, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY grp
    )
    SELECT tot.grp AS event_type,
           CAST(k - 1 AS DOUBLE) * 4503599627370496.0 / hk AS approx_users,
           p50, p95, p99, n
    FROM tot JOIN kmv ON tot.grp = kmv.grp LEFT JOIN pct ON tot.grp = pct.grp
    """,
)
def x_approx_stats(spark, sf_dir):
    """Sketch aggregates for 100 TB interactive stats — FULL-oracle
    since round 5 (the last rows-only gate retired, round-4 VERDICT
    item 8) by swapping estimator internals for PORTABLE deterministic
    constructions with the same asymptotics:

    * distinct users per type: the KMV sketch (k=64 minima of the
      md5→52-bit hash, estimate (k-1)·2^52 / h_k — every term exactly
      double-representable), replacing HLL whose register internals
      legitimately differ across engines;
    * percentiles: exact DISCRETE percentiles of a 10% deterministic
      hash sample (md5(event_id) % 10 — a sample any engine reproduces
      row-for-row), replacing KLL/GK summaries. Selection emits an
      actual data value (rn == ceil(q·c)), so no interpolation
      arithmetic can drift.

    Scale shape: KMV minima in the same two-phase (salt-then-global)
    rank as x_kmv_distinct; the sample percentile sorts 10% of rows
    per group — both mergeable, both bounded-state. HLL/KLL remain the
    right production choice inside Spark; this gate proves the STATS
    SURFACE (counts + quantiles + distincts) against an oracle."""
    from pyspark.sql import Window as W_win

    ev = load_table(spark, sf_dir, "events")
    hashed = (
        ev.select(
            F.col("event_type").alias("grp"),
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))),
                    1,
                    13,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    w1 = W_win.partitionBy("grp", F.pmod(F.col("h"), F.lit(64))).orderBy("h")
    w2 = W_win.partitionBy("grp").orderBy("h")
    kmv = (
        hashed.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= 64)
        .withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= 64)
        .groupBy("grp")
        .agg(F.max("h").alias("hk"), F.count("*").cast("bigint").alias("k"))
        .select(
            "grp",
            ((F.col("k") - 1).cast("double") * F.lit(4503599627370496.0) / F.col("hk"))
            .alias("approx_users"),
        )
    )
    samp = ev.filter(
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("st:"), F.col("event_id").cast("string"))),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(10),
        )
        == 0
    ).select(F.col("event_type").alias("grp"), "value")
    wv = W_win.partitionBy("grp").orderBy("value")
    wc = W_win.partitionBy("grp")
    ordd = samp.withColumn("rn", F.row_number().over(wv)).withColumn(
        "c", F.count("*").over(wc)
    )
    pct = ordd.groupBy("grp").agg(
        *[
            F.max(
                F.when(
                    F.col("rn") == F.ceil(F.lit(q) * F.col("c")).cast("bigint"),
                    F.col("value"),
                )
            ).alias(name)
            for q, name in ((0.50, "p50"), (0.95, "p95"), (0.99, "p99"))
        ]
    )
    tot = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    return (
        tot.join(kmv, "grp")
        .join(pct, "grp", "left")
        .select(
            F.col("grp").alias("event_type"), "approx_users", "p50", "p95", "p99", "n"
        )
    )


# =====================================================================
# M — the engine's own merge, oracle-checked (SURVEY §2.4 A1-A4 on the
# real operator, not a lookalike)
# =====================================================================

@_register(
    "ftm_canonicalize",
    """
    WITH stmts AS (
        SELECT CAST(user_id AS VARCHAR) || ':' || event_type || ':' ||
                   strftime(date_trunc('minute', CAST(ts AS TIMESTAMP)), '%Y%m%d%H%M')
                   AS id,
               CAST(user_id AS VARCHAR) AS entity_id,
               event_type AS prop,
               CASE WHEN event_type IN ('view', 'click') THEN 'f' ELSE '' END AS fragment,
               'events' AS origin,
               CAST(ts AS TIMESTAMP) AS first_seen,
               date_trunc('minute', CAST(ts AS TIMESTAMP)) AS last_seen,
               CASE WHEN event_type = 'error'
                    THEN date_trunc('minute', CAST(ts AS TIMESTAMP)) END AS deleted_at
        FROM events
    ),
    nonfrag AS (
        SELECT * REPLACE (min(first_seen) OVER (PARTITION BY origin, id) AS first_seen)
        FROM stmts WHERE fragment = ''
        QUALIFY row_number() OVER (
            PARTITION BY origin, id
            ORDER BY last_seen DESC, deleted_at DESC NULLS LAST
        ) = 1
    ),
    frag AS (
        SELECT * REPLACE (
            min(first_seen) OVER (PARTITION BY origin, entity_id, prop, fragment) AS first_seen)
        FROM stmts WHERE fragment <> ''
        QUALIFY last_seen = max(last_seen) OVER (
                     PARTITION BY origin, entity_id, prop, fragment)
            AND row_number() OVER (
                     PARTITION BY origin, entity_id, prop, fragment, id
                     ORDER BY last_seen DESC, deleted_at DESC NULLS LAST) = 1
    )
    SELECT id, entity_id, prop, fragment, first_seen, last_seen, deleted_at
    FROM nonfrag
    UNION ALL
    SELECT id, entity_id, prop, fragment, first_seen, last_seen, deleted_at
    FROM frag
    """,
)
def ftm_canonicalize(spark, sf_dir):
    """The engine's merge operator itself, hash-checked against the
    reference's two-branch dedupe SQL (logic/parquet.py:72-162)
    re-expressed in DuckDB. Events map to statement rows: minute-
    truncated last_seen creates real ties, view/click become a
    supersession fragment scope, errors become tombstones — exercising
    content dedupe, tie survival, tombstone tiebreak, and the
    first_seen fold in one query."""
    from ftm_lakehouse_spark.operators.merge import canonicalize

    return canonicalize(_events_as_statements(spark, sf_dir)).select(
        "id", "entity_id", "prop", "fragment", "first_seen", "last_seen", "deleted_at"
    )


def _events_as_statements(spark, sf_dir, where=None):
    """Events → deterministic statement rows (the ftm_canonicalize
    mapping, shared by the incremental and streaming gates).
    ``where``: optional cohort predicate applied to events first."""
    ev = load_table(spark, sf_dir, "events")
    if where is not None:
        ev = ev.filter(where)
    minute = F.date_trunc("minute", F.col("ts"))
    stmts = ev.select(
        F.lit("0").alias("shard"),
        F.concat_ws(
            ":",
            F.col("user_id").cast("string"),
            F.col("event_type"),
            F.date_format(minute, "yyyyMMddHHmm"),
        ).alias("id"),
        F.col("user_id").cast("string").alias("entity_id"),
        F.lit("testdata").alias("dataset"),
        F.lit("thing").alias("bucket"),
        F.lit("events").alias("origin"),
        F.lit(None).cast("string").alias("source"),
        F.lit("Event").alias("schema"),
        F.col("event_type").alias("prop"),
        F.lit("string").alias("prop_type"),
        F.col("props").alias("value"),
        F.lit(None).cast("string").alias("original_value"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(False).alias("external"),
        F.col("ts").alias("first_seen"),
        minute.alias("last_seen"),
        F.when(F.col("event_type").isin("view", "click"), F.lit("f"))
        .otherwise(F.lit(""))
        .alias("fragment"),
        F.when(F.col("event_type") == "error", minute).alias("deleted_at"),
    )
    return stmts


def _embedding_cosine_oracle(
    threshold: float = 0.9,
    num_bits: int = 16,
    max_hamming: int = 2,
    dim: int = 64,
    seed: int = 7,
) -> str:
    """Exact replica of ``embedding_near_dups``: the candidate set is
    "pairs sharing >= 1 hyperplane-signature chunk", then rounded exact
    cosine >= threshold — fully deterministic because the hyperplanes
    are seeded (numpy default_rng), so their float64 components embed
    here as round-trippable SQL literals. Only the SIGN of each plane
    dot product matters, so cross-engine summation-order noise (~1e-15)
    cannot flip a bit except for dots at machine epsilon of zero."""
    sig_terms = _hyperplane_sig_sql(num_bits, dim, seed)
    blocks = max_hamming + 1
    width = num_bits // blocks
    mask = (1 << width) - 1
    share_chunk = " OR ".join(
        f"((l.sig >> {b * width}) & {mask}) = ((r.sig >> {b * width}) & {mask})"
        for b in range(blocks)
    )
    cos = (
        "round(list_dot_product(l.v, r.v) / (sqrt(list_dot_product(l.v, l.v))"
        " * sqrt(list_dot_product(r.v, r.v))), 6)"
    )
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), sig AS (
        SELECT vec_id, v, ({sig_terms}) AS sig FROM base
    )
    SELECT l.vec_id AS a, r.vec_id AS b, {cos} AS cosine
    FROM sig l JOIN sig r
      ON l.vec_id < r.vec_id AND ({share_chunk})
    -- zero-norm guard: 0/0 = NaN, which DuckDB (and Spark) order above
    -- every number, so the threshold alone would include
    -- undefined-cosine pairs; the engine excludes them explicitly
    WHERE list_dot_product(l.v, l.v) > 0 AND list_dot_product(r.v, r.v) > 0
      AND {cos} >= {threshold}
    """


@_register("dedup_embedding_cosine", _embedding_cosine_oracle(threshold=0.4))
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs: hyperplane-LSH pigeonhole
    blocking + exact rounded-cosine threshold verify (the vector tier
    of the dedup suite — no O(n²) stage). Threshold 0.4 here: the
    synthetic corpus plants no true near-dups (max pairwise cosine
    ~0.51), and a 0-row gate would be vacuous. The oracle recomputes
    the identical seeded signatures and the chunk-sharing candidate
    condition in DuckDB, so the comparison is a full hash match."""
    from ftm_lakehouse_spark.operators.dedupe import embedding_near_dups

    e = load_table(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    return embedding_near_dups(e, threshold=0.4, dim=dim)


@_register(
    "x_range_join",
    """
    SELECT e1.event_id AS error_id, e2.event_id AS click_id_right,
           e1.user_id
    FROM events e1
    JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.event_type = 'click'
     AND abs(epoch_us(CAST(e1.ts AS TIMESTAMP))
             - epoch_us(CAST(e2.ts AS TIMESTAMP))) <= 600 * 1000000
    WHERE e1.event_type = 'error'
    """,
)
def x_range_join(spark, sf_dir):
    """Range/proximity join (Spark has no native one): every error event
    paired with same-user clicks within ±10 minutes. Bucketized
    equi-join + residual filter — shuffles on (user, bucket) instead of
    a BroadcastNestedLoopJoin. Oracle: DuckDB inequality join."""
    from ftm_lakehouse_spark.operators.range_join import proximity_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    out = proximity_join(errors, clicks, on="user_id", ts="ts", max_delta_s=600)
    return out.select("error_id", "click_id_right", "user_id")


@_register(
    "a_exact_percentiles",
    """
    SELECT event_type,
           round(median(value), 6) AS median_value,
           round(quantile_cont(value, 0.95), 6) AS p95_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value
    FROM events GROUP BY event_type
    """,
)
def a_exact_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (the non-sketch tier; the sketch
    tier is x_approx_stats). Both engines do linear interpolation over
    the sorted group."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


@_register(
    "text_edit_distance",
    """
    SELECT doc_id,
           levenshtein(substring(lower(text), 1, 16), 'data processing') AS edit_dist
    FROM documents
    """,
)
def text_edit_distance(spark, sf_dir):
    """Levenshtein distance (fuzzy-match scalar, integer-exact across
    engines) — the cheap pre-filter for fuzzy entity-name matching."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.levenshtein(
            F.substring(F.lower("text"), 1, 16), F.lit("data processing")
        ).alias("edit_dist"),
    )


# =====================================================================
# T2 — corpus analytics / pipeline plumbing
# =====================================================================

@_register(
    "text_tfidf_top_terms",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks, unnest(t) AS u(term)
        GROUP BY doc_id, term
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf
    FROM scored
    QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term
    ) <= 3
    """,
)
def text_tfidf_top_terms(spark, sf_dir):
    """TF-IDF: term frequency × inverse document frequency, top-3 terms
    per document. The classic corpus-statistics shape, all JVM-side.

    Scale shape (round-8 rewrite): (doc_id, term, tf) collapses
    ROW-LOCALLY by run-length encoding each document's sorted token
    array (text_novelty_score's technique) — the previous
    groupBy(doc_id, term) shuffled every token occurrence (2.65B rows
    at sf100, vs ~200M collapsed pairs that now never shuffle at all).
    Because the pair stream carries one row per (doc, term), document
    frequency is a plain count(*) fold at term grain (the old form
    paid a countDistinct). The df join back is LEFT OUTER — inner and
    left are identical here since every pair's term has df >= 1, and
    the outer probe pins the broadcast build side by join semantics,
    immunizing against the estimate-blind wrong-side broadcast
    text_novelty_score documents. The only full-width exchange left is
    the per-doc top-3 window on the collapsed pairs. 70.7 s -> 49.6 s
    at sf100; beats the single-node oracle on the 1.5M-row sf10 full
    frame."""
    from ftm_lakehouse_spark.functions.text import tokens

    d = _spread(load_table(spark, sf_dir, "documents"))
    n_docs = d.count()
    rle = F.expr(
        """
        CASE WHEN size(sp) >= 1 THEN
          zip_with(
            sp, concat(slice(sp, 2, size(sp) - 1), array(size(st) + 1)),
            (s, e) -> struct(element_at(st, s) AS term,
                             CAST(e - s AS BIGINT) AS tf))
        ELSE CAST(array() AS array<struct<term:string,tf:bigint>>) END
        """
    )
    tf = (
        d.select("doc_id", F.array_sort(tokens(F.col("text"))).alias("st"))
        .withColumn(
            "sp",
            F.expr(
                "CASE WHEN size(st) >= 1 THEN"
                " filter(sequence(1, size(st)),"
                " i -> i = 1 OR element_at(st, i) != element_at(st, i - 1))"
                " ELSE CAST(array() AS array<int>) END"
            ),
        )
        .select("doc_id", F.explode(rle).alias("p"))
        .select("doc_id", F.col("p.term").alias("term"), F.col("p.tf").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(df, "term", "left").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@_register(
    "sample_hash_based",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE substring(md5('salt1:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
    """,
)
def sample_hash_based(spark, sf_dir):
    """Deterministic ~10% sample via content hashing — reproducible on
    any engine and stable under reruns/repartitioning, unlike RNG-based
    sampling (the right tool for carving eval sets out of a 100 TB
    corpus). '1a' hex ≈ 26/256 ≈ 10.2% expected rate."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(
        F.md5(F.concat(F.lit("salt1:"), F.col("doc_id").cast("string"))), 1, 2
    )
    return d.filter(bucket < "1a").select("doc_id", "lang", "n_chars")


@_register(
    "split_train_val_test",
    """
    WITH hashed AS (
        SELECT doc_id, lang,
               CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4))
                    AS INTEGER) % 100 AS bucket
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM hashed
    """,
)
def split_train_val_test(spark, sf_dir):
    """Deterministic 80/10/10 split by hashed id — membership is a pure
    function of the id, so incremental corpus additions never reshuffle
    existing examples across splits."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("int"),
        F.lit(100),
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return d.select("doc_id", "lang", split.alias("split"))


# =====================================================================
# IVF probe search + native session_window (round-2 additions)
# =====================================================================


def _ivf_topk_oracle(
    query_ids=(0, 1, 2),
    k: int = 5,
    nprobe: int = 2,
    num_centroids: int = 8,
    dim: int = 64,
    seed: int = 11,
) -> str:
    """Replica of ``ivf_topk``: assignment argmin and per-query probe
    ranking use the same left-to-right distance folds as the assign
    oracle, so the probed cell set — and therefore the candidate set —
    is float-identical. DuckDB zips the parallel ``unnest`` calls to
    (distance, centroid-index) pairs; cosine re-rank mirrors the ANN
    oracle."""
    dists = _ivf_dists_sql(num_centroids, dim, seed)
    ids = ", ".join(str(i) for i in query_ids)
    cos = (
        "list_dot_product(a.v, p.qv) / (sqrt(list_dot_product(a.v, a.v))"
        " * sqrt(list_dot_product(p.qv, p.qv)))"
    )
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), d AS (
        SELECT vec_id, v, [{dists}] AS ds FROM base
    ), assigned AS (
        SELECT vec_id, v,
               CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS centroid
        FROM d
    ), probe0 AS (
        SELECT vec_id AS qid, v AS qv, unnest(ds) AS dist,
               unnest(range(0, {num_centroids})) AS centroid
        FROM d WHERE vec_id IN ({ids})
    ), probe AS (
        SELECT qid, qv, CAST(centroid AS INT) AS centroid FROM probe0
        QUALIFY row_number() OVER (
            PARTITION BY qid ORDER BY dist ASC, centroid ASC) <= {nprobe}
    ), cand AS (
        SELECT p.qid AS qid, a.vec_id AS cid, {cos} AS cosine
        FROM assigned a JOIN probe p ON a.centroid = p.centroid
    )
    SELECT qid, cid, round(cosine, 6) AS cosine FROM cand
    QUALIFY row_number() OVER (
        PARTITION BY qid ORDER BY cosine DESC, cid ASC) <= {k}
    """


@_register("sim_ivf_topk", _ivf_topk_oracle())
def sim_ivf_topk(spark, sf_dir):
    """IVF probe search (the inverted-file ANN read path): corpus
    labeled by nearest centroid once, each query probes its nprobe
    nearest cells via an EQUI-join on the cell id — scan fraction
    ~nprobe/num_centroids, no BroadcastNestedLoopJoin at any
    query-batch size. Deterministic seeded centroids let the oracle
    reproduce the exact probe set, so the 'approximate' index still
    gets a full hash match."""
    from ftm_lakehouse_spark.operators.similarity import ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id").isin(0, 1, 2))
    return ivf_topk(e, queries, centroids=_ivf_centroids(), k=5, nprobe=2)


@_register(
    "w_session_window",
    """
    WITH gaps AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                         - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                           OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= 1800 * 1000000
                    OR lag(epoch_us(CAST(ts AS TIMESTAMP)))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sess AS (
        SELECT user_id, ts,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM gaps
    )
    SELECT user_id,
           min(ts) AS window_start,
           max(ts) + INTERVAL 30 MINUTE AS window_end,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM sess GROUP BY user_id, session_id
    """,
)
def w_session_window(spark, sf_dir):
    """Native session_window gap-merge aggregation (the batch face of
    the streaming sessionizer in streaming/sessionize.py). Oracle is
    the gaps-and-islands formulation; note Spark opens a NEW session
    when the gap is >= the duration (window ends are exclusive), hence
    >= where w_sessionize's convention uses >."""
    from ftm_lakehouse_spark.streaming.sessionize import session_window_stats

    ev = load_table(spark, sf_dir, "events")
    return session_window_stats(ev, gap="30 minutes", ts_col="ts", key_col="user_id")


@_register(
    "w_tumbling_window",
    """
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
               + INTERVAL '1 hour' AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def w_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour window aggregation — the batch face of the
    watermarked streaming window (same F.window call runs under
    readStream + withWatermark; stream==batch equivalence pinned by
    tests/test_streaming_sessionize.py). Spark's window() aligns to
    the epoch exactly like DuckDB's time_bucket."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@_register(
    "w_hopping_window",
    """
    WITH hops AS (
        SELECT value,
               time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                   - unnest([INTERVAL '0 minutes', INTERVAL '30 minutes'])
                   AS window_start,
               CAST(ts AS TIMESTAMP) AS ts
        FROM events
    )
    SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
    FROM hops
    WHERE ts >= window_start AND ts < window_start + INTERVAL '1 hour'
    GROUP BY 1, 2
    """,
)
def w_hopping_window(spark, sf_dir):
    """Hopping (sliding) window: 1-hour windows every 30 minutes, so
    each event lands in exactly 2 windows. Spark's window() explodes
    the overlap internally; the oracle materializes the same 2
    candidate window starts per event and filters to containment."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


@_register(
    "text_repetition_ratio",
    """
    WITH words AS (
        SELECT doc_id, w
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
            FROM documents
        ) WHERE w <> ''
    ), counts AS (
        SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_words,
           CAST(max(c) AS BIGINT) AS top_word_count,
           round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_word_ratio
    FROM counts GROUP BY doc_id
    """,
)
def text_repetition_ratio(spark, sf_dir):
    """Repetition-based quality signal (the Gopher/RefinedWeb
    'most-common-word fraction' rule): highly repetitive machine text
    scores near 1. ASCII-class tokenizer for cross-engine regex parity.

    Both statistics are WITHIN-document, so the gate is one map pass
    (round-8 rewrite, same move as text_repetition_stats): n_words is
    the token-array size and the most-common word's count is the
    longest equal run in the sorted token array, taken by a row-local
    aggregate() fold. The previous form exploded every token into a
    groupBy(doc_id, w) + re-aggregation — two exchanges carrying 2.65B
    occurrence rows at sf100 (38.4 s) for per-row statistics (20.6 s
    rewritten). Zero shuffles, zero joins, at any corpus size."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    top = F.expr(
        """
        aggregate(
          st,
          struct(CAST(NULL AS STRING) AS prev,
                 CAST(0 AS BIGINT) AS run,
                 CAST(0 AS BIGINT) AS best),
          (a, x) -> struct(
              x AS prev,
              CASE WHEN a.prev IS NOT NULL AND x = a.prev
                   THEN a.run + 1L ELSE 1L END AS run,
              greatest(a.best,
                       CASE WHEN a.prev IS NOT NULL AND x = a.prev
                            THEN a.run + 1L ELSE 1L END) AS best),
          a -> a.best)
        """
    )
    return (
        d.select(
            "doc_id",
            F.array_sort(
                F.array_remove(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), "")
            ).alias("st"),
        )
        .filter(F.size("st") >= 1)
        .select(
            "doc_id",
            F.size("st").cast("bigint").alias("n_words"),
            top.alias("top_word_count"),
            F.round(
                top.cast("double") / F.size("st").cast("bigint"), 6
            ).alias("top_word_ratio"),
        )
    )


@_register(
    "text_benchmark_overlap",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(t) - 7, 0)),
            i -> md5(array_to_string(t[i:i+7], ' '))))) AS h
        FROM toks WHERE len(t) >= 8
    )
    SELECT c.doc_id AS doc_id, b.doc_id AS bench_id,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM sh c JOIN sh b ON c.h = b.h
    WHERE c.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
    GROUP BY 1, 2
    """,
)
def text_benchmark_overlap(spark, sf_dir):
    """Benchmark decontamination: docs sharing a verbatim 8-word
    shingle with the held-out 'benchmark' slice (doc_id % 20 == 0).
    Candidates via equi-join on md5 shingle keys, benchmark side
    broadcast — the eval-leakage sweep a training pipeline runs before
    every data release."""
    from ftm_lakehouse_spark.operators.dedupe import benchmark_overlap

    d = load_table(spark, sf_dir, "documents")
    return benchmark_overlap(
        d.filter(F.col("doc_id") % 20 != 0),
        d.filter(F.col("doc_id") % 20 == 0),
        n=8,
    )


@_register(
    "sim_quantize_int8",
    """
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), s AS (
        SELECT vec_id, v,
               greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
                        1e-12) AS scale
        FROM base
    ), q AS (
        SELECT vec_id, scale,
               list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) AS q
        FROM s
    )
    SELECT vec_id, round(scale, 6) AS scale,
           CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
           CAST(list_max(q) AS BIGINT) AS q_max,
           CAST(list_sum(q) AS BIGINT) AS q_sum
    FROM q
    """,
)
def sim_quantize_int8(spark, sf_dir):
    """Symmetric int8 embedding quantization (float32 corpus → 1/4 the
    bytes) projected to scalar audit stats — integer sums are
    order-independent, so the gate is immune to float summation noise;
    the explicit floor(+0.5) rounding is reproducible across engines.
    No list column in the output (driver canon can't sort lists)."""
    from ftm_lakehouse_spark.functions.vectors import quantize_int8

    e = load_table(spark, sf_dir, "embeddings")
    qz = e.select("vec_id", quantize_int8(F.col("embedding")).alias("qz"))
    return qz.select(
        "vec_id",
        F.round(F.col("qz.scale"), 6).alias("scale"),
        F.aggregate(
            F.col("qz.q"), F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
        ).alias("q_l1"),
        F.array_max("qz.q").cast("long").alias("q_max"),
        F.aggregate(
            F.col("qz.q"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("q_sum"),
    )


@_register(
    "dedup_chunks",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM documents
    ), ch AS (
        SELECT doc_id, unnest(list_transform(
            generate_series(0, CAST(floor(len(t) / 20) AS INT) - 1),
            i -> md5(array_to_string(t[i*20+1 : i*20+20], ' ')))) AS h
        FROM toks WHERE len(t) >= 20
    )
    SELECT h AS chunk_hash,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM ch GROUP BY 1 HAVING count(*) > 1
    """,
)
def dedup_chunks(spark, sf_dir):
    """Passage-granularity exact dedup: 20-word non-overlapping chunks
    hashed and counted across the corpus — catches boilerplate/license
    blocks document-level hashing can't. One groupBy on 32-byte keys."""
    from ftm_lakehouse_spark.operators.dedupe import duplicate_chunks

    d = load_table(spark, sf_dir, "documents")
    return duplicate_chunks(d, chunk_words=20)


@_register(
    "sample_stratified",
    """
    SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(('0x' || substring(md5('strat:' ||
                       CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 40
    """,
)
def sample_stratified(spark, sf_dir):
    """Deterministic stratified sample: the 40 smallest salted-hash
    draws per language — equal stratum representation regardless of
    corpus skew, stable under reruns and appends."""
    from ftm_lakehouse_spark.operators.sampling import stratified_sample

    d = load_table(spark, sf_dir, "documents")
    return stratified_sample(d, "lang", 40).select("doc_id", "lang", "source")


@_register(
    "sample_temperature_mix",
    """
    WITH counts AS (
        SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ), rates AS (
        SELECT lang,
               round(pow(CAST((SELECT min(n) FROM counts) AS DOUBLE) / n,
                         0.3), 6) AS keep_rate
        FROM counts
    )
    SELECT d.doc_id AS doc_id, d.lang AS lang, r.keep_rate AS keep_rate
    FROM documents d JOIN rates r USING (lang)
    WHERE CAST(('0x' || substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)),
                1, 6)) AS BIGINT)
          < CAST(floor(r.keep_rate * 16777216) AS BIGINT)
    """,
)
def sample_temperature_mix(spark, sf_dir):
    """Temperature-scaled language rebalancing (keep-rate
    (n_min/n_s)^0.3, i.e. alpha=0.7): post-mix sizes follow n^alpha,
    the standard multilingual-corpus flattening — en (218 docs at
    sf0.01) is downsampled ~30%, the smallest stratum keeps all.
    Counts aggregate is tiny and broadcast back; the corpus never
    shuffles. Membership is an integer hash-threshold compare, exact
    cross-engine."""
    from ftm_lakehouse_spark.operators.sampling import temperature_mix

    d = load_table(spark, sf_dir, "documents")
    return temperature_mix(d, "lang", alpha=0.7).select(
        "doc_id", "lang", "keep_rate"
    )


@_register(
    "text_decontaminate",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(t) - 7, 0)),
            i -> md5(array_to_string(t[i:i+7], ' '))))) AS h
        FROM toks WHERE len(t) >= 8
    ), bad AS (
        SELECT DISTINCT c.doc_id
        FROM sh c JOIN sh b ON c.h = b.h
        WHERE c.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
    )
    SELECT d.doc_id AS doc_id, d.source AS source
    FROM documents d
    WHERE d.doc_id % 20 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def text_decontaminate(spark, sf_dir):
    """The decontamination PURGE: corpus docs surviving after removing
    everything that shares a verbatim 8-word shingle with the held-out
    benchmark slice — benchmark_overlap composed with a left anti-join
    (the shape of the pre-release sweep: detect, then drop)."""
    from ftm_lakehouse_spark.operators.dedupe import benchmark_overlap

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 20 != 0)
    bench = d.filter(F.col("doc_id") % 20 == 0)
    bad = benchmark_overlap(corpus, bench, n=8).select("doc_id").distinct()
    return corpus.join(bad, "doc_id", "left_anti").select("doc_id", "source")


@_register(
    "text_pii_scrub",
    r"""
    SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(
        'contact u' || doc_id || '@mail' || (doc_id % 7) ||
        '.example.org or 10.' || (doc_id % 200) || '.0.' ||
        (doc_id % 250) || ' tel +44 20 7' ||
        lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || ' 0999 end',
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        '\+?[0-9][0-9()\[\]. -]{6,}[0-9]', '<PHONE>', 'g') AS scrubbed
    FROM documents
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII redaction over synthesized contact strings (the corpus text
    itself carries no PII, so the gate plants a deterministic
    email+IP+phone per row): regexp_replace chain, JVM-side, patterns
    written to the Java/RE2 common subset so both engines agree."""
    from ftm_lakehouse_spark.functions.text import pii_scrub

    d = load_table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    synth = F.concat(
        F.lit("contact u"), i.cast("string"),
        F.lit("@mail"), (i % 7).cast("string"),
        F.lit(".example.org or 10."), (i % 200).cast("string"),
        F.lit(".0."), (i % 250).cast("string"),
        F.lit(" tel +44 20 7"),
        F.lpad((i % 1000).cast("string"), 3, "0"),
        F.lit(" 0999 end"),
    )
    return d.select("doc_id", pii_scrub(synth).alias("scrubbed"))


@_register(
    "w_range_frame",
    """
    SELECT event_id, user_id,
           CAST(sum(CAST(value AS DECIMAL(12,4))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS mov_sum_1h
    FROM events
    """,
)
def w_range_frame(spark, sf_dir):
    """Window with a RANGE (value-based) frame: per-user moving sum of
    the trailing hour, frame bounds in epoch microseconds on both
    engines so sub-second timestamps can't straddle the boundary
    differently. Complements the ROWS frame of w_running_total."""
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(_dec("value")).over(w).cast("double").alias("mov_sum_1h"),
    )


@_register(
    "a_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
)
def a_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the general form rollup/cube sugar over)
    — detail, per-status subtotal, and grand total in one pass; Spark
    expands the sets map-side, still a single shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count("*").alias("n"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    )


@_register(
    "j_interval_attribution",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def j_interval_attribution(spark, sf_dir):
    """Batch face of the stream-stream attribution join
    (streaming/joins.interval_join): purchases matched to clicks by the
    same user within a 30-minute horizon. The identical code path runs
    as a watermarked stream-stream join with O(horizon) state."""
    from ftm_lakehouse_spark.streaming.joins import interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return interval_join(clicks, purchases, horizon="30 minutes").select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("purchase_id"),
    )


# =====================================================================
# Round-2 batch 3: sequence analytics, semi-structured columns,
# skew-safe aggregation, recursive hierarchy, corpus n-gram stats
# =====================================================================

@_register(
    "w_lag_lead",
    """
    SELECT event_id, user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS us_since_prev,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS next_type
    FROM events
    """,
)
def w_lag_lead(spark, sf_dir):
    """lag/lead navigation over the per-user event timeline (reference
    has no window engine; DuckDB supplies it for journal diffs). The
    window is partitioned by user — no global sort, one hash shuffle on
    user_id, per-partition sort only."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    us = F.unix_micros("ts")
    return e.select(
        "event_id",
        "user_id",
        (us - F.lag(us).over(w)).alias("us_since_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@_register(
    "x_funnel_stages",
    """
    WITH v AS (
        SELECT user_id, min(ts) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.t_view
          AND e.ts <= v.t_view + INTERVAL 1 DAY
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t_buy
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          AND e.ts <= c.t_click + INTERVAL 1 DAY
        GROUP BY e.user_id
    )
    SELECT CAST(1 + CAST(c.user_id IS NOT NULL AS INTEGER)
                  + CAST(p.user_id IS NOT NULL AS INTEGER) AS INTEGER) AS stage,
           count(*) AS n_users
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    GROUP BY stage
    """,
)
def x_funnel_stages(spark, sf_dir):
    """Ordered-funnel conversion (view -> click -> purchase, each stage
    within a 1-day horizon of the previous): each stage is a
    min-after-threshold aggregation, so the whole funnel is three
    groupBys + two joins on user_id — every shuffle is on the same key,
    so AQE coalesces them into co-partitioned exchanges; no window over
    the full event stream and no event_type skew sensitivity.

    Round-12 (guide §1.3): each stage table feeds the NEXT stage's
    derivation AND the final three-way join, and Catalyst re-executes
    common subtrees per branch — the audited plan scanned events six
    times (v's view scan ran in 3 branches, c's click scan in 2).
    Materializing v and c once (per-user grain, two narrow columns)
    cuts it to one scan per event type; p is consumed once and stays
    lazy. Same rows — the checkpoint only pins the stage output."""
    e = load_table(spark, sf_dir, "events")
    day = F.expr("INTERVAL 1 DAY")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .localCheckpoint(eager=True, storageLevel=_DISK)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t_view")) & (F.col("ts") <= F.col("t_view") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .localCheckpoint(eager=True, storageLevel=_DISK)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t_click")) & (F.col("ts") <= F.col("t_click") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    stage = (
        F.lit(1)
        + F.col("t_click").isNotNull().cast("int")
        + F.col("t_buy").isNotNull().cast("int")
    ).cast("int")
    return (
        v.join(c.select("user_id", "t_click"), "user_id", "left")
        .join(p.select("user_id", "t_buy"), "user_id", "left")
        .select(stage.alias("stage"))
        .groupBy("stage")
        .agg(F.count("*").alias("n_users"))
    )


@_register(
    "w_ntile_quartiles",
    """
    SELECT c_nationkey, quartile, count(*) AS n,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,4))) AS DOUBLE) AS bal_sum
    FROM (
        SELECT c_nationkey, c_acctbal,
               ntile(4) OVER (
                   PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
               ) AS quartile
        FROM customer
    )
    GROUP BY c_nationkey, quartile
    """,
)
def w_ntile_quartiles(spark, sf_dir):
    """ntile bucketing per nation (balance quartiles). Partitioned by
    nation so there is no global sort; the order key carries c_custkey
    as a unique tiebreak, making bucket assignment deterministic in
    both engines."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return (
        c.select("c_nationkey", "c_acctbal", F.ntile(4).over(w).alias("quartile"))
        .groupBy("c_nationkey", "quartile")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("c_acctbal")).cast("double").alias("bal_sum"),
        )
    )


@_register(
    "x_json_extract",
    """
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
           count(*) AS n,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
    FROM events
    GROUP BY event_type, k_mod
    """,
)
def x_json_extract(spark, sf_dir):
    """Semi-structured column access: JSON path extraction from the
    events props payload, then a grouped rollup on the extracted value.
    get_json_object is JVM-side (Jackson) — no Python in the path; at
    scale the extraction is a per-row map fused into the scan stage."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", (k % 10).alias("k_mod"), k.alias("k"))
        .groupBy("event_type", "k_mod")
        .agg(F.count("*").alias("n"), F.max("k").alias("k_max"))
    )


@_register(
    "a_skew_salted",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY event_type
    """,
)
def a_skew_salted(spark, sf_dir):
    """Grades operators/skew.py: two-phase salted aggregation (count +
    exact sum) joined with salted exact count-distinct. The salt splits
    each hot key across num_salts reducers; the combine shuffle moves
    only num_keys x num_salts pre-aggregated rows, so a single hot
    event_type can no longer pin one reducer. Results are exact — the
    oracle is the plain GROUP BY."""
    from ftm_lakehouse_spark.operators.skew import salted_agg, salted_count_distinct

    e = load_table(spark, sf_dir, "events")
    totals = salted_agg(
        e,
        ["event_type"],
        {
            "n_events": (F.count("*"), F.sum("n_events").cast("long")),
            "value_sum": (F.sum(_dec("value")), F.sum("value_sum")),
        },
    )
    uniques = salted_count_distinct(e, ["event_type"], "user_id", out="n_users")
    return (
        totals.join(F.broadcast(uniques), "event_type")
        .select(
            "event_type",
            "n_users",
            "n_events",
            F.col("value_sum").cast("double").alias("value_sum"),
        )
    )


@_register(
    "graph_parent_chain",
    """
    WITH RECURSIVE nodes AS (
        SELECT doc_id AS id,
               CASE WHEN doc_id = 0 THEN NULL ELSE (doc_id - 1) // 2 END AS parent,
               'd' || doc_id AS name
        FROM documents
    ), chain AS (
        SELECT id, parent AS cursor, name AS path, 0 AS depth FROM nodes
        UNION ALL
        SELECT c.id, n.parent, n.name || '/' || c.path, c.depth + 1
        FROM chain c JOIN nodes n ON c.cursor = n.id
    )
    SELECT id, path, depth FROM chain WHERE cursor IS NULL
    """,
)
def graph_parent_chain(spark, sf_dir):
    """Grades operators/graph.resolve_parent_chains (reference J5 folder
    paths, repository/documents.py:53-86) against a recursive-CTE
    oracle. The hierarchy is derived deterministically from doc_id
    (binary-heap parent), depth ~ log2(n); the Spark side is pointer
    doubling — one shuffle self-join per round, rounds = O(log depth),
    no broadcast of the node table."""
    from ftm_lakehouse_spark.operators.graph import resolve_parent_chains

    d = load_table(spark, sf_dir, "documents")
    nodes = d.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("doc_id") == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("(doc_id - 1) div 2"))
        .alias("parent"),
        F.concat(F.lit("d"), F.col("doc_id")).alias("name"),
    )
    return resolve_parent_chains(nodes).select(
        "id", "path", F.col("depth").cast("int").alias("depth")
    )


@_register(
    "text_bigram_topk",
    """
    WITH toks AS (
        SELECT lang,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM documents
    ), big AS (
        SELECT lang, u.bigram
        FROM (
            SELECT lang,
                   list_transform(range(1, len(t)),
                                  i -> t[i] || ' ' || t[i + 1]) AS bs
            FROM toks
        ), unnest(bs) AS u(bigram)
    ), counted AS (
        SELECT lang, bigram, count(*) AS n
        FROM big GROUP BY lang, bigram
    )
    SELECT lang, bigram, n
    FROM counted
    QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) <= 10
    """,
)
def text_bigram_topk(spark, sf_dir):
    """Corpus n-gram statistics: top-10 bigrams per language. Tokens are
    ASCII-class split (Java regex == RE2 == DuckDB); adjacent-pair
    construction is a JVM higher-order transform (no Python); the
    count is a map-side-combined groupBy and the top-k a per-lang
    window with a lexicographic tiebreak."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "lang",
        F.filter(
            F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != F.lit("")
        ).alias("t"),
    )
    bigrams = toks.select(
        "lang",
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram"),
    )
    counted = bigrams.groupBy("lang", "bigram").agg(F.count("*").alias("n"))
    w = W.partitionBy("lang").orderBy(F.desc("n"), "bigram")
    return (
        counted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10)
        .drop("_rn")
    )


@_register(
    "sim_centroid_stats",
    """
    SELECT label, count(*) AS n,
           CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS s0,
           CAST(sum(CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS s1,
           CAST(sum(CAST(floor(CAST(embedding[3] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS s2,
           CAST(sum(CAST(floor(CAST(embedding[4] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS s3
    FROM embeddings
    GROUP BY label
    """,
)
def sim_centroid_stats(spark, sf_dir):
    """Per-label centroid accumulation (the reduce side of a k-means /
    class-prototype step): element sums of the first dims, carried as
    scaled int64 so float summation order cannot perturb the result
    (IEEE double -> floor(x * 1e6) is identical in both engines).
    One map-side-combined shuffle; the array never travels — only the
    4 projected scalars."""
    em = load_table(spark, sf_dir, "embeddings")

    def s(i):
        return F.sum(
            F.floor(F.element_at("embedding", i + 1).cast("double") * 1_000_000).cast(
                "long"
            )
        ).alias(f"s{i}")

    return em.groupBy("label").agg(
        F.count("*").alias("n"), s(0), s(1), s(2), s(3)
    )


@_register(
    "text_novelty_score",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM documents
    ), bi AS (
        SELECT doc_id, u.bigram
        FROM (
            SELECT doc_id,
                   list_transform(range(1, len(t)),
                                  i -> t[i] || ' ' || t[i + 1]) AS bs
            FROM toks
        ), unnest(bs) AS u(bigram)
    ), corpus AS (
        SELECT bigram, count(*) AS cnt FROM bi GROUP BY bigram
    )
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           CAST(sum(CASE WHEN c.cnt >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           round((count(*) - sum(CASE WHEN c.cnt >= 5 THEN 1 ELSE 0 END))
                 / CAST(count(*) AS DOUBLE), 6) AS novelty
    FROM bi b JOIN corpus c USING (bigram)
    GROUP BY b.doc_id
    """,
)
def text_novelty_score(spark, sf_dir):
    """Duplication-aware quality signal (the curation filter behind
    boilerplate down-weighting): per document, the fraction of its
    bigram occurrences that are corpus-rare (<5 total occurrences).
    Near-duplicate/boilerplate docs score near 0, novel text near 1.

    Distributed shape (round-8 rewrite; the naive explode→count→join
    form was a planner trap and the profiled bottleneck of the text
    family). Three moves, each load-bearing at 100 TB:

    1. ROW-LOCAL pair collapse: per document the bigram array is
       sorted and run-length encoded into (bigram, k) structs by pure
       array expressions (the winnowing rewrite's technique), so the
       occurrence stream never shuffles at raw grain — a groupBy
       (doc_id, bigram) would move every occurrence; this moves
       nothing and its map-side output is already exact.
    2. Corpus counts fold the pair stream to VALUE grain (sum k by
       bigram, map-side combined — hot boilerplate bigrams collapse
       per partition instead of pinning a reducer), then filter to
       the cnt>=5 'common' set, which is what the score actually
       needs.
    3. The score joins pairs LEFT OUTER against that common set —
       and a left-outer broadcast hash join can only BUILD RIGHT, so
       the join's build side is pinned by SEMANTICS, not statistics.
       That matters: in the old inner-join form, the probe side's
       size estimate (a Project+Generate above the repartition
       exchange — schema-width guesses, blind to the ~50x explode
       expansion) collapsed below the count table's, and Spark
       broadcast the 3.1 GiB EXPLODED stream, single-threading the
       relation build on the driver: measured 35-44 s at sf10,
       near-flat 54 s at sf100 (parallelism grew only with input
       bytes, not work). Here the streamed side cannot be built no
       matter what the estimates say; when the common set outgrows
       the broadcast regime the join degrades to a skew-aware
       co-partitioned join at PAIR grain (the collapsed stream, not
       raw occurrences).

    Net plan: zero raw-grain shuffles — the only exchanges are the
    value-grain corpus fold and the 1-row-per-doc final aggregate
    (the pair stream is re-derived map-side for the two consumers,
    trading one repeated tokenize pass, embarrassingly parallel CPU,
    for never moving occurrences over the network). Measured: 35-40 s
    -> 9.7 s at sf10; at sf100 69 s vs the old plan's 54 s — but the
    old 54 s depended on the replica corpus's 931 distinct bigrams
    making the count table broadcastable, luck a real corpus (1e9+
    distinct bigrams) does not offer; this plan's fallback is a
    collapsed-grain skew-aware join instead of a raw-grain one."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != F.lit("")
        ).alias("t"),
    )
    # run-length encode the sorted bigram array: starts = 1-based
    # positions where the value changes; zip each start with the next
    # start to get the run length k. All row-local.
    rle = F.expr(
        """
        CASE WHEN size(sp) >= 1 THEN
          zip_with(
            sp, concat(slice(sp, 2, size(sp) - 1), array(size(sb) + 1)),
            (s, e) -> struct(element_at(sb, s) AS bigram,
                             CAST(e - s AS BIGINT) AS k))
        ELSE CAST(array() AS array<struct<bigram:string,k:bigint>>) END
        """
    )
    pairs = (
        toks.withColumn(
            "sb",
            F.expr(
                "array_sort(CASE WHEN size(t) >= 2 THEN"
                " transform(sequence(1, size(t) - 1),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
                " ELSE array() END)"
            ),
        )
        .withColumn(
            "sp",
            F.expr(
                "CASE WHEN size(sb) >= 1 THEN"
                " filter(sequence(1, size(sb)),"
                " i -> i = 1 OR element_at(sb, i) != element_at(sb, i - 1))"
                " ELSE array() END"
            ),
        )
        .select("doc_id", F.explode(rle).alias("p"))
        .select("doc_id", F.col("p.bigram").alias("bigram"), F.col("p.k").alias("k"))
    )
    common = (
        pairs.groupBy("bigram")
        .agg(F.sum("k").alias("cnt"))
        .filter(F.col("cnt") >= 5)
        .select("bigram", F.lit(1).alias("is_common"))
    )
    return (
        pairs.join(common, "bigram", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.sum(F.col("k") * F.coalesce(F.col("is_common"), F.lit(0)))
            .cast("long")
            .alias("n_common"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_common",
            F.round(
                (F.col("n_bigrams") - F.col("n_common"))
                / F.col("n_bigrams").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


@_register(
    "c_pack_codec",
    """
    SELECT o_orderkey AS id,
           md5(concat_ws(chr(31),
               CAST(o_orderkey AS VARCHAR),
               'e' || CAST(o_custkey AS VARCHAR),
               'amount',
               'Order',
               o_orderstatus,
               'tpch',
               '',
               o_orderpriority,
               CASE WHEN o_orderkey % 2 = 0 THEN '1' ELSE '0' END,
               strftime(date_trunc('second', o_orderdate),
                        '%Y-%m-%dT%H:%M:%S') || '+00:00',
               strftime(date_trunc('second', o_orderdate),
                        '%Y-%m-%dT%H:%M:%S') || '+00:00',
               'bulk',
               'string')) AS packed_md5
    FROM orders
    """,
)
def c_pack_codec(spark, sf_dir):
    """C5 wire codec, byte-verified by the oracle: the engine's
    ``pack_statement`` expression (functions/codec.py — the reference's
    US-delimited journal format, helpers/statements.py:17-99) must
    produce the EXACT bytes DuckDB constructs independently from the
    documented field order; md5 per row pins every byte including the
    ISO-8601 "+00:00" timestamps and the 1/0 external flag."""
    from ftm_lakehouse_spark.functions.codec import pack_statement

    o = load_table(spark, sf_dir, "orders")
    ts = F.date_trunc("second", F.col("o_orderdate"))
    stmt_shaped = o.select(
        F.col("o_orderkey").cast("string").alias("id"),
        F.concat(F.lit("e"), F.col("o_custkey")).alias("entity_id"),
        F.lit("amount").alias("prop"),
        F.lit("Order").alias("schema"),
        F.col("o_orderstatus").alias("value"),
        F.lit("tpch").alias("dataset"),
        F.lit(None).cast("string").alias("lang"),
        F.col("o_orderpriority").alias("original_value"),
        (F.col("o_orderkey") % 2 == 0).alias("external"),
        ts.alias("first_seen"),
        ts.alias("last_seen"),
        F.lit("bulk").alias("origin"),
        F.lit("string").alias("prop_type"),
        F.col("o_orderkey").alias("_k"),
    )
    return stmt_shaped.select(
        F.col("_k").alias("id"), F.md5(pack_statement()).alias("packed_md5")
    )


@_register(
    "sample_pack_sequences",
    """
    WITH toks AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> '')) AS n
        FROM documents
    ), cum AS (
        SELECT doc_id, n,
               CAST(COALESCE(sum(n) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        FROM toks
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           start_offset,
           CAST(start_offset // 256 AS BIGINT) AS first_seq,
           CAST((start_offset + greatest(n, 1) - 1) // 256 AS BIGINT) AS last_seq,
           CAST((start_offset + greatest(n, 1) - 1) // 256
                - start_offset // 256 + 1 AS BIGINT) AS n_seqs
    FROM cum
    """,
)
def sample_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing (operators/packing.py): concatenate
    the corpus in doc_id order, cut every 256 tokens, report each
    document's sequence span. The oracle is the textbook single-window
    cumsum; the engine computes the SAME numbers with the two-phase
    range-partitioned cumsum (no single-reducer window — plan-pinned),
    so the gate proves the scale-safe decomposition is exact."""
    from ftm_lakehouse_spark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != F.lit("")
            )
        ).alias("n"),
    )
    return pack_sequences(toks, "n", seq_len=256, order_col="doc_id")


@_register(
    "w_percent_rank",
    """
    SELECT c_nationkey, c_custkey,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def w_percent_rank(spark, sf_dir):
    """Relative-rank window family (percent_rank + cume_dist), the one
    window class not yet graded. The order key carries c_custkey as a
    unique tiebreak so rank() is total; both functions are then exact
    integer ratios computed by one IEEE division — bit-identical
    across engines UNROUNDED. (A round(6) here actually BROKE parity
    at sf0.1: the engines' round-half handling differs on doubles
    sitting at a 6th-decimal boundary, found by the scale sweep.) One shuffle on the partition key, no global sort."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_nationkey",
        "c_custkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@_register(
    "x_histogram",
    """
    WITH cents AS (
        SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS p FROM orders
    ), bounds AS (
        SELECT min(p) AS lo, max(p) AS hi FROM cents
    )
    SELECT (p - lo) * 20 // (hi - lo + 1) AS bucket,
           count(*) AS n,
           min(p) AS p_min,
           max(p) AS p_max
    FROM cents, bounds
    GROUP BY bucket
    """,
)
def x_histogram(spark, sf_dir):
    """Equi-width histogram (20 buckets over order totals) — the classic
    profiling scan. Bounds come from a first aggregate broadcast into
    the binning pass (two scans, no window); bucket arithmetic is all
    int64 on scaled cents so no float division can drift between
    engines. At scale: pass 1 is a 2-value agg, pass 2 a
    map-side-combined groupBy on a 20-value key."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(F.floor(F.col("o_totalprice") * 100).cast("long").alias("p"))
    bounds = cents.agg(F.min("p").alias("lo"), F.max("p").alias("hi"))
    return (
        cents.crossJoin(F.broadcast(bounds))
        .select(
            F.expr("((p - lo) * 20) div (hi - lo + 1)").alias("bucket"),
            "p",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("p").alias("p_min"),
            F.max("p").alias("p_max"),
        )
    )


@_register(
    "x_pivot_wide",
    """
    SELECT o_orderstatus,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                    THEN CAST(o_totalprice AS DECIMAL(12,4)) END) AS DOUBLE) AS urgent,
           CAST(sum(CASE WHEN o_orderpriority = '2-HIGH'
                    THEN CAST(o_totalprice AS DECIMAL(12,4)) END) AS DOUBLE) AS high,
           CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM'
                    THEN CAST(o_totalprice AS DECIMAL(12,4)) END) AS DOUBLE) AS medium,
           CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
                    THEN CAST(o_totalprice AS DECIMAL(12,4)) END) AS DOUBLE) AS not_specified,
           CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
                    THEN CAST(o_totalprice AS DECIMAL(12,4)) END) AS DOUBLE) AS low
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def x_pivot_wide(spark, sf_dir):
    """Pivot (long→wide): revenue by status × priority. Spark's
    ``pivot`` with an EXPLICIT value list — no extra pass to discover
    values. The physical plan is two aggregate phases: a
    map-side-combined groupBy on (keys × pivot column) that collapses
    the input to |groups|·|values| rows, then a ``pivotfirst``
    aggregate over that tiny intermediate — so the second shuffle
    moves ~15 rows here, not data. Decimal sums keep the wide cells
    order-independent. At 100 TB: same cost as the underlying groupBy;
    never pivot on an undiscovered high-cardinality column."""
    o = load_table(spark, sf_dir, "orders")
    values = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    renames = ["urgent", "high", "medium", "not_specified", "low"]
    wide = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", values)
        .agg(F.sum(_dec("o_totalprice")).cast("double"))
    )
    return wide.select(
        "o_orderstatus", *[F.col(f"`{v}`").alias(r) for v, r in zip(values, renames)]
    )


@_register(
    "x_unpivot_long",
    """
    SELECT o_orderkey, metric, CAST(val AS DOUBLE) AS val
    FROM (
        SELECT o_orderkey, 'price' AS metric, o_totalprice AS val
        FROM orders WHERE o_orderkey <= 1000
        UNION ALL
        SELECT o_orderkey, 'custkey' AS metric, CAST(o_custkey AS DOUBLE) AS val
        FROM orders WHERE o_orderkey <= 1000
    )
    """,
)
def x_unpivot_long(spark, sf_dir):
    """Unpivot / melt (wide→long): the inverse reshape, via Spark's
    native ``unpivot`` (Catalyst Expand node — one pass, zero shuffle,
    row count × #metrics). The oracle states the same thing as UNION
    ALL. Narrow transform: safe at any scale."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    wide = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        F.col("o_custkey").cast("double").alias("custkey"),
    )
    return wide.unpivot("o_orderkey", ["price", "custkey"], "metric", "val")


@_register(
    "a_median_groups",
    """
    SELECT o_orderstatus,
           round(CAST(median(o_totalprice) AS DOUBLE), 4) AS median_price,
           CAST(min(o_totalprice) AS DOUBLE) AS min_price,
           CAST(max(o_totalprice) AS DOUBLE) AS max_price,
           count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def a_median_groups(spark, sf_dir):
    """Exact median per group (percentile_cont 0.5 interpolation —
    identical definition in both engines, round(4) for float-literal
    parity). Spark computes exact percentiles with a per-group sort
    inside the aggregate; at 100 TB prefer x_approx_stats'
    percentile_approx sketch (already graded) — this gate pins the
    EXACT path the reference's stats facets use on small groups."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.median("o_totalprice"), 4).alias("median_price"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
        F.count("*").alias("n"),
    )


@_register(
    "x_correlation",
    """
    SELECT c_nationkey,
           round(CAST(corr(c_acctbal, cnt) AS DOUBLE), 6) AS bal_order_corr,
           round(CAST(covar_samp(c_acctbal, cnt) AS DOUBLE), 4) AS bal_order_covar,
           count(*) AS n_customers
    FROM (
        SELECT c.c_nationkey, c.c_acctbal, c.c_custkey,
               (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS cnt
        FROM customer c
    )
    GROUP BY c_nationkey
    HAVING count(*) >= 2
    """,
)
def x_correlation(spark, sf_dir):
    """Bivariate statistics per group: does account balance correlate
    with order count? corr/covar_samp are single-pass streaming
    aggregates (Welford-style) in both engines — deterministic given
    exact inputs, round(6/4) for accumulation-order noise. The order
    counts come from a LEFT join against a pre-aggregated count table —
    one row per customer, so it is DATA-sized: no broadcast hint
    (j_multiway_star's policy), AQE picks broadcast only while it fits."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cnt = o.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    joined = (
        c.join(cnt, c.c_custkey == cnt.o_custkey, "left")
        .withColumn("cnt", F.coalesce("cnt", F.lit(0)))
    )
    return (
        joined.groupBy("c_nationkey")
        .agg(
            F.round(F.corr("c_acctbal", "cnt"), 6).alias("bal_order_corr"),
            F.round(F.covar_samp("c_acctbal", "cnt"), 4).alias("bal_order_covar"),
            F.count("*").alias("n_customers"),
        )
        .filter(F.col("n_customers") >= 2)
    )


@_register(
    "w_first_last_value",
    """
    SELECT DISTINCT user_id,
           first_value(event_type) OVER w AS first_event,
           last_value(event_type)  OVER w AS last_event,
           nth_value(event_type, 2) OVER w AS second_event,
           count(*) OVER (PARTITION BY user_id) AS n_events
    FROM events
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def w_first_last_value(spark, sf_dir):
    """Navigation window family (first/last/nth over an explicit
    unbounded frame — the frame spec is what makes last_value sane) →
    one row per user: journey entry/exit/second-touch. One shuffle on
    user_id serves all four functions; the unique (ts, event_id) order
    key makes every value deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        ev.select(
            "user_id",
            F.first("event_type").over(w).alias("first_event"),
            F.last("event_type").over(w).alias("last_event"),
            F.nth_value("event_type", 2).over(w).alias("second_event"),
            F.count("*").over(W.partitionBy("user_id")).alias("n_events"),
        )
        .distinct()
    )


@_register(
    "text_length_buckets",
    """
    SELECT lang,
           CAST(least(floor(n_chars / 200), 9) AS BIGINT) AS len_bucket,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang, len_bucket
    """,
)
def text_length_buckets(spark, sf_dir):
    """Training-mix profiling: document-length distribution per
    language (the histogram behind sequence-length bucketing and
    packing efficiency planning). Integer bucket arithmetic — no float
    drift; one map-side-combined groupBy on a tiny (lang × 10) key
    space."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            F.least(F.floor(F.col("n_chars") / 200), F.lit(9))
            .cast("long")
            .alias("len_bucket"),
            "n_chars",
        )
        .groupBy("lang", "len_bucket")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@_register(
    "dedup_winnow_substrings",
    """
    WITH eligible AS (
        SELECT doc_id AS doc, substr(text, 1, 1200) AS t
        FROM documents WHERE length(text) >= 24
    ), grams AS (
        -- fingerprints are the portable md5->52-bit ints (round 7):
        -- same winnowing guarantee, 4x smaller engine-side shuffle
        SELECT doc, i.generate_series AS pos,
               CAST(('0x' || substring(md5(substr(t, i.generate_series, 24)),
                                       1, 13)) AS BIGINT) AS h
        FROM eligible, generate_series(1, 1177) AS i
        WHERE i.generate_series <= length(t) - 23
    ), winnowed AS (
        SELECT DISTINCT doc,
               min(h) OVER (PARTITION BY doc ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
        FROM grams
    ), rare AS (
        SELECT fp FROM winnowed GROUP BY fp
        HAVING count(DISTINCT doc) > 1 AND count(DISTINCT doc) <= 64
    ), fps AS (
        SELECT w.doc, w.fp FROM winnowed w JOIN rare USING (fp)
    )
    SELECT l.doc AS a, r.doc AS b, count(DISTINCT l.fp) AS n_shared
    FROM fps l JOIN fps r ON l.fp = r.fp AND l.doc < r.doc
    GROUP BY a, b
    HAVING count(DISTINCT l.fp) >= 3
    """,
)
def dedup_winnow_substrings(spark, sf_dir):
    """Exact-substring dedup, blocking tier: winnowing fingerprints
    (MOSS scheme). Any verbatim overlap of length >= k+window-1 = 31
    chars between two documents is GUARANTEED to produce a shared
    fingerprint — recall without all-pairs comparison. See
    operators/dedupe.winnow_fingerprint_pairs for the scale analysis
    (partition-local gram explode, per-doc window, boilerplate guard
    capping join buckets)."""
    from ftm_lakehouse_spark.operators.dedupe import winnow_fingerprint_pairs

    d = _spread(load_table(spark, sf_dir, "documents"))
    return winnow_fingerprint_pairs(d)


def _bpe_training_ctes(num_merges: int = 12) -> tuple[list[str], list[str]]:
    """The unrolled BPE-training CTE chain (see ``_bpe_oracle``) as
    (parts, per-round merge SELECTs) so both the training oracle and
    the encode oracle compose the same chain."""
    parts = [f"""w0 AS MATERIALIZED (
    SELECT '⟨' || array_to_string(string_split(word, ''), '⟩⟨')
           || '⟩⟨</w>⟩' AS w, n
    FROM (
        SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
            SELECT unnest(list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                x -> x <> '')) AS word
            FROM documents WHERE doc_id < 300
        ) GROUP BY word
    )
)"""]
    finals = []
    for r in range(num_merges):
        parts.append(f"""pc{r} AS MATERIALIZED (
    SELECT syms[i] AS "left", syms[i+1] AS "right",
           CAST(sum(n) AS BIGINT) AS pair_count
    FROM (
        SELECT unnest(range(1, len(syms))) AS i, syms, n FROM (
            SELECT string_split(substr(w, 2, length(w) - 2),
                                '⟩⟨') AS syms, n
            FROM w{r}
        )
    )
    GROUP BY 1, 2
)""")
        parts.append(f"""b{r} AS MATERIALIZED (
    SELECT "left", "right", pair_count FROM pc{r}
    WHERE pair_count >= 2
    ORDER BY pair_count DESC, "left" ASC, "right" ASC LIMIT 1
)""")
        parts.append(f"""w{r + 1} AS MATERIALIZED (
    SELECT replace(w.w,
                   '⟨' || b."left" || '⟩⟨' || b."right" || '⟩',
                   '⟨' || b."left" || b."right" || '⟩') AS w, n
    FROM w{r} w, b{r} b
)""")
        finals.append(
            f'SELECT CAST({r} AS INTEGER) AS rank, "left", "right",'
            f' "left" || "right" AS merged, pair_count FROM b{r}'
        )
    return parts, finals


def _bpe_oracle(num_merges: int = 12) -> str:
    """Unrolled BPE training as static SQL — the same trick that made
    ``graph_pagerank`` full-oracle: a fixed number of iterations,
    integer-exact arithmetic, deterministic tie-breaks. Each round is
    pair-count → argmax (count DESC, left ASC, right ASC — binary
    string order on both engines for these ASCII symbols) →
    re-segment. The re-segmentation uses a wrapped-symbol string
    representation: every symbol is enclosed in U+27E8/U+27E9 angle
    brackets, so a plain ``replace()`` of ``⟨l⟩⟨r⟩`` with ``⟨lr⟩`` is
    exactly the leftmost-greedy NON-overlapping merge (markers are
    consumed with the pair, never shared between adjacent matches —
    ``⟨a⟩⟨a⟩⟨a⟩⟨a⟩`` → ``⟨aa⟩⟨aa⟩``, matching the Spark fold in
    operators/bpe._merge_pair). CTEs are MATERIALIZED: each ``w{r}``
    feeds two consumers and would otherwise inline exponentially."""
    parts, finals = _bpe_training_ctes(num_merges)
    return ("WITH " + ",\n".join(parts) + "\n"
            + "\nUNION ALL\n".join(finals) + "\nORDER BY rank")


def _bpe_encode_oracle(num_merges: int = 12) -> str:
    """Tokenize the held-out corpus (doc_id >= 300) with the merge
    table the training chain just learned: the encode vocabulary is
    segmented through the SAME per-round ``replace()`` rewrite as
    training words (``ev{r}`` mirrors ``w{r}`` over held-out DISTINCT
    words), then per-document token counts come from one join back to
    the per-(doc, word) frequency table — the linear-in-distinct-words
    shape the Spark side uses."""
    parts, _ = _bpe_training_ctes(num_merges)
    parts.append("""ew AS MATERIALIZED (
    SELECT doc_id, word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT doc_id, unnest(list_filter(
            regexp_split_to_array(lower(text), '[^a-z0-9]+'),
            x -> x <> '')) AS word
        FROM documents WHERE doc_id >= 300
    ) GROUP BY doc_id, word
)""")
    parts.append("""ev0 AS MATERIALIZED (
    SELECT word, '⟨' || array_to_string(string_split(word, ''), '⟩⟨')
           || '⟩⟨</w>⟩' AS w
    FROM (SELECT DISTINCT word FROM ew)
)""")
    for r in range(num_merges):
        # b{r} has AT MOST one row; when BPE stops early (no pair with
        # count >= 2) it is EMPTY. Scalar subqueries then yield NULL,
        # the replace() yields NULL, and COALESCE falls back to the
        # unmodified segmentation — an empty round is a no-op rewrite,
        # matching the engine side (bpe_train breaks out of the loop
        # and bpe_segment_words applies the shorter merge list). A
        # cross join `FROM ev{r}, b{r}` would instead empty every
        # later stage and return zero rows.
        parts.append(f"""ev{r + 1} AS MATERIALIZED (
    SELECT v.word, COALESCE(replace(v.w,
                   '⟨' || (SELECT "left" FROM b{r}) || '⟩⟨'
                       || (SELECT "right" FROM b{r}) || '⟩',
                   '⟨' || (SELECT "left" || "right" FROM b{r}) || '⟩'),
               v.w) AS w
    FROM ev{r} v
)""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT e.doc_id,
       CAST(sum(e.cnt) AS BIGINT) AS n_words,
       CAST(sum(e.cnt * len(string_split(substr(v.w, 2, length(v.w) - 2),
                                         '⟩⟨'))) AS BIGINT) AS n_tokens
FROM ew e JOIN ev{num_merges} v ON e.word = v.word
GROUP BY e.doc_id""")


@_register("text_bpe_merges", _bpe_oracle(12))
def text_bpe_merges(spark, sf_dir):
    """Distributed BPE vocabulary training (operators/bpe.py): one
    corpus-sized word-count pass, then merge iterations over the small
    distinct-word table. Deterministic tie-breaks make the merge table
    run-stable, and the fixed iteration count lets the oracle unroll
    the rounds in static SQL (``_bpe_oracle``) — a FULL value-hash
    gate, not rows-only (round-3 VERDICT item 4). Exactness vs an
    independent pure-Python reference is additionally pinned by
    tests/test_bpe.py. The document subset is a deterministic id
    predicate (not ``limit``): both engines must train on the same
    corpus for the merge tables to match."""
    from ftm_lakehouse_spark.operators.bpe import bpe_train

    d = load_table(spark, sf_dir, "documents")
    return bpe_train(d.filter("doc_id < 300"), num_merges=12)


@_register("text_bpe_encode", _bpe_encode_oracle(12))
def text_bpe_encode(spark, sf_dir):
    """Corpus tokenization with the learned subword vocabulary — the
    apply half of the BPE story (train half: ``text_bpe_merges``).
    Per-document token counts for the held-out corpus (doc_id >= 300,
    disjoint from the doc_id < 300 training slice), computed the only
    way that scales: segment the DISTINCT word table (vocabulary-sized
    — sublinear in corpus, operators/bpe.bpe_segment_words: merges
    fold JVM-side in rank order, no UDF) and join piece counts back to
    the per-(doc, word) frequency table, so per-document totals are
    one map-side-combinable aggregation. The (doc, word, cnt) table is
    itself built ROW-LOCALLY — run-length encoding of the sorted token
    array (text_novelty_score's technique; round-8 rewrite) — so word
    occurrences never shuffle at raw grain; the old
    groupBy(doc_id, word) pushed every occurrence through an exchange.
    The merge-table collect is bounded (num_merges rows) — the
    tokenizer artifact, not data. Reference analog: the reference
    ships no tokenizer, but token accounting over a trained vocab is
    the standard corpus-statistics step between its export surface
    and an LLM training run."""
    from ftm_lakehouse_spark.functions.text import tokens
    from ftm_lakehouse_spark.operators.bpe import bpe_segment_words, bpe_train

    d = load_table(spark, sf_dir, "documents")
    merges_rows = (
        bpe_train(d.filter("doc_id < 300"), num_merges=12).orderBy("rank").collect()
    )
    merges = [(r["left"], r["right"]) for r in merges_rows]
    rle = F.expr(
        """
        CASE WHEN size(sp) >= 1 THEN
          zip_with(
            sp, concat(slice(sp, 2, size(sp) - 1), array(size(sw) + 1)),
            (s, e) -> struct(element_at(sw, s) AS word,
                             CAST(e - s AS BIGINT) AS cnt))
        ELSE CAST(array() AS array<struct<word:string,cnt:bigint>>) END
        """
    )
    per_word = (
        d.filter("doc_id >= 300")
        .select("doc_id", F.array_sort(tokens(F.col("text"))).alias("sw"))
        .withColumn(
            "sp",
            F.expr(
                "CASE WHEN size(sw) >= 1 THEN"
                " filter(sequence(1, size(sw)),"
                " i -> i = 1 OR element_at(sw, i) != element_at(sw, i - 1))"
                " ELSE CAST(array() AS array<int>) END"
            ),
        )
        .select("doc_id", F.explode(rle).alias("p"))
        .select("doc_id", F.col("p.word").alias("word"), F.col("p.cnt").alias("cnt"))
    )
    seg = bpe_segment_words(per_word.select("word").distinct(), merges).select(
        "word", F.size("pieces").alias("n_pieces")
    )
    return (
        per_word.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_pieces")).alias("n_tokens"),
        )
    )


def _pq_books(m: int = 4, ksub: int = 8, dim: int = 64, seed: int = 17):
    import numpy as _np

    dsub = dim // m
    return _np.random.default_rng(seed).standard_normal((m, ksub, dsub))


def _pq_oracle(m: int = 4, ksub: int = 8, dim: int = 64, seed: int = 17, k: int = 5) -> str:
    """PQ encode + asymmetric-distance top-k as pure SQL over literal
    codebooks. Every distance is a left-to-right ``+`` chain (matching
    Spark's zip_with/aggregate fold exactly), codeword selection is
    first-minimum on both engines, and the ADC lookup indexes the same
    nested literal — so an 'approximate' quantization index is still a
    full value-hash match."""
    B = _pq_books(m, ksub, dim, seed)
    dsub = dim // m
    code_exprs = []
    for j in range(m):
        dists = ", ".join(
            "(" + " + ".join(
                f"(v[{j * dsub + i + 1}] - ({B[j, c, i]!r}))*(v[{j * dsub + i + 1}] - ({B[j, c, i]!r}))"
                for i in range(dsub)
            ) + ")"
            for c in range(ksub)
        )
        code_exprs.append(
            f"list_position([{dists}], list_min([{dists}])) - 1"
        )
    codes_sql = ", ".join(
        f"({e}) AS c{j}" for j, e in enumerate(code_exprs)
    )
    cb = "[" + ",".join(
        "[" + ",".join(
            "[" + ",".join(repr(float(x)) for x in B[j, c]) + "]"
            for c in range(ksub)
        ) + "]"
        for j in range(m)
    ) + "]"
    adist = " + ".join(
        "(" + " + ".join(
            f"(q.v[{j * dsub + i + 1}] - cb[{j + 1}][c.c{j} + 1][{i + 1}])"
            f"*(q.v[{j * dsub + i + 1}] - cb[{j + 1}][c.c{j} + 1][{i + 1}])"
            for i in range(dsub)
        ) + ")"
        for j in range(m)
    )
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), coded AS (
        SELECT vec_id, v, {codes_sql} FROM base
    ), q AS (
        SELECT vec_id AS qid, v FROM base WHERE vec_id IN (0, 1, 2)
    ), cbt AS (
        SELECT {cb} AS cb
    ), scored AS (
        SELECT q.qid, c.vec_id, ({adist}) AS adist
        FROM coded c, q, cbt
    )
    SELECT qid, vec_id, round(adist, 6) AS adist, CAST(rnk AS INT) AS rank
    FROM (
        SELECT qid, vec_id, adist,
               row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rnk
        FROM scored
    )
    WHERE rnk <= {k}
    """


@_register("sim_pq_adc_topk", _pq_oracle())
def sim_pq_adc_topk(spark, sf_dir):
    """Product quantization (Jégou et al.): encode each vector to m
    codeword ids (argmin per subspace over literal codebooks), then
    asymmetric-distance top-k — the query stays exact, the corpus is
    scanned as m-int codes (the 100 TB memory win; combine with IVF
    cells for IVF-PQ pruning). Codebooks here are seeded literals so
    the oracle can replay them; the k-means trainer (pq_train) is
    pinned by pytest."""
    from ftm_lakehouse_spark.operators.similarity import pq_adc_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id").isin(0, 1, 2))
    return pq_adc_topk(e, queries, _pq_books(), k=5)


def _ivfpq_oracle(
    query_ids=(0, 1, 2),
    k: int = 5,
    nprobe: int = 2,
    num_centroids: int = 8,
    ivf_seed: int = 11,
    m: int = 4,
    ksub: int = 8,
    dim: int = 64,
    pq_seed: int = 17,
) -> str:
    """IVF-PQ as pure SQL: the ivf_topk oracle's cell assignment and
    probe ranking chained into the pq oracle's code selection and ADC
    lookup — every float op the same left-to-right chain as Spark's
    folds, so the composed 'approximate' index is still a full value
    hash match."""
    B = _pq_books(m, ksub, dim, pq_seed)
    dsub = dim // m
    ivf_dists = _ivf_dists_sql(num_centroids, dim, ivf_seed)
    ids = ", ".join(str(i) for i in query_ids)
    code_exprs = []
    for j in range(m):
        dists = ", ".join(
            "(" + " + ".join(
                f"(v[{j * dsub + i + 1}] - ({B[j, c, i]!r}))*(v[{j * dsub + i + 1}] - ({B[j, c, i]!r}))"
                for i in range(dsub)
            ) + ")"
            for c in range(ksub)
        )
        code_exprs.append(f"(list_position([{dists}], list_min([{dists}])) - 1) AS c{j}")
    codes_sql = ", ".join(code_exprs)
    cb = "[" + ",".join(
        "[" + ",".join(
            "[" + ",".join(repr(float(x)) for x in B[j, c]) + "]"
            for c in range(ksub)
        ) + "]"
        for j in range(m)
    ) + "]"
    adist = " + ".join(
        "(" + " + ".join(
            f"(p.qv[{j * dsub + i + 1}] - cb[{j + 1}][a.c{j} + 1][{i + 1}])"
            f"*(p.qv[{j * dsub + i + 1}] - cb[{j + 1}][a.c{j} + 1][{i + 1}])"
            for i in range(dsub)
        ) + ")"
        for j in range(m)
    )
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), d AS (
        SELECT vec_id, v, [{ivf_dists}] AS ds FROM base
    ), assigned AS (
        SELECT vec_id, v,
               CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS centroid,
               {codes_sql}
        FROM d
    ), probe0 AS (
        SELECT vec_id AS qid, v AS qv, unnest(ds) AS dist,
               unnest(range(0, {num_centroids})) AS centroid
        FROM d WHERE vec_id IN ({ids})
    ), probe AS (
        SELECT qid, qv, CAST(centroid AS INT) AS centroid FROM probe0
        QUALIFY row_number() OVER (
            PARTITION BY qid ORDER BY dist ASC, centroid ASC) <= {nprobe}
    ), cbt AS (
        SELECT {cb} AS cb
    ), cand AS (
        SELECT p.qid, a.vec_id AS cid, ({adist}) AS adist
        FROM assigned a JOIN probe p ON a.centroid = p.centroid, cbt
    )
    SELECT qid, cid, round(adist, 6) AS adist, CAST(rnk AS INT) AS rank
    FROM (
        SELECT qid, cid, adist,
               row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rnk
        FROM cand
    )
    WHERE rnk <= {k}
    """


@_register("sim_ivfpq_topk", _ivfpq_oracle())
def sim_ivfpq_topk(spark, sf_dir):
    """IVF-PQ (the FAISS production ANN architecture): IVF cells bound
    WHICH rows are scanned (cell equi-join, ~nprobe/n_cells of the
    corpus); PQ codes bound WHAT each row costs (m ints + codebook
    lookup, no float vectors in the scan). Composition of the two
    graded building blocks; seeded literal centroids + codebooks give
    the full-oracle match."""
    from ftm_lakehouse_spark.operators.similarity import ivfpq_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id").isin(0, 1, 2))
    return ivfpq_topk(e, queries, _ivf_centroids(), _pq_books(), k=5, nprobe=2)


@_register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                    * CAST(1 - l_discount AS DECIMAL(12,4))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5: the join-REORDERING showcase — six tables with a
    cross-dimension equality (customer and supplier must share a
    nation). Declared declaratively and left to Catalyst: dims
    broadcast, the fact table joins them without shuffling on dim
    keys, the region filter prunes nation before either big join, and
    the date predicate is pushed into the orders scan. Decimal sums
    keep revenue order-independent."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(12,4)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            # supplier scales with SF — size-decided (j_multiway_star's
            # broadcast policy); nation/region stay hinted (bounded)
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _pipeline_oracle() -> str:
    """The end-to-end pretraining-corpus pipeline as ONE SQL statement
    — each stage's set is the embedded, ALREADY-VERIFIED oracle of its
    standalone gate (DuckDB allows WITH inside subqueries, so the
    composition literally reuses the texts that hash-matched on their
    own). Auxiliary sets (near-dup pairs, decontamination survivors,
    mix membership) are computed over the full corpus and applied as
    parallel drop conditions — mirrored exactly by the Spark side."""
    quality = QUERIES["text_quality_score"][1]
    pairs = QUERIES["dedup_minhash_lsh"][1]
    decon = QUERIES["text_decontaminate"][1]
    mix = QUERIES["sample_temperature_mix"][1]
    return f"""
    WITH keepers AS (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        FROM documents
    )
    SELECT d.doc_id AS doc_id, d.lang AS lang, d.source AS source,
           md5(regexp_replace(regexp_replace(regexp_replace(d.text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
               '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b', '<IP>', 'g'),
               '\\+?[0-9][0-9()\\[\\]. -]{{6,}}[0-9]', '<PHONE>', 'g')) AS text_hash,
           len(list_filter(string_split_regex(lower(d.text), '[^a-z0-9]+'),
               x -> x <> '')) AS n_tokens
    FROM documents d
    JOIN (SELECT doc_id FROM ({quality})
          WHERE stopword_ratio >= 0.02 AND digit_ratio <= 0.3) q USING (doc_id)
    JOIN (SELECT doc_id FROM keepers WHERE doc_id = keeper) k USING (doc_id)
    JOIN (SELECT doc_id FROM ({decon})) dc USING (doc_id)
    JOIN (SELECT doc_id FROM ({mix})) mx USING (doc_id)
    WHERE d.doc_id NOT IN (SELECT b FROM ({pairs}))
    """


@_register("pipeline_pretrain_corpus", _pipeline_oracle())
def pipeline_pretrain_corpus(spark, sf_dir):
    """CAPSTONE: the full pretraining-corpus pipeline as one DataFrame
    composition — quality filter (C4-style ratios) ∘ exact dedup
    (md5 keeper) ∘ MinHash-LSH near-dup drop ∘ benchmark
    decontamination (8-word shingles vs the held-out slice) ∘
    temperature-scaled language rebalancing ∘ PII scrub, emitting
    (doc_id, lang, source, scrubbed-text md5, token count). Every
    stage is the SAME operator its standalone gate grades; the oracle
    embeds those verified SQL texts, so a hash match here proves the
    COMPOSITION, not just the parts. At 100 TB each stage is an
    equi-join/groupBy over hash keys.

    The corpus projection feeds several independent subtrees (MinHash
    pairs, decontamination overlap, mix-rate aggregate, the final
    fused pass) and Catalyst does not deduplicate common subtrees —
    left as one lazy plan the scan+projection re-executes per branch
    (round-2 bench: ~4× the sum of the stages). So the
    shared projection is materialized ONCE (eager localCheckpoint,
    lineage-truncated, executor-local) and every branch reads it back.
    The trade: "one plan, no barriers" buys nothing when the branches
    are reads of the SAME relation — a barrier that turns 6 scans into
    1 is the 100 TB play too (there you'd persist(MEMORY_AND_DISK) or
    materialize stage outputs to the lakehouse instead; same
    structure, durable medium).

    Round-12 fusion (guide §3.2, §1.3): the quality, exact-keeper,
    decontamination-slice and temperature-mix stages each produced a
    CORPUS-SIZED doc_id membership set that the final pass equi-joined
    back — at 100 TB four full-corpus shuffles (the sets cannot
    broadcast) plus four extra reads of the shared projection.
    ``doc_id`` is unique in ``documents`` (primary key), so an inner
    join against such a set is EXACTLY the set's defining predicate as
    a filter: the keeper window (over the full corpus, computed before
    any filter), the quality ratios, the ``%20`` slice split, and
    :func:`mix_keep` against the broadcast rate table now ride the
    final pass directly. Only the two genuinely relational drop sets
    (near-dup pairs, benchmark overlap — both small) remain joins,
    both anti. Same rows, bit-identical values — A/B-verified against
    the pre-fusion composition at sf0.001/sf0.01 and oracle-checked."""
    from pyspark.sql import Window as W_

    from ftm_lakehouse_spark.functions.text import pii_scrub
    from ftm_lakehouse_spark.operators.dedupe import (
        benchmark_overlap,
        minhash_lsh_pairs,
    )
    from ftm_lakehouse_spark.operators.sampling import (
        mix_keep,
        temperature_mix_rates,
    )

    d = _spread(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "source", "text"
        )
    ).localCheckpoint(eager=True, storageLevel=_DISK)

    # quality (the text_quality_score expressions)
    n = F.greatest(F.length("text"), F.lit(1))
    words = F.array_remove(F.split(F.lower(F.col("text")), "[^a-z]+"), "")
    stop = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "to", "in", "is", "that")])
    stop_ratio = F.round(
        F.size(F.filter(words, lambda x: F.array_contains(stop, x))).cast("double")
        / F.greatest(F.size(words), F.lit(1)),
        6,
    )
    digit_ratio = F.round(
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double") / n, 6
    )
    # near-dup drops (full-corpus pairs, same params as the gate)
    near_drop = (
        minhash_lsh_pairs(d, num_hashes=16, bands=4, jaccard_threshold=0.5)
        .select(F.col("b").alias("doc_id"))
        .distinct()
    )

    # decontamination drop set (text_decontaminate shape); the
    # corpus/bench slice split itself is a filter on the final pass
    corpus = d.filter(F.col("doc_id") % 20 != 0)
    bench = d.filter(F.col("doc_id") % 20 == 0)
    bad = benchmark_overlap(corpus, bench, n=8).select("doc_id").distinct()

    # temperature mix: rates on the FULL corpus basis (alpha=0.7),
    # membership applied as mix_keep on the final pass
    rates = temperature_mix_rates(d, "lang", alpha=0.7)

    # exact-dedup keeper: window over the FULL corpus, before any
    # filter — the same universe the standalone branch ranked.
    # Round-13 (guide §2.3/§8, VERDICT r12 item 5): the keeper decision
    # depends only on (doc_id, md5(text)), so the window runs on that
    # NARROW branch of the checkpointed projection — the md5 exchange
    # carries ~40 B/row instead of the document payload (the widest
    # exchange in the r12 plan). Survivor doc_ids re-attach to the
    # final pass with a doc_id semi-join, the §8 "decide with small
    # rows" pattern: at bench scale AQE broadcasts the keeper set off
    # the window stage's ACTUAL size (zero text shuffle anywhere in
    # the gate); past the broadcast regime it degrades to ONE
    # doc_id-keyed shuffle of the corpus — the same single payload
    # move the fused window form paid, never more. Either way the
    # expensive per-survivor projections (pii_scrub md5, token count)
    # run AFTER the keeper filter, on survivors only — the fully
    # fused form computed them on every row, a ~10× CPU regression on
    # duplicate-heavy corpora (measured 4.1 → 7.9 s at sf1 before
    # this split; the replica corpus is ~90 % exact dups).
    keepers = (
        d.select("doc_id", F.md5("text").alias("_h"))
        .withColumn("_keeper", F.min("doc_id").over(W_.partitionBy("_h")))
        .filter(F.col("doc_id") == F.col("_keeper"))
        .select("doc_id")
    )
    toks = F.array_remove(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), "")
    return (
        d.filter(
            (stop_ratio >= 0.02)
            & (digit_ratio <= 0.3)
            & (F.col("doc_id") % 20 != 0)
        )
        .join(keepers, "doc_id", "left_semi")
        .join(F.broadcast(rates), "lang")
        .filter(mix_keep(F.col("doc_id")))
        .join(bad, "doc_id", "left_anti")
        .join(near_drop, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            "source",
            F.md5(pii_scrub(F.col("text"))).alias("text_hash"),
            F.size(toks).alias("n_tokens"),
        )
    )


@_register(
    "w_moving_avg",
    """
    SELECT event_id, user_id,
           round(CAST(avg(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 6) AS avg7,
           count(*) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS frame_n
    FROM events
    """,
)
def w_moving_avg(spark, sf_dir):
    """Sliding-frame smoothing: 7-row trailing average per user — the
    time-series companion to w_running_total's cumulative frame. One
    shuffle on user_id; both engines accumulate the frame in the same
    (ts, event_id) order, round(6) covers the last-ulp."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("avg7"),
        F.count("*").over(w).alias("frame_n"),
    )


@_register(
    "x_string_agg",
    """
    SELECT c_nationkey,
           string_agg(c_name, '|' ORDER BY c_name) AS names,
           count(*) AS n
    FROM customer
    WHERE c_custkey <= 100
    GROUP BY c_nationkey
    """,
)
def x_string_agg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG): collect + sort + join
    keeps the result order-deterministic regardless of shuffle order
    (collect_list alone is nondeterministic — the sort is the point).
    Small-group guard (c_custkey <= 100) because a concatenated string
    is a driver-sized artifact, not a 100 TB one."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 100)
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("c_name")), "|").alias("names"),
        F.count("*").alias("n"),
    )


@_register(
    "f_like_prefix",
    """
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_type LIKE 'ECO%' AND p_name LIKE '%widget%'
    """,
)
def f_like_prefix(spark, sf_dir):
    """LIKE pushdown family: a prefix pattern compiles to a
    StringStartsWith parquet filter (file/row-group skipping on
    min/max), the infix to a post-scan contains — the plan shows which
    predicate reached the scan."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").like("ECO%") & F.col("p_name").like("%widget%")
    ).select("p_partkey", "p_name", "p_type")


# =====================================================================
# I — incremental maintenance, oracle-checked (round-2 VERDICT item 8:
# the canonical_since / matview refresh algebra had pytest pins but no
# value-hash gate)
# =====================================================================

def _canonical_since_oracle() -> str:
    """Scoped incremental recompute == full recompute restricted to the
    changed entities: the oracle literally filters the ALREADY-VERIFIED
    ftm_canonicalize oracle to the changed-id set, so a hash match
    proves the semi-join-scoped merge returns byte-identical canonical
    state for every touched entity."""
    canon = QUERIES["ftm_canonicalize"][1]
    return f"""
    SELECT * FROM ({canon})
    WHERE entity_id IN (
        SELECT DISTINCT CAST(user_id AS VARCHAR) FROM events
        WHERE event_type = 'purchase' AND user_id % 7 = 0
    )
    """


@_register("i_canonical_since", _canonical_since_oracle())
def i_canonical_since(spark, sf_dir):
    """The canonical_since composition (statement_store.py:495-502):
    changed ids (here: entities touched by the 'new' slice — purchase
    events stand in for post-cursor commits) → broadcast left-semi
    scope over raw rows → the SAME canonicalize stack. O(changed
    entities), not O(table), and provably equal to a full recompute
    restricted to those entities."""
    from ftm_lakehouse_spark.operators.merge import canonicalize

    stmts = _events_as_statements(spark, sf_dir)
    changed = (
        stmts.filter(
            (F.col("prop") == "purchase")
            & (F.col("entity_id").cast("long") % 7 == 0)
        )
        .select("entity_id")
        .distinct()
    )
    scoped = stmts.join(F.broadcast(changed), "entity_id", "left_semi")
    return canonicalize(scoped).select(
        "id", "entity_id", "prop", "fragment", "first_seen", "last_seen", "deleted_at"
    )


@_register(
    "i_matview_refresh",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def i_matview_refresh(spark, sf_dir):
    """The matview maintenance algebra (operators/matview.py), oracle-
    checked: 'state' built from the base slice, a 'delta' partial from
    the new slice (a commit's appended files), merged at partition ×
    key grain, partitions folded out on read — and the result must
    hash-equal ONE direct aggregation over everything. Decimal sums
    keep the partial-fold exact, so incremental == full to the bit."""
    from ftm_lakehouse_spark.operators.matview import (
        fold_partitions,
        merge_partials,
        partial_aggregate,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "pid", (F.dayofweek("ts") - 1).cast("long")
    )
    old = ev.filter(F.col("event_id") % 3 != 0)  # folded state
    new = ev.filter(F.col("event_id") % 3 == 0)  # the refresh span
    state = partial_aggregate(
        old, ["pid"], ["event_type"], ["value"], sum_cast="decimal(12,4)"
    )
    delta = partial_aggregate(
        new, ["pid"], ["event_type"], ["value"], sum_cast="decimal(12,4)"
    )
    merged = merge_partials([state, delta], ["pid"], ["event_type"], ["value"])
    return fold_partitions(merged, ["event_type"], ["value"]).select(
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


# =====================================================================
# T3 — round-3 training-pipeline depth: repetition filters, chunking,
# corpus LM scoring, distributed k-means, semantic dedup
# =====================================================================

_WORDS_SQL = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"


@_register(
    "text_repetition_stats",
    f"""
    WITH w AS (
        SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
    ), s AS (
        SELECT doc_id, ws,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct
        FROM w
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws)),
                                     i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        FROM w
    ), bc AS (
        SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram
    ), mx AS (
        SELECT doc_id, max(c) AS max_bg FROM bc GROUP BY doc_id
    )
    SELECT s.doc_id, n_words, n_distinct,
           round(1.0 - (CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
               AS dup_word_frac,
           CAST(coalesce(max_bg, 0) AS BIGINT) AS top_bigram_n,
           round((2.0 * CAST(coalesce(max_bg, 0) AS DOUBLE))
                 / CAST(n_words AS DOUBLE), 6) AS top_bigram_frac
    FROM s LEFT JOIN mx ON s.doc_id = mx.doc_id
    """,
)
def text_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): the
    fraction of duplicated words and the mass of the most-repeated
    word bigram — the standard signals for machine-generated or
    boilerplate-looped text. Both tiers are WITHIN-document, so the
    whole gate is one map pass (round-8 rewrite): split →
    array_distinct for the word tier; for the n-gram tier the bigram
    array is sorted and its longest equal run taken by a single
    aggregate() fold — the most-repeated bigram's count, computed
    row-locally. The previous form exploded every bigram occurrence
    into a groupBy(doc_id, bigram) → max → self-join: 2.65B rows
    through an exchange at sf100 (60.8 s) for a statistic each row
    already contained (22.8 s rewritten, and the remainder is the
    document scan + sort CPU). Zero shuffles, zero joins, at any
    corpus size."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    words = F.filter(F.split("text", r"\s+"), lambda w: w != "")
    base = d.select(
        "doc_id",
        words.alias("ws"),
    ).select(
        "doc_id",
        "ws",
        F.size("ws").cast("bigint").alias("n_words"),
        F.size(F.array_distinct("ws")).cast("bigint").alias("n_distinct"),
    )
    # longest equal run in the sorted bigram array == max occurrence
    # count of any bigram, without leaving the row
    max_bg = F.expr(
        """
        CASE WHEN size(ws) >= 2 THEN
          aggregate(
            array_sort(transform(sequence(0, size(ws) - 2),
                                 i -> concat(ws[i], ' ', ws[i + 1]))),
            struct(CAST(NULL AS STRING) AS prev,
                   CAST(0 AS BIGINT) AS run,
                   CAST(0 AS BIGINT) AS best),
            (a, x) -> struct(
                x AS prev,
                CASE WHEN a.prev IS NOT NULL AND x = a.prev
                     THEN a.run + 1L ELSE 1L END AS run,
                greatest(a.best,
                         CASE WHEN a.prev IS NOT NULL AND x = a.prev
                              THEN a.run + 1L ELSE 1L END) AS best),
            a -> a.best)
        ELSE CAST(0 AS BIGINT) END
        """
    )
    return base.select(
        "doc_id",
        "n_words",
        "n_distinct",
        F.round(
            F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_words").cast("double"),
            6,
        ).alias("dup_word_frac"),
        max_bg.alias("top_bigram_n"),
        F.round(
            (F.lit(2.0) * max_bg.cast("double")) / F.col("n_words").cast("double"),
            6,
        ).alias("top_bigram_frac"),
    )


@_register(
    "doc_chunk_overlap",
    f"""
    WITH w AS (
        SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
    ), s AS (
        SELECT doc_id, ws, len(ws) AS n FROM w
    ), c AS (
        SELECT doc_id, ws,
               CASE WHEN n <= 32 THEN 1 ELSE (n - 32 + 23) // 24 + 1 END AS n_chunks
        FROM s
    ), e AS (
        SELECT doc_id, ws, CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx
        FROM c
    )
    SELECT doc_id, chunk_idx,
           CAST(len(list_slice(ws, chunk_idx * 24 + 1, chunk_idx * 24 + 32)) AS BIGINT)
               AS n_tokens,
           md5(array_to_string(list_slice(ws, chunk_idx * 24 + 1, chunk_idx * 24 + 32), ' '))
               AS chunk_hash
    FROM e
    """,
)
def doc_chunk_overlap(spark, sf_dir):
    """Overlapping token-window chunking (window 32 words, stride 24 —
    the RAG / context-window prep step): each document explodes into
    ceil((n-W)/S)+1 chunks via a sequence + slice, no UDF, no shuffle
    at all (chunking is row-local; the explode multiplies rows in
    place). Chunk identity travels as md5(text) so downstream exact
    chunk-dedup (dedup_chunks) keys on a 32-byte hash, not the text.
    Integer chunk-count arithmetic (div, not float ceil) keeps the
    row set bit-identical across engines."""
    W_, S_ = 32, 24
    d = _spread(load_table(spark, sf_dir, "documents"))
    words = F.filter(F.split("text", r"\s+"), lambda w: w != "")
    base = d.select("doc_id", words.alias("ws")).select(
        "doc_id", "ws", F.size("ws").alias("n")
    )
    n_chunks = F.when(F.col("n") <= W_, F.lit(1)).otherwise(
        F.expr(f"CAST(div(n - {W_} + {S_ - 1}, {S_}) + 1 AS INT)")
    )
    chunks = base.select(
        "doc_id",
        "ws",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).withColumn("cw", F.expr(f"slice(ws, chunk_idx * {S_} + 1, {W_})"))
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size("cw").cast("bigint").alias("n_tokens"),
        F.md5(F.array_join("cw", " ")).alias("chunk_hash"),
    )


@_register(
    "text_unigram_logprob",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents
    ), words AS (
        SELECT doc_id, term FROM toks, unnest(t) AS u(term)
    ), lm AS (
        SELECT term, count(*) AS cnt FROM words GROUP BY term
    ), n AS (SELECT count(*) AS total FROM words),
    scored AS (
        SELECT w.doc_id,
               CAST(round(ln(CAST(lm.cnt AS DOUBLE) / CAST(n.total AS DOUBLE)), 9)
                    AS DECIMAL(18,9)) AS lp
        FROM words w JOIN lm USING (term) CROSS JOIN n
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark, sf_dir):
    """Corpus-LM quality scoring (the CCNet/KenLM pattern, unigram
    tier): train the LM on the corpus itself (one term-count
    aggregation), broadcast-join the logprob table back onto the token
    stream, and score each document by mean token logprob — low
    scores flag gibberish, high scores flag degenerate/repetitive
    text. Two shuffles total (term counts, per-doc fold) and the LM
    table is broadcast-size by Heaps' law even at 100 TB (vocabulary
    grows sublinearly). Per-token logprobs round to 9dp then sum as
    decimals, so the per-doc fold is order-independent and the ln()
    cross-engine agreement is at the rounded digit, not the ulp."""
    from ftm_lakehouse_spark.functions.text import tokens

    d = _spread(load_table(spark, sf_dir, "documents"))
    words = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    # the LM is vocabulary-sized: materialize it once (it feeds both the
    # total-token count and the broadcast join) instead of re-tokenizing
    # the corpus for a separate count() pass
    lm = words.groupBy("term").agg(F.count("*").alias("cnt")).localCheckpoint(eager=True)
    total = lm.agg(F.sum("cnt")).first()[0]
    scored = words.join(F.broadcast(lm), "term").select(
        "doc_id",
        F.round(
            F.log(F.col("cnt").cast("double") / F.lit(float(total))), 9
        )
        .cast("decimal(18,9)")
        .alias("lp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.round(F.sum("lp").cast("double") / F.count("*"), 6).alias("avg_logprob"),
    )


def _kmeans_update_oracle(num_centroids: int = 8, dim: int = 64, seed: int = 11) -> str:
    """SQL replay of one distributed Lloyd's step against the seeded
    literal centroids: argmin assignment (the sim_ivf_assign machinery)
    then per-(cell, dimension) decimal-exact means. The decimal cast
    makes the sum order-independent, so the distributed fold and
    DuckDB's serial fold agree to the bit."""
    dists = _ivf_dists_sql(num_centroids, dim, seed)
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), d AS (
        SELECT vec_id, v, [{dists}] AS ds FROM base
    ), a AS (
        SELECT v, CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS centroid FROM d
    ), e AS (
        SELECT centroid, CAST(g.i - 1 AS INT) AS dim,
               CAST(v[CAST(g.i AS INT)] AS DECIMAL(24,12)) AS x
        FROM a, generate_series(1, {dim}) AS g(i)
    )
    SELECT centroid, dim, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(x) AS DOUBLE) / count(*), 9) AS mean
    FROM e GROUP BY centroid, dim
    """


@_register("sim_kmeans_update", _kmeans_update_oracle())
def sim_kmeans_update(spark, sf_dir):
    """One full-corpus distributed Lloyd's update (similarity.
    kmeans_update algebra): broadcast-literal argmin assignment, then
    per-cell per-dimension means — the building block kmeans_train
    loops, graded here in long (cell, dim) form with decimal-exact
    sums so incremental == serial to the bit. At 100 TB this is ONE
    shuffle per iteration: map-side partial sums reduce each executor
    to k×dim cells before anything moves. The trainer loop itself
    (deterministic init, empty-cell retention) is pinned by pytest
    against a numpy reference."""
    from ftm_lakehouse_spark.operators.similarity import ivf_assign

    e = load_table(spark, sf_dir, "embeddings")
    assigned, _ = ivf_assign(e, centroids=_ivf_centroids())
    ex = assigned.select(
        "centroid", F.posexplode(F.col("embedding")).alias("dim", "x")
    )
    return (
        ex.groupBy("centroid", "dim")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("x").cast("double").cast("decimal(24,12)")).alias("s"),
        )
        .select(
            F.col("centroid").cast("int").alias("centroid"),
            F.col("dim").cast("int").alias("dim"),
            "n",
            F.round(F.col("s").cast("double") / F.col("n"), 9).alias("mean"),
        )
    )


def _semantic_dedup_oracle(
    threshold: float = 0.4, num_centroids: int = 8, dim: int = 64, seed: int = 11
) -> str:
    dists = _ivf_dists_sql(num_centroids, dim, seed)
    cos = (
        "round(list_dot_product(l.v, r.v) / (sqrt(list_dot_product(l.v, l.v))"
        " * sqrt(list_dot_product(r.v, r.v))), 6)"
    )
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), d AS (
        SELECT vec_id, v, [{dists}] AS ds FROM base
    ), a AS (
        SELECT vec_id, v, CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell
        FROM d
    )
    SELECT l.vec_id AS a, r.vec_id AS b, l.cell AS cell, {cos} AS cosine
    FROM a l JOIN a r ON l.cell = r.cell AND l.vec_id < r.vec_id
    -- zero-norm guard: NaN cosines order above the threshold in both
    -- engines; the engine excludes zero vectors explicitly
    WHERE list_dot_product(l.v, l.v) > 0 AND list_dot_product(r.v, r.v) > 0
      AND {cos} >= {threshold}
    """


@_register("dedup_semantic", _semantic_dedup_oracle())
def dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs via
    k-means blocking — candidates are pairs sharing a nearest centroid
    (equi-join on the cell id; the corpus never self-joins across
    cells), verified by exact rounded cosine. Centroids here are the
    seeded literals the oracle can replay; production feeds
    similarity.kmeans_train output. Threshold 0.4 because the
    synthetic corpus plants no true near-dups (max pairwise cosine
    ~0.51) and a 0-row gate would be vacuous."""
    from ftm_lakehouse_spark.operators.dedupe import semantic_dedup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(e, _ivf_centroids(), threshold=0.4)


def _embedding_curation_oracle(
    threshold: float = 0.4, num_centroids: int = 8, dim: int = 64, seed: int = 11
) -> str:
    """The capstone's stages replayed as one SQL text: each CTE is the
    (independently verified) oracle of its standalone gate — argmin
    assignment (sim_ivf_assign), within-cell cosine pairs
    (dedup_semantic), int8 quantization (sim_quantize_int8) — so a hash
    match here proves the COMPOSITION, mirroring
    pipeline_pretrain_corpus on the documents side."""
    dists = _ivf_dists_sql(num_centroids, dim, seed)
    cos = (
        "round(list_dot_product(l.v, r.v) / (sqrt(list_dot_product(l.v, l.v))"
        " * sqrt(list_dot_product(r.v, r.v))), 6)"
    )
    return f"""
    WITH base AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), d AS (
        SELECT vec_id, label, v, [{dists}] AS ds FROM base
    ), a AS (
        SELECT vec_id, label, v,
               CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell
        FROM d
    ), dups AS (
        SELECT DISTINCT r.vec_id AS vec_id
        FROM a l JOIN a r ON l.cell = r.cell AND l.vec_id < r.vec_id
        -- zero-norm guard: NaN cosines order above the threshold in
        -- both engines; the engine excludes zero vectors explicitly
        WHERE list_dot_product(l.v, l.v) > 0
          AND list_dot_product(r.v, r.v) > 0
          AND {cos} >= {threshold}
    ), kept AS (
        SELECT * FROM a WHERE vec_id NOT IN (SELECT vec_id FROM dups)
    ), s AS (
        SELECT vec_id, label, cell, v,
               greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
                        1e-12) AS scale
        FROM kept
    ), q AS (
        SELECT vec_id, label, cell, scale,
               list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) AS q
        FROM s
    )
    SELECT vec_id, CAST(label AS INT) AS label, cell,
           round(scale, 6) AS scale,
           CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
           CAST(list_sum(q) AS BIGINT) AS q_sum
    FROM q
    """


@_register("pipeline_embedding_curation", _embedding_curation_oracle())
def pipeline_embedding_curation(spark, sf_dir):
    """CAPSTONE (embeddings side): the vector-corpus curation pipeline
    — cell assignment (IVF coarse quantizer) ∘ SemDeDup purge (drop the
    higher id of every within-cell near-dup pair) ∘ int8 quantization
    of the survivors — composed end-to-end. The assignment runs ONCE
    (eager localCheckpoint) and feeds both the dedup pair join and the
    kept-set — the subtree-reuse lesson pipeline_pretrain_corpus
    learned in round 2, applied from the start. Each stage is the same
    operator its standalone gate grades, and the oracle embeds those
    verified SQL texts, so the hash match proves the composition.

    At 100 TB: assignment is a broadcast argmin (no shuffle), the purge
    joins are cell-equi + id-anti (never all-pairs), quantization is
    row-local — the pipeline's only shuffles are the SemDeDup pair
    generation and its id-hydration."""
    from ftm_lakehouse_spark.functions.vectors import quantize_int8
    from ftm_lakehouse_spark.operators.dedupe import semantic_dedup_pairs
    from ftm_lakehouse_spark.operators.similarity import ivf_assign

    e = load_table(spark, sf_dir, "embeddings")
    assigned, _ = ivf_assign(e, centroids=_ivf_centroids())
    assigned = assigned.localCheckpoint(eager=True, storageLevel=_DISK)
    pairs = semantic_dedup_pairs(
        e, threshold=0.4, assigned=assigned
    )
    dups = pairs.select(F.col("b").alias("vec_id")).distinct()
    kept = assigned.join(dups, "vec_id", "left_anti")
    qz = kept.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.col("centroid").alias("cell"),
        quantize_int8(F.col("embedding")).alias("qz"),
    )
    return qz.select(
        "vec_id",
        "label",
        "cell",
        F.round(F.col("qz.scale"), 6).alias("scale"),
        F.aggregate(
            F.col("qz.q"), F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
        ).alias("q_l1"),
        F.aggregate(
            F.col("qz.q"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("q_sum"),
    )


def _cms_oracle(d: int = 4, w: int = 64) -> str:
    """CMS replay: the same md5-derived row hashes, the same (row,
    bucket) count table, the same min-over-rows estimate — integer
    counts end to end, so the gate is exact despite the sketch being
    'approximate' (the approximation is in WHAT it stores, not in any
    engine-dependent arithmetic)."""
    hashes = ", ".join(
        f"CAST(('0x' || substring(md5('cms{i}:' || term), 1, 8)) AS BIGINT) % {w} AS h{i}"
        for i in range(d)
    )
    rows_union = " UNION ALL ".join(
        f"SELECT {i} AS row, h{i} AS bucket FROM h" for i in range(d)
    )
    sketch_joins = " ".join(
        f"JOIN sketch s{i} ON s{i}.row = {i} AND s{i}.bucket = dt.h{i}"
        for i in range(d)
    )
    least = ", ".join(f"s{i}.c" for i in range(d))
    return f"""
    WITH toks AS (
        SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM documents
    ), words AS (
        SELECT term FROM toks, unnest(t) AS u(term)
    ), h AS (
        SELECT term, {hashes} FROM words
    ), sketch AS (
        SELECT row, bucket, count(*) AS c FROM ({rows_union}) GROUP BY row, bucket
    ), truec AS (
        SELECT term, CAST(count(*) AS BIGINT) AS true_cnt FROM words GROUP BY term
    ), dt AS (
        SELECT term, {", ".join(f"min(h{i}) AS h{i}" for i in range(d))}
        FROM h GROUP BY term
    )
    SELECT dt.term, truec.true_cnt,
           CAST(least({least}) AS BIGINT) AS est_cnt
    FROM dt JOIN truec USING (term) {sketch_joins}
    """


@_register("x_countmin_sketch", _cms_oracle())
def x_countmin_sketch(spark, sf_dir):
    """Count-Min Sketch (Cormode & Muthukrishnan 2005) over the token
    stream: d=4 seeded md5 row hashes × w=64 counters, estimate =
    min over rows — the fixed-size mergeable sketch for heavy-hitter
    detection when the true frequency table would not fit. Built on
    streaming/sketches.cms_sketch + cms_estimate — the SAME cell
    mapping the streaming stateful aggregation runs, so this gate's
    oracle transitively pins the streaming module's batch face (the
    stream==batch equality is pinned by test_streaming_sketches).
    Estimates never undercount; the gate emits true vs estimated
    counts for every term so the overcount distribution is visible.
    Integer arithmetic end to end — a FULL-oracle gate for an
    'approximate' data structure.

    Scale shape (round-8): the term stream folds to the value-grain
    count table FIRST (map-side combined — the same table the gate
    reports as true_cnt anyway, localCheckpointed once since it feeds
    the sketch, the estimate keys, and the final join), and the sketch
    ingests it WEIGHTED — exactly equal because cells add. That turns
    d×|stream| seeded-md5 computations (10.6B at sf100, the old 117 s
    wall) into d×|vocabulary|."""
    from ftm_lakehouse_spark.functions.text import tokens
    from ftm_lakehouse_spark.streaming.sketches import cms_estimate, cms_sketch

    D_, W_ = 4, 64
    d = _spread(load_table(spark, sf_dir, "documents"))
    words = d.select(F.explode(tokens(F.col("text"))).alias("term"))
    truec = (
        words.groupBy("term")
        .agg(F.count("*").cast("bigint").alias("true_cnt"))
        .localCheckpoint(eager=True)
    )
    sketch = cms_sketch(truec, "term", d=D_, w=W_, weight_col="true_cnt")
    est = cms_estimate(sketch, truec.select("term"), "term", d=D_, w=W_)
    return truec.join(est, "term").select("term", "true_cnt", "est_cnt")


@_register(
    "sample_interleave_sources",
    """
    WITH ranked AS (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('order:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS rank_in_source
        FROM documents
    ), dims AS (
        SELECT source,
               CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS source_idx,
               CAST(count(*) OVER () AS BIGINT) AS n_sources
        FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT r.doc_id, r.source, r.rank_in_source,
           (r.rank_in_source - 1) * d.n_sources + d.source_idx AS global_pos
    FROM ranked r JOIN dims d USING (source)
    """,
)
def sample_interleave_sources(spark, sf_dir):
    """Deterministic training-order construction: shuffle each source
    by a content hash (stable under partitioning, reruns, and engine),
    then round-robin interleave the sources into one global position —
    ``pos = (rank_in_source - 1) * n_sources + source_idx`` — so a
    sequential reader sees sources evenly mixed from step 0 (the
    data-ordering requirement for training, where a source-sorted
    corpus would make early steps see one distribution).

    No global sort and no single-partition window: the only window
    partitions by source (parallel across sources), the source
    dimension is a broadcast-size distinct, and the global position is
    arithmetic. A 100 TB corpus interleaves with one shuffle on the
    source key; writers then range-partition on global_pos to emit
    ordered shards."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    wsrc = W.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("order:"), F.col("doc_id").cast("string"))),
        F.asc("doc_id"),
    )
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number().over(wsrc).cast("bigint").alias("rank_in_source"),
    )
    srcs = sorted(r["source"] for r in d.select("source").distinct().collect())
    dims = spark.createDataFrame(
        [(s, i, len(srcs)) for i, s in enumerate(srcs)],
        "source string, source_idx bigint, n_sources bigint",
    )
    return ranked.join(F.broadcast(dims), "source").select(
        "doc_id",
        "source",
        "rank_in_source",
        (
            (F.col("rank_in_source") - 1) * F.col("n_sources")
            + F.col("source_idx")
        ).alias("global_pos"),
    )


def _bloom_oracle(k: int = 4, words: int = 32, wbits: int = 32) -> str:
    """Bloom replay: same md5-derived bit positions, same 32×32-bit
    word layout (bits stay in the non-negative BIGINT range, so >> is
    identical logical shift on both engines), same k-way AND."""
    m = words * wbits
    hashes = ", ".join(
        f"CAST(('0x' || substring(md5('bloom{j}:' || term), 1, 8)) AS BIGINT) % {m} AS p{j}"
        for j in range(k)
    )
    cells = " UNION ALL ".join(
        f"SELECT p{j} // {wbits} AS word, 1::BIGINT << (p{j} % {wbits}) AS mask FROM bh"
        for j in range(k)
    )
    joins = " ".join(
        f"LEFT JOIN sketch s{j} ON s{j}.word = qh.p{j} // {wbits}" for j in range(k)
    )
    present = " AND ".join(
        f"((coalesce(s{j}.bits, 0) >> (qh.p{j} % {wbits})) & 1) = 1" for j in range(k)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS term
        FROM toks
    ), words_all AS (
        SELECT DISTINCT doc_id, term FROM bg
    ), build AS (
        SELECT DISTINCT term FROM words_all WHERE doc_id % 2 = 0
    ), probe AS (
        SELECT DISTINCT term FROM words_all WHERE doc_id % 2 = 1
    ), bh AS (
        SELECT term, {hashes} FROM build
    ), sketch AS (
        SELECT word, bit_or(mask) AS bits FROM ({cells}) GROUP BY word
    ), qh AS (
        SELECT term, {hashes} FROM probe
    )
    SELECT qh.term,
           ({present}) AS maybe_present,
           (qh.term IN (SELECT term FROM build)) AS actually_present
    FROM qh {joins}
    """


@_register("x_bloom_filter", _bloom_oracle())
def x_bloom_filter(spark, sf_dir):
    """Bloom filter as a DataFrame aggregate: the build half's
    bigram vocabulary folds into a 1024-bit filter (32 BIGINT words ×
    32 bits, k=4 seeded hashes) with one bit_or aggregation; the probe
    half then tests membership with k broadcast joins against the
    32-row sketch. Emits (term, maybe_present, actually_present) so
    the false-positive set — present-in-filter, absent-in-build — is
    graded, never a false negative (the gate would fail if one ever
    appeared). The build side is one shuffle to ≤32 rows; probes never
    shuffle — the membership primitive for 100 TB anti-join
    prefiltering (skip the expensive join for keys the filter
    rejects), same shape as parquet's row-group bloom but engine-level
    and mergeable (words OR together)."""
    from ftm_lakehouse_spark.functions.text import tokens

    K_, WORDS_, WBITS_ = 4, 32, 32
    m = WORDS_ * WBITS_
    d = _spread(load_table(spark, sf_dir, "documents"))
    # bigram membership: the larger key space loads the filter enough
    # to exercise true negatives AND false positives at test scale
    bigrams = F.when(
        F.size("t") >= 2,
        F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))"),
    ).otherwise(F.array().cast("array<string>"))
    # One corpus pass (round-12, guide §1.3): the tokenize → bigram →
    # distinct derivation fed SIX plan branches (build → 4 sketch
    # broadcasts + the _hit join, probe) and Catalyst re-executed it per
    # branch — the audited plan showed 6 parquet scans of documents.
    # Only the (side, term) grain is ever consumed, so distinct at THAT
    # grain directly (a term under several same-parity doc_ids collapses
    # identically to the old per-side distinct) and materialize it once;
    # build/probe become filters over the checkpointed vocabulary.
    sides = (
        d.select("doc_id", tokens(F.col("text")).alias("t"))
        .select((F.col("doc_id") % 2 == 0).alias("is_build"), F.explode(bigrams).alias("term"))
        .distinct()
        .localCheckpoint(eager=True, storageLevel=_DISK)
    )
    build = sides.filter(F.col("is_build")).select("term")
    probe = sides.filter(~F.col("is_build")).select("term")

    def pos(j):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"bloom{j}:"), F.col("term"))), 1, 8),
                16,
                10,
            ).cast("long")
            % m
        )

    bh = build.select("term", *[pos(j).alias(f"p{j}") for j in range(K_)])
    cells = bh.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col(f"p{j}") / WBITS_).cast("long").alias("word"),
                        F.expr(
                            f"shiftleft(CAST(1 AS BIGINT), CAST(p{j} % {WBITS_} AS INT))"
                        ).alias("mask"),
                    )
                    for j in range(K_)
                ]
            )
        ).alias("c")
    ).select("c.word", "c.mask")
    # ≤32 rows; pinned so the four probe-side broadcasts and their
    # exchange reuse are guaranteed one build, not four
    sketch = (
        cells.groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
        .localCheckpoint(eager=True)
    )

    qh = probe.select("term", *[pos(j).alias(f"p{j}") for j in range(K_)])
    out = qh
    for j in range(K_):
        sj = sketch.select(F.col("word").alias(f"_w{j}"), F.col("bits").alias(f"_b{j}"))
        out = out.withColumn(f"_w{j}", (F.col(f"p{j}") / WBITS_).cast("long")).join(
            F.broadcast(sj), f"_w{j}", "left"
        )
    present = None
    for j in range(K_):
        pj = F.expr(
            f"(shiftright(coalesce(_b{j}, CAST(0 AS BIGINT)),"
            f" CAST(p{j} % {WBITS_} AS INT)) & 1) = 1"
        )
        present = pj if present is None else (present & pj)
    actually = F.col("_hit").isNotNull()
    return (
        out.join(
            build.select("term", F.lit(1).alias("_hit")), "term", "left"
        )
        .select(
            "term",
            present.alias("maybe_present"),
            actually.alias("actually_present"),
        )
    )


def _chunk_pack_oracle(W_: int = 32, S_: int = 24, L_: int = 256) -> str:
    """The chunk→dedup→pack stages replayed as one SQL text: the
    chunking CTEs are doc_chunk_overlap's verified oracle, the dedup
    window is dedup_chunks' keep-first rule, the cumsum is
    sample_pack_sequences' textbook window — a hash match proves the
    COMPOSITION (the RAG-prep counterpart of the pretrain capstone)."""
    sl = f"list_slice(ws, chunk_idx * {S_} + 1, chunk_idx * {S_} + {W_})"
    return f"""
    WITH w AS (
        SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
    ), s AS (
        SELECT doc_id, ws, len(ws) AS n FROM w
    ), c AS (
        SELECT doc_id, ws,
               CASE WHEN n <= {W_} THEN 1
                    ELSE (n - {W_} + {S_ - 1}) // {S_} + 1 END AS n_chunks
        FROM s
    ), e AS (
        SELECT doc_id, ws, CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx
        FROM c
    ), ch AS (
        SELECT doc_id, chunk_idx,
               CAST(len({sl}) AS BIGINT) AS n_tokens,
               md5(array_to_string({sl}, ' ')) AS chunk_hash
        FROM e
    ), kept AS (
        SELECT doc_id, chunk_idx, n_tokens FROM ch
        QUALIFY row_number() OVER (
            PARTITION BY chunk_hash ORDER BY doc_id, chunk_idx
        ) = 1
    ), cum AS (
        SELECT doc_id, chunk_idx, n_tokens,
               CAST(COALESCE(sum(n_tokens) OVER (
                   ORDER BY doc_id * 1000000 + chunk_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS start_offset
        FROM kept
    )
    SELECT doc_id, chunk_idx, n_tokens, start_offset,
           CAST(start_offset // {L_} AS BIGINT) AS first_seq,
           CAST((start_offset + greatest(n_tokens, 1) - 1) // {L_} AS BIGINT)
               AS last_seq,
           CAST((start_offset + greatest(n_tokens, 1) - 1) // {L_}
                - start_offset // {L_} + 1 AS BIGINT) AS n_seqs
    FROM cum
    """


@_register("pipeline_chunk_pack", _chunk_pack_oracle())
def pipeline_chunk_pack(spark, sf_dir):
    """CAPSTONE (retrieval/packing side): overlapping token-window
    chunking ∘ exact chunk dedup (keep the first occurrence of each
    chunk text — passage-level dedup for RAG indexes and context
    assembly) ∘ GPT-style sequence packing of the surviving chunks.
    Every stage is the operator its standalone gate grades
    (doc_chunk_overlap, dedup_chunks' window rule,
    sample_pack_sequences' two-phase cumsum), and the oracle embeds
    their verified SQL, so the hash match proves the composition.

    Scale: chunking is row-local, the dedup window shuffles once on
    the 32-byte chunk hash, and the packing cumsum is the
    range-partitioned two-phase pattern — no single-reducer window
    anywhere (the packing plan pin covers this path too)."""
    from pyspark.sql import Window as W_win

    from ftm_lakehouse_spark.operators.packing import pack_sequences

    W_, S_, L_ = 32, 24, 256
    d = _spread(load_table(spark, sf_dir, "documents"))
    words = F.filter(F.split("text", r"\s+"), lambda w: w != "")
    base = d.select("doc_id", words.alias("ws")).select(
        "doc_id", "ws", F.size("ws").alias("n")
    )
    n_chunks = F.when(F.col("n") <= W_, F.lit(1)).otherwise(
        F.expr(f"CAST(div(n - {W_} + {S_ - 1}, {S_}) + 1 AS INT)")
    )
    chunks = (
        base.select(
            "doc_id",
            "ws",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .withColumn("cw", F.expr(f"slice(ws, chunk_idx * {S_} + 1, {W_})"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.size("cw").cast("bigint").alias("n_tokens"),
            F.md5(F.array_join("cw", " ")).alias("chunk_hash"),
        )
    )
    keepw = W_win.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    kept = (
        chunks.withColumn("_rn", F.row_number().over(keepw))
        .filter(F.col("_rn") == 1)
        .select(
            (F.col("doc_id") * 1000000 + F.col("chunk_idx")).alias("ckey"),
            "n_tokens",
        )
    )
    packed = pack_sequences(kept, "n_tokens", seq_len=L_, order_col="ckey")
    return packed.select(
        F.expr("div(ckey, 1000000)").alias("doc_id"),
        (F.col("ckey") % 1000000).cast("int").alias("chunk_idx"),
        "n_tokens",
        "start_offset",
        "first_seq",
        "last_seq",
        "n_seqs",
    )


# =====================================================================
# TPC-H breadth + events analytics (round 3, second session)
# =====================================================================

@_register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                    * CAST(1 - l_discount AS DECIMAL(12,4))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-07-01'
      AND l_shipdate  > TIMESTAMP '1998-07-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 (shipping priority): date predicates on both fact
    scans (pushed to parquet), a grouped top-10 with a total order
    (revenue desc, orderdate, orderkey tiebreak). o_orderpriority
    stands in for o_shippriority (testdata schema).

    Shape (round-8 rewrite, the sf100 sweep's worst engine/oracle
    ratio at 14x): the revenue aggregate is pushed BELOW the orders
    join — valid because orders is unique on o_orderkey, so the other
    group keys (o_orderdate, o_orderpriority) are functionally
    dependent on the join key and the join duplicates no lineitem
    rows. Catalyst does not push aggregates through joins itself, and
    the manual push changes the plan's scale behavior: the lineitem
    side collapses from |filtered rows| to |distinct late-shipped
    orderkeys| BEFORE the big join — when that fits the broadcast
    regime AQE ships it and the orders scan streams map-side; past it
    the join degrades to a shuffle whose lineitem side is already
    aggregated and 2-column narrow, and the post-join re-aggregation
    disappears either way. The customer probe is a left-semi (its
    columns are never projected), also size-decided. No forced hints
    (j_multiway_star's policy)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp"))
        .join(c, F.col("o_custkey") == c.c_custkey, "left_semi")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp")
    )
    rev = _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast(
        "decimal(12,4)"
    )
    li_agg = li.groupBy("l_orderkey").agg(
        F.sum(rev).cast("double").alias("revenue")
    )
    return (
        o.join(li_agg, o.o_orderkey == li_agg.l_orderkey)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@_register(
    "q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                    * CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): the pure
    scan-filter-aggregate — every predicate reaches the parquet scan
    (PushedFilters on l_shipdate/l_discount/l_quantity), only three
    columns are read, and the aggregate is a map-side partial + one
    single-row exchange. The canonical 'is pushdown working' probe."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * _dec("l_discount")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@_register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                    * CAST(1 - l_discount AS DECIMAL(12,4))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_orderdate <  TIMESTAMP '1998-07-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): who cost us the most in
    returns this half-year. Date filter pushed into orders, returnflag
    pushed into lineitem, nation broadcast, customer broadcast after
    AQE sees the filtered orders side; grouped top-20 with c_custkey
    tiebreak. The group key carries the c_* payload columns (standard
    TPC-H shape) — at scale those ride the same single shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast(
        "decimal(12,4)"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@_register(
    "q18_large_volume_customer",
    """
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           total_qty
    FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(l_quantity) > 250) big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18 (large-volume customer): the aggregate-then-having
    semi-join shape. Written as ONE lineitem aggregation whose
    survivors join back to orders/customer — not the naive
    scan-twice `WHERE o_orderkey IN (SELECT ...)` form; the HAVING
    filter lands map-side-partial'd on the only lineitem shuffle.
    sum(l_quantity) is a sum of small whole doubles — exact in IEEE
    regardless of order, no decimal detour needed."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(o, o.o_orderkey == big.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@_register(
    "x_cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id,
               date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY user_id
    )
    SELECT cohort_week,
           date_trunc('week', ts) AS active_week,
           count(DISTINCT e.user_id) AS n_users,
           count(*) AS n_events
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY cohort_week, active_week
    """,
)
def x_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users bucketed by first-seen ISO week
    crossed with each week they were active. The per-user firsts
    aggregate is one row per user — data-sized, so no broadcast hint
    (j_multiway_star's policy): AQE broadcasts it while it fits and
    falls back to a shuffle join on user_id (the key the aggregate
    already partitioned on, so that exchange is reused) beyond.
    Monday-start date_trunc matches across Spark and DuckDB."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        e.join(firsts, "user_id")
        .withColumn("active_week", F.date_trunc("week", F.col("ts")))
        .groupBy("cohort_week", "active_week")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@_register(
    "text_dup_ngram_coverage",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS ts
        FROM documents
    ),
    grams AS (
        SELECT doc_id, md5(array_to_string(ts[i:i+4], ' ')) AS h
        FROM toks, unnest(range(1, greatest(len(ts) - 3, 1))) AS t(i)
    ),
    grp AS (
        SELECT doc_id, h, count(*) AS c FROM grams GROUP BY doc_id, h
    ),
    byhash AS (
        SELECT h, count(*) AS n_docs FROM grp GROUP BY h
    ),
    per AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) AS BIGINT)
                   AS dup_grams
        FROM grp JOIN byhash USING (h)
        GROUP BY doc_id
    )
    SELECT t.doc_id AS doc_id,
           COALESCE(n_grams, 0) AS n_grams,
           COALESCE(dup_grams, 0) AS dup_grams,
           CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0.0
                ELSE CAST(dup_grams AS DOUBLE) / n_grams END AS dup_frac
    FROM toks t LEFT JOIN per USING (doc_id)
    """,
)
def text_dup_ngram_coverage(spark, sf_dir):
    """Gopher/RefinedWeb-style CROSS-document duplicate n-gram
    coverage: for each document, the fraction of its 5-gram instances
    whose gram text also appears in at least one OTHER document (df
    >= 2 over distinct docs). Complements text_repetition_stats
    (within-doc) and dedup_winnow_substrings (pairwise spans) — this
    is the corpus-level boilerplate signal used as a filter feature.

    Scale shape (round-8 rewrite, the text family's slowest sf100
    wall at 204.8 s): grams collapse to (doc_id, md5, c) ROW-LOCALLY —
    the per-doc gram array is sorted and run-length encoded by array
    expressions (text_novelty_score's technique), so the raw
    occurrence stream never shuffles; a groupBy(doc_id, h) moved
    every instance over the network. The df table folds the collapsed
    pairs to value grain (map-side combined), filters to the df>=2
    'dup' set — all the score needs — and the join back is LEFT OUTER
    against that set, whose broadcast build side is pinned by join
    SEMANTICS (outer probe cannot build), immunizing the plan against
    the estimate-blind wrong-side broadcast text_novelty_score
    documents. The pair stream is re-derived map-side for its two
    consumers (gram hashing twice, embarrassingly parallel) — measured
    CHEAPER at both sf10 and sf100 than materializing it through an
    explicit exchange, because per-branch column pruning rewrites the
    exchange child differently and defeats ReuseExchange, doubling the
    shuffle on top of the hashing. 204.8 s -> 174 s at sf100.
    dup_frac is a ratio of exact integers — bit-identical IEEE
    division in both engines."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        F.expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')").alias("ts"),
    )
    rle = F.expr(
        """
        CASE WHEN size(sp) >= 1 THEN
          zip_with(
            sp, concat(slice(sp, 2, size(sp) - 1), array(size(sg) + 1)),
            (s, e) -> struct(element_at(sg, s) AS h,
                             CAST(e - s AS BIGINT) AS c))
        ELSE CAST(array() AS array<struct<h:string,c:bigint>>) END
        """
    )
    grp = (
        toks.withColumn(
            "sg",
            F.expr(
                "array_sort(CASE WHEN size(ts) >= 5 THEN"
                " transform(sequence(1, size(ts) - 4),"
                " i -> md5(array_join(slice(ts, i, 5), ' ')))"
                " ELSE CAST(array() AS array<string>) END)"
            ),
        )
        .withColumn(
            "sp",
            F.expr(
                "CASE WHEN size(sg) >= 1 THEN"
                " filter(sequence(1, size(sg)),"
                " i -> i = 1 OR element_at(sg, i) != element_at(sg, i - 1))"
                " ELSE CAST(array() AS array<int>) END"
            ),
        )
        .select("doc_id", F.explode(rle).alias("p"))
        .select("doc_id", F.col("p.h").alias("h"), F.col("p.c").alias("c"))
    )
    dup = (
        grp.groupBy("h")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("h", F.lit(1).alias("is_dup"))
    )
    per = (
        grp.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.sum(F.col("c") * F.coalesce(F.col("is_dup"), F.lit(0)))
            .cast("bigint")
            .alias("dup_grams"),
        )
    )
    return (
        toks.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
            F.when(F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(F.col("dup_grams").cast("double") / F.col("n_grams"))
            .alias("dup_frac"),
        )
    )


@_register(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) cc
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER join
    with a predicate in the ON clause — the filter must apply to the
    probe side WITHOUT dropping unmatched customers (a WHERE would).
    count(o_orderkey) counts only matches, so zero-order customers
    survive as c_count=0. Two aggregations: per-customer, then the
    distribution over counts (a tiny second shuffle)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@_register(
    "q22_global_sales_opportunity",
    """
    SELECT n_name AS cntry, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,4))) AS DOUBLE) AS totacctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,4)))
                                   AS DOUBLE) / count(*)
                       FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n_name
    """,
)
def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity): above-average account
    balances among customers with no RECENT order (>= 2000-01-01;
    with seed-42 data every customer has ordered at least once, so
    the classic no-order-ever form would grade an empty set) — a
    scalar aggregate
    subquery plus an anti-join in one query. The scalar avg is a
    single-row aggregate broadcast via crossJoin (exactly what
    Catalyst rewrites scalar subqueries to); the NOT EXISTS is a
    left_anti on o_custkey. The avg threshold itself is compared as
    raw double on BOTH sides (identical parallel-sum caveat avoided:
    the filter only needs the same >-comparison, and the avg is
    computed from a decimal-exact sum / exact count on each engine)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    n = load_table(spark, sf_dir, "nation")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(_dec("c_acctbal")).cast("double") / F.count("*"))
            .alias("_avg")
        )
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("cntry"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


@_register(
    "graph_pagerank",
    """
    WITH pairs AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT 'c:' || c AS src, 's:' || s AS dst FROM pairs
        UNION ALL
        SELECT 's:' || s AS src, 'c:' || c AS dst FROM pairs
    ),
    deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT node, 1000000000000 // n AS r FROM deg, nn),
    c1 AS (SELECT e.dst AS node, r0.r // deg.d AS c
           FROM edges e JOIN r0 ON e.src = r0.node
                        JOIN deg ON e.src = deg.node),
    s1 AS (SELECT node, sum(c) AS s FROM c1 GROUP BY node),
    r1 AS (SELECT deg.node,
                  CAST(15000000000000 // (100 * nn.n)
                       + (85 * COALESCE(s1.s, 0)) // 100 AS BIGINT) AS r
           FROM deg LEFT JOIN s1 ON deg.node = s1.node, nn),
    c2 AS (SELECT e.dst AS node, r1.r // deg.d AS c
           FROM edges e JOIN r1 ON e.src = r1.node
                        JOIN deg ON e.src = deg.node),
    s2 AS (SELECT node, sum(c) AS s FROM c2 GROUP BY node),
    r2 AS (SELECT deg.node,
                  CAST(15000000000000 // (100 * nn.n)
                       + (85 * COALESCE(s2.s, 0)) // 100 AS BIGINT) AS r
           FROM deg LEFT JOIN s2 ON deg.node = s2.node, nn),
    c3 AS (SELECT e.dst AS node, r2.r // deg.d AS c
           FROM edges e JOIN r2 ON e.src = r2.node
                        JOIN deg ON e.src = deg.node),
    s3 AS (SELECT node, sum(c) AS s FROM c3 GROUP BY node),
    r3 AS (SELECT deg.node,
                  CAST(15000000000000 // (100 * nn.n)
                       + (85 * COALESCE(s3.s, 0)) // 100 AS BIGINT) AS r
           FROM deg LEFT JOIN s3 ON deg.node = s3.node, nn)
    SELECT node, r AS rank FROM r3
    """,
)
def graph_pagerank(spark, sf_dir):
    """Fixed-point PageRank (3 iterations, damping 0.85) over the
    symmetrized customer–supplier trading graph derived from
    orders ⋈ lineitem. Integer fixed-point arithmetic end to end
    (operators/graph.pagerank_fixed_point): ranks scaled to 1e12,
    updates use only int multiply/sum/floor-div, so the result is
    EXACTLY engine-independent — the float variant could never
    hash-match across Spark and DuckDB. Iterative graph capability
    beyond connected components; at scale each iteration is one
    edges⋈ranks join + one groupBy(dst), rounds independent of
    corpus size."""
    from ftm_lakehouse_spark.operators.graph import pagerank_fixed_point

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    fwd = pairs.select(
        F.concat(F.lit("c:"), "o_custkey").alias("src"),
        F.concat(F.lit("s:"), "l_suppkey").alias("dst"),
    )
    rev = pairs.select(
        F.concat(F.lit("s:"), "l_suppkey").alias("src"),
        F.concat(F.lit("c:"), "o_custkey").alias("dst"),
    )
    edges = fwd.unionByName(rev)
    return pagerank_fixed_point(edges, iterations=3).select(
        "node", F.col("rank").alias("rank")
    )


@_register(
    "text_bm25_topk",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS ts
        FROM documents
    ),
    docs AS (SELECT doc_id, len(ts) AS dl, ts FROM toks),
    corpus AS (SELECT count(*) AS n_docs,
                      CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
               FROM docs),
    tfreq AS (
        SELECT doc_id, t, count(*) AS tf
        FROM (SELECT doc_id, unnest(ts) AS t FROM docs)
        WHERE t IN ('vector', 'merge', 'scan')
        GROUP BY doc_id, t
    ),
    dfreq AS (SELECT t, count(*) AS df FROM tfreq GROUP BY t),
    scored AS (
        SELECT tfreq.doc_id, tfreq.t,
               ((n_docs - df + 0.5) / (df + 0.5))
               * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) AS s
        FROM tfreq JOIN docs USING (doc_id) JOIN dfreq USING (t), corpus
    )
    SELECT doc_id,
           count(*) AS n_terms,
           COALESCE(max(CASE WHEN t = 'vector' THEN s END), 0.0)
           + COALESCE(max(CASE WHEN t = 'merge' THEN s END), 0.0)
           + COALESCE(max(CASE WHEN t = 'scan' THEN s END), 0.0) AS score
    FROM scored
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
)
def text_bm25_topk(spark, sf_dir):
    """BM25 retrieval (k1=1.2, b=0.75) for the fixed query
    {vector, merge, scan}: tf from an early term-filtered explode, df
    and the corpus stats as broadcast scalars, score assembled in a
    FIXED left-to-right order per term (no float aggregation) with a
    rational idf (N-df+0.5)/(df+0.5) — log-free because Math.log and
    libm log may differ in the last ulp across engines while +,-,*,/
    are IEEE-correctly-rounded and therefore bit-identical. Top-20
    with doc_id tiebreak.

    Scale shape (round-12, guide §1.3/§2.3): the OLD form tokenized the
    corpus once per plan branch (corpus stats, posting explode, the dl
    re-join, the df broadcast — 4 parquet scans, 9 exchanges in the
    audited plan). With a FIXED 3-term query the per-doc term counts
    are array expressions, so ONE narrow pass (doc_id, dl, tf per
    term — no explode, no token payload) feeds everything; the corpus
    stats and per-term dfs fold into ONE broadcast scalar row, scoring
    is row-local arithmetic over the checkpointed pass, and the only
    remaining movement is TakeOrdered's k-row merge. Bit-identical
    scores: tf = size(filter(ts, = t)) equals the old explode+count,
    and the s formula keeps the exact literal/op order (the gate's
    log-free rational idf makes +,-,*,/ reproducible; re-proved against
    the unchanged DuckDB oracle)."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    terms = ["vector", "merge", "scan"]
    toks = d.select(
        "doc_id",
        F.expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')").alias("ts"),
    )
    lens = toks.select(
        "doc_id",
        F.size("ts").alias("dl"),
        *[
            F.size(F.expr(f"filter(ts, x -> x = '{t}')")).alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    ).localCheckpoint(eager=True, storageLevel=_DISK)
    stats = lens.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )

    def s_term(i):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        return (
            ((F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5)))
            * ((tf * F.lit(2.2))
               / (tf
                  + F.lit(1.2)
                  * (F.lit(0.25)
                     + F.lit(0.75) * (F.col("dl") / F.col("avgdl")))))
        )

    per_term = [
        F.when(F.col(f"tf{i}") > 0, s_term(i)).otherwise(F.lit(0.0))
        for i in range(len(terms))
    ]
    n_terms = sum(
        (F.col(f"tf{i}") > 0).cast("long") for i in range(len(terms))
    )
    return (
        lens.filter(" or ".join(f"tf{i} > 0" for i in range(len(terms))))
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            n_terms.alias("n_terms"),
            (per_term[0] + per_term[1] + per_term[2]).alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


@_register(
    "sample_dsir_weights",
    """
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS ts
        FROM documents
    ),
    unis AS (SELECT doc_id, lang, unnest(ts) AS f FROM toks),
    bis AS (
        SELECT doc_id, lang, ts[i] || ' ' || ts[i + 1] AS f
        FROM toks, unnest(range(1, greatest(len(ts), 1))) AS t(i)
    ),
    feats AS (SELECT * FROM unis UNION ALL SELECT * FROM bis),
    bucketed AS (
        SELECT doc_id, lang,
               CAST(('0x' || substring(md5('dsir:' || f), 1, 8)) AS BIGINT)
                   % 1024 AS b
        FROM feats
    ),
    cnt AS (
        SELECT b,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t,
               CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS r
        FROM bucketed GROUP BY b
    ),
    w AS (SELECT b, (1000000 * (t + 1)) // (r + 1) AS w FROM cnt),
    per AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
               CAST(sum(w) AS BIGINT) AS score
        FROM bucketed JOIN w USING (b) GROUP BY doc_id
    )
    SELECT doc_id, n_feats, score FROM per
    ORDER BY score DESC, doc_id
    LIMIT 100
    """,
)
def sample_dsir_weights(spark, sf_dir):
    """DSIR-style importance weighting (Xie et al. 2023, public paper):
    hashed unigram+bigram features (1024 buckets, md5-derived so the
    bucket map is engine-portable), per-bucket target-vs-rest counts
    (target = lang='en'), and a per-document importance score. The
    likelihood-ratio weight is INTEGER fixed-point —
    (1e6*(t+1)) // (r+1), add-one smoothed — instead of the paper's
    log-ratio sum: libm/JVM log differ in the last ulp across engines
    while integer ops are exact, and the induced document RANKING is
    what resampling consumes. Top-100 selection with doc_id tiebreak.

    Scale shape (round-8 rewrite): the per-document bucket histogram
    is computed ROW-LOCALLY — hash every unigram+bigram feature to its
    bucket inside a transform(), sort the int array, run-length encode
    (text_novelty_score's technique) — so the feature stream reaches
    its first exchange already collapsed to one row per (doc, bucket)
    WITHOUT the groupBy that previously shuffled every occurrence
    (~5.3B exploded feature rows at sf100 collapsing to ~3B grouped
    rows THROUGH the exchange; 122 s). The per-bucket target/rest
    fold is then map-side-combined into <=1024 rows per task, the
    1024-row weight table broadcasts, and the per-doc score fold ships
    one row per document. No multi-billion-row exchange anywhere;
    88 s at sf100, and the remainder is the md5 of 5.3B features —
    map-side CPU, not shuffle. Bucket counts are bigint — at extreme
    corpus scale bump the weight scale down (1e4) to keep score sums
    under int64."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        "lang",
        F.expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')").alias("ts"),
    )
    # all features (unigrams ++ bigrams) -> bucket ids, in the row
    buckets = F.expr(
        """
        transform(
          concat(ts, CASE WHEN size(ts) >= 2 THEN
                       transform(sequence(1, size(ts) - 1),
                         i -> concat(element_at(ts, i), ' ',
                                     element_at(ts, i + 1)))
                     ELSE CAST(array() AS array<string>) END),
          f -> CAST(conv(substring(md5(concat('dsir:', f)), 1, 8), 16, 10)
                    AS BIGINT) % 1024L)
        """
    )
    rle = F.expr(
        """
        CASE WHEN size(sp) >= 1 THEN
          zip_with(
            sp, concat(slice(sp, 2, size(sp) - 1), array(size(sb) + 1)),
            (s, e) -> struct(element_at(sb, s) AS b,
                             CAST(e - s AS BIGINT) AS c))
        ELSE CAST(array() AS array<struct<b:bigint,c:bigint>>) END
        """
    )
    grp = (
        toks.select("doc_id", "lang", F.array_sort(buckets).alias("sb"))
        .withColumn(
            "sp",
            F.expr(
                "CASE WHEN size(sb) >= 1 THEN"
                " filter(sequence(1, size(sb)),"
                " i -> i = 1 OR element_at(sb, i) != element_at(sb, i - 1))"
                " ELSE CAST(array() AS array<int>) END"
            ),
        )
        .select("doc_id", "lang", F.explode(rle).alias("p"))
        .select("doc_id", "lang", F.col("p.b").alias("b"), F.col("p.c").alias("c"))
    )
    cnt = grp.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0))
        .cast("long")
        .alias("t"),
        F.sum(F.when(F.col("lang") == "en", F.lit(0)).otherwise(F.col("c")))
        .cast("long")
        .alias("r"),
    )
    w = cnt.select("b", F.expr("div(1000000 * (t + 1), r + 1)").alias("w"))
    per = (
        grp.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_feats"),
            F.sum(F.col("c") * F.col("w")).cast("bigint").alias("score"),
        )
    )
    return per.orderBy(F.desc("score"), "doc_id").limit(100)


@_register(
    "x_kmv_distinct",
    """
    WITH pairs AS (
        SELECT DISTINCT l_returnflag AS grp, l_partkey FROM lineitem
    ),
    hashed AS (
        SELECT grp,
               CAST(('0x' || substring(md5('kmv:' || CAST(l_partkey AS VARCHAR)),
                                       1, 13)) AS BIGINT) AS h
        FROM pairs
    ),
    ranked AS (
        SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        FROM hashed
    ),
    kmv AS (
        SELECT grp, max(h) AS hk, CAST(count(*) AS BIGINT) AS k
        FROM ranked WHERE rn <= 64 GROUP BY grp
    ),
    exact AS (
        SELECT l_returnflag AS grp,
               count(DISTINCT l_partkey) AS exact_distinct
        FROM lineitem GROUP BY grp
    )
    SELECT grp, k, hk,
           CAST(k - 1 AS DOUBLE) * 4503599627370496.0 / hk AS est_distinct,
           exact_distinct
    FROM kmv JOIN exact USING (grp)
    """,
)
def x_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values) distinct-count sketch, k=64 — the
    approximate-distinct family's ORACLE-VERIFIABLE member: because
    the hash is the portable md5→int map (52-bit so every value is
    exactly double-representable) and the estimator
    (k-1)·2^52 / h_k is a division of exactly-representable ints,
    the sketch AND its estimate are bit-identical on any engine —
    unlike HLL, whose register internals legitimately differ across
    engines (which is why x_approx_stats swapped HLL for this same
    KMV construction in round 5). Emits the exact distinct
    count alongside, so the gate also GRADES the estimator's error.

    Scale shape: Spark computes the k-minima in two phases — per
    (group, salt=h%64) rank (64-way spread of the distinct-hash
    shuffle) then a final rank over ≤64·64 bounded survivors — the
    same two-phase pattern as packing's global cumsum; the oracle
    keeps the single-window form (same values by construction:
    the global k smallest lie in the union of per-salt k smallest).
    KMV sketches merge by union+re-rank, the mergeability CMS/Bloom
    already demonstrate."""
    from pyspark.sql import Window as W_win

    li = load_table(spark, sf_dir, "lineitem")
    # distinct BEFORE hashing (round-8): the raw key column folds to
    # value grain map-side first, so md5 runs once per distinct
    # (group, key) pair — 60M at sf100 — instead of once per row
    # (600M).  The hash is a function of the key but NOT injective
    # (52 bits), so duplicate (grp, h) rows are possible; instead of a
    # second .distinct() on (grp, h) — measured 2.5× the gate wall at
    # sf10 (7.15 s vs 2.84 s), a full extra shuffle of the hashed
    # stream for a ~1e-7 event — the ORACLE dedupes (grp, l_partkey)
    # before hashing too (round-9 ADVICE fix), making both sides
    # structurally identical INCLUDING collision behavior: a collided
    # h appears twice in both rank streams, ties share identical
    # (grp, h) tuples so any tie order yields the same kept multiset,
    # and every global top-64 row is inside its salt's top-64, so the
    # two-phase cut is exact with duplicates as well.
    pairs = li.select(F.col("l_returnflag").alias("grp"), "l_partkey").distinct()
    hashed = pairs.select(
        "grp",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col("l_partkey").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    w1 = W_win.partitionBy("grp", F.pmod(F.col("h"), F.lit(64))).orderBy("h")
    survivors = hashed.withColumn("_rn", F.row_number().over(w1)).filter(
        F.col("_rn") <= 64
    )
    w2 = W_win.partitionBy("grp").orderBy("h")
    kmv = (
        survivors.withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= 64)
        .groupBy("grp")
        .agg(F.max("h").alias("hk"), F.count("*").cast("bigint").alias("k"))
    )
    exact = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count_distinct("l_partkey").alias("exact_distinct")
    )
    return kmv.join(exact, "grp").select(
        "grp",
        "k",
        "hk",
        ((F.col("k") - 1).cast("double") * F.lit(4503599627370496.0) / F.col("hk"))
        .alias("est_distinct"),
        "exact_distinct",
    )


@_register(
    "sample_epoch_shuffle",
    """
    SELECT doc_id, epoch,
           CAST(row_number() OVER (
               PARTITION BY epoch
               ORDER BY md5('epoch' || CAST(epoch AS VARCHAR) || ':'
                            || CAST(doc_id AS VARCHAR))) - 1 AS BIGINT)
               AS position
    FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS epoch) e
    """,
)
def sample_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch shuffling: every document gets a global
    0-based position per training epoch, the permutation being
    md5('epoch{e}:'||doc_id) order — fully reproducible (re-run
    anywhere, same order; the property training-run audits need) and
    different every epoch. The global rank is NOT a single-reducer
    window: each epoch reuses packing.global_cumsum's two-phase
    range-partitioned pattern (per-partition rank + broadcast prefix
    offsets), so a 100 TB corpus shuffles once per epoch on the hash
    key and nothing ever serializes onto one task. Epochs are
    independent branches computed in parallel."""
    from ftm_lakehouse_spark.operators.packing import global_cumsum

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    parts = []
    for e in (0, 1):
        keyed = d.select(
            "doc_id",
            F.lit(e).cast("int").alias("epoch"),
            F.md5(
                F.concat(F.lit(f"epoch{e}:"), F.col("doc_id").cast("string"))
            ).alias("_k"),
            F.lit(1).alias("_one"),
        )
        parts.append(
            global_cumsum(keyed, "_one", "_k", out="position").select(
                "doc_id", "epoch", F.col("position").cast("bigint").alias("position")
            )
        )
    return parts[0].unionByName(parts[1])


@_register(
    "j_full_outer_nations",
    """
    WITH cs AS (SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_cust
                FROM customer WHERE c_acctbal > 9900 GROUP BY c_nationkey),
         ss AS (SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_supp
                FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey)
    SELECT COALESCE(cs.nk, ss.nk) AS nk,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(n_supp, 0) AS n_supp,
           CASE WHEN n_cust IS NULL THEN 'supplier_only'
                WHEN n_supp IS NULL THEN 'customer_only'
                ELSE 'both' END AS side
    FROM cs FULL OUTER JOIN ss ON cs.nk = ss.nk
    """,
)
def j_full_outer_nations(spark, sf_dir):
    """FULL OUTER join — the one join type the matrix lacked (inner /
    left / semi / anti / interval / as-of / range all have gates):
    high-balance customer counts vs high-balance supplier counts per
    nation, where at the graded scale some nations exist on only one
    side, so all three match classes are exercised (unmatched-left,
    unmatched-right, both). COALESCE folds the null side; at scale a
    full outer is the same single shuffle as an inner join (SMJ keeps
    both sides' unmatched rows)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9900)
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000)
    cs = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count("*").cast("bigint").alias("n_cust")
    )
    ss = s.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count("*").cast("bigint").alias("n_supp")
    )
    return (
        cs.join(ss, cs.nk == ss.nk, "full_outer")
        .select(
            F.coalesce(cs.nk, ss.nk).alias("nk"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
            F.when(F.col("n_cust").isNull(), "supplier_only")
            .when(F.col("n_supp").isNull(), "customer_only")
            .otherwise("both")
            .alias("side"),
        )
    )


@_register(
    "x_feature_snapshot",
    """
    SELECT o_orderkey, o_custkey,
           CAST(count(*) OVER prior_w AS BIGINT) AS prior_orders,
           CAST(COALESCE(sum(CAST(o_totalprice AS DECIMAL(12,4))) OVER prior_w,
                         0) AS DOUBLE) AS prior_spend,
           CAST(date_diff('day',
                CAST(min(o_orderdate) OVER prior_w AS DATE),
                CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_first
    FROM orders
    WINDOW prior_w AS (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    )
    """,
)
def x_feature_snapshot(spark, sf_dir):
    """Point-in-time-correct feature snapshot (the feature-store /
    training-serving-skew pattern): for every order, the customer's
    history STRICTLY BEFORE it — prior order count, prior spend
    (decimal-exact), days since first prior order (NULL-safe 0 for a
    customer's first order via the count=0 path; date_diff on the
    day grain). The frame is ROWS ... 1 PRECEDING with a total order
    (orderdate, orderkey), so a feature row can never see its own
    label's timestamp — the leakage bug this operator exists to
    prevent. One shuffle on the entity key; at scale this is the
    as-of-join family's windowed sibling (x_asof_join grades the
    two-table form)."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.count("*").over(w).cast("bigint").alias("prior_orders"),
        F.coalesce(F.sum(_dec("o_totalprice")).over(w), F.lit(0))
        .cast("double")
        .alias("prior_spend"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.min("o_orderdate").over(w).cast("date")
        )
        .cast("bigint")
        .alias("days_since_first"),
    )


@_register(
    "mm_image_roundtrip",
    """
    SELECT vec_id, 8 AS width, 8 AS height,
           CAST(list_sum(list_transform(embedding,
                v -> CAST(abs(floor(CAST(v AS DOUBLE) * 1000)) AS BIGINT)
                     % 256)) AS BIGINT) AS pixel_sum
    FROM embeddings
    """,
)
def mm_image_roundtrip(spark, sf_dir):
    """Multimodal plumbing under a FULL oracle: each embedding renders
    to an 8×8 grayscale image (integer pixel map — floor/abs/%256,
    exact in both engines), encodes to a real PNG and decodes back
    through the library-free codecs (functions/media_codecs) inside an
    Arrow-batched mapInPandas, and the gate emits the DECODED width /
    height / pixel sum. The oracle computes the same pixels directly
    from the array — so a hash match proves decode∘encode is the
    identity on pixel data through the whole binary-column path
    (schema, Arrow batching, UDF signature), not just in a unit test.

    Scale shape: the pixel map is JVM-side; the Python boundary is one
    Arrow round-trip batching ~10k small blobs per task — the same
    shape real image feature-extraction runs at corpus scale (blobs
    partition-parallel, nothing driver-side)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ftm_lakehouse_spark.functions.media_codecs import decode_image, encode_png

    e = load_table(spark, sf_dir, "embeddings")
    pix = e.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " v -> cast((abs(floor(cast(v as double) * 1000)) % 256) as int))"
        ).alias("pixels"),
    )

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for vid, px in zip(pdf["vec_id"], pdf["pixels"]):
                arr = np.asarray(list(px), dtype=np.uint8).reshape(8, 8)
                dec = decode_image(encode_png(arr), "image/png")
                out.append(
                    (int(vid), int(dec.shape[1]), int(dec.shape[0]),
                     int(dec.astype(np.int64).sum()))
                )
            yield pd.DataFrame(
                out, columns=["vec_id", "width", "height", "pixel_sum"]
            )

    return pix.mapInPandas(
        roundtrip, "vec_id long, width int, height int, pixel_sum long"
    )


@_register(
    "mm_audio_roundtrip",
    """
    SELECT vec_id, 16000 AS rate, 64 AS n_samples,
           CAST(list_sum(list_transform(embedding,
                v -> trunc(((CAST(abs(floor(CAST(v AS DOUBLE) * 1000)) AS BIGINT)
                             % 65536) - 32768) * 32767.0 / 32768.0)))
                AS BIGINT) AS pcm_sum
    FROM embeddings
    """,
)
def mm_audio_roundtrip(spark, sf_dir):
    """Audio path under a full oracle: embeddings map to exact int16
    sample values (JVM-side), pass through encode_wav → decode_wav
    (real RIFF/PCM bytes, functions/media_codecs) in Arrow-batched
    mapInPandas, and the gate emits the DECODED rate / length / PCM
    sum. The encoder's float quantization (clip·32767 then truncate)
    is replicated exactly in the oracle: s16/32768 is a power-of-two
    division and s16·32767 fits float64 exactly, so
    trunc(s16·32767/32768) is bit-deterministic — the oracle proves
    the full encode→decode chain sample-exact, not approximately."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ftm_lakehouse_spark.functions.media_codecs import decode_wav, encode_wav

    e = load_table(spark, sf_dir, "embeddings")
    s16 = e.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " v -> cast(((abs(floor(cast(v as double) * 1000)) % 65536) - 32768)"
            " as int))"
        ).alias("s16"),
    )

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for vid, s in zip(pdf["vec_id"], pdf["s16"]):
                samples = np.asarray(list(s), dtype=np.float64) / 32768.0
                dec, rate = decode_wav(encode_wav(samples, rate=16000))
                pcm = np.round(dec * 32768.0).astype(np.int64)
                out.append((int(vid), int(rate), len(dec), int(pcm.sum())))
            yield pd.DataFrame(
                out, columns=["vec_id", "rate", "n_samples", "pcm_sum"]
            )

    return s16.mapInPandas(
        roundtrip, "vec_id long, rate int, n_samples int, pcm_sum long"
    )


@_register(
    "mm_video_frame_sample",
    """
    SELECT vec_id, f AS frame_idx, 8 AS width, 8 AS height,
           CAST(3 * list_sum(list_transform(embedding,
                v -> (CAST(abs(floor(CAST(v AS DOUBLE) * 1000)) AS BIGINT) + f)
                     % 256)) AS BIGINT) AS pixel_sum
    FROM embeddings, unnest([0, 2]) AS t(f)
    """,
)
def mm_video_frame_sample(spark, sf_dir):
    """Video path under a full oracle: each embedding becomes a
    3-frame 'video' of concatenated binary PPMs (frame f's RGB pixels
    = (p+f)%256 on all channels, exact ints), the container is parsed
    by split_ppm_frames (REAL per-frame header-length parsing), every
    2nd frame is sampled (indices 0, 2), decoded, and the gate emits
    decoded dimensions + pixel sums. The oracle recomputes the pixels
    per sampled frame directly — a hash match proves container
    framing, frame sampling, and PPM decode end to end inside the
    driver's correctness gate."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ftm_lakehouse_spark.functions.media_codecs import (
        decode_image,
        encode_ppm,
        split_ppm_frames,
    )

    e = load_table(spark, sf_dir, "embeddings")
    pix = e.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " v -> cast((abs(floor(cast(v as double) * 1000)) % 256) as int))"
        ).alias("pixels"),
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for vid, px in zip(pdf["vec_id"], pdf["pixels"]):
                base = np.asarray(list(px), dtype=np.int64).reshape(8, 8)
                container = b"".join(
                    encode_ppm(
                        np.repeat(
                            (((base + f) % 256).astype(np.uint8))[:, :, None], 3, axis=2
                        )
                    )
                    for f in range(3)
                )
                frames = split_ppm_frames(container)
                for idx in range(0, len(frames), 2):
                    dec = decode_image(frames[idx], "image/x-portable-pixmap")
                    out.append(
                        (int(vid), idx, int(dec.shape[1]), int(dec.shape[0]),
                         int(dec.astype(np.int64).sum()))
                    )
            yield pd.DataFrame(
                out,
                columns=["vec_id", "frame_idx", "width", "height", "pixel_sum"],
            )

    return pix.mapInPandas(
        sample,
        "vec_id long, frame_idx int, width int, height int, pixel_sum long",
    )


# =====================================================================
# CAPSTONE — the FtM core write path end-to-end (SURVEY §2 S8/A1-A5/C2):
# entity JSON shape → explode_entities → store append (in-batch dedupe)
# → physical merge (canonicalize) → assemble_entities. The three LLM
# capstones grade the training-pipeline compositions; this one grades
# the engine's NAMESAKE composition the same way — the oracle below is
# the stages' verified semantics (ftm_canonicalize / a_entity_assembly
# / c_statement_id oracles) composed into one statically-derivable
# result. Reference semantics: logic/entities/explode.py:42-219,
# logic/parquet.py:72-162, logic/entities/aggregate.py:53-186;
# behavioral contract reference tests/test_e2e_entities.py.
# =====================================================================

_FTM_E2E_T1 = "2024-01-01 00:00:00"
_FTM_E2E_T2 = "2024-02-01 00:00:00"
_FTM_E2E_T3 = "2024-03-01 00:00:00"


def _ftm_e2e_oracle() -> str:
    """The statically-derivable canonical output of the e2e run.

    Statement ids are content-addressed — sha1 of (dataset, entity_id,
    prop, value, …) — so on this workload (fragment='' everywhere) the
    merge's per-id dedupe group is exactly (origin, entity_id, prop,
    value): the oracle never needs sha1 (DuckDB lacks it); the id's
    ARGUMENTS are the key. BASE_ID checksum rows never surface in the
    assembled output except through last_change = max(first_seen of
    checksum rows), and checksum equality across emissions is decided
    by whether the emission's statement-id SET matched — derivable per
    cohort: the reimport cohort re-emits identical statements, so its
    checksum folds first_seen back to T1 (idempotent re-import must NOT
    bump last_change); the vip cohort's set differs, so last_change
    moves to T2; a bulk-origin emission at T3 always wins the max."""
    t1, t2, t3 = _FTM_E2E_T1, _FTM_E2E_T2, _FTM_E2E_T3
    return f"""
    WITH users AS (
        SELECT user_id AS uid,
               'u' || CAST(user_id AS VARCHAR) AS entity_id,
               list_sort(list_distinct(list(event_type))) AS etypes
        FROM events GROUP BY user_id
    ),
    flags AS (
        SELECT uid, entity_id, etypes,
               uid % 3 = 0 AS vip,
               uid % 7 = 0 AND uid % 3 <> 0 AS reimport,
               uid % 5 = 0 AS bulk
        FROM users
    ),
    -- post-merge canonical non-checksum statements, keyed by the
    -- statement id's arguments (entity_id, prop, value) per origin
    stmts AS (
        SELECT entity_id, 'name' AS prop,
               'User ' || CAST(uid AS VARCHAR) AS value,
               TIMESTAMP '{t1}' AS first_seen,
               CASE WHEN vip OR uid % 7 = 0 THEN TIMESTAMP '{t2}'
                    ELSE TIMESTAMP '{t1}' END AS last_seen
        FROM flags
        UNION ALL
        SELECT entity_id, 'notes', unnest(etypes),
               TIMESTAMP '{t1}',
               CASE WHEN reimport THEN TIMESTAMP '{t2}'
                    ELSE TIMESTAMP '{t1}' END
        FROM flags
        UNION ALL
        SELECT entity_id, 'notes', 'vip',
               TIMESTAMP '{t2}', TIMESTAMP '{t2}'
        FROM flags WHERE vip
        UNION ALL
        SELECT entity_id, 'name', 'Account ' || CAST(uid AS VARCHAR),
               TIMESTAMP '{t3}', TIMESTAMP '{t3}'
        FROM flags WHERE bulk
    ),
    per_prop AS (
        SELECT entity_id, prop,
               array_to_string(list_sort(list_distinct(list(value))), ',')
                   AS prop_values,
               min(first_seen) AS fs, max(last_seen) AS ls,
               count(*) AS n
        FROM stmts GROUP BY entity_id, prop
    ),
    ent AS (
        SELECT entity_id, min(fs) AS first_seen, max(ls) AS last_seen,
               CAST(sum(n) AS BIGINT) AS n_statements
        FROM per_prop GROUP BY entity_id
    )
    SELECT p.entity_id,
           CASE WHEN f.uid % 4 = 0 THEN 'Company'
                WHEN f.bulk THEN 'LegalEntity'
                ELSE 'Person' END AS schema,
           CASE WHEN f.bulk THEN 'Account ' || CAST(f.uid AS VARCHAR)
                ELSE 'User ' || CAST(f.uid AS VARCHAR) END AS caption,
           p.prop, p.prop_values,
           e.first_seen, e.last_seen,
           CASE WHEN f.bulk THEN TIMESTAMP '{t3}'
                WHEN f.vip THEN TIMESTAMP '{t2}'
                ELSE TIMESTAMP '{t1}' END AS last_change,
           CASE WHEN f.bulk THEN 'bulk,crawl' ELSE 'crawl' END AS origins,
           e.n_statements
    FROM per_prop p
    JOIN ent e USING (entity_id)
    JOIN flags f USING (entity_id)
    """


_E2E_TMPROOT: str | None = None


def _e2e_tmpdir() -> str:
    """A fresh throwaway-store directory for each ``pipeline_ftm_e2e``
    invocation (a rerun must not append into a prior run's store), all
    parented under ONE process-scoped root that is rmtree'd at exit —
    the returned DataFrame reads the store lazily, so per-run cleanup
    would race the caller's consumption; exit-time cleanup cannot."""
    global _E2E_TMPROOT
    import atexit
    import shutil
    import tempfile

    if _E2E_TMPROOT is None:
        _E2E_TMPROOT = tempfile.mkdtemp(prefix="ftm_e2e_")
        atexit.register(shutil.rmtree, _E2E_TMPROOT, ignore_errors=True)
    return tempfile.mkdtemp(dir=_E2E_TMPROOT)


@_register("pipeline_ftm_e2e", _ftm_e2e_oracle())
def pipeline_ftm_e2e(spark, sf_dir):
    """The engine's namesake path, run FOR REAL against a throwaway
    store: deterministic FtM entities derived from ``events`` →
    ``Dataset.write_entities`` (explode + in-batch dedupe + parquet
    append through the MVCC commit log) × three emissions →
    ``Dataset.merge`` (the physical canonicalize rewrite) →
    ``Dataset.entities`` (assemble_entities) → one row per
    (entity, prop) with the map exploded back out.

    The emissions exercise, in one composition: content-address dedupe
    across emissions (same statement re-emitted later → last_seen
    bumps, first_seen folds back), idempotent re-import (identical
    emission → checksum folds too, last_change does NOT move),
    accumulation of new values, cross-origin assembly, and the
    schema-claim merge (Person+Organization → LegalEntity;
    Company claims survive as the more specific descendant).

    Scale note: every stage is the real operator — the same partition-
    scoped merge windows and hash-grouped assembly graded stage-wise
    elsewhere; the throwaway store is shards=0 (one shard) because the
    cohort is entity-count-bound, not data-bound."""
    from ftm_lakehouse_spark.lakehouse import Lakehouse

    ev = load_table(spark, sf_dir, "events")
    uid = F.col("uid")
    # the cohort is entity-count-bound (one row per user); localCheckpoint
    # materializes it once for the four emission projections (the
    # repeated-subtree lesson from pipeline_pretrain_corpus), and a
    # single partition keeps each tiny write job one-task
    base = (
        ev.groupBy(F.col("user_id").alias("uid"))
        .agg(F.array_sort(F.collect_set("event_type")).alias("etypes"))
        .coalesce(1)
        .localCheckpoint(eager=True, storageLevel=_DISK)
    )
    eid = F.concat(F.lit("u"), uid.cast("string"))
    schema1 = F.when(uid % 4 == 0, F.lit("Company")).otherwise(F.lit("Person"))
    user_name = F.concat(F.lit("User "), uid.cast("string"))

    def props(names, value_arrays):
        return F.map_from_arrays(
            F.array(*[F.lit(n) for n in names]), F.array(*value_arrays)
        )

    e1 = base.select(
        eid.alias("id"), schema1.alias("schema"),
        props(["name", "notes"], [F.array(user_name), F.col("etypes")]).alias(
            "properties"
        ),
    )
    e2 = base.filter(uid % 3 == 0).select(
        eid.alias("id"), schema1.alias("schema"),
        props(["name", "notes"], [F.array(user_name), F.array(F.lit("vip"))]).alias(
            "properties"
        ),
    )
    e2b = base.filter((uid % 7 == 0) & (uid % 3 != 0)).select(
        eid.alias("id"), schema1.alias("schema"),
        props(["name", "notes"], [F.array(user_name), F.col("etypes")]).alias(
            "properties"
        ),
    )
    e3 = base.filter(uid % 5 == 0).select(
        eid.alias("id"), F.lit("Organization").alias("schema"),
        props(
            ["name"], [F.array(F.concat(F.lit("Account "), uid.cast("string")))]
        ).alias("properties"),
    )

    root = _e2e_tmpdir()
    ds = Lakehouse(spark, root).dataset("e2e")
    seen = lambda t: F.to_timestamp(F.lit(t))  # noqa: E731
    ds.write_entities(e1, origin="crawl", seen=seen(_FTM_E2E_T1))
    ds.write_entities(
        e2.unionByName(e2b), origin="crawl", seen=seen(_FTM_E2E_T2)
    )
    ds.write_entities(e3, origin="bulk", seen=seen(_FTM_E2E_T3))
    ds.merge(force=True)

    out = ds.entities()
    return out.select(
        "entity_id",
        "schema",
        "caption",
        F.explode("properties").alias("prop", "_values"),
        "first_seen",
        "last_seen",
        "last_change",
        F.concat_ws(",", "origins").alias("origins"),
        F.col("n_statements").cast("bigint").alias("n_statements"),
    ).select(
        "entity_id", "schema", "caption", "prop",
        F.concat_ws(",", "_values").alias("prop_values"),
        "first_seen", "last_seen", "last_change", "origins", "n_statements",
    )


def _streaming_ingest_oracle() -> str:
    """Final canonical per-prop row counts, independent of HOW the rows
    arrived: the streaming pipeline's batch face. Branch algebra is the
    (already-verified) ftm_canonicalize oracle's, reduced to counts —
    nonfrag props keep one row per statement id; fragment props keep
    only the ids at each (entity, prop)'s max last_seen. first_seen and
    value never appear: in-flight dedup keeps an arbitrary member of
    each (id, fragment, origin) key, which is exactly why those columns
    are not part of the graded face (the reference journal's ON
    CONFLICT DO UPDATE has the same property)."""
    return """
    WITH stmts AS (
        SELECT DISTINCT
               CAST(user_id AS VARCHAR) || ':' || event_type || ':' ||
                   strftime(date_trunc('minute', CAST(ts AS TIMESTAMP)),
                            '%Y%m%d%H%M') AS id,
               CAST(user_id AS VARCHAR) AS entity_id,
               event_type AS prop,
               CASE WHEN event_type IN ('view', 'click') THEN 'f'
                    ELSE '' END AS fragment,
               date_trunc('minute', CAST(ts AS TIMESTAMP)) AS last_seen
        FROM events WHERE user_id % 3 = 0
    ),
    nonfrag AS (SELECT prop, id FROM stmts WHERE fragment = ''
                GROUP BY prop, id),
    frag AS (
        SELECT prop, id FROM (
            SELECT entity_id, prop, id, last_seen,
                   max(last_seen) OVER (PARTITION BY entity_id, prop) AS mx
            FROM stmts WHERE fragment <> ''
        ) WHERE last_seen = mx GROUP BY prop, id
    )
    SELECT prop, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT * FROM nonfrag UNION ALL SELECT * FROM frag)
    GROUP BY prop
    """


@_register("pipeline_streaming_ingest", _streaming_ingest_oracle())
def pipeline_streaming_ingest(spark, sf_dir):
    """Streaming capstone, run FOR REAL against a throwaway store:
    three micro-batch waves of statement drops → ``StreamingJournal``
    (checkpointed ``dropDuplicatesWithinWatermark`` + the
    (txnAppId, epoch) exactly-once append fence) → physical merge →
    ``IncrementalAggregate`` refresh after every commit — the
    reference's journal-flush → optimize → stats lifecycle
    (storage/journal/sql.py + operation/maintenance.py) as ONE graded
    composition. Wave membership is a hash of the statement id, so the
    oracle (final canonical counts) is provably independent of the
    batch boundaries — stream == batch, the property the pytest
    recovery suite pins per-operator, now value-hash-graded end to end.
    Wave 2 re-emits wave 1's purchase rows: the cross-batch dedup state
    (not in-batch luck) has to drop them for the counts to match.

    Scale notes: the journal watermark is sized to the corpus' full
    time spread here (historical fixture timestamps), where a live
    cluster deployment sizes it to ingest lag — state is bounded either
    way; every refresh reads O(committed files), never the table."""
    import os

    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.operators.matview import IncrementalAggregate
    from ftm_lakehouse_spark.streaming.journal import StreamingJournal

    root = _e2e_tmpdir()
    ds = Lakehouse(spark, root).dataset("stream")
    store = ds.store
    src = os.path.join(root, "drops")
    ckpt = os.path.join(root, "ckpt")
    mv = IncrementalAggregate(store, os.path.join(root, "mv"), keys=["prop"])

    # the statement derivation feeds four drop-write projections (one
    # per wave + wave 1's re-emission); materialize it once instead of
    # re-running the events scan + transform per wave (round-12,
    # guide §1.2 — same repeated-subtree cure as pipeline_ftm_e2e's
    # base; values unchanged, wave membership is still the id hash)
    stmts = (
        _events_as_statements(spark, sf_dir, where=F.col("user_id") % 3 == 0)
        .withColumn("_w", F.pmod(F.xxhash64("id"), F.lit(3)))
        .localCheckpoint(eager=True, storageLevel=_DISK)
    )
    journal = StreamingJournal(spark, store, src, ckpt, watermark="87600 hours")
    for wave in range(3):
        batch = stmts.filter(F.col("_w") == wave).drop("_w")
        if wave == 1:  # re-emission: the cross-batch dedup must drop these
            batch = batch.unionByName(
                stmts.filter((F.col("_w") == 0) & (F.col("prop") == "purchase"))
                .drop("_w")
            )
        batch.write.mode("append").parquet(src)
        journal.start(trigger_once=True).awaitTermination()
        mv.refresh()  # incremental: reads only this wave's committed files

    ds.merge(grace_days=100000, force=True)  # canonicalize, reap nothing
    mv.refresh()  # rewrite-aware: recompute the merged partitions
    return mv.read().select("prop", F.col("n").cast("bigint").alias("n"))


@_register(
    "pipeline_zorder_scan",
    """
    SELECT CAST(user_id AS VARCHAR) AS entity_id,
           count(*) AS n_stmts,
           min(event_type) AS first_prop
    FROM events
    WHERE user_id % 5 = 0
      AND date_trunc('minute', CAST(ts AS TIMESTAMP))
          BETWEEN TIMESTAMP '2024-01-10 00:00:00'
              AND TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY user_id
    """,
)
def pipeline_zorder_scan(spark, sf_dir):
    """Z-order lifecycle run FOR REAL against a throwaway store
    (SCALE.md §9, Delta ``OPTIMIZE ZORDER`` analog): events →
    statements (first_seen minute-truncated so row identity is
    deterministic) → MVCC append → ``compact(zorder=("entity_id",
    "first_seen"))`` — quantile-rank Morton clustering via a range
    repartition — → ``scan_range`` over a 5-day window, which prunes
    the live file set through the per-file min/max stats in the commit
    log BEFORE planning the scan. The oracle is the plain filtered aggregate over
    the source events: the gate grades that stats-based file pruning
    is exactly lossless end to end (tests/test_zorder.py pins that it
    also actually PRUNES; this pins that it never over-prunes)."""
    from datetime import datetime, timezone

    from ftm_lakehouse_spark.lakehouse import Lakehouse

    root = _e2e_tmpdir()
    ds = Lakehouse(spark, root).dataset("zscan")
    stmts = _events_as_statements(
        spark, sf_dir, where=F.col("user_id") % 5 == 0
    ).withColumn("first_seen", F.date_trunc("minute", F.col("first_seen")))
    ds.store.append(stmts)
    ds.store.compact(zorder=("entity_id", "first_seen"))
    lo = datetime(2024, 1, 10, tzinfo=timezone.utc)
    hi = datetime(2024, 1, 15, tzinfo=timezone.utc)
    win = ds.store.scan_range("first_seen", lo, hi)
    return win.groupBy("entity_id").agg(
        F.count("*").cast("bigint").alias("n_stmts"),
        F.min("prop").alias("first_prop"),
    )
