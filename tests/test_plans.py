"""Physical-plan regression tests: the efficiency properties PLANS.md
documents, asserted so a refactor can't silently lose them.

These only build plans (no job execution), so they are cheap. The
properties mirror the reference's hand-built optimizations (SURVEY §4):
predicate pushdown to file stats (logic/parquet.py:170-174 keeps the
live view window-free for this), column pruning
(model/statement.py:90-123), and semi-join shape instead of IN-literal
batching (logic/parquet.py:195-231).
"""

from __future__ import annotations

import pytest

from ftm_lakehouse_spark.queries.inventory import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = QUERIES[name][0](spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q1_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # the shipdate predicate reaches the parquet scan (file-stat skipping)
    assert "LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan reads only the 7 referenced columns
    assert "l_partkey" not in plan and "l_comment" not in plan
    # partial aggregation: two HashAggregates around one shuffle
    assert plan.count("HashAggregate") >= 2


def test_multiway_star_broadcasts_dims(spark):
    plan = plan_of(spark, "j_multiway_star")
    # all dim joins broadcast — the fact table is never shuffled on a
    # dim key (the reference's 5k-row IN-batching has no analog here)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # orders' date predicate is pushed, and each scan is pruned to its
    # join/agg columns only
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "c_name" not in plan  # customer contributes only c_custkey
    assert "o_totalprice" not in plan


def test_semi_join_is_broadcast_left_semi(spark):
    plan = plan_of(spark, "j_semi_join_changed")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_merge_dedupe_single_shuffle(spark):
    plan = plan_of(spark, "a_merge_dedupe_latest")
    # the windowed dedupe shuffles ONCE on the window keys; rank filter
    # and projection stay in the same stage. formatted-mode lists each
    # node twice (tree + detail), so 1 physical Exchange == 2 mentions.
    assert plan.count("Exchange") <= 2
    assert "Window" in plan


def test_topk_never_global_sorts(spark):
    plan = plan_of(spark, "o_topk_global")
    # per-partition top-k + driver heap merge; no shuffle, no full Sort
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_point_lookup_prunes_partitions(spark, tmp_path):
    """F7: get(entity_id) must hit one hive partition, not scan the
    table (reference: storage/parquet.py:276-292 hand-iterates shards;
    Spark partition pruning does it from the literal predicate)."""
    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from tests.test_lakehouse import entities_df

    import pyspark.sql.functions as F

    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.model.statement import entity_shard
    from tests.test_lakehouse import entities_df

    lake = Lakehouse(spark, str(tmp_path / "lake"))
    ds = lake.dataset("p", shards=4)
    ents = [
        {"id": f"e{i}", "schema": "Person", "properties": {"name": [f"n{i}"]}}
        for i in range(16)
    ]
    ds.write_entities(entities_df(spark, *ents))
    # the same pruned scan get() builds internally
    stmts = ds.store.live().filter(
        (F.col("shard") == entity_shard(F.lit("e3"), ds.config.shards))
        & (F.col("entity_id") == "e3")
    )
    plan = stmts._sc._jvm.PythonSQLUtils.explainString(
        stmts._jdf.queryExecution(), "formatted"
    )
    # the shard equality becomes a partition filter (directory prune),
    # and the entity_id equality is pushed to parquet row groups
    assert "PartitionFilters" in plan
    assert "EqualTo(entity_id,e3)" in plan


def test_ann_candidate_join_is_equi(spark):
    """The ANN candidate stage must be a hash join on (block, chunk) —
    a hamming-distance join predicate would plan as
    BroadcastNestedLoopJoin: O(|corpus| x |queries|) signature
    comparisons with no pruning (round-1 scale-killer)."""
    plan = plan_of(spark, "sim_ann_lsh")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_probe_join_is_equi(spark):
    """IVF probe search: candidates come from an equi-join on the cell
    id (scan fraction ~nprobe/num_centroids). A non-equi formulation
    would nested-loop the whole corpus against every query."""
    plan = plan_of(spark, "sim_ivf_topk")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_funnel_reuses_user_partitioning(spark):
    """x_funnel_stages: every shuffle keys on user_id, no window over
    the raw event stream, and no nested-loop anywhere."""
    plan = plan_of(spark, "x_funnel_stages")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_lag_lead_single_user_shuffle(spark):
    """w_lag_lead: one Exchange (hash on user_id) feeding the window;
    no global sort. formatted mode mentions each node twice."""
    plan = plan_of(spark, "w_lag_lead")
    assert plan.count("Exchange") <= 2
    assert "Window" in plan


def test_bigram_topk_no_global_sort(spark):
    """text_bigram_topk: count is partially aggregated map-side; the
    top-k window is per-lang (hash exchange), never a global Sort."""
    plan = plan_of(spark, "text_bigram_topk")
    assert plan.count("HashAggregate") >= 2
    assert "Window" in plan


def test_centroid_stats_prunes_to_scalars(spark):
    """sim_centroid_stats: partial agg before the shuffle so only the
    projected scalar sums travel, never the 64-float array."""
    plan = plan_of(spark, "sim_centroid_stats")
    assert plan.count("HashAggregate") >= 2
    assert "vec_id" not in plan  # column pruning on the scan


def test_dynamic_partition_pruning(spark, tmp_path):
    """At 100 TB the fact scan MUST be pruned by the dim filter at
    runtime (Delta/Trino call this dynamic filtering). Spark plans a
    dynamicpruning subquery into the fact's PartitionFilters when the
    join key is a partition column — pin that it actually fires for
    the store's layout shape (hive partition column joined to a
    filtered dim)."""
    import pyspark.sql.functions as F

    fact_path = str(tmp_path / "fact")
    dim_path = str(tmp_path / "dim")
    spark.range(256).select(
        "id", (F.col("id") % 8).cast("string").alias("origin")
    ).write.partitionBy("origin").parquet(fact_path)
    spark.range(8).select(
        F.col("id").cast("string").alias("origin"),
        F.when(F.col("id") < 2, "keep").otherwise("drop").alias("grp"),
    ).write.parquet(dim_path)

    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("grp") == "keep")
    q = fact.join(dim, "origin").groupBy("origin").count()
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in plan.lower()


def test_pivot_two_phase_aggregate(spark):
    """x_pivot_wide: explicit-value pivot = pre-aggregation on
    (keys × pivot column) with map-side combine, then pivotfirst over
    the |groups|·|values|-row intermediate. Exactly two exchanges (the
    second moves ~15 rows), never one shuffle per pivot value, and no
    value-discovery job."""
    plan = plan_of(spark, "x_pivot_wide")
    # formatted mode lists each node twice (tree + detail): 2 physical
    # Exchanges == 4 mentions
    assert plan.count("Exchange") == 4
    assert "pivotfirst" in plan
    assert plan.count("partial_") >= 2  # both phases map-side combined


def test_unpivot_is_expand_no_shuffle(spark):
    """x_unpivot_long: native unpivot = Expand node, zero Exchange."""
    plan = plan_of(spark, "x_unpivot_long")
    assert "Expand" in plan
    assert "Exchange" not in plan


def test_ivfpq_join_is_equi(spark):
    """IVF-PQ: candidates from the cell-id equi-join; the ADC scoring
    adds no join at all (codebook lookups are literals), so the plan
    must contain no nested loop anywhere."""
    plan = plan_of(spark, "sim_ivfpq_topk")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q5_dims_broadcast_filter_pushed(spark):
    """Q5: all dimension joins broadcast; the region-name predicate is
    pushed to the region scan and the date range to the orders scan —
    the fact table never shuffles on a dimension key."""
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(r_name,ASIA)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_like_prefix_pushes_startswith(spark):
    """f_like_prefix: the prefix LIKE must reach the parquet scan as a
    StringStartsWith pushed filter (min/max file skipping); the infix
    pattern stays a post-scan contains."""
    plan = plan_of(spark, "f_like_prefix")
    assert "StringStartsWith(p_type,ECO" in plan


def test_offset_without_limit_avoids_single_partition_rank(spark, lake_root):
    """The offset-without-limit entity slice ranks two-phase (range
    shuffle + per-partition row_number + broadcast prefix offsets) —
    never a SinglePartition global window over entity cardinality
    (round-2 VERDICT item 7). Correctness against the limited path."""
    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.plans.query import Query

    from .test_lakehouse import entities_df

    lake = Lakehouse(spark, lake_root)
    ds = lake.dataset("oslice")
    people = [
        {"id": f"p{i:02d}", "schema": "Person",
         "properties": {"name": [f"N{(i * 7) % 20:02d}-{i:02d}"]}}
        for i in range(20)
    ]
    ds.write_entities(entities_df(spark, *people))

    q_offset = Query().where(schema="Person").order_by("name")[5:]
    got = sorted(
        e["properties"]["name"][0] for e in ds.entities(q_offset).collect()
    )
    all_sorted = sorted(f"N{(i * 7) % 20:02d}-{i:02d}" for i in range(20))
    assert got == all_sorted[5:]  # 15 survivors, exactly the tail

    # plan pin: the ranking subtree plans a RANGE exchange and ranks
    # per physical partition (_pid). The checkpoint barrier hides the
    # subtree from explain, so neutralize it for the pin only.
    import pyspark.sql.classic.dataframe as _cdf

    orig = _cdf.DataFrame.localCheckpoint
    _cdf.DataFrame.localCheckpoint = lambda self, eager=True, storageLevel=None: self
    try:
        ids = q_offset.matching_ids(ds.store.live())
        plan = ids._sc._jvm.PythonSQLUtils.explainString(
            ids._jdf.queryExecution(), "formatted"
        )
    finally:
        _cdf.DataFrame.localCheckpoint = orig
    assert "rangepartitioning" in plan.lower()
    assert "_pid" in plan  # the row_number window is keyed by partition id


def test_semantic_dedup_join_is_equi(spark):
    # SemDeDup candidates come from the cell equi-join — never a
    # nested-loop cross product, at any corpus size
    plan = plan_of(spark, "dedup_semantic")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def _n_exchanges(plan: str) -> int:
    # count Exchange operator detail headers ("(7) Exchange"), not the
    # tree-summary duplicates
    import re

    return len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))


def test_chunking_has_no_shuffle(spark):
    # chunking is row-local: explode multiplies rows in place; the only
    # allowed Exchange is the small-table spread repartition
    plan = plan_of(spark, "doc_chunk_overlap")
    assert _n_exchanges(plan) <= 1  # the _spread() repartition only
    assert "Generate" in plan  # the explode


def test_kmeans_update_single_shuffle(spark):
    # one Lloyd's step = ONE aggregation shuffle (plus the explode's
    # input ordering): partial sums reduce map-side before the
    # (centroid, dim) exchange
    plan = plan_of(spark, "sim_kmeans_update")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert _n_exchanges(plan) <= 2


def test_unigram_lm_join_is_broadcast(spark):
    # the LM table is vocabulary-sized (Heaps' law) — must broadcast,
    # never shuffle the token stream on the term key
    plan = plan_of(spark, "text_unigram_logprob")
    assert "BroadcastHashJoin" in plan


def test_chunk_pack_capstone_bounded_single_partition(spark):
    # the capstone's packing stage rides the two-phase cumsum: the ONLY
    # SinglePartition exchange allowed is global_cumsum's offsets
    # prefix-sum, which is over #shuffle-partitions rows by
    # construction — the corpus-sized windows stay hash-partitioned
    import re

    plan = plan_of(spark, "pipeline_chunk_pack")
    singles = re.findall(r"^\(\d+\) Exchange\nInput.*\nArguments: SinglePartition",
                         plan, flags=re.M)
    assert len(singles) <= 1, singles
    # (the chunk-dedup window sits BEHIND global_cumsum's lineage cut,
    # so it does not appear in this tail plan; its hash-partitioned
    # shape is pinned via a_merge_dedupe_latest's identical form)


#: Gates where a BroadcastNestedLoopJoin is the RIGHT plan: each one
#: crossJoins a SINGLE-ROW (or ≤k-row literal) aggregate — corpus
#: stats, scalar thresholds, centroid/codebook literals, node counts.
#: A 1-row build side makes BNLJ a constant-attach projection, not a
#: quadratic join. Anything not listed here must stay equi-join only.
BNLJ_SCALAR_BROADCASTS = {
    "sim_cosine_topk",          # query vector literal (1 row)
    "sample_temperature_mix",   # per-stratum rate table (|langs| rows)
    "x_histogram",              # global min/max scalar (1 row)
    "sim_pq_adc_topk",          # ADC lookup literals (k rows)
    "pipeline_pretrain_corpus", # mix-rate scalar stage (|langs| rows)
    "q22_global_sales_opportunity",  # avg-acctbal scalar (1 row)
    "graph_pagerank",           # node-count scalar (1 row)
    "text_bm25_topk",           # corpus stats scalar (1 row)
}


@pytest.mark.slow
def test_no_gate_plans_a_cartesian_or_unjustified_nested_loop(spark):
    """Whole-inventory audit: no gate's physical plan may contain a
    CartesianProduct, and BroadcastNestedLoopJoin is allowed only for
    the scalar-broadcast allowlist above. This is the generalized form
    of the per-gate plan pins — a new gate that accidentally joins
    without an equi-key fails here before it ever ships."""
    offenders = {}
    for name, (fn, _) in QUERIES.items():
        df = fn(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in BNLJ_SCALAR_BROADCASTS:
            offenders[name] = "BroadcastNestedLoopJoin (not allowlisted)"
    assert not offenders, f"scale-hostile plans: {offenders}"


def test_q6_all_predicates_reach_the_scan(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.02)",
        "LessThanOrEqual(l_discount,0.04)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in plan, f"predicate not pushed: {frag}"
    # column pruning: only the four referenced columns are read
    assert "l_orderkey" not in plan and "l_returnflag" not in plan


def _walk(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i))


def _raw_generates_below(node):
    """Generate nodes reachable from ``node`` WITHOUT crossing an
    aggregate.  Broadcasting an aggregate built FROM an exploded stream
    is fine (the aggregate reduced the grain to the small key domain —
    exactly what the 64m adaptive threshold exists to enable);
    broadcasting the raw exploded stream itself is the round-8 defect.
    Descends into AQE QueryStage wrappers (their children() are empty;
    the materialized tree hangs off .plan())."""
    name = node.nodeName()
    if "Aggregate" in name:
        return []
    if "Generate" in name:
        return [name]
    out = []
    children = node.children()
    for i in range(children.size()):
        out += _raw_generates_below(children.apply(i))
    if "QueryStage" in name:
        try:
            out += _raw_generates_below(node.plan())
        except Exception:
            pass
    return out


def test_no_broadcast_builds_an_exploded_stream(spark):
    """Round-8 defect 5 (SCALE.md §12): size estimates above a
    Project/Generate are schema-width guesses, and Spark once chose to
    broadcast a 3.1 GiB EXPLODED bigram stream over the 931-row count
    table it was joined with. The rewritten text gates must never plan
    a BroadcastExchange whose subtree contains a Generate (explode) —
    the streamed side is pinned by join type instead.

    LIMITATION (round-9 ADVICE): ``sparkPlan()`` is the PRE-AQE
    physical plan. With the adaptive broadcast threshold raised to 64m
    (session.py), AQE can introduce a broadcast at runtime from actual
    shuffle sizes — which this static walk cannot observe. The gates
    are protected at runtime by the LEFT OUTER join-type pin (Spark
    cannot broadcast the left/outer side of a left-outer join), and
    ``test_no_exploded_broadcast_survives_aqe`` below executes one
    gate and walks the FINAL adaptive plan to cover the AQE path."""
    gates = [
        "text_novelty_score",
        "text_dup_ngram_coverage",
        "text_tfidf_top_terms",
        "sample_dsir_weights",
        "text_bpe_encode",
    ]
    offenders = {}
    for name in gates:
        df = QUERIES[name][0](spark, SF)
        root = df._jdf.queryExecution().sparkPlan()
        for node in _walk(root):
            if "BroadcastExchange" in node.nodeName():
                bad = _raw_generates_below(node)
                if bad:
                    offenders[name] = bad
    assert not offenders, f"broadcast of an exploded stream: {offenders}"


def test_no_exploded_broadcast_survives_aqe(spark):
    """Execute text_novelty_score (the gate where defect 5 was found)
    and walk the POST-AQE executed plan: after AdaptiveSparkPlanExec
    has re-planned from actual materialized shuffle sizes, there must
    still be no BroadcastExchange that broadcasts a RAW exploded
    stream (a Generate not folded through an aggregate — see
    _raw_generates_below).  Broadcasting the aggregated count table
    built from the exploded stream IS expected here: that is the 64m
    adaptive threshold doing its job from actual sizes.  Complements
    the static pre-AQE walk above (round-9 ADVICE)."""
    df = QUERIES["text_novelty_score"][0](spark, SF)
    df.count()  # materialize so AQE finalizes the plan
    root = df._jdf.queryExecution().executedPlan()
    # AdaptiveSparkPlanExec's children() are the stale pre-execution
    # plan; the finalized tree hangs off .executedPlan()
    if "AdaptiveSparkPlan" in root.nodeName():
        root = root.executedPlan()
    offenders = []
    saw_broadcast = False
    for node in _walk(root):
        if "BroadcastExchange" in node.nodeName():
            saw_broadcast = True
            offenders += _raw_generates_below(node)
    assert saw_broadcast, (
        "expected AQE to broadcast the aggregated count table at this "
        "SF — if no broadcast is planned at all, this test no longer "
        "exercises the AQE path it documents"
    )
    assert not offenders, f"AQE introduced an exploded broadcast: {offenders}"


def test_repetition_gates_are_one_map_pass(spark):
    """text_repetition_stats / text_repetition_ratio compute
    within-document statistics: their plans must contain no Generate,
    no Join, and no aggregate exchange — the only exchange allowed is
    the _spread round-robin repartition of the single-file scan."""
    for name in ("text_repetition_stats", "text_repetition_ratio"):
        plan = plan_of(spark, name)
        assert "Generate" not in plan, name
        assert "Join" not in plan, name
        assert "hashpartitioning" not in plan, name
        assert "HashAggregate" not in plan, name


#: py4j commands one warm ``Dataset.entities(Query().where(schema=...,
#: country=...))`` build may send: 374 measured, plus 20%. Building the
#: assembly's Column lists anew cost ~1420.
ENTITY_QUERY_BUILD_CALLS = 450


def test_entity_query_build_budget_and_single_assembly_exchange(spark, lake_root):
    """A repeated entity query is cheap to BUILD (the assembly's Column
    lists and the head relation are reused, so the build is the query's
    own few DataFrame calls) and its assembly shuffles ONCE: one hash
    exchange on ``entity_id`` above the semi-join serves both the
    per-prop and the per-entity fold."""
    import re

    import py4j.clientserver as cs

    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.plans.query import Query

    from .test_lakehouse import entities_df

    ds = Lakehouse(spark, lake_root).dataset("budget")
    ds.write_entities(entities_df(spark, *[
        {"id": f"b{i}", "schema": ("Person", "Company")[i % 2],
         "properties": {"name": [f"N{i}"], "country": [("de", "fr")[i % 3 > 0]]}}
        for i in range(12)
    ]))

    def build():
        return ds.entities(Query().where(schema="Person", country="de"))

    build()  # first build fills the caches
    calls = [0]
    send = cs.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\n"):  # py4j memory release, not a call
            calls[0] += 1
        return send(self, command, *args, **kwargs)

    cs.ClientServerConnection.send_command = counting
    try:
        df = build()
    finally:
        cs.ClientServerConnection.send_command = send
    assert 0 < calls[0] <= ENTITY_QUERY_BUILD_CALLS, calls[0]

    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    tree, details = plan.split("\n\n", 1)
    semi = int(re.search(r"LeftSemi .*\((\d+)\)$", tree, flags=re.M).group(1))
    above = "\n\n".join(
        block for block in details.split("\n\n")
        if (m := re.match(r"\((\d+)\) ", block)) and int(m.group(1)) > semi
    )
    assert _n_exchanges(above) == 1, plan
    assert re.search(r"Arguments: hashpartitioning\(entity_id#\d+, \d+\)", above), plan
    assert sorted(r["entity_id"] for r in df.collect()) == ["b0", "b6"]
