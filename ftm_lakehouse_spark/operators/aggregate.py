"""Entity assembly: fold statement rows back into entities.

Reference: aggregate_unsafe (/root/reference/ftm_lakehouse/logic/
entities/aggregate.py:53-186) — a sort-based streaming fold requiring
``entity_id``-contiguous input. Spark needs no contiguity: a hash
``groupBy("entity_id")`` with native aggregate expressions produces the
same entity payloads in one shuffle, and ``properties`` becomes a
``map<string, array<string>>`` only at this (export) grain — physical
storage stays rows (SURVEY §1.2).

Semantics reproduced:
  * ``schema``: the reference's lenient merge (aggregate.py:19-28,
    119-127): when one claimed schema descends from another the more
    specific wins (``model.common_schema``); sibling conflicts resolve
    to their deepest common ancestor (``Person`` + ``Company`` →
    ``LegalEntity``, ftmq ``common_ancestor``). Realized as a native
    expression fold over the sorted distinct schema claims against the
    generated ancestor/depth tables (model/ontology.py) — no UDF. The
    reference folds an unordered Python set (order-dependent for ≥3
    mutually-conflicting claims); folding in sorted order makes the
    result deterministic while agreeing on every 2-claim case;
  * ``properties``: per-prop sorted distinct value arrays (BASE_ID
    checksum rows excluded);
  * ``first_seen`` = min, ``last_seen`` = max over all statements;
  * ``last_change`` = max ``first_seen`` of BASE_ID checksum rows
    (aggregate.py:74-158) — this is what makes "did the entity really
    change" cheap;
  * ``caption``: first value of the highest-priority caption property
    (name > title > fileName; ties broken by value for determinism);
  * ``referents``/``origins``/``datasets``: distinct sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ftm_lakehouse_spark.model.ontology import (
    SCHEMA_ANCESTORS,
    SCHEMA_SPECIFICITY,
)
from ftm_lakehouse_spark.functions.literals import (
    folded,
    lit_str_array_map,
    lit_str_int_map,
)
from ftm_lakehouse_spark.model.statement import BASE_ID_PROP, BASE_ID_PROP_TYPE

__all__ = ["assemble_entities", "merge_schemata", "SCHEMA_SPECIFICITY"]

#: caption property priority (most trusted first)
CAPTION_PROPS = ("name", "title", "fileName", "full")


def _ancestors_map():
    # one F.expr round trip instead of ~300 F.lit/F.array calls, folded
    # to a literal once (functions/literals); sorted keys keep the plan
    # text deterministic
    return folded(lit_str_array_map(
        {k: v for k, v in sorted(SCHEMA_ANCESTORS.items())}
    ))


def _depth_map():
    return folded(lit_str_int_map(
        {k: v for k, v in sorted(SCHEMA_SPECIFICITY.items())}
    ))


def merge_schemata(schemata):
    """Fold an ``array<string>`` of claimed schemata into one merged
    schema, per the reference rule (aggregate.py:19-28): related claims
    resolve to the more specific; unrelated claims to their deepest
    common ancestor; unknown-vs-known degrades to ``Thing`` (the
    reference raises — lenient here by design, documented). Pure
    Catalyst expressions against the generated ontology tables: the
    broadcast-size maps ride inside the plan, no join, no UDF."""
    anc = _ancestors_map()
    depth = _depth_map()

    def pair(acc, s):
        anc_a = F.coalesce(anc[acc], F.array(acc))
        anc_b = F.coalesce(anc[s], F.array(s))
        shared = F.array_intersect(anc_a, anc_b)
        # deepest shared ancestor; depth ties break lexicographically.
        # F.get (not [0]): an empty intersection (disjoint hierarchies,
        # unknown schemata) must yield NULL → the Thing fallback, not an
        # out-of-bounds error.
        best = F.get(
            F.array_sort(
                F.transform(
                    shared,
                    lambda c: F.struct(
                        (-F.coalesce(depth[c], F.lit(0))).alias("nd"), c.alias("s")
                    ),
                )
            ),
            0,
        )["s"]
        return (
            F.when(F.array_contains(anc_b, acc), s)   # s descends from acc
            .when(F.array_contains(anc_a, s), acc)    # acc descends from s
            .otherwise(F.coalesce(best, F.lit("Thing")))
        )

    ordered = F.array_sort(schemata)
    return F.aggregate(ordered, F.element_at(ordered, 1), pair)


#: ``max_values_per_prop`` -> (SparkContext, the assembly's Column
#: lists); see :func:`_assembly_columns`
_COLUMNS: dict[int | None, tuple[object, tuple]] = {}


def _assembly_columns(sc, max_values_per_prop: int | None) -> tuple:
    """The Columns of :func:`assemble_entities` — per-prop aggregates,
    entity aggregates, the checksum-only filter, final select — built once per
    SparkContext and ``max_values_per_prop``. Building them costs
    ~1000 py4j round trips (the ontology maps of ``merge_schemata``,
    every ``F.col``/``F.when``); unresolved Columns hold no plan, so
    one set serves every query. The entry is keyed on the context
    object itself, so a stopped and restarted session rebuilds it, and
    it is replaced, never mutated."""
    hit = _COLUMNS.get(max_values_per_prop)
    if hit is not None and hit[0] is sc:
        return hit[1]
    cols = _build_assembly_columns(max_values_per_prop)
    _COLUMNS[max_values_per_prop] = (sc, cols)
    return cols


def _build_assembly_columns(max_values_per_prop: int | None) -> tuple:
    is_checksum = (F.col("prop") == BASE_ID_PROP) & (
        F.col("prop_type") == BASE_ID_PROP_TYPE
    )

    caption_rank = F.array_position(
        F.array(*[F.lit(p) for p in CAPTION_PROPS]), F.col("prop")
    )

    # ONE pass (round-12, guide §1.2): checksum rows ride the same
    # per-prop aggregation as conditional aggregates — the previous
    # two-subtree form (filtered per-prop fold + a separate last_change
    # aggregation, re-joined on entity_id) scanned the statements input
    # twice and paid an extra exchange + join. collect_set/min/max
    # ignore the NULLs the ``when`` guards produce, so per-group
    # results are byte-identical; checksum-only groups are carried with
    # ``n = 0`` and folded out below exactly where the old filter
    # dropped them.
    values_expr = F.array_sort(
        F.collect_set(F.when(~is_checksum, F.col("value")))
    )
    if max_values_per_prop is not None:
        values_expr = F.slice(values_expr, 1, max_values_per_prop)
    per_prop = (
        values_expr.alias("values"),
        F.collect_set(F.when(~is_checksum, F.col("schema"))).alias("schemata"),
        F.min(F.when(~is_checksum, F.col("first_seen"))).alias("first_seen"),
        F.max(F.when(~is_checksum, F.col("last_seen"))).alias("last_seen"),
        F.collect_set(F.when(~is_checksum, F.col("origin"))).alias("origins"),
        F.count_if(~is_checksum).alias("n"),
        F.max(F.when(is_checksum, F.col("first_seen"))).alias("_lc"),
    )

    # checksum-only groups (n = 0) must never win the caption; rank
    # them below the old filtered universe entirely
    caption_expr = F.min_by(
        # F.get, not [0]: a checksum-only group's values array is EMPTY
        # and ANSI mode turns [0] into INVALID_ARRAY_INDEX; get() yields
        # NULL, and the r=100 rank keeps such a group from ever winning
        F.get(F.col("values"), 0),
        F.struct(
            F.when(F.col("n") == 0, F.lit(100))
            .when(caption_rank > 0, caption_rank)
            .otherwise(F.lit(99))
            .alias("r"),
            F.col("prop").alias("p"),
        ),
    )

    real_groups = F.filter(
        F.collect_list(F.struct("prop", "values", "n")), lambda g: g["n"] > 0
    )
    per_entity = (
        F.map_from_entries(
            F.array_sort(
                F.transform(
                    real_groups,
                    lambda g: F.struct(
                        g["prop"].alias("prop"), g["values"].alias("values")
                    ),
                )
            )
        ).alias("properties"),
        F.array_distinct(F.flatten(F.collect_list("schemata"))).alias("_schemata"),
        caption_expr.alias("caption"),
        F.min("first_seen").alias("first_seen"),
        F.max("last_seen").alias("last_seen"),
        F.array_distinct(F.flatten(F.collect_list("origins"))).alias("origins"),
        F.sum("n").alias("n_statements"),
        F.max("_lc").alias("_last_change"),
    )

    final = (
        F.col("entity_id"),
        F.col("caption"),
        merge_schemata(F.col("_schemata")).alias("schema"),
        F.col("properties"),
        F.col("first_seen"),
        F.col("last_seen"),
        F.coalesce("_last_change", "first_seen").alias("last_change"),
        F.array_sort("origins").alias("origins"),
        F.col("n_statements"),
    )
    # an entity whose every statement is a checksum row was absent
    # from the old per-prop universe — dropped the same way
    return per_prop, per_entity, F.col("n_statements") > 0, final


def assemble_entities(
    statements: DataFrame, max_values_per_prop: int | None = None
) -> DataFrame:
    """statements (live view) → one row per entity.

    Output schema:
      entity_id, caption, schema,
      properties map<string, array<string>>,
      first_seen, last_seen, last_change,
      origins array<string>, n_statements

    ``max_values_per_prop`` bounds per-group state for pathological
    entities (an entity with millions of values of one prop would
    otherwise blow the collect buffer at export time); values are kept
    in sorted order so the cap is deterministic.

    Plan: ONE exchange. The input is hash-partitioned on ``entity_id``
    first; that partitioning satisfies both the per-``(entity_id,
    prop)`` fold (bounded per-group state: the values of one prop) and
    the per-entity fold above it, so both aggregate partition-locally.
    Grouping straight on ``(entity_id, prop)`` would shuffle on that
    pair and then again on ``entity_id``. AQE still coalesces the
    exchange's partitions. The Column lists come prebuilt
    (:func:`_assembly_columns`).
    """
    per_prop, per_entity, has_values, final = _assembly_columns(
        statements.sparkSession.sparkContext, max_values_per_prop
    )
    return (
        statements.repartition("entity_id")
        .groupBy("entity_id", "prop")
        .agg(*per_prop)
        .groupBy("entity_id")
        .agg(*per_entity)
        .filter(has_values)
        .select(*final)
    )
