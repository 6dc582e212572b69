"""Query builder: the engine's ftmq-equivalent query surface.

Reference lifecycle (SURVEY §3.1): ftmq Query tree → SQLAlchemy Select
→ DuckDB SQL, with hand-routing between global and per-partition
execution. Here the tree compiles to DataFrame transformations and
Catalyst does the routing — sorted/sliced queries need no special path
(Spark plans are global by construction; reference
storage/parquet.py:197-248 deleted by design).

Semantics (from reference usage sites, tests/test_repository_entities.py):
  * filters select ENTITIES — a property filter ``P(name="Jane")``
    matches entities having such a statement, and the result carries
    ALL statements of matching entities (EAV semi-join, F5);
  * ``schema=`` folds into a ``bucket IN (...)`` partition prune before
    the schema equality (F3);
  * id matching is a single pass: without prop filters it is the
    pruned ``filter(pred).distinct()``; with them, one scan keeps the
    rows matching the row predicate OR any prop filter and one
    ``groupBy(entity_id)`` checks that every one of them was matched
    by some row — one exchange instead of a ``distinct`` and a
    semi-join per filter. The prop filters read every partition
    anyway, so the row side's bucket prune costs no extra file;
  * ``order_by``/slicing operate at entity grain (O4/O5): rank entity
    ids first, then semi-join back to statements — never a row LIMIT;
  * ``origin=`` is a row-level filter (F6).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame
from ftm_lakehouse_spark.persist import DATA_SIZED as _DATA_LEVEL
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ftm_lakehouse_spark.model.statement import schema_bucket

__all__ = ["Query"]

_OPS = {
    "eq": lambda c, v: c == v,
    "in": lambda c, v: c.isin(*v),
    "not_in": lambda c, v: ~c.isin(*v),
    "null": lambda c, v: c.isNull() if v else c.isNotNull(),
    "gte": lambda c, v: c >= v,
    "lte": lambda c, v: c <= v,
    "gt": lambda c, v: c > v,
    "lt": lambda c, v: c < v,
    "like": lambda c, v: c.like(v),
    "ilike": lambda c, v: c.ilike(v),
}


def _parse(key: str) -> tuple[str, str]:
    if "__" in key:
        name, op = key.rsplit("__", 1)
        if op in _OPS:
            return name, op
    return key, "eq"


@dataclass(frozen=True)
class Query:
    """Immutable builder; every method returns a new Query."""

    schemata: tuple[str, ...] = ()
    origins: tuple[str, ...] = ()
    entity_filters: tuple[tuple[str, str, object], ...] = ()  # meta-field filters
    prop_filters: tuple[tuple[str, str, object], ...] = ()  # EAV filters
    sort: tuple[tuple[str, bool, bool], ...] = ()  # (prop, ascending, numeric)
    start: int = 0
    stop: int | None = None

    # ------------------------------------------------------------ build
    def where(self, schema: str | None = None, origin: str | None = None, **kwargs) -> "Query":
        q = self
        if schema is not None:
            q = replace(q, schemata=(*q.schemata, schema))
        if origin is not None:
            q = replace(q, origins=(*q.origins, origin))
        for key, value in kwargs.items():
            name, op = _parse(key)
            if name in ("entity_id", "canonical_id", "dataset", "external", "bucket"):
                col = "entity_id" if name == "canonical_id" else name
                q = replace(q, entity_filters=(*q.entity_filters, (col, op, value)))
            else:
                q = replace(q, prop_filters=(*q.prop_filters, (name, op, value)))
        return q

    def order_by(self, prop: str, ascending: bool = True, numeric: bool = False) -> "Query":
        """Order entities by a property value (O4). ``numeric=True``
        casts the sort key to double — FtM stores numbers as strings,
        where lexicographic order would put "100" before "2"."""
        return replace(self, sort=(*self.sort, (prop, ascending, numeric)))

    def __getitem__(self, item: slice) -> "Query":
        if not isinstance(item, slice) or item.step not in (None, 1):
            raise TypeError("only contiguous slices supported")
        return replace(self, start=item.start or 0, stop=item.stop)

    # ---------------------------------------------------------- compile
    def _row_predicate(self) -> Column | None:
        """Predicates that are row-local (pushed to the scan)."""
        preds: list[Column] = []
        if self.schemata:
            buckets = sorted(
                {b for b in (_bucket_of(s) for s in self.schemata)}
            )
            preds.append(F.col("bucket").isin(*buckets))  # F3 partition prune
            preds.append(F.col("schema").isin(*self.schemata))
        if self.origins:
            preds.append(F.col("origin").isin(*self.origins))
        for name, op, value in self.entity_filters:
            preds.append(_OPS[op](F.col(name), value))
        out = None
        for p in preds:
            out = p if out is None else (out & p)
        return out

    def matching_ids(self, statements: DataFrame) -> DataFrame:
        """DataFrame of ``entity_id`` matching every filter (the
        ftmq ``canonical_ids`` subquery analog), sorted/sliced if
        requested."""
        pred = self._row_predicate()
        conds = [
            (F.col("prop") == prop) & _OPS[op](F.col("value"), value)
            for prop, op, value in self.prop_filters
        ]
        if not conds:
            df = statements if pred is None else statements.filter(pred)
            ids = df.select("entity_id").distinct()
        else:
            ids = _ids_with_every(statements, conds if pred is None else [pred, *conds])

        if not self.sort and self.stop is None and self.start == 0:
            return ids

        # entity-grain sort key: min value of the sort property (O4) —
        # computed only over matching entities. A slice WITHOUT a sort
        # ranks on entity_id alone (deterministic paging, and an empty
        # agg() is illegal anyway).
        if self.sort:
            scoped = statements.join(ids, "entity_id", "left_semi")

            def sort_value(prop: str, numeric: bool):
                v = F.when(F.col("prop") == prop, F.col("value"))
                return F.min(v.cast("double") if numeric else v)

            keyed = scoped.groupBy("entity_id").agg(
                *[
                    sort_value(prop, numeric).alias(f"_k{i}")
                    for i, (prop, _, numeric) in enumerate(self.sort)
                ]
            )
        else:
            keyed = ids
        order = [
            (F.asc_nulls_last(f"_k{i}") if asc else F.desc_nulls_last(f"_k{i}"))
            for i, (_, asc, _n) in enumerate(self.sort)
        ] + [F.asc("entity_id")]
        if self.stop is not None:
            # top-`stop` first (TakeOrderedAndProject — per-partition
            # heaps, never a global sort or single-partition window),
            # THEN rank the k survivors for the offset
            top = keyed.orderBy(*order).limit(self.stop)
            ranked = top.withColumn("_rank", F.row_number().over(W.orderBy(*order)))
            if self.start:
                ranked = ranked.filter(F.col("_rank") > self.start)
            return ranked.select("entity_id")
        # offset without limit (rare path): a GLOBAL rank, computed
        # two-phase — range shuffle + per-partition row_number +
        # broadcast prefix offsets (packing.global_cumsum's pattern)
        # instead of the textbook single-partition global window
        ranked = _global_rank(keyed, order)
        if self.start:
            ranked = ranked.filter(F.col("_rank") > self.start)
        return ranked.select("entity_id")

    def apply_statements(self, statements: DataFrame) -> DataFrame:
        """All statements of matching entities (the reference's read
        shape — entities are assembled from complete statement sets)."""
        ids = self.matching_ids(statements)
        out = statements.join(ids, "entity_id", "left_semi")
        if self.origins:
            out = out.filter(F.col("origin").isin(*self.origins))
        return out

    def apply_rows(self, statements: DataFrame) -> DataFrame:
        """Row-grain filtering (``query_statements``): predicates apply
        to statement rows directly, no entity semantics."""
        df = statements
        pred = self._row_predicate()
        if pred is not None:
            df = df.filter(pred)
        for prop, op, value in self.prop_filters:
            df = df.filter((F.col("prop") == prop) & _OPS[op](F.col("value"), value))
        return df


def _ids_with_every(statements: DataFrame, conds: list[Column]) -> DataFrame:
    """Ids of entities that have, for EACH condition, a row matching
    it — in one scan and one exchange: keep the rows matching any
    condition, then one ``groupBy(entity_id)`` folds a per-condition
    "some row matched" flag. Conditions are tested independently, so
    two filters on the same prop may match two different rows, and a
    NULL condition result counts as no match (as ``filter`` reads it).
    """
    any_cond = conds[0]
    for c in conds[1:]:
        any_cond = any_cond | c
    flags = [
        F.max(F.coalesce(c, F.lit(False))).alias(f"_m{i}")
        for i, c in enumerate(conds)
    ]
    every = F.col("_m0")
    for i in range(1, len(conds)):
        every = every & F.col(f"_m{i}")
    return (
        statements.filter(any_cond)
        .groupBy("entity_id")
        .agg(*flags)
        .filter(every)
        .select("entity_id")
    )


def _global_rank(keyed: DataFrame, order: list[Column]) -> DataFrame:
    """Global ``row_number`` over ``order`` without a SinglePartition
    window: ``repartitionByRange`` on the order expressions makes
    partition ids follow the global order (ties are safe — ``order``
    always ends in the unique entity_id tiebreak, so keys are total),
    each partition ranks locally in parallel, and per-partition counts
    are prefix-summed into broadcast offsets. One range shuffle + one
    #partitions-row broadcast — survives any entity cardinality."""
    ranged = keyed.repartitionByRange(*order).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_run = W.partitionBy("_pid").orderBy(*order)
    w_all = W.partitionBy("_pid")
    # local rank AND partition count in one window node; lazy
    # checkpoint so the offsets branch reuses (not recomputes) the
    # keyed subtree while the declared plan stays inspectable
    local = ranged.select(
        "*",
        F.row_number().over(w_run).alias("_lrn"),
        F.count("*").over(w_all).alias("_pn"),
    ).localCheckpoint(eager=False, storageLevel=_DATA_LEVEL)
    offsets = (
        local.select("_pid", "_pn")
        .distinct()
        .withColumn(
            "_poff",
            F.coalesce(
                F.sum("_pn").over(
                    W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_poff")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("_rank", (F.col("_lrn") + F.col("_poff")).cast("long"))
        .drop("_pid", "_lrn", "_pn", "_poff")
    )


def _bucket_of(schema: str) -> str:
    from ftm_lakehouse_spark.model.statement import SCHEMA_BUCKETS

    return SCHEMA_BUCKETS.get(schema, "thing")


# keep schema_bucket imported for API parity with the column-level fold
_ = schema_bucket
