"""Incrementally maintained aggregates over the statement store.

The reference publishes dataset statistics by recomputing them after
each optimize (operation/maintenance.py → storage versions); at 100 TB
a full-table re-aggregation per refresh is the single most expensive
"small" query in the system. The MVCC commit log already knows exactly
what changed, so a materialized aggregate can be maintained for the
cost of the CHANGES:

  * state is kept at ``(shard, bucket, origin) × keys`` granularity —
    the physical partition prefix makes every maintenance action
    partition-local;
  * an **append** contributes a delta aggregate computed from ONLY the
    appended files (file-exact read via the log, ``basePath`` restores
    partition columns);
  * a **rewrite** (merge/compact) invalidates its partitions' state
    rows and recomputes them from the partitions' current live files —
    additive measures cannot be "subtracted" out of an aggregate, but
    partition-scoped state makes subtraction unnecessary;
  * ``read()`` folds partitions out: one tiny aggregation over the
    state table (|distinct keys| × |touched partitions| rows).

Measures are the additive family (count + sums); non-additive measures
(distinct counts, percentiles) need sketch state (HLL/KLL) and are out
of scope here — ``x_approx_stats``'s sketches are the building block.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ftm_lakehouse_spark.model.statement import PARTITION_COLUMNS, STATEMENT_SCHEMA
from ftm_lakehouse_spark.sources.commits import _partition_of

__all__ = ["IncrementalAggregate", "partial_aggregate", "merge_partials", "fold_partitions"]


def partial_aggregate(
    df: DataFrame,
    partition_cols: list[str],
    keys: list[str],
    sums: list[str],
    sum_cast: str = "double",
) -> DataFrame:
    """One slice's contribution to the view: count + sums at
    (partitions × keys) grain. The additive-state building block —
    what an append's delta and a rewrite's recompute both produce."""
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.col(c).cast(sum_cast)).alias(f"sum_{c}") for c in sums
    ]
    return df.groupBy(*partition_cols, *keys).agg(*aggs)


def merge_partials(
    parts: list[DataFrame], partition_cols: list[str], keys: list[str], sums: list[str]
) -> DataFrame:
    """Fold partial states into one: additive measures sum, so state ∪
    delta re-aggregates exactly — the algebra that makes incremental
    maintenance equal a full recompute."""
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    aggs = [F.sum("n").alias("n")] + [
        F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sums
    ]
    return out.groupBy(*partition_cols, *keys).agg(*aggs)


def fold_partitions(state: DataFrame, keys: list[str], sums: list[str]) -> DataFrame:
    """The read side: partitions folded out, |keys|-grained rows."""
    aggs = [F.sum("n").alias("n")] + [
        F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sums
    ]
    return state.groupBy(*keys).agg(*aggs)


class IncrementalAggregate:
    """A materialized ``groupBy(keys).agg(count, sum(col)...)`` over a
    StatementStore's raw rows, maintained from the commit log."""

    def __init__(self, store, path: str, keys: list[str], sums: list[str] | None = None):
        self.store = store
        self.path = path
        self.keys = list(keys)
        self.sums = list(sums or [])
        self._fs = store._fs
        self._meta = self._fs.join(path, "_view.json")

    # ------------------------------------------------------------ state
    def _meta_doc(self) -> dict:
        try:
            return json.loads(self._fs.read_text(self._meta))
        except FileNotFoundError:
            return {"version": 0}

    def version(self) -> int:
        return self._meta_doc()["version"]

    def _state_dir(self) -> str | None:
        """Directory the CURRENT meta references, or None. State dirs
        are versioned (``state-{version}``) and the meta flip is the
        single atomic commit point: a crash mid-refresh leaves the old
        meta pointing at the old (intact) directory — never a meta
        that claims a version whose state is gone. ``state`` (bare) is
        the pre-versioning legacy layout, still readable."""
        name = self._meta_doc().get("state", "state")
        d = self._fs.join(self.path, name)
        return d if self._fs.isdir(d) else None

    def _empty_state(self) -> DataFrame:
        schema = ", ".join(
            [f"{c} string" for c in PARTITION_COLUMNS]
            + [f"{k} string" for k in self.keys]
            + ["n bigint"]
            + [f"sum_{c} double" for c in self.sums]
        )
        return self.store.spark.createDataFrame([], schema)

    def _state_df(self) -> DataFrame:
        d = self._state_dir()
        if d is None:
            return self._empty_state()
        return self.store.spark.read.parquet(d)

    def _aggregate(self, df: DataFrame) -> DataFrame:
        return partial_aggregate(df, list(PARTITION_COLUMNS), self.keys, self.sums)

    def _merge_states(self, parts: list[DataFrame]) -> DataFrame:
        return merge_partials(parts, list(PARTITION_COLUMNS), self.keys, self.sums)

    # ---------------------------------------------------------- refresh
    def refresh(self) -> dict:
        """Advance the view to the store's current commit version.
        Returns maintenance stats — ``files_read`` is the incremental
        guarantee a test can pin (appended files + rewritten-partition
        files, never the table).

        Falls back to a FULL rebuild from ``snapshot(head)`` when an
        exact incremental answer is impossible: (a) log cleanup
        removed records in ``(last, head]`` — ``read`` would silently
        return fewer records and the appended files in them would
        never be aggregated (the same case ``raw_since`` surfaces as
        :class:`LogTruncated`); (b) the state directory the meta
        references is missing (crash damage / manual deletion) —
        folding a span onto an empty state would be permanently,
        silently wrong."""
        store, fs = self.store, self._fs
        head = store.commits.current_version()
        last = self.version()
        truncated = last + 1 < store.commits.oldest_version()
        damaged = last > 0 and self._state_dir() is None
        if head == last and not damaged:
            return {"version": head, "refreshed": False, "files_read": 0}
        if truncated or damaged:
            files = store.commits.snapshot(head)
            new_state = (
                self._aggregate(self._read(files)) if files else self._empty_state()
            )
            self._swap(new_state, head)
            return {
                "version": head,
                "refreshed": True,
                "files_read": len(files),
                "rebuilt": True,
            }

        recs = store.commits.read(last, until=head)
        rewritten: set[tuple[str, ...]] = set()
        removed_in_span: set[str] = set()
        for r in recs:
            removed_in_span.update(r.get("files_removed", ()))
            # restore commits swap a partition's full content just like
            # a rewrite (including to EMPTY, which the additive
            # files_since contract cannot express) — recompute those
            # partitions from the head snapshot wholesale
            if r["kind"] in ("rewrite", "restore"):
                rewritten.update(tuple(p) for p in r["partitions"])
        append_files = [
            f
            for r in recs
            if r["kind"] in ("append", "bootstrap")
            for f in r["files_added"]
            if f not in removed_in_span and _partition_of(f) not in rewritten
        ]
        rewritten_files = [
            f for f in store.commits.snapshot(head) if _partition_of(f) in rewritten
        ]

        state = self._state_df()
        parts = []
        if rewritten:
            # drop the rewritten partitions' state rows (concat-key isin
            # — the partition list is small by construction)
            ckey = F.concat_ws("/", *PARTITION_COLUMNS)
            state = state.filter(~ckey.isin(["/".join(p) for p in sorted(rewritten)]))
            if rewritten_files:
                parts.append(self._aggregate(self._read(rewritten_files)))
        parts.insert(0, state)
        if append_files:
            parts.append(self._aggregate(self._read(append_files)))
        new_state = self._merge_states(parts) if len(parts) > 1 else parts[0]
        self._swap(new_state, head)
        return {
            "version": head,
            "refreshed": True,
            "files_read": len(append_files) + len(rewritten_files),
            "rewritten_partitions": len(rewritten),
        }

    def _swap(self, new_state: DataFrame, head: int) -> None:
        """Publish new state: write a VERSIONED directory, atomically
        flip the meta to reference it, delete superseded directories
        last. A crash at any point leaves a consistent view (old meta →
        old dir, or new meta → new dir); a concurrent ``read()`` that
        resolved the old meta keeps reading the old directory until the
        next refresh's final sweep — acceptable staleness, never a
        missing-state window (the delete-then-rename swap this replaces
        had exactly that window)."""
        fs = self._fs
        name = f"state-{head:012d}"
        target = fs.join(self.path, name)
        new_state.write.mode("overwrite").parquet(target)
        prev = None
        try:
            prev = json.loads(fs.read_text(self._meta)).get("state")
        except (FileNotFoundError, ValueError):
            pass
        fs.write_text_atomic(
            self._meta, json.dumps({"version": head, "state": name})
        )
        # the immediately-previous directory SURVIVES this refresh — a
        # concurrent read() that resolved the old meta just before the
        # flip still has a lazy plan pointed at it; only the next
        # refresh's sweep removes it (the documented grace window —
        # deleting it here would reopen the missing-state race)
        keep = {name, prev}
        for entry in fs.listdir(self.path):
            if entry not in keep and (
                entry == "state" or entry.startswith("state-") or entry.endswith(".stage")
            ):
                fs.delete(fs.join(self.path, entry))

    def _read(self, files: list[str]) -> DataFrame:
        data = self.store._data_path()
        return (
            self.store.spark.read.option("basePath", data)
            .schema(STATEMENT_SCHEMA)
            .parquet(*[self._fs.join(data, f) for f in files])
        )

    # ------------------------------------------------------------- read
    def read(self) -> DataFrame:
        """The aggregate, partitions folded out: |keys|-grained rows."""
        return fold_partitions(self._state_df(), self.keys, self.sums)
