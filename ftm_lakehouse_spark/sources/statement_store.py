"""StatementStore: the physical statement table.

One table per dataset, hive-partitioned by ``(shard, bucket, origin)``
(reference layout: /root/reference/ftm_lakehouse/storage/parquet.py:35-37,
95,112-122). Storage is parquet governed by an optimistic-concurrency
transaction log (sources/commits.py) — the Delta protocol the reference
gets from delta-rs (storage/parquet.py:326-475), reimplemented on plain
files:

  * **append** — each write job stages to a private directory, moves
    its uniquely-named files into the table, then publishes an atomic
    ``append`` commit. No shared ``_temporary`` (the stock committer
    hazard), no locks: concurrent appends from ANY number of drivers
    commute — version allocation is put-if-absent with retry.
  * **merge / compact rewrite** — computed from a pinned snapshot
    version; new files land first, then one ``rewrite`` commit retires
    exactly the files the job read. Readers never observe a
    half-swapped partition (they resolve file lists from the log, not
    directory listings), an append racing the rewrite survives it (its
    files are not in the removal set — the partition just stays
    dirty), and two rewrites of one partition conflict cleanly
    (:class:`CommitConflict`) instead of double-deleting.
  * **time travel** — ``raw(as_of=version)`` reads any snapshot whose
    retired files vacuum has not yet reaped; the version cursor
    (``raw_since`` / ``canonical_since``) rides the same log.
  * **dirty tracking** — the log is the only record of which
    partitions need a merge (``dirty_partitions``); ``_meta/tags.json``
    holds nothing but the store-wide ``last_*`` freshness stamps.
  * **clustering** — ``sortWithinPartitions(entity_id, ...)`` before
    every write keeps an entity's rows contiguous within files so
    min/max stats skip files on point lookups (reference 7-key sort O1,
    storage/parquet.py:519-529).

At 100 TB: appends scale horizontally across drivers (no
coordination beyond one atomic create on the log), the merge shuffles
each dirty partition once (windows are keyed on the partition prefix),
snapshot resolution replays O(checkpoint-interval) KB-sized records,
and vacuum bounds disk growth to the retention window.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ftm_lakehouse_spark.model.dataset import DatasetConfig
from ftm_lakehouse_spark.model.statement import (
    LARGE_VALUE_BUCKETS,
    PARTITION_COLUMNS,
    STATEMENT_SCHEMA,
    WRITE_SORT_COLUMNS,
    live_filter,
    with_canonical_id,
)
from ftm_lakehouse_spark.operators.merge import canonicalize
from ftm_lakehouse_spark.sources.commits import CommitLog, _partition_of
from ftm_lakehouse_spark.sources.fs import get_fs
from ftm_lakehouse_spark.sources.parquet_meta import encode_bound, read_file_stats

__all__ = ["StatementStore", "TagStore"]


def _lock_key(path: str) -> str:
    return path if "://" in path else os.path.abspath(path)


def _overlaps(stats: dict | None, column: str, lo: str, hi: str) -> bool:
    """Whether a file's log stats leave ``[lo, hi]`` possible for
    ``column``; unknown stats keep the file."""
    f_lo = (stats or {}).get("minValues", {}).get(column)
    f_hi = (stats or {}).get("maxValues", {}).get(column)
    return f_lo is None or f_hi is None or (f_hi >= lo and f_lo <= hi)


class TagStore:
    """Freshness stamps: ``key -> iso timestamp`` (reference
    storage/tags.py:24-69) — ``last_updated``, ``last_optimized`` and
    ``last_made``, which drive op-level "target newer than deps → skip"
    (I4) and human-facing freshness. A tiny driver-side control file —
    deliberately not a Spark table: it is read per job, written once
    per job, and must be cheap. Lives behind the FS shim so a store
    rooted at a Hadoop URI keeps its tags next to its data (S16).

    Tags are ADVISORY under cross-driver concurrency (read-modify-write
    may lose a racing touch); per-partition dirtiness is not a tag —
    only the commit log records it."""

    _locks: dict[str, threading.Lock] = {}
    _locks_guard = threading.Lock()

    def __init__(self, path: str, spark: SparkSession | None = None):
        self.path = path
        self._fs = get_fs(path, spark)
        with TagStore._locks_guard:
            self._lock = TagStore._locks.setdefault(_lock_key(path), threading.Lock())

    def _load(self) -> dict[str, str]:
        try:
            return json.loads(self._fs.read_text(self.path))
        except FileNotFoundError:
            return {}

    def get(self, key: str) -> datetime | None:
        v = self._load().get(key)
        return datetime.fromisoformat(v) if v else None

    def touch(self, key: str, ts: datetime | None = None) -> None:
        # read-modify-write under a per-path lock: concurrent writers
        # (threaded appends) would otherwise drop each other's tags
        with self._lock:
            tags = self._load()
            tags[key] = (ts or datetime.now(timezone.utc)).isoformat()
            self._fs.write_text_atomic(self.path, json.dumps(tags))

    def is_latest(self, key: str, deps: list[str]) -> bool:
        """target newer than all deps → fresh (reference
        storage/tags.py:45-63)."""
        target = self.get(key)
        if target is None:
            return False
        for dep in deps:
            d = self.get(dep)
            if d is not None and d > target:
                return False
        return True


class StatementStore:
    #: per-table-path maintenance locks (process-wide): merge/compact/
    #: vacuum serialize WITHIN a driver to avoid wasted work; ACROSS
    #: drivers the commit log's conflict check is the guard. Appends
    #: take no lock at all.
    _maint_locks: dict[str, threading.RLock] = {}
    _maint_locks_guard = threading.Lock()

    def __init__(self, spark: SparkSession, path: str, config: DatasetConfig):
        self.spark = spark
        self.path = path
        self.config = config
        self._fs = get_fs(path, spark)
        self.tags = TagStore(self._fs.join(path, "_meta", "tags.json"), spark)
        log_dir = self._fs.join(path, "_meta", "commits")
        self.commits = CommitLog(self._fs, log_dir)
        # Pre-log ADOPTION is decided at open time, from an explicit
        # ownership signal — the commit-log directory — never from
        # "version == 0": a store is adopting only when it has data
        # files but no log directory at all (a foreign/pre-log table).
        # An engine-created store materializes its (empty) log dir at
        # birth, so a crash between the first stage-move and the first
        # commit leaves a version-0 store whose orphan files are
        # INVISIBLE (raw() returns empty, bootstrap does not adopt
        # them, the replayed write re-runs cleanly, vacuum reaps the
        # orphans) — without the signal, the adoption fallback would
        # surface the torn write and a streaming replay would
        # double-append it (caught by tests/test_streaming_recovery.py).
        data_dir = self._fs.join(path, "statements")
        if self._fs.isdir(log_dir):
            self._adopting = False
        else:
            self._adopting = self._fs.isdir(data_dir) and bool(
                self._fs.parquet_files(data_dir)
            )
            if not self._adopting:
                self._fs.mkdirs(log_dir)
        with StatementStore._maint_locks_guard:
            self._maint_lock = StatementStore._maint_locks.setdefault(
                _lock_key(path), threading.RLock()
            )
        # driver-side parquet read plane: object stores expose a
        # pyarrow filesystem (S3FS.pyarrow_fs, ranged GETs); local and
        # Hadoop paths are read directly. Shared by footer-stats reads
        # and serving.PointReader.
        hook = getattr(self._fs, "pyarrow_fs", None)
        self._read_plane = hook() if hook else (None, lambda p: p)
        # (head version, raw() DataFrame at that head): see raw()
        self._head_raw: tuple[int, DataFrame] | None = None

    # ---------------------------------------------------------- reads
    def _data_path(self) -> str:
        return self._fs.join(self.path, "statements")

    def _footer_stats(self, rels) -> dict[str, dict | None]:
        """Log stats of data files, read from their footers (see
        ``parquet_meta.read_file_stats``)."""
        data = self._data_path()
        return read_file_stats(
            {r: self._fs.join(data, r) for r in rels}, self._read_plane
        )

    def exists(self) -> bool:
        return self.commits.current_version() > 0 or self._fs.isdir(self._data_path())

    def raw(self, as_of: int | None = None) -> DataFrame:
        """All physical rows including tombstones (reference
        ``statement_raw`` view, logic/parquet.py:49-69). The read set
        is the commit log's file snapshot — never a directory listing —
        so concurrent rewrites are invisible until their single atomic
        commit, and ``as_of`` reads any un-vacuumed historical version
        (Delta time travel, reference diff.py:62-83).

        One head snapshot is one relation: the head read
        (``as_of=None``) is built once per commit version and returned
        again while the head is unchanged — building the 16-file
        ``spark.read.parquet`` relation is ~40 ms of driver work, and
        data files are immutable, so a version names one fixed file set.
        ``as_of`` reads are built per call: their files may be vacuumed
        between calls, and the caller's time-travel error handling
        expects the read to fail then, not a stale relation."""
        head = self.commits.current_version()
        if head == 0:
            if as_of is not None:
                raise ValueError("as_of requires a commit log (store has none)")
            # pre-log FOREIGN store (read-only adoption path, decided by
            # the ownership signal at open): directory listing. An
            # engine-created store at version 0 reads EMPTY — any files
            # present are a crashed first append's orphans and must not
            # surface (test_streaming_recovery.py).
            if self._adopting and self._fs.isdir(self._data_path()):
                return self.spark.read.schema(STATEMENT_SCHEMA).parquet(
                    self._data_path()
                )
            return self.spark.createDataFrame([], STATEMENT_SCHEMA)
        slot = self._head_raw
        if as_of is None and slot is not None and slot[0] == head:
            return slot[1]
        files = self.commits.snapshot(head if as_of is None else as_of)
        if not files:
            df = self.spark.createDataFrame([], STATEMENT_SCHEMA)
        else:
            data = self._data_path()
            df = self._read_files([self._fs.join(data, f) for f in files])
        if as_of is None:
            self._head_raw = (head, df)
        return df

    def _read_files(self, paths: list[str]) -> DataFrame:
        # basePath recovers hive partition columns from explicit paths
        return (
            self.spark.read.option("basePath", self._data_path())
            .schema(STATEMENT_SCHEMA)
            .parquet(*paths)
        )

    def live(self) -> DataFrame:
        """Live view: tombstone-filtered + ``canonical_id`` alias,
        window-free so predicates push to file stats (reference
        ``statement`` view, logic/parquet.py:165-192)."""
        return with_canonical_id(self.raw().filter(live_filter()))

    # --------------------------------------------------------- writes
    def _ensure_bootstrap(self) -> None:
        """Adopt pre-log data files into the log before the first
        logged write (idempotent; exactly one racing driver wins).
        Only a store opened in ADOPTION mode (foreign data, no log
        directory) bootstraps — an engine-created store never adopts
        loose files: at version 0 any such files are a crashed first
        append's orphans, and adopting them would double the replayed
        write (test_streaming_recovery.py)."""
        if not self._adopting or self.commits.current_version():
            return
        files = sorted(self._fs.parquet_files(self._data_path()))
        if not files:
            return
        parts = sorted({_partition_of(f) for f in files})
        self.commits.try_bootstrap(parts, files)

    def adopt(self, force: bool = False, wait_s: float = 5.0) -> dict:
        """One-time EXPLICIT adoption of a pre-log foreign store
        (round-10, VERDICT r9 item 3): fold the current data-directory
        listing into an initial bootstrap commit — the files are
        immutable, so the snapshot is just a manifest — after which the
        MVCC log owns the table and the Spark-free serving path
        (:class:`serving.PointReader`) serves it directly instead of
        refusing and falling back to Spark.

        Idempotent: a second call (or adopting an engine-created
        store) is a no-op reporting the current version. Writes always
        did this lazily via ``_ensure_bootstrap``; ``adopt()`` is for
        READ-ONLY serving deployments that never issue a write.

        Concurrency (round-12, caught by the multiprocess race test):
        a racing adopter creates the log directory an instant BEFORE
        publishing the bootstrap record, so a store constructed inside
        that window classifies as owned-at-version-0 and would report
        head 0 forever. When explicit adoption finds that shape
        (owned, no records, data files present) it polls up to
        ``wait_s`` for the in-flight winner's record and converges on
        version 1. If no record ever lands (a crashed mid-adopt), the
        poll times out and the store stays at version 0 — deliberately,
        because owned-at-v0-with-data is ALSO the signature of an
        engine store's torn first append, whose orphans must never be
        auto-folded (the r11 ownership-marker semantics;
        test_streaming_recovery). ``force=True`` is the operator
        override for the crashed-adoption case: it folds the current
        directory listing into version 1 regardless — only for stores
        KNOWN to be foreign read-only imports."""
        with self._maint_lock:
            if self._adopting:
                self._fs.mkdirs(self.commits.root)
                self._ensure_bootstrap()
                # ownership flips: the log dir now exists and (if there
                # was data) version 1 is the directory manifest —
                # identical read set, now MVCC-governed
                self._adopting = False
                return {
                    "adopted": True,
                    "version": self.commits.current_version(),
                }
        # Not adopting: nothing below mutates store state (the force
        # bootstrap is a put-if-absent race the log arbitrates), so the
        # window poll runs OUTSIDE the per-path maint lock — a same-
        # process winner must be able to take that lock and publish
        # while we wait.
        head = self.commits.current_version()
        if head == 0:
            data = self._data_path()
            files = (
                sorted(self._fs.parquet_files(data))
                if self._fs.isdir(data)
                else []
            )
            if files and force:
                parts = sorted({_partition_of(f) for f in files})
                won = self.commits.try_bootstrap(parts, files)
                return {
                    "adopted": won,
                    "version": self.commits.current_version(),
                }
            if files:
                deadline = time.monotonic() + wait_s
                while head == 0 and time.monotonic() < deadline:
                    time.sleep(0.02)
                    head = self.commits.current_version()
        return {"adopted": False, "version": head}

    def _stage_move(
        self,
        df: DataFrame,
        zorder: tuple[str, ...] | None = None,
        streaming: bool = False,
    ) -> tuple[dict[str, dict | None], list[tuple[str, ...]]]:
        """Write ``df`` via a private stage directory, then move each
        (uniquely-named) file into the table. Returns ({data-dir-relative
        file: footer stats}, partitions touched) — the stats the commit
        record carries, read once per file right after the move
        (``_footer_stats``). The private stage removes the stock
        committer's shared ``_temporary`` hazard, so ANY number of
        writers — threads or drivers — can run this concurrently; files
        become *visible* only when the caller's commit record lands.

        Single-pass protocol (round-12, guide §1.2): the input plan —
        which may be an expensive subtree (an entity emission's
        explode + dedup, the merge's canonicalize windows, a stateful
        streaming micro-batch) — executes exactly ONCE, in the stage
        write job. Partitions (and so the bucket set) are derived from
        the staged FILE NAMES, which replaces both the pre-pass
        discovery collect and the eager localCheckpoint that earlier
        rounds used to keep multiple passes from replaying the plan.

        Writer profiles stay per BUCKET (reference
        storage/parquet.py:487-541 splits its append by bucket):
        document-family buckets carry long text values and get the
        large profile (zstd, smaller row groups, no value dictionary);
        thing/interval buckets get the small profile (snappy, big row
        groups, dictionaries). Parquet writer options are per write JOB
        in Spark, so the batch stages under the small profile first and
        any document-family slice is then REWRITTEN with the large
        profile from the staged parquet — a columnar read of just that
        slice, never a re-execution of the input plan."""
        fs = self._fs
        data = self._data_path()
        stage = fs.join(self.path, f"_stage-{uuid.uuid4().hex}")
        if zorder:
            from ftm_lakehouse_spark.functions.zorder import zorder_cluster

            fanout = int(
                self.spark.conf.get("spark.sql.shuffle.partitions", "32")
            )
            clustered = zorder_cluster(
                df, zorder, list(PARTITION_COLUMNS), fanout
            )
        else:
            clustered = self._cluster_for_write(df, streaming=streaming)
        (
            clustered.write.mode("overwrite")
            .options(**self._write_options(large=False))
            .partitionBy(*PARTITION_COLUMNS)
            .parquet(stage)
        )
        rels = sorted(fs.parquet_files(stage))
        large_rels = [
            r for r in rels if _partition_of(r)[1] in LARGE_VALUE_BUCKETS
        ]
        keep_rels = [r for r in rels if r not in set(large_rels)]
        stages = [(stage, keep_rels)]
        if large_rels:
            # profile fix-up for document-family buckets: rewrite the
            # staged slice (columnar, slice-sized) under the large
            # profile, re-establishing the clustering order the
            # partitioned writer expects
            restage = fs.join(self.path, f"_stage-{uuid.uuid4().hex}")
            slice_df = (
                self.spark.read.option("basePath", stage)
                .schema(STATEMENT_SCHEMA)
                .parquet(*[fs.join(stage, r) for r in large_rels])
            )
            if zorder:
                from ftm_lakehouse_spark.functions.zorder import zorder_cluster

                fanout = int(
                    self.spark.conf.get("spark.sql.shuffle.partitions", "32")
                )
                slice_df = zorder_cluster(
                    slice_df, zorder, list(PARTITION_COLUMNS), fanout
                )
            else:
                slice_df = slice_df.sortWithinPartitions(*WRITE_SORT_COLUMNS)
            (
                slice_df.write.mode("overwrite")
                .options(**self._write_options(large=True))
                .partitionBy(*PARTITION_COLUMNS)
                .parquet(restage)
            )
            stages.append((restage, sorted(fs.parquet_files(restage))))
        moved: set[str] = set()
        for src_root, src_rels in stages:
            pairs = [
                (fs.join(src_root, rel), fs.join(data, rel)) for rel in src_rels
            ]
            if hasattr(fs, "rename_many"):
                # object stores: the moves are independent server-side
                # copies — fan them out instead of paying N× request
                # latency serially (same crash contract: nothing is
                # visible until the single commit below)
                fs.rename_many(pairs)
            else:
                for src, dst in pairs:
                    fs.rename(src, dst)
            moved.update(src_rels)
            fs.delete(src_root)
        parts = sorted({_partition_of(f) for f in moved})
        return self._footer_stats(sorted(moved)), parts

    def append(
        self,
        df: DataFrame,
        txn: tuple[str, int] | None = None,
        streaming: bool = False,
    ) -> None:
        """Lock-free blind append: stage-move + one atomic commit.
        Crash between move and commit leaves untracked files that are
        never read and that ``vacuum`` reaps after retention.

        ``txn`` = (app_id, txn_version) makes the append IDEMPOTENT
        (Delta's txnAppId/txnVersion): a replayed write with an
        already-committed version is skipped — the contract that turns
        an at-least-once streaming ``foreachBatch`` sink into an
        exactly-once one (streaming/journal.py passes its checkpoint
        identity + epoch here).

        The single-pass ``_stage_move`` executes the input plan exactly
        ONCE, in the stage write job, which also consumes every input
        partition — the contract a streaming foreachBatch sink needs
        even for an empty batch (state-store commit validation); an
        empty batch touches ``last_updated`` (the append RAN — the
        pre-r12 contract for freshness consumers, ADVICE r12) but not
        the log.

        ``streaming=True`` (the journal sink sets it) routes the write
        clustering to the fixed-fanout path: stateful micro-batches run
        with AQE runtime-disabled, where the REBALANCE hint would be
        silently dropped (ADVICE r12)."""
        if txn is not None and self.commits.txn_version(txn[0]) >= int(txn[1]):
            return  # replayed micro-batch: already durable, skip the job
        df = df.select(*STATEMENT_SCHEMA.fieldNames())
        # bootstrap BEFORE the move: an adoption-mode store must fold
        # pre-existing foreign files into the log before this append's
        # files land next to them (engine-created stores: no-op)
        self._ensure_bootstrap()
        added, parts = self._stage_move(df, streaming=streaming)
        if not added:
            # empty batch, consumed in full by the write job: stamp the
            # append attempt (pre-r12 touched last_updated for every
            # append, empty or not) without a commit record
            self.tags.touch("last_updated")
            return
        # the atomic replay re-check inside commit() closes the race
        # two concurrent replays of one epoch could otherwise hit;
        # a loser's staged files are untracked and vacuumed
        self.commits.commit("append", parts, sorted(added), txn=txn, stats=added)
        self.tags.touch("last_updated")

    @staticmethod
    def _write_options(large: bool = False) -> dict[str, str]:
        """Parquet writer options for every statement file: append,
        merge/compact rewrite and streaming batches alike.

        Point lookups skip files by the ``entity_id`` min/max stats
        (files are clustered by entity_id), and inside a file by the
        column's dictionary: while a chunk stays dictionary-encoded
        (up to tens of thousands of ids per row group), Spark's
        dictionary filtering drops the row group without decoding data
        pages. Parquet writes no bloom filter for a fully
        dictionary-encoded chunk, so at that size the ``entity_id``
        filter costs nothing. ``parquet.bloom.filter.adaptive.enabled``
        (a global key: the per-column form is ignored) writes it only
        once a chunk leaves dictionary encoding, sized 64 KB-1 MB to
        the ids the chunk actually holds; an explicit
        ``expected.ndv`` would override that sizing, so none is set.
        No reader filters statements by ``id``, so it gets no filter.

        Two writer profiles (reference ``writer_for_bucket``, small vs
        large): document-family buckets hold multi-KB ``value`` strings
        — zstd buys 2-3× over snappy on text, the 32 MB row group keeps
        per-group memory bounded when single values are large, and the
        ``value`` dictionary is disabled because long high-cardinality
        strings only bloat dictionary pages before falling back anyway.
        Small-value buckets keep snappy (cheapest decode on the hot
        merge/query path), 128 MB row groups, default dictionaries."""
        base = {
            "parquet.bloom.filter.enabled#entity_id": "true",
            "parquet.bloom.filter.adaptive.enabled": "true",
        }
        if large:
            base |= {
                "compression": "zstd",
                "parquet.block.size": str(32 * 1024 * 1024),
                "parquet.enable.dictionary#value": "false",
            }
        else:
            base |= {
                "compression": "snappy",
                "parquet.block.size": str(128 * 1024 * 1024),
            }
        return base

    def _cluster_for_write(self, df: DataFrame, streaming: bool = False) -> DataFrame:
        """Distribute rows for writing: partition columns + an
        entity-keyed salt. Hashing only the 3 partition columns would
        collapse a 1.8M-row write onto <#partitions> tasks; the salt
        multiplies fan-out while keeping every entity wholly inside one
        hash group, so the entity_id clustering sort still yields
        contiguous entities and tight min/max file stats.

        REBALANCE instead of a fixed-fanout repartition (round-12,
        guide §2.2/§6): AQE sizes the write partitions from the ACTUAL
        shuffle bytes — a few-thousand-row emission coalesces to one
        file per table partition instead of <shuffle.partitions> shards
        of it, and a backfill-sized batch splits until tasks sit near
        ``spark.sql.adaptive.advisoryPartitionSizeInBytes``. The same
        code is right at both scales; a constant fanout was right at
        neither."""
        import pyspark.sql.functions as _F

        fanout = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        salt = _F.pmod(_F.xxhash64("entity_id"), _F.lit(max(1, fanout // 4)))
        salted = df.withColumn("_wsalt", salt)
        # ``streaming`` is the explicit caller flag from the journal
        # sink (ADVICE r12): a stateful foreachBatch micro-batch runs
        # with AQE runtime-disabled while the session conf still says
        # true, so the conf check alone would leave the REBALANCE hint
        # silently dropped — no clustering shuffle at all — on exactly
        # the path that needs the fixed fanout.
        aqe_on = not streaming and (
            str(
                df.sparkSession.conf.get("spark.sql.adaptive.enabled", "true")
            ).lower()
            == "true"
        )
        if aqe_on:
            clustered = salted.hint("rebalance", *PARTITION_COLUMNS, "_wsalt")
        else:
            # stateful streaming micro-batches run with AQE force-
            # disabled (MicroBatchExecution), and REBALANCE resolution
            # requires AQE — the hint would be silently DROPPED there,
            # leaving the dedup state's arbitrary partitioning. Keep
            # the fixed-fanout hash repartition for that path.
            clustered = salted.repartition(fanout, *PARTITION_COLUMNS, "_wsalt")
        return clustered.drop("_wsalt").sortWithinPartitions(*WRITE_SORT_COLUMNS)

    def overwrite_partitions(
        self,
        df: DataFrame,
        expected: list[tuple[str, str, str]] | None = None,
        files_removed: list[str] | None = None,
        read_version: int | None = None,
        zorder: tuple[str, ...] | None = None,
        canonical: bool = True,
    ) -> None:
        """Partition-scoped rewrite (merge / Delta ``replaceWhere``
        analog, reference S4 storage/parquet.py:644-663): new files
        land first, then ONE commit atomically swaps visibility —
        adding the rewrite's output and retiring ``files_removed``
        (default: every live file under the written ∪ ``expected``
        partitions at ``read_version``).

        ``expected`` partitions that produced no output (every row
        reaped) are retired with no replacement — the MVCC equivalent
        of deleting the partition directory.

        Raises :class:`CommitConflict` if a concurrent rewrite already
        retired any target file; the staged output then stays on disk
        untracked (never visible) until vacuum. Old files are deleted
        by ``vacuum`` after retention, which is what keeps ``as_of``
        time travel readable.

        ``canonical=False`` (compaction) records that the rows were
        copied, not canonicalized: the rewritten partitions keep any
        pending merge (``CommitLog._fold``)."""
        self._ensure_bootstrap()
        if read_version is None:
            read_version = self.commits.current_version()
        if files_removed is None:
            snap = self.commits.snapshot(read_version)
            scope = {tuple(p) for p in expected or []}
            files_removed = [f for f in snap if _partition_of(f) in scope]
        added, written = self._stage_move(
            df.select(*STATEMENT_SCHEMA.fieldNames()),
            zorder=zorder,
        )
        all_parts = sorted(
            set(written) | {tuple(p) for p in expected or []}
        )
        self.commits.commit(
            "rewrite",
            all_parts,
            sorted(added),
            sorted(files_removed),
            read_version=read_version,
            stats=added,
            canonical=canonical,
        )

    # ---------------------------------------------------- maintenance
    def dirty_partitions(self) -> list[tuple[str, str, str]]:
        """Partitions appended to since the last merge that covered
        them, from the commit log (exact under cross-driver concurrency
        — an append racing a merge leaves its partition dirty because
        its commit version exceeds the merge's ``read_version``)."""
        return [tuple(p) for p in self.commits.dirty_partitions()]

    def merge(self, grace_days: int = 30, force: bool = False) -> bool:
        """Canonicalize dirty partitions — partition-scoped: clean
        partitions are neither read nor rewritten. The whole job is
        computed from ONE pinned snapshot version: the rewrite retires
        exactly the files it read, so an append landing mid-merge is
        untouched and simply leaves its partition dirty for the next
        merge. At 100 TB this bounds a merge to the partitions actually
        appended to since the last one (the reference's per-partition
        loop, here one Spark job over the union of dirty partitions —
        merge windows are keyed on the partition prefix, so each
        partition still merges locally within the shared shuffle)."""
        if not self.exists():
            return False
        with self._maint_lock:
            self._ensure_bootstrap()
            now = datetime.now(timezone.utc)
            head = self.commits.current_version()
            snap = self.commits.snapshot(head)
            if force:
                dirty = sorted({_partition_of(f) for f in snap})
            else:
                dirty = self.dirty_partitions()
            if not dirty:
                return False
            target = [f for f in snap if _partition_of(f) in set(dirty)]
            if not target:
                return False
            data = self._data_path()
            scoped = self._read_files([self._fs.join(data, f) for f in target])
            cutoff = now - timedelta(days=grace_days)
            canonical = canonicalize(scoped, grace_cutoff=cutoff)
            self.overwrite_partitions(
                canonical, expected=dirty, files_removed=target, read_version=head
            )
            self.tags.touch("last_optimized", now)
        return True

    def compact(
        self,
        max_files_per_partition: int = 8,
        zorder: tuple[str, ...] | list[str] | None = None,
    ) -> list[tuple[str, str, str]]:
        """Bin-pack partitions whose LIVE file count (from the log
        snapshot — retired files don't count) exceeds the threshold
        (reference compact, storage/parquet.py:683-706 / Delta
        OPTIMIZE). Same pinned-snapshot rewrite as merge. Returns the
        partitions compacted.

        ``zorder`` (Delta ``OPTIMIZE ... ZORDER BY`` analog): rewrite
        row order on the interleaved Morton key over the given columns
        (``functions/zorder.py``) instead of the default entity
        clustering sort, so file min/max stats become selective on
        EVERY z-dimension — the stat surface :meth:`scan_range` prunes
        through. A z-order request rewrites every multi-file partition
        (clustering is the point, not just file count), like Delta's
        OPTIMIZE ZORDER which rewrites regardless of bin-packing
        need."""
        if not self.exists():
            return []
        with self._maint_lock:
            self._ensure_bootstrap()
            head = self.commits.current_version()
            snap = self.commits.snapshot(head)
            per_part: dict[tuple[str, ...], int] = {}
            for f in snap:
                p = _partition_of(f)
                per_part[p] = per_part.get(p, 0) + 1
            threshold = 0 if zorder else max_files_per_partition
            crowded = sorted(p for p, n in per_part.items() if n > threshold)
            if not crowded:
                return []
            target = [f for f in snap if _partition_of(f) in set(crowded)]
            data = self._data_path()
            df = self._read_files([self._fs.join(data, f) for f in target])
            self.overwrite_partitions(
                df,
                expected=crowded,
                files_removed=target,
                read_version=head,
                zorder=tuple(zorder) if zorder else None,
                canonical=False,
            )
        return crowded

    def scan_range(self, column: str, lo, hi) -> DataFrame:
        """Range scan with ENGINE-side file pruning: read only the live
        files whose min/max for ``column`` overlaps ``[lo, hi]``, then
        apply the exact predicate to the survivors — Delta's stats-based
        file skipping. Planning is a commit-log lookup and fires no
        Spark job: each file's min/max was recorded in the commit that
        added it (``CommitLog.snapshot_stats``). Files whose add
        carried no stats (an adopted foreign store, a log written
        before stats were recorded) have their footers read
        driver-side here instead.

        Stats and bounds share one order-preserving string encoding
        (sources/parquet_meta.py): strings as stored, timestamps as
        fixed-width UTC ISO-8601 with microseconds. Bounds are read the
        way Spark reads ``F.lit(bound)`` — a tz-aware ``datetime`` by
        its UTC instant, a naive one in local time, a ``str`` on a
        timestamp column in the session time zone. Keep-if-unknown: a
        file without stats for ``column`` (every file, for ``value``
        and the partition columns) is always read, and a bound with no
        known encoding prunes nothing. Results are EXACTLY ``raw()``
        filtered to the range (pinned by test_zorder).

        When the stats prune no file, the scan is ``raw().filter(pred)``
        over the head relation ``raw()`` keeps (built once per head
        version), so the call builds no new file relation."""
        pred = F.col(column).between(F.lit(lo), F.lit(hi))
        head = self.commits.current_version()
        if not head:
            return self.raw().filter(pred)
        stats = self.commits.snapshot_stats(head)
        keep = list(stats)
        tz = self.spark.conf.get("spark.sql.session.timeZone")
        lo_s, hi_s = encode_bound(column, lo, tz), encode_bound(column, hi, tz)
        if lo_s is not None and hi_s is not None:
            stats |= self._footer_stats([f for f in keep if stats[f] is None])
            keep = [f for f in keep if _overlaps(stats[f], column, lo_s, hi_s)]
        if not keep:
            return self.spark.createDataFrame([], STATEMENT_SCHEMA).filter(pred)
        if len(keep) == len(stats):
            return self.raw().filter(pred)
        data = self._data_path()
        return self._read_files([self._fs.join(data, f) for f in keep]).filter(pred)

    def vacuum(self, retention_hours: float = 168.0) -> list[str]:
        """Reap physical garbage older than the retention window:

        * files retired by a rewrite commit (kept until then so
          ``raw(as_of=...)`` time travel stays readable — Delta VACUUM
          semantics);
        * data files no commit ever tracked (a crashed append moved
          them in but never published) — age-gated by mtime so an
          in-flight writer from ANOTHER driver is never raced;
        * orphaned ``_stage-*`` directories (crash between stage write
          and move), same age gate;
        * partition directories left empty by the above.

        Returns the relative names removed. ``retention_hours=0``
        reaps everything immediately — only safe when no other writer
        or time-travel reader is active, exactly Delta's caveat."""
        removed: list[str] = []
        fs = self._fs
        cutoff_ts = datetime.now(timezone.utc) - timedelta(hours=retention_hours)
        cutoff_epoch = time.time() - retention_hours * 3600.0
        with self._maint_lock:
            for name in fs.listdir(self.path):
                if name.startswith("_stage-"):
                    p = fs.join(self.path, name)
                    if fs.mtime(p) <= cutoff_epoch:
                        fs.delete(p)
                        removed.append(name)
            data = self._data_path()
            if self.commits.current_version():
                live = set(self.commits.snapshot())
                # ONE data-dir walk feeds both sweeps (the retired
                # check was a per-file exists() — a HEAD per candidate
                # on object stores; membership in the walk is the same
                # answer, and the untracked sweep needed the walk
                # anyway). Retired files are in tracked_files() by
                # construction, so listing before deleting cannot
                # double-count them into the orphan sweep.
                present = fs.parquet_files(data)
                retired = sorted(
                    (self.commits.removed_before(cutoff_ts) - live) & present
                )
                self._delete_data_files(data, retired)
                removed.extend(retired)
                tracked = self.commits.tracked_files()
                orphans = [
                    f
                    for f in sorted(present - tracked - live)
                    if fs.mtime(fs.join(data, f)) <= cutoff_epoch
                ]
                self._delete_data_files(data, orphans)
                removed.extend(orphans)
                if getattr(fs, "has_directories", True):
                    # object stores have no empty dirs to reap — skip
                    # the per-partition listing walk entirely
                    self._reap_empty_dirs(data)
                # log cleanup AFTER file reaping: any file a cleaned
                # record removed was just vacuumed while the record
                # still existed (the ordering the protocol relies on)
                removed.extend(self.commits.cleanup(cutoff_ts))
        return removed

    def restore(self, version: int) -> dict:
        """Delta-style ``RESTORE``: roll the table's LIVE state back
        (or forward) to its snapshot at commit ``version`` with one
        metadata-only commit — the engine's portable analog of the
        reference's ZFS snapshot rollback (core/zfs.py + the zfs-agent
        transport), expressed against the MVCC commit log instead of
        the host filesystem, so it works identically on ``file://``,
        ``s3a://`` and ``gs://`` and needs no host privileges.

        Per touched partition the commit is a full-content swap
        (files_added = ALL target-version files of the partition,
        files_removed = its current-only files), which keeps every
        incremental consumer exact: ``files_since``/``raw_since`` see
        the full restored partition content (their rewrite contract),
        and the restore itself is time-travelable — ``raw(as_of=
        pre_restore_head)`` still reads the undone state until vacuum
        ages it out. Restored partitions are marked DIRTY
        (``CommitLog._fold``), because the snapshot being restored
        may predate its own canonicalization; a later merge simply
        re-folds them. Raises ``LogTruncated`` when ``version``
        predates log cleanup, and a loud ``RuntimeError`` when the
        target snapshot's files were already vacuumed — restorability
        is bounded by the retention window, exactly like Delta."""
        with self._maint_lock:
            head = self.commits.current_version()
            if version < 1 or version > head:
                raise ValueError(
                    f"restore target {version} outside committed range 1..{head}"
                )
            target_stats = self.commits.snapshot_stats(version)
            target = set(target_stats)
            current = set(self.commits.snapshot(head))
            if target == current:
                return {"restored": False, "version": head}
            touched = sorted({_partition_of(f) for f in target ^ current})
            touched_set = set(touched)
            adds = sorted(f for f in target if _partition_of(f) in touched_set)
            drops = sorted(current - target)
            data = self._data_path()
            missing = [
                f
                for f in adds
                if f not in current and not self._fs.exists(self._fs.join(data, f))
            ]
            if missing:
                raise RuntimeError(
                    f"cannot restore to version {version}: {len(missing)} "
                    f"file(s) of that snapshot were already vacuumed "
                    f"(e.g. {missing[0]}); restore reach is bounded by the "
                    "vacuum retention window"
                )
            new_version = self.commits.commit(
                "restore",
                [list(p) for p in touched],
                adds,
                drops,
                read_version=head,
                stats=target_stats,
            )
            self.tags.touch("last_updated")
            return {
                "restored": True,
                "version": new_version,
                "from_version": version,
                "partitions": len(touched),
                "files_added": len(adds),
                "files_removed": len(drops),
            }

    def _delete_data_files(self, data: str, rels: list[str]) -> None:
        """Delete data files by relative name — batched on stores that
        support it (S3 DeleteObjects: 2 requests per 1000 files instead
        of 2 per file), per-file otherwise."""
        if not rels:
            return
        fs = self._fs
        if hasattr(fs, "delete_many"):
            fs.delete_many([fs.join(data, f) for f in rels])
        else:
            for f in rels:
                fs.delete(fs.join(data, f))

    def _reap_empty_dirs(self, data: str) -> None:
        """Remove partition directories holding no files at all (fully
        reaped partitions after vacuum) — cosmetic on MVCC reads, but
        keeps directory listings honest for outside observers."""
        fs = self._fs
        for name in fs.listdir(data):
            if not name.startswith("shard="):
                continue
            self._reap_empty_tree(fs.join(data, name))

    def _reap_empty_tree(self, path: str) -> bool:
        fs = self._fs
        if not fs.isdir(path):
            return False
        entries = fs.listdir(path)
        all_gone = True
        for e in entries:
            child = fs.join(path, e)
            if fs.isdir(child):
                if not self._reap_empty_tree(child):
                    all_gone = False
            else:
                all_gone = False
        if all_gone:
            fs.delete(path)
        return all_gone

    def canonical_since(self, version: int) -> DataFrame:
        """Canonical state of every entity touched after commit
        ``version`` — the file-level twin of ``canonical_changed``:
        changed ids come from ``raw_since`` (O(new data)), then the
        merge stack runs over a changed-id-scoped view of raw rows.

        A ``restore`` in the span can DELETE entities outright (roll an
        append back, possibly emptying a partition) — an upsert feed of
        canonical rows cannot carry that signal, so a consumer holding
        a cursor across a restore must ALSO apply
        :meth:`deleted_since`'s ids as deletions (ordinary deletes are
        tombstone rows and flow through here normally)."""
        changed = self.raw_since(version).select("entity_id").distinct()
        scoped = self.raw().join(F.broadcast(changed), "entity_id", "left_semi")
        return canonicalize(scoped)

    def deleted_since(self, version: int) -> DataFrame:
        """Entity ids a ``restore`` after commit ``version`` removed
        from the table and that are still absent at head — the deletion
        side of the incremental contract (``raw_since`` /
        ``canonical_since`` are additive and cannot express a restore
        rolling previously-delivered rows out). Ordinary deletes are
        tombstone ROWS (they flow through ``raw_since``); only restore
        creates row-less disappearance, so the scan here is scoped to
        restore-touched partitions: pre-restore ids come from each
        restore's ``read_version`` snapshot files (still on disk —
        restore reach and this answer share the vacuum retention
        bound), current ids from a pruned scan at head. Emitting an id
        the consumer never saw (added after the cursor, then rolled
        back) is a harmless no-op delete; a real deletion is never
        missed. Raises ``RuntimeError`` when the pre-restore files were
        already vacuumed — the cursor must be reset (full resync), the
        same loud bound ``restore`` itself enforces."""
        from ftm_lakehouse_spark.sources.commits import LogTruncated

        empty = self.spark.createDataFrame([], "entity_id string")
        try:
            recs = [r for r in self.commits.read(version) if r["kind"] == "restore"]
        except FileNotFoundError:  # pragma: no cover - racing log cleanup
            recs = []
        if version + 1 < self.commits.oldest_version():
            raise LogTruncated(
                f"cursor {version} predates log cleanup; deletions are no "
                "longer reconstructible — reset the cursor (full resync)"
            )
        if not recs:
            return empty
        touched = sorted({tuple(p) for r in recs for p in r["partitions"]})
        touched_set = set(touched)
        data = self._data_path()
        pre_files: set[str] = set()
        for r in recs:
            for f in self.commits.snapshot(r["read_version"]):
                if _partition_of(f) in touched_set:
                    pre_files.add(f)
        missing = [
            f for f in sorted(pre_files) if not self._fs.exists(self._fs.join(data, f))
        ]
        if missing:
            raise RuntimeError(
                f"cannot compute deletions across restore: {len(missing)} "
                f"pre-restore file(s) were already vacuumed (e.g. "
                f"{missing[0]}); reset the cursor (full resync)"
            )
        if not pre_files:
            return empty
        pre_ids = (
            self._read_files([self._fs.join(data, f) for f in sorted(pre_files)])
            .select("entity_id")
            .distinct()
        )
        pred = None
        for s, b, o in touched:
            clause = (
                (F.col("shard") == s) & (F.col("bucket") == b) & (F.col("origin") == o)
            )
            pred = clause if pred is None else (pred | clause)
        cur_ids = self.raw().filter(pred).select("entity_id").distinct()
        return pre_ids.join(cur_ids, "entity_id", "left_anti")

    # --------------------------------------------------------- queries
    def count_entities(self) -> int:
        return self.live().select("entity_id").distinct().count()

    def stats(self) -> dict:
        """DatasetStats shape (reference storage/parquet.py:294-304):
        entity_count + per-schema facets, one aggregation pass."""
        rows = (
            self.live()
            .groupBy("schema")
            .agg(F.countDistinct("entity_id").alias("n"))
            .collect()
        )
        schemata = {r["schema"]: r["n"] for r in rows}
        return {
            "name": self.config.name,
            "entity_count": self.count_entities(),
            "things": {"schemata": schemata, "total": sum(schemata.values())},
        }

    def raw_since(self, version: int) -> DataFrame:
        """Physical rows written after commit ``version`` — the
        file-level incremental read behind the version cursor
        (reference diff.py:62-83 asks Delta the same question). Files
        added after the cursor and still live are read DIRECTLY (no
        scan of the table) — appends file-exactly, rewrites as the full
        canonical content of their partitions (a superset of the
        changes, the standard change-feed contract). Legacy rewrite
        records without file lists and partitions touched by a
        ``restore`` in the span fall back to a partition-pruned scan
        of CURRENT content (restore can roll previously-seen rows out,
        which additive file lists cannot express; entity-level
        deletions it causes are surfaced by :meth:`deleted_since`).
        An incremental consumer therefore reads O(new data), not
        O(table). A cursor that predates log cleanup cannot be
        answered incrementally — the read degrades to the full table
        (the caller sees a superset, the safe direction)."""
        from ftm_lakehouse_spark.sources.commits import LogTruncated

        try:
            files, rescan_partitions = self.commits.files_since(version)
        except LogTruncated:
            return self.raw()
        data = self._data_path()
        parts = []
        if files:
            parts.append(self._read_files([self._fs.join(data, f) for f in files]))
        if rescan_partitions:
            pred = None
            for s, b, o in sorted(rescan_partitions):
                clause = (
                    (F.col("shard") == s) & (F.col("bucket") == b) & (F.col("origin") == o)
                )
                pred = clause if pred is None else (pred | clause)
            parts.append(self.raw().filter(pred))
        if not parts:
            return self.spark.createDataFrame([], STATEMENT_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def changed_entity_ids(self, since: datetime) -> DataFrame:
        """Entities changed since ``since``: first observed or deleted
        after the cursor (reference I2, storage/parquet.py:766-805)."""
        raw = self.raw()
        return (
            raw.filter(
                (F.col("first_seen") >= F.lit(since))
                | (F.col("deleted_at") >= F.lit(since))
            )
            .select("entity_id")
            .distinct()
        )

    def canonical_changed(self, since: datetime) -> DataFrame:
        """Canonical state of changed entities WITHOUT requiring a merge
        first — the merge window stack applied as a view over raw rows,
        scoped by a changed-id semi-join (reference I3,
        logic/parquet.py:195-231; SURVEY §7.4 hard-part 6)."""
        changed = self.changed_entity_ids(since)
        scoped = self.raw().join(F.broadcast(changed), "entity_id", "left_semi")
        return canonicalize(scoped)
