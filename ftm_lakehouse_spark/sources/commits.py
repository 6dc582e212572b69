"""CommitLog: an optimistic-concurrency transaction log for the
statement store — Delta's core protocol reimplemented on plain
partitioned parquet.

The reference gets cross-driver write concurrency, snapshot reads and
time travel from delta-rs (reference storage/parquet.py:326-475
optimistic commits; repository/diff.py:62-83 ``{TS}:{delta_version}``
cursors). delta-spark jars are not in this image, so this module
provides the same contract from first principles:

  * **Versioned commits, put-if-absent.** A write job prepares its
    record, then atomically creates ``{version}.json`` — exactly one
    of N concurrent writers wins a version; losers re-read the head
    and retry. No locks, no coordinator: correctness comes from the
    filesystem's atomic create (``os.link`` locally, Hadoop
    rename-without-overwrite on HDFS; S3 caveat documented in fs.py).
  * **MVCC file snapshots.** Every commit records the exact data
    files it ``files_added`` / ``files_removed``. The live table at
    version V is the replay of records 1..V — readers resolve a file
    LIST from the log instead of listing directories, so a rewrite
    can land new files and retire old ones without readers ever
    observing a half-swapped partition.
  * **Blind appends never conflict** (two appends commute — both
    retry version allocation and both land). A **rewrite** (merge /
    compact) conflicts only with a rewrite that already retired one
    of the files it wants to remove — detected at commit time by a
    liveness check and surfaced as :class:`CommitConflict` for the
    caller to retry on a fresh snapshot. An append racing a rewrite
    is safe by construction: its files are not in the rewrite's
    removal set, so they survive the rewrite and the partition simply
    stays dirty (``read_version`` on the rewrite record is what the
    dirty check compares against).
  * **Per-file statistics.** A record's ``stats`` maps each added
    file to its footer stats (rows, bytes, null counts, min/max — see
    sources/parquet_meta.py), so file skipping is a log lookup
    (:meth:`CommitLog.snapshot_stats`), Delta's ``add.stats``.
  * **One state, checkpointed.** Snapshots, stats, txn watermarks
    and dirty partitions all read one replayed protocol state
    (:meth:`CommitLog._state`); every ``CHECKPOINT_INTERVAL`` commits
    that state is written down as ``checkpoint-{version}.json``, so a
    replay reads O(interval) records, not O(history). A log object
    keeps its newest state and folds only later records onto it.
  * **Time travel.** ``snapshot(version=N)`` resolves the table as of
    commit N for as long as retired files remain un-vacuumed
    (StatementStore.vacuum applies the retention).
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
import uuid
from datetime import datetime, timezone

#: jitter source for commit-retry backoff. SystemRandom, NOT the global
#: Mersenne Twister (round-12 ADVICE): fork-started Spark/Python
#: workers inherit the parent's PRNG state, so racing forked writers
#: would draw IDENTICAL jitter sequences — synchronized retries are
#: exactly the herd the full-jitter backoff exists to break up.
_JITTER = random.SystemRandom()

__all__ = [
    "CommitLog",
    "CommitConflict",
    "LogTruncated",
    "LockClient",
    "FileLockClient",
    "CHECKPOINT_INTERVAL",
]

#: fold a checkpoint every N commits (Delta uses 10)
CHECKPOINT_INTERVAL = 20

#: version-allocation retries before giving up (every retry means some
#: OTHER writer committed, so 64 lost races implies pathological
#: contention worth surfacing, not spinning through)
MAX_COMMIT_ATTEMPTS = 64


def _partition_of(rel_file: str) -> tuple[str, ...]:
    """``shard=0/bucket=a/origin=x/part-...parquet`` → ``(0, a, x)``:
    the partition values of a data-dir-relative file name."""
    return tuple(
        seg.split("=", 1)[1] for seg in rel_file.split("/")[:-1] if "=" in seg
    )


class CommitConflict(RuntimeError):
    """A concurrent writer invalidated this commit (lost file liveness
    or version-allocation contention). Re-read the table and retry."""


class LogTruncated(RuntimeError):
    """The requested version range predates log cleanup — an exact
    incremental answer is impossible; the caller falls back to a full
    read (the same contract Delta gives a change-feed reader asking
    for a vacuumed-away version)."""


class LockClient:
    """External mutual exclusion for stores whose put-if-absent is not
    atomic — the delta-rs S3 "lock client" contract (their DynamoDB
    implementation): hold the lock across check-exists + write so two
    drivers can never both publish the same version. Implementations:
    a DynamoDB/ZooKeeper/etcd client on a real deployment;
    :class:`FileLockClient` wherever SOME filesystem with atomic create
    is reachable. Modern S3 offers conditional writes (If-None-Match),
    which make the native put-if-absent atomic again — prefer that
    where the SDK supports it and skip the lock entirely."""

    def acquire(self, key: str) -> str:
        """Block until the lock for ``key`` is held; returns a token
        that must be passed to :meth:`release`."""
        raise NotImplementedError

    def release(self, key: str, token: str) -> None:
        raise NotImplementedError


class FileLockClient(LockClient):
    """Lock via an exclusive ``.lock`` file with a TTL lease — correct
    on any filesystem whose exclusive create is atomic (the local/HDFS
    case; NOT raw S3, where this class is only useful pointed at a
    different, atomic store than the data). Expired leases are broken,
    so a crashed holder stalls writers for at most ``ttl_seconds``."""

    def __init__(self, fs, ttl_seconds: float = 300.0, poll_seconds: float = 0.05):
        self._fs = fs
        self.ttl = ttl_seconds
        self.poll = poll_seconds

    def _lock_path(self, key: str) -> str:
        return key.rstrip("/") + ".lock"

    def acquire(self, key: str) -> str:
        path = self._lock_path(key)
        token = f"{os.getpid()}-{uuid.uuid4().hex}"
        deadline = time.monotonic() + self.ttl * 2
        while time.monotonic() < deadline:
            payload = json.dumps({"token": token, "expires": time.time() + self.ttl})
            if self._fs.write_text_exclusive(path, payload):
                return token
            try:
                held = json.loads(self._fs.read_text(path))
                if float(held.get("expires", 0)) < time.time():
                    self._break_lease(path, held)
                    continue
            except (FileNotFoundError, ValueError):
                continue  # holder released between our attempt and read
            time.sleep(self.poll)
        raise CommitConflict(f"could not acquire commit lock {path}")

    def _break_lease(self, path: str, saw: dict) -> None:
        """Break an expired lease ATOMICALLY: claim the lock file by
        renaming it to a breaker-unique name, verify the claimed bytes
        are still the expired lease we observed, then delete. An
        unconditional ``delete(path)`` here would race: waiter A breaks
        and re-creates a VALID lock, then waiter B's queued delete
        removes A's live lock — two holders. Rename is atomic on every
        store this class supports, so exactly one breaker claims the
        file; a breaker that claims a LIVE lock (created inside its
        read→rename window) restores it via exclusive create. The
        residual nested-race window is why the commit path ALSO fences
        with a read-back (CommitLog._publish) — the lock provides
        liveness, the fence provides safety."""
        wreck = f"{path}.wreck-{uuid.uuid4().hex}"
        try:
            self._fs.rename(path, wreck)
        except Exception:
            return  # another breaker (or a release) got there first
        try:
            claimed = json.loads(self._fs.read_text(wreck))
        except (FileNotFoundError, ValueError):
            claimed = None
        if (
            claimed is not None
            and claimed.get("token") != saw.get("token")
            and float(claimed.get("expires", 0)) >= time.time()
        ):
            # we claimed a live lock, not the expired one we saw —
            # put it back (exclusive create: never clobber a newer one)
            self._fs.write_text_exclusive(path, json.dumps(claimed))
        self._fs.delete(wreck)

    def release(self, key: str, token: str) -> None:
        path = self._lock_path(key)
        try:
            held = json.loads(self._fs.read_text(path))
        except (FileNotFoundError, ValueError):
            return
        if held.get("token") == token:
            self._fs.delete(path)


class CommitLog:
    def __init__(self, fs, root: str, lock_client: LockClient | None = None):
        self._fs = fs
        self.root = root
        self._lock = lock_client
        #: per-writer nonce embedded in every record — makes a commit
        #: payload unique so the non-atomic-store read-back fence can
        #: tell WHOSE bytes actually landed
        self._writer = f"{os.getpid()}-{uuid.uuid4().hex[:12]}"
        #: the newest protocol state replayed (:meth:`_state`).
        #: Published records never change, so a later state folds only
        #: the records after it instead of re-reading every record since
        #: the checkpoint (which, carrying per-file stats, are tens of
        #: KB each). Replaced, never mutated.
        self._newest: dict | None = None
        self._newest_lock = threading.Lock()

    def _publish(self, version: int, payload: str) -> bool:
        """Put-if-absent of one record — the pluggable atomicity seam.

        Strategy, in order of preference:

        1. **Lock client** (when configured): hold the external lock
           across exists-check + plain write — correct on ANY store.
        2. **Native atomic create** (``fs.atomic_put_if_absent``):
           os.link locally, rename-without-overwrite on HDFS —
           exactly one racer wins, nothing else needed.
        3. **Non-atomic store, no lock** (S3A copy-rename without
           conditional writes): single-writer deployments are fine; a
           SECOND writer is a broken deployment assumption, so fence
           as loudly as possible — exists-check first (catches the
           common late racer), then read back after writing: foreign
           bytes under our version file mean a concurrent writer
           overwrote us, surfaced as :class:`CommitConflict` instead
           of silent last-writer-wins. The check-write-read window is
           small but real — that residue is precisely why delta-rs
           mandates a lock client (or S3 conditional writes) there.
        """
        path = self._path(version)
        if self._lock is not None:
            token = self._lock.acquire(self.root)
            try:
                if self._fs.exists(path):
                    return False  # lost the version race cleanly
                if getattr(self._fs, "atomic_put_if_absent", True):
                    # belt and braces: the lock provides liveness
                    # (ordering, no wasted version races), but when the
                    # STORE also has an atomic create, let IT provide
                    # safety — a faulty lock service (duplicate grant,
                    # lease revoked mid-commit) then cannot tear the
                    # log: exactly one racer's link/rename lands, the
                    # other cleanly loses (tests/test_commit_locking
                    # ChaosLockClient storm)
                    return self._fs.write_text_exclusive(path, payload)
                self._fs.write_text_atomic(path, payload)
                # read-back fence INSIDE the lock too: the lock can be
                # operator-broken (Dataset.unlock) or lease-expired
                # mid-publish, in which case another writer may publish
                # this version concurrently — foreign bytes under our
                # path mean exactly that, surfaced instead of silently
                # clobbered (the docstring's "commits re-validate"
                # contract; same residue analysis as strategy 3)
                if self._fs.read_text(path) != payload:
                    raise CommitConflict(
                        f"commit {version} was overwritten by a concurrent "
                        "writer while this writer held (or believed it "
                        "held) the commit lock — the lock was broken or "
                        "its lease expired mid-publish"
                    )
                return True
            finally:
                self._lock.release(self.root, token)
        if getattr(self._fs, "atomic_put_if_absent", True):
            return self._fs.write_text_exclusive(path, payload)
        if self._fs.exists(path):
            return False
        won = self._fs.write_text_exclusive(path, payload)
        if won and self._fs.read_text(path) != payload:
            raise CommitConflict(
                f"non-atomic store: a concurrent writer overwrote commit "
                f"{version} after this writer published it — this store "
                "cannot host multiple log writers without a lock client "
                "(or conditional-write support); see CommitLog.LockClient"
            )
        return won

    def _path(self, version: int) -> str:
        return self._fs.join(self.root, f"{version:012d}.json")

    def _checkpoint_path(self, version: int) -> str:
        return self._fs.join(self.root, f"checkpoint-{version:012d}.json")

    def _versions(self) -> list[int]:
        return sorted(
            int(n[:-5])
            for n in self._fs.listdir(self.root)
            if n.endswith(".json") and not n.startswith("checkpoint-")
        )

    def current_version(self) -> int:
        """Latest committed version; 0 = empty log."""
        return max(self._versions(), default=0)

    # ------------------------------------------------------------ write
    def commit(
        self,
        kind: str,
        partitions: list[tuple[str, ...]],
        files_added: list[str] | None = None,
        files_removed: list[str] | None = None,
        read_version: int | None = None,
        txn: tuple[str, int] | None = None,
        stats: dict[str, dict | None] | None = None,
        canonical: bool = True,
    ) -> int | None:
        """Atomically publish one write job; returns the version won.

        ``files_added`` / ``files_removed`` are data-dir-relative.
        ``stats`` maps added files to their footer stats
        (``parquet_meta.file_stats``); files without an entry (or with
        None) carry no stats and are never pruned.
        ``read_version`` (rewrites): the snapshot version the rewrite
        was computed from — the dirty check compares append versions
        against it. Raises :class:`CommitConflict` if a concurrent
        rewrite already retired any of ``files_removed``.
        ``canonical=False`` marks a rewrite that copies rows without
        canonicalizing them (compaction): it does not clear its
        partitions' dirty marks.

        ``txn`` = (app_id, txn_version): idempotent-writer fencing,
        Delta's ``txnAppId``/``txnVersion`` contract. If a commit from
        the same ``app_id`` with an equal-or-higher ``txn_version`` is
        already in the log, this commit is a REPLAY (a restarted
        streaming micro-batch re-running its foreachBatch) — nothing
        is published and None is returned, which is what turns an
        at-least-once sink into an exactly-once one."""
        removed = sorted(files_removed or [])
        record = {
            "version": 0,
            "kind": kind,
            "ts": datetime.now(timezone.utc).isoformat(),
            "writer": self._writer,
            "partitions": [list(p) for p in partitions],
            "files_added": sorted(files_added or []),
            "files_removed": removed,
        }
        if read_version is not None:
            record["read_version"] = read_version
        if txn is not None:
            record["txn"] = [txn[0], int(txn[1])]
        if not canonical:
            record["canonical"] = False
        stats = {f: stats[f] for f in record["files_added"] if (stats or {}).get(f)}
        if stats:
            record["stats"] = stats
        for _a in range(MAX_COMMIT_ATTEMPTS):
            head = self.current_version()
            if txn is not None and self.txn_version(txn[0], head) >= int(txn[1]):
                return None  # replayed batch — already committed
            if removed:
                live = set(self.snapshot(head))
                gone = [f for f in removed if f not in live]
                if gone:
                    raise CommitConflict(
                        f"{len(gone)} file(s) already retired by a concurrent "
                        f"rewrite (e.g. {gone[0]}); recompute from a fresh snapshot"
                    )
            version = head + 1
            record["version"] = version
            if self._publish(version, json.dumps(record)):
                if version % CHECKPOINT_INTERVAL == 0:
                    self._write_checkpoint(version)
                return version
            # Lost the race — another writer owns this version. Retry
            # after a jittered backoff that grows with consecutive
            # losses: with N writers fanning in, immediate retries make
            # every loser re-list the log per competitor commit (O(N²)
            # listings — each a paginated LIST on object stores) and
            # keep all N racing for the same next version. Full jitter
            # (AWS's recommended strategy) de-synchronizes the herd;
            # the cap keeps worst-case commit latency bounded. First
            # loss retries near-immediately, so the common 2-writer
            # case pays ~nothing; the FINAL lost attempt skips the
            # sleep — no retry follows, so it would only delay the
            # CommitConflict.
            if _a < MAX_COMMIT_ATTEMPTS - 1:
                time.sleep(
                    _JITTER.random() * min(0.025 * (1 << min(_a, 5)), 0.8)
                )
        raise CommitConflict("version allocation contention: too many lost races")

    def txn_version(self, app_id: str, until: int | None = None) -> int:
        """Highest ``txn_version`` committed by ``app_id`` (-1 if
        none) — the idempotence watermark for exactly-once sinks.
        Watermarks fold into checkpoints, so the answer survives log
        cleanup."""
        return int(self._state(until)["txns"].get(app_id, -1))

    def _write_checkpoint(self, version: int) -> None:
        """Write the protocol state at ``version`` (:meth:`_state`) down
        as one file, so replay (and therefore correctness) never needs
        records older than the newest checkpoint, which is what makes
        log cleanup safe. ``stats`` sits next to ``files`` (live files
        only), so a reader that knows only ``files`` is unaffected.
        Content is a pure function of the log prefix, so overwrite is
        idempotent; best-effort — a missed checkpoint only means a
        longer replay."""
        state = self._state(version)
        try:
            self._fs.write_text_atomic(
                self._checkpoint_path(version),
                json.dumps(dict(state, files=sorted(state["files"]))),
            )
        except OSError:  # pragma: no cover - checkpoint is an optimization
            pass

    @staticmethod
    def _fold(rec: dict, state: dict) -> None:
        """Replay one record onto a protocol state: live files and their
        stats (add, then discard), the txn watermark, and the dirty
        maps."""
        files, stats = state["files"], state["stats"]
        files.update(rec["files_added"])
        stats.update(rec.get("stats", {}))
        for f in rec.get("files_removed", ()):
            files.discard(f)
            stats.pop(f, None)
        t = rec.get("txn")
        if t:
            state["txns"][t[0]] = max(int(state["txns"].get(t[0], -1)), int(t[1]))
        # only a canonicalizing rewrite (merge) clears dirtiness; a
        # compaction (``canonical: false``) copies rows as they are, so
        # a delete or append it swept up still needs its merge. A
        # restored snapshot may predate its own canonicalization, so
        # restore re-dirties every partition it touches (never the
        # reverse: restore must not CLEAR dirtiness like a rewrite)
        kind, marks = rec["kind"], None
        if kind == "rewrite" and rec.get("canonical", True):
            marks, at = state["cleared_at"], rec.get("read_version", rec["version"])
        elif kind == "restore" or (
            kind in ("append", "bootstrap") and rec["files_added"]
        ):
            marks, at = state["appended_at"], rec["version"]
        if marks is not None:
            for p in rec["partitions"]:
                key = "/".join(p)
                marks[key] = max(marks.get(key, 0), at)
        state["version"] = rec["version"]

    def oldest_version(self) -> int:
        """Lowest commit record still present (1 if never cleaned)."""
        return min(self._versions(), default=1)

    def cleanup(self, cutoff: "datetime") -> list[str]:
        """Delete commit records that are (a) at or below the newest
        checkpoint — its folded state fully replaces them — and
        (b) older than ``cutoff``. Also drops all but the two newest
        checkpoints. Bounds log growth for long-lived tables (Delta's
        log-retention cleanup); exact ``files_since`` answers remain
        available for any cursor inside the retention window.

        Only a contiguous PREFIX is ever deleted: iteration stops at
        the first record it keeps, so cross-driver clock skew on
        record timestamps can delay cleanup but can never punch an
        interior hole in the version sequence (``read``/``snapshot``
        guard truncation solely via ``oldest_version``, so interior
        holes would be silently skipped, not detected)."""
        removed: list[str] = []
        listing = self._fs.listdir(self.root)
        # Reap stale conditional-write probe sentinels (round-12
        # ADVICE: S3FS._verify_conditional_put's cleanup is
        # best-effort; under write-only credentials every process
        # leaves a .cond-probe-* object in this prefix, and nothing
        # else ever deletes them). Cleanup already holds the listing —
        # and the sweep runs even when no checkpoint exists yet. The
        # cutoff guard keeps a concurrently in-flight probe
        # (milliseconds old) safe from deletion between its two PUTs.
        for name in listing:
            if not name.startswith(".cond-probe-"):
                continue
            p = self._fs.join(self.root, name)
            try:
                if datetime.fromtimestamp(
                    self._fs.mtime(p), tz=timezone.utc
                ) < cutoff:
                    self._fs.delete(p)
                    removed.append(name)
            except OSError:
                pass  # raced with its own best-effort cleanup
        cps = self._checkpoints(listing)
        if not cps:
            return removed
        horizon = cps[-1]
        for v in self._versions():
            if v > horizon:
                break
            rec = json.loads(self._fs.read_text(self._path(v)))
            if datetime.fromisoformat(rec["ts"]) >= cutoff:
                break
            self._fs.delete(self._path(v))
            removed.append(f"{v:012d}.json")
        for v in cps[:-2]:
            self._fs.delete(self._checkpoint_path(v))
            removed.append(f"checkpoint-{v:012d}.json")
        return removed

    # ------------------------------------------------------------- read
    def read(self, since: int = 0, until: int | None = None) -> list[dict]:
        """Commit records with ``since < version <= until``, ascending."""
        out = []
        for v in self._versions():
            if v > since and (until is None or v <= until):
                out.append(json.loads(self._fs.read_text(self._path(v))))
        return sorted(out, key=lambda r: r["version"])

    def _checkpoints(self, listing: list[str] | None = None) -> list[int]:
        return sorted(
            int(n[len("checkpoint-") : -5])
            for n in (self._fs.listdir(self.root) if listing is None else listing)
            if n.startswith("checkpoint-") and n.endswith(".json")
        )

    def _checkpoint_state(self, at_or_before: int) -> dict | None:
        for v in reversed(self._checkpoints()):
            if v <= at_or_before:
                return json.loads(self._fs.read_text(self._checkpoint_path(v)))
        return None

    @staticmethod
    def _thaw(cp: dict) -> dict:
        # a private, mutable copy of a state or a checkpoint; checkpoints
        # written before stats/txns/dirty maps existed load them empty
        maps = ("stats", "txns", "cleared_at", "appended_at")
        return {"version": cp["version"], "files": set(cp["files"]),
                **{k: dict(cp.get(k, {})) for k in maps}}

    def _state(self, version: int | None = None) -> dict:
        """The protocol state at ``version`` (default: head), the shape
        a checkpoint stores: ``{version, files (set), stats, txns,
        cleared_at, appended_at}``. Every log answer reads it; callers
        must not mutate it (it may be the cached newest state).

        Replays from the cached newest state when it is not past the
        target, else from the nearest checkpoint at or before it: cost
        is O(CHECKPOINT_INTERVAL) record reads. ``version`` is the last
        record folded, so a target past the head is never remembered
        as that unwritten version. Raises :class:`LogTruncated` when
        log cleanup removed records the replay needs."""
        head = self.current_version() if version is None else version
        newest = self._newest
        if newest is not None and newest["version"] == head:
            return newest
        if (
            newest is not None
            and newest["version"] < head
            and newest["version"] + 1 >= self.oldest_version()
        ):
            state = self._thaw(newest)
        else:
            state = self._thaw(self._checkpoint_state(head) or {"version": 0, "files": ()})
            base = state["version"]
            if head > base and base + 1 < self.oldest_version():
                raise LogTruncated(
                    f"records ({base}, {head}] predate log cleanup; "
                    "this version is no longer reconstructible"
                )
        for rec in self.read(since=state["version"], until=head):
            self._fold(rec, state)
        with self._newest_lock:
            if self._newest is None or state["version"] > self._newest["version"]:
                self._newest = state
        return state

    def snapshot(self, version: int | None = None) -> list[str]:
        """Live data files at ``version`` (default: head) — the MVCC
        read set. Raises :class:`LogTruncated` for a version whose
        records log cleanup has removed (time travel expires with the
        retention window, exactly like Delta after VACUUM + log
        cleanup)."""
        return sorted(self._state(version)["files"])

    def snapshot_stats(self, version: int | None = None) -> dict[str, dict | None]:
        """``{file: stats}`` for every live file at ``version`` — the
        keys are exactly :meth:`snapshot`. None marks a file whose add
        carried no stats (a bootstrap adoption, or a log written before
        stats were recorded)."""
        state = self._state(version)
        return {f: state["stats"].get(f) for f in sorted(state["files"])}

    def files_since(self, since: int) -> tuple[list[str], set[tuple[str, ...]]]:
        """Incremental read set after commit ``since``:

        * files added after ``since`` and still live at head — covers
          appends file-exactly AND rewrites (a rewrite's output is the
          full canonical content of its partitions, a superset of the
          changes, which is the contract an incremental consumer gets
          from any table format's change feed). Liveness is decided by
          ORDERED replay (add, then discard, per record — the same
          algebra as :meth:`snapshot`), never by pooling all removals:
          ``restore`` re-adds files an intermediate rewrite/restore
          removed, and a pooled removal set would silently drop those
          live files for any cursor spanning rewrite→restore;
        * partitions the caller must RE-SCAN at head instead of reading
          file-exactly: legacy rewrite records that carry no
          ``files_added`` (pre-MVCC logs), and every partition touched
          by a ``restore`` — restore is the one commit kind that can
          roll rows a cursor-holding consumer already saw OUT of the
          table (possibly to an EMPTY partition), which an additive
          file list cannot express; a pruned re-read of the partition's
          current content can. Entity-level deletions a restore causes
          are surfaced separately by ``StatementStore.deleted_since``.
        """
        if since + 1 < self.oldest_version():
            raise LogTruncated(
                f"cursor {since} predates log cleanup (oldest record: "
                f"{self.oldest_version()}); do a full read instead"
            )
        commits = self.read(since)
        rescan: set[tuple[str, ...]] = set()
        live: dict[str, None] = {}  # insertion-ordered live set of post-cursor adds
        for c in commits:
            if c["kind"] == "rewrite" and not c["files_added"]:
                rescan.update(tuple(p) for p in c["partitions"])
            elif c["kind"] == "restore":
                rescan.update(tuple(p) for p in c["partitions"])
            for f in c["files_added"]:
                live[f] = None
            for f in c.get("files_removed", ()):
                live.pop(f, None)
        files = [f for f in live if _partition_of(f) not in rescan]
        return files, rescan

    def dirty_partitions(self) -> list[tuple[str, ...]]:
        """Partitions with appended files newer than the last rewrite
        that covered them — derived from the log, so the answer is
        exact under cross-driver concurrency. A rewrite clears a
        partition up to its ``read_version``: an append that committed
        after the rewrite's snapshot was taken leaves the partition
        dirty even though the rewrite's own version is higher."""
        state = self._state()
        cleared = state["cleared_at"]
        return sorted(
            tuple(k.split("/")) for k, v in state["appended_at"].items()
            if v > cleared.get(k, 0)
        )

    def try_bootstrap(
        self, partitions: list[tuple[str, ...]], files: list[str]
    ) -> bool:
        """One-shot version-1 commit adopting pre-log data files (a
        store written before the log existed). Exactly one of N racing
        drivers wins; losers see the winner's record and move on."""
        record = {
            "version": 1,
            "kind": "bootstrap",
            "ts": datetime.now(timezone.utc).isoformat(),
            "writer": self._writer,
            "partitions": [list(p) for p in partitions],
            "files_added": sorted(files),
            "files_removed": [],
        }
        return self._publish(1, json.dumps(record))

    def tracked_files(self) -> set[str]:
        """Every file any RETAINED record mentions — checkpoint live
        set ∪ adds AND removes of all retained records (folded from
        version 0, not just past the newest checkpoint). Removes must
        count as tracked: a file added long ago but retired recently
        has its add folded away by a checkpoint, yet must survive
        vacuum's untracked-file sweep until its REMOVING commit ages
        past retention (``removed_before`` owns that reaping) — or
        time travel inside the retention window would read deleted
        files. The complement (on disk, in no retained record) is a
        crashed append's leftovers: cleanup only deletes records older
        than the vacuum cutoff, so any file whose records are all gone
        was already reaped while they existed."""
        head = self.current_version()
        cp = self._checkpoint_state(head)
        out: set[str] = set(cp["files"]) if cp else set()
        for c in self.read(0, head):
            out.update(c["files_added"])
            out.update(c.get("files_removed", ()))
        return out

    def removed_before(self, cutoff: datetime) -> set[str]:
        """Files retired by commits older than ``cutoff`` — the vacuum
        candidates (still-referenced time-travel files stay until their
        removing commit ages past the retention window)."""
        out: set[str] = set()
        keep: set[str] = set()
        for c in self.read(0):
            ts = datetime.fromisoformat(c["ts"])
            for f in c.get("files_removed", ()):
                (out if ts < cutoff else keep).add(f)
        return out - keep
