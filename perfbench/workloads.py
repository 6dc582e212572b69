"""The benchmark workloads, driven through the engine's public API by one
closed-loop client (the next call starts when the previous one returns).

* ``read``: a merged, read-only store. Each round is a block of
  Spark-free point reads (``Dataset.get``, ``Dataset.get_many``) that
  must fire no Spark job, then Spark reads: ``Dataset.entities(Query)``
  and ``StatementStore.scan_range`` counts, and, in a traced run, the
  GATES of the query inventory.
* ``ingest``: write-heavy. Each round appends seeded batches
  (``Dataset.write_entities``, half updates), reads each batch back, and
  then merges and compacts.

Every workload has the same shape:

1. set-up (timed as ``setup_s``): Spark session, seeded inputs, store
   build, and warm-up rounds, so no timed sample is a first call;
2. the timed phase: a fixed number of rounds, sized to last about
   ``seconds``. Output checks run between operations, outside their
   timers;
3. end-of-run checks.

In a traced run the rounds of the timed phase alternate untraced and
traced. Per-layer metrics come from the traced rounds; the difference
between the two halves is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict

from gen import COUNTRIES, EntityModel, entity_rows, write_gate_tables

#: entities in the store each workload starts from (16 shards, one
#: origin, one schema bucket: 16 live files once merged)
STORE_ENTITIES = 10000
SHARDS = 16
ORIGIN = "bench"
#: the timed phase runs ceil(seconds / round length) rounds, and at
#: least MIN_ROUNDS per phase: a fixed count for a given ``seconds``, so
#: a run on a slow host measures the same calls as one on a fast host,
#: and three or more samples per Spark operation keep one slow round out
#: of its median. Round lengths are those of a 4-CPU host.
MIN_ROUNDS = 3
#: read: round length, warm-up rounds in set-up (with C1-only JIT a
#: Spark read's second call is at its steady speed), gets per round,
#: ``get_many`` every GETS_PER_MANY gets, ids per ``get_many``, and the
#: gates of the query inventory. The gates run in traced runs only:
#: their time over ten seeds spread more (IQR/median 0.26) than any
#: end-to-end bound allows, and untraced rounds without them fit more
#: Spark-read samples.
READ_ROUND_S, READ_WARMUP, ROUND_GETS, GETS_PER_MANY, MANY_IDS = 3.5, 1, 100, 10, 100
GATES = ("graph_pagerank",)
GATE_TABLES = ("documents", "orders", "lineitem", "events")
#: ingest: round length, entities per append (half updates), appends per
#: maintenance, new entities read back from shards not yet read after an
#: append, and warm gets of the entities read back. One warm-up round:
#: the store build already ran the write path.
INGEST_ROUND_S, BATCH, APPENDS_PER_MERGE, COLD_SHARDS, WARM_GETS = 4.0, 50, 1, 7, 8


class Phase:
    """What one timed phase recorded: latency samples per operation kind,
    statements appended, per-operation Spark job ranges and layer extras
    (traced rounds only), rounds, and wall time excluding in-phase
    checks."""

    def __init__(self):
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.stmts_appended = 0
        self.extra: dict[str, list] = defaultdict(list)
        self.op_jobs: dict[str, list[tuple]] = defaultdict(list)
        self.rounds = 0
        self.wall = 0.0
        self.attempted = 0
        self.failed = 0


class Run:
    """State of one benchmark run: the session, the op recorder and the
    check results."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer):
        from probe import SparkJobs

        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.jobs = SparkJobs(spark)
        self.rng = random.Random(seed * 1000003 + 17)
        self.ds = None  # the workload's Dataset
        self.phase: Phase | None = None  # set inside a timed phase
        self.warm: set[str] = set()
        self.cold_timed: list[str] = []
        self.failures: list[str] = []  # output checks that did not hold
        self.check_s = 0.0  # time spent in checks inside the current round

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.active

    # ------------------------------------------------------------ ops
    def op(self, kind: str, fn):
        """Run one operation; in the timed phase record its latency.
        Returns ``(ok, result)``. A failed operation counts against
        ``error_rate`` and contributes no latency sample."""
        phase = self.phase
        if phase is not None and kind not in self.warm:
            self.cold_timed.append(kind)
        traced = phase is not None and self.tracing
        if traced:
            j0, w0 = self.jobs.next_job_id(), time.time()
        t0 = time.perf_counter()
        try:
            out, ok = fn(), True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            out, ok = None, False
        dur = time.perf_counter() - t0
        if traced:
            phase.op_jobs[kind].append((j0, self.jobs.next_job_id(), w0, time.time()))
        self.warm.add(kind)
        if phase is not None:
            phase.attempted += 1
            if ok:
                phase.samples[kind].append(dur)
            else:
                phase.failed += 1
        return ok, out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)

    @contextlib.contextmanager
    def checking(self):
        """Check code inside the timed phase: its time is kept out of
        phase-wide rates and its engine calls out of the trace."""
        paused = self.tracing
        if paused:
            self.tracer.active = False
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0
            if paused:
                self.tracer.active = True

    def timed_phase(self, round_fn, round_s: float, alternate: bool = False) -> list[Phase]:
        """The timed rounds, ``round_s`` being a round's length. With
        ``alternate`` (a traced run), rounds alternate untraced and
        traced, starting untraced, into two phases of equal round count;
        the difference between them is the tracing overhead."""
        phases = [Phase(), Phase()] if alternate else [Phase()]
        rounds = max(MIN_ROUNDS * len(phases), math.ceil(self.seconds / round_s))
        rounds += rounds % len(phases)
        for n in range(rounds):
            self.phase = phases[n % len(phases)]
            if alternate:
                self.tracer.active = n % 2 == 1
            self.check_s, r0 = 0.0, time.perf_counter()
            round_fn()
            self.phase.wall += time.perf_counter() - r0 - self.check_s
            self.phase.rounds += 1
        if alternate:
            self.tracer.active = False
        self.phase = None
        return phases


# ------------------------------------------------------------ helpers
def _entity_json(ent: dict | None) -> str:
    return json.dumps(ent, sort_keys=True, default=str)


def _sorted_props(ent: dict) -> dict:
    """An input entity's properties as ``Dataset.get`` returns them."""
    return {k: sorted(v) for k, v in ent["properties"].items()}


def _build_store(run: Run, name: str, prefix: str):
    """A merged store of STORE_ENTITIES seeded entities."""
    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.operators.explode import ENTITY_SCHEMA

    model = EntityModel(run.seed, prefix)
    ents = model.new_entities(STORE_ENTITIES)
    ds = Lakehouse(run.spark, os.path.join(run.work, "lake")).dataset(name, shards=SHARDS)
    ds.write_entities(run.spark.createDataFrame(entity_rows(ents), ENTITY_SCHEMA), origin=ORIGIN)
    ds.merge()
    ds.store.compact()
    return model, ds


def store_shape(ds) -> dict:
    """Live files, bytes and rows of the store's current snapshot, from
    file sizes and parquet footers (no Spark job)."""
    import pyarrow.parquet as pq

    data = ds.store._data_path()
    files = ds.store.commits.snapshot()
    size = rows = 0
    for rel in files:
        path = os.path.join(data, rel)
        size += os.path.getsize(path)
        rows += pq.ParquetFile(path).metadata.num_rows
    return {"files": len(files), "bytes": size, "rows": rows}


def live_rows(ds) -> int:
    """Statement rows of the current snapshot that carry no tombstone,
    counted from the files' ``deleted_at`` column (no Spark job)."""
    import pyarrow.parquet as pq

    data = ds.store._data_path()
    return sum(pq.ParquetFile(os.path.join(data, rel)).read(columns=["deleted_at"])
               .column("deleted_at").null_count for rel in ds.store.commits.snapshot())


def files_per_partition_max(ds) -> int:
    from ftm_lakehouse_spark.sources.statement_store import _partition_of

    per_part: dict[tuple, int] = defaultdict(int)
    for rel in ds.store.commits.snapshot():
        per_part[_partition_of(rel)] += 1
    return max(per_part.values(), default=0)


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def _median(phase: Phase, kind: str, scale: float, unit: str) -> tuple[float, str, int]:
    xs = phase.samples[kind]
    return statistics.median(xs) * scale, unit, len(xs)


def _frame_hash(pdf) -> tuple[int, str]:
    """Row count and order-insensitive hash of a result frame, after
    the normalisation tools/check_parity.py applies (sorted columns,
    datetimes as text, floats rounded to 9 places, rows sorted)."""
    import pandas as pd

    df = pdf[sorted(pdf.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(9)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return len(df), hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


# ================================================================= read
def read(run: Run) -> dict:
    import duckdb
    from pyspark.sql import functions as F

    from ftm_lakehouse_spark.model.statement import live_filter
    from ftm_lakehouse_spark.plans.query import Query
    from ftm_lakehouse_spark.queries.inventory import oracle_map, query_map

    model, ds = _build_store(run, "read", "r")
    ids = sorted(model.entities)
    rng = run.rng

    # seeded Spark-read parameters, and their expected counts from
    # raw() in one aggregate job
    queries = [(rng.choice(("Company", "Organization")), rng.choice(COUNTRIES))
               for _ in range(4)]
    span = len(ids) // 50
    ranges = []
    for _ in range(4):
        i = rng.randrange(len(ids) - span)
        ranges.append((ids[i], ids[i + span]))
    live = live_filter()
    aggs = [F.countDistinct(F.when(live & (F.col("schema") == s) & (F.col("prop") == "country")
                                   & (F.col("value") == c), F.col("entity_id")))
            for s, c in queries]
    aggs += [F.sum(F.col("entity_id").between(lo, hi).cast("long")) for lo, hi in ranges]
    row = ds.store.raw().agg(*aggs).collect()[0]
    want_q = [int(row[i]) for i in range(len(queries))]
    want_s = [int(row[len(queries) + i] or 0) for i in range(len(ranges))]
    for (s, c), n in zip(queries, want_q):
        run.check(n == model.expected_query_count(s, "country", c),
                  f"raw() count for {s}/{c} differs from the generator")

    with_gates = run.tracer is not None
    if with_gates:
        tables = os.path.join(run.work, "tables")
        write_gate_tables(tables, run.seed)
        con = duckdb.connect()
        for t in GATE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
        oracles = oracle_map()
        want_gate = {g: _frame_hash(con.execute(oracles[g]).fetchdf()) for g in GATES}
        con.close()
        gate_fns = query_map()
    state = {"i": 0}

    def point_reads():
        before = run.jobs.next_job_id()
        for i in range(ROUND_GETS):
            eid = rng.choice(ids)
            ok, ent = run.op("get", lambda: ds.get(eid))
            run.check(not ok or (ent is not None and ent["entity_id"] == eid), f"get {eid}")
            if i % GETS_PER_MANY == GETS_PER_MANY - 1:
                batch = rng.sample(ids, MANY_IDS)
                ok, got = run.op("get_many", lambda: ds.get_many(batch))
                run.check(not ok or (set(got) == set(batch) and all(got.values())),
                          "get_many returned every id")
        fired = run.jobs.next_job_id() - before
        run.check(fired == 0, f"point reads fired {fired} Spark jobs")

    def query():
        k = state["i"] % len(queries)
        schema, country = queries[k]
        ok, n = run.op("query", lambda: ds.entities(
            Query().where(schema=schema, country=country)).count())
        run.check(ok and n == want_q[k], f"query {schema}/{country}: {n} != {want_q[k]}")

    def scan_range():
        k = state["i"] % len(ranges)
        lo, hi = ranges[k]

        def scan():
            t0 = time.perf_counter()
            df = ds.store.scan_range("entity_id", lo, hi)
            t1 = time.perf_counter()
            return df, df.count(), t1 - t0, time.perf_counter() - t1

        ok, out = run.op("scan_range", scan)
        run.check(ok and out[1] == want_s[k], f"scan_range [{lo}, {hi}] != {want_s[k]}")
        if ok and run.tracing:
            with run.checking():
                df, _, plan_s, exec_s = out
                kept = len(df.inputFiles()) / max(1, len(ds.store.commits.snapshot()))
            for key, v in (("scan_plan_s", plan_s), ("scan_exec_s", exec_s),
                           ("scan_kept_ratio", kept)):
                run.phase.extra[key].append(v)

    def gates():
        per_gate = {}

        def one_pass():
            for g in GATES:
                j0 = run.jobs.next_job_id()
                t0 = time.perf_counter()
                df = gate_fns[g](run.spark, tables)
                t1, j1 = time.perf_counter(), run.jobs.next_job_id()
                pdf = df.toPandas()
                per_gate[g] = (t1 - t0, time.perf_counter() - t1,
                               run.jobs.next_job_id() - j0, j1 - j0, pdf)

        run.op("gates", one_pass)
        if run.tracing:
            for g, (build, exe, jobs, build_jobs, _) in per_gate.items():
                run.phase.extra[f"gate.{g}"].append((build, exe, jobs, build_jobs))
        with run.checking():
            for g, got in per_gate.items():
                run.check(_frame_hash(got[4]) == want_gate[g], f"gate {g} differs from its oracle")

    def round_():
        point_reads()
        query()
        scan_range()
        if with_gates:
            gates()
        state["i"] += 1

    for _ in range(READ_WARMUP):  # snapshot index, footer cache, codegen, JIT
        round_()

    def finish():
        # the direct path equals the Spark path byte for byte and the
        # generator's input; get_many equals single gets
        eid = rng.choice(ids)
        direct = ds.get(eid)
        run.check(_entity_json(direct) == _entity_json(ds.get(eid, engine="spark")),
                  f"get {eid}: direct path differs from engine='spark'")
        run.check(direct["properties"] == _sorted_props(model.entities[eid]),
                  f"get {eid}: properties differ from input")
        batch = rng.sample(ids, MANY_IDS)
        many = ds.get_many(batch)
        run.check(all(_entity_json(many[e]) == _entity_json(ds.get(e)) for e in batch),
                  "get_many differs from single gets")

    return {"ds": ds, "round": round_, "round_s": READ_ROUND_S, "finish": finish}


def read_metrics(phase: Phase) -> dict:
    gets = phase.samples["get"]
    out = {
        "get_p50_ms": _median(phase, "get", 1e3, "ms"),
        "get_p95_ms": (pct(gets, 95) * 1e3, "ms", len(gets)),
        "get_many_p50_ms": _median(phase, "get_many", 1e3, "ms"),
        "query_p50_s": _median(phase, "query", 1.0, "s"),
        "scan_range_p50_s": _median(phase, "scan_range", 1.0, "s"),
    }
    if phase.samples["gates"]:  # traced runs only
        out["gates_s"] = _median(phase, "gates", 1.0, "s")
    return out


# =============================================================== ingest
def ingest(run: Run) -> dict:
    from ftm_lakehouse_spark.operators.explode import ENTITY_SCHEMA
    from ftm_lakehouse_spark.serving import entity_shard_py

    model, ds = _build_store(run, "ingest", "i")
    state = {"cycle": 0}

    def cycle():
        state["cycle"] += 1
        tag = f"c{state['cycle']}"
        batch = model.update_batch(BATCH, tag)
        df = run.spark.createDataFrame(entity_rows(batch), ENTITY_SCHEMA)
        with run.checking():
            v0 = ds.version
        ok, _ = run.op("append", lambda: ds.write_entities(df, origin=ORIGIN))
        if ok and run.phase is not None:
            run.phase.stmts_appended += (
                sum(len(v) for e in batch for v in e["properties"].values()) + len(batch))
        with run.checking():
            run.check(ds.version == v0 + 1, f"append {tag}: version {ds.version} != {v0 + 1}")
        eid = batch[0]["id"]  # an update: its new name carries the tag
        ok, ent = run.op("fresh_get", lambda: ds.get(eid))
        run.check(ok and ent is not None
                  and any(n.endswith("@" + tag) for n in ent["properties"]["name"]),
                  f"fresh get {eid} misses the value written in {tag}")
        # new entities in shards not read since the append: the snapshot
        # index is rebuilt, but each shard's new footer is not cached yet
        seen, read_back = {entity_shard_py(eid, SHARDS)}, [eid]
        for e in batch[BATCH // 2:]:
            shard = entity_shard_py(e["id"], SHARDS)
            if shard in seen or len(seen) > COLD_SHARDS:
                continue
            seen.add(shard)
            read_back.append(e["id"])
            ok, ent = run.op("cold_shard_get", lambda: ds.get(e["id"]))
            run.check(ok and ent is not None and ent["properties"] == _sorted_props(e),
                      f"get of new entity {e['id']} differs from its input")
        # the same entities again: every cache warm, two files per shard
        for i in range(WARM_GETS):
            wid = read_back[i % len(read_back)]
            ok, ent = run.op("unmerged_get", lambda: ds.get(wid))
            run.check(ok and ent is not None and ent["entity_id"] == wid, f"get {wid}")
        with run.checking():
            got = ds.get_many([e["id"] for e in batch])
            run.check(all(got[e["id"]] is not None and
                          set(e["properties"]["name"]) <= set(got[e["id"]]["properties"]["name"])
                          for e in batch), f"get_many misses values written in {tag}")

    def maintain():
        if run.tracing:
            with run.checking():
                run.phase.extra["files_per_partition"].append(files_per_partition_max(ds))
        run.op("maintain", lambda: (ds.merge(), ds.store.compact()))
        with run.checking():
            n = live_rows(ds)
            run.check(n == model.expected_live_statements(),
                      f"live statements after merge: {n} != {model.expected_live_statements()}")
        # the merge's commit also invalidates the snapshot index, and all
        # SHARDS footers are new
        eid = run.rng.choice(sorted(model.entities))
        ok, ent = run.op("merge_get", lambda: ds.get(eid))
        run.check(ok and ent is not None and ent["entity_id"] == eid, f"get {eid} after merge")

    def round_():
        for _ in range(APPENDS_PER_MERGE):
            cycle()
        maintain()

    def finish():
        # the engine's live view agrees with the generator too
        n = ds.store.live().count()
        run.check(n == model.expected_live_statements(),
                  f"live() after the last merge: {n} != {model.expected_live_statements()}")

    round_()  # warm-up
    return {"ds": ds, "round": round_, "round_s": INGEST_ROUND_S, "finish": finish}


def ingest_metrics(phase: Phase) -> dict:
    return {
        "append_p50_s": _median(phase, "append", 1.0, "s"),
        "fresh_get_p50_ms": _median(phase, "fresh_get", 1e3, "ms"),
        "cold_shard_get_p50_ms": _median(phase, "cold_shard_get", 1e3, "ms"),
        "unmerged_get_p50_ms": _median(phase, "unmerged_get", 1e3, "ms"),
        "merge_get_p50_ms": _median(phase, "merge_get", 1e3, "ms"),
        "maintain_p50_s": _median(phase, "maintain", 1.0, "s"),
        "ingest_stmts_per_s": (phase.stmts_appended / phase.wall, "1/s", phase.rounds),
    }


WORKLOADS = {
    "read": (read, read_metrics),
    "ingest": (ingest, ingest_metrics),
}
