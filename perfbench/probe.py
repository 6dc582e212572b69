"""Measurement from outside the program: wrappers around the engine's
functions and readers of Spark's in-process status store.

:class:`Tracer` replaces functions of the engine's modules with timing
wrappers. It is installed only in a traced run. Each wrapped call adds
to its layer's call count and durations; a layer's self time is its
call's duration minus the time its nested wrapped calls cover.

:class:`SparkJobs` reads job, stage and task metrics from
``sc._jsc.sc().statusStore()`` — the store the Spark UI renders, which
is populated with ``spark.ui.enabled=false`` too — and the scheduler's
job counter, so a caller can attribute jobs to the operation that fired
them without adding a job itself.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict


class _Layer:
    __slots__ = ("calls", "durations", "self_total", "errors", "items")

    def __init__(self):
        self.calls = 0
        self.durations: list[float] = []
        self.self_total = 0.0
        self.errors = 0
        self.items = 0  # a count the layer reports per call (e.g. files)


class Tracer:
    """Per-layer recorder over monkeypatched engine functions.

    ``active`` gates recording, so the wrappers can stay installed
    through set-up and record only inside the traced timed phase
    (``always=True`` targets, such as the session factory, record
    whenever they run)."""

    def __init__(self):
        self.active = False
        self.layers: dict[str, _Layer] = defaultdict(_Layer)
        self._tls = threading.local()
        self._lock = threading.Lock()

    def wrap(self, owner, attr: str, name: str, *, always: bool = False,
             count_items=None, error_if_false: bool = False) -> None:
        """Replace ``owner.attr`` with a recording wrapper.

        ``count_items(result)`` adds a per-call count to the layer;
        ``error_if_false`` counts a falsy return as a failed attempt
        (a lost commit race returns False)."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not (tracer.active or always):
                return fn(*args, **kwargs)
            stack = getattr(tracer._tls, "stack", None)
            if stack is None:
                stack = tracer._tls.stack = []
            stack.append(0.0)  # time covered by nested wrapped calls
            t0 = time.perf_counter()
            ok = False
            try:
                out = fn(*args, **kwargs)
                ok = True
                return out
            finally:
                t1 = time.perf_counter()
                child = stack.pop()
                dur = t1 - t0
                if stack:
                    stack[-1] += dur
                with tracer._lock:  # get_many's pool threads share layers
                    rec = tracer.layers[name]
                    rec.calls += 1
                    rec.durations.append(dur)
                    rec.self_total += dur - child
                    if not ok or (error_if_false and not out):
                        rec.errors += 1
                    elif count_items is not None:
                        rec.items += count_items(out)

        wrapper.__wrapped__ = fn
        setattr(owner, attr, wrapper)


def install_engine_tracing(tracer: Tracer) -> None:
    """Wrap the engine layers the per-layer metrics are named after.
    Names are ``<module>.<function>``; private helpers are wrapped only
    where the public call has no other seam for the count."""
    import pyarrow.parquet as pq

    from ftm_lakehouse_spark import lakehouse, serving
    from ftm_lakehouse_spark.plans.query import Query
    from ftm_lakehouse_spark.sources import commits, statement_store

    reader = serving.PointReader
    tracer.wrap(reader, "get", "serving.get")
    tracer.wrap(reader, "get_many", "serving.get_many")
    tracer.wrap(reader, "_candidate_paths", "serving.candidate_paths", count_items=len)
    tracer.wrap(reader, "_metadata", "serving.metadata")
    tracer.wrap(pq, "read_metadata", "serving.footer_read")

    CL = commits.CommitLog
    tracer.wrap(CL, "current_version", "commits.current_version")
    tracer.wrap(CL, "snapshot", "commits.snapshot")
    tracer.wrap(CL, "commit", "commits.commit")
    tracer.wrap(CL, "_publish", "commits.publish", error_if_false=True)

    tracer.wrap(lakehouse, "explode_entities", "explode.explode_entities")
    tracer.wrap(lakehouse, "assemble_entities", "aggregate.assemble_entities")
    tracer.wrap(lakehouse.Dataset, "write_entities", "lakehouse.write_entities")
    tracer.wrap(lakehouse.Dataset, "entities", "lakehouse.entities")
    tracer.wrap(Query, "apply_statements", "query.apply_statements")

    SS = statement_store.StatementStore
    tracer.wrap(SS, "append", "statement_store.append")
    tracer.wrap(SS, "merge", "statement_store.merge")
    tracer.wrap(SS, "compact", "statement_store.compact")
    tracer.wrap(SS, "scan_range", "statement_store.scan_range")
    tracer.wrap(statement_store, "canonicalize", "merge.canonicalize")


class SparkJobs:
    """Job counter and status-store reader for one SparkContext."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        """Id the next submitted job will get (jobs are numbered from 0
        in submission order)."""
        return int(self._jsc.dagScheduler().nextJobId())

    def summarize(self, ranges: list[tuple[int, int, float, float]]) -> dict:
        """Totals over the jobs of ``ranges`` — one
        ``(first_job, end_job, wall_start, wall_end)`` per operation,
        with wall times from ``time.time()`` — including the driver gap:
        operation wall time not covered by any of its jobs."""
        store = self._jsc.statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
             "executor_cpu_s", "gc_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "driver_gap_s"), 0.0)
        for j0, j1, w0, w1 in ranges:
            covered: list[tuple[float, float]] = []
            for jid in range(j0, j1):
                job = store.job(jid)
                out["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined():
                    end = done.get().getTime() / 1e3 if done.isDefined() else w1
                    covered.append((max(sub.get().getTime() / 1e3, w0), min(end, w1)))
                stage_ids = job.stageIds()
                for k in range(stage_ids.size()):
                    attempts = store.stageData(stage_ids.apply(k), False, None, False, None)
                    for a in range(attempts.size()):
                        sd = attempts.apply(a)
                        if sd.status().toString() == "SKIPPED":
                            continue
                        out["stages"] += 1
                        out["tasks"] += sd.numTasks()
                        out["failed_tasks"] += sd.numFailedTasks()
                        out["executor_run_s"] += sd.executorRunTime() / 1e3
                        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                        out["gc_s"] += sd.jvmGcTime() / 1e3
                        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["driver_gap_s"] += (w1 - w0) - _union_length(covered)
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
