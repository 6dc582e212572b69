#!/usr/bin/env python3
"""Lakehouse benchmark: one closed-loop client drives the engine's public
API through one of two workloads and checks its outputs.

    python3 perfbench/run.py --workload read|ingest|all \\
        --seed N --seconds S --trace 0|1

Run it from the repository root; it writes only under ``.perfbench/``
there and removes its directory when it ends. It prints each named
end-to-end metric of the workload with its unit and sample count, then,
as the last line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics (``--trace 0``) or
the per-layer metrics of a traced run (``--trace 1``). See
perfbench/README.md for what each workload measures.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _spark_conf(work: str) -> dict[str, str]:
    """Where the session may write, no console progress bars, and a
    JVM that compiles with C1 only. No engine setting is changed.

    With the default tiered JIT a Spark read keeps getting faster over
    its first twelve or more calls as C2 recompiles the planner, so a
    run's medians depend on how far along that slope its few timed
    calls sit. C1-only code reaches its steady speed by the second call
    (measured on a 4-CPU host: ``Dataset.entities(...).count()`` took
    1.96 s, then mostly 1.0-1.2 s, against 2.6 s sliding to 0.8 s by
    call 12 with C2)."""
    return {
        "spark.local.dir": os.path.join(work, "spark"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1",
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median_or_zero(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(run, phase, tracer, since_version: int, shape: dict,
                  overhead: dict) -> dict:
    """Per-layer metrics of the traced rounds. Times are medians per
    call in seconds; counts are per call or per round as named."""
    from workloads import GATES, files_per_partition_max

    L = tracer.layers
    calls = lambda n: L[n].calls if n in L else 0  # noqa: E731
    med = lambda n: _median_or_zero(L[n].durations) if n in L else 0.0  # noqa: E731
    per_round = lambda x: x / phase.rounds  # noqa: E731
    jobs_per = lambda kind: (  # noqa: E731
        sum(j1 - j0 for j0, j1, _, _ in phase.op_jobs[kind]) / len(phase.op_jobs[kind])
        if phase.op_jobs.get(kind) else 0.0)

    meta_calls, footer_reads = calls("serving.metadata"), calls("serving.footer_read")
    cand = L.get("serving.candidate_paths")
    we = L.get("lakehouse.write_entities")
    # bytes added by the timed phase's commits, from the log and file sizes
    added = appended = 0
    data = run.ds.store._data_path()
    for rec in run.ds.store.commits.read(since=since_version):
        size = sum(os.path.getsize(os.path.join(data, f)) for f in rec["files_added"])
        added += size
        if rec["kind"] == "append":
            appended += size
    pp = phase.extra.get("files_per_partition")

    m = {
        "session.get_spark_s": (med("session.get_spark"), "s"),
        "serving.get_s": (med("serving.get"), "s"),
        "serving.get_many_s": (med("serving.get_many"), "s"),
        "serving.candidate_files_per_get": (cand.items / cand.calls if cand else 0.0, "count"),
        "serving.footer_reads": (per_round(footer_reads), "count"),
        "serving.footer_hit_ratio": (1 - footer_reads / meta_calls if meta_calls else 0.0, "ratio"),
        "serving.spark_fallbacks": (
            sum(L[n].errors for n in ("serving.get", "serving.get_many") if n in L), "count"),
        "commits.current_version_calls": (per_round(calls("commits.current_version")), "count"),
        "commits.snapshot_calls": (per_round(calls("commits.snapshot")), "count"),
        "commits.snapshot_s": (med("commits.snapshot"), "s"),
        "commits.commit_s": (med("commits.commit"), "s"),
        "commits.conflicts": (
            sum(L[n].errors for n in ("commits.publish", "commits.commit") if n in L), "count"),
        "explode.explode_entities_s": (med("explode.explode_entities"), "s"),
        "lakehouse.write_entities_self_s": (we.self_total / we.calls if we else 0.0, "s"),
        "statement_store.append_s": (med("statement_store.append"), "s"),
        "spark.jobs_per_append": (jobs_per("append"), "count"),
        "statement_store.merge_s": (med("statement_store.merge"), "s"),
        "statement_store.compact_s": (med("statement_store.compact"), "s"),
        "merge.canonicalize_s": (med("merge.canonicalize"), "s"),
        "statement_store.write_amp": (added / appended if appended else 0.0, "ratio"),
        "statement_store.files_live": (shape["files"], "count"),
        "statement_store.files_per_partition_max": (
            max(pp) if pp else files_per_partition_max(run.ds), "count"),
        "statement_store.scan_range_plan_s": (_median_or_zero(phase.extra.get("scan_plan_s")), "s"),
        "statement_store.scan_range_exec_s": (_median_or_zero(phase.extra.get("scan_exec_s")), "s"),
        "statement_store.scan_range_files_kept_ratio": (
            _median_or_zero(phase.extra.get("scan_kept_ratio")), "ratio"),
        "spark.jobs_per_scan_range": (jobs_per("scan_range"), "count"),
        "lakehouse.entities_build_s": (med("lakehouse.entities"), "s"),
        "query.apply_statements_s": (med("query.apply_statements"), "s"),
        "aggregate.assemble_entities_s": (med("aggregate.assemble_entities"), "s"),
        "spark.jobs_per_query": (jobs_per("query"), "count"),
    }
    for g in GATES:
        reps = phase.extra.get(f"gate.{g}", [])
        m[f"gate.{g}.build_s"] = (_median_or_zero([r[0] for r in reps]), "s")
        m[f"gate.{g}.exec_s"] = (_median_or_zero([r[1] for r in reps]), "s")
        m[f"gate.{g}.jobs"] = (reps[-1][2] if reps else 0, "count")
        m[f"gate.{g}.build_jobs"] = (reps[-1][3] if reps else 0, "count")
    spark = run.jobs.summarize([r for kind in sorted(phase.op_jobs) for r in phase.op_jobs[kind]])
    for key, value in spark.items():
        unit = "s" if key.endswith("_s") else "B" if key.endswith("_bytes") else "count"
        m[f"spark.{key}"] = (per_round(value), unit)
    for slot, value in overhead.items():
        m[f"overhead.{slot}"] = (value, "ms")
    return m


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import rules
    import workloads
    from probe import Tracer, install_engine_tracing

    from ftm_lakehouse_spark import session

    tracer = None
    if trace:
        tracer = Tracer()
        tracer.wrap(session, "get_spark", "session.get_spark", always=True)
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", extra_conf=_spark_conf(work))
    try:
        run = workloads.Run(spark, work, seed, seconds, tracer)
        build, named_fn = workloads.WORKLOADS[name]
        wl = build(run)
        run.ds = wl["ds"]
        setup_s = time.perf_counter() - t0
        if trace:
            install_engine_tracing(tracer)
        v0 = run.ds.store.commits.current_version()
        phases = run.timed_phase(wl["round"], wl["round_s"], alternate=trace)
        named = named_fn(phases[0])
        layers = None
        if trace:
            traced = phases[1]
            untraced_slots = rules.slot_values(name, named)
            traced_slots = rules.slot_values(name, named_fn(traced))
            shape = workloads.store_shape(run.ds)
            layers = layer_metrics(run, traced, tracer, v0, shape,
                                   {s: traced_slots[s] - untraced_slots[s] for s in traced_slots})
        wl["finish"]()
        shape = workloads.store_shape(run.ds)
    finally:
        _stop_spark(spark)

    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    named["setup_s"] = (setup_s, "s", 1)
    named["rss_mb"] = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "MB", 1)
    named["error_rate"] = (failed / max(1, attempted), "ratio", attempted)
    named["bytes_per_stmt"] = (shape["bytes"] / shape["rows"], "B", shape["rows"])
    problems = run.failures + rules.problems(name, named, run.cold_timed)
    return {"named": named, "layers": layers, "attempted": attempted, "failed": failed,
            "problems": problems, "shape": shape}


def _run_all(args) -> int:
    """Every workload, one process each, in sequence."""
    rc = 0
    for name in ("read", "ingest"):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        rc = subprocess.run(cmd, check=False).returncode or rc
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True,
                    choices=("read", "ingest", "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ftm_lakehouse_spark", "__init__.py")):
        print("perfbench: ftm_lakehouse_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)

    import rules

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # launcher JVM: no perf-data file
    sys.path[:0] = [root, HERE]
    try:
        res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    for name in rules.WORKLOAD_METRICS[args.workload]:
        if name not in res["named"]:  # gates_s: traced runs only
            continue
        value, unit, n = res["named"][name]
        print(f"{args.workload:9s} {name:22s} {value:14.6g} {unit:5s} n={n}")
    shape = res["shape"]
    print(f"{args.workload:9s} store: {shape['files']} live files, {shape['rows']} statements,"
          f" {shape['bytes']} bytes")
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["layers"].items()}
    else:
        values = {k: res["named"][k][0] for k in rules.E2E_FIXED}
        values |= rules.slot_values(args.workload, res["named"])
        units = rules.E2E_FIXED | {slot: "ms" for slot in rules.SLOTS[args.workload]}
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    spec = os.path.join(root, "BENCHMARK.json")
    if os.path.exists(spec):
        with open(spec) as fh:
            want = rules.declared(json.load(fh), bool(args.trace))
        got = {k: m["unit"] for k, m in metrics.items()}
        if got != want:
            res["problems"].append(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}")
    for p in res["problems"]:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({"correct": not res["problems"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
