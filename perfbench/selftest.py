#!/usr/bin/env python3
"""Self-test of the benchmark harness, without Spark:

    python3 perfbench/selftest.py

It checks that the result rules reject the defects that make a
benchmark noisy or misleading — a tail percentile with fewer than ten
samples beyond it, a metric the workload does not exercise, a timed
sample that was a first (cold) call — and that the harness pieces those
rules rely on behave: the timed phase never records a call that set-up
did not warm, traced runs split rounds evenly, the generator is
deterministic, and BENCHMARK.json declares exactly the workloads and
end-to-end metrics the harness reports (run.py checks the per-layer
names and units against it on every traced run). Exits non-zero on the
first failure.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probe  # noqa: E402
import rules  # noqa: E402


class _FakeJobs:
    def __init__(self, spark):
        pass

    def next_job_id(self) -> int:
        return 0


def _run(seconds: float = 0.0, tracer=None):
    import workloads

    probe.SparkJobs = _FakeJobs  # Run builds its job reader from here
    return workloads.Run(None, "", 1, seconds, tracer)


def _full(workload: str, n: int = 1000) -> dict:
    return {name: (1.0, "ms", n) for name in rules.WORKLOAD_METRICS[workload]}


def test_percentile_needs_ten_samples_beyond():
    named = _full("read")
    assert not rules.problems("read", named, [])
    named["get_p95_ms"] = (3.0, "ms", 199)  # 9.95 samples beyond p95
    assert any("get_p95_ms" in p for p in rules.problems("read", named, []))
    named["get_p95_ms"] = (3.0, "ms", 200)
    assert not rules.problems("read", named, [])


def test_unexercised_metric_is_rejected():
    named = _full("read")
    named["append_p50_s"] = (2.0, "s", 4)  # an ingest metric
    assert any("does not exercise" in p for p in rules.problems("read", named, []))
    named = _full("ingest")
    named["maintain_p50_s"] = (2.0, "s", 0)
    assert any("no samples" in p for p in rules.problems("ingest", named, []))


def test_cold_call_in_timed_phase_is_rejected():
    run = _run()  # zero seconds: exactly MIN_ROUNDS (3) rounds
    run.timed_phase(lambda: run.op("get", lambda: 1), 1.0)  # never warmed
    assert run.cold_timed == ["get"]
    assert any("first calls" in p for p in rules.problems("read", _full("read"), run.cold_timed))

    run = _run()
    run.op("get", lambda: 1)  # the warm-up call, outside the timed phase
    (phase,) = run.timed_phase(lambda: run.op("get", lambda: 1), 1.0)
    assert run.cold_timed == [] and len(phase.samples["get"]) == phase.rounds == 3


def test_failed_op_counts_and_leaves_no_sample():
    run = _run()
    run.op("get", lambda: 1)

    def boom():
        raise ValueError("expected by the self-test")

    import io
    stderr, sys.stderr = sys.stderr, io.StringIO()
    try:
        (phase,) = run.timed_phase(lambda: (run.op("get", boom), run.op("get", lambda: 1)), 1.0)
    finally:
        sys.stderr = stderr
    assert (phase.attempted, phase.failed, len(phase.samples["get"])) == (6, 3, 3)


def test_traced_rounds_alternate_evenly():
    tracer = probe.Tracer()
    run = _run(seconds=0.0, tracer=tracer)
    seen = []
    run.op("get", lambda: 1)
    untraced, traced = run.timed_phase(lambda: seen.append(tracer.active), 1.0, alternate=True)
    assert seen == [False, True] * 3 and untraced.rounds == traced.rounds == 3
    assert tracer.active is False


def test_tracer_self_time():
    class Layer:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    tracer = probe.Tracer()
    tracer.wrap(Layer, "outer", "outer")
    tracer.wrap(Layer, "inner", "inner")
    assert Layer().outer() == 2 and not tracer.layers  # inactive: nothing recorded
    tracer.active = True
    Layer().outer()
    outer, inner = tracer.layers["outer"], tracer.layers["inner"]
    assert outer.calls == inner.calls == 1
    assert outer.self_total <= outer.durations[0] - inner.durations[0] + 1e-9


def test_interval_union():
    assert probe._union_length([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == 3


def test_percentile_nearest_rank():
    import workloads

    xs = list(range(1, 201))
    assert workloads.pct(xs, 95) == 190 and workloads.pct(xs, 50) == 100


def test_generator_is_seeded():
    from gen import EntityModel

    a, b = EntityModel(7, "x"), EntityModel(7, "x")
    assert a.new_entities(50) == b.new_entities(50)
    assert a.update_batch(10, "t") == b.update_batch(10, "t")
    assert a.expected_live_statements() == b.expected_live_statements()
    assert EntityModel(8, "x").new_entities(50) != EntityModel(7, "x").new_entities(50)


def test_benchmark_json_matches_the_workloads():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(rules.SLOTS)
    e2e = {m["name"] for m in spec["end_to_end"]}
    for workload, slots in rules.SLOTS.items():
        assert e2e == set(rules.E2E_FIXED) | set(slots), workload


def main() -> int:
    tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
    for name, fn in tests:
        fn()
        print(f"ok  {name}")
    print(f"{len(tests)} self-tests passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
