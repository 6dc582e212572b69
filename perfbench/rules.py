"""What each workload reports, and the rules a result must meet.

Each workload prints its own named end-to-end metrics (with unit and
sample count) and maps three of them onto the ``time1_ms``..``time3_ms``
slots of the result line, so every workload reports the same metric
names to the harness that compares runs.
"""

from __future__ import annotations

import re

#: named end-to-end metrics each workload exercises
WORKLOAD_METRICS = {
    "read": ("setup_s", "rss_mb", "error_rate", "bytes_per_stmt", "get_p50_ms", "get_p95_ms",
             "get_many_p50_ms", "query_p50_s", "scan_range_p50_s", "gates_s"),
    "ingest": ("setup_s", "rss_mb", "error_rate", "bytes_per_stmt", "append_p50_s",
               "fresh_get_p50_ms", "cold_shard_get_p50_ms", "unmerged_get_p50_ms",
               "merge_get_p50_ms", "maintain_p50_s", "ingest_stmts_per_s"),
}

#: result-line slot -> (named metric, factor to ms). A factor of None
#: turns a statements-per-second rate into ms per 1000 statements.
#: A slot holds only a metric whose spread over ten seeds stays within
#: the largest bound a slot may have (0.25) on a shared 4-CPU host.
#: Printed without a slot: ``get_p95_ms`` (its median over two sets of
#: ten runs moved by 0.27), ``get_many_p50_ms`` (its thread pool makes
#: it the most sensitive to CPU contention: spread 0.41 over ten seeds),
#: ``gates_s`` (traced runs only; spread up to 0.26); and, as both
#: workloads have as many slots, ``cold_shard_get_p50_ms``,
#: ``unmerged_get_p50_ms`` and ``maintain_p50_s`` (inside the ingest
#: rate) on ``ingest``.
SLOTS = {
    "read": {"time1_ms": ("get_p50_ms", 1.0), "time2_ms": ("query_p50_s", 1e3),
             "time3_ms": ("scan_range_p50_s", 1e3)},
    "ingest": {"time1_ms": ("fresh_get_p50_ms", 1.0), "time2_ms": ("append_p50_s", 1e3),
               "time3_ms": ("ingest_stmts_per_s", None)},
}

#: result-line metrics every workload reports besides its slots
E2E_FIXED = {"setup_s": "s", "rss_mb": "MB", "bytes_per_stmt": "B"}


_PCT = re.compile(r"_p(\d+)_")


def slot_values(workload: str, named: dict) -> dict[str, float]:
    out = {}
    for slot, (name, factor) in SLOTS[workload].items():
        value = named[name][0]
        out[slot] = 1e6 / value if factor is None else value * factor
    return out


def problems(workload: str, named: dict, cold_timed: list[str]) -> list[str]:
    """Defects of a result: a tail percentile with fewer than ten samples
    beyond it, a metric the workload does not exercise (not declared,
    or no timed sample), a timed sample that was a first call.
    ``named`` maps metric name -> (value, unit, samples)."""
    out = []
    allowed = WORKLOAD_METRICS[workload]
    for name, (_value, _unit, n) in named.items():
        if name not in allowed:
            out.append(f"{workload} reports {name}, which it does not exercise")
        if n < 1:
            out.append(f"{name} has no samples")
        m = _PCT.search(name + "_")
        if m and int(m.group(1)) > 50:
            beyond = n * (100 - int(m.group(1))) / 100
            if beyond < 10:
                out.append(f"{name}: {beyond:g} samples beyond it (n={n}), fewer than 10")
    if cold_timed:
        out.append(f"timed samples include first calls: {sorted(set(cold_timed))}")
    return out


def declared(spec: dict, trace: bool) -> dict[str, str]:
    """Metric -> unit that BENCHMARK.json declares for a run."""
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
