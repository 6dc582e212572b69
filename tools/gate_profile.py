"""Gate profiler: time named gates (cold + warm medians through the
bench's noop-sink methodology) and dump each gate's
``explain("formatted")`` to ``plans/<tag>/<gate>.txt``.

Usage:
    python tools/gate_profile.py --sf-dir <testdata>/sf0.1 <tag> <gate> [gate ...]
    python tools/gate_profile.py --sf-dir ... --plan-only <tag> <gate> [gate ...]
    PROFILE_WARM=3   warm runs per gate (default 3)

Prints one line per gate: ``<gate> cold=<s> warm=[..] median=<s>`` and
a final JSON dict. A tag of ``-`` skips the plan dumps. ``--plan-only``
writes the plans without running the gates (only the jobs that query
construction itself fires).

Not named ``profile.py``: every ``python tools/<x>.py`` puts this
directory first on the import path, where that name would shadow the
standard-library module cProfile (imported by pyspark) needs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ftm_lakehouse_spark.queries.inventory import query_map
from ftm_lakehouse_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--plan-only", action="store_true",
                    help="dump plans without running the gates")
    ap.add_argument("--sf-dir", required=True,
                    help="test-data scale-factor directory")
    ap.add_argument("tag", help="plans go to plans/<tag>/; '-' skips them")
    ap.add_argument("gates", nargs="+")
    args = ap.parse_args()
    if args.plan_only and args.tag == "-":
        ap.error("--plan-only needs a tag")
    sf_dir = args.sf_dir
    n_warm = int(os.environ.get("PROFILE_WARM", "3"))
    spark = get_spark("gate-profile")
    qmap = query_map()
    plans_dir = os.path.join(REPO, "plans", args.tag)

    def dump_plan(name: str) -> None:
        df = qmap[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        os.makedirs(plans_dir, exist_ok=True)
        path = os.path.join(plans_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print("wrote", path, flush=True)

    if args.plan_only:
        for name in args.gates:
            dump_plan(name)
        spark.stop()
        return

    # same warmup the bench uses
    qmap["q1_pricing_summary"](spark, sf_dir).collect()

    def run_once(fn) -> float:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 4)

    out = {}
    for name in args.gates:
        fn = qmap[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        if args.tag != "-":
            dump_plan(name)
        cold = run_once(fn)
        reps = sorted(run_once(fn) for _ in range(n_warm))
        med = reps[len(reps) // 2]
        out[name] = {"cold": cold, "warm": reps, "median": med}
        print(f"{name} cold={cold} warm={reps} median={med}", flush=True)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
