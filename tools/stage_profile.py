"""Per-stage profile of one or more gates via the Spark UI REST API.

Runs each named gate once cold (in-session) and once warm through the
noop sink, then prints, for the warm run, every job and stage with
task counts, durations, shuffle bytes, input bytes and GC time — the
guide §1.1/§7.1 empirical loop, scripted.

Usage:
    python tools/stage_profile.py <gate> [gate ...]
    PROFILE_SF_DIR=/root/testdata/sf0.1  (default)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

from ftm_lakehouse_spark.queries.inventory import query_map
from ftm_lakehouse_spark.session import get_spark


def _get(base: str, app: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}") as r:
        return json.load(r)


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("PROFILE_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("stage-profile")
    sc = spark.sparkContext
    base = sc.uiWebUrl
    app = sc.applicationId
    qmap = query_map()
    qmap["q1_pricing_summary"](spark, sf_dir).collect()  # bench warmup

    for name in names:
        fn = qmap[name]
        sc.setJobDescription(f"prof:{name}:cold")
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold = time.perf_counter() - t0
        # job-id watermark so the report covers only the warm run
        jobs_before = {j["jobId"] for j in _get(base, app, "/jobs")}
        sc.setJobDescription(f"prof:{name}:warm")
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        warm = time.perf_counter() - t0
        sc.setJobDescription(None)

        jobs = [j for j in _get(base, app, "/jobs") if j["jobId"] not in jobs_before]
        jobs.sort(key=lambda j: j["jobId"])
        print(f"\n=== {name}  cold={cold:.2f}s warm={warm:.2f}s  jobs={len(jobs)}")
        stage_ids = set()
        for j in jobs:
            sub = j.get("submissionTime", "")[-12:-3]
            comp = j.get("completionTime", "")[-12:-3]
            print(
                f"  job {j['jobId']:>4} {j['status']:>9} tasks={j['numCompletedTasks']:>4}"
                f" stages={len(j['stageIds'])} [{sub} .. {comp}]"
            )
            stage_ids.update(j["stageIds"])
        stages = _get(base, app, "/stages?status=complete")
        mine = [s for s in stages if s["stageId"] in stage_ids]
        mine.sort(key=lambda s: -(s.get("executorRunTime") or 0))
        print("  -- stages by executor run time (top 14) --")
        for s in mine[:14]:
            print(
                f"  stage {s['stageId']:>4} tasks={s['numCompleteTasks']:>4}"
                f" run={s.get('executorRunTime',0)/1e3:7.2f}s"
                f" cpu={s.get('executorCpuTime',0)/1e9:7.2f}s"
                f" gc={s.get('jvmGcTime',0)/1e3:6.2f}s"
                f" in={s.get('inputBytes',0)/1e6:8.1f}MB"
                f" sr={s.get('shuffleReadBytes',0)/1e6:8.1f}MB"
                f" sw={s.get('shuffleWriteBytes',0)/1e6:8.1f}MB"
                f"  {s.get('name','')[:70]}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
