"""Stage-level profile of one registry query (optimization-round tool).

Usage: python scripts/profile_query.py <query> [runs]

Boots a bench-identical session with the UI enabled, executes the query
``runs`` times (default 2 — first run warms fixture caches/codegen, the
LAST run is profiled), then dumps per-stage metrics from the UI REST API
for the jobs of the last run: stage duration, task count, shuffle
read/write bytes, input bytes, and the stage's name line. This is the
guide §1.1 empirical loop without a browser.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    name = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from dig_etl_engine_spark.session import get_spark
    from dig_etl_engine_spark import queries as registry

    spark = get_spark("profile_query",
                      extra_conf={"spark.ui.enabled": "true"})
    qmap = registry.queries()
    fn = qmap[name]

    from dig_etl_engine_spark.catalog import load_tables
    for df in load_tables(spark, sf_dir).values():
        df.limit(1).count()

    tracker = spark.sparkContext.statusTracker()
    for i in range(runs - 1):
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        print(f"warm run {i}: {time.perf_counter() - t0:.3f}s")
    first_job = (max(tracker.getJobIdsForGroup(None) or [-1])) + 1
    t0 = time.perf_counter()
    fn(spark, sf_dir).count()
    total = time.perf_counter() - t0
    print(f"profiled run: {total:.3f}s  (jobs >= {first_job})")

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    def get(path: str):
        with urllib.request.urlopen(f"{base}/{path}") as r:
            return json.load(r)

    jobs = [j for j in get("jobs") if j["jobId"] >= first_job]
    stage_to_job = {}
    for j in jobs:
        for sid in j["stageIds"]:
            stage_to_job[sid] = j["jobId"]
    # one entry per stage ATTEMPT comes back — keep only the latest
    # attempt per stageId so a retried stage is not double-counted in
    # the table or the summed wall estimate
    by_id: dict = {}
    for s in get("stages"):
        if s["stageId"] in stage_to_job:
            cur = by_id.get(s["stageId"])
            if cur is None or s.get("attemptId", 0) > cur.get("attemptId", 0):
                by_id[s["stageId"]] = s
    stages = list(by_id.values())
    stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
    print(f"\n{len(jobs)} jobs, {len(stages)} stages in profiled run; "
          "by executorRunTime:")
    print(f"{'stage':>6} {'job':>4} {'tasks':>6} {'runtime_ms':>10} "
          f"{'cpu_ms':>9} {'in_MB':>7} {'shR_MB':>7} {'shW_MB':>7}  name")
    for s in stages[:25]:
        print(f"{s['stageId']:>6} {stage_to_job[s['stageId']]:>4} "
              f"{s['numCompleteTasks']:>6} "
              f"{s.get('executorRunTime', 0):>10} "
              f"{(s.get('executorCpuTime', 0)) // 1_000_000:>9} "
              f"{s.get('inputBytes', 0) / 1e6:>7.1f} "
              f"{s.get('shuffleReadBytes', 0) / 1e6:>7.1f} "
              f"{s.get('shuffleWriteBytes', 0) / 1e6:>7.1f}  "
              f"{s['name'][:60]}")
    wall = sum(
        (time.mktime(time.strptime(s["completionTime"][:19],
                                   "%Y-%m-%dT%H:%M:%S"))
         - time.mktime(time.strptime(s["firstTaskLaunchedTime"][:19],
                                     "%Y-%m-%dT%H:%M:%S")))
        for s in stages
        if s.get("completionTime") and s.get("firstTaskLaunchedTime"))
    print(f"\nsum stage wall ~= {wall:.0f}s  "
          f"(job-gap/driver time = {total - wall:.1f}s of {total:.1f}s)")


if __name__ == "__main__":
    main()
