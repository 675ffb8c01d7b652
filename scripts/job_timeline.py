"""Per-query Spark job timeline: job walls + driver gaps between jobs.

Runs each named query once (after a codegen warm) in a UI-enabled
bench session, then reads the status API's job list to print each
job's wall and the GAP since the previous job finished — gaps are
driver-side work (planning, py4j, python planner rounds, metadata IO),
the part invisible to stage metrics.
Usage: python scripts/job_timeline.py [query ...]   (default: HEADLINE)
"""

from __future__ import annotations

import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from gobblin_spark.queries import HEADLINE  # noqa: E402


def parse_ts(s):
    return dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()


def main(argv, spark) -> int:
    api = bench._StatusApi(spark)
    for n in argv or HEADLINE:
        bench.warm(spark, [n])
        seen = {j["jobId"] for j in api.jobs() or []}
        wall = bench.time_noop(spark, n)
        fresh = sorted((j for j in api.jobs() or [] if j["jobId"] not in seen),
                       key=lambda j: j["jobId"])
        print(f"== {n}: wall {wall:.3f}s, {len(fresh)} jobs")
        prev_end = None
        tot_job = tot_gap = 0.0
        for j in fresh:
            sub = parse_ts(j["submissionTime"])
            end = parse_ts(j["completionTime"])
            gap = (sub - prev_end) if prev_end is not None else 0.0
            tot_job += end - sub
            tot_gap += max(gap, 0.0)
            print(f"   job {j['jobId']:>4} {end-sub:7.3f}s"
                  f"  gap-before {gap:7.3f}s  stages={len(j['stageIds'])}"
                  f"  tasks={j['numTasks']}")
            prev_end = end
        print(f"   sum(job)={tot_job:.3f}s sum(gaps)={tot_gap:.3f}s"
              f"  pre/post+overhead={wall - tot_job - tot_gap:.3f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(bench.cli(main, "gobblin-job-timeline", ui=True))
