"""Dump .explain("formatted") for queries, or print their plan census.

Usage:
    python scripts/dump_plans.py SUFFIX [name ...]
    python scripts/dump_plans.py --census [name ...]

Names default to every HEADLINE query; plans are built at
``$SPARK_GRAFT_SF_DIR`` on the bench session, so they match what
bench.py executes. Queries with in-query fixture builds execute their
builds; only the RETURNED DataFrame's plan is recorded (the timed
noop-write plan minus the fixture side effects).

The dump writes plans/<round>/<query>_<SUFFIX>.txt (round dir r14;
override with $SPARK_GRAFT_PLANS_DIR). ``--census`` prints, per query,
the counts that decide whether a plan survives a 100x scale-up (the
numbers in PLANS.md): hash-partitioned exchanges (shuffles), broadcast
hash joins, scan read schemas and filters pushed to the parquet reader.
"""

from __future__ import annotations

import os
import re
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from gobblin_spark.queries import HEADLINE  # noqa: E402

OUT_DIR = os.environ.get(
    "SPARK_GRAFT_PLANS_DIR", os.path.join(bench.ROOT, "plans", "r14"))


def census(spark, name: str) -> dict[str, int]:
    plan = (bench.query(name)(spark, bench.SF_DIR)
            ._jdf.queryExecution().executedPlan().toString())
    return {
        "shuffles": len(re.findall(r"Exchange hashpartitioning", plan)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "scans": len(re.findall(r"ReadSchema: struct<", plan)),
        "pushed": len(re.findall(r"DataFilters: \[[^\]]", plan)),
    }


def dump(spark, name: str, suffix: str) -> str:
    try:
        df = bench.query(name)(spark, bench.SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
    except Exception:
        plan = "PLAN FAILED\n" + traceback.format_exc()
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
    with open(path, "w") as f:
        f.write(plan)
    return path


def main(argv, spark) -> int:
    mode, names = argv[0], argv[1:] or list(HEADLINE)
    for name in names:
        if mode != "--census":
            print(f"wrote {dump(spark, name, mode)}")
            continue
        try:
            c = census(spark, name)
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: census failed: {type(ex).__name__}: {ex}")
            continue
        print(f"{name}: " + " ".join(f"{k}={v}" for k, v in c.items()))
    return 0


if __name__ == "__main__":
    raise SystemExit(bench.cli(main, "gobblin-plan-dump"))
