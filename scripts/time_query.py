"""Time queries with the bench methodology (noop sink, codegen warm-up,
``$SPARK_GRAFT_SF_DIR`` on ``local[$SPARK_GRAFT_CPUS]``), or A/B a
runtime-settable Spark conf over them. Usage:

    python scripts/time_query.py [-n RUNS] [name ...]
    python scripts/time_query.py [-n ROUNDS] --ab KEY VAL_A VAL_B [name ...]

Names default to every HEADLINE query. ``--ab`` makes ROUNDS passes in
one session, each query under both values back to back, the arm order
flipping every round so drift and cache order cancel. It prints
per-query medians and, over the per-round totals, each arm's median
and IQR, the ratio B/A and the rounds B won. Machine calibration is
sampled before and after.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from gobblin_spark.queries import HEADLINE  # noqa: E402
from perfbench.stats import percentile  # noqa: E402


def _iqr(values) -> float:
    """Tukey hinges: the medians of the lower and upper halves."""
    s, h = sorted(values), (len(values) + 1) // 2
    return percentile(s[-h:], 50) - percentile(s[:h], 50)


def ab(spark, key: str, vals: tuple[str, str], names, rounds: int) -> None:
    walls = [{n: [] for n in names} for _ in vals]  # per arm, per query
    before = spark.conf.get(key, None)
    try:
        for r in range(rounds):
            for n in names:
                for i in (1, 0) if r % 2 else (0, 1):
                    spark.conf.set(key, vals[i])
                    walls[i][n].append(bench.time_noop(spark, n))
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    for n in names:
        ma, mb = (percentile(w[n], 50) for w in walls)
        print(f"{ma:7.3f} {mb:7.3f} {mb / ma:5.2f}x  {n}")
    tot = [[sum(w[n][r] for n in names) for r in range(rounds)]
           for w in walls]
    for v, t in zip(vals, tot):
        print(f"TOTAL {key}={v}: median {percentile(t, 50):.2f} s "
              f"IQR {_iqr(t):.2f} s over {rounds} rounds")
    wins = sum(tb < ta for ta, tb in zip(*tot))
    print(f"ratio B/A {percentile(tot[1], 50) / percentile(tot[0], 50):.3f}"
          f"; B({vals[1]}) faster in {wins}/{rounds} rounds")


def main(argv, spark) -> int:
    runs, arms = 3, None
    if argv[:1] == ["-n"]:
        runs, argv = int(argv[1]), argv[2:]
    if argv[:1] == ["--ab"]:
        arms, argv = argv[1:4], argv[4:]
    names = argv or list(HEADLINE)
    bench.warm(spark, names)
    print("calibration pre (1-thread, 16-thread):",
          bench._machine_calibration(), flush=True)
    if arms:
        ab(spark, arms[0], tuple(arms[1:]), names, runs)
    else:
        for n in names:
            walls = [bench.time_noop(spark, n) for _ in range(runs)]
            print(f"{n}: min={min(walls):.3f} runs="
                  f"{[round(w, 3) for w in walls]}", flush=True)
    print("calibration post:", bench._machine_calibration())
    return 0


if __name__ == "__main__":
    raise SystemExit(bench.cli(main, "gobblin-time-query"))
