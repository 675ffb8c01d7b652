"""Benchmark of the gobblin_spark engine: closed-loop workloads.

    python3 perfbench/run.py --workload ingest_publish --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. Workloads: ``ingest_publish`` and
``curate_dedup`` (see ``workloads.py``). One driver thread runs a
workload's operations back to back (closed loop, one client) against a
``local[N]`` session, N = min(``CORES``, available CPUs).
Inputs are generated from ``--seed`` under ``.perfbench-work/`` and
deleted when the run ends. Outputs are checked as the run goes, against
DuckDB and the generator's expectations.

Set-up runs ``SETUPS`` times: each starts the session afresh, generates
the inputs and runs one full-size operation. The first also launches
the JVM and runs a small input with the same plan shapes first; it is
reported on its own (``session.jvm_start_s``), and ``setup_s`` is the
median of the others, never pooled with it. More full-size operations
follow until successive main-operation times stop falling (``MIN_FULL``
to ``MAX_FULL`` in all); only then does the timed window of
``--seconds`` start.

End-to-end metrics (``--trace 0``), over the window's operations:
``setup_s``; ``rows_per_s``, input rows per second of operation wall;
``cpu_s_per_mrow``, CPU seconds of the driver, the JVM and its Python
workers per million input rows, less the JVM's JIT compiler threads
(``stats.JIT_THREADS``); ``job_p50_s``, the median latency of the main
operation (an ingest job, a curation pass);
``stored_bytes_per_input_byte``. Every operation kind's sample count,
median and highest supported percentile are printed on ``#`` lines,
with steal time and process CPU of the window.

``--trace 1`` alternates untraced and traced loop iterations: traced ones
wrap the package's public functions in spans (``layers.py``), the
per-layer metrics come from those, and ``trace.overhead_s`` is the
traced minus the untraced median of the main operation. The JSON line
carries ``layers.PRINTED``; spans and the whole per-layer table, each
metric with the end-to-end metric it should move, go to
``.perfbench-out/<workload>-seed<n>.json``.

The last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; ``attempted`` counts operations plus output
checks, ``failed`` the checks that failed (an operation that raises
ends the run with a non-zero exit instead).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 4  # the cold first one plus three re-set-ups in a warm JVM
# full-size operations before timing starts, counting the set-ups' own:
# at least MIN_FULL, then more until the main operation stops getting
# faster, up to MAX_FULL. The set-ups' operations run right after a
# session restart and are 30-50% slower than the ones after them, so
# at least four follow the last set-up. On a 4-vCPU host the operation
# still falls by a few per cent an operation after that (JIT
# compilation); more warm-up would lengthen every run past a minute
MIN_FULL, MAX_FULL = 8, 10
# Spark task slots. A job of either workload keeps about 1.3 cores busy
# on average; on a 4-vCPU host local[2] ran them no slower than
# local[4] (100k-row ingest job 1.8-1.9 s against 2.2-2.4 s) and leaves
# CPUs to the driver, the JIT compiler and GC threads
CORES = 2


def session(cores: int, work: str):
    from gobblin_spark import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{work}/tmp",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        })


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
            raise


def steady(times) -> bool:
    """True once neither of the two newest main-operation times is a new
    low (by more than 3%) against the ones before them."""
    return len(times) >= 3 and min(times[-2:]) > 0.97 * min(times[:-2])


def main_time(wl, ops, mark: int) -> float:
    return sum(w for k, w, _ in ops[mark:] if k == wl.primary)


def timed_loop(wl, seconds: float, tracer):
    """Closed loop for *seconds*. With a tracer, iterations alternate
    between untraced and traced (wrappers installed)."""
    from perfbench import layers
    from perfbench.trace import NullTracer

    iters = []  # (traced, ops, rows)
    t_end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < t_end or len(iters) < (2 if tracer else 1):
        traced = tracer is not None and i % 2 == 1
        ops: list = []
        wl.tracer = tracer if traced else NullTracer()
        if traced:
            tracer.op = i
            layers.install(tracer)
        try:
            rows = wl.step(ops)
        finally:
            if traced:
                tracer.uninstall()
        iters.append((traced, ops, rows))
        i += 1
    return iters


def set_up(cls, seed: int, work: str, spark_box: list, meter):
    """The repeated set-ups and the warm-up after them. Returns the
    warmed workload and a record of what the set-up cost. The live
    session is kept in *spark_box* so the caller can always stop it."""
    from perfbench.trace import NullTracer

    cores = min(CORES, len(os.sched_getaffinity(0)))
    info = {"setups": [], "starts": [], "full_times": [], "warm": [],
            "workloads": []}
    warm = info["warm"]  # every warm-up operation: (kind, wall, cpu)
    for k in range(SETUPS):
        t0 = time.perf_counter()
        if spark_box:
            spark_box.pop().stop()
        spark_box.append(session(cores, work))
        info["starts"].append(time.perf_counter() - t0)
        shutil.rmtree(f"{work}/setup{k - 1}", ignore_errors=True)
        wl = cls(spark_box[0], f"{work}/setup{k}", seed, NullTracer(), meter)
        info["workloads"].append(wl)
        wl.prepare()
        if k == 0:
            wl.warm(warm)
        mark = len(warm)
        wl.step(warm)
        info["full_times"].append(main_time(wl, warm, mark))
        info["setups"].append(time.perf_counter() - t0)
    full = info["full_times"]
    while len(full) < MIN_FULL or (not steady(full) and len(full) < MAX_FULL):
        mark = len(warm)
        wl.step(warm)
        full.append(main_time(wl, warm, mark))
    print("# setups: " + " ".join(f"{x:.2f}" for x in info["setups"])
          + " s; session starts: " + " ".join(f"{x:.2f}" for x in info["starts"])
          + " s; main-operation warm-up times: "
          + " ".join(f"{x:.2f}" for x in full) + " s", file=sys.stderr)
    return wl, info


def run(args, work: str) -> dict:
    from perfbench import layers, stats
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    spark_box: list = []
    meter = stats.CpuMeter([os.getpid()])
    try:
        wl, info = set_up(WORKLOADS[args.workload], args.seed, work,
                          spark_box, meter)
        tracer = Tracer(spark_box[0]) if args.trace else None
        steal0 = stats.steal_seconds()
        cpu0, jit0 = meter.sample()
        iters = timed_loop(wl, args.seconds, tracer)
        cpu1, jit1 = meter.sample()
        host = {"steal_s": stats.steal_seconds() - steal0,
                "process_cpu_s": cpu1 - cpu0, "jit_cpu_s": jit1 - jit0}
        wl.final_checks()
        stored = wl.stored_bytes()
        if tracer:
            jobs = tracer.spark_jobs()
    finally:
        if spark_box:
            stop_session(spark_box[0])

    untraced = [it for it in iters if not it[0]]
    window = [op for _, ops, _ in untraced for op in ops]
    kinds = stats.by_kind(window)
    rows = sum(n for _, _, n in untraced)
    wall = sum(w for _, w, _ in window)
    cpu = sum(c for _, _, c in window)
    n_ops = len(info["warm"]) + sum(len(ops) for _, ops, _ in iters)
    failed = [f for w in info["workloads"] for f in w.failed_checks]
    result = {
        "correct": not failed,
        "attempted": n_ops + sum(w.checks for w in info["workloads"]),
        "failed": len(failed),
        "summary": {k: {**s.summary(), "values": s.values}
                    for k, s in sorted(kinds.items())},
        "failed_checks": failed,
        "host": host,
    }
    if not tracer:
        result["metrics"] = {
            "setup_s": (statistics.median(info["setups"][1:]), "s"),
            "rows_per_s": (rows / wall, "1/s"),
            "cpu_s_per_mrow": (cpu / rows * 1e6, "s"),
            "job_p50_s": (kinds[wl.primary].median(), "s"),
            "stored_bytes_per_input_byte": (stored / wl.input_bytes, "ratio"),
        }
        return result
    session_info = {"start_s": statistics.median(info["starts"][1:]),
                    "jvm_start_s": info["starts"][0],
                    "warmup_s": sum(w for _, w, _ in info["warm"]),
                    "warmup_ops": len(info["warm"])}
    table, spans = layers.layer_metrics(
        tracer, jobs, [it for it in iters if it[0]], wl.primary, kinds,
        session_info, host)
    result["metrics"] = {name: (table.get(name, 0.0),
                                layers.PER_LAYER[name][0])
                         for name in layers.PRINTED}
    out_dir = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/{args.workload}-seed{args.seed}.json", "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "layers": {n: {"value": table.get(n, 0.0), "unit": u,
                                  "moves": m}
                              for n, (u, m) in layers.PER_LAYER.items()},
                   "summary": result["summary"], "spans": spans}, f, indent=1)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_publish", "curate_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import gobblin_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: cannot import the engine from {ROOT}: {ex}",
              file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and deletes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = f"{work}/tmp"
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k, s in result.pop("summary").items():
        print(f"# {k} times: " + " ".join(f"{w:.2f}" for w in s.pop("values")))
        print(f"# {k}: {s}")
    print(f"# host: {result.pop('host')}")
    for what in result.pop("failed_checks"):
        print(f"# FAILED CHECK: {what}")
    result["metrics"] = {k: {"value": v, "unit": u}
                         for k, (v, u) in result["metrics"].items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
