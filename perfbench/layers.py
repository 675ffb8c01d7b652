"""The package layers the traced run wraps, and the per-layer table.

``PER_LAYER`` names every per-layer metric with its unit and the
end-to-end metric it is expected to move. Per-call timings are medians
over the calls made in traced iterations; counts and Spark figures are
means per traced iteration of the workload's loop.

The traced run writes the whole table to its trace file. Its JSON line
carries ``PRINTED``: the metrics both BENCHMARK.json workloads measure.
A layer one workload never calls (``plans``, ``sinks.publish`` and
``state`` on curate_dedup; ``functions`` on ingest_publish) would read a
constant 0 there, so those stay in the trace file only, as does steal
time, which can read 0 on a quiet host.
"""

from __future__ import annotations

import statistics

from perfbench.trace import covered, self_times

PER_LAYER = {
    "session.start_s": ("s", "setup_s"),
    "session.jvm_start_s": ("s", "setup_s"),
    "session.warmup_s": ("s", "setup_s"),
    "session.warmup_ops": ("count", "setup_s"),
    "plans.run.self_s": ("s", "job_p50_s"),
    "sources.read_parquet_s": ("s", "job_p50_s"),
    "operators.quality.check_rows_s": ("s", "job_p50_s"),
    "sinks.publish.stage_s": ("s", "job_p50_s"),
    "sinks.publish.publish_staged_s": ("s", "job_p50_s"),
    "sinks.publish.commit_s": ("s", "job_p50_s"),
    "sinks.writers.write_data_s": ("s", "job_p50_s"),
    "sinks.writers.files_written": ("count", "stored_bytes_per_input_byte"),
    "sinks.writers.bytes_written": ("bytes", "stored_bytes_per_input_byte"),
    "state.watermark_commit_s": ("s", "job_p50_s"),
    "sources.input_rows": ("count", "rows_per_s"),
    "sources.input_bytes": ("bytes", "cpu_s_per_mrow"),
    "functions.dedup.dedup_exact_s": ("s", "job_p50_s"),
    "functions.dedup.dedup_keep_best_s": ("s", "job_p50_s"),
    "spark.jobs": ("count", "job_p50_s"),
    "spark.stages": ("count", "job_p50_s"),
    "spark.tasks": ("count", "cpu_s_per_mrow"),
    "spark.executor_run_s": ("s", "cpu_s_per_mrow"),
    "spark.executor_cpu_s": ("s", "cpu_s_per_mrow"),
    "spark.shuffle_write_bytes": ("bytes", "cpu_s_per_mrow"),
    "spark.spill_bytes": ("bytes", "cpu_s_per_mrow"),
    "spark.driver_gap_s": ("s", "job_p50_s"),
    "host.steal_s": ("s", "none (drift diagnostic)"),
    "host.process_cpu_s": ("s", "none (drift diagnostic)"),
    "host.jit_cpu_s": ("s", "none (drift diagnostic)"),
    "trace.overhead_s": ("s", "none (tracing cost)"),
}

PRINTED = (
    "session.start_s", "session.jvm_start_s", "session.warmup_s",
    "session.warmup_ops", "sources.read_parquet_s", "sources.input_rows",
    "sources.input_bytes", "operators.quality.check_rows_s",
    "sinks.writers.write_data_s", "sinks.writers.files_written",
    "sinks.writers.bytes_written", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.driver_gap_s",
    "host.process_cpu_s", "host.jit_cpu_s", "trace.overhead_s",
)

#: wrapped function span name -> per-layer metric of its per-call median
CALL_METRICS = {
    "sources.read_parquet": "sources.read_parquet_s",
    "operators.quality.check_rows": "operators.quality.check_rows_s",
    "sinks.publish.stage": "sinks.publish.stage_s",
    "sinks.publish.publish_staged": "sinks.publish.publish_staged_s",
    "sinks.publish.commit": "sinks.publish.commit_s",
    "sinks.writers.write_data": "sinks.writers.write_data_s",
    "state.watermark_commit": "state.watermark_commit_s",
    # benchmark-side steps: the lazy dedup function plus the write that
    # runs it
    "functions.dedup.dedup_exact": "functions.dedup.dedup_exact_s",
    "functions.dedup.dedup_keep_best": "functions.dedup.dedup_keep_best_s",
}


def _count_write(result, counts):
    counts["files"] = result.files
    counts["bytes"] = result.bytes_written


def install(tracer) -> None:
    """Wrap the public functions each layer exposes. Every name is looked
    up through its module or class at call time by its callers, so the
    wrappers see calls made inside the package too."""
    from gobblin_spark import state
    from gobblin_spark.operators import quality
    from gobblin_spark.plans import pipeline
    from gobblin_spark.sinks import publish, writers
    from gobblin_spark.sources import files

    tracer.install(
        (pipeline, "run", "plans.run", None),
        (files, "read_parquet", "sources.read_parquet", None),
        (quality, "check_rows", "operators.quality.check_rows", None),
        (publish, "stage", "sinks.publish.stage", None),
        (publish, "publish_staged", "sinks.publish.publish_staged", None),
        (publish, "commit", "sinks.publish.commit", None),
        (publish, "write_data", "sinks.writers.write_data", _count_write),
        (writers, "write_data", "sinks.writers.write_data", _count_write),
        (state.WatermarkStore, "commit", "state.watermark_commit", None),
    )


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(tracer, jobs, traced_iters, primary, untraced_kinds,
                  session_info, host):
    """Fold spans and Spark jobs into the ``PER_LAYER`` table. Returns
    (table, spans as plain dicts)."""
    spans = tracer.spans
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)

    def subtree_jobs(sid):
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.extend(jobs.get(cur, ()))
            todo.extend(kids.get(cur, ()))
        return out

    selfs = self_times(spans)
    table = {f"session.{k}": v for k, v in session_info.items()}
    table.update({f"host.{k}": v for k, v in host.items()})
    calls: dict[str, list] = {}
    for s in spans:
        calls.setdefault(s.name, []).append(s)
    for name, metric in CALL_METRICS.items():
        table[metric] = _median([s.end - s.start for s in calls.get(name, ())])
    table["plans.run.self_s"] = _median(
        [selfs[s.id] for s in calls.get("plans.run", ())])

    n_iter = max(1, len(traced_iters))
    roots = [s for s in spans if s.parent is None]
    all_jobs = [j for js in jobs.values() for j in js]
    # a job whose stages were all skipped (shuffle reuse) has no totals
    sums = {k: sum(j.get(k, 0) for j in all_jobs)
            for k in ("stages", "tasks", "run_s", "cpu_s",
                      "shuffle_write_bytes", "spill_bytes", "input_rows",
                      "input_bytes")}
    for key, metric in (("stages", "spark.stages"), ("tasks", "spark.tasks"),
                        ("run_s", "spark.executor_run_s"),
                        ("cpu_s", "spark.executor_cpu_s"),
                        ("shuffle_write_bytes", "spark.shuffle_write_bytes"),
                        ("spill_bytes", "spark.spill_bytes"),
                        ("input_rows", "sources.input_rows"),
                        ("input_bytes", "sources.input_bytes")):
        table[metric] = sums[key] / n_iter
    table["spark.jobs"] = len(all_jobs) / n_iter
    table["spark.driver_gap_s"] = sum(
        (s.end - s.start) - covered(
            [(j["start"], j["end"]) for j in subtree_jobs(s.id)],
            s.start, s.end) for s in roots) / n_iter
    writes = calls.get("sinks.writers.write_data", ())
    table["sinks.writers.files_written"] = sum(
        s.counts.get("files", 0) for s in writes) / n_iter
    table["sinks.writers.bytes_written"] = sum(
        s.counts.get("bytes", 0) for s in writes) / n_iter
    traced_primary = [w for _, ops, _ in traced_iters
                      for k, w, _ in ops if k == primary]
    if traced_primary and primary in untraced_kinds:
        table["trace.overhead_s"] = (statistics.median(traced_primary)
                                     - untraced_kinds[primary].median())
    out_spans = [{"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                  "parent": s.parent, "op": s.op, "self_s": selfs[s.id],
                  "jobs": len(jobs.get(s.id, ())), **s.counts}
                 for s in spans]
    return table, out_spans
