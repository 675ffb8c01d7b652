"""Declarative pipeline spec: the full Constructs chain — source →
converters → quality → fork → writers → publish — as one executable
plan, batch or streaming.

Reference mapping (all relative to /root/reference/):
- Constructs (gobblin-api/src/main/java/org/apache/gobblin/
  Constructs.java:33-50): SOURCE, EXTRACTOR, CONVERTER, ROW_QUALITY_CHECKER,
  TASK_QUALITY_CHECKER, FORK_OPERATOR, DATA_WRITER — the fixed stage
  order every Gobblin task runs. ``Pipeline`` holds exactly those slots.
- Task execution (gobblin-runtime/.../task/Task.java:173-260): per-fork
  converter→quality→writer chains; here each ``Branch`` carries its own
  transforms and sink over the shared parent rows.
- JobLauncher commit (gobblin-runtime/.../AbstractJobLauncher.java:442):
  stage everything, evaluate task-level policies, then the job-level
  commit policy decides what publishes — delegated to sinks/publish.py.

Spark design: a Pipeline never materializes intermediate rows — it
COMPOSES lazy DataFrame plans, so Catalyst optimizes across stage
boundaries (a converter's projection pushes into the scan even though
the user declared it three stages later). The fork point is ONE
row-policy-flagged frame; when several writes read it, its rows are
kept in a lazy local checkpoint: the first write to reach a partition
stores that partition's rows once, as deserialized ``UnsafeRow``
objects (``MEMORY_AND_DISK_DESER``: no Java serialization, no column
encoding; a block that does not fit in memory spills to disk), and
the other writes read those objects back. The branches and the
quarantine are filters over it, staged concurrently, so the source is
scanned once.
Streaming mode wraps the identical composition in a foreachBatch epoch
(streaming/runner.py semantics).
"""

from __future__ import annotations

import time as _time
from dataclasses import dataclass, field as dc_field
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from gobblin_spark.operators import quality as Q
from gobblin_spark.session import release_checkpoint
from gobblin_spark.sinks import publish as P

Transform = Callable[[DataFrame], DataFrame]


@dataclass
class Branch:
    """One fork branch: mask → its own converter chain → its own sink
    (Task.java's per-fork chain)."""

    name: str
    mask: Column | None = None  # None = identity branch (all rows)
    transforms: Sequence[Transform] = ()
    final_dir: str | None = None
    fmt: str = "parquet"
    partition_by: Sequence[str] | None = None
    task_policies: Sequence[Callable[[DataFrame], Q.TaskPolicyResult]] = ()


@dataclass
class Pipeline:
    """The declarative job spec. ``source`` is a callable producing the
    extracted DataFrame; stages apply in Constructs order."""

    source: Callable[[SparkSession], DataFrame]
    transforms: Sequence[Transform] = ()
    row_policies: Sequence[Q.RowPolicy] = ()
    branches: Sequence[Branch] = ()
    quarantine_dir: str | None = None
    commit_policy: P.JobCommitPolicy = P.JobCommitPolicy.COMMIT_ON_FULL_SUCCESS
    job_id: str | None = None


@dataclass
class PipelineResult:
    report: P.PublishReport | None
    quarantined: int = 0
    branch_files: dict[str, int] = dc_field(default_factory=dict)
    dataframes: dict[str, DataFrame] = dc_field(default_factory=dict)
    metrics: "object | None" = None  # MetricContext for this run
    events: list = dc_field(default_factory=list)  # TrackingEvents emitted


def _flagged(pipeline: Pipeline, spark: SparkSession) -> DataFrame:
    """The fork point: source → converters → the ``_ok`` row-policy flag
    (constant true when there are no policies)."""
    df = pipeline.source(spark)
    for t in pipeline.transforms:
        df = t(df)
    return Q.with_ok_flag(df, pipeline.row_policies)


def _split(flagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(passed, quarantined): two filters over ONE flagged frame
    (RowLevelPolicyChecker.java:103-127)."""
    ok = F.col("_ok")
    return flagged.filter(ok).drop("_ok"), flagged.filter(~ok).drop("_ok")


def compose(pipeline: Pipeline, spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """Build the shared (passed, quarantined) plan up to the fork point —
    pure composition, no action."""
    return _split(_flagged(pipeline, spark))


def branch_frames(pipeline: Pipeline, spark: SparkSession) -> dict[str, DataFrame]:
    """The per-branch DataFrames (post-mask, post-branch-transforms) —
    the dry-run surface: inspect/.explain each branch without writing."""
    passed, _ = compose(pipeline, spark)
    return {b.name: _branch_frame(passed, b) for b in pipeline.branches}


def _branch_frame(passed: DataFrame, b: Branch) -> DataFrame:
    bdf = passed.filter(b.mask) if b.mask is not None else passed
    for t in b.transforms:
        bdf = t(bdf)
    return bdf


def run(pipeline: Pipeline, spark: SparkSession) -> PipelineResult:
    """Execute the spec: one scan of the source, kept as the flagged
    frame's checkpointed rows (deserialized ``UnsafeRow``s in memory,
    spilling to disk), feeds every write; branch and quarantine
    staging writes, plus branch audits, run concurrently. ONE job-level
    commit then publishes the branches per the commit policy
    (AbstractJobLauncher.java:442); the quarantine publishes with that
    commit (directly when no branch writes) and is aborted with it, so
    a retry never re-appends what a failed attempt quarantined.
    ``result.quarantined`` is the quarantine write's row observation (-1
    if unavailable: published anyway); an empty quarantine is dropped,
    creating no dir.

    Branches without a ``final_dir`` are returned as DataFrames instead
    of written — a pipeline can end in further programmatic use. They
    are built on the flagged frame before its checkpoint, so they
    recompute from the source and stay readable after the run releases
    the checkpointed rows.

    Failure mode: Spark never recomputes a lost local-checkpoint block
    (an executor lost mid-run). A write that needs one fails, and so
    does ``run()``: every staging dir is aborted and nothing publishes,
    so the caller's watermark does not move and a retry is safe.

    Every run is instrumented (gobblin-metrics analog): a per-job
    MetricContext under the process root carries quarantined/rows/files
    counters and the job timer, and a JobCommit TrackingEvent records
    the lineage (branch → final_dir, rows, files) — metrics.py."""
    from gobblin_spark import metrics as M

    ctx = M.root_context().child(f"job.{pipeline.job_id or 'job'}")
    flagged = _flagged(pipeline, spark)
    # returned frames read the source, never the checkpoint released below
    returned, _ = _split(flagged)
    fan_out = (len(pipeline.branches) > 1
               or pipeline.quarantine_dir is not None)
    if fan_out:
        # the fork's rows, stored once by whichever write reaches a
        # partition first (lazy: no job of its own); see the failure
        # mode in the docstring — a lost block is not recomputed.
        # PySpark's MEMORY_AND_DISK is the SERIALIZED level: every row
        # would pass through Java serialization on store and on read
        flagged = flagged.localCheckpoint(
            eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK_DESER)
    passed, quarantined = _split(flagged)
    result = PipelineResult(report=None, metrics=ctx)

    job_timer = ctx.timer("job_duration")
    t0 = _time.monotonic()
    writes: list[tuple[DataFrame, Branch]] = []  # branches, then quarantine
    staged: dict[int, P.StagedDataset] = {}  # by index into writes
    try:
        for b in pipeline.branches:
            if b.final_dir:
                writes.append((_branch_frame(passed, b), b))
            else:
                result.dataframes[b.name] = _branch_frame(returned, b)
        if not pipeline.branches:  # sink-less pipeline: expose the main frame
            result.dataframes["main"] = returned
        n_branch = len(writes)
        if pipeline.quarantine_dir is not None:
            # staged + rename-merged, NOT a direct append: a failed v2-
            # committer append leaves partial files visible (advice-r13)
            writes.append((quarantined, Branch(
                "quarantine", final_dir=pipeline.quarantine_dir)))

        # staging writes are INDEPENDENT jobs over the shared
        # checkpointed rows: a small thread pool lets a later write's
        # tasks back-fill executors freed by an earlier one's tail
        # (guide §2.6). Concurrent first-computation of a checkpointed
        # partition scans once: the BlockManager's per-partition lock
        # lets one task compute and store the rows and the others read
        # the stored block.
        def _stage_one(i):
            bdf, b = writes[i]
            s = P.stage(bdf, b.final_dir, name=b.name, fmt=b.fmt,
                        partition_by=b.partition_by, job_id=pipeline.job_id)
            if b.task_policies:
                P.audit(s, spark, b.task_policies)
            staged[i] = s

        if len(writes) > 1:
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(max_workers=min(3, len(writes))) as ex:
                futs = [ex.submit(_stage_one, i) for i in range(len(writes))]
                errs = [f.exception() for f in futs]
            first = next((e for e in errs if e is not None), None)
            if first is not None:
                raise first
        else:
            for i in range(len(writes)):
                _stage_one(i)

        branch_staged = [staged[i] for i in range(n_branch)]
        if branch_staged:
            result.report = P.commit(branch_staged, spark, pipeline.commit_policy)
            sub = M.EventSubmitter("gobblin.pipeline", context=ctx,
                                   job_id=str(pipeline.job_id or "job"))
            lineage: dict[str, str] = {}
            for s in branch_staged:
                if s.write:
                    result.branch_files[s.name] = s.write.files
                    ctx.counter("files_written").inc(s.write.files)
                    if s.write.rows >= 0:
                        ctx.counter("records_written").inc(s.write.rows)
                    lineage[f"dest.{s.name}"] = s.final_dir
                    lineage[f"rows.{s.name}"] = str(s.write.rows)
            result.events.append(
                sub.submit(
                    "JobCommit" if result.report.committed else "JobAbort",
                    committed=str(result.report.committed),
                    published=",".join(result.report.published),
                    aborted=",".join(result.report.aborted),
                    **lineage,
                )
            )
        if pipeline.quarantine_dir is not None:
            quar = staged[n_branch]
            result.quarantined = quar.write.rows
            if quar.write.rows >= 0:
                ctx.counter("records_quarantined").inc(quar.write.rows)
            if quar.write.rows == 0 or (result.report is not None
                                        and not result.report.committed):
                P.abort_staged(quar, spark)
            else:
                P.publish_staged(quar, spark)
    except BaseException:
        # abort every staging dir before re-raising, or retried
        # pipelines inherit orphaned staging trees (advice-r13); a
        # published dataset has none left
        for s in staged.values():
            try:
                P.abort_staged(s, spark)
            except Exception:
                pass
        raise
    finally:
        job_timer.update(_time.monotonic() - t0)
        if fan_out:
            release_checkpoint(flagged)
    return result


def run_streaming(
    pipeline: Pipeline,
    stream_df: DataFrame,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
    timeout_sec: int | None = 300,
):
    """Run the SAME spec over a stream: every micro-batch is a flush
    epoch executing the full stage→audit→commit protocol (staging dirs
    are unique per epoch; part-file names are unique, so merge-rename
    into the final dir is append-semantics across epochs). Replay
    safety: after an epoch commits, a ``_epoch-<ckpt>-<id>.done``
    marker lands in each published branch dir; a re-delivered
    micro-batch whose marker exists is skipped, so replay-after-commit
    never publishes a second copy (the foreachBatch twin of
    streaming/runner.py's epoch ledger). The remaining window is a
    crash BETWEEN commit and marker write — bounded by driver-side
    metadata ops; for strict per-epoch idempotence use the runner's
    dynamic-partition path. The batch and streaming paths
    share every line of pipeline logic — the reference's
    batch/streaming duality (Task.java vs StreamModelTaskRunner)
    without a second implementation. Returns the accumulated
    PipelineResults."""
    import dataclasses

    results: list[PipelineResult] = []
    from gobblin_spark.streaming.runner import path_token

    # the shared path-token primitive (the streaming runner's run
    # token additionally binds the checkpoint LINEAGE id; batch
    # markers keep the pure path token for marker-name stability)
    ck_token = path_token(checkpoint_dir)
    marked_dirs = [b.final_dir for b in pipeline.branches if b.final_dir]

    def _marker(spark, final_dir: str, epoch_id: int):
        fs, base, jvm = P._fs(spark, final_dir)
        return fs, jvm.org.apache.hadoop.fs.Path(
            base, f"_epoch-{ck_token}-{epoch_id}.done")

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # PER-BRANCH replay skip (audit-r7): a branch whose marker
        # exists definitely committed AND marked — re-publishing it on
        # a partial-marker replay (crash midway through the marker
        # loop) was a guaranteed duplicate. Only unmarked writing
        # branches re-run; the remaining window (published-but-
        # unmarked) is the documented commit-vs-marker gap.
        todo, done_markers = [], 0
        for b in pipeline.branches:
            if b.final_dir:
                fs, p = _marker(spark, b.final_dir, epoch_id)
                if fs.exists(p):
                    done_markers += 1
                    continue
            todo.append(b)
        if marked_dirs and done_markers == len(marked_dirs):
            return  # replayed epoch: everything already published
        epoch_pl = dataclasses.replace(
            pipeline,
            branches=todo,
            source=lambda s: batch_df,
            job_id=f"{pipeline.job_id or 'stream'}-e{epoch_id}",
            # r11 audit: a PARTIAL-marker replay proves this epoch's
            # run() committed once, and its quarantine (no marker of
            # its own) published with that commit — re-running it
            # would duplicate every quarantined row. A crash before
            # any marker is the documented commit-vs-marker gap.
            quarantine_dir=(None if done_markers
                            else pipeline.quarantine_dir),
        )
        res = run(epoch_pl, spark)
        # mark only branches that actually PUBLISHED this epoch — a
        # branch aborted under COMMIT_SUCCESSFUL_TASKS must replay,
        # not get marked done by its siblings' success
        published = set(res.report.published) if res.report else set()
        for b in todo:
            if b.final_dir and b.name in published:
                fs, p = _marker(spark, b.final_dir, epoch_id)
                fs.create(p, True).close()
        results.append(res)

    writer = (
        stream_df.writeStream.foreachBatch(epoch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    q = writer.start()
    if timeout_sec is not None:
        q.awaitTermination(timeout_sec)
    return results
