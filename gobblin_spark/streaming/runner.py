"""Streaming runner: flush epochs over Structured Streaming micro-batches,
with per-epoch quality routing, late-data handling, and watermark commits.

Reference mapping (all relative to /root/reference/):
- StreamingExtractor / FlushingExtractor flush epochs (gobblin-core-base/
  .../extractor/FlushingExtractor.java:81): a FlushControlMessage closes
  an epoch, commits its data and its watermark together. Here every
  micro-batch IS a flush epoch — ``foreachBatch`` gives the epoch id,
  the batch commits through the atomic publish path, and the event-time
  frontier is persisted per epoch via ``state.WatermarkStore``.
- Checkpointing (gobblin-runtime/.../StateStoreBasedWatermarkStorage):
  Spark's own checkpoint dir makes the source offsets replayable; the
  event-time frontier store adds the Gobblin-visible watermark.
- Late data routing (gobblin-compaction/.../mapreduce/MRCompactor.java:
  133,174-189): records older than the committed frontier minus the
  allowed lateness land in a ``_late`` subdirectory; compaction's
  ``needs_recompaction`` (operators/compaction.py) then decides on a
  late-merge. On-time/late is decided per epoch against the frontier as
  of the PREVIOUS epoch — deterministic and replayable.
- Per-batch quality + fork: RowLevelPolicyChecker quarantine and
  ForkOperator branch routing run inside the epoch, so bad rows land in
  ``_quarantine`` and branches in their own dirs, all flush-atomic.

Scale notes: foreachBatch receives a normal DataFrame — every batch
transformation stays whole-stage-codegen JVM work; the Python function
only COMPOSES the plan. State (frontier) is O(datasets) driver metadata.
Each epoch writes its own ``gobblin_epoch=<token>-<id>`` partition via
dynamic partition overwrite, then commits the epoch marker FIRST —
carrying the new frontier — and the frontier watermark second (the
marker is the source of truth; a crash between the two is repaired on
restart from the marker's frontier). A re-delivered micro-batch either
no-ops (marker present) or rewrites its own partition — exactly-once
visible output without any read-modify-write. Compaction (operators/compaction.py) owns small-file hygiene,
exactly like the reference's compactor.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from gobblin_spark.state import WatermarkStore

LATE_DIR = "_late"
QUARANTINE_DIR = "_quarantine"
# Per-epoch partition column (NOT underscore-prefixed: Spark's listing
# hides `_*` paths, which would make `_epoch=N` dirs invisible to readers)
EPOCH_COL = "gobblin_epoch"


# ------------------------------------------------------------------
# streaming sources
# ------------------------------------------------------------------


def file_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-arrival stream (the reference's FileBasedSource run in
    continuous mode). ``maxFilesPerTrigger`` bounds epoch size."""
    reader = spark.readStream.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic load source (reference test harness's InfiniteSource)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


# ------------------------------------------------------------------
# late-data routing
# ------------------------------------------------------------------


def split_late(
    df: DataFrame, ts_col: str, frontier, allowed_lateness: _dt.timedelta
) -> tuple[DataFrame, DataFrame]:
    """(on_time, late): rows with ``ts < frontier - allowed_lateness``
    are late (MRCompactor's late-record set). ``frontier=None`` (first
    epoch) → nothing is late. NULL event times are ON-TIME (they were
    on the first epoch too; `ts < cutoff` alone is NULL for them and
    would drop the row from BOTH outputs). DATE frontiers round the
    lateness UP to whole days (sub-day lateness on date granularity
    would silently become zero); any other frontier type is a loud
    error — a non-temporal watermark under this key means the store
    is being shared with an incremental-pull watermark."""
    if frontier is None:
        return df, df.filter(F.lit(False))
    if isinstance(frontier, _dt.datetime):
        try:
            cutoff = frontier - allowed_lateness
        except OverflowError:  # lateness beyond datetime.min ≡ infinite
            return df, df.filter(F.lit(False))
    elif isinstance(frontier, _dt.date):
        import math as _math

        days = _math.ceil(allowed_lateness.total_seconds() / 86400.0)
        try:
            cutoff = frontier - _dt.timedelta(days=days)
        except OverflowError:
            return df, df.filter(F.lit(False))
    else:
        raise TypeError(
            f"late-split frontier must be a datetime/date, got "
            f"{type(frontier).__name__} ({frontier!r}) — the dataset "
            "watermark key holds a non-temporal value")
    lit = F.lit(cutoff)
    if isinstance(cutoff, _dt.datetime) and cutoff.tzinfo is None:
        lit = F.expr(
            f"TIMESTAMP_NTZ '{cutoff.isoformat(sep=' ', timespec='microseconds')}'"
        )
    is_late = F.coalesce(F.col(ts_col) < lit, F.lit(False))
    return df.filter(~is_late), df.filter(is_late)


# ------------------------------------------------------------------
# the epoch runner
# ------------------------------------------------------------------


# bounded per-spec stats retention — the driver keeps the most recent
# N epochs' telemetry (audit r8: unbounded growth on long streams;
# audit r13: the replay branch skipped the bound entirely)
STATS_CAP = 10_000


@dataclass
class EpochStats:
    epoch_id: int
    rows: int = 0
    late_rows: int = 0
    quarantined: int = 0
    frontier: object = None
    replayed: bool = False  # epoch was already committed; writes skipped


@dataclass
class IngestSpec:
    """One streaming ingest pipeline: stream → per-epoch transform →
    quality split → late routing → append to final/_late/_quarantine →
    frontier commit. The streaming twin of the batch Constructs chain."""

    final_dir: str
    ts_col: str
    transform: Callable[[DataFrame], DataFrame] | None = None
    row_policies: Sequence = ()  # operators.quality.RowPolicy
    allowed_lateness: _dt.timedelta = _dt.timedelta(hours=1)
    dataset: str = "stream"
    fmt: str = "parquet"
    partition_by: Sequence[str] | None = None
    # in-flight schema change (SURVEY §2.11): every epoch is conformed
    # to this Catalyst schema (missing nullable cols filled, compatible
    # types promoted) before anything else — one directory, one schema,
    # even when upstream producers evolve mid-stream
    target_schema: object | None = None
    stats: list[EpochStats] = field(default_factory=list)


def canonical_checkpoint(path: str) -> str:
    """One spelling per checkpoint location: scheme-stripped for local
    files, absolutized for relative paths, trailing slash dropped —
    "ckpt", "./ckpt", "/abs/ckpt" and "file:///abs/ckpt" of the same
    dir must all hash to the SAME run token, or a resume under a
    different spelling re-publishes every epoch under a new token."""
    import os as _os

    p = path
    for pre in ("file://", "file:"):
        if p.startswith(pre):
            p = p[len(pre):]
            break
    if "://" not in p:
        p = _os.path.abspath(p)
    return p.rstrip("/")


def path_token(path: str) -> str:
    """md5 of the canonical checkpoint path, truncated — the shared
    token primitive (plans/pipeline.py uses it for batch epoch
    markers)."""
    import hashlib

    return hashlib.md5(
        canonical_checkpoint(path).encode()).hexdigest()[:8]


def _run_token(checkpoint_dir: str, spark=None) -> str:
    """Epoch ids restart at 0 for every new checkpoint LINEAGE; this
    token namespaces the epoch ledger and the epoch partition values.
    The token binds to the lineage's QUERY ID (the ``metadata`` file
    Spark keeps at the checkpoint root — created here first if absent,
    Spark adopts a pre-existing one), not just the path: deleting and
    recreating a checkpoint dir restarts epoch ids at 0, and a
    path-only token would then mark every re-read batch as a replay
    and silently drop it (audit r8). Without a session the path-only
    token is the (legacy) fallback."""
    import hashlib
    import json as _json
    import uuid as _uuid

    base = canonical_checkpoint(checkpoint_dir)
    qid = ""
    if spark is not None:
        jvm = spark._jvm
        mpath = jvm.org.apache.hadoop.fs.Path(f"{base}/metadata")
        fs = mpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(mpath):
            stream = fs.open(mpath)
            try:
                raw = bytes(jvm.org.apache.commons.io.IOUtils
                            .toByteArray(stream))
            finally:
                stream.close()
            qid = _json.loads(raw.decode())["id"]
        else:
            qid = str(_uuid.uuid4())
            out = fs.create(mpath, False)
            try:
                out.write(bytearray(
                    _json.dumps({"id": qid}).encode()))
            finally:
                out.close()
    return hashlib.md5(f"{base}:{qid}".encode()).hexdigest()[:8]


def _epoch_marker(spec: IngestSpec, token: str) -> str:
    """ONE high-water ledger key per (dataset, run token): epochs are
    monotonic within a checkpoint lineage, so the latest committed
    epoch id is all replay detection needs — per-epoch marker keys
    would grow the store by one directory per micro-batch forever
    (~8.6k/day at a 10 s trigger)."""
    return f"{spec.dataset}/epochs/{token}"


def _epoch_write(df: DataFrame, spec: IngestSpec, epoch_value: str, path: str,
                 partition_by: Sequence[str] = ()) -> None:
    """Idempotent epoch write: rows land in a ``gobblin_epoch=<token>-<id>``
    partition via DYNAMIC partition overwrite, so a replayed epoch
    REWRITES its own partition instead of appending duplicate rows.
    (Structured Streaming re-delivers a batch after a failure; plain
    mode('append') would double those rows — the reference's flush
    epoch commits idempotently, FlushingExtractor.java:81.)"""
    if EPOCH_COL in df.columns:
        raise ValueError(
            f"input already carries a {EPOCH_COL!r} column — the epoch "
            "partition would silently overwrite it; rename or drop it upstream"
        )
    (df.withColumn(EPOCH_COL, F.lit(epoch_value))
       .write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy(*partition_by, EPOCH_COL)
       .format(spec.fmt)
       .save(path))


def _epoch_fn(spec: IngestSpec, store: WatermarkStore, token: str):
    from gobblin_spark.operators import quality

    import json as _json

    from gobblin_spark.state import _decode as _wm_decode, _encode as _wm_encode

    def _marker_payload(epoch_id: int, new_frontier):
        return _json.dumps({
            "epoch": int(epoch_id),
            "frontier": (_wm_encode(new_frontier)
                         if new_frontier is not None else None),
        })

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        st = EpochStats(epoch_id)
        epoch_value = f"{token}-{epoch_id}"
        # replay of a fully committed epoch is a pure no-op for DATA —
        # and the marker carries the epoch's frontier, so a crash in
        # the marker→frontier window is REPAIRED here instead of
        # re-splitting the epoch against its own max event time
        mk = store.get(_epoch_marker(spec, token))
        mk_doc = None
        if isinstance(mk, str) and mk.startswith("{"):
            mk_doc = _json.loads(mk)
        elif isinstance(mk, int):  # pre-r6 ledgers stored a bare id
            mk_doc = {"epoch": mk, "frontier": None}
        if mk_doc is not None and mk_doc["epoch"] >= epoch_id:
            st.replayed = True
            frontier = store.get(spec.dataset)
            mk_frontier = (_wm_decode(mk_doc["frontier"])
                           if mk_doc.get("frontier") else None)
            if mk_frontier is not None and (
                    frontier is None or mk_frontier > frontier):
                store.commit(spec.dataset, mk_frontier,
                             run_id=f"epoch{epoch_id}-repair")
                frontier = mk_frontier
            st.frontier = frontier
            spec.stats.append(st)
            del spec.stats[:-STATS_CAP]  # same bound as the main path
            return

        if spec.target_schema is not None:
            from gobblin_spark.schema import conform_to

            batch_df = conform_to(batch_df, spec.target_schema)
        df = spec.transform(batch_df) if spec.transform else batch_df
        # one materialization feeds the quarantine split, both routed
        # writes, three counts and the frontier agg (check_rows
        # documents the caller-persists contract; without it a file
        # epoch rescans its input ~7x)
        src = df = df.persist()
        try:
            if spec.row_policies:
                df, bad = quality.check_rows(df, spec.row_policies)
                st.quarantined = bad.count()
                if st.quarantined:
                    _epoch_write(bad, spec, epoch_value,
                                 f"{spec.final_dir}/{QUARANTINE_DIR}")

            frontier = store.get(spec.dataset)
            on_time, late = split_late(df, spec.ts_col, frontier,
                                       spec.allowed_lateness)

            _epoch_write(on_time, spec, epoch_value, spec.final_dir,
                         partition_by=spec.partition_by or ())
            st.rows = on_time.count()

            st.late_rows = late.count()
            if st.late_rows:
                _epoch_write(late, spec, epoch_value,
                             f"{spec.final_dir}/{LATE_DIR}")

            # flush-epoch watermark: frontier advances to max event
            # time seen. TIMESTAMP (instant) columns collect through a
            # timestamp_ntz cast — a plain collect converts via the
            # DRIVER's OS timezone, shifting the frontier by its UTC
            # offset when the driver isn't on UTC.
            mcol = F.col(spec.ts_col)
            if dict(df.dtypes).get(spec.ts_col) == "timestamp":
                mcol = mcol.cast("timestamp_ntz")
            batch_max = df.agg(F.max(mcol)).first()[0]
        finally:
            # unpersist the frame that was PERSISTED — check_rows
            # rebinds df to a derived plan, and unpersisting that
            # matches nothing in the cache manager, leaking one cached
            # batch per epoch for the stream's lifetime (audit r8)
            src.unpersist()
        if batch_max is not None and not isinstance(
                batch_max, (_dt.datetime, _dt.date)):
            # committing a non-temporal frontier poisons the store:
            # epoch 2's split_late would fail forever with an error
            # blaming a SHARED store (audit r8) — fail epoch 1 loudly
            raise TypeError(
                f"ts_col {spec.ts_col!r} must be a timestamp/date "
                f"column; max() returned "
                f"{type(batch_max).__name__} — refusing to commit a "
                "non-temporal frontier")
        advanced = (batch_max is not None
                    and (frontier is None or batch_max > frontier))
        # marker FIRST (carrying the frontier), dataset frontier second:
        # a crash before the marker replays the whole epoch against the
        # OLD frontier (deterministic); a crash between the two is
        # repaired from the marker on replay. The old order committed
        # the frontier first, and a crash before the marker then made
        # the replay split against the epoch's own max — demoting
        # genuinely on-time rows to _late.
        store.commit(_epoch_marker(spec, token),
                     _marker_payload(epoch_id,
                                     batch_max if advanced else None),
                     run_id=f"epoch{epoch_id}")
        if advanced:
            store.commit(spec.dataset, batch_max, run_id=f"epoch{epoch_id}")
            st.frontier = batch_max
        else:
            st.frontier = frontier
        # ledger hygiene: one file lands per commit (atomic-create
        # store design); without pruning a 10s-trigger stream lists an
        # ever-growing directory twice per epoch (audit r8). The
        # marker key only ever needs its latest entry; the dataset
        # frontier keeps a rollback window.
        store.prune(_epoch_marker(spec, token), keep_last=20)
        store.prune(spec.dataset, keep_last=200)
        spec.stats.append(st)
        del spec.stats[:-STATS_CAP]  # bounded driver memory (audit r8)

    return run


def run_ingest(
    stream_df: DataFrame,
    spec: IngestSpec,
    store: WatermarkStore,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Launch the streaming ingest (FlushingExtractor.java:81 epochs).
    ``available_now=True`` drains everything currently available then
    stops — the batch-parity mode the tests and backfills use; give
    ``processing_time`` (e.g. "10 seconds") WITH available_now=False
    for a continuous run (the conflicting combination is an error —
    silently draining once when a continuous trigger was asked for is
    the worse failure)."""
    if processing_time and available_now:
        raise ValueError(
            "processing_time given but available_now=True (the "
            "default) would drain-once and stop — pass "
            "available_now=False for a continuous run")
    writer = (
        stream_df.writeStream.foreachBatch(
            _epoch_fn(spec, store,
                      _run_token(checkpoint_dir,
                                 stream_df.sparkSession)))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_ingest_blocking(
    stream_df: DataFrame,
    spec: IngestSpec,
    store: WatermarkStore,
    checkpoint_dir: str,
    timeout_sec: int = 300,
) -> list[EpochStats]:
    """availableNow ingest, awaited: drain the source, return stats.
    A drain that outlives *timeout_sec* is STOPPED and raised — the
    old behavior returned partial stats while the query kept running
    (and kept the checkpoint lock) in the background."""
    q = run_ingest(stream_df, spec, store, checkpoint_dir, available_now=True)
    finished = q.awaitTermination(timeout_sec)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"streaming drain exceeded {timeout_sec}s; query stopped "
            f"(partial stats in spec.stats: {len(spec.stats)} epochs)")
    return spec.stats


# ------------------------------------------------------------------
# windowed streaming aggregation (built-in watermark path)
# ------------------------------------------------------------------


def windowed_counts(
    stream_df: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
    keys: Sequence[str] = (),
) -> DataFrame:
    """Event-time windowed counts with a watermark: Spark drops rows
    later than *watermark* and finalizes windows — the declarative twin
    of the runner's explicit ``_late`` routing (use that when late rows
    must be KEPT; use this when they may be dropped).

    Spark's event-time machinery requires TIMESTAMP (an instant); NTZ
    columns are cast — the session tz is pinned UTC (session.py) so the
    wall clock is unchanged."""
    stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(*keys, win.alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *keys,
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n",
        )
    )


def _stream_to_memory(df: DataFrame, name: str, mode: str,
                      timeout_sec: int):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"memory-sink drain {name!r} exceeded {timeout_sec}s; "
            "query stopped")
    return q


def stream_to_memory(df: DataFrame, name: str, timeout_sec: int = 300):
    """Drain a streaming aggregation into an in-memory table (test
    sink). A drain outliving the timeout is stopped and raised — the
    old behavior returned a still-running query."""
    return _stream_to_memory(df, name, "complete", timeout_sec)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream INNER interval join: right-side events within
    [left_ts, left_ts + max_delay] of a matching key — the attribution
    join (view→purchase, request→response) run continuously. Beyond
    the reference's streaming surface (Gobblin streams never join;
    SURVEY §2.11 'stateful ops: none'); in Spark it is the built-in
    watermarked stream-stream join, and the interval bound is what
    lets the state store EVICT: both sides buffer only
    watermark + max_delay of history, so state is bounded by arrival
    rate x horizon, not by stream length.

    Column names must be disjoint apart from ``key`` (the right side
    is prefixed ``r_``). Event-time columns cast to TIMESTAMP (session
    tz pinned UTC; same convention as windowed_counts).
    """
    l = left.withColumn(
        left_ts, F.col(left_ts).cast("timestamp")
    ).withWatermark(left_ts, watermark)
    r = right.withColumn(
        right_ts, F.col(right_ts).cast("timestamp")
    ).withWatermark(right_ts, watermark)
    r = r.select(
        F.col(key).alias("_rkey"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c != key],
    )
    cond = (
        (F.col(key) == F.col("_rkey"))
        & (F.col(f"r_{right_ts}") >= F.col(left_ts))
        & (F.col(f"r_{right_ts}")
           <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, "inner").drop("_rkey")


def stream_to_memory_append(df: DataFrame, name: str, timeout_sec: int = 300):
    """Drain an append-mode stream (joins, maps) into a memory table."""
    return _stream_to_memory(df, name, "append", timeout_sec)
