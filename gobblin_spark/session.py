"""SparkSession factory with scale-oriented defaults.

The engine targets large clusters (100 TB inputs, ~1000 executors); tests
run on ``local[N]``. All knobs that matter at scale are set here in one
place so a cluster deployment only overrides sizes, not semantics:

- AQE on (runtime coalesce, skew-join splitting, dynamic broadcast).
- Arrow on (every pandas-UDF path is Arrow-batched, never row-at-a-time).
- Shuffle partition count is a parameter: ~2-3x total cores on a real
  cluster; small fixed number locally so unit tests don't create 200
  tiny tasks.
- ``maxPartitionBytes`` 128 MiB: scan parallelism at TB scale comes from
  file splits, not repartition().
- Constraint propagation stays ON (the Spark default): it infers
  IsNotNull under inner joins, so null join keys die at the scan
  instead of crossing the exchange (SPARK-19846). Its cost is a
  per-query driver constant; the bench and the measurement scripts
  (``bench.session``) time this same configuration.

Reference context: Gobblin sizes work with bin-packing heuristics
(gobblin-api/.../workunit/WorkUnitBinPacker.java:25,
gobblin-modules/gobblin-kafka-common/.../packer/KafkaBiLevelWorkUnitPacker.java:56);
on Spark, AQE + file-split planning replace all of that.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_LOCAL_CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "gobblin-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    master = master or f"local[{DEFAULT_LOCAL_CORES}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_LOCAL_CORES

    # Python workers inherit PYTHONPATH from the environment, not the
    # driver's sys.path: make sure this package's root is visible so
    # worker-side closures can resolve it even when the driver launched
    # from another cwd. (Closures in this repo are written self-contained
    # anyway; this is belt-and-braces for user code.)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- deterministic semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: runtime re-plan beats static guesses ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle / scan sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.files.openCostInBytes", "4194304")
        # --- broadcast: dims up to 64 MiB stay map-side ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- joins: let the planner pick shuffled-hash when its size
        # conditions fit (guide §3.1/§9) — SMJ pays a sort on both
        # sides that a per-partition hash build skips; AQE's skew
        # splitting still applies. A/B at sf0.1: join-heavy queries
        # 0.92x total (ngram inverted-index self-join 0.68x), no
        # regression beyond noise elsewhere ---
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # --- output commit: task outputs move to the destination at
        # TASK commit (v2), so job commit is O(1) instead of a driver
        #-side sequential rename per file — the classic HDFS/dynamic-
        # partition lever. Our publish protocol's atomicity comes from
        # its own staging rename + _SUCCESS, not from the committer,
        # so v2's weaker mid-job-failure visibility is inert here.
        # A/B at sf0.1: write-heavy queries 0.94x total. Object-store
        # deployments without atomic rename should override this with
        # their own committer ---
        .config("spark.hadoop.mapreduce.fileoutputcommitter"
                ".algorithm.version", "2")
        # --- parquet codec: zstd — smaller files at similar read
        # speed (guide §6's recommendation for 100 TB tables); locally
        # the write-heavy roundtrips run 0.95x total vs snappy
        # (fewer bytes through the scratch FS) ---
        .config("spark.sql.parquet.compression.codec", "zstd")
        # --- codegen: the wide-aggregate operators (64-min MinHash,
        # 64-sum SimHash) compile large generated classes; the default
        # 100-entry cache evicts them across a multi-query session and
        # re-pays ~3s of Janino per eviction ---
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # --- local scratch IO: the default file:// filesystem is
        # ChecksumFileSystem, which writes a .crc sidecar per file and
        # re-reads every byte to verify — pure overhead on local
        # scratch (A/B at sf0.1: the 84-partition staged write drops
        # 0.82 -> 0.69 s and halves its file count). Inert on real
        # deployments (hdfs://, s3a:// resolve their own FS classes
        # with their own integrity layers); local durability is not a
        # contract any operator relies on — the publish protocol's
        # atomicity comes from rename, which raw preserves ---
        .config("spark.hadoop.fs.file.impl",
                "org.apache.hadoop.fs.RawLocalFileSystem")
        # --- python interchange is always Arrow ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- driver plan-build latency: PySpark's error-context
        # capture wraps EVERY DataFrame API call with a stack
        # inspection plus TWO py4j round trips (a conf read + the
        # PySparkCurrentOrigin stamp). On plan-heavy operators (the
        # 64-aggregate MinHash/SimHash builders: ~10k round trips per
        # plan) that is over half the driver-side build wall — 1.41 s
        # -> 0.63 s measured on the simhash pair search at sf0.1. The
        # feature only enriches error messages with user line numbers;
        # execution semantics and results are untouched ---
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # --- Python DataSource V2: let custom sources (gobblin_rest)
        # receive pushed filters for partition pruning ---
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        # Applied only when *this python process* launches the JVM (pyspark
        # passes it to spark-submit); a no-op if a session already exists
        # or under spark-submit — set --driver-memory there instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_rows_df(spark, rows, schema):
    """Small driver-side literal table as a JVM ``LocalRelation``.

    ``createDataFrame(list)`` builds a PYTHON RDD: every action that
    touches it — including just building the broadcast side of a join —
    launches python workers (~0.4 s for a handful of rows, measured).
    Routing the same rows through a pandas frame takes Spark's
    Arrow/pandas path, which plans a pure-JVM LocalRelation the
    optimizer can fold and broadcast with zero tasks (A/B: 0.43 ->
    0.10 s on a 4-row lookup). Columns are kept ``object``-dtype so
    int64 values never round-trip through float64 (a 63-bit snapshot
    id would silently lose precision) and ``None`` stays a real null.
    Falls back to the list path if pandas cannot represent the rows."""
    rows = list(rows)
    try:
        if rows:
            import pandas as pd

            ncol = len(rows[0])
            pdf = pd.DataFrame({
                i: pd.Series([r[i] for r in rows], dtype=object)
                for i in range(ncol)})
            return spark.createDataFrame(pdf, schema)
    except Exception:
        pass
    return spark.createDataFrame(rows, schema)


# Width bound for ensure_parallelism: one task per this many bytes of
# (compressed) scan estimate. 64 KiB fits the shuffle-heavy dedup
# operators (simhash/minhash/line-dedup: arm-alternating A/B r13 s5);
# cheaper narrow projections (the 3-regex quality scorers) carry ~3x
# less per-row work per byte and win at FULL width — they pass a
# smaller bytes_per_task (r14 A/B: text_quality_scores 0.539 s at the
# 64 KiB width vs 0.466 s full, min-of-5 arm-alternating).
BYTES_PER_TASK_DEFAULT = 65536


def ensure_parallelism(df, min_partitions: int | None = None,
                       bytes_per_task: int | None = None):
    """Guarantee at least *min_partitions* (default: cluster parallelism)
    input partitions before a CPU-heavy per-row stage.

    At 100 TB scale a scan already yields thousands of file splits and
    this is a NO-OP (checked via the plan's partitioning, no job runs).
    The case it fixes is the small-file edge: one 25 MiB parquet file =
    one split = one task, so a 32-core box runs single-threaded through
    an expensive explode/UDF chain. A round-robin repartition of the
    slim input projection costs one small shuffle and buys full-width
    execution — only worth it BEFORE per-row work that dominates it.

    The width is bounded by the optimizer's input-size estimate: one
    task per ~64 KiB of (compressed) scan — below that, per-task
    scheduling overhead exceeds the per-row work the widening exists
    to parallelize (A/B at sf0.1: the 64-bit simhash is flat from 8
    to 32 partitions and every lighter operator pays for unneeded
    width; guide §2 scale-adaptive partitioning). Unknown statistics
    (the estimate degrades to Long.Max-ish) leave the full target.
    RE-CONFIRMED r13 session 5 with an arm-ALTERNATING same-session
    A/B (sequential-block A/Bs are warming-biased toward the later
    arm): a 16 KiB bound is 1.25-1.8x SLOWER across the 8-operator
    text/dedup family (simhash_docs 0.26 -> 0.46, cleaning_dedup_lines
    0.38 -> 0.69) — the extra width costs more in task launch + shuffle
    block fan-out than the ~tens of ms of per-task compute it spreads.
    """
    spark = df.sparkSession
    full = min_partitions or spark.sparkContext.defaultParallelism
    bpt = bytes_per_task or BYTES_PER_TASK_DEFAULT
    target = full
    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
        target = min(full, max(1, size // bpt))
    except Exception:
        size = None
    if target <= 1:
        # one small chunk: widening buys nothing, and skipping all
        # probes below avoids driver planning round trips
        return df
    try:
        if "Repartition" in df._jdf.queryExecution().logical().toString():
            # an upstream ensure_parallelism (or explicit repartition)
            # already decided the width — analyzed-plan string check
            # only, because the old df.rdd partition probe forces FULL
            # physical planning: ~0.3 s per call on expression-heavy
            # inputs (cProfile: 0.67 s of the corpus-curation build
            # was two of these probes)
            return df
    except Exception:
        pass
    if target < full:
        # the size bound bit, so the input is small — a scan this
        # size yields fewer splits than target; repartition without
        # paying the physical-planning probe
        return _pushdown_barrier(df.repartition(target))
    if size is not None:
        try:
            maxpb = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
        except Exception:
            maxpb = 128 * 1024 * 1024
        if maxpb > 0 and size // maxpb + 1 < full:
            # the size estimate proves the scan yields fewer splits
            # than the target — repartition without the probe (the
            # probe's physical planning costs more than it saves on
            # provably-narrow inputs); at 100 TB the estimate clears
            # the bar and execution falls through to the probe path
            return _pushdown_barrier(df.repartition(target))
    if df.rdd.getNumPartitions() < target:
        return _pushdown_barrier(df.repartition(target))
    return df


def _pushdown_barrier(df):
    """Pin later filters ABOVE a widening exchange.

    Catalyst's PushDownPredicates pushes every deterministic filter
    through a round-robin ``Repartition`` — so an expensive predicate
    applied after ``ensure_parallelism`` (the regex quality gates of
    the curation pipelines) lands back in the narrow pre-exchange scan
    stage, the exact stage the widening exists to relieve (measured:
    pipeline_training_data_e2e ran its 3-regex score filter in ONE
    task, 0.6 s of a 0.8 s query). A ``CollectMetrics`` node (observe)
    is the barrier: filters are never reordered through it (doing so
    would change the observed metric), while column pruning still
    reaches the scan and the per-row cost is one count accumulator.
    (An always-true ``rand() >= -1`` filter does NOT work: Spark 4.1
    folds range-trivial comparisons over rand away.) The metric name
    is uniqued per call — two different barriers in one query plan
    must not collide; reuse of the SAME memoized frame (self-join,
    union) is fine. Installed only on the small-input repartition
    path: at scale the scan is already wide, ensure_parallelism is a
    no-op, and scan-level pushdown/pruning stay fully intact."""
    import uuid

    from pyspark.sql import functions as F

    return df.observe("widen_barrier_" + uuid.uuid4().hex[:12],
                      F.count(F.lit(1)).alias("rows_widened"))
