"""Format writers: the DataWriter family re-expressed as thin, uniform
wrappers over ``df.write`` with partitioned-layout support.

Reference mapping (all relative to /root/reference/):
- DataWriter iface (gobblin-api/.../writer/DataWriter.java:41):
  write/commit/recordsWritten/bytesWritten → one ``WriteResult`` per
  completed Spark write (counts derived from the output listing, not a
  second scan).
- FsDataWriter staging lifecycle (gobblin-core/.../writer/
  FsDataWriter.java:58): Spark's FileOutputCommitter already does the
  task-attempt staging + rename; the JOB-level staging→final protocol
  lives in sinks/publish.py.
- AvroHdfsDataWriter / ParquetHdfsDataWriter / GobblinOrcWriter /
  SimpleDataWriter / ConsoleWriter (gobblin-core/.../writer/
  AvroHdfsDataWriter.java:51 etc.): ``fmt`` parameter — the format zoo
  collapses into Spark datasources, each vectorized JVM-side.
- PartitionedDataWriter + WriterPartitioner (gobblin-core/.../writer/
  PartitionedDataWriter.java:80): per-record routing to child writers
  becomes a single ``partitionBy`` pass — one shuffle-free write, no
  child-writer zoo, scales to any partition count.
- TimeBasedWriterPartitioner (gobblin-core/.../partitioner/
  TimeBasedWriterPartitioner.java:59): yyyy/MM/dd[/HH] layout derived
  from an event-time column; Catalyst prunes these directories on read.
- SchemaBasedWriterPartitioner: partition by schema fingerprint.

Scale notes: writers never repartition by default — upstream
partitioning is preserved so a 100 TB write stays embarrassingly
parallel. ``sort_within_partitions`` gives per-file clustering (row-group
skipping on later reads) without a shuffle.
"""

from __future__ import annotations

import os

from dataclasses import dataclass, field
from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from gobblin_spark.claim import is_local

FORMATS = ("parquet", "orc", "json", "csv", "text", "avro")


@dataclass
class WriteResult:
    """DataWriter.recordsWritten / bytesWritten analog, derived from the
    committed output files (no second scan of the data)."""

    path: str
    fmt: str
    files: int
    bytes_written: int
    partitions: list[str] = field(default_factory=list)
    rows: int = -1  # recordsWritten; -1 when the observation was unavailable


# per-SparkContext cache of "is fs.defaultFS the local filesystem"
# (one py4j lookup each; Hadoop resolves schemeless paths through it)
_DFS_LOCAL_CACHE: dict[int, bool] = {}


def _local_fs_path(df: DataFrame, path: str) -> str | None:
    """The local-filesystem path for *path* when the session resolves
    it to local disk, else None. ``file:`` paths always resolve
    locally; a BARE path is local only when ``fs.defaultFS`` is the
    local filesystem (:func:`gobblin_spark.claim.is_local`)."""
    if path.startswith("file:"):
        # parse properly: 'file://HOST/p' carries an authority —
        # naive slash-stripping turned it into '/HOST/p' (a wrong,
        # usually-nonexistent local path whose silent empty listing
        # would zero out WriteResult stats). localhost/empty
        # authorities resolve locally; anything else goes through the
        # Hadoop client (advice-r13).
        from urllib.parse import urlparse

        u = urlparse(path)
        if u.netloc and u.netloc.lower() != "localhost":
            return None
        # no unquote: Spark writes partition dirs with literal %XX
        # escapes on disk, so decoding would corrupt those paths
        return u.path or "/"
    if "://" in path:
        return None
    sc = df.sparkSession.sparkContext
    key = id(sc)
    cached = _DFS_LOCAL_CACHE.get(key)
    if cached is None:
        cached = is_local(path, sc._jsc.hadoopConfiguration())
        _DFS_LOCAL_CACHE[key] = cached
    return path if cached else None


def _list_output_files(df: DataFrame, path: str) -> dict[str, int]:
    """Data files under *path* as {uri: bytes}. Local paths list with
    plain ``os.walk`` — the Hadoop RemoteIterator costs 4-6 py4j round
    trips PER FILE (r13 profile: ~0.5 s per 80-file partitioned write,
    the same detour the Iceberg sink's listing paid); keys keep the
    fully-qualified ``file:`` form Hadoop produced so before/after
    diffs stay consistent. Remote schemes (hdfs://, s3a://) keep the
    Hadoop FS client."""
    lp = _local_fs_path(df, path)
    if lp is not None:
        out_l: dict[str, int] = {}
        if os.path.isfile(lp):
            name = os.path.basename(lp)
            if not name.startswith(("_", ".")):
                out_l[f"file:{os.path.abspath(lp)}"] = os.path.getsize(lp)
            return out_l
        for root, _dirs, names in os.walk(lp):
            for name in names:
                # mirror the Hadoop branch exactly: filter on the
                # FILENAME only (listFiles returns files recursively)
                if name.startswith(("_", ".")):
                    continue
                fp = os.path.join(root, name)
                out_l[f"file:{os.path.abspath(fp)}"] = os.path.getsize(fp)
        return out_l
    sc = df.sparkSession.sparkContext
    jvm = sc._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    out: dict[str, int] = {}
    if not fs.exists(hpath):
        return out
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        out[st.getPath().toString()] = st.getLen()
    return out


def _output_stats(df: DataFrame, path: str,
                  before: dict[str, int] | None = None) -> tuple[int, int]:
    """Count part-files and bytes under *path*. With *before* (a
    pre-write listing), only files the write ADDED are counted —
    audit-r7: an append-mode WriteResult previously reported the whole
    directory, so file_size_policy audits graded earlier writes'
    output too."""
    listing = _list_output_files(df, path)
    if before:
        listing = {p: n for p, n in listing.items() if p not in before}
    return len(listing), sum(listing.values())


def read_data(spark, path: str, fmt: str = "parquet",
              options: dict | None = None):
    """Format-symmetric reader for write_data output: delegates to the
    Spark datasource, except .avro containers read through the python
    container reader when the spark-avro jar is absent. ``options``
    mirror the writer's (a csv written with header=true must be read
    back with it, or the audit sees the header as a data row)."""
    if fmt == "avro":
        from gobblin_spark.operators import avro_serde as _AS

        if not _AS.avro_available(spark):
            return _AS.read_avro(spark, path)
    return spark.read.format(fmt).options(**(options or {})).load(path)


def write_data(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    sort_within_partitions: Sequence[str] | None = None,
    options: dict[str, str] | None = None,
) -> WriteResult:
    """The single writer entry point (DataWriter.java:41 →
    ``df.write``). ``partition_by`` gives the PartitionedDataWriter
    layout in one pass; ``sort_within_partitions`` clusters rows inside
    each output file (no shuffle, task-local sort)."""
    import uuid

    from pyspark.sql import Observation

    if sort_within_partitions:
        df = df.sortWithinPartitions(*sort_within_partitions)
    # for append, stats must cover only THIS write's files
    before = _list_output_files(df, path) if mode == "append" else None
    if fmt == "avro":
        from gobblin_spark.operators import avro_serde as _AS

        if not _AS.avro_available(df.sparkSession):
            # no spark-avro jar: the pure-Python container writer
            # (AvroHdfsDataWriter analog) keeps Avro sinks functional
            summary = _AS.write_avro(df, path, mode=mode,
                                     partition_by=list(partition_by or []))
            files, nbytes = _output_stats(df, path, before)
            return WriteResult(path, fmt, files, nbytes,
                               list(partition_by or []),
                               rows=summary.rows)
    # recordsWritten rides the write action itself (DataWriter.
    # recordsWritten) — an in-plan observation, never a second scan.
    obs = Observation(f"write-{uuid.uuid4().hex[:8]}")
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    w = df.write.mode(mode)
    for k, v in (options or {}).items():
        w = w.option(k, v)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.format(fmt).save(path)
    files, nbytes = _output_stats(df, path, before)
    try:
        rows = int(obs.get["rows"])
    except Exception:  # pragma: no cover - observation timing edge
        rows = -1
    return WriteResult(path, fmt, files, nbytes, list(partition_by or []), rows=rows)


def with_time_partitions(
    df: DataFrame, ts_col: str, granularity: str = "day", prefix: str = ""
) -> tuple[DataFrame, list[str]]:
    """TimeBasedWriterPartitioner.java:59 — derive yyyy/MM/dd[/HH]
    partition columns from an event-time column. Returns (df, cols) so
    callers can feed ``partition_by``. Pure Column exprs; the derived
    columns are computed map-side during the write."""
    ts = F.col(ts_col)
    cols = [
        (f"{prefix}year", F.year(ts)),
        (f"{prefix}month", F.month(ts)),
        (f"{prefix}day", F.dayofmonth(ts)),
    ]
    if granularity == "hour":
        cols.append((f"{prefix}hour", F.hour(ts)))
    elif granularity == "month":
        cols = cols[:2]
    elif granularity != "day":
        raise ValueError(f"granularity must be month|day|hour, got {granularity}")
    for name, expr in cols:
        df = df.withColumn(name, expr)
    return df, [name for name, _ in cols]


def write_time_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str,
    granularity: str = "day",
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> WriteResult:
    """Time-partitioned write: the TimeBasedWriterPartitioner +
    PartitionedDataWriter pair as one ``partitionBy(year,month,day)``
    pass. Readers get directory pruning for free."""
    part_df, cols = with_time_partitions(df, ts_col, granularity)
    return write_data(part_df, path, fmt=fmt, mode=mode, partition_by=cols)


def with_schema_partition(df: DataFrame, col_name: str = "schema_id") -> DataFrame:
    """SchemaBasedWriterPartitioner — a deterministic fingerprint of the
    row schema as a partition column, so mixed-schema streams land in
    per-schema directories."""
    fingerprint = F.md5(F.lit(",".join(f"{f.name}:{f.dataType.simpleString()}"
                                       for f in df.schema.fields)))
    return df.withColumn(col_name, F.substring(fingerprint, 1, 8))


def retry_write(
    df: DataFrame,
    path: str,
    attempts: int = 3,
    backoff_sec: float = 1.0,
    **write_kwargs,
) -> WriteResult:
    """RetryWriter (gobblin-core/.../writer/RetryWriter.java:48): retry a
    failed write with exponential backoff. Spark already retries TASKS;
    this guards the job-level write (e.g. transient object-store/DDL
    failures). Writes go to a staging-style overwrite path, so a failed
    attempt leaves no partial state the next attempt wouldn't overwrite."""
    import time as _time

    last: Exception | None = None
    for attempt in range(attempts):
        try:
            return write_data(df, path, **write_kwargs)
        except Exception as ex:  # noqa: BLE001 - deliberate catch-and-retry
            last = ex
            if attempt < attempts - 1:
                _time.sleep(backoff_sec * (2 ** attempt))
    raise last  # type: ignore[misc]


def write_console(df: DataFrame, num_rows: int = 20, truncate: bool = True) -> None:
    """ConsoleWriter (gobblin-core/.../writer/ConsoleWriter.java)."""
    df.show(num_rows, truncate)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    options: dict[str, str] | None = None,
) -> None:
    """JdbcWriter (gobblin-modules/gobblin-sql/.../writer/JdbcWriter.java:67).
    Spark's JDBC datasource batches inserts per partition; pair with
    ``publish.jdbc_staging_swap`` for the staging-table publish protocol
    (JdbcPublisher.java:52)."""
    w = df.write.mode(mode)
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.jdbc(url, table)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    fmt: str = "parquet",
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed managed table for CO-LOCATED joins and aggregations.

    At 100 TB the repeated cost isn't one shuffle — it's re-shuffling
    the same fact table on the same key every day. Writing it bucketed
    (hash-partitioned into fixed buckets, optionally sorted) lets every
    later equi-join or groupBy on ``bucket_cols`` skip the Exchange
    entirely (both sides report the same HashPartitioning). This is the
    Spark analog of the reference pre-partitioning compacted output by
    key (MRCompactor's partition-aligned outputs).

    Bucketing requires the catalog (saveAsTable) — plain ``save(path)``
    silently drops bucket metadata."""
    w = df.write.mode(mode).format(fmt).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def zorder_value(df: DataFrame, cols: Sequence[str], bits: int = 16):
    """Morton (Z-order) key over up to 4 numeric columns: each column
    min-max-normalizes to ``bits`` levels (bounds = one tiny 2-value
    aggregate per column, broadcast as literals), then the level bits
    interleave into one long. Pure Column bitwise expressions — no UDF.
    Returns (df_with__zval, bounds)."""
    if not 1 <= len(cols) <= 4 or bits * len(cols) > 62:
        raise ValueError("zorder: 1-4 columns, bits*ncols <= 62")
    agg = df.agg(*[f(c) for c in cols
                   for f in (F.min, F.max)]).collect()[0]
    bounds = {c: (agg[2 * i], agg[2 * i + 1]) for i, c in enumerate(cols)}
    levels = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        lo, hi = bounds[c]
        if lo is None or hi is None:
            raise ValueError(
                f"zorder: column {c!r} is all-null — no min/max bounds "
                "to normalize against (drop it from the z-order key)")
        span = float(hi - lo) or 1.0
        q = F.least(
            F.lit(levels),
            F.floor((F.col(c).cast("double") - F.lit(float(lo)))
                    / F.lit(span) * F.lit(levels)).cast("long"),
        )
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(q, b).bitwiseAND(F.lit(1)),
                            b * len(cols) + ci))
    return df.withColumn("_zval", z), bounds


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 32,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet write (the OPTIMIZE ZORDER analog for
    this engine's lake-maintenance tier; complements compaction):
    range-partition on the Morton key so each output file owns a
    contiguous Z-range — i.e. a small rectangle in the column space —
    then sort within partitions so parquet row-group min/max stats are
    tight on EVERY z-ordered column. A later scan filtering on ANY of
    the columns (not just a lexicographic prefix, the sort-order
    failure mode) skips most files on footer stats alone. One range
    shuffle; the per-file sort is partition-local."""
    zdf, _ = zorder_value(df, cols, bits)
    (zdf.repartitionByRange(n_files, "_zval")
        .sortWithinPartitions("_zval")
        .drop("_zval")
        .write.mode(mode).parquet(path))
