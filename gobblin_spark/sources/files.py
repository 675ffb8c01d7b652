"""File-based sources: format readers, testdata loader, date-partitioned
scans with lookback pruning, snapshot-diff incremental file listing.

Reference mapping:
- FileBasedSource/FileBasedExtractor (gobblin-core/.../filebased/
  FileBasedSource.java:58, FileBasedExtractor.java:52): list files, diff
  against the previous run's snapshot, read only the new ones.
- CsvFileDownloader / GZIPFileDownloader: ``spark.read.csv`` handles
  codecs + delimiters natively.
- PartitionedFileSourceBase / DatePartitionedAvroFileSource
  (gobblin-core/.../source/PartitionedFileSourceBase.java:69,
  DatePartitionedAvroFileSource.java:57): scan yyyy/MM/dd layouts within
  a lookback window → here a partition-pruned filter that Catalyst turns
  into directory pruning (zero I/O outside the window).

The testdata loader also normalizes TIMESTAMP(NANOS) parquet columns
(Spark reads them only as long via the legacy flag; we convert back to
TimestampType at µs precision so downstream semantics are standard).

``footer_int_bounds`` reads, per parquet file, the min/max of one flat
signed-integer column from the footer's row-group statistics — one
footer read per file through the Hadoop filesystem, no Spark job. The
incremental pull (state.py) uses it to leave out files that hold no
row inside its watermark window.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# nanosecond-timestamp columns in the synthetic testdata (TESTDATA.md)
_NANO_TS_COLS = {"o_orderdate", "l_shipdate", "ts"}


def _enable_nano_reads(spark: SparkSession) -> None:
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # older/newer Spark without the flag — reads may still work


def _hidden(name: str) -> bool:
    """Spark's listing filter (``InMemoryFileIndex.shouldFilterOutPathName``):
    ``_``/``.`` names and in-flight ``._COPYING_`` files are skipped,
    except hive ``_k=v`` dirs and the parquet summary files."""
    exclude = ((name.startswith("_") and "=" not in name)
               or name.startswith(".") or name.endswith("._COPYING_"))
    return exclude and not name.startswith(("_common_metadata", "_metadata"))


def _footer_schema(spark: SparkSession, path: str):
    """The data schema Spark infers for a non-merging parquet read of
    *path* (``ParquetUtils.inferSchema``), from ONE footer read on the
    driver; None when no file qualifies or the path is missing.

    The candidate files are the leaves Spark's file index returns: glob
    matches, the visible files directly under each matched dir, and
    those of hive ``k=v`` subdirs. A summary file wins
    (``_common_metadata``, then ``_metadata``); otherwise the first data
    file in path order. The footer converts with Spark's own
    ``readSchemaFromFooter`` and a converter built from the session conf
    (so the nanos-as-long flag set just before applies)."""
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    pattern = jvm.org.apache.hadoop.fs.Path(path)
    fs = pattern.getFileSystem(hconf)
    leaves: list = []  # (path string, name, FileStatus)

    def visit(st, root: bool) -> None:
        name = st.getPath().getName()
        if st.isDirectory():
            if root or ("=" in name and not _hidden(name)):
                for child in fs.listStatus(st.getPath()):
                    visit(child, False)
        elif not _hidden(name):
            leaves.append((st.getPath().toString(), name, st))

    for st in fs.globStatus(pattern) or []:
        visit(st, True)
    if not leaves:
        return None
    summary = ("_common_metadata", "_metadata")
    pick = min(leaves, key=lambda t: (
        summary.index(t[1]) if t[1] in summary else len(summary), t[0]))[2]
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    footer = jvm.org.apache.parquet.hadoop.Footer(
        pick.getPath(),
        pq.ParquetFooterReader.readFooter(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
                pick, hconf),
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
            .SKIP_ROW_GROUPS))
    converter = pq.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf())
    schema = pq.ParquetFileFormat.readSchemaFromFooter(footer, converter)
    from pyspark.sql.types import _parse_datatype_json_string

    return _parse_datatype_json_string(schema.json())


def footer_int_bounds(spark: SparkSession, statuses, column: str
                      ) -> list[tuple[str, tuple[int, int] | None]]:
    """``(file_path, bounds)`` per parquet file of *statuses* (Hadoop
    ``FileStatus`` objects, as a file index's ``allFiles()`` lists them).

    ``file_path`` is the file's URI in the form Spark's
    ``_metadata.file_path`` column carries (the path re-parsed from its
    string form, percent-encoded, ``file:/x`` rather than ``file:///x``).
    ``bounds`` is ``(min, max)`` of the leaf *column* over every row
    group, from the footer's statistics alone. It is None, meaning
    "cannot bound", unless the file schema is flat, holds a leaf named
    exactly *column* whose type is INT32 or INT64 with no annotation or
    a signed integer one, and every row group (at least one) has
    statistics with a non-null min and max; an all-null row group has
    no min/max, so its file is never bounded.

    Each footer is read with Spark's ``ParquetFooterReader`` through
    ``HadoopInputFile`` (every Hadoop scheme works), and a row group's
    statistics are looked up by leaf index, so the py4j calls per file
    grow with its row groups, not with its columns."""
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    reader = jvm.org.apache.spark.sql.execution.datasources.parquet \
        .ParquetFooterReader
    input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile
    no_filter = jvm.org.apache.parquet.format.converter \
        .ParquetMetadataConverter.NO_FILTER
    hpath = jvm.org.apache.hadoop.fs.Path
    out = []
    for st in statuses:
        uri = hpath(st.getPath().toString()).toUri().toString()
        meta = reader.readFooter(input_file.fromStatus(st, hconf), no_filter)
        out.append((uri, _int_leaf_bounds(meta, column)))
    return out


def _int_leaf_bounds(meta, column: str) -> tuple[int, int] | None:
    """``footer_int_bounds``'s rule over one ``ParquetMetadata``."""
    schema = meta.getFileMetaData().getSchema()
    if (schema.getPaths().size() != schema.getFieldCount()
            or not schema.containsField(column)):
        return None  # nested schema, or no such leaf
    idx = schema.getFieldIndex(column)
    leaf = schema.getType(idx).asPrimitiveType()
    if leaf.getPrimitiveTypeName().name() not in ("INT32", "INT64"):
        return None
    logical = leaf.getLogicalTypeAnnotation()
    if logical is not None and not (
            logical.getClass().getSimpleName() == "IntLogicalTypeAnnotation"
            and logical.isSigned()):
        return None  # unsigned ints, timestamps, decimals, dates
    blocks = meta.getBlocks()
    lo = hi = None
    for i in range(blocks.size()):
        stats = blocks.get(i).getColumns().get(idx).getStatistics()
        if not stats.hasNonNullValue():
            return None  # no statistics, or an all-null row group
        bmin, bmax = stats.genericGetMin(), stats.genericGetMax()
        lo = bmin if lo is None else min(lo, bmin)
        hi = bmax if hi is None else max(hi, bmax)
    return None if lo is None else (lo, hi)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet reader with nano-timestamp normalization.

    The schema comes from one footer read on the driver (``_footer_schema``,
    Spark's inference rule for reads that do not merge schemas: a summary
    file if present, else the first data file in path order, skipping
    hidden ``_``/``.`` names, walking hive ``k=v`` dirs, expanding
    globs) and is handed to ``spark.read.schema``, so no Spark job runs
    at read time — a plain ``spark.read.parquet`` launches one just to
    read that footer. With no qualifying file or a missing path the plain
    read runs instead, so Spark raises its usual error. (The engine's
    sessions never set ``spark.sql.parquet.mergeSchema``; a session that
    did would merge every footer where this reads one.)

    TIMESTAMP(NANOS) columns arrive as epoch-nano longs (legacy flag);
    they are converted to timestamp_ntz at µs precision with *integer*
    division — ``/`` on longs is double division and epoch-nanos
    (~1.7e18) exceed double's 53-bit mantissa, so the float path can be
    off by ±1µs. ``div`` keeps the arithmetic in int64. The cast to
    timestamp_ntz matches how Spark reads the MICROS-typed tables
    (session tz is pinned UTC, so wall-clock is preserved).
    """
    _enable_nano_reads(spark)
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    for f in df.schema.fields:
        if f.name in _NANO_TS_COLS and isinstance(f.dataType, LongType):
            # timestampadd on an NTZ base stays NTZ end-to-end — no
            # instant/session-timezone round-trip anywhere.
            df = df.withColumn(
                f.name,
                F.expr(
                    f"timestampadd(MICROSECOND, `{f.name}` div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df


#: lazy-plan memo for the immutable testdata tables, keyed per Spark
#: application. Every read pays driver-side listing + a footer read PER
#: CALL (``spark.read.parquet`` measured ~90 ms warm at sf0.1, before
#: ``read_parquet`` read one footer itself); a suite that loads a table
#: hundreds of times re-paid it every time.
#: Only the unexecuted plan object is reused — no data, no results:
#: every action on the returned frame still scans the parquet files.
_TABLE_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table from a scale-factor dir (TESTDATA.md).

    Memoized per (application, dir, table): the testdata tables are
    immutable fixtures, so the lazy plan (schema + file listing) never
    goes stale. Do NOT route mutable paths through this function —
    use ``read_parquet`` directly for those."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_MEMO.get(key)
    if df is None:
        df = _TABLE_MEMO.setdefault(
            key, read_parquet(spark, f"{sf_dir}/{name}.parquet"))
    return df


def register_tables(
    spark: SparkSession, sf_dir: str, names: Sequence[str] = TABLES
) -> None:
    """Register every testdata table as a temp view so the pure-SQL
    surface works: ``spark.sql("SELECT ... FROM lineitem ...")``. The
    views go through the same nano-timestamp normalization as
    load_table, so SQL and DataFrame callers see identical schemas."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    sep: str = ",",
    header: bool = False,
) -> DataFrame:
    """CSV source (CsvFileDownloader / CsvToJsonConverter path). Gzip and
    other codecs are transparent to Spark."""
    reader = spark.read.option("sep", sep).option("header", str(header).lower())
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """JSON-lines source (SimpleJsonSource / DatePartitionedJsonFileSource)."""
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Raw line source (HadoopTextFileSource, TokenBasedFileInputStreamExtractor)."""
    return spark.read.text(path)


def date_partitioned_read(
    spark: SparkSession,
    base_path: str,
    fmt: str = "parquet",
    date_col: str = "date",
    lookback_days: int | None = None,
    now: _dt.date | None = None,
) -> DataFrame:
    """Read a date-partitioned layout (``.../date=yyyy-MM-dd/``) with an
    optional lookback window.

    PartitionedFileSourceBase.java:69 scans yyyy/MM/dd directories inside
    the lookback; here the filter on the partition column is pruned by
    Catalyst into directory-level pruning (check PartitionFilters in
    .explain) — files outside the window are never opened.
    """
    df = spark.read.format(fmt).option("basePath", base_path).load(base_path)
    if lookback_days is not None:
        start = (now or _dt.date.today()) - _dt.timedelta(days=lookback_days)
        df = df.filter(F.col(date_col) >= F.lit(str(start)))
    return df


def list_files(spark: SparkSession, base_path: str, glob: str = "*") -> DataFrame:
    """File inventory as a DataFrame (path, size, mtime) — the unit the
    snapshot-diff and copy-manifest sources operate on."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(base_path)
    fs = path.getFileSystem(hconf)
    rows = []
    if fs.exists(path):
        it = fs.listFiles(path, True)
        while it.hasNext():
            st = it.next()
            rows.append(
                (st.getPath().toString(), int(st.getLen()), int(st.getModificationTime()))
            )
    # JVM LocalRelation (session.local_rows_df): the python-RDD lift
    # spins python workers on every downstream action over what is a
    # driver-built listing, and its unknown size estimate degrades the
    # snapshot-diff join planning below
    from gobblin_spark.session import local_rows_df

    return local_rows_df(spark, rows, "path string, size long, mtime long")


def new_files_only(current: DataFrame, previous_snapshot: DataFrame) -> DataFrame:
    """FileBasedSource.java:58 snapshot diff: files not present in the
    previous run's listing (by path) — the incremental file set.

    No forced broadcast (audit-r7, same class as the r6 distcp fix):
    a mature dataset's snapshot is millions of paths — AQE broadcasts
    when the listing is actually small and shuffles when it is not."""
    return current.join(
        previous_snapshot.select("path"), on="path", how="left_anti"
    )
