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
