"""Query-based JDBC source: dialect SQL construction, watermark-range
partitioning, and distributed extraction.

Reference mapping (all relative to /root/reference/):
- QueryBasedSource (gobblin-core/.../extract/QueryBasedSource.java:74,
  171,216): plans one extract per table, looks up the previous high
  watermark, and splits the [lwm, hwm] interval into partitioned work
  units.
- QueryBasedExtractor (gobblin-core/.../extract/QueryBasedExtractor.java:
  382-394): folds the watermark interval into LWM/HWM predicates on the
  extract query so filtering happens ON the database.
- JdbcExtractor + dialects (gobblin-modules/gobblin-sql/.../jdbc/
  JdbcExtractor.java:85,161 getExtractSql, :1107 concatPredicates;
  MysqlExtractor.java:53, PostgresqlExtractor.java, OracleExtractor.java,
  SqlServerExtractor.java, TeradataExtractor.java): per-database SQL
  text construction — identifier quoting, row-limit syntax, timestamp
  literal formats.
- Partitioner (gobblin-core/.../partition/Partitioner.java:50,167):
  SIMPLE / DATE / HOUR interval splitting into N disjoint, covering
  watermark ranges.

Spark design: the partition plan is data (a list of predicate strings),
and execution is either (a) ``spark.read.jdbc(url, table,
predicates=[...])`` — one executor-side JDBC connection per predicate,
Catalyst pushes the WHERE down — or (b) for deployments without a JDBC
driver jar (like this sandbox), ``read_via_dbapi``: the predicate
manifest is parallelized and each task opens its own DB-API connection
from a factory and pulls Arrow batches. Either way the driver never
holds data and the interval filter runs on the database.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from gobblin_spark.state import IncrementalPull, WatermarkStore

# ------------------------------------------------------------------
# Dialects (JdbcExtractor subclasses' SQL-text differences)
# ------------------------------------------------------------------


@dataclass(frozen=True)
class Dialect:
    """SQL-text construction knobs that differ across databases.

    Mirrors what the reference's per-database extractor subclasses
    override: identifier quoting, the row-limit clause, and timestamp
    literal syntax (MysqlExtractor.java:53 constructSampleClause /
    getConnectionUrl and siblings).
    """

    name: str = "ansi"
    quote_open: str = '"'
    quote_close: str = '"'
    # how a row cap is expressed; {n} is substituted
    limit_template: str = "LIMIT {n}"
    # LIMIT-style clauses append; TOP-style inject after SELECT
    limit_position: str = "suffix"  # or "select"
    ts_format: str = "TIMESTAMP '{v}'"
    date_format: str = "DATE '{v}'"

    def quote(self, identifier: str) -> str:
        """Quote a possibly-dotted identifier (schema.table, a.b).
        The close-quote char is DOUBLED inside each part (standard
        identifier escaping: " -> "", ` -> ``, ] -> ]]) so an embedded
        quote can no longer terminate the identifier early and smuggle
        SQL text after it (audit r10 — the same trust boundary hive's
        _TABLE_RE and datasource's _IDENT_RE enforce by rejection)."""
        esc = self.quote_close * 2
        return ".".join(
            f"{self.quote_open}{p.replace(self.quote_close, esc)}"
            f"{self.quote_close}"
            for p in identifier.split(".")
        )

    def literal(self, v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, _dt.datetime):
            # microsecond precision: committed watermarks keep fractional
            # seconds, so truncating here would re-pull boundary rows on
            # the next run
            return self.ts_format.format(
                v=v.isoformat(sep=" ", timespec="microseconds"))
        if isinstance(v, _dt.date):
            return self.date_format.format(v=v.isoformat())
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        import decimal

        if isinstance(v, decimal.Decimal):
            # repr() would emit Decimal('1.5') — broken SQL
            return format(v, "f")
        return repr(v)


MYSQL = Dialect("mysql", "`", "`", "LIMIT {n}")
POSTGRES = Dialect("postgres")
ORACLE = Dialect("oracle", limit_template="FETCH FIRST {n} ROWS ONLY")
SQLSERVER = Dialect("sqlserver", "[", "]", "TOP {n}", "select")
TERADATA = Dialect("teradata", limit_template="TOP {n}",
                   limit_position="select")
DUCKDB = Dialect("duckdb")

DIALECTS = {d.name: d for d in
            (MYSQL, POSTGRES, ORACLE, SQLSERVER, TERADATA, DUCKDB)}


def concat_predicates(predicates: list[str]) -> str:
    """JdbcExtractor.concatPredicates (JdbcExtractor.java:1107)."""
    return " AND ".join(f"({p})" for p in predicates if p)


def build_extract_sql(
    table: str,
    columns: list[str] | None = None,
    predicates: list[str] | None = None,
    limit: int | None = None,
    dialect: Dialect = POSTGRES,
) -> str:
    """JdbcExtractor.getExtractSql (JdbcExtractor.java:161): the full
    extract query with projection, AND-folded predicates, and the
    dialect's row-limit clause."""
    cols = ", ".join(dialect.quote(c) for c in columns) if columns else "*"
    head = "SELECT"
    if limit is not None and dialect.limit_position == "select":
        head = f"SELECT {dialect.limit_template.format(n=limit)}"
    sql = f"{head} {cols} FROM {dialect.quote(table)}"
    where = concat_predicates(predicates or [])
    if where:
        sql += f" WHERE {where}"
    if limit is not None and dialect.limit_position == "suffix":
        sql += f" {dialect.limit_template.format(n=limit)}"
    return sql


def watermark_predicate(
    wm_col: str, lwm, hwm, dialect: Dialect = POSTGRES,
    low_inclusive: bool = False, high_inclusive: bool = True,
) -> str:
    """QueryBasedExtractor.java:382-394 — the LWM/HWM predicate pair.
    Default semantics match the reference's incremental pull:
    ``wm > lwm AND wm <= hwm`` (half-open ascending interval)."""
    col = dialect.quote(wm_col)
    parts = []
    if lwm is not None:
        op = ">=" if low_inclusive else ">"
        parts.append(f"{col} {op} {dialect.literal(lwm)}")
    if hwm is not None:
        op = "<=" if high_inclusive else "<"
        parts.append(f"{col} {op} {dialect.literal(hwm)}")
    return " AND ".join(parts)


# ------------------------------------------------------------------
# Watermark-interval partitioning (Partitioner.java)
# ------------------------------------------------------------------


def partition_interval(lwm, hwm, num_partitions: int,
                       granularity: str = "simple") -> list[tuple]:
    """Partitioner.getPartitionList (Partitioner.java:167): split
    (lwm, hwm] into at most *num_partitions* disjoint, covering
    sub-intervals ``[(lo, hi), ...]`` with lo exclusive / hi inclusive.

    granularity: 'simple' (numeric even split), 'date' (midnight
    boundaries), 'hour' (hour boundaries) — the reference's
    SIMPLE/DATE/HOUR partition types.
    """
    if num_partitions < 1:
        raise ValueError("num_partitions must be >= 1")
    if granularity == "simple":
        lo, hi = float(lwm), float(hwm)
        if hi <= lo or num_partitions == 1:
            return [(lwm, hwm)]
        is_int = isinstance(lwm, int) and isinstance(hwm, int)
        step = (hi - lo) / num_partitions
        cuts = [lo + step * i for i in range(1, num_partitions)]
        if is_int:
            cuts = sorted({int(round(c)) for c in cuts} - {int(lo), int(hi)})
        bounds = [lwm, *cuts, hwm]
        return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]

    if granularity in ("date", "hour"):
        if isinstance(lwm, _dt.datetime):
            lo_dt, hi_dt = lwm, hwm
        else:  # dates promote to midnight datetimes
            lo_dt = _dt.datetime.combine(lwm, _dt.time.min)
            hi_dt = _dt.datetime.combine(hwm, _dt.time.min)
        step = (_dt.timedelta(days=1) if granularity == "date"
                else _dt.timedelta(hours=1))
        # align cut points to the granularity boundary after lwm
        trunc = (lo_dt.replace(hour=0, minute=0, second=0, microsecond=0)
                 if granularity == "date"
                 else lo_dt.replace(minute=0, second=0, microsecond=0))
        cuts = []
        cur = trunc + step
        while cur < hi_dt:
            cuts.append(cur)
            cur += step
        # honor num_partitions by merging adjacent boundary runs
        if len(cuts) + 1 > num_partitions:
            keep = max(1, (len(cuts) + 1) // num_partitions)
            cuts = cuts[keep - 1::keep][: num_partitions - 1]
        out_lo = lwm if not isinstance(lwm, _dt.datetime) else lo_dt
        bounds = [out_lo, *cuts, hwm]
        # demote to date when inputs were dates and boundaries are midnights
        if not isinstance(lwm, _dt.datetime):
            bounds = [b.date() if isinstance(b, _dt.datetime)
                      and b.time() == _dt.time.min else b for b in bounds]
        return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]

    raise ValueError(f"unknown granularity {granularity!r}")


def partition_predicates(
    wm_col: str, lwm, hwm, num_partitions: int,
    granularity: str = "simple", dialect: Dialect = POSTGRES,
) -> list[str]:
    """One WHERE-fragment per work unit — feed to
    ``spark.read.jdbc(predicates=...)`` (one parallel connection per
    predicate) or to ``read_via_dbapi``. Disjoint and covering:
    UNION ALL of the parts == the whole (lwm, hwm] pull."""
    return [
        watermark_predicate(wm_col, lo, hi, dialect)
        for lo, hi in partition_interval(lwm, hwm, num_partitions, granularity)
    ]


# ------------------------------------------------------------------
# Planning (QueryBasedSource.getWorkunits analog)
# ------------------------------------------------------------------


@dataclass
class JdbcExtractPlan:
    """The planned extract: one SQL string per work unit."""

    table: str
    wm_col: str
    lwm: object
    hwm: object
    sqls: list[str] = field(default_factory=list)


def plan_query_based_extract(
    store: WatermarkStore,
    dataset: str,
    table: str,
    wm_col: str,
    hwm,
    columns: list[str] | None = None,
    extra_predicates: list[str] | None = None,
    num_partitions: int = 1,
    granularity: str = "simple",
    dialect: Dialect = POSTGRES,
) -> JdbcExtractPlan:
    """QueryBasedSource.getWorkunits (QueryBasedSource.java:171,216):
    look up the previous run's HWM, split the new (lwm, hwm] interval,
    and emit one extract SQL per partition."""
    lwm = store.get(dataset)
    if lwm is None:
        wm_parts = [watermark_predicate(wm_col, None, hwm, dialect)]
    else:
        wm_parts = partition_predicates(
            wm_col, lwm, hwm, num_partitions, granularity, dialect)
    sqls = [
        build_extract_sql(table, columns,
                          [p, *(extra_predicates or [])], dialect=dialect)
        for p in wm_parts
    ]
    return JdbcExtractPlan(table, wm_col, lwm, hwm, sqls)


# ------------------------------------------------------------------
# Execution
# ------------------------------------------------------------------


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    predicates: list[str],
    options: dict[str, str] | None = None,
) -> DataFrame:
    """The jar-present path: one executor-side JDBC connection per
    predicate (spark.read.jdbc ``predicates`` — the direct analog of
    one WorkUnit per watermark partition). Requires a JDBC driver on
    the classpath; unavailable in this sandbox."""
    reader = spark.read.format("jdbc").option("url", url).option(
        "dbtable", table)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load() if not predicates else spark.read.jdbc(
        url, table, predicates=predicates,
        properties=dict(options or {}))


def read_via_dbapi(
    spark: SparkSession,
    connect: Callable[[], object],
    sqls: list[str],
    schema,
) -> DataFrame:
    """The no-jar fallback: parallelize the SQL manifest (one task per
    work unit); each task opens its own DB-API connection from the
    zero-arg *connect* factory, executes its SQL, and emits rows.
    Mirrors the reference's one-extractor-per-WorkUnit execution; the
    driver never touches data. *connect* must be picklable (module-level
    function or functools.partial over picklable args)."""

    def run_partition(it):
        for sql in it:
            conn = connect()
            try:
                cur = conn.execute(sql) if hasattr(conn, "execute") else None
                if cur is None:  # pragma: no cover - strict DB-API
                    cur = conn.cursor()
                    cur.execute(sql)
                yield from cur.fetchall()
            finally:
                conn.close()

    rdd = spark.sparkContext.parallelize(sqls, max(1, len(sqls)))
    return spark.createDataFrame(rdd.mapPartitions(run_partition), schema)


def pull_query_based(
    spark: SparkSession,
    store: WatermarkStore,
    dataset: str,
    table: str,
    wm_col: str,
    hwm,
    connect: Callable[[], object],
    schema,
    columns: list[str] | None = None,
    num_partitions: int = 4,
    granularity: str = "simple",
    dialect: Dialect = DUCKDB,
) -> IncrementalPull:
    """End-to-end incremental pull through the DB-API path: plan →
    partitioned extract → IncrementalPull whose ``commit()`` persists
    the new HWM (AbstractSource previous-watermark contract)."""
    plan = plan_query_based_extract(
        store, dataset, table, wm_col, hwm, columns,
        num_partitions=num_partitions, granularity=granularity,
        dialect=dialect)
    df = read_via_dbapi(spark, connect, plan.sqls, schema)
    return IncrementalPull(df, dataset, wm_col, plan.lwm, hwm,
                           lambda: store.commit(dataset, hwm))


# ------------------------------------------------------------------
# Dynamic (data-driven) partitioning — SalesforceSource's histogram
# ------------------------------------------------------------------


def quantile_bounds(
    df: DataFrame, wm_col: str, num_partitions: int,
    relative_error: float = 0.001,
) -> list:
    """SalesforceSource.java:78 dynamic watermark partitioning: instead
    of equal-WIDTH intervals (which skew badly when activity clusters —
    one day can hold 100x another's records), probe the DATA for
    equal-COUNT cut points. One approx-quantile pass (Greenwald-Khanna,
    single aggregation, no sort) yields boundaries such that each
    (lo, hi] interval holds ~1/N of the rows."""
    probs = [i / num_partitions for i in range(1, num_partitions)]
    cuts = df.approxQuantile(wm_col, probs, relative_error)
    # dedupe (heavy single values can repeat a quantile)
    out, prev = [], None
    for c in cuts:
        if prev is None or c > prev:
            out.append(c)
            prev = c
    return out


def partition_interval_by_counts(
    df: DataFrame, wm_col: str, lwm, hwm, num_partitions: int,
    relative_error: float = 0.001,
) -> list[tuple]:
    """Equal-record split of (lwm, hwm]: quantile cut points from the
    actual distribution, clamped to the pull interval. Intervals chain
    half-open exactly like ``partition_interval``, so the same predicate
    generation applies — but each work unit now carries a similar row
    count even under heavy skew."""
    from pyspark.sql import functions as _F

    bounded = df.filter(
        (_F.col(wm_col) > _F.lit(lwm)) & (_F.col(wm_col) <= _F.lit(hwm)))
    cuts = [c for c in quantile_bounds(bounded, wm_col, num_partitions,
                                       relative_error)
            if lwm < c < hwm]
    bounds = [lwm, *cuts, hwm]
    return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]
