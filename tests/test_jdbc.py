"""Query-based JDBC source: dialect SQL text, interval partitioning,
and the DB-API execution path against DuckDB (the sandbox's stand-in
for a database endpoint — no JDBC driver jar is available)."""

import datetime as dt


import duckdb
import pytest

from gobblin_spark.sources import jdbc as J
from gobblin_spark.state import WatermarkStore

SF_DIR = "/root/testdata/sf0.001"
ORDERS = f"{SF_DIR}/orders.parquet"


def _connect(path):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{path}')")
    return con


def make_connect(path):
    """Closure factory: cloudpickle ships closures by value, so workers
    need no importable test module."""

    def connect():
        import duckdb as _duckdb

        con = _duckdb.connect()
        con.execute(
            f"CREATE VIEW orders AS SELECT * FROM read_parquet('{path}')")
        return con

    return connect


def test_dialect_sql_text():
    assert J.build_extract_sql("db.users", ["id", "name"],
                               ["id > 5"], limit=10, dialect=J.MYSQL) == \
        'SELECT `id`, `name` FROM `db`.`users` WHERE (id > 5) LIMIT 10'
    assert J.build_extract_sql("users", None, None, limit=3,
                               dialect=J.SQLSERVER) == \
        'SELECT TOP 3 * FROM [users]'
    assert J.build_extract_sql("users", ["id"], limit=7,
                               dialect=J.ORACLE) == \
        'SELECT "id" FROM "users" FETCH FIRST 7 ROWS ONLY'
    assert J.build_extract_sql("users", None, ["a=1", "b=2"],
                               dialect=J.TERADATA) == \
        'SELECT * FROM "users" WHERE (a=1) AND (b=2)'


def test_watermark_predicate_literals():
    p = J.watermark_predicate("ts", dt.datetime(2024, 1, 1, 12, 0),
                              dt.date(2024, 2, 1))
    assert p == '"ts" > TIMESTAMP \'2024-01-01 12:00:00.000000\'' \
                ' AND "ts" <= DATE \'2024-02-01\''
    assert J.watermark_predicate("id", None, 100) == '"id" <= 100'
    assert J.watermark_predicate("s", "o'x", None) == '"s" > \'o\'\'x\''
    # fractional seconds survive: truncation would re-pull boundary rows
    frac = J.watermark_predicate(
        "ts", dt.datetime(2024, 1, 1, 12, 0, 0, 123456), None)
    assert frac == '"ts" > TIMESTAMP \'2024-01-01 12:00:00.123456\''
    # audit-r7: Decimal watermarks render as plain SQL numerics, not
    # repr()'s Decimal('...') constructor text
    import decimal

    assert (J.watermark_predicate("amt", decimal.Decimal("10.50"), None)
            == '"amt" > 10.50')


def test_incremental_extract_sql():
    """The pushed-down incremental pull: the (lwm, hwm] predicate folded
    into the extract query, so only the interval crosses the wire."""
    q = J.build_extract_sql("orders", None, [J.watermark_predicate(
        "o_orderdate", dt.date(2024, 1, 1), dt.date(2024, 2, 1))])
    assert q == ('SELECT * FROM "orders" WHERE ("o_orderdate" > '
                 "DATE '2024-01-01' AND \"o_orderdate\" <= DATE '2024-02-01')")
    # first pull: no low watermark, only the upper bound
    assert J.build_extract_sql(
        "t", None, [J.watermark_predicate("id", None, 100)]) == \
        'SELECT * FROM "t" WHERE ("id" <= 100)'
    # strings are quoted (and escaped)
    assert "''" in J.build_extract_sql(
        "t", None, [J.watermark_predicate("name", "o'b", "z")])


def test_partition_interval_simple_int_disjoint_covering():
    parts = J.partition_interval(0, 1000, 7)
    assert parts[0][0] == 0 and parts[-1][1] == 1000
    for (_, hi), (lo2, _) in zip(parts, parts[1:]):
        assert hi == lo2  # half-open chaining: no gap, no overlap
    assert len(parts) == 7


def test_partition_interval_degenerate():
    assert J.partition_interval(5, 5, 4) == [(5, 5)]
    assert J.partition_interval(1, 2, 1) == [(1, 2)]


def test_partition_interval_date_boundaries():
    parts = J.partition_interval(dt.date(2024, 1, 1), dt.date(2024, 1, 5),
                                 10, granularity="date")
    assert parts[0][0] == dt.date(2024, 1, 1)
    assert parts[-1][1] == dt.date(2024, 1, 5)
    # interior boundaries are day-aligned dates
    for lo, hi in parts:
        assert isinstance(lo, dt.date) and isinstance(hi, dt.date)
    assert len(parts) == 4


def test_partition_interval_hour_boundaries():
    lo = dt.datetime(2024, 1, 1, 10, 30)
    hi = dt.datetime(2024, 1, 1, 14, 10)
    parts = J.partition_interval(lo, hi, 100, granularity="hour")
    assert parts[0][0] == lo and parts[-1][1] == hi
    for b, (lo2, _) in zip([p[1] for p in parts], parts[1:]):
        assert b == lo2
        assert b.minute == 0 and b.second == 0


def test_partition_predicates_cover_in_duckdb():
    """The generated per-partition SQL is disjoint + covering when a
    real engine executes it."""
    preds = J.partition_predicates("o_orderkey", 0, 60000, 5,
                                   dialect=J.DUCKDB)
    con = _connect(ORDERS)
    total = con.execute(
        "SELECT count(*) FROM orders WHERE o_orderkey > 0"
        " AND o_orderkey <= 60000").fetchone()[0]
    per = [con.execute(f"SELECT count(*) FROM orders WHERE {p}").fetchone()[0]
           for p in preds]
    assert sum(per) == total
    assert all(n >= 0 for n in per)
    con.close()


def test_pull_query_based_end_to_end(spark, tmp_path):
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    schema = "o_orderkey long, o_totalprice double, o_orderdate date"
    connect = make_connect(ORDERS)
    con = _connect(ORDERS)
    maxkey = con.execute("SELECT max(o_orderkey) FROM orders").fetchone()[0]
    expected_all = con.execute("SELECT count(*) FROM orders").fetchone()[0]
    mid = maxkey // 2

    # first pull: no previous watermark → everything up to mid
    p1 = J.pull_query_based(
        spark, store, "orders", "orders", "o_orderkey", mid, connect,
        schema, columns=["o_orderkey", "o_totalprice", "o_orderdate"],
        num_partitions=4)
    n1 = p1.df.count()
    assert p1.lwm is None
    p1.commit()

    # second pull: (mid, maxkey] in 4 partitioned work units
    p2 = J.pull_query_based(
        spark, store, "orders", "orders", "o_orderkey", maxkey, connect,
        schema, columns=["o_orderkey", "o_totalprice", "o_orderdate"],
        num_partitions=4)
    assert p2.lwm == mid
    n2 = p2.df.count()
    assert p2.df.rdd.getNumPartitions() == 4
    p2.commit()

    assert n1 + n2 == expected_all  # disjoint union == full table
    assert store.get("orders") == maxkey

    # third pull with nothing new: empty interval
    p3 = J.pull_query_based(
        spark, store, "orders", "orders", "o_orderkey", maxkey, connect,
        schema, columns=["o_orderkey", "o_totalprice", "o_orderdate"])
    assert p3.df.count() == 0
    con.close()


def test_read_jdbc_partitioned_requires_jar(spark):
    """The jar path is deployment-gated: building the reader is legal,
    loading fails fast without a driver."""
    with pytest.raises(Exception):
        J.read_jdbc_partitioned(
            spark, "jdbc:postgresql://nohost/db", "t", ["id > 0"]
        ).count()


def test_partition_by_counts_equalizes_skew(spark):
    """Equal-count splits: a skewed distribution still yields balanced
    work units (the equal-width splitter would put ~90% in one)."""
    from pyspark.sql import functions as F

    # 90% of rows clustered in [0, 10], tail spread to 1000
    df = spark.range(10000).select(
        F.when(F.col("id") < 9000, F.col("id") % 10)
        .otherwise((F.col("id") - 9000) + 11).cast("double").alias("wm"))
    parts = J.partition_interval_by_counts(df, "wm", -1.0, 1011.0, 4)
    assert parts[0][0] == -1.0 and parts[-1][1] == 1011.0
    counts = [df.filter((F.col("wm") > lo) & (F.col("wm") <= hi)).count()
              for lo, hi in parts]
    assert sum(counts) == 10000
    assert max(counts) < 10000 * 0.6  # no single dominant unit


def test_pending_work_units_retry(spark, tmp_path):
    from gobblin_spark import state as S

    store = WatermarkStore(spark, str(tmp_path / "wm"))
    units = ["2024-01-01", "2024-01-02", "2024-01-03"]
    assert S.pending_work_units(store, "ds", units) == units
    S.commit_work_unit(store, "ds", "2024-01-02")
    assert S.pending_work_units(store, "ds", units) == \
        ["2024-01-01", "2024-01-03"]
    # idempotent re-commit
    S.commit_work_unit(store, "ds", "2024-01-02")
    S.commit_work_unit(store, "ds", "2024-01-01")
    S.commit_work_unit(store, "ds", "2024-01-03")
    assert S.pending_work_units(store, "ds", units) == []


def test_quote_escapes_embedded_quote_chars():
    """Audit r10: an identifier carrying the dialect's close-quote
    char must not terminate the quoted form early — standard doubling
    (" -> "", ` -> ``, ] -> ]]) keeps the whole name one token."""
    from gobblin_spark.sources.jdbc import MYSQL, POSTGRES, SQLSERVER

    assert POSTGRES.quote('order "details"') == '"order ""details"""'
    assert MYSQL.quote("weird`name") == "`weird``name`"
    assert SQLSERVER.quote("t]x") == "[t]]x]"
    # dotted names still quote per part
    assert POSTGRES.quote("sch.tbl") == '"sch"."tbl"'
