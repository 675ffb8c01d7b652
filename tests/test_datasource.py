"""Spark 4 Python DataSource (gobblin_rest): batch read, filter
pushdown partition pruning, and checkpointed incremental streaming."""

import os
import time

import pytest
from pyspark.sql import functions as F

from gobblin_spark.sources import datasource as DS


@pytest.fixture()
def pages(tmp_path):
    rows = [{"event_id": i, "user_id": i % 7, "value": i * 1.5}
            for i in range(100)]
    DS.write_pages(rows, str(tmp_path / "pages"), page_size=10)
    return str(tmp_path / "pages")


SCHEMA = "event_id long, user_id long, value double, page int"


def test_batch_read_roundtrip(spark, pages):
    DS.register(spark)
    df = (spark.read.format("gobblin_rest").schema(SCHEMA)
          .option("path", pages).load())
    assert df.count() == 100
    got = {(r.event_id, r.page) for r in df.collect()}
    assert (0, 0) in got and (99, 9) in got
    assert df.filter("page = 3").count() == 10


def test_register_repairs_pushdown_conf(spark, pages):
    """Round-5 driver regression pin: the driver's session runs with
    spark.sql.python.filterPushdown.enabled=false, and Spark 4.x
    hard-fails any Python DataSource whose reader implements
    pushFilters() under that conf. register() must set the conf on the
    INCOMING session (it is runtime-settable), not rely on our own
    session factory having done so."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    try:
        DS.register(spark)
        assert spark.conf.get(
            "spark.sql.python.filterPushdown.enabled") == "true"
        df = (spark.read.format("gobblin_rest").schema(SCHEMA)
              .option("path", pages).load())
        assert df.filter("page = 3").count() == 10
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def test_filter_pushdown_prunes_partitions(spark, pages):
    DS.register(spark)
    df = (spark.read.format("gobblin_rest").schema(SCHEMA)
          .option("path", pages).load())
    # page bounds prune whole partitions; non-page filters stay in Spark
    assert df.filter("page >= 8").count() == 20
    assert df.filter("page >= 8 AND user_id = 0").count() == 3
    reader = DS._RestReader(pages, df.schema)
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, IsNotNull

    remaining = list(reader.pushFilters(
        [GreaterThanOrEqual(("page",), 8), IsNotNull(("user_id",))]))
    assert len(remaining) == 1 and isinstance(remaining[0], IsNotNull)
    assert [p.page for p in reader.partitions()] == [8, 9]
    r2 = DS._RestReader(pages, df.schema)
    assert list(r2.pushFilters([EqualTo(("page",), 4)])) == []
    assert [p.page for p in r2.partitions()] == [4]


def test_streaming_incremental_exactly_once(spark, pages, tmp_path):
    DS.register(spark)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    sdf = (spark.readStream.format("gobblin_rest").schema(SCHEMA)
           .option("path", pages).load())

    def drain():
        q = (sdf.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(processingTime="1 second")
             .start())
        deadline = time.time() + 60
        while time.time() < deadline:
            prog = q.lastProgress
            if prog and prog["numInputRows"] == 0 and os.path.isdir(sink):
                break
            time.sleep(1)
        q.stop()
        q.awaitTermination(60)

    drain()
    assert spark.read.parquet(sink).count() == 100
    DS.write_pages([{"event_id": 1000 + i, "user_id": 0, "value": 0.0}
                    for i in range(10)], pages, page_size=10, start_page=10)
    drain()
    df = spark.read.parquet(sink)
    assert df.count() == 110
    assert df.filter("event_id >= 1000").count() == 10
    assert df.groupBy("event_id").count().filter("count > 1").count() == 0


def test_writer_commit_lifecycle(spark, tmp_path):
    """write() stages per task; commit() publishes + _DELIVERED; rows
    survive a read-back through plain json."""
    import glob
    import json as _json

    DS.register(spark)
    out = str(tmp_path / "sink")
    df = spark.range(0, 57).selectExpr(
        "id AS event_id", "id % 3 AS user_id", "CAST(id AS DOUBLE) AS value")
    (df.repartition(4).write.format("gobblin_rest")
       .option("path", out).option("batch_size", "10").mode("append").save())
    assert os.path.exists(os.path.join(out, "_DELIVERED"))
    man = _json.load(open(os.path.join(out, "_DELIVERED")))
    assert man["rows"] == 57
    rows = []
    for f in glob.glob(os.path.join(out, "task-*.json")):
        rows += [_json.loads(ln) for ln in open(f) if ln.strip()]
    assert len(rows) == 57
    assert {r["event_id"] for r in rows} == set(range(57))
    assert not os.path.isdir(os.path.join(out, "_staging"))


def test_bad_records_policies(spark, tmp_path):
    """fail mode raises with file/line context; drop mode skips the
    poisoned lines and keeps good rows flowing."""
    import pytest as _pytest

    path = str(tmp_path / "poison")
    DS.write_pages([{"event_id": i, "user_id": 0, "value": 1.0}
                    for i in range(10)], path, page_size=5)
    with open(f"{path}/page-00001.json", "a") as fh:
        fh.write("{not json}\n")
        fh.write('{"event_id": 99, "user_id": 0, "value": 2.0}\n')
    DS.register(spark)
    base = (spark.read.format("gobblin_rest").schema(SCHEMA)
            .option("path", path))
    with _pytest.raises(Exception, match="malformed page record"):
        base.load().count()
    dropped = base.option("bad_records", "drop").load()
    assert dropped.count() == 11  # 10 good + the one after the poison
    assert dropped.filter("event_id = 99").count() == 1


def test_sql_source_partitions_filters_and_values(spark, tmp_path):
    """gobblin_sql: range-partitioned parallel pull from an embedded
    database with predicate pushdown — values must equal the source
    table exactly, edge partitions open-ended."""
    import duckdb

    db = str(tmp_path / "t.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE ev AS SELECT * FROM "
        "'/root/testdata/sf0.001/events.parquet'")
    exact = con.execute("SELECT count(*) FROM ev").fetchone()[0]
    con.close()
    DS.register(spark)
    base = (spark.read.format("gobblin_sql")
            .option("database", db).option("table", "ev")
            .option("partition_column", "event_id")
            .option("lower_bound", "100")     # bounds tighter than data:
            .option("upper_bound", "500")     # edge ranges stay open
            .option("num_partitions", "3"))
    df = base.load()
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == exact  # open edges never lose rows
    got = df.filter("event_type = 'click'").agg(
        F.sum("event_id").alias("s")).first().s
    want = duckdb.connect(db, read_only=True).execute(
        "SELECT sum(event_id) FROM ev WHERE event_type = 'click'"
    ).fetchone()[0]
    assert got == want
    # reader-level: pushed filters leave Spark nothing to re-check
    from pyspark.sql.datasource import EqualTo, StringContains

    r = DS._SqlReader(
        {"database": db, "table": "ev", "partition_column": "event_id",
         "lower_bound": "0", "upper_bound": "100", "num_partitions": "2"},
        df.schema)
    rem = list(r.pushFilters([EqualTo(("event_type",), "click"),
                              StringContains(("event_type",), "cli")]))
    assert len(rem) == 1 and isinstance(rem[0], StringContains)
    assert r.where == ["event_type = 'click'"]


def test_sql_source_rejects_unsafe_identifiers(spark, tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsafe SQL identifier"):
        DS._sql_ident("ev; DROP TABLE x")
    assert DS._sql_literal("o'brien") == "'o''brien'"
    assert DS._sql_literal(None) == "NULL"
    assert DS._sql_literal(True) == "TRUE"


def test_sql_writer_staging_swap(spark, tmp_path):
    """Tasks stage parquet, ONE driver-side transaction loads + swaps:
    append accumulates, overwrite replaces, rows exact."""
    import duckdb

    db = str(tmp_path / "w.duckdb")
    duckdb.connect(db).close()  # create the database file
    DS.register(spark)
    df = spark.range(0, 40).selectExpr(
        "id AS k", "CAST(id * 2 AS DOUBLE) AS v")

    def write(mode, dframe):
        (dframe.repartition(4).write.format("gobblin_sql")
         .option("database", db).option("table", "sink")
         .mode(mode).save())

    write("append", df)
    con = duckdb.connect(db, read_only=True)
    assert con.execute("SELECT count(*), sum(k) FROM sink").fetchone() \
        == (40, 780)
    con.close()
    write("append", df.filter("k < 10"))
    con = duckdb.connect(db, read_only=True)
    assert con.execute("SELECT count(*) FROM sink").fetchone()[0] == 50
    con.close()
    write("overwrite", df.filter("k >= 30"))
    con = duckdb.connect(db, read_only=True)
    assert con.execute("SELECT count(*), min(k) FROM sink").fetchone() \
        == (10, 30)
    con.close()
    import glob
    assert not glob.glob(f"{tmp_path}/_staging_*")  # staging cleaned


def test_stream_writer_epoch_commit_exactly_once(spark, tmp_path):
    """Streaming sink: per-epoch atomic publish with manifest; a
    replayed epoch overwrites its own directory instead of doubling."""
    import glob
    import json as _json

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    DS.register(spark)
    df = spark.range(0, 30).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    df.repartition(2).write.parquet(src)
    sdf = spark.readStream.schema("k long, v double").parquet(src)
    q = (sdf.writeStream.format("gobblin_rest").option("path", sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    manifests = sorted(glob.glob(f"{sink}/epoch=*/_manifest.json"))
    assert manifests
    total = sum(_json.load(open(m))["rows"] for m in manifests)
    assert total == 30
    rows = []
    for f in glob.glob(f"{sink}/epoch=*/task-*.json"):
        rows += [_json.loads(ln)["k"] for ln in open(f) if ln.strip()]
    assert sorted(rows) == list(range(30))
    # no staging residue left behind
    assert not glob.glob(f"{sink}/_epoch_staging/*")


def test_sql_writer_abort_leaves_target_untouched(spark, tmp_path):
    """A task failure mid-job must abort the V2 write: the target
    table keeps its prior contents and staging is cleaned."""
    import glob

    import duckdb

    db = str(tmp_path / "a.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE sink AS SELECT 1 AS k, 1.0 AS v")
    con.close()
    DS.register(spark)
    from pyspark.sql.functions import udf

    @udf("long")
    def boom(x):
        if x == 17:
            raise RuntimeError("injected task failure")
        return x

    df = spark.range(0, 40).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v") \
        .withColumn("k", boom("k"))
    with pytest.raises(Exception):
        (df.repartition(4).write.format("gobblin_sql")
         .option("database", db).option("table", "sink")
         .mode("append").save())
    con = duckdb.connect(db, read_only=True)
    assert con.execute("SELECT count(*) FROM sink").fetchone()[0] == 1
    con.close()
    assert not glob.glob(f"{tmp_path}/_staging_*/*")


def test_sql_stream_incremental_watermark_pull(spark, tmp_path):
    """The LWM/HWM loop as a native stream: each drain pulls only rows
    past the checkpointed watermark; restarts never re-deliver."""
    import time

    import duckdb

    db = str(tmp_path / "s.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t AS SELECT range AS k, range * 1.0 AS v "
                "FROM range(0, 50)")
    con.close()
    DS.register(spark)
    sdf = (spark.readStream.format("gobblin_sql").schema("k long, v double")
           .option("database", db).option("table", "t")
           .option("partition_column", "k").load())
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def drain():
        q = (sdf.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(processingTime="1 second")
             .start())
        deadline = time.time() + 45
        while time.time() < deadline:
            if q.lastProgress and q.lastProgress["numInputRows"] == 0:
                break
            time.sleep(1)
        q.stop()
        q.awaitTermination(60)

    drain()
    assert spark.read.parquet(sink).count() == 50
    con = duckdb.connect(db)
    con.execute("INSERT INTO t SELECT range AS k, 0.0 FROM range(100, 120)")
    con.close()
    drain()
    df = spark.read.parquet(sink)
    assert df.count() == 70
    assert df.filter("k >= 100").count() == 20
    assert df.groupBy("k").count().filter("count > 1").count() == 0


def test_sql_source_schema_drift_null_fill(spark, tmp_path):
    """missing_columns=null: a declared column the upstream dropped
    reads as typed NULLs; default mode still fails fast."""
    import duckdb

    db = str(tmp_path / "drift.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t AS SELECT range AS k, 'x' AS s "
                "FROM range(0, 10)")
    con.close()
    DS.register(spark)
    base = (spark.read.format("gobblin_sql")
            .schema("k long, s string, gone double")
            .option("database", db).option("table", "t")
            .option("partition_column", "k")
            .option("lower_bound", "0").option("upper_bound", "10")
            .option("num_partitions", "2"))
    with pytest.raises(Exception):
        base.load().count()  # fail-fast default
    df = base.option("missing_columns", "null").load()
    rows = df.collect()
    assert len(rows) == 10
    assert all(r.gone is None and r.s == "x" for r in rows)


def test_sql_empty_write_keeps_declared_types_incl_decimal(spark, tmp_path):
    """An empty gobblin_sql write must create the table with the
    DECLARED column types (incl. parametrized decimal — previously the
    VARCHAR fallback silently degraded it), so a later real append
    neither fails nor coerces."""
    import duckdb

    from gobblin_spark.sources import datasource as DS

    DS.register(spark)
    db = str(tmp_path / "t.duckdb")
    empty = spark.createDataFrame(
        [], "id bigint, amt decimal(15,2), s string")
    (empty.write.format("gobblin_sql").option("database", db)
     .option("table", "t1").mode("append").save())
    con = duckdb.connect(db)
    types = dict(con.execute(
        "SELECT column_name, data_type FROM information_schema.columns "
        "WHERE table_name='t1'").fetchall())
    con.close()
    assert types == {"id": "BIGINT", "amt": "DECIMAL(15,2)", "s": "VARCHAR"}
    from decimal import Decimal

    d = spark.createDataFrame([(5, Decimal("12.34"), "x")],
                              "id bigint, amt decimal(15,2), s string")
    (d.write.format("gobblin_sql").option("database", db)
     .option("table", "t1").mode("append").save())
    con = duckdb.connect(db)
    assert con.execute("SELECT * FROM t1").fetchall() == [
        (5, Decimal("12.34"), "x")]
    con.close()


# -- round-6 review fixes ---------------------------------------------


def test_sql_filter_on_dropped_column_stays_in_spark(spark, tmp_path):
    """Review-r6: under missing_columns=null a pushed filter on a
    table-absent column crashed DuckDB (unknown identifier). The
    filter must stay in Spark and evaluate against the NULL fill."""
    import duckdb

    db = str(tmp_path / "driftf.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t AS SELECT range AS k, 'x' AS s "
                "FROM range(0, 10)")
    con.close()
    DS.register(spark)
    df = (spark.read.format("gobblin_sql")
          .schema("k long, s string, gone double")
          .option("database", db).option("table", "t")
          .option("partition_column", "k")
          .option("lower_bound", "0").option("upper_bound", "10")
          .option("num_partitions", "2")
          .option("missing_columns", "null").load())
    assert df.filter("gone IS NULL").count() == 10
    assert df.filter("gone > 1").count() == 0
    # pushdown on PRESENT columns still prunes in the database
    assert df.filter("k >= 5").count() == 5


def test_sql_case_insensitive_declared_columns(spark, tmp_path):
    """Review-r6: identifier matching is case-insensitive — a declared
    'ID' must read the table's 'id', not silently null-fill."""
    import duckdb

    db = str(tmp_path / "case.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t AS SELECT range AS id FROM range(0, 5)")
    con.close()
    DS.register(spark)
    df = (spark.read.format("gobblin_sql").schema("ID long")
          .option("database", db).option("table", "t")
          .option("partition_column", "id")
          .option("lower_bound", "0").option("upper_bound", "5")
          .option("missing_columns", "null").load())
    assert sorted(r.ID for r in df.collect()) == [0, 1, 2, 3, 4]


def test_sql_nonfinite_float_predicate(spark, tmp_path):
    """Review-r6: inf/nan literals pushed into SQL must not bind as
    identifiers."""
    import duckdb

    db = str(tmp_path / "inf.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t AS SELECT range AS k, "
                "range * 1.5 AS v FROM range(0, 10)")
    con.close()
    DS.register(spark)
    df = (spark.read.format("gobblin_sql").schema("k long, v double")
          .option("database", db).option("table", "t")
          .option("partition_column", "k")
          .option("lower_bound", "0").option("upper_bound", "10").load())
    assert df.filter(df.v < float("inf")).count() == 10
    assert df.filter(df.v > float("-inf")).count() == 10


def test_sql_timestamp_roundtrip(spark, tmp_path):
    """Review-r6: DuckDB emits naive timestamp[us]; the reader must
    conform batches to Spark's expected arrow schema (timestamp[us,
    tz=UTC] for 'timestamp') instead of letting the JVM reinterpret."""
    import datetime as dt

    import duckdb

    db = str(tmp_path / "ts.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t AS SELECT range AS k, "
                "TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (range) HOUR"
                " AS ts FROM range(0, 6)")
    con.close()
    DS.register(spark)
    for decl in ("k long, ts timestamp", "k long, ts timestamp_ntz"):
        df = (spark.read.format("gobblin_sql").schema(decl)
              .option("database", db).option("table", "t")
              .option("partition_column", "k")
              .option("lower_bound", "0").option("upper_bound", "6").load())
        got = {r.k: r.ts for r in df.collect()}
        # session tz is UTC, so both flavors collect the same naive
        # wall-clock instants
        assert got[0].replace(tzinfo=None) == dt.datetime(2024, 1, 1)
        assert got[5].replace(tzinfo=None) == dt.datetime(2024, 1, 1, 5)


def test_sql_append_binds_columns_by_name(spark, tmp_path):
    """Review-r6: appending to a pre-existing table whose physical
    column ORDER differs from the write schema must bind by name —
    positional INSERT would land values in the wrong columns."""
    import duckdb

    from pyspark.sql import functions as F

    db = str(tmp_path / "order.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE sink (b VARCHAR, a BIGINT)")
    con.close()
    DS.register(spark)
    df = spark.range(3).select(
        F.col("id").alias("a"), F.lit("x").alias("b"))
    (df.write.format("gobblin_sql").option("database", db)
     .option("table", "sink").mode("append").save())
    con = duckdb.connect(db, read_only=True)
    rows = con.execute("SELECT a, b FROM sink ORDER BY a").fetchall()
    con.close()
    assert rows == [(0, "x"), (1, "x"), (2, "x")]


def test_iceberg_datasource_reads_and_prunes(spark, tmp_path):
    """gobblin_iceberg DSv2 face: schema inference from table
    metadata, full and filtered reads over a PARTITION-EVOLVED table
    (identity then bucket specs coexisting), planner-level file
    pruning driven by the pushed filters, ref reads, and the honest
    delete-file gate."""
    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import IcebergTable
    from gobblin_spark.sources import datasource as DS

    DS.register(spark)
    rows = [(i, ["us", "eu"][i % 2], float(i)) for i in range(12)]
    df = spark.createDataFrame(rows, "k long, region string, v double")
    loc = str(tmp_path / "icedsv2")
    t = IcebergTable.create(spark, loc, df.schema,
                            partition_spec=[("region", "identity")])
    t.append_dataframe(df.coalesce(1))
    t.update_partition_spec([("k", "bucket[4]")])
    t.append_dataframe(df.coalesce(1))

    got = spark.read.format("gobblin_iceberg").option("path", loc).load()
    assert got.columns == ["k", "region", "v"]
    assert sorted(map(tuple, got.collect())) == sorted(
        list(map(tuple, rows)) * 2)
    assert sorted(map(tuple, got.filter("region = 'eu'").collect())) \
        == sorted([r for r in map(tuple, rows) if r[1] == "eu"] * 2)

    # planner prunes through BOTH specs' transforms
    from pyspark.sql.types import _parse_datatype_string

    sch = _parse_datatype_string("k long, region string, v double")
    n_all = len(DS._IcebergReader({"path": loc}, sch)._plan())
    r_eu = DS._IcebergReader({"path": loc}, sch)
    r_eu.prune = [("region", "=", "eu")]
    r_k = DS._IcebergReader({"path": loc}, sch)
    r_k.prune = [("k", "=", 3)]
    assert len(r_eu._plan()) < n_all and len(r_k._plan()) < n_all
    # ... and it is the native reader's planner: same file counts
    for r in (DS._IcebergReader({"path": loc}, sch), r_eu, r_k):
        t.read(prune_filters=r.prune)
        assert len(r._plan()) == t.last_scan["files_scanned"]

    # snapshot_id option time-travels
    s1 = t.snapshots()[0]["snapshot-id"]
    tt = (spark.read.format("gobblin_iceberg").option("path", loc)
          .option("snapshot_id", str(s1)).load())
    assert tt.count() == 12
    # an unknown snapshot id is named on both faces
    with _pytest.raises(ValueError,
                        match="snapshot 12345 not in table history"):
        t.read(snapshot_id=12345)
    with _pytest.raises(Exception,
                        match="snapshot 12345 not in table history"):
        (spark.read.format("gobblin_iceberg").option("path", loc)
         .option("snapshot_id", "12345").load().collect())

    # branch refs resolve; empty-table refs read empty, not main
    t.create_branch("audit")
    t.append_dataframe(df.coalesce(1), branch="audit")
    br = (spark.read.format("gobblin_iceberg")
          .option("path", loc).option("ref", "audit").load())
    assert br.count() == 36
    assert (spark.read.format("gobblin_iceberg")
            .option("path", loc).load().count() == 24)
    # snapshot_id AND ref is ambiguous on both faces, never one of them
    with _pytest.raises(ValueError, match="snapshot_id OR ref"):
        t.read(snapshot_id=s1, ref="audit")
    with _pytest.raises(Exception, match="snapshot_id OR ref"):
        (spark.read.format("gobblin_iceberg").option("path", loc)
         .option("ref", "audit").option("snapshot_id", str(s1))
         .load().collect())

    # the delete-file gate is honest: merge-on-read needs the native
    # reader, never a silently wrong connector result
    t.delete_equality(spark.createDataFrame([(1,)], "k long"))
    with _pytest.raises(Exception, match="delete files"):
        (spark.read.format("gobblin_iceberg")
         .option("path", loc).load().collect())


def test_iceberg_datasource_write_commit(spark, tmp_path):
    """DSv2 write face: per-task parquet files under data/ become ONE
    append snapshot in the sessionless driver-side commit (local-IO
    metadata path, create-fails-if-exists guard intact), bounds land
    in the manifests, and JVM reads still work afterwards (.crc
    sidecar hygiene on the version-hint rewrite)."""
    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import IcebergTable
    from gobblin_spark.sources import datasource as DS

    DS.register(spark)
    df = spark.createDataFrame(
        [(i, f"s{i}", float(i)) for i in range(20)],
        "k long, s string, v double")
    loc = str(tmp_path / "dsv2w")
    t = IcebergTable.create(spark, loc, df.schema)
    (df.repartition(3).write.format("gobblin_iceberg")
       .option("path", loc).mode("append").save())
    assert len(t.snapshots()) == 1  # one snapshot, not one per task
    assert sorted(r.k for r in t.read().collect()) == list(range(20))
    # second connector append: JVM metadata reads after the
    # plain-python commit prove the crc handling
    (df.write.format("gobblin_iceberg")
       .option("path", loc).mode("append").save())
    assert t.read().count() == 40
    # footers delivered bounds: the native planner can prune
    sub = t.read(prune_filters=[("k", ">=", 15)])
    assert sorted(r.k for r in sub.collect()) == sorted(
        list(range(15, 20)) * 2)
    assert t.last_scan["files_scanned"] < t.last_scan["files_total"]
    # gates: partitioned tables and overwrite mode
    t2 = IcebergTable.create(spark, str(tmp_path / "dsv2wp"), df.schema,
                             partition_cols=["s"])
    with _pytest.raises(Exception, match="append_dataframe"):
        (df.write.format("gobblin_iceberg")
           .option("path", t2.location).mode("append").save())
    with _pytest.raises(Exception, match="replace snapshots|overwrite"):
        (df.write.format("gobblin_iceberg")
           .option("path", loc).mode("overwrite").save())


def test_iceberg_datasource_bounds_pruning(spark, tmp_path):
    """DSv2 planner bounds pruning: Appendix-D serialized bounds must
    be DESERIALIZED before comparison — the first draft compared raw
    bytes, which silently disabled bounds pruning for every type and
    crashed the float ulp-widening path. Disjoint-range files now
    prune 4 -> 1 on a long range predicate, and double predicates
    neither crash nor misprune."""
    from gobblin_spark.sinks.iceberg import IcebergTable
    from gobblin_spark.sources import datasource as DS

    df = spark.createDataFrame([(i, float(i)) for i in range(40)],
                               "k long, v double")
    loc = str(tmp_path / "dsv2b")
    t = IcebergTable.create(spark, loc, df.schema)
    rows = df.orderBy("k")
    for i in range(4):
        t.append_dataframe(
            rows.limit((i + 1) * 10).subtract(rows.limit(i * 10))
            .coalesce(1))
    n_all = len(DS._IcebergReader({"path": loc}, df.schema)._plan())
    r = DS._IcebergReader({"path": loc}, df.schema)
    r.prune = [("k", ">=", 30)]
    assert len(r._plan()) < n_all
    r2 = DS._IcebergReader({"path": loc}, df.schema)
    r2.prune = [("v", "<", 5.0)]
    assert len(r2._plan()) < n_all
    # one planner: the native reader keeps the same files
    for rr in (DS._IcebergReader({"path": loc}, df.schema), r, r2):
        t.read(prune_filters=rr.prune)
        assert len(rr._plan()) == t.last_scan["files_scanned"]
    # values stay exact through the full engine path
    DS.register(spark)
    got = (spark.read.format("gobblin_iceberg").option("path", loc)
           .load().filter("k >= 30"))
    assert sorted(rr.k for rr in got.collect()) == list(range(30, 40))


def test_iceberg_stream_incremental(spark, tmp_path):
    """readStream.format('gobblin_iceberg'): offsets are table
    sequence numbers, a checkpointed resume consumes ONLY snapshots
    committed since, readBetweenOffsets replays exact seq windows
    from carried-forward manifests, and starting=latest begins at the
    current frontier."""
    from gobblin_spark.sinks.iceberg import IcebergTable
    from gobblin_spark.sources import datasource as DS

    DS.register(spark)
    df = spark.createDataFrame([(i, f"s{i}") for i in range(30)],
                               "k long, s string")
    loc = str(tmp_path / "icestream")
    t = IcebergTable.create(spark, loc, df.schema)
    rows = df.orderBy("k")
    for i in range(3):
        t.append_dataframe(
            rows.limit((i + 1) * 10).subtract(rows.limit(i * 10)))

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    for expect in (30, 35):
        q = (spark.readStream.format("gobblin_iceberg")
             .schema(df.schema).option("path", loc).load()
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        assert spark.read.parquet(out).count() == expect
        if expect == 30:  # commit the delta the resume must pick up
            t.append_dataframe(spark.createDataFrame(
                [(i, f"s{i}") for i in range(30, 35)],
                "k long, s string"))

    sr = DS._IcebergStreamReader({"path": loc, "starting": "latest"},
                                 df.schema)
    assert sr.initialOffset() == {"seq": 4}
    rep = list(sr.readBetweenOffsets({"seq": 1}, {"seq": 3}))
    assert sorted(r[0] for r in rep) == list(range(10, 30))


def test_iceberg_stream_replace_in_window(spark, tmp_path):
    """r11: a rewrite (REPLACE snapshot) inside a stream window emits
    NOTHING — it re-sequences existing rows, so streaming its
    compacted files would double-deliver. The window splits into eras
    at the replace (same planning as changelog): pre-rewrite appends
    replay from the pre-replace manifests, post-rewrite appends from
    the head, and a window covering only the replace is empty. This
    exceeds Iceberg's own streaming read, which fails on any replace
    in the window."""
    from gobblin_spark.sinks.iceberg import IcebergTable
    from gobblin_spark.sources import datasource as DS

    df = spark.createDataFrame([(i, f"s{i}") for i in range(10)],
                               "k long, s string")
    loc = str(tmp_path / "icestrpl")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df.repartition(2))          # seq 1
    t.rewrite_data_files(target_partitions=1)      # seq 2 (replace)
    t.append_dataframe(spark.createDataFrame(
        [(99, "z")], "k long, s string"))          # seq 3
    sr = DS._IcebergStreamReader({"path": loc}, df.schema)
    # the spanning window delivers each row exactly once
    assert sorted(r[0] for r in sr.readBetweenOffsets(
        {"seq": 0}, {"seq": 3})) == list(range(10)) + [99]
    # a window covering ONLY the replace is empty
    assert list(sr.readBetweenOffsets({"seq": 1}, {"seq": 2})) == []
    # a window strictly BEFORE the replace still replays fine
    assert sorted(r[0] for r in sr.readBetweenOffsets(
        {"seq": 0}, {"seq": 1})) == list(range(10))
    # ... and strictly after
    assert [r[0] for r in sr.readBetweenOffsets(
        {"seq": 2}, {"seq": 3})] == [99]


def test_iceberg_stream_overwrite_contract(spark, tmp_path):
    """r12 (verdict-r11 #3): the streaming-overwrite contract is
    EXPLICIT. Default: an overwrite in the window raises, naming the
    opt-in — an append-only stream cannot retract the removed rows,
    so silently consuming it would corrupt downstream state. With
    .option('overwrites', 'insert-only'): the overwrite splits eras
    like a replace, its ADDED files emit as inserts exactly once, and
    its removed rows are never retracted (the documented caveat).
    Unknown option values fail at construction."""
    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import IcebergTable
    from gobblin_spark.sources import datasource as DS

    df = spark.createDataFrame([(i, f"s{i}") for i in range(6)],
                               "k long, s string")
    loc = str(tmp_path / "icestrow")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df.coalesce(1))                       # seq 1
    sub = str(tmp_path / "ow_new")
    spark.createDataFrame([(100, "x"), (101, "y")],
                          "k long, s string").coalesce(1) \
        .write.mode("overwrite").parquet(sub)
    t._commit_files(t._list_committed_files(sub), content=0,
                    equality_ids=None, operation="overwrite",
                    carry_prior=False)                       # seq 2
    t.append_dataframe(spark.createDataFrame(
        [(200, "z")], "k long, s string"))                   # seq 3

    # default: FAIL, naming the opt-in
    sr = DS._IcebergStreamReader({"path": loc}, df.schema)
    with _pytest.raises(NotImplementedError, match="insert-only"):
        list(sr.readBetweenOffsets({"seq": 0}, {"seq": 3}))
    # windows not covering the overwrite still stream fine
    assert sorted(r[0] for r in sr.readBetweenOffsets(
        {"seq": 0}, {"seq": 1})) == list(range(6))
    assert [r[0] for r in sr.readBetweenOffsets(
        {"seq": 2}, {"seq": 3})] == [200]

    # opt-in: added files emit as inserts exactly once; pre-overwrite
    # appends still replay from their own era; removed rows are NOT
    # retracted (there is no retraction channel — documented)
    so = DS._IcebergStreamReader(
        {"path": loc, "overwrites": "insert-only"}, df.schema)
    assert sorted(r[0] for r in so.readBetweenOffsets(
        {"seq": 0}, {"seq": 3})) == list(range(6)) + [100, 101, 200]
    # a window covering ONLY the overwrite: just its added files
    assert sorted(r[0] for r in so.readBetweenOffsets(
        {"seq": 1}, {"seq": 2})) == [100, 101]
    # replay is idempotent across the overwrite boundary
    assert sorted(r[0] for r in so.readBetweenOffsets(
        {"seq": 1}, {"seq": 2})) == [100, 101]

    with _pytest.raises(ValueError, match="insert-only"):
        DS._IcebergStreamReader(
            {"path": loc, "overwrites": "emit"}, df.schema)

    # overwrite AND rewrite in ONE window (era interplay): the
    # compaction supersedes every earlier manifest, yet the
    # overwrite's added files and the post-overwrite append must
    # each deliver exactly once from their own eras
    t.rewrite_data_files(target_partitions=1)               # seq 4
    t.append_dataframe(spark.createDataFrame(
        [(300, "w")], "k long, s string"))                  # seq 5
    assert sorted(r[0] for r in so.readBetweenOffsets(
        {"seq": 0}, {"seq": 5})) == \
        list(range(6)) + [100, 101, 200, 300]
    # a window covering only overwrite..rewrite: adds + the append
    assert sorted(r[0] for r in so.readBetweenOffsets(
        {"seq": 1}, {"seq": 4})) == [100, 101, 200]

    # END-TO-END: the option plumbs through the registered DSv2
    # source — a real readStream over the overwrite-carrying history
    # delivers base rows + added files + post-overwrite appends
    DS.register(spark)
    out, ck = str(tmp_path / "ow_out"), str(tmp_path / "ow_ck")
    q = (spark.readStream.format("gobblin_iceberg")
         .schema(df.schema).option("path", loc)
         .option("overwrites", "insert-only").load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(r.k for r in spark.read.parquet(out).collect())
    assert got == list(range(6)) + [100, 101, 200, 300]


def test_iceberg_stream_replace_expired_parent_seq_gap(spark, tmp_path):
    """r11 review: a replace whose parent is EXPIRED is fatal only
    when the lost era actually contains window commits ON THE CHAIN —
    branch commits consume table-global sequence numbers without
    appearing on main, so a numeric gap (old check: r_seq >
    prev_hi + 1) is not a history gap. Here seq 2 belongs to a WAP
    branch commit; the replace at seq 3 with its parent surgically
    expired must stream an EMPTY window, not raise."""
    from gobblin_spark.sinks.iceberg import IcebergTable
    from gobblin_spark.sources import datasource as DS

    df = spark.createDataFrame([(i, f"s{i}") for i in range(5)],
                               "k long, s string")
    loc = str(tmp_path / "icegap")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df)                                   # seq 1
    s1 = t.metadata()["current-snapshot-id"]
    t.append_dataframe(spark.createDataFrame(
        [(90, "b")], "k long, s string"), branch="wap")      # seq 2
    t.rewrite_data_files(target_partitions=1)                # seq 3
    # surgically expire the replace's parent (ref-head retention
    # normally protects it — emulate a pre-parent-pointer history)
    md = t.metadata()
    md["snapshots"] = [s for s in md["snapshots"]
                       if s["snapshot-id"] != s1]
    t._commit_metadata(md)

    sr = DS._IcebergStreamReader({"path": loc}, df.schema)
    # window (1, 3]: only the branch commit and the replace — nothing
    # on main to replay, so the stream must deliver nothing
    assert list(sr.readBetweenOffsets({"seq": 1}, {"seq": 3})) == []
    # a window that DOES need the expired era still fails loudly
    import pytest as _pytest
    with _pytest.raises(ValueError, match="parent is expired"):
        list(sr.readBetweenOffsets({"seq": 0}, {"seq": 3}))


def test_iceberg_datasource_write_schema_guard(spark, tmp_path):
    """Unknown frame columns fail the write up front — they would
    land in files and silently vanish on read; missing table columns
    stay allowed (reads null-fill, add-column evolution semantics)."""
    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import IcebergTable
    from gobblin_spark.sources import datasource as DS

    DS.register(spark)
    df = spark.createDataFrame([(1, "a", 1.0)], "k long, s string, v double")
    loc = str(tmp_path / "dsv2sg")
    t = IcebergTable.create(spark, loc, df.schema)
    bad = df.withColumnRenamed("v", "nope")
    with _pytest.raises(Exception, match="not in the table schema"):
        (bad.write.format("gobblin_iceberg")
            .option("path", loc).mode("append").save())
    # a narrower frame commits; the read null-fills
    (df.select("k", "s").write.format("gobblin_iceberg")
       .option("path", loc).mode("append").save())
    row = t.read().collect()[0]
    assert (row.k, row.s, row.v) == (1, "a", None)


def test_iceberg_native_stream_sink(spark, tmp_path):
    """writeStream.format('gobblin_iceberg'): each micro-batch commits
    as ONE append snapshot whose summary carries stream-epoch-<id> in
    the same metadata commit; a replayed batchId commits nothing —
    exactly-once through the engine's own streaming API, no
    foreachBatch boilerplate."""
    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import IcebergTable
    from gobblin_spark.sources import datasource as DS

    DS.register(spark)
    df = spark.createDataFrame([(i, f"s{i}") for i in range(30)],
                               "k long, s string")
    indir = str(tmp_path / "in")
    df.repartition(3).write.parquet(indir)
    t = IcebergTable.create(spark, str(tmp_path / "tbl"), df.schema)
    q = (spark.readStream.schema(df.schema).parquet(indir)
         .writeStream.format("gobblin_iceberg")
         .option("path", t.location)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert sorted(r.k for r in t.read().collect()) == list(range(30))
    snaps = t.snapshots()
    assert all(s["summary"].get("epoch-token", "").startswith(
        "stream-epoch-") for s in snaps)
    # direct replay of an already-committed batchId: exactly-once no-op
    w = DS._IcebergStreamWriter({"path": t.location}, df.schema)
    w.commit([], 0)
    assert len(t.snapshots()) == len(snaps)
    # partitioned tables are gated for the stream sink too
    t2 = IcebergTable.create(spark, str(tmp_path / "tblp"), df.schema,
                             partition_cols=["s"])
    with _pytest.raises(Exception, match="foreachBatch"):
        DS._IcebergStreamWriter({"path": t2.location}, df.schema)

def test_iceberg_stream_excludes_branch_commits(spark, tmp_path):
    """A stream of the published table must not deliver staged
    write-audit-publish branch data: offsets and planning are bounded
    by MAIN's ancestry, and the branch rows arrive only after
    fast_forward publishes them (ADVICE r7, high)."""
    from gobblin_spark.sinks.iceberg import IcebergTable
    from gobblin_spark.sources import datasource as DS

    df = spark.createDataFrame([(i, f"s{i}") for i in range(10)],
                               "k long, s string")
    loc = str(tmp_path / "icewapstream")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df)                       # main, seq 1
    t.create_branch("audit")
    staged = spark.createDataFrame(
        [(i, f"s{i}") for i in range(10, 15)], "k long, s string")
    t.append_dataframe(staged, branch="audit")   # branch-only, seq 2

    sr = DS._IcebergStreamReader({"path": loc}, df.schema)
    # latest frontier is MAIN's head (seq 1), not the table-global
    # last-sequence-number (2) that the branch commit bumped
    assert DS._IcebergStreamReader(
        {"path": loc, "starting": "latest"}, df.schema
    ).initialOffset() == {"seq": 1}
    it, end = sr.read({"seq": 0})
    assert end == {"seq": 1}
    assert sorted(r[0] for r in it) == list(range(10))
    # ... and no staged rows leak through an explicit window either
    assert list(sr.readBetweenOffsets({"seq": 1}, {"seq": 1})) == []

    # publish: the branch snapshots join main's ancestry and the
    # stream picks them up from exactly where it left off
    t.fast_forward("main", "audit")
    it2, end2 = sr.read({"seq": 1})
    assert end2 == {"seq": 2}
    assert sorted(r[0] for r in it2) == list(range(10, 15))


def test_iceberg_dsv2_read_resolves_renames_by_field_id(spark, tmp_path):
    """format('gobblin_iceberg') after rename_column: files written
    pre-rename store the OLD column name; the connector face must
    resolve through parquet field-ids instead of null-filling the
    renamed column (ADVICE r7, medium)."""
    from gobblin_spark.sinks.iceberg import IcebergTable
    from gobblin_spark.sources import datasource as DS

    DS.register(spark)
    df = spark.createDataFrame([(i, f"s{i}", float(i)) for i in range(8)],
                               "k long, s string, v double")
    loc = str(tmp_path / "icerename")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df)              # files store column name 'v'
    t.rename_column("v", "val")
    out = (spark.read.format("gobblin_iceberg").option("path", loc)
           .load().orderBy("k").collect())
    assert [r.val for r in out] == [float(i) for i in range(8)]
    assert [r.k for r in out] == list(range(8))
    # the streaming face resolves the same way
    sr = DS._IcebergStreamReader(
        {"path": loc}, spark.read.format("gobblin_iceberg")
        .option("path", loc).load().schema)
    rows = list(sr.readBetweenOffsets({"seq": 0}, {"seq": 1}))
    assert sorted(r[2] for r in rows) == [float(i) for i in range(8)]
    # a time-travel read answers under the SNAPSHOT's column names, as
    # the native reader does, and prunes on them the same way
    s1 = t.snapshots()[0]["snapshot-id"]
    tt = (spark.read.format("gobblin_iceberg").option("path", loc)
          .option("snapshot_id", str(s1)).load())
    assert tt.columns == t.read(snapshot_id=s1).columns == ["k", "s", "v"]
    assert sorted(r.v for r in tt.filter("v >= 4").collect()) == [
        4.0, 5.0, 6.0, 7.0]
    for lo in (4.0, 100.0):
        r = DS._IcebergReader({"path": loc, "snapshot_id": str(s1)},
                              tt.schema)
        r.prune = [("v", ">=", lo)]
        t.read(snapshot_id=s1, prune_filters=r.prune)
        assert len(r._plan()) == t.last_scan["files_scanned"]
    assert t.last_scan["files_scanned"] == 0  # v >= 100 prunes every file


def test_iceberg_stream_attaches_identity_partition_values(spark, tmp_path):
    """Audit r8: partitionBy drops identity partition columns from the
    data files; the STREAM reader must re-attach them from the hive
    path like the batch reader — previously every partition column
    streamed as NULL."""
    from gobblin_spark.sinks.iceberg import IcebergTable
    from gobblin_spark.sources import datasource as DS

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i)) for i in range(12)],
        "k long, cat string, v double")
    loc = str(tmp_path / "icestreampart")
    t = IcebergTable.create(spark, loc, df.schema, partition_cols=["cat"])
    t.append_dataframe(df)
    sr = DS._IcebergStreamReader({"path": loc}, df.schema)
    rows = list(sr.readBetweenOffsets({"seq": 0}, {"seq": 1}))
    assert len(rows) == 12
    cats = {r[1] for r in rows}
    assert cats == {"s0", "s1", "s2"}
    assert all(r[1] == f"s{r[0] % 3}" for r in rows)


def test_iceberg_renamed_partition_column_attaches(spark, tmp_path):
    """Audit r8: identity attach keys by the CURRENT schema name — a
    renamed partition column used to read back all-NULL before the
    next data commit."""
    from gobblin_spark.sinks.iceberg import IcebergTable
    from gobblin_spark.sources import datasource as DS

    DS.register(spark)
    df = spark.createDataFrame([(i, f"s{i % 2}") for i in range(8)],
                               "k long, cat string")
    loc = str(tmp_path / "icerenpart")
    t = IcebergTable.create(spark, loc, df.schema, partition_cols=["cat"])
    t.append_dataframe(df)
    t.rename_column("cat", "category")
    out = (spark.read.format("gobblin_iceberg").option("path", loc)
           .load().collect())
    assert sorted((r.k, r.category) for r in out) == \
        [(i, f"s{i % 2}") for i in range(8)]
    # streaming face attaches under the new name too
    sch = (spark.read.format("gobblin_iceberg").option("path", loc)
           .load().schema)
    rows = list(DS._IcebergStreamReader({"path": loc}, sch)
                .readBetweenOffsets({"seq": 0}, {"seq": 1}))
    assert sorted(r[1] for r in rows) == sorted(
        f"s{i % 2}" for i in range(8))


def test_sql_blob_filter_pushdown_exact(spark, tmp_path):
    """Audit r8: bytes filter values compile to hex-escaped BLOB
    literals — str(bytes) compiled to a \"b'..'\" VARCHAR literal and,
    because pushdown consumes the filter, silently returned wrong
    rows."""
    import duckdb

    from pyspark.sql import functions as F
    from gobblin_spark.sources import datasource as DS

    DS.register(spark)
    db = str(tmp_path / "blob.db")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t (k BIGINT, payload BLOB)")
    con.execute(
        "INSERT INTO t VALUES (1, '\\x00ab'::BLOB), (2, 'zz'::BLOB)")
    con.close()
    df = (spark.read.format("gobblin_sql")
          .option("database", db).option("table", "t")
          .option("partition_column", "k")
          .option("lower_bound", "0").option("upper_bound", "10")
          .option("num_partitions", "2").load())
    got = df.filter(F.col("payload") == F.lit(b"\x00ab")).collect()
    assert [r.k for r in got] == [1]


def test_sql_stream_rejects_noninteger_watermark(spark, tmp_path):
    """Audit r8: a DOUBLE partition_column would have its watermark
    truncated (rows in the gap skipped forever) — the stream reader
    now refuses non-integer watermark types up front."""
    import duckdb
    import pytest as _pytest

    from gobblin_spark.sources import datasource as DS

    db = str(tmp_path / "wm.db")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t (pc DOUBLE, v BIGINT)")
    con.execute("INSERT INTO t VALUES (5.7, 1)")
    con.close()
    sr = DS._SqlStreamReader(
        {"database": db, "table": "t", "partition_column": "pc"},
        spark.createDataFrame([(1.0, 1)], "pc double, v long").schema)
    with _pytest.raises(NotImplementedError, match="integer-typed"):
        sr.read({"wm": 0})


def test_rest_stream_sweep_is_query_scoped(tmp_path):
    """Audit r8: the epoch-staging sweep deletes only THIS query's
    staged files — an unscoped sweep destroyed a concurrent query's
    staged-but-uncommitted batch."""
    import os

    from pyspark.sql.types import StructType

    from gobblin_spark.sources.datasource import _RestStreamWriter

    path = str(tmp_path / "feed")
    a = _RestStreamWriter({"path": path}, StructType([]))
    b = _RestStreamWriter({"path": path}, StructType([]))
    staging = os.path.join(path, "_epoch_staging")
    os.makedirs(staging)
    fa = os.path.join(staging, f"task-{a.query_token}-00000-1.json")
    fb = os.path.join(staging, f"task-{b.query_token}-00000-1.json")
    open(fa, "w").write("{}")
    open(fb, "w").write("{}")
    a._sweep_staging()
    assert not os.path.exists(fa) and os.path.exists(fb)


def test_rest_writer_manifest_fold_is_locked(tmp_path):
    """Audit r8: concurrent append jobs fold their counts into
    _DELIVERED under a lock — the unguarded read-modify-write lost
    the loser's delta."""
    import json
    import os
    import threading

    from pyspark.sql.types import StructType

    from gobblin_spark.sources.datasource import (
        _RestWriter, _TaskFilesCommit)

    path = str(tmp_path / "out")
    os.makedirs(path)
    errs = []

    def job(rows):
        try:
            w = _RestWriter(path, StructType([]), 100)
            for _ in range(20):
                w.commit([_TaskFilesCommit([], rows)])
        except Exception as e:
            errs.append(e)

    th = [threading.Thread(target=job, args=(r,)) for r in (1, 10)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs, errs
    with open(os.path.join(path, "_DELIVERED")) as fh:
        m = json.load(fh)
    assert m["rows"] == 20 * 1 + 20 * 10


def test_rest_writer_reclaims_stale_manifest_lock(tmp_path,
                                                  monkeypatch):
    """Advice-r8: a lock left behind by a killed driver (no live
    holder) must be reclaimed after the staleness horizon instead of
    wedging every later commit. Review r13 pass 5: a FRESH orphan
    lock now DELAYS the commit until it ages past the horizon and is
    then reclaimed too — the old 5 s give-up made the reclaim path
    unreachable for fresh-looking dead locks (and flaked under
    load)."""
    import json
    import os
    import time

    import pytest
    from pyspark.sql.types import StructType

    from gobblin_spark.sources.datasource import (
        _RestWriter, _TaskFilesCommit)

    path = str(tmp_path / "out")
    os.makedirs(path)
    lock = os.path.join(path, "_DELIVERED.lock")
    open(lock, "w").close()
    os.utime(lock, (time.time() - 3600, time.time() - 3600))  # dead
    w = _RestWriter(path, StructType([]), 100)
    w.commit([_TaskFilesCommit([], 7)])  # reclaims, then commits
    assert not os.path.exists(lock)
    with open(os.path.join(path, "_DELIVERED")) as fh:
        assert json.load(fh)["rows"] == 7
    # a lock with a recent mtime is treated as HELD: the commit WAITS
    # until the lock ages past the (shrunk) horizon, then reclaims it
    # and folds in — no wedge, no lost delta
    import gobblin_spark.sources.datasource as dsrc
    monkeypatch.setattr(dsrc, "_MANIFEST_LOCK_STALE_S", 0.3)
    open(lock, "w").close()
    t0 = time.time()
    _RestWriter(path, StructType([]), 100).commit(
        [_TaskFilesCommit([], 1)])
    assert time.time() - t0 >= 0.3          # it genuinely waited
    assert not os.path.exists(lock)
    with open(os.path.join(path, "_DELIVERED")) as fh:
        assert json.load(fh)["rows"] == 8


def test_lock_reclaim_never_deletes_fresh_inode(tmp_path, monkeypatch):
    """Advice-r9: stale-lock reclaim is SINGLE-WINNER — it renames the
    lock to a unique temp name (only one renamer succeeds) and
    re-stats the renamed inode. A lock whose PATH statted stale but
    whose inode is FRESH (the stat→rename race against a concurrent
    reclaim+re-acquire) must be restored, never deleted."""
    import os
    import time

    import pytest
    from pyspark.sql.types import StructType

    from gobblin_spark.sources.datasource import (
        _RestWriter, _TaskFilesCommit)

    path = str(tmp_path / "out")
    os.makedirs(path)
    lock = os.path.join(path, "_DELIVERED.lock")
    open(lock, "w").close()  # fresh inode — a live holder's lock
    real_getmtime = os.path.getmtime

    def lying_getmtime(p):
        # the PATH stat reports stale (the race window where the old
        # stale lock was reclaimed and re-acquired under our feet);
        # the renamed claim tells the truth about the inode we hold
        if p == lock:
            return time.time() - 3600
        return real_getmtime(p)

    monkeypatch.setattr(os.path, "getmtime", lying_getmtime)
    # the budget accumulates NOMINAL sleep, so no-op'ing sleep makes
    # the full horizon+margin wait spin fast
    monkeypatch.setattr(time, "sleep", lambda s: None)
    with pytest.raises(RuntimeError, match="manifest lock stuck"):
        _RestWriter(path, StructType([]), 100).commit(
            [_TaskFilesCommit([], 1)])
    # the live holder's lock survived every reclaim attempt, no debris
    assert os.path.exists(lock)
    assert not [f for f in os.listdir(path) if ".reclaim." in f]
    assert not os.path.exists(os.path.join(path, "_DELIVERED"))


def test_lock_release_skips_foreign_inode(tmp_path, monkeypatch):
    """Advice-r10: release verifies inode identity. If a reclaimer
    displaced the holder's lock mid-critical-section and a third
    waiter O_EXCL'd the vacant path, the displaced holder's release
    must NOT remove that new live lock (the old unconditional remove
    re-opened the two-holder window one hop later)."""
    import json
    import os

    from pyspark.sql.types import StructType

    from gobblin_spark.sources import datasource as DS
    from gobblin_spark.sources.datasource import (
        _RestWriter, _TaskFilesCommit)

    path = str(tmp_path / "out")
    os.makedirs(path)
    lock = os.path.join(path, "_DELIVERED.lock")
    real_dump = json.dump
    state = {"fired": False}

    def hooked(obj, fh, *a, **k):
        # inside the critical section (the manifest write): simulate a
        # reclaimer renaming our lock away + a third waiter acquiring
        if not state["fired"] and getattr(fh, "name", "").endswith(
                "_DELIVERED"):
            state["fired"] = True
            os.rename(lock, lock + ".stolen")
            open(lock, "w").close()  # third waiter's NEW lock (new inode)
        return real_dump(obj, fh, *a, **k)

    monkeypatch.setattr(DS.json, "dump", hooked)
    w = _RestWriter(path, StructType([]), 100)
    w.commit([_TaskFilesCommit([], 5)])
    assert state["fired"]
    # the third waiter's lock survived our release
    assert os.path.exists(lock)
    with open(os.path.join(path, "_DELIVERED")) as fh:
        assert json.load(fh)["rows"] == 5


def test_lock_reclaim_concurrent_commits_fold(tmp_path):
    """Two jobs racing a STALE leftover lock: exactly one reclaims it
    (rename single-winner), both commit, and the folded manifest
    counts prove the critical section stayed mutually exclusive."""
    import json
    import os
    import threading
    import time

    from pyspark.sql.types import StructType

    from gobblin_spark.sources.datasource import (
        _RestWriter, _TaskFilesCommit)

    path = str(tmp_path / "out")
    os.makedirs(path)
    lock = os.path.join(path, "_DELIVERED.lock")
    open(lock, "w").close()
    os.utime(lock, (time.time() - 3600, time.time() - 3600))  # dead
    errs = []

    def job(rows):
        try:
            w = _RestWriter(path, StructType([]), 100)
            for _ in range(20):
                w.commit([_TaskFilesCommit([], rows)])
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    th = [threading.Thread(target=job, args=(r,)) for r in (1, 10)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs, errs
    with open(os.path.join(path, "_DELIVERED")) as fh:
        assert json.load(fh)["rows"] == 20 * 1 + 20 * 10
    assert not [f for f in os.listdir(path) if ".reclaim." in f]


def test_reclaim_elected_unit_behaviors(tmp_path):
    """r13 flock-elected reclaim (the rename dance steals a live lock
    transiently — tests/test_manifest_lock_model.py): a stale lock is
    removed; a fresh lock is left untouched even when the path STAT
    lied stale (the pinned-fd fstat is authoritative); a reclaimer
    that loses the election touches nothing."""
    import fcntl
    import os
    import time

    from gobblin_spark.sources.datasource import _RestWriter

    lock = str(tmp_path / "_DELIVERED.lock")
    # stale: removed
    open(lock, "w").close()
    os.utime(lock, (time.time() - 3600,) * 2)
    _RestWriter._reclaim_elected(lock, 60.0)
    assert not os.path.exists(lock)
    # fresh: untouched (fstat on the pinned fd decides, not the
    # caller's possibly-stale path stat)
    open(lock, "w").close()
    _RestWriter._reclaim_elected(lock, 60.0)
    assert os.path.exists(lock)
    # lost election: another process' flock is held -> nothing happens
    os.utime(lock, (time.time() - 3600,) * 2)
    holder = os.open(lock, os.O_RDONLY)
    fcntl.flock(holder, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        _RestWriter._reclaim_elected(lock, 60.0)
        assert os.path.exists(lock)     # loser touched nothing
    finally:
        os.close(holder)
    _RestWriter._reclaim_elected(lock, 60.0)   # now elected: removed
    assert not os.path.exists(lock)


def test_reclaim_flock_errno_classification(tmp_path, monkeypatch):
    """Review r13 pass 6 #4: only DETERMINISTICALLY-unsupported flock
    errnos degrade to the rename dance (homogeneous across waiters);
    a transient fault (ENOLCK hiccup, EIO) is treated as a lost
    election — one dancer renaming beside flock-elected waiters would
    re-open the stolen-live-lock race."""
    import errno
    import os
    import time

    import gobblin_spark.sources.datasource as dsrc
    from gobblin_spark.sources.datasource import _RestWriter

    lock = str(tmp_path / "_DELIVERED.lock")

    def make_stale():
        open(lock, "w").close()
        os.utime(lock, (time.time() - 3600,) * 2)

    def raising(err):
        def fake_flock(fd, op):
            raise OSError(err, os.strerror(err))
        return fake_flock

    # transient ENOLCK: lost-election semantics — lock untouched
    make_stale()
    monkeypatch.setattr(dsrc._fcntl, "flock", raising(errno.ENOLCK))
    _RestWriter._reclaim_elected(lock, 60.0)
    assert os.path.exists(lock)
    # deterministic EINVAL: the dance runs and reclaims the corpse
    monkeypatch.setattr(dsrc._fcntl, "flock", raising(errno.EINVAL))
    _RestWriter._reclaim_elected(lock, 60.0)
    assert not os.path.exists(lock)


def test_register_covers_sibling_sessions(spark, sf_dir, tmp_path):
    """register() memoizes per SESSION, not per applicationId
    (advice-r13): a newSession() sibling shares the app id but has its
    own dataSource registry — it must re-register, or every DSv2 read
    there dies with DATA_SOURCE_NOT_FOUND."""
    DS.register(spark)
    sib = spark.newSession()
    DS.register(sib)
    rows = [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]
    path = str(tmp_path / "pages")
    DS.write_pages(rows, path, page_size=1)
    back = (sib.read.format("gobblin_rest").schema("k long, v string")
            .option("path", path).load())
    assert back.count() == 2
