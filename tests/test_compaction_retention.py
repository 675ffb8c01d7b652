"""Compaction + retention tests (reference analogs:
gobblin-compaction/src/test/java/.../KeyDedupReducerTest.java,
MRCompactorAvroKeyDedupJobRunnerTest.java; retention policies under
gobblin-data-management/src/test/java/.../retention/)."""

import pytest
from pyspark.sql import Row, Window, functions as F

from gobblin_spark.operators import compaction, retention


@pytest.fixture(scope="module")
def versions(spark):
    return spark.createDataFrame(
        [
            Row(ds="a", v=1, ts=10),
            Row(ds="a", v=2, ts=20),
            Row(ds="a", v=3, ts=30),
            Row(ds="b", v=1, ts=15),
        ],
        "ds string, v int, ts long",
    )


def test_dedup_strategies_agree(spark):
    """dedup_by_key's single max_by aggregate keeps the same record per
    key as a row_number() window over the delta columns, newest first
    with null deltas last (the reference form, kept only here)."""
    df = spark.createDataFrame(
        [
            Row(k=1, scn=5, payload="old"),
            Row(k=1, scn=9, payload="new"),
            Row(k=2, scn=1, payload="only"),
            Row(k=3, scn=None, payload="unknown"),
            Row(k=3, scn=2, payload="known"),
        ],
        "k int, scn int, payload string",
    )
    a = compaction.dedup_by_key(df, ["k"], ["scn"])
    w = Window.partitionBy("k").orderBy(F.col("scn").desc_nulls_last())
    b = (df.withColumn("_rn", F.row_number().over(w))
         .filter(F.col("_rn") == 1).drop("_rn"))
    ra = sorted((r.k, r.scn, r.payload) for r in a.collect())
    rb = sorted((r.k, r.scn, r.payload) for r in b.collect())
    assert ra == rb == [(1, 9, "new"), (2, 1, "only"), (3, 2, "known")]


def test_snapshot_delta_merge_upsert(spark):
    snap = spark.createDataFrame(
        [Row(pk=1, val="s1"), Row(pk=2, val="s2")], "pk int, val string"
    )
    delta = spark.createDataFrame(
        [Row(pk=2, val="d2a"), Row(pk=2, val="d2b"), Row(pk=3, val="d3")],
        "pk int, val string",
    )
    # multi-delta newest-wins via delta_order_cols (lexical max on val here)
    out = compaction.snapshot_delta_merge(snap, delta, ["pk"], delta_order_cols=["val"])
    rows = sorted((r.pk, r.val) for r in out.collect())
    assert rows == [(1, "s1"), (2, "d2b"), (3, "d3")]


def test_duplicate_stats(spark):
    df = spark.createDataFrame(
        [Row(k=1), Row(k=1), Row(k=2)], "k int"
    )
    rows = compaction.duplicate_stats(df, ["k"]).collect()
    assert [(r.k, r.record_count) for r in rows] == [(1, 2)]


def test_needs_recompaction():
    assert compaction.needs_recompaction(100, 10, ratio_threshold=0.05)
    assert not compaction.needs_recompaction(100, 1, ratio_threshold=0.05)
    assert compaction.needs_recompaction(100, 3, ratio_threshold=0.5, count_threshold=3)
    assert compaction.needs_recompaction(0, 1)


def test_newest_k(versions):
    out = retention.newest_k_deletable(versions, ["ds"], ["ts"], k=2)
    assert [(r.ds, r.v) for r in out.collect()] == [("a", 1)]


def test_time_selects(versions):
    assert retention.select_before(versions, "ts", 15).count() == 1
    assert retention.select_after(versions, "ts", 15).count() == 3
    assert retention.select_between(versions, "ts", 15, 30).count() == 2


def test_combine_sets(versions):
    s1 = retention.select_before(versions, "ts", 25).select("ds", "v")
    s2 = versions.filter(F.col("ds") == "a").select("ds", "v")
    union = retention.combine_delete_sets([s1, s2], "union")
    inter = retention.combine_delete_sets([s1, s2], "intersect")
    assert union.count() == 4
    assert sorted((r.ds, r.v) for r in inter.collect()) == [("a", 1), ("a", 2)]


def test_purge_by_id(spark):
    data = spark.createDataFrame([Row(uid=1, x="a"), Row(uid=2, x="b")], "uid int, x string")
    ids = spark.createDataFrame([Row(user=2)], "user int")
    kept = retention.purge_by_id(data, ids, "user", "uid")
    assert [r.uid for r in kept.collect()] == [1]


def test_merge_rollup_store_crash_safe_and_exact(spark, tmp_path):
    """Epoch merges equal the one-shot aggregate; a crash mid-swap
    leaves the previous store intact."""
    import os

    from gobblin_spark.operators import compaction as CP

    df = spark.createDataFrame(
        [(i % 4, float(i)) for i in range(100)], "k int, v double")
    store = str(tmp_path / "store")
    for ep in range(5):
        CP.merge_rollup_store(
            spark, store, df.filter(f"CAST(v AS INT) % 5 = {ep}"),
            ["k"], ["v"])
    got = {r.k: (r.n_rows, r.sum_v) for r in
           spark.read.parquet(store).collect()}
    want = {r.k: (r.n_rows, r.sum_v) for r in
            df.groupBy("k").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("v").alias("sum_v")).collect()}
    assert got == want
    # crash safety: the swap uses rename — a stale __swap dir from a
    # crashed run must not corrupt the next merge
    os.makedirs(f"{store}__swap_deadbeef", exist_ok=True)
    CP.merge_rollup_store(spark, store, df.limit(0), ["k"], ["v"])
    got2 = {r.k: (r.n_rows, r.sum_v) for r in
            spark.read.parquet(store).collect()}
    assert got2 == want
