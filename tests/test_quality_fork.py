"""Quality + fork tests (reference analogs:
gobblin-runtime/src/test/java/.../runtime/TaskTest.java — err-record
quarantine; gobblin-runtime/src/test/java/.../runtime/fork/ — branch
routing)."""

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import StructType, StructField, LongType, DoubleType

from gobblin_spark.operators import fork, quality


@pytest.fixture(scope="module")
def events(spark):
    return spark.createDataFrame(
        [
            Row(id=1, v=5.0, kind="click"),
            Row(id=2, v=-1.0, kind="view"),
            Row(id=3, v=None, kind="click"),
            Row(id=4, v=80.0, kind="view"),
        ],
        "id long, v double, kind string",
    )


def test_check_rows_split_conserves(events):
    passed, quar = quality.check_rows(
        events, [quality.not_null_policy(["v"]), quality.range_policy("v", 0, 100)]
    )
    assert passed.count() + quar.count() == events.count()
    assert sorted(r.id for r in passed.collect()) == [1, 4]
    assert sorted(r.id for r in quar.collect()) == [2, 3]  # null v quarantined


def test_task_policies():
    assert quality.row_count_policy(10, 10).passed
    assert not quality.row_count_policy(10, 9).passed
    assert quality.row_count_range_policy(105, 100, 0.1).passed
    assert not quality.row_count_range_policy(150, 100, 0.1).passed
    assert quality.audit_count_verifier(1000, 999, 0.99).passed
    ok = quality.evaluate_task_policies(
        [
            quality.row_count_policy(1, 1),
            quality.TaskPolicyResult("opt", False, optional=True),
        ]
    )
    assert ok
    assert not quality.evaluate_task_policies([quality.row_count_policy(1, 2)])


def test_schema_compatibility(spark):
    df = spark.createDataFrame([Row(a=1, b="x")], "a long, b string")
    expected = StructType([StructField("a", LongType())])
    assert quality.schema_compatibility_policy(df, expected).passed
    bad = StructType([StructField("a", DoubleType())])
    assert not quality.schema_compatibility_policy(df, bad).passed


def test_fork_masks_overlap_and_drop(events):
    branches = fork.fork(events, [F.col("kind") == "click", F.col("v") > 0])
    assert sorted(r.id for r in branches[0].collect()) == [1, 3]
    assert sorted(r.id for r in branches[1].collect()) == [1, 4]  # id=1 in both


def test_identity_fork(events):
    assert [b.count() for b in fork.identity_fork(events, 3)] == [4, 4, 4]


def test_with_branch_ids(events):
    out = fork.with_branch_ids(events, [F.col("kind") == "click", F.col("v") > 0])
    rows = sorted((r.id, r.branch) for r in out.collect())
    assert rows == [(1, 0), (1, 1), (3, 0), (4, 1)]


def test_trailing_count_anomalies_flags_planted_spike(spark):
    from gobblin_spark.operators.quality import trailing_count_anomalies

    # 10 buckets of ~100 rows with jitter, bucket 8 spiking to 500
    rows = []
    counts = [100, 102, 98, 101, 99, 103, 97, 100, 500, 101]
    for day, c in enumerate(counts):
        rows += [(day,)] * c
    df = spark.createDataFrame(rows, "day int")
    out = {r.day: r for r in trailing_count_anomalies(df, "day").collect()}
    assert out[8].is_anomaly is True and out[8].z > 3
    # early buckets lack >=3 trailing points -> no verdict
    assert out[0].is_anomaly is None and out[1].z is None
    # normal buckets before the spike are quiet
    assert out[7].is_anomaly is False
    # the spike then inflates trailing variance; day 9 must not crash
    assert out[9].n_rows == 101


def test_expectations_report_counts_violations(spark):
    from gobblin_spark.operators.quality import expectations_report

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (2, None), (4, 0.0)], "k long, v double")
    rep = {r.expectation: (r.n_rows, r.n_violations)
           for r in expectations_report(
               df,
               [("v_positive", F.col("v") > 0),
                ("v_not_null", F.col("v").isNotNull())],
               unique_cols=["k"]).collect()}
    # null v counts as violating v_positive (coalesce false), 3 violations
    assert rep["v_positive"] == (4, 3)
    assert rep["v_not_null"] == (4, 1)
    assert rep["unique:k"] == (4, 1)
