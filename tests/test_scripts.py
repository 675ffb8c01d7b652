"""The measurement CLIs (``scripts/time_query.py``, ``dump_plans.py``,
``job_timeline.py``) run on bench.py's shared core: driven here on the
tests' session at the test SF, one cheap headline query each. The
oracle sweep (``check_oracles.py``) is checked only for its argument
guard, which runs before any engine starts."""

import pytest

import bench
from scripts import check_oracles, dump_plans, job_timeline, time_query

Q = "q6_forecast_revenue"


def test_time_noop_and_time_query(spark, sf_dir, monkeypatch, capsys):
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    assert bench.time_noop(spark, Q) > 0
    assert time_query.main(["-n", "2", Q], spark) == 0
    out = capsys.readouterr().out
    assert f"{Q}: min=" in out and "calibration post" in out


def test_time_query_ab_alternates_and_restores_the_conf(spark, sf_dir,
                                                       monkeypatch, capsys):
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    key = "spark.sql.constraintPropagation.enabled"
    before = spark.conf.get(key)
    assert time_query.main(["-n", "1", "--ab", key, "false", "true", Q],
                           spark) == 0
    out = capsys.readouterr().out
    assert f"TOTAL {key}=false: median" in out
    assert f"TOTAL {key}=true: median" in out
    assert "faster in" in out and out.count(Q) == 1
    assert spark.conf.get(key) == before


def test_iqr_is_the_spread_of_the_tukey_hinges():
    assert time_query._iqr([5.0, 1.0, 3.0, 2.0, 4.0]) == 2.0
    assert time_query._iqr([7.0]) == 0.0


def test_dump_plans_writes_formatted_plan(spark, sf_dir, monkeypatch,
                                          tmp_path):
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    monkeypatch.setattr(dump_plans, "OUT_DIR", str(tmp_path))
    assert dump_plans.main(["smoke", Q], spark) == 0
    text = (tmp_path / f"{Q}_smoke.txt").read_text()
    assert "== Physical Plan ==" in text


def test_census_counts_are_integers(spark, sf_dir, monkeypatch, capsys):
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    c = dump_plans.census(spark, "q3_segment_revenue")
    assert set(c) == {"shuffles", "broadcast_joins", "scans", "pushed"}
    assert all(isinstance(v, int) and v >= 0 for v in c.values())
    assert c["scans"] >= 3  # customer, orders, lineitem
    assert dump_plans.main(["--census", Q], spark) == 0
    assert capsys.readouterr().out.startswith(f"{Q}: shuffles=")


def test_job_timeline_lists_the_query(spark, sf_dir, monkeypatch, capsys):
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    assert job_timeline.main([Q], spark) == 0
    assert f"== {Q}: wall" in capsys.readouterr().out


def test_job_time_is_the_union_of_overlapping_jobs():
    # a broadcast build (1..3) running inside the main job (0..4), then
    # an idle second and a last job: 4 + 2 busy seconds, not 4 + 2 + 2
    assert job_timeline.busy_s([(0.0, 4.0), (1.0, 3.0), (5.0, 7.0)]) == 6.0
    assert job_timeline.busy_s([(0.0, 2.0), (1.0, 3.0)]) == 3.0
    assert job_timeline.busy_s([]) == 0.0


def test_check_oracles_rejects_an_unknown_name(monkeypatch, capsys):
    def boom(*a, **k):
        raise AssertionError("an engine started")

    monkeypatch.setattr(check_oracles.duckdb, "connect", boom)
    monkeypatch.setattr(check_oracles, "get_spark", boom)
    assert check_oracles.main(["q6_forecast_revenue", "no_such_entry"]) != 0
    assert "no_such_entry" in capsys.readouterr().err
    with pytest.raises(AssertionError, match="an engine started"):
        check_oracles.main(["q6_forecast_revenue"])
