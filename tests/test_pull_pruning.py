"""Watermark-pruned incremental pulls (``state.pull_incremental``): when
the watermark is a plain integer column of one parquet scan, a pull
plans only the files whose footer min/max can hold a row of its
``(lwm, hwm]`` window, and pulls exactly the rows the unpruned pull
does. Every other source keeps the unpruned plan."""

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from gobblin_spark import state
from gobblin_spark.sources import files


def _write(path, wm, stats=True, row_group_size=None):
    table = pa.table({
        "wm": pa.array(wm, type=pa.int64()),
        "v": pa.array([f"r{i}" for i in range(len(wm))]),
    })
    pq.write_table(table, str(path), write_statistics=stats,
                   row_group_size=row_group_size)


def _pull(spark, src, lwm, hwm, root, wm_col="wm"):
    """A pull of (lwm, hwm] from a fresh store whose default LWM is lwm."""
    store = state.WatermarkStore(spark, str(root / f"_state-{uuid.uuid4().hex}"))
    return state.pull_incremental(src, wm_col, store, "ds", hwm=hwm,
                                  default_lwm=lwm)


def _unpruned(src, lwm, hwm, wm_col="wm"):
    return src.filter(state.incremental_predicate(wm_col, lwm, hwm))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _kept_files(src, lwm, hwm):
    """Names of the files the pull's exclusion keeps, one per row of
    the pruned scan's distinct input files."""
    pruned = state._skip_outside(src, state._scan_file_bounds(src, "wm"),
                                 lwm, hwm)
    return sorted(r[0].rsplit("/", 1)[-1] for r in
                  pruned.select(F.input_file_name()).distinct().collect())


@pytest.mark.parametrize("dirname", ["landing", "land ing%20x"])
def test_two_slice_landing_plans_only_the_new_slice(spark, tmp_path, dirname):
    """The ingest benchmark's landing: the slice pulled last time (all
    rows at or below the LWM) beside the new one. The pull plans ONE
    partition where the unpruned pull plans two, with the same rows. A
    path form that never matches ``_metadata.file_path`` (the dir name
    holds a space and a ``%``) would silently plan two."""
    landing = tmp_path / dirname
    landing.mkdir()
    n = 2_000
    for i in range(2):
        lo = i * n
        table = pa.table({
            "l_rowid": pa.array(range(lo + 1, lo + n + 1), type=pa.int64()),
            "l_linenumber": pa.array([j % 4 + 1 for j in range(n)],
                                     type=pa.int32()),
            "l_quantity": pa.array([float(j % 50 + 1) for j in range(n)]),
            "l_shipdate": pa.array([j * 86_400_000_000 for j in range(n)],
                                   type=pa.timestamp("us")),
        })
        pq.write_table(table, str(landing / f"slice-{i:05d}.parquet"))
    src = files.read_parquet(spark, str(landing))
    pull = _pull(spark, src, n, 2 * n, tmp_path, wm_col="l_rowid")
    unpruned = _unpruned(src, n, 2 * n, wm_col="l_rowid")
    assert unpruned.rdd.getNumPartitions() == 2
    assert pull.df.rdd.getNumPartitions() == 1
    assert _rows(pull.df) == _rows(unpruned)
    assert pull.df.count() == n


@pytest.mark.parametrize("lwm, hwm, kept", [
    (10, 30, ["b", "c"]),        # a: max == lwm, skipped; b: min ==
                                 # lwm + 1, kept; d: min > hwm, skipped
    (10, 31, ["b", "c", "d"]),   # d: min == hwm, kept
    (11, 30, ["b", "c"]),        # b: min == lwm, kept (max > lwm)
    (9, 30, ["a", "b", "c"]),    # a: max == lwm + 1, kept
    (None, 20, ["a", "b"]),      # first pull: only min > hwm skipped
])
def test_window_boundaries(spark, tmp_path, lwm, hwm, kept):
    """Four files with wm 1-10, 11-20, 21-30 and 31-40: a file is left
    out only when ``max <= lwm`` or ``min > hwm``."""
    landing = tmp_path / "landing"
    landing.mkdir()
    for k, name in enumerate("abcd"):
        _write(landing / f"{name}.parquet", list(range(10 * k + 1, 10 * k + 11)))
    src = spark.read.parquet(str(landing))
    assert _kept_files(src, lwm, hwm) == [f"{k}.parquet" for k in kept]
    pull = _pull(spark, src, lwm, hwm, tmp_path)
    assert pull.df.rdd.getNumPartitions() == len(kept)
    assert _rows(pull.df) == _rows(_unpruned(src, lwm, hwm))


def _landing(tmp_path, name="landing", **kw):
    landing = tmp_path / name
    landing.mkdir()
    _write(landing / "a.parquet", list(range(1, 11)), **kw)
    _write(landing / "b.parquet", list(range(11, 21)), **kw)
    return landing


def _derived(spark, tmp_path, sf_dir):
    # raw bounds (1-10, 11-20) would skip a.parquet at lwm=10, but the
    # pulled values are wm * 1000: every row of it lies in the window
    return spark.read.parquet(str(_landing(tmp_path))).withColumn(
        "wm", F.col("wm") * 1000), 10, 20_000


def _timestamp(spark, tmp_path, sf_dir):
    orders = files.load_table(spark, sf_dir, "orders")
    lo, hi = orders.agg(F.min("o_orderdate"), F.max("o_orderdate")).first()
    return orders, lo, hi


def _no_stats(spark, tmp_path, sf_dir):
    return spark.read.parquet(str(_landing(tmp_path, stats=False))), 20, 40


def _all_null(spark, tmp_path, sf_dir):
    landing = tmp_path / "landing"
    landing.mkdir()
    _write(landing / "a.parquet", [None] * 5)
    _write(landing / "b.parquet", [None] * 5)
    return spark.read.parquet(str(landing)), 0, 100


def _csv(spark, tmp_path, sf_dir):
    landing = tmp_path / "csv"
    landing.mkdir()
    for name, lo in (("a", 1), ("b", 11)):
        (landing / f"{name}.csv").write_text(
            "wm,v\n" + "".join(f"{w},r{w}\n" for w in range(lo, lo + 10)))
    return spark.read.csv(str(landing), header=True, inferSchema=True), 10, 20


def _union(spark, tmp_path, sf_dir):
    a = tmp_path / "ua"
    b = tmp_path / "ub"
    a.mkdir()
    b.mkdir()
    _write(a / "a.parquet", list(range(1, 11)))
    _write(b / "b.parquet", list(range(11, 21)))
    return spark.read.parquet(str(a)).unionByName(
        spark.read.parquet(str(b))), 10, 20


@pytest.mark.parametrize("source", [_derived, _timestamp, _no_stats,
                                    _all_null, _csv, _union],
                         ids=lambda f: f.__name__.strip("_"))
def test_ineligible_sources_keep_the_unpruned_plan(spark, tmp_path, sf_dir,
                                                  source):
    src, lwm, hwm = source(spark, tmp_path, sf_dir)
    wm_col = "o_orderdate" if "o_orderdate" in src.columns else "wm"
    pull = _pull(spark, src, lwm, hwm, tmp_path, wm_col=wm_col)
    unpruned = _unpruned(src, lwm, hwm, wm_col=wm_col)
    assert pull.df.sameSemantics(unpruned)
    assert pull.df.count() == unpruned.count()


def test_eligible_source_changes_the_plan(spark, tmp_path):
    """The control for the test above: the same landing read as is
    gains the file exclusion."""
    src = spark.read.parquet(str(_landing(tmp_path)))
    pull = _pull(spark, src, 10, 20, tmp_path)
    assert not pull.df.sameSemantics(_unpruned(src, 10, 20))
    assert pull.df.rdd.getNumPartitions() == 1


_WM = st.one_of(st.none(), st.integers(0, 60))


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(slices=st.lists(st.lists(_WM, max_size=30), min_size=1, max_size=3),
       row_group=st.integers(1, 12),
       lwm=st.one_of(st.none(), st.integers(-5, 65)),
       hwm=st.integers(-5, 65))
def test_pruned_pull_equals_unpruned_pull(spark, tmp_path_factory, slices,
                                          row_group, lwm, hwm):
    """Random slice sizes, row groups, windows and null watermarks: the
    pruned pull returns exactly the unpruned pull's rows."""
    root = tmp_path_factory.mktemp("prop")
    landing = root / "landing"
    landing.mkdir()
    for i, wm in enumerate(slices):
        _write(landing / f"s{i}.parquet", wm, row_group_size=row_group)
    src = spark.read.parquet(str(landing))
    pull = _pull(spark, src, lwm, hwm, root)
    assert _rows(pull.df) == _rows(_unpruned(src, lwm, hwm))
