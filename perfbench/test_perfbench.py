"""Self-tests for the benchmark's own code (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench import gen, stats
from perfbench.trace import GROUP_PREFIX, Span, Tracer, covered, self_times


# ------------------------------------------------------ span arithmetic
def _span(id_, start, end, parent=None):
    return Span(id_, f"s{id_}", start, end, parent, None, {})


def test_self_time_subtracts_children():
    spans = [_span(1, 0.0, 10.0), _span(2, 1.0, 3.0, 1), _span(3, 5.0, 6.0, 1)]
    assert self_times(spans) == {1: 7.0, 2: 2.0, 3: 1.0}


def test_self_time_counts_overlapping_children_once():
    # two branches staged side by side from a thread pool
    spans = [_span(1, 0.0, 10.0), _span(2, 2.0, 6.0, 1),
             _span(3, 4.0, 8.0, 1), _span(4, 7.5, 9.0, 1)]
    assert self_times(spans)[1] == pytest.approx(10.0 - 7.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(1, 0.0, 4.0), _span(2, 3.0, 6.0, 1)]
    assert self_times(spans)[1] == pytest.approx(3.0)


def test_self_time_ignores_grandchildren():
    spans = [_span(1, 0.0, 10.0), _span(2, 2.0, 4.0, 1), _span(3, 2.5, 3.0, 2)]
    selfs = self_times(spans)
    assert selfs[1] == pytest.approx(8.0)
    assert selfs[2] == pytest.approx(1.5)


def test_covered_union():
    assert covered([(0, 1), (0.5, 2), (3, 4)], 0, 10) == pytest.approx(3.0)
    assert covered([(0, 5)], 1, 2) == pytest.approx(1.0)
    assert covered([], 0, 1) == 0.0


class _FakeContext:
    """Thread-local job-group properties, as PySpark's pinned threads."""

    def __init__(self):
        self.local = threading.local()
        self.seen = []

    def getLocalProperty(self, key):
        return getattr(self.local, "group", None)

    def setLocalProperty(self, key, value):
        self.local.group = value
        self.seen.append((threading.get_ident(), value))


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_pool_thread_spans_parent_to_the_open_main_span():
    spark = _FakeSpark()
    tracer = Tracer(spark)
    groups = []

    def branch():
        with tracer.span("branch"):
            groups.append(spark.sparkContext.getLocalProperty("g"))

    with tracer.span("run"):
        with ThreadPoolExecutor(max_workers=2) as ex:
            for f in [ex.submit(branch), ex.submit(branch)]:
                f.result()
    run = next(s for s in tracer.spans if s.name == "run")
    branches = [s for s in tracer.spans if s.name == "branch"]
    assert [s.parent for s in branches] == [run.id, run.id]
    # each pool thread tagged its own job group with its own span
    assert sorted(groups) == sorted(f"{GROUP_PREFIX}{s.id}" for s in branches)
    assert spark.sparkContext.getLocalProperty("g") is None  # restored


def test_install_wraps_and_uninstall_restores():
    class Target:
        def work(self, x):
            return x * 2

    tracer = Tracer(_FakeSpark())
    orig = Target.__dict__["work"]
    tracer.install((Target, "work", "layer.work",
                    lambda res, counts: counts.update(out=res)))
    assert Target().work(21) == 42
    tracer.uninstall()
    assert Target.__dict__["work"] is orig
    (span,) = tracer.spans
    assert (span.name, span.counts) == ("layer.work", {"out": 42})


# ----------------------------------------------------- percentile rules
def test_percentile_needs_ten_samples_beyond():
    assert stats.highest_reportable(9) is None
    assert stats.highest_reportable(20) == 50
    assert stats.highest_reportable(39) == 50
    assert stats.highest_reportable(40) == 75
    assert stats.highest_reportable(100) == 90
    assert stats.highest_reportable(1000) == 99
    with pytest.raises(ValueError):
        stats.percentile(list(range(30)), 75)
    assert stats.percentile(list(range(1, 41)), 75) == 30


def test_summary_reports_only_supported_percentiles():
    small = stats.Samples("job", [1.0, 2.0, 3.0]).summary()
    assert small == {"kind": "job", "n": 3, "p50": 2.0}
    big = stats.Samples("job", [float(i) for i in range(1, 41)]).summary()
    assert big["p75"] == 30.0 and "p90" not in big


def test_unlike_operations_are_never_pooled():
    ops = [("commit", 0.1, 0.0), ("read", 1.0, 0.0), ("commit", 0.2, 0.0),
           ("read", 2.0, 0.0), ("commit", 0.3, 0.0)]
    kinds = stats.by_kind(ops)
    assert {k: s.values for k, s in kinds.items()} == {
        "commit": [0.1, 0.2, 0.3], "read": [1.0, 2.0]}
    assert all(s.kind == k for k, s in kinds.items())
    assert kinds["commit"].summary()["p50"] == 0.2


# --------------------------------------------------- generator determinism
def test_lineitem_slice_is_deterministic():
    a, ea = gen.lineitem_slice(7, 3, 1000, 500)
    b, eb = gen.lineitem_slice(7, 3, 1000, 500)
    c, _ = gen.lineitem_slice(8, 3, 1000, 500)
    assert a.equals(b) and ea == eb
    assert not a.equals(c)
    assert ea["passed"] + ea["quarantined"] == 500
    assert ea["hwm"] == 1500
    assert a.column("l_rowid").to_pylist() == list(range(1001, 1501))


def test_corpus_is_deterministic():
    a, ea = gen.corpus(3, 200)
    b, eb = gen.corpus(3, 200)
    c, _ = gen.corpus(4, 200)
    assert a.equals(b) and ea == eb
    assert not a.equals(c)
    ids = a.column("doc_id").to_pylist()
    assert len(set(ids)) == len(ids)
    texts = a.column("text").to_pylist()
    assert len(set(texts)) < len(texts)  # exact duplicates present
    assert set(ea["junk_ids"]) <= set(ids)
