"""Watermark store + incremental pull (FIXTURES §4): successive pulls
are disjoint half-open intervals whose union is the full table."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from gobblin_spark import state
from gobblin_spark.sources import files


@pytest.fixture()
def store(spark, tmp_path):
    return state.WatermarkStore(spark, str(tmp_path / "wm"))


def test_store_roundtrip_types(store):
    assert store.get("ds") is None
    assert store.get("ds", default=0) == 0
    store.commit("ds", 42)
    assert store.get("ds") == 42
    ts = dt.datetime(2024, 3, 1, 12, 30, 45, 123456)
    store.commit("ds", ts)
    assert store.get("ds") == ts
    store.commit("ds", "2024-04-01")
    assert store.get("ds") == "2024-04-01"
    assert store.history("ds") == [42, ts, "2024-04-01"]


def test_store_rollback(store):
    for v in (1, 2, 3):
        store.commit("ds", v)
    store.rollback("ds", to_seq=1)
    assert store.get("ds") == 1
    assert store.history("ds") == [1]


def test_successive_pulls_disjoint_union_full(spark, sf_dir, store):
    """Three runs over orders.o_orderdate: each pull bounded (lwm, hwm],
    pairwise disjoint, union == full table."""
    orders = files.load_table(spark, sf_dir, "orders")
    total = orders.count()
    lo, hi = orders.agg(F.min("o_orderdate"), F.max("o_orderdate")).first()
    span = (hi - lo) / 3
    cuts = [lo + span, lo + 2 * span, hi]

    pulled_keys = []
    counts = []
    for hwm in cuts:
        pull = state.pull_incremental(orders, "o_orderdate", store, "orders", hwm=hwm)
        keys = {r[0] for r in pull.df.select("o_orderkey").collect()}
        counts.append(len(keys))
        pulled_keys.append(keys)
        assert pull.commit() > 0
        assert store.get("orders") == hwm

    # disjoint
    assert not (pulled_keys[0] & pulled_keys[1])
    assert not (pulled_keys[1] & pulled_keys[2])
    assert not (pulled_keys[0] & pulled_keys[2])
    # union == full table
    assert sum(counts) == total
    assert len(pulled_keys[0] | pulled_keys[1] | pulled_keys[2]) == total


def test_empty_pull_keeps_watermark(spark, sf_dir, store):
    orders = files.load_table(spark, sf_dir, "orders")
    hi = orders.agg(F.max("o_orderdate")).first()[0]
    first = state.pull_incremental(orders, "o_orderdate", store, "orders")
    assert first.hwm == hi
    first.commit()
    # nothing new: empty df, commit is a no-op, watermark unchanged
    again = state.pull_incremental(orders, "o_orderdate", store, "orders")
    assert again.df.count() == 0
    assert again.commit() == -1
    assert store.get("orders") == hi


def test_watermark_commit_only_after_publish(spark, sf_dir, store, tmp_path):
    """Exactly-once ordering: a failed publish leaves the watermark at its
    previous value, so the next run re-pulls the same interval."""
    from gobblin_spark.operators.quality import row_count_policy
    from gobblin_spark.sinks import publish as P

    orders = files.load_table(spark, sf_dir, "orders")
    mid = orders.agg(F.min("o_orderdate")).first()[0] + dt.timedelta(days=100)
    pull = state.pull_incremental(orders, "o_orderdate", store, "orders", hwm=mid)
    n = pull.df.count()
    # doomed audit -> abort -> do NOT commit the watermark
    rep = P.write_audit_publish(
        pull.df, str(tmp_path / "out"), spark,
        policies=[lambda d: row_count_policy(n + 1, d.count())],
    )
    assert not rep.committed
    assert store.get("orders") is None  # untouched

    # retry: same interval re-pulled (at-least-once), publish ok -> commit
    pull2 = state.pull_incremental(orders, "o_orderdate", store, "orders", hwm=mid)
    assert pull2.df.count() == n
    rep2 = P.write_audit_publish(
        pull2.df, str(tmp_path / "out"), spark,
        policies=[lambda d: row_count_policy(n, d.count())],
    )
    assert rep2.committed
    pull2.commit()
    assert store.get("orders") == mid


def test_file_snapshot_persistence(spark, tmp_path):
    """FileBasedSource snapshot diff against durable state."""
    import os
    data_dir = tmp_path / "in"
    data_dir.mkdir()
    (data_dir / "a.txt").write_text("1")
    (data_dir / "b.txt").write_text("2")
    root = str(tmp_path / "state")

    listing = files.list_files(spark, str(data_dir))
    assert state.load_file_snapshot(spark, root, "d") is None
    state.persist_file_snapshot(listing, root, "d")

    (data_dir / "c.txt").write_text("3")
    now = files.list_files(spark, str(data_dir))
    prev = state.load_file_snapshot(spark, root, "d")
    new = files.new_files_only(now, prev)
    assert [os.path.basename(r.path) for r in new.collect()] == ["c.txt"]


# -- round-6 review fixes ---------------------------------------------


def test_commit_detects_same_seq_race(spark, store):
    """Review-r6: sequence files are named without the run token, so
    the atomic create actually detects two committers racing at one
    sequence (the loser retries the next seq — nothing is shadowed)."""
    store.commit("race", 1)
    # plant a file at the NEXT sequence, as a racing committer would
    fs, jvm = store._fs()
    dpath = store._dataset_path(jvm, "race")
    out = fs.create(jvm.org.apache.hadoop.fs.Path(
        dpath, "wm-0000000002.json"), False)
    out.write(bytearray(
        b'{"kind": "long", "value": 99, "dataset": "race", "seq": 2}'))
    out.close()
    seq = store.commit("race", 100)  # must land at seq 3, not clobber 2
    assert seq == 3
    assert store.get("race") == 100
    assert store.history("race") == [1, 99, 100]


def test_monotonic_commit_rejects_rewind(store):
    """Review-r6: an incremental-pull watermark cannot silently move
    backwards — rollback() is the deliberate path."""
    store.commit("mono", 10, monotonic=True)
    with pytest.raises(ValueError, match="non-monotonic"):
        store.commit("mono", 5, monotonic=True)
    assert store.get("mono") == 10
    store.commit("mono", 11, monotonic=True)
    # non-monotonic ledgers (epoch markers etc.) stay unordered
    store.commit("ledger", "zzz")
    store.commit("ledger", "aaa")
    assert store.get("ledger") == "aaa"


def test_monotonic_recheck_after_seq_race(store):
    """Advice-r7: the monotonic guard must re-run INSIDE the retry
    loop. Scenario: committer reads the frontier (say 10), loses the
    create() race to a winner who advanced it to 50, then retries at
    the next sequence with its stale lower value — without the in-loop
    re-check the stale 20 lands and silently rewinds the frontier."""
    store.commit("mrace", 10, monotonic=True)
    stale = store._entries("mrace")  # listing BEFORE the winner lands
    fs, jvm = store._fs()
    dpath = store._dataset_path(jvm, "mrace")
    # plant the race winner at the next sequence with a HIGHER value
    out = fs.create(jvm.org.apache.hadoop.fs.Path(
        dpath, "wm-0000000002.json"), False)
    out.write(bytearray(
        b'{"kind": "long", "value": 50, "dataset": "mrace", "seq": 2}'))
    out.close()
    # serve the STALE listing on the loser's first read, so its first
    # monotonic check passes (20 > 10), its create() at seq 2 then
    # collides with the winner, and only the retry sees the real state
    real_entries, served = store._entries, {"n": 0}

    def racing_entries(dataset):
        served["n"] += 1
        if dataset == "mrace" and served["n"] == 1:
            return stale
        return real_entries(dataset)

    store._entries = racing_entries
    try:
        with pytest.raises(ValueError, match="non-monotonic"):
            store.commit("mrace", 20, monotonic=True)
    finally:
        store._entries = real_entries
    assert store.get("mrace") == 50
    # a value >= the winner's still commits normally
    assert store.commit("mrace", 60, monotonic=True) == 3


def test_entries_skip_foreign_files(store):
    store.commit("junky", 7)
    fs, jvm = store._fs()
    dpath = store._dataset_path(jvm, "junky")
    out = fs.create(jvm.org.apache.hadoop.fs.Path(
        dpath, "wm-backup.json"), False)
    out.write(bytearray(b"{}"))
    out.close()
    assert store.get("junky") == 7  # foreign file ignored, not a crash


def test_rollback_can_reset_unit_ledger(store):
    from gobblin_spark import state as S

    store.commit("rb", 1)
    store.commit("rb", 2)
    S.commit_work_unit(store, "rb", "u1")
    S.commit_work_unit(store, "rb", "u2")
    assert S.pending_work_units(store, "rb", ["u1", "u2", "u3"]) == ["u3"]
    store.rollback("rb", to_seq=1, reset_units=True)
    assert store.get("rb") == 1
    # re-pull after rollback re-plans ALL units
    assert S.pending_work_units(store, "rb", ["u1", "u2", "u3"]) == \
        ["u1", "u2", "u3"]


def test_bounded_hwm_ignores_null_watermarks(spark):
    from gobblin_spark import state as S

    df = spark.createDataFrame(
        [(None,)] * 10 + [(i,) for i in range(1, 6)], "wm long")
    # the 10 NULLs must not occupy the 3-row window
    assert S.bounded_hwm(df, "wm", None, max_rows=3) == 3


def test_snapshot_survives_crashy_rewrites(spark, tmp_path):
    """Review-r6: snapshots are versioned + pointer-flipped — the
    previous snapshot survives until the new one is committed."""
    from gobblin_spark import state as S

    root = str(tmp_path / "snap")
    l1 = spark.createDataFrame([("a", 1)], "path string, size long")
    S.persist_file_snapshot(l1, root, "ds")
    got = S.load_file_snapshot(spark, root, "ds")
    assert [r.path for r in got.collect()] == ["a"]
    l2 = spark.createDataFrame([("a", 1), ("b", 2)],
                               "path string, size long")
    S.persist_file_snapshot(l2, root, "ds")
    got = S.load_file_snapshot(spark, root, "ds")
    assert sorted(r.path for r in got.collect()) == ["a", "b"]
    # a third persist prunes v1 but keeps the current + previous
    S.persist_file_snapshot(l1, root, "ds")
    import os
    vs = [d for d in os.listdir(tmp_path / "snap" / "ds")
          if d.startswith("_file_snapshot-v")]
    assert len(vs) == 2


def test_torn_watermark_entry_falls_back(spark, tmp_path):
    """Audit r8: a driver crash inside a commit's create->write window
    leaves an empty top-sequence file; reads fall back to the previous
    commit instead of wedging on JSONDecodeError, and later commits
    allocate past the torn sequence."""
    from gobblin_spark.state import WatermarkStore

    store = WatermarkStore(spark, str(tmp_path / "wm"))
    store.commit("ds", 10)
    store.commit("ds", 20)
    # simulate the torn write through the store's own FS (keeps crc
    # sidecars consistent — plain open() rewrites break Hadoop reads)
    fs, jvm = store._fs()
    torn = jvm.org.apache.hadoop.fs.Path(
        f"{store.root}/ds/wm-0000000003.json")
    fs.create(torn, False).close()
    assert store.get("ds") == 20
    assert store.history("ds") == [10, 20]
    seq = store.commit("ds", 30)
    assert seq == 4 and store.get("ds") == 30


def test_watermark_prune_keeps_newest(spark, tmp_path):
    from gobblin_spark.state import WatermarkStore

    store = WatermarkStore(spark, str(tmp_path / "wm"))
    for v in range(12):
        store.commit("ds", v)
    deleted = store.prune("ds", keep_last=5)
    assert deleted == 7
    assert store.get("ds") == 11
    assert store.history("ds") == [7, 8, 9, 10, 11]


def test_fenced_commit_single_writer(spark, tmp_path):
    """review r13 pass 3: commit_fenced writes at exactly fence+1 and
    RAISES on a collision instead of retrying at the next sequence —
    the single-writer fencing the changelog stream's checkpoint ledger
    needs (a retried commit would silently interleave two consumers'
    epoch machines). The fence counts TORN files, so a crashed commit
    at the top still fences correctly."""
    import pytest

    from gobblin_spark.state import ConcurrentWriterError, WatermarkStore

    store = WatermarkStore(spark, str(tmp_path / "wmf"))
    val, fence = store.get_with_fence("ds")
    assert val is None and fence == 0
    assert store.commit_fenced("ds", "a", fence) == 1
    val, fence = store.get_with_fence("ds")
    assert val == "a" and fence == 1

    # a rival advanced the ledger between our read and our commit
    store.commit("ds", "rival")
    with pytest.raises(ConcurrentWriterError, match="single writer"):
        store.commit_fenced("ds", "b", fence)
    # the loser wrote nothing; the rival's value stands
    val2, fence2 = store.get_with_fence("ds")
    assert val2 == "rival" and fence2 == 2

    # a torn file at the top holds its sequence: the fence sees it and
    # the next fenced commit allocates past it (values fall back)
    fs, jvm = store._fs()
    fs.create(jvm.org.apache.hadoop.fs.Path(
        f"{store.root}/ds/wm-0000000003.json"), False).close()
    val3, fence3 = store.get_with_fence("ds")
    assert val3 == "rival" and fence3 == 3
    assert store.commit_fenced("ds", "c", fence3) == 4
    assert store.get("ds") == "c"

    # prune keeps the top sequence, so a pruned ledger still fences
    store.prune("ds", keep_last=1)
    val4, fence4 = store.get_with_fence("ds")
    assert val4 == "c" and fence4 == 4

    # review r13 pass 3: once PRUNE has deleted the colliding file, the
    # create-no-overwrite CAS alone goes blind — a stale writer's
    # create at its old fence+1 would succeed and land a shadowed
    # low-sequence record. The pre-check against the live top catches
    # it (seq-2 file is gone here; fence 1 is ancient).
    with pytest.raises(ConcurrentWriterError, match="ledger top"):
        store.commit_fenced("ds", "stale", 1)
    assert store.get("ds") == "c"
    assert store.fence("ds") == 4           # nothing landed


def test_commit_error_categories_honest(spark, tmp_path, monkeypatch):
    """review r13 pass 4: only a genuine EXISTS-collision is a race.
    A raw IO fault (disk full, datanode down) must propagate untouched
    — commit() must not burn its retries on it (each retry would leave
    a torn file at the next sequence), and commit_fenced() must not
    misreport it as a phantom concurrent writer."""
    import pytest

    from gobblin_spark import state as S
    from gobblin_spark.state import (ConcurrentWriterError,
                                     WatermarkStore, _SeqTaken)

    store = WatermarkStore(spark, str(tmp_path / "wmerr"))
    store.commit("ds", 1)

    calls = []
    real = WatermarkStore._create_seq_file

    def io_fault(self, fs, jvm, dpath, dataset, seq, value, token):
        calls.append(seq)
        raise OSError("disk full")

    monkeypatch.setattr(WatermarkStore, "_create_seq_file", io_fault)
    with pytest.raises(OSError, match="disk full"):
        store.commit("ds", 2)
    assert calls == [2]                     # no retry on an IO fault
    with pytest.raises(OSError, match="disk full"):
        store.commit_fenced("ds", 2, fence=1)
    assert calls == [2, 2]                  # and no phantom-rival error

    def collision(self, fs, jvm, dpath, dataset, seq, value, token):
        calls.append(seq)
        raise _SeqTaken(f"wm-{seq:010d}.json")

    monkeypatch.setattr(WatermarkStore, "_create_seq_file", collision)
    calls.clear()
    with pytest.raises(RuntimeError, match="lost 5 sequence races"):
        store.commit("ds", 3)
    assert calls == [2, 2, 2, 2, 2]         # collisions DO retry
    with pytest.raises(ConcurrentWriterError, match="single writer"):
        store.commit_fenced("ds", 3, fence=1)

    monkeypatch.setattr(WatermarkStore, "_create_seq_file", real)
    assert store.commit("ds", 4) == 2 and store.get("ds") == 4


def test_prune_below_never_deletes_committed_state(spark, tmp_path):
    """review r13 pass 5 (model check 'count_prune'): prune(keep_last)
    counts TORN files, so torn records piling above the newest
    parseable one could push it out of the window and erase committed
    state. prune_below's floor comes from the writer's own committed
    sequence — entries at/above it are untouchable."""
    from gobblin_spark.state import WatermarkStore

    store = WatermarkStore(spark, str(tmp_path / "wmpb"))
    for v in (10, 20, 30):
        store.commit("ds", v)
    # torn record above the newest parseable commit (crashed rival)
    fs, jvm = store._fs()
    fs.create(jvm.org.apache.hadoop.fs.Path(
        f"{store.root}/ds/wm-0000000004.json"), False).close()

    # the OLD count-based window would now retain only the torn file:
    # prune(keep_last=1) deletes seq 3 — committed state gone
    # (demonstrating the hazard class, not used by the stream anymore)
    # prune_below with the committer's own floor keeps seq 3 forever:
    deleted = store.prune_below("ds", 3)
    assert deleted == 2                     # seqs 1, 2 only
    assert store.get("ds") == 30            # committed state intact
    assert store.fence("ds") == 4           # torn top still fences
    assert [s for s, _ in store._entries("ds")] == [3, 4]
    assert store.prune_below("ds", 3) == 0  # idempotent
