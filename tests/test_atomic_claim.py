"""The atomic-claim module (``gobblin_spark/claim.py``) and the ledgers
built on it.

- Races: N threads at a barrier claim one path, commit one watermark
  dataset, fence one ledger, or start one streaming checkpoint. Hadoop
  ``create(path, overwrite=false)`` on ``RawLocalFileSystem`` checks
  ``exists()`` and then opens, so a ledger built on it handed one
  sequence to two committers; each race is looped enough trials to
  catch that.
- Faults: a fault between the temp write and the publish, and a write
  that fails on the O_EXCL fallback, leave neither target nor temp.
- Temp hygiene: every ledger listing skips the module's hidden temps.
- A tier-1 ``ast`` guard keeps the claim code in the module.
"""

import ast
import errno
import json
import os
import sys
import threading
from pathlib import Path

import pytest

from gobblin_spark import claim as C
from gobblin_spark.sinks.commit_sequence import CommitSequenceStore
from gobblin_spark.sinks.iceberg import (IcebergTable,
                                         _metadata_version_candidates)
from gobblin_spark.sources.registry import FileSchemaRegistry
from gobblin_spark.state import ConcurrentWriterError, WatermarkStore
from gobblin_spark.streaming.runner import _run_token

ROOT = Path(__file__).resolve().parent.parent


def _race(n, fn):
    """Run ``fn(i)`` on *n* threads released together, switching
    threads often; returns each thread's result or the exception it
    raised."""
    barrier = threading.Barrier(n)
    out = [None] * n

    def run(i):
        barrier.wait()
        try:
            out[i] = fn(i)
        except Exception as ex:  # noqa: BLE001 - the result under test
            out[i] = ex

    threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads), "a racer hung"
    return out


def _hadoop_fs(spark, path):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration())


def _names(d):
    return sorted(os.listdir(d))


# -- races -------------------------------------------------------------


@pytest.mark.parametrize("through_hadoop", [False, True])
def test_racers_claim_one_path_exactly_one_wins(spark, tmp_path,
                                                through_hadoop):
    """One True, the file holds that racer's bytes, no temp is left."""
    fs = _hadoop_fs(spark, str(tmp_path)) if through_hadoop else None
    for trial in range(30):
        target = str(tmp_path / f"t{trial}" / "v1.json")
        got = _race(8, lambda i: C.claim(target, f"racer {i}".encode(),
                                         fs))
        assert not [g for g in got if isinstance(g, Exception)], got
        winners = [i for i, g in enumerate(got) if g is True]
        assert len(winners) == 1, got
        with open(target, "rb") as fh:
            assert fh.read() == f"racer {winners[0]}".encode()
        assert _names(os.path.dirname(target)) == ["v1.json"]


def test_watermark_commit_racers_get_distinct_sequences(spark, tmp_path):
    """N committers on one dataset: N distinct sequences, and history
    holds every value — none is silently overwritten. Five racers: a
    committer retries 5 times and loses at most once to each rival."""
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    n = 5
    for trial in range(60):
        ds = f"ds{trial}"
        got = _race(n, lambda i: store.commit(ds, 100 * trial + i))
        assert sorted(got) == list(range(1, n + 1)), got
        assert sorted(store.history(ds)) == [100 * trial + i
                                             for i in range(n)]


def test_fenced_commit_racers_exactly_one_succeeds(spark, tmp_path):
    """N fenced writers at one fence: one lands, every other one raises
    ConcurrentWriterError — the single-writer fence the changelog
    stream relies on."""
    store = WatermarkStore(spark, str(tmp_path / "wmf"))
    for trial in range(60):
        ds = f"ds{trial}"
        got = _race(6, lambda i: store.commit_fenced(ds, i, fence=0))
        assert [g for g in got if not isinstance(g, Exception)] == [1], got
        assert all(isinstance(g, ConcurrentWriterError)
                   for g in got if isinstance(g, Exception)), got
        assert len(store.history(ds)) == 1


def test_stream_start_racers_adopt_one_query_id(spark, tmp_path):
    """Racers starting one fresh checkpoint agree on its query id, so
    they share one run token."""
    for trial in range(20):
        ckpt = str(tmp_path / f"ckpt{trial}")
        got = _race(6, lambda i: _run_token(ckpt, spark))
        assert len(set(got)) == 1, got


# -- faults ------------------------------------------------------------


class _Fault(Exception):
    pass


@pytest.mark.parametrize("through_hadoop", [False, True])
def test_fault_before_the_link_leaves_nothing(spark, tmp_path, monkeypatch,
                                              through_hadoop):
    fs = _hadoop_fs(spark, str(tmp_path)) if through_hadoop else None
    target = str(tmp_path / "d" / "v1.json")

    def fault(src, dst):
        raise _Fault("injected between the temp write and the link")

    monkeypatch.setattr(os, "link", fault)
    with pytest.raises(_Fault):
        C.claim(target, b"payload", fs)
    assert _names(tmp_path / "d") == []
    monkeypatch.undo()
    assert C.claim(target, b"payload", fs) is True


class _TornWriter:
    """A file object that writes half of what it is given, then fails
    as a full disk would."""

    def __init__(self, fh):
        self._fh = fh

    def write(self, data):
        self._fh.write(data[:len(data) // 2])
        self._fh.flush()
        raise OSError(errno.ENOSPC, "No space left on device")

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._fh.close()
        return False

    def close(self):
        self._fh.close()


def _no_link(monkeypatch):
    def unsupported(src, dst):
        raise OSError(errno.ENOTSUP, "Operation not supported")

    monkeypatch.setattr(os, "link", unsupported)


def test_excl_fallback_write_failure_removes_its_own_target(tmp_path,
                                                            monkeypatch):
    import builtins

    _no_link(monkeypatch)
    real_open = builtins.open

    def torn_open(path, mode="r", *a, **k):
        fh = real_open(path, mode, *a, **k)
        return _TornWriter(fh) if "x" in mode else fh

    monkeypatch.setattr(builtins, "open", torn_open)
    target = str(tmp_path / "v1.json")
    with pytest.raises(OSError, match="No space left"):
        C.claim(target, b'{"complete": "payload"}')
    assert _names(tmp_path) == []
    monkeypatch.setattr(builtins, "open", real_open)
    assert C.claim(target, b'{"complete": "payload"}') is True
    assert _names(tmp_path) == ["v1.json"]


def test_registry_excl_fallback_write_failure_leaves_no_torn_version(
        tmp_path, monkeypatch):
    """Without link(2), a registration whose write of the version file
    fails mid-payload must not leave that torn vNNNNNN.json behind. The
    write fails however the fallback opens the file: by name with an
    "x" mode, or by an O_EXCL descriptor."""
    import builtins

    _no_link(monkeypatch)
    real_open, real_fdopen = builtins.open, os.fdopen

    def torn_open(path, mode="r", *a, **k):
        fh = real_open(path, mode, *a, **k)
        return _TornWriter(fh) if "x" in mode else fh

    monkeypatch.setattr(builtins, "open", torn_open)
    monkeypatch.setattr(os, "fdopen",
                        lambda fd, *a, **k: _TornWriter(
                            real_fdopen(fd, *a, **k)))
    reg = FileSchemaRegistry(str(tmp_path))
    schema = {"type": "record", "name": "E",
              "fields": [{"name": "id", "type": "long"}]}
    with pytest.raises(OSError, match="No space left"):
        reg.register("events", schema)
    assert _names(tmp_path / "events") == []
    monkeypatch.setattr(builtins, "open", real_open)
    monkeypatch.setattr(os, "fdopen", real_fdopen)
    sid = reg.register("events", schema)
    assert reg.by_id(sid) == schema
    assert [v for v, _ in reg._versions("events")] == [1]


class _Out:
    def write(self, b):
        pass

    def close(self):
        pass


class _RemoteFs:
    """A Hadoop handle on a non-local filesystem whose rename fails as
    told; the destination exists when *exists* says so."""

    def __init__(self, rename, exists):
        self._rename, self._exists = rename, exists
        self.deleted = []

    def getConf(self):
        return None

    def create(self, p, overwrite):
        return _Out()

    def rename(self, src, dst):
        return self._rename()

    def exists(self, p):
        return self._exists

    def delete(self, p, recursive):
        self.deleted.append(p.toString())
        return True


def _raise(msg):
    def go():
        raise RuntimeError(msg)
    return go


def test_hadoop_claim_collides_only_when_destination_exists(spark):
    """On a non-local filesystem the claim renames its temp onto the
    target. A failed rename, whether it returned false or raised, is a
    collision (False) only when the destination exists; any other
    failure propagates as itself and is never reported as a rival."""
    path = "hdfs://nn/t/metadata/v3.metadata.json"
    for rename in (lambda: False,
                   _raise("org.apache.hadoop.fs.FileAlreadyExistsException"
                          ": v3"),
                   _raise("java.io.IOException: File already exists: "
                          "v3.metadata.json")):
        fs = _RemoteFs(rename, exists=True)
        assert C.claim(path, b"md", fs) is False
        assert len(fs.deleted) == 1     # the temp is cleaned up
    for msg in ("org.apache.hadoop.security.AccessControlException: "
                "denied", "java.io.IOException: Connection reset by peer"):
        with pytest.raises(RuntimeError, match=msg.split(": ")[-1]):
            C.claim(path, b"md", _RemoteFs(_raise(msg), exists=False))
    with pytest.raises(OSError, match="rename of"):
        C.claim(path, b"md", _RemoteFs(lambda: False, exists=False))
    assert C.claim(path, b"md", _RemoteFs(lambda: True, exists=True)) is True


def test_is_local_rule():
    class _Conf:
        def __init__(self, dfs):
            self.dfs = dfs

        def get(self, key, default=None):
            return self.dfs if key == "fs.defaultFS" else default

    assert C.is_local("/x/v1.json")
    assert C.is_local("file:/x/v1.json", _Conf("hdfs://nn:8020"))
    assert not C.is_local("hdfs://nn/x/v1.json")
    assert not C.is_local("s3a://b/x/v1.json", _Conf("file:///"))
    assert C.is_local("/x/v1.json", _Conf("file:///"))
    assert not C.is_local("/x/v1.json", _Conf("hdfs://nn:8020"))


# -- temp-name hygiene -------------------------------------------------


def _plant_temp(target: str, payload: dict) -> str:
    """A claim temp beside *target*, as a writer killed between its
    temp write and its publish leaves it: complete, never published."""
    tmp = C._temp(target)
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    return tmp


def test_every_ledger_listing_ignores_claim_temps(spark, tmp_path):
    store = WatermarkStore(spark, str(tmp_path / "wm"))
    store.commit("ds", 1)
    _plant_temp(f"{store.root}/ds/wm-0000000002.json",
                {"kind": "long", "value": 2, "dataset": "ds", "seq": 2})
    assert [s for s, _ in store._entries("ds")] == [1]
    assert store.get("ds") == 1 and store.commit("ds", 3) == 2

    reg = FileSchemaRegistry(str(tmp_path / "reg"))
    schema = {"type": "record", "name": "E",
              "fields": [{"name": "id", "type": "long"}]}
    reg.register("events", schema)
    _plant_temp(str(tmp_path / "reg" / "events" / "v000002.json"),
                {"id": "x", "version": 2, "subject": "events",
                 "schema": schema})
    assert [v for v, _ in reg._versions("events")] == [1]

    seqs = CommitSequenceStore(spark, str(tmp_path / "seq"))
    _plant_temp(str(tmp_path / "seq" / "seq-job1.v1.json"),
                {"job_id": "job1", "steps": []})
    assert seqs._versions() == [] and seqs.pending() == []

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "tbl"), df.schema)
    t.append_dataframe(df)
    mdir = tmp_path / "tbl" / "metadata"
    tmp = _plant_temp(str(mdir / "v3.metadata.json"), t.metadata())
    assert _metadata_version_candidates(_names(mdir))[0] == 2
    assert IcebergTable(spark, t.location)._version() == 2
    swept = t.remove_orphan_files(older_than_s=0, include_metadata=True)
    assert not [p for p in swept if os.path.basename(tmp) in p]
    assert os.path.exists(tmp)
    assert t.read().count() == 1


# -- tier-1 guard ------------------------------------------------------

# (file, enclosing function) -> why it may hand-roll an exclusive create
GUARD_ALLOWLIST = {
    ("gobblin_spark/sources/datasource.py", "commit"):
        "the _DELIVERED manifest lock is a mutex with stale-lock "
        "reclaim, not a write-once file",
    ("gobblin_spark/sources/datasource.py", "_reclaim_rename_dance"):
        "restores a live _DELIVERED lock the stale-lock reclaim moved",
}


def _claim_code(tree):
    """(line, enclosing function, what) for every hand-rolled claim."""
    found = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
                and node.attr in ("link", "O_EXCL")):
            found.append((node.lineno, fn, f"os.{node.attr}"))
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
            args = list(node.args) + [k.value for k in node.keywords]
            if name == "open" and len(node.args) + len(node.keywords) >= 2:
                mode = ([k.value for k in node.keywords if k.arg == "mode"]
                        or node.args[1:2])
                if (mode and isinstance(mode[0], ast.Constant)
                        and isinstance(mode[0].value, str)
                        and "x" in mode[0].value):
                    found.append((node.lineno, fn, "open(..., 'x')"))
            if (name == "create" and len(args) == 2
                    and isinstance(args[1], ast.Constant)
                    and args[1].value is False):
                found.append((node.lineno, fn, ".create(path, False)"))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return found


def test_claim_code_lives_only_in_the_claim_module():
    """os.link, os.O_EXCL, an "x"-mode open and Hadoop
    ``create(path, False)`` appear nowhere in the package but
    ``gobblin_spark/claim.py``: a ledger that hand-rolls its own claim
    tells its own crash story (and, on RawLocalFileSystem,
    ``create(path, False)`` is no claim at all)."""
    stray = []
    for f in sorted((ROOT / "gobblin_spark").rglob("*.py")):
        rel = f.relative_to(ROOT).as_posix()
        if rel == "gobblin_spark/claim.py":
            continue
        for line, fn, what in _claim_code(ast.parse(f.read_text(), rel)):
            if (rel, fn) not in GUARD_ALLOWLIST:
                stray.append(f"{rel}:{line} {what} in {fn}")
    assert not stray, "claim code outside gobblin_spark/claim.py:\n" + \
        "\n".join(stray)


def test_guard_catches_each_pattern():
    src = ("import os\n"
           "def f(fs, p):\n"
           "    os.link(p, p)\n"
           "    os.open(p, os.O_CREAT | os.O_EXCL)\n"
           "    open(p, 'xb')\n"
           "    open(p, mode='x')\n"
           "    fs.create(p, False)\n"
           "    fs.create(p, True)\n"
           "    open(p, 'wb')\n")
    assert [w for _, _, w in _claim_code(ast.parse(src))] == [
        "os.link", "os.O_EXCL", "open(..., 'x')", "open(..., 'x')",
        ".create(path, False)"]
