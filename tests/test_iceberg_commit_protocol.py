"""Pins for the r13 commit-protocol hardening (sinks/iceberg.py):
the version probe past a stale hint (HadoopTableOperations.findVersion
behavior) and the local link(2) metadata claim with no torn-final
window. The exhaustive interleaving evidence lives in
tests/test_iceberg_commit_model.py; these pins drive the REAL code
through the model's counterexample shapes."""

import json
import os

import pytest

from gobblin_spark.sinks.iceberg import IcebergTable


def _mk(spark, tmp_path, name):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / name), df.schema)
    t.append_dataframe(df)                     # v2
    return t, df


def test_probe_adopts_commit_whose_hint_flip_crashed(spark, tmp_path):
    """A committer crashing between the metadata-file claim and the
    hint flip used to wedge the table permanently: the committed
    snapshot was invisible (readers trusted the hint alone) and every
    later commit from the stale base collided at claim time forever.
    The probe adopts the orphaned-but-complete version, so readers see
    the snapshot and the next commit lands above it, repairing the
    hint."""
    t, df = _mk(spark, tmp_path, "unflipped")
    t.append_dataframe(df)                     # v3 — the "crashed" commit
    assert t._version() == 3
    # simulate the crash: regress the hint to the pre-commit value
    t._write_bytes(f"{t.location}/metadata/version-hint.text", b"2")
    t2 = IcebergTable(spark, t.location)
    assert t2._version() == 3                  # probe fast-forwards
    assert t2.read().count() == 4              # the orphaned commit's rows
    t2.append_dataframe(df)                    # no wedge: lands at v4
    hint = open(os.path.join(t.location.replace("file:", ""),
                             "metadata", "version-hint.text")).read()
    assert hint.strip() == "4"                 # hint repaired
    assert t2.read().count() == 6


def test_probe_ignores_torn_next_version_file(spark, tmp_path):
    """An unparseable v(N+1) — a crashed O_EXCL-fallback claim's torn
    prefix, or foreign junk — must NOT be adopted as the current
    table state: readers stay on the last good version. Parseable
    json that is not table metadata is refused the same way."""
    t, df = _mk(spark, tmp_path, "tornnext")
    v = t._version()
    mdir = os.path.join(t.location.replace("file:", ""), "metadata")
    with open(os.path.join(mdir, f"v{v + 1}.metadata.json"), "wb") as fh:
        fh.write(b'{"format-ver')       # torn mid-write
    t2 = IcebergTable(spark, t.location)
    assert t2._version() == v
    assert t2.read().count() == 2
    os.remove(os.path.join(mdir, f"v{v + 1}.metadata.json"))
    with open(os.path.join(mdir, f"v{v + 1}.metadata.json"), "wb") as fh:
        fh.write(b'[1, 2]')             # parseable, not metadata
    assert IcebergTable(spark, t.location)._version() == v


def test_commit_names_the_torn_wedge_instead_of_retrying(spark,
                                                         tmp_path):
    """A torn collider never heals, so burning the CAS retries on
    'concurrent commit' misdiagnoses the state: the claim raises a
    distinct diagnosis naming the junk file and the unwedge action,
    and _commit_files does not retry it (the message lacks the
    retryable marker)."""
    t, df = _mk(spark, tmp_path, "wedge")
    v = t._version()
    mdir = os.path.join(t.location.replace("file:", ""), "metadata")
    with open(os.path.join(mdir, f"v{v + 1}.metadata.json"), "wb") as fh:
        fh.write(b'{"format-ver')
    with pytest.raises(RuntimeError, match="delete it to unwedge"):
        t.append_dataframe(df)
    # the diagnosis deliberately omits the retryable marker
    try:
        t.append_dataframe(df)
    except RuntimeError as ex:
        assert "concurrent commit" not in str(ex)
    # operator deletes the junk: the very next commit succeeds
    os.remove(os.path.join(mdir, f"v{v + 1}.metadata.json"))
    t.append_dataframe(df)
    assert t.read().count() == 4


def test_local_claim_leaves_no_tmp_residue(spark, tmp_path):
    """The link(2) claim fully cleans its temp sibling on success AND
    on a lost race, and a lost race never disturbs the winner's
    payload."""
    t, df = _mk(spark, tmp_path, "tmpclean")
    md = t.metadata()                          # stale base for the loser
    t.append_dataframe(df)                     # winner takes v3
    winner = t.read().count()
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t._commit_metadata(md)                 # loser collides at v3
    mdir = os.path.join(t.location.replace("file:", ""), "metadata")
    assert not [f for f in os.listdir(mdir) if f.endswith(".tmp")]
    assert IcebergTable(spark, t.location).read().count() == winner
    # and the winner's v3 payload is genuine metadata, not the loser's
    with open(os.path.join(mdir, "v3.metadata.json"), "rb") as fh:
        assert "format-version" in json.loads(fh.read())


def test_create_refuses_location_with_orphaned_first_commit(spark,
                                                            tmp_path):
    """A missing hint does not prove an empty location: a committer
    can crash before the very first hint flip. create() must probe
    from zero and refuse to clobber the orphaned v1."""
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "orph1"), df.schema)
    hint = os.path.join(t.location.replace("file:", ""), "metadata",
                        "version-hint.text")
    os.remove(hint)
    crc = os.path.join(os.path.dirname(hint), ".version-hint.text.crc")
    if os.path.exists(crc):
        os.remove(crc)
    with pytest.raises(FileExistsError, match="already at"):
        IcebergTable.create(spark, t.location, df.schema)
    # and a reader adopts the orphaned commit instead of seeing none
    assert IcebergTable(spark, t.location)._version() == 1


# ---- review-pass 5 pins (r13) --------------------------------------


def test_session_claims_local_decision_table(spark, tmp_path):
    """Bare paths are local for a session ONLY under a local
    fs.defaultFS — link-claiming them locally under an hdfs: default
    would split the metadata file and the hint across filesystems."""
    t = IcebergTable(spark, str(tmp_path / "gate"))
    assert t._session_claims_local("file:/x/v2.metadata.json")
    assert t._session_claims_local("/x/v2.metadata.json")  # local dfs
    assert not t._session_claims_local("hdfs://nn/x/v2.metadata.json")
    ts = IcebergTable(None, str(tmp_path / "gate2"))
    assert ts._session_claims_local("/x/v2.metadata.json")

    class _HdfsConf:
        def get(self, k, d=None):
            return "hdfs://nn:8020" if k == "fs.defaultFS" else d

    class _Jsc:
        def hadoopConfiguration(self):
            return _HdfsConf()

    class _FakeSpark:
        _jsc = _Jsc()

    th = IcebergTable.__new__(IcebergTable)
    th.spark = _FakeSpark()
    th.location = "/x"
    assert not th._session_claims_local("/x/v2.metadata.json")
    assert th._session_claims_local("file:/x/v2.metadata.json")


def test_commit_routes_through_jvm_when_not_claims_local(
        spark, tmp_path, monkeypatch):
    """_commit_metadata consults the gate: when a bare path is NOT
    session-local (hdfs defaultFS), the claim goes through the JVM
    filesystem, not the driver's disk."""
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "route"), df.schema)
    md = t.metadata()
    calls = []

    class _RecFs:
        def create(self, p, overwrite):
            calls.append((str(p), overwrite))
            raise RuntimeError("stop here")

    monkeypatch.setattr(t, "_session_claims_local", lambda p: False)
    monkeypatch.setattr(t, "_fs", lambda p: (_RecFs(), p, None))
    with pytest.raises(RuntimeError, match="stop here"):
        t._commit_metadata(md)
    assert calls and calls[0][1] is False   # create-fails-if-exists


def test_excl_fallback_cleans_its_own_torn_final(spark, tmp_path,
                                                 monkeypatch):
    """A write failure while the process is ALIVE on the O_EXCL
    fallback removes the torn final instead of leaving the permanent
    wedge the link path exists to prevent; the temp sibling is cleaned
    too, and a later attempt succeeds."""
    import builtins

    t, df = _mk(spark, tmp_path, "exclclean")
    md = t.metadata()
    mdir = os.path.join(t.location.replace("file:", ""), "metadata")
    monkeypatch.setattr(os, "link",
                        lambda s, d: (_ for _ in ()).throw(
                            OSError("link unsupported")))
    real_open = builtins.open

    def failing_open(path, mode="r", *a, **k):
        if str(path).endswith(".metadata.json") and mode == "xb":
            fh = real_open(path, mode, *a, **k)

            class _W:
                def __enter__(self):
                    return self

                def __exit__(self, *e):
                    fh.close()
                    return False

                def write(self, b):
                    raise OSError(28, "No space left on device")

            return _W()
        return real_open(path, mode, *a, **k)

    monkeypatch.setattr(builtins, "open", failing_open)
    with pytest.raises(OSError, match="No space left"):
        t._commit_metadata(dict(md))
    monkeypatch.setattr(builtins, "open", real_open)
    leftovers = [f for f in os.listdir(mdir)
                 if f.endswith(".tmp") or f == "v3.metadata.json"]
    assert leftovers == [], leftovers       # no torn final, no tmp
    md = t.metadata()
    t._commit_metadata(md)                  # O_EXCL fallback, clean
    assert IcebergTable(spark, t.location)._version() == 3


def test_excl_collision_with_torn_collider_names_the_unwedge(
        spark, tmp_path, monkeypatch):
    """On the O_EXCL fallback a torn collider may be a LIVE racer
    mid-gap, so the signal stays retryable ('concurrent commit') —
    but the message carries the unwedge action for the crashed-claim
    case."""
    t, df = _mk(spark, tmp_path, "excltorn")
    md = t.metadata()
    mdir = os.path.join(t.location.replace("file:", ""), "metadata")
    with open(os.path.join(mdir, "v3.metadata.json"), "wb") as fh:
        fh.write(b'{"format-ver')
    monkeypatch.setattr(os, "link",
                        lambda s, d: (_ for _ in ()).throw(
                            OSError("link unsupported")))
    with pytest.raises(RuntimeError) as ei:
        t._commit_metadata(md)
    assert "concurrent commit" in str(ei.value)       # retryable
    assert "delete it to unwedge" in str(ei.value)    # and named


def test_racing_creates_collide_instead_of_superseding(
        spark, tmp_path, monkeypatch):
    """Two creates racing past the emptiness precheck: the loser must
    COLLIDE at v1 (base pinned to 0), not recompute from the winner's
    probed version and silently replace its table identity at v2."""
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    loc = str(tmp_path / "raced")
    t = IcebergTable.create(spark, loc, df.schema)
    winner_uuid = t.metadata()["table-uuid"]
    # the racer's precheck ran BEFORE the winner landed: force the
    # first _version() call to see 0, delegate afterwards
    real_version = IcebergTable._version
    state = {"first": True}

    def raced_version(self):
        if state["first"]:
            state["first"] = False
            return 0
        return real_version(self)

    monkeypatch.setattr(IcebergTable, "_version", raced_version)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        IcebergTable.create(spark, loc, df.schema)
    monkeypatch.setattr(IcebergTable, "_version", real_version)
    t2 = IcebergTable(spark, loc)
    assert t2.metadata()["table-uuid"] == winner_uuid
    assert t2._version() == 1


def test_lost_hint_recovers_on_pruned_table(spark, tmp_path):
    """expire keeps only the newest metadata versions, so v1 is gone
    on long-lived tables: a lost hint must recover from the directory
    listing (newest parseable version), not walk up from v1 and
    misread the table as empty — create() would clobber it."""
    import time as _time

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "pruned"), df.schema)
    for _ in range(6):
        t.append_dataframe(df)              # v2..v7
    t.expire_snapshots(int(_time.time() * 1000) + 10_000)  # v8, prunes
    mdir = os.path.join(t.location.replace("file:", ""), "metadata")
    assert not os.path.exists(os.path.join(mdir, "v1.metadata.json"))
    top = t._version()
    os.remove(os.path.join(mdir, "version-hint.text"))
    crc = os.path.join(mdir, ".version-hint.text.crc")
    if os.path.exists(crc):
        os.remove(crc)
    t2 = IcebergTable(spark, t.location)
    assert t2._version() == top
    with pytest.raises(FileExistsError, match="already at"):
        IcebergTable.create(spark, t.location, df.schema)
    # a torn top claim is skipped: newest PARSEABLE wins
    with open(os.path.join(mdir, f"v{top + 1}.metadata.json"),
              "wb") as fh:
        fh.write(b'{"torn')
    assert IcebergTable(spark, t.location)._version() == top


def test_dsv2_reader_probes_past_stale_hint(spark, tmp_path):
    """The sessionless DSv2 metadata reader fast-forwards like the
    native one: a crashed hint flip must not leave the stream/batch
    faces serving an older table than IcebergTable.read() (divergent
    views), and a regressed hint must not regress the streaming
    offset."""
    t, df = _mk(spark, tmp_path, "dsv2probe")
    t.append_dataframe(df)                  # v3
    seq3 = t.metadata()["last-sequence-number"]
    t._write_bytes(f"{t.location}/metadata/version-hint.text", b"2")
    md = IcebergTable(None, t.location).metadata()
    assert md["last-sequence-number"] == seq3
    # hint missing entirely: probe from zero (orphaned first commit)
    mdir = os.path.join(t.location.replace("file:", ""), "metadata")
    os.remove(os.path.join(mdir, "version-hint.text"))
    crc = os.path.join(mdir, ".version-hint.text.crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert IcebergTable(None, t.location).metadata()[
        "last-sequence-number"] == seq3
    # an empty location still raises (table-exists validation)
    with pytest.raises(Exception):
        IcebergTable(None, str(tmp_path / "nowhere")).metadata()


def test_dsv2_reader_recovers_lost_hint_on_pruned_table(spark,
                                                        tmp_path):
    """DSv2 parity for the pruned-table lost-hint recovery: the
    sessionless reader lists the metadata dir like the native one —
    walking up from v1 would misread a pruned table as empty and fail
    every batch/stream read until the hint is restored by hand."""
    import time as _time

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "dsv2pruned"),
                            df.schema)
    for _ in range(6):
        t.append_dataframe(df)              # v2..v7
    t.expire_snapshots(int(_time.time() * 1000) + 10_000)  # v8, prunes
    mdir = os.path.join(t.location.replace("file:", ""), "metadata")
    assert not os.path.exists(os.path.join(mdir, "v1.metadata.json"))
    want_seq = t.metadata()["last-sequence-number"]
    os.remove(os.path.join(mdir, "version-hint.text"))
    crc = os.path.join(mdir, ".version-hint.text.crc")
    if os.path.exists(crc):
        os.remove(crc)
    md = IcebergTable(None, t.location).metadata()
    assert md["last-sequence-number"] == want_seq
    # a torn top claim is skipped during the recovery listing too
    top = IcebergTable(spark, t.location)._version()
    with open(os.path.join(mdir, f"v{top + 1}.metadata.json"),
              "wb") as fh:
        fh.write(b'{"torn')
    assert IcebergTable(None, t.location).metadata()[
        "last-sequence-number"] == want_seq


def test_stale_hint_at_pruned_version_recovers(spark, tmp_path):
    """Review r13 pass 7: a VERY stale hint racing expire's metadata
    pruning points at a version that no longer exists and has no
    contiguous successor (the fast-forward probe stops at the gap) —
    both the native reader and the DSv2 face must recover from the
    directory listing instead of failing the read."""
    import time as _time

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "stalehint"),
                            df.schema)
    for _ in range(6):
        t.append_dataframe(df)              # v2..v7
    t.expire_snapshots(int(_time.time() * 1000) + 10_000)  # v8, prunes
    mdir = os.path.join(t.location.replace("file:", ""), "metadata")
    assert not os.path.exists(os.path.join(mdir, "v1.metadata.json"))
    want = IcebergTable(spark, t.location).metadata()[
        "last-sequence-number"]
    t._write_bytes(f"{t.location}/metadata/version-hint.text", b"1")
    t2 = IcebergTable(spark, t.location)
    assert t2.metadata()["last-sequence-number"] == want
    assert t2.read().count() == 6
    assert IcebergTable(None, t.location).metadata()[
        "last-sequence-number"] == want


def test_probe_and_recovery_on_remote_scheme(spark, tmp_path):
    """The probe's REMOTE branch (sessionless scheme-aware reads via
    _read_bytes_any) and the sessionless listing recovery, driven
    through the loop:// loopback scheme — the same code path s3:/gs:
    take in the DSv2 commit hooks, where the local-claim shortcut
    does not apply."""
    import time as _time

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    local = str(tmp_path / "remoteprobe")
    t = IcebergTable.create(spark, local, df.schema)
    for _ in range(6):
        t.append_dataframe(df)              # v2..v7
    t.expire_snapshots(int(_time.time() * 1000) + 10_000)  # v8
    loop = "loop://host" + local
    # sessionless handle against the "remote" location
    tr = IcebergTable(None, loop)
    top = tr._version()
    assert top >= 8
    # crash-between-claim-and-flip shape through the remote reads
    t._write_bytes(f"{local}/metadata/version-hint.text",
                   str(top - 1).encode())
    tr2 = IcebergTable(None, loop)
    assert tr2._version() == top            # remote fast-forward
    # stale hint at a pruned version: remote listing recovery
    t._write_bytes(f"{local}/metadata/version-hint.text", b"1")
    assert IcebergTable(None, loop).metadata()[
        "last-sequence-number"] == 6
    # lost hint entirely: remote listing recovery
    import os
    os.remove(os.path.join(local, "metadata", "version-hint.text"))
    crc = os.path.join(local, "metadata", ".version-hint.text.crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert IcebergTable(None, loop)._version() == top
