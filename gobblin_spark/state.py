"""Watermark state store + incremental pull: the machinery that makes a
source *incremental* across runs.

Reference mapping (all relative to /root/reference/):
- StateStoreBasedWatermarkStorage (gobblin-runtime/.../StateStoreBasedWatermarkStorage.java):
  committed watermarks persisted in a state store keyed by source/dataset.
- QueryBasedSource low-watermark handling (gobblin-core/.../extract/
  QueryBasedSource.java:171,216): previous run's HWM becomes this run's
  LWM; first run falls back to a configured default.
- QueryBasedExtractor predicate construction (gobblin-core/.../extract/
  QueryBasedExtractor.java:382-394): the pull is bounded as
  ``wm > LWM AND wm <= HWM`` so successive runs partition the keyspace
  into disjoint half-open intervals — no row is pulled twice, none is
  skipped.
- FsStateStore versioned job-state files (gobblin-metastore/.../
  FsStateStore.java): each commit is a NEW sequenced file, claimed
  through gobblin_spark.claim; the current watermark is the max
  sequence. History is retained for audit/rollback.
- Exactly-once ordering (gobblin-runtime/.../SafeDatasetCommit.java:67):
  the watermark is committed ONLY after the data publish succeeds —
  ``IncrementalPull.commit()`` is handed to the caller to invoke
  post-publish. A crash between publish and commit re-pulls one
  interval (at-least-once), which the idempotent staging→rename publish
  absorbs.

Scale notes: state is O(datasets × runs) tiny JSON files of driver-side
metadata — never row data; a ledger read or commit costs the same
number of py4j round trips however many entries the ledger holds. The
pull predicate is a plain Column comparison, so Catalyst pushes it into
the parquet/JDBC scan (PushedFilters) and partition-prunes
date-partitioned layouts. When the watermark is a plain integer column
of one parquet scan, the pull also leaves out every file whose footer
statistics prove it holds no row of the window (Partitioner.java:167
makes work only for the window), so a landing dir holding already
pulled files plans tasks only for the new ones.
"""

from __future__ import annotations

import datetime as _dt
import json
import uuid
from dataclasses import dataclass
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from gobblin_spark.claim import claim
from gobblin_spark.sources import files as _files

_WM_PREFIX = "wm-"


def _encode(value) -> dict:
    """Watermark value → JSON-safe {kind, value}. Timestamps serialize as
    ISO-8601 at microsecond precision (naive == session-UTC wall clock)."""
    if isinstance(value, _dt.datetime):
        return {"kind": "timestamp", "value": value.isoformat(sep=" ", timespec="microseconds")}
    if isinstance(value, _dt.date):
        return {"kind": "date", "value": value.isoformat()}
    if isinstance(value, bool):  # before int: bool is an int subclass
        raise TypeError("boolean watermarks are not orderable state")
    if isinstance(value, int):
        return {"kind": "long", "value": value}
    if isinstance(value, float):
        return {"kind": "double", "value": value}
    if isinstance(value, str):
        return {"kind": "string", "value": value}
    raise TypeError(f"unsupported watermark type: {type(value).__name__}")


def _decode(payload: dict):
    kind, value = payload["kind"], payload["value"]
    if kind == "timestamp":
        return _dt.datetime.fromisoformat(value)
    if kind == "date":
        return _dt.date.fromisoformat(value)
    return value


def _lit(value) -> Column:
    """Watermark value → Column literal. Naive datetimes become
    TIMESTAMP_NTZ literals so comparisons against ntz-normalized columns
    (sources/files.py) never route through the session timezone."""
    if isinstance(value, _dt.datetime) and value.tzinfo is None:
        return F.expr(
            f"TIMESTAMP_NTZ '{value.isoformat(sep=' ', timespec='microseconds')}'"
        )
    return F.lit(value)


class ConcurrentWriterError(RuntimeError):
    """A fenced commit found the ledger advanced past the state it was
    computed from — another writer is sharing this store (see
    :meth:`WatermarkStore.commit_fenced`)."""


class _SeqTaken(Exception):
    """Internal: a ledger claim lost to an EXISTING file at
    that sequence — a genuine writer collision, distinguished from raw
    IO faults so callers never misreport a disk error as a rival (or
    retry a fault as if it were a race)."""


class WatermarkStore:
    """Versioned per-dataset watermark store on any Hadoop filesystem.

    Layout: ``<root>/<dataset>/wm-<seq:010d>-<token>.json``. Each commit
    claims a new file (no read-modify-write race on the current
    pointer); the live watermark is the max sequence. The store
    is driver-side metadata — O(bytes), not O(rows).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    # -- Hadoop FS plumbing -------------------------------------------
    def _fs(self):
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.root)
        return path.getFileSystem(self.spark._jsc.hadoopConfiguration()), jvm

    def _dataset_path(self, jvm, dataset: str):
        return jvm.org.apache.hadoop.fs.Path(f"{self.root}/{dataset}")

    def _entries(self, dataset: str) -> list[tuple[int, str]]:
        """``(seq, path)`` of every ledger file, oldest first. The whole
        listing crosses py4j as ONE NUL-joined string of paths (NUL
        never occurs in a path), so the round trips do not grow with
        the ledger's length."""
        fs, jvm = self._fs()
        dpath = self._dataset_path(jvm, dataset)
        if not fs.exists(dpath):
            return []
        listing = jvm.scala.collection.mutable.ArraySeq.make(
            jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(
                fs.listStatus(dpath))).mkString("\0")
        out = []
        for path in filter(None, listing.split("\0")):
            name = path.rsplit("/", 1)[-1]
            if name.startswith(_WM_PREFIX) and name.endswith(".json"):
                head = name[len(_WM_PREFIX):-len(".json")].split("-", 1)[0]
                if not head.isdigit():
                    continue  # foreign file (wm-backup.json, editor junk)
                out.append((int(head), path))
        return sorted(out)

    def _read_json(self, path: str) -> dict:
        fs, jvm = self._fs()
        stream = fs.open(jvm.org.apache.hadoop.fs.Path(path))
        try:
            raw = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            return json.loads(bytes(raw).decode("utf-8"))
        finally:
            stream.close()

    def _read_latest(self, entries: list[tuple[int, str]]):
        """Decode the newest PARSEABLE entry. A driver crash inside the
        claim's O_EXCL fallback leaves a torn/empty file at the top
        sequence (audit r8); that commit never logically happened,
        so reads fall back to the previous one instead of wedging
        every replay on a JSONDecodeError. The torn file still holds
        its sequence number, so later commits allocate past it."""
        for _, path in reversed(entries):
            try:
                return _decode(self._read_json(path))
            except ValueError:
                continue
        return None

    # -- public API ----------------------------------------------------
    def get(self, dataset: str, default=None):
        """Current (highest-sequence) committed watermark, or *default*."""
        return self.get_with_fence(dataset, default)[0]

    def commit(self, dataset: str, value, run_id: str | None = None,
               monotonic: bool = False) -> int:
        """Persist *value* as the new watermark; returns its sequence.

        The sequence file is named WITHOUT the run token
        (``wm-<seq>.json``) so the claim actually detects two
        committers racing at the same sequence — token-suffixed names
        let both writes succeed and silently shadowed one commit. On
        collision the loser re-reads and retries at the next sequence
        (bounded). Legacy token-suffixed files still parse.

        ``monotonic=True`` (incremental-pull watermarks) rejects a
        value ordered BELOW the current one — a delayed retry must not
        silently rewind the frontier (``rollback()`` is the deliberate
        regression path). Leave False for non-ordered ledgers (epoch
        markers, unit sets)."""
        fs, jvm = self._fs()
        dpath = self._dataset_path(jvm, dataset)
        fs.mkdirs(dpath)
        token = run_id or uuid.uuid4().hex[:8]
        last_err = None
        for _ in range(5):
            entries = self._entries(dataset)
            # the monotonic guard runs INSIDE the retry loop, against
            # the entries just re-read: a committer that loses the
            # claim race must re-compare against the RACE WINNER's
            # value before taking the next sequence, or a stale lower
            # watermark could still rewind the frontier one seq later
            if monotonic and entries:
                cur = self._read_latest(entries)
                try:
                    if cur is not None and value < cur:
                        raise ValueError(
                            f"non-monotonic watermark commit for "
                            f"{dataset}: {value!r} < current {cur!r} — "
                            "use rollback() to rewind deliberately")
                except TypeError:
                    pass  # incomparable kinds: let the commit through
            seq = (entries[-1][0] + 1) if entries else 1
            try:
                self._create_seq_file(fs, jvm, dpath, dataset, seq,
                                      value, token)
            except _SeqTaken as ex:  # seq taken: re-read, retry next
                last_err = ex
                continue
            return seq
        raise RuntimeError(
            f"watermark commit for {dataset} lost 5 sequence races"
        ) from last_err

    def _create_seq_file(self, fs, jvm, dpath, dataset: str, seq: int,
                         value, token: str) -> None:
        """ONE copy of the ledger file format + its claim (shared by
        commit and commit_fenced — a format change applied to one and
        not the other would silently fork the ledger). Raises
        :class:`_SeqTaken` when the sequence file already EXISTS (a
        genuine writer collision); raw IO faults propagate untouched.
        The claim is complete-or-absent with one winner on local disk
        and HDFS (see :mod:`gobblin_spark.claim`); readers still skip
        a torn entry, which the claim's O_EXCL fallback can leave."""
        fname = f"{_WM_PREFIX}{seq:010d}.json"
        payload = dict(_encode(value), dataset=dataset, seq=seq,
                       run_id=token)
        if not claim(f"{self.root}/{dataset}/{fname}",
                     json.dumps(payload).encode("utf-8"), fs):
            raise _SeqTaken(fname)

    def get_with_fence(self, dataset: str, default=None):
        """``(current watermark or default, fence)``. The fence is the
        raw top SEQUENCE of the dataset's ledger (0 when empty) —
        counting torn files, which still hold their sequence — and is
        the token :meth:`commit_fenced` checks against. Read state with
        this, compute, then commit with the fence: any writer that
        advanced the ledger in between makes the fenced commit fail
        instead of silently interleaving two writers' state machines."""
        entries = self._entries(dataset)
        fence = entries[-1][0] if entries else 0
        if not entries:
            return default, fence
        got = self._read_latest(entries)
        return (default if got is None else got), fence

    def fence(self, dataset: str) -> int:
        """The ledger's raw top sequence alone (0 when empty) — one
        listing, no file read; for fence REchecks that don't need the
        value."""
        entries = self._entries(dataset)
        return entries[-1][0] if entries else 0

    def scan_newest(self, dataset: str, min_seq: int = 0):
        """``(fence, iterator)`` over entries newest-first: one
        listing; the iterator reads one file per yielded entry and
        stops BEFORE reading anything at ``seq <= min_seq`` (torn
        entries yield ``(seq, None)``). For fenced consumers that must
        match a record by CONTENT rather than take the top blindly — a
        fenced-out rival may have appended junk above the live record
        before dying — while paying zero reads for history below a
        known bound."""
        entries = self._entries(dataset)
        fence = entries[-1][0] if entries else 0

        def gen():
            for seq, path in reversed(entries):
                if seq <= min_seq:
                    return
                try:
                    yield seq, _decode(self._read_json(path))
                except ValueError:
                    yield seq, None
        return fence, gen()

    def commit_fenced(self, dataset: str, value, fence: int,
                      run_id: str | None = None) -> int:
        """Persist *value* at exactly sequence ``fence + 1`` — ONE
        attempt, no retry. Where :meth:`commit` treats a sequence
        collision as a race to be retried at the next number (fine for
        ledgers where any interleaving of valid values is valid, e.g.
        monotone pull watermarks), a collision here means another
        writer advanced the ledger past the state THIS commit was
        computed from — retrying at a later sequence would silently
        interleave two writers' epoch machines. Raises
        :class:`ConcurrentWriterError` instead (the single-writer
        fencing Structured Streaming's HDFSMetadataLog gets from
        publishing each batch file once; here the claim of
        :mod:`gobblin_spark.claim`)."""
        fs, jvm = self._fs()
        dpath = self._dataset_path(jvm, dataset)
        fs.mkdirs(dpath)
        seq = fence + 1
        # the claim alone goes blind once a PRUNE has
        # deleted the colliding file (a rival that advanced the ledger
        # past keep_last while this writer was paused): pre-check the
        # live top against the fence so a stale writer dies instead of
        # landing a shadowed low-sequence record (review r13 pass 3).
        # The residual list->claim window needs a rival to complete
        # > keep_last commits AND a prune inside it — the claim still
        # catches everything smaller.
        top = self.fence(dataset)
        if top != fence:
            raise ConcurrentWriterError(
                f"fenced commit for {dataset}: ledger top {top} != "
                f"fence {fence} — a concurrent writer advanced this "
                "ledger; it requires a single writer per checkpoint "
                "directory")
        try:
            self._create_seq_file(fs, jvm, dpath, dataset, seq, value,
                                  run_id or uuid.uuid4().hex[:8])
        except _SeqTaken as ex:
            raise ConcurrentWriterError(
                f"fenced commit for {dataset} at seq {seq} lost to "
                "a concurrent writer — this ledger requires a "
                "single writer per checkpoint directory") from ex
        return seq

    def history(self, dataset: str) -> list:
        """All committed watermarks, oldest first (FsStateStore
        versions). Torn entries (crashed commits) are skipped."""
        out = []
        for _, p in self._entries(dataset):
            try:
                out.append(_decode(self._read_json(p)))
            except ValueError:
                continue
        return out

    def prune_below(self, dataset: str, floor_seq: int) -> int:
        """Delete every entry with sequence < *floor_seq*; entries at
        or above the floor are untouchable. For ledgers whose writer
        derives the floor from its OWN just-committed sequence, this
        can never delete committed state — unlike :meth:`prune`, whose
        keep-newest-K-FILES window counts torn records, so K torn
        commits piling above the newest parseable record would let it
        delete that record and silently reset readers to the ledger's
        beginning (found by the exhaustive model check,
        tests/test_changelog_stream_model.py). Returns the number of
        files deleted."""
        fs, jvm = self._fs()
        doomed = [p for seq, p in self._entries(dataset)
                  if seq < floor_seq]
        for path in doomed:
            fs.delete(jvm.org.apache.hadoop.fs.Path(path), False)
        return len(doomed)

    def prune(self, dataset: str, keep_last: int = 100) -> int:
        """Delete all but the newest *keep_last* commits of a dataset
        key. The store grows one file per commit by design (one claim
        per commit, no read-modify-write); long-lived streaming ledgers
        (~8.6k commits/day at a 10s trigger) need this or every
        get/commit pays an ever-growing listStatus (audit r8). Returns
        the number of files deleted; rollback() reach shrinks to the
        retained window. CAVEAT: the window counts TORN files — a
        writer pruning a ledger where rivals may crash mid-commit
        should prefer :meth:`prune_below` with a floor derived from
        its own committed sequence."""
        fs, jvm = self._fs()
        entries = self._entries(dataset)
        doomed = entries[:-keep_last] if keep_last > 0 else entries
        for _, path in doomed:
            fs.delete(jvm.org.apache.hadoop.fs.Path(path), False)
        return len(doomed)

    def rollback(self, dataset: str, to_seq: int,
                 reset_units: bool = False) -> None:
        """Drop commits with seq > *to_seq* (re-pull from an older
        HWM). ``reset_units=True`` also clears the ``<dataset>/_units``
        completion ledger — without it a re-pull after rollback plans
        zero work units (pending_work_units still sees them done) and
        the bad interval is never re-extracted."""
        fs, jvm = self._fs()
        for seq, path in self._entries(dataset):
            if seq > to_seq:
                fs.delete(jvm.org.apache.hadoop.fs.Path(path), False)
        if reset_units:
            for _, path in self._entries(f"{dataset}/_units"):
                fs.delete(jvm.org.apache.hadoop.fs.Path(path), False)


def incremental_predicate(wm_col: str, lwm, hwm) -> Column:
    """QueryBasedExtractor.java:382-394 — the half-open pull interval
    ``wm > LWM AND wm <= HWM``. ``lwm=None`` (first run) opens the lower
    bound. Plain Column comparisons → pushed to the scan by Catalyst."""
    upper = F.col(wm_col) <= _lit(hwm)
    if lwm is None:
        return upper
    return (F.col(wm_col) > _lit(lwm)) & upper


@dataclass
class IncrementalPull:
    """One bounded incremental extraction. ``df`` holds only rows in
    ``(lwm, hwm]``; call ``commit()`` AFTER the downstream publish
    succeeds so the watermark never runs ahead of published data."""

    df: DataFrame
    dataset: str
    wm_col: str
    lwm: object
    hwm: object
    commit: Callable[[], int]


_INT_TYPES = ("byte", "short", "integer", "long")


def _scan_file_bounds(source_df: DataFrame, wm_col: str):
    """``(file_path column, footer_int_bounds list)`` when *wm_col* is a
    plain integer column of a single parquet scan, else None.

    Plain means: *source_df* is deterministic; *wm_col* resolves to a
    bare attribute of the parquet ``LogicalRelation`` itself, with only
    Projects, Filters and aliases of the whole frame between them (a
    column rebuilt by ``withColumn`` — ``read_parquet``'s nano
    timestamps, say — is a new attribute and never qualifies: its
    footer statistics are in other units); its Spark type is
    byte/short/int/long; it is not a partition column; and the frame
    resolves the scan's ``_metadata`` column. The walk reads the
    already-analyzed plan, so the check optimizes nothing."""
    jdf = source_df._jdf
    node = jdf.queryExecution().analyzed()
    if not node.deterministic():
        return None
    attr = jdf.resolve(wm_col)
    if attr.getClass().getSimpleName() != "AttributeReference":
        return None  # a nested field or other expression
    while node.getClass().getSimpleName() in (
            "Project", "Filter", "SubqueryAlias"):
        node = node.child()
    if node.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = node.relation()
    if (rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName()
            != "ParquetFileFormat"
            or not node.outputSet().contains(attr)
            or attr.dataType().typeName() not in _INT_TYPES
            or rel.partitionSchema().getFieldIndex(attr.name()).isDefined()):
        return None
    try:
        path_col = source_df.metadataColumn("_metadata").getField("file_path")
    except AnalysisException:
        return None  # e.g. a data column named _metadata hides it
    listed = rel.location().allFiles()
    statuses = [listed.apply(i) for i in range(listed.length())]
    return path_col, _files.footer_int_bounds(
        source_df.sparkSession, statuses, attr.name())


def _skip_outside(source_df: DataFrame, found, lwm, hwm) -> DataFrame:
    """*source_df* less the files whose bounds prove no row lies in
    ``(lwm, hwm]`` (either end None: open): ``max <= lwm`` or
    ``min > hwm``. The exclusion is a ``_metadata.file_path`` filter,
    which Spark applies as file pruning when it plans the scan; a file
    without bounds is always kept."""
    if found is None:
        return source_df
    path_col, bounds = found
    skipped = [path for path, b in bounds if b is not None and (
        (lwm is not None and b[1] <= lwm) or (hwm is not None and b[0] > hwm))]
    return source_df.filter(~path_col.isin(skipped)) if skipped else source_df


def pull_incremental(
    source_df: DataFrame,
    wm_col: str,
    store: WatermarkStore,
    dataset: str,
    hwm=None,
    default_lwm=None,
) -> IncrementalPull:
    """One QueryBasedSource run: LWM from the store, HWM given or
    discovered as ``max(wm_col)`` over the unpulled tail (one slim
    min/max-style agg — the same probe the reference issues as
    ``SELECT MAX(wm)``), then the bounded pull.

    Successive runs yield disjoint half-open intervals whose union is
    the full table — the FIXTURES §4 invariant.

    Watermark pruning: when *wm_col* is a plain integer column of one
    parquet scan (``_scan_file_bounds``: Projects and Filters over one
    parquet relation, the column read as is, byte/short/int/long) and
    the LWM and HWM are integers, each listed file's footer min/max of
    the column is read (``files.footer_int_bounds``: one footer per
    file, a flat schema with that exact leaf name, statistics on every
    row group). A file is left out only when those bounds prove it
    holds no row of ``(lwm, hwm]``: ``max <= lwm``, or ``min > hwm``
    (a first pull, ``lwm=None``, skips only the latter); the HWM probe
    skips by ``max <= lwm`` alone. Any other source, or a file its
    footer cannot bound, keeps today's plan, so a derived watermark
    (``withColumn``), a timestamp, a CSV or a union never changes.
    """
    lwm = store.get(dataset, default=default_lwm)
    found = None
    if (lwm is not None or hwm is not None) and all(
            v is None or (isinstance(v, int) and not isinstance(v, bool))
            for v in (lwm, hwm)):
        found = _scan_file_bounds(source_df, wm_col)
    if hwm is None:
        tail = _skip_outside(source_df, found, lwm, None)
        if lwm is not None:
            tail = tail.filter(F.col(wm_col) > _lit(lwm))
        hwm = tail.agg(F.max(wm_col)).first()[0]
    if hwm is None:  # nothing new — empty pull, watermark unchanged
        empty = source_df.filter(F.lit(False))
        return IncrementalPull(empty, dataset, wm_col, lwm, lwm, lambda: -1)
    # validate the watermark TYPE now: a store-unsupported hwm (e.g.
    # decimal.Decimal) must fail before the pull runs, not inside
    # commit() AFTER the downstream publish already succeeded
    _encode(hwm)
    bounded = _skip_outside(source_df, found, lwm, hwm).filter(
        incremental_predicate(wm_col, lwm, hwm))
    return IncrementalPull(
        bounded, dataset, wm_col, lwm, hwm,
        lambda: store.commit(dataset, hwm, monotonic=True),
    )


def snapshot_store_path(root: str, dataset: str) -> str:
    """Where a FileBasedSource persists its file-listing snapshot."""
    return f"{root.rstrip('/')}/{dataset}/_file_snapshot"


def persist_file_snapshot(listing: DataFrame, root: str, dataset: str) -> None:
    """FileBasedSource.java:58 — persist this run's listing so the next
    run's ``new_files_only`` diff is against durable state.

    VERSIONED, never overwrite-in-place: the old mode('overwrite')
    deleted the previous snapshot before the new write committed, so a
    crash mid-write lost ALL snapshot state (next run re-ingested
    everything). Each run writes ``_file_snapshot-v<seq>`` and flips a
    pointer through the same WatermarkStore ledger the
    watermarks use; superseded versions are pruned AFTER the flip."""
    base = snapshot_store_path(root, dataset)
    ptr_store = WatermarkStore(listing.sparkSession, root)
    seq = len(ptr_store._entries(f"{dataset}/_snapshot_ptr")) + 1
    vpath = f"{base}-v{seq:06d}"
    listing.write.mode("overwrite").parquet(vpath)
    ptr_store.commit(f"{dataset}/_snapshot_ptr", vpath)
    # prune superseded versions (keep the newest 2 for in-flight reads)
    jvm = listing.sparkSession._jvm
    hbase = jvm.org.apache.hadoop.fs.Path(base + "-v0")
    fs = hbase.getFileSystem(
        listing.sparkSession._jsc.hadoopConfiguration())
    parent = jvm.org.apache.hadoop.fs.Path(base).getParent()
    if fs.exists(parent):
        base_name = jvm.org.apache.hadoop.fs.Path(base).getName()
        # compare by NAME: listStatus returns fully-qualified paths
        # ("file:/...") which never string-match the plain vpath
        keep_names = {f"{base_name}-v{seq:06d}",
                      f"{base_name}-v{seq - 1:06d}"}
        for st in fs.listStatus(parent):
            nm = st.getPath().getName()
            if nm.startswith(base_name + "-v") and nm not in keep_names:
                fs.delete(st.getPath(), True)


def load_file_snapshot(spark: SparkSession, root: str, dataset: str) -> DataFrame | None:
    ptr = WatermarkStore(spark, root).get(f"{dataset}/_snapshot_ptr")
    jvm = spark._jvm
    if ptr is not None:
        hp = jvm.org.apache.hadoop.fs.Path(ptr)
        if hp.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hp):
            return spark.read.parquet(ptr)
        return None
    # legacy layout: un-versioned _file_snapshot dir
    path = snapshot_store_path(root, dataset)
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    return spark.read.parquet(path)


def bounded_hwm(source_df: DataFrame, wm_col: str, lwm, max_rows: int):
    """Work-unit sizing for incremental pulls (Gobblin's
    ``maxWorkUnits``/partition-interval sizing, QueryBasedSource.java:216):
    pick the HWM so the next pull covers at most ~max_rows rows — the
    watermark of the max_rows-th unpulled row in watermark order.
    Computed with TakeOrdered (orderBy+limit: per-partition top-N merge,
    never a full sort). Rows sharing the boundary watermark are included
    by the half-open pull, so a pull can exceed max_rows only by the
    final watermark's tie count."""
    tail = source_df if lwm is None else source_df.filter(F.col(wm_col) > _lit(lwm))
    # NULL watermarks sort FIRST under asc() and would consume (or
    # fully occupy) the limit window — enough NULL rows then stall the
    # first pull forever (boundary None == "nothing new"). They can
    # never be pulled by the half-open interval anyway; exclude them.
    boundary = (
        tail.select(wm_col).filter(F.col(wm_col).isNotNull())
        .orderBy(F.col(wm_col).asc()).limit(max_rows)
        .agg(F.max(wm_col))
        .first()[0]
    )
    return boundary


def pending_work_units(
    store: "WatermarkStore", dataset: str, unit_ids: list[str]
) -> list[str]:
    """AbstractSource's failed-work-unit retry merge (gobblin-core-base/
    .../extract/AbstractSource.java): a new run plans the units the
    previous run did NOT commit. Per-unit completion lives in the store
    under ``<dataset>/_units``; publish marks a unit done via
    ``commit_work_unit`` only after its output is published, so a crash
    between write and publish re-runs the unit (idempotent staging
    publish makes the re-run safe)."""
    done = _decode_units(store.get(f"{dataset}/_units"))
    return [u for u in unit_ids if u not in done]


def commit_work_unit(store: "WatermarkStore", dataset: str, unit_id: str) -> None:
    """Mark one work unit complete (call AFTER its publish succeeds)."""
    done = _decode_units(store.get(f"{dataset}/_units"))
    if unit_id not in done:
        store.commit(f"{dataset}/_units",
                     json.dumps(sorted(done | {unit_id})))


def _decode_units(raw) -> set:
    return set(json.loads(raw)) if raw else set()
