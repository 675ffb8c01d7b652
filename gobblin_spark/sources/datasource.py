"""Native Spark Python DataSources: ``gobblin_rest`` (paged REST),
``gobblin_sql`` (range-partitioned JDBC-shaped pull with pushdown),
and ``gobblin_iceberg`` (the table format behind Catalyst's own
pushdown API — batch read with manifest/file pruning, write with a
one-snapshot sessionless commit, and streaming reads over snapshot
sequence numbers; see the section banner below).

The REST family first:
``spark.read.format("gobblin_rest")`` and
``spark.readStream.format("gobblin_rest")``.

This re-hosts the RestApiExtractor page fan-out (reference:
gobblin-core/.../extractor/extract/restapi/RestApiExtractor.java; our
DataFrame version lives in ``sources/rest.py``) behind Spark 4's
DataSource V2 Python API, so the pieces Gobblin hand-builds become
engine-owned:

- work-unit planning        -> ``DataSourceReader.partitions()``
  (one InputPartition per page; Catalyst schedules them)
- predicate pass-through    -> ``pushFilters`` (page-range filters
  prune whole partitions BEFORE any fetch happens)
- low/high watermark state  -> ``SimpleDataSourceStreamReader``
  offsets ({"page": n} checkpointed by Structured Streaming — the
  QueryBasedSource LWM/HWM loop, natively)

Pages live as JSON-lines files ``page-NNNNN.json`` under ``path`` —
the persisted form of rest.py's injectable transport. In production
``_read_page`` swaps for the HTTP call (the partition/offset logic is
transport-independent); in this repo the file transport keeps every
code path executable and testable offline.

Options: ``path`` (required), ``schema`` handled by Spark's
``.schema(...)``; the schema's column NAMES select fields from each
JSON object, plus the pseudo-column ``page`` (INT, the page index) if
declared. 100 TB shape: a million pages is a million cheap
InputPartitions (ids only); rows never pass through the driver, and
pushed page filters cut the fetch count, not just the row count.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import time
import weakref
from typing import Iterator, Tuple

try:
    import fcntl as _fcntl
except ImportError:  # non-POSIX: the rename-dance reclaim fallback
    _fcntl = None

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructField, StructType


def _batches_to_table(iterator, target_schema):
    """Arrow RecordBatch iterator → one pyarrow Table in
    *target_schema* (the declared write schema). Shared by every
    Arrow-native writer here: batches usually arrive already in the
    target types (Spark produced them from the same StructType), so
    the cast is a no-op; when metadata/nullability differ the cast
    reconciles them. An empty iterator yields an empty table."""
    import pyarrow as pa

    batches = [b for b in iterator if b.num_rows]
    if not batches:
        return target_schema.empty_table()
    tbl = pa.Table.from_batches(batches)
    return tbl if tbl.schema == target_schema else tbl.cast(target_schema)

_PAGE_RE = re.compile(r"page-(\d+)\.json$")

# unique suffix for single-winner stale-lock reclaims: pid + an
# in-process counter (one process can reclaim the same path twice)
_LOCK_CLAIM_SEQ = itertools.count().__next__

# Age past which a _DELIVERED.lock holder is presumed dead (the
# guarded fold-in is milliseconds). Acquisition waits this horizon
# out plus margin, so an orphaned-but-fresh lock delays a commit
# instead of wedging it; tests shrink it to keep the wait fast.
_MANIFEST_LOCK_STALE_S = 60.0


def _page_files(path: str) -> list[tuple[int, str]]:
    out = []
    for f in os.listdir(path):
        m = _PAGE_RE.match(f)
        if m:
            out.append((int(m.group(1)), os.path.join(path, f)))
    return sorted(out)


def _read_page(
    fpath: str, page: int, schema: StructType, bad_records: str = "fail"
) -> Iterator[Tuple]:
    """Transport: one page -> row tuples in schema field order. The
    only function to replace for a real HTTP backend.

    ``bad_records``: 'fail' raises on the first malformed line (with
    file/line context — a poisoned page should kill the work unit
    loudly, reference RowLevelPolicy.FAIL); 'drop' skips malformed
    lines (quarantine-style ingestion keeps flowing; pair with an
    audit count when completeness matters)."""
    names = [f.name for f in schema.fields]
    with open(fpath) as fh:
        for lineno, line in enumerate(fh, 1):
            line = line.strip()
            if not line:
                continue
            try:
                obj = json.loads(line)
                if not isinstance(obj, dict):
                    raise ValueError("not a JSON object")
            except ValueError as ex:
                if bad_records == "drop":
                    continue
                raise ValueError(
                    f"malformed page record {fpath}:{lineno}: {ex}") from ex
            obj["page"] = page
            yield tuple(obj.get(n) for n in names)


class _PagePartition(InputPartition):
    def __init__(self, page: int, path: str):
        self.page = page
        self.path = path


class _RestReader(DataSourceReader):
    def __init__(self, path: str, schema: StructType,
                 bad_records: str = "fail"):
        self.path = path
        self.schema_ = schema
        self.bad_records = bad_records
        # page-range bounds tightened by pushFilters: [lo, hi] inclusive
        self.lo: int | None = None
        self.hi: int | None = None

    def pushFilters(self, filters: list[Filter]):
        """Accept page-range filters: each fully handled one prunes
        whole partitions and is NOT returned to Spark. Eager (returns
        a list): the self-mutations must land before partitions()."""
        remaining = []
        for f in filters:
            handled = False
            col = getattr(f, "attribute", None)
            if col == ("page",):
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo or f.value, f.value)
                    self.hi = min(self.hi if self.hi is not None else f.value,
                                  f.value)
                    handled = True
                elif isinstance(f, GreaterThan):
                    b = f.value + 1
                    self.lo = b if self.lo is None else max(self.lo, b)
                    handled = True
                elif isinstance(f, GreaterThanOrEqual):
                    self.lo = f.value if self.lo is None else max(
                        self.lo, f.value)
                    handled = True
                elif isinstance(f, LessThan):
                    b = f.value - 1
                    self.hi = b if self.hi is None else min(self.hi, b)
                    handled = True
                elif isinstance(f, LessThanOrEqual):
                    self.hi = f.value if self.hi is None else min(
                        self.hi, f.value)
                    handled = True
            if not handled:
                remaining.append(f)
        return remaining

    def partitions(self):
        parts = []
        for page, fpath in _page_files(self.path):
            if self.lo is not None and page < self.lo:
                continue
            if self.hi is not None and page > self.hi:
                continue
            parts.append(_PagePartition(page, fpath))
        return parts

    def read(self, partition: _PagePartition):
        """Yields ONE Arrow RecordBatch per page: the V2 reader's
        columnar fast path (no per-row pickling between the source
        worker and Spark — the same reason every pandas-UDF path in
        this repo is Arrow-batched). Falls back to row tuples if
        pyarrow is unavailable."""
        try:
            import pyarrow as pa
        except ImportError:  # pragma: no cover - pyarrow is baked in
            yield from _read_page(partition.path, partition.page,
                                  self.schema_, self.bad_records)
            return
        names = [f.name for f in self.schema_.fields]
        rows = list(_read_page(partition.path, partition.page, self.schema_,
                               self.bad_records))
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(self.schema_)
        cols = [
            pa.array([r[i] for r in rows], type=arrow_schema.field(n).type)
            for i, n in enumerate(names)
        ]
        yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


class _RestStreamReader(SimpleDataSourceStreamReader):
    """Offset = {"page": next_unread_index}: the LWM/HWM loop of
    QueryBasedSource run by Structured Streaming's checkpoint."""

    def __init__(self, path: str, schema: StructType,
                 bad_records: str = "fail"):
        self.path = path
        self.schema_ = schema
        self.bad_records = bad_records

    def initialOffset(self) -> dict:
        return {"page": 0}

    def _rows(self, lo: int, hi: int) -> Iterator[Tuple]:
        for page, fpath in _page_files(self.path):
            if lo <= page < hi:
                yield from _read_page(fpath, page, self.schema_,
                                      self.bad_records)

    def read(self, start: dict) -> tuple[Iterator[Tuple], dict]:
        pages = _page_files(self.path)
        hi = (pages[-1][0] + 1) if pages else start["page"]
        hi = max(hi, start["page"])
        # materialized list, not a generator: Spark's prefetch cache
        # copy.copy()s the iterator, and generators are not copyable.
        # SimpleDataSourceStreamReader batches route via the driver by
        # design (use the non-simple reader for high-throughput feeds);
        # one poll's pages are bounded by arrival rate.
        return iter(list(self._rows(start["page"], hi))), {"page": hi}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        return iter(list(self._rows(start["page"], end["page"])))

    def commit(self, end: dict) -> None:
        pass  # file pages are immutable; nothing to ack


class GobblinRestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "gobblin_rest"

    def schema(self):
        raise NotImplementedError(
            "gobblin_rest needs an explicit .schema(...) — REST pages "
            "carry no self-describing schema to infer from")

    def reader(self, schema: StructType) -> _RestReader:
        return _RestReader(self.options["path"], schema,
                           self.options.get("bad_records", "fail"))

    def simpleStreamReader(self, schema: StructType) -> _RestStreamReader:
        return _RestStreamReader(self.options["path"], schema,
                                 self.options.get("bad_records", "fail"))

    def writer(self, schema: StructType, overwrite: bool) -> "_RestWriter":
        return _RestWriter(
            self.options["path"], schema,
            int(self.options.get("batch_size", "500")), overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return _RestStreamWriter(self.options, schema)


# sessions whose dataSource registry already holds our sources — a
# WeakSet so a stopped session's entry is collected with the session
_REGISTERED_SESSIONS: "weakref.WeakSet" = weakref.WeakSet()
# JVM-side UserDefinedPythonDataSource builders captured at first
# successful registration, keyed by source name — the donor for
# sibling sessions (see register() for the Spark 4.1 inconsistency)
_BUILDER_STASH: dict = {}


def register(spark) -> None:
    """Idempotent registration of both native sources:
    spark.read.format('gobblin_rest') / format('gobblin_sql').

    Also enables ``spark.sql.python.filterPushdown.enabled`` on the
    *incoming* session: both readers implement ``pushFilters()`` and
    Spark 4.x hard-fails any Python DataSource whose reader defines it
    while the conf is false.  The conf is runtime-settable, and
    register() is the common entry point for every read path, so a
    session built without our factory (e.g. the round driver's) still
    works.
    """
    # the conf repair runs on EVERY call — it is the pinned contract
    # (a foreign session may have flipped it back at any time and the
    # next DSv2 read would hard-fail); only the three source
    # registrations are skipped on repeat calls, ~15 ms of py4j each
    # time otherwise, re-paid by every DSv2 query in a suite. Memoized
    # PER SESSION OBJECT (advice-r13): dataSource.register is
    # per-SparkSession state, and a sibling created with newSession()
    # shares the applicationId — an app-id key silently skipped its
    # registrations and every DSv2 read there failed with
    # DATA_SOURCE_NOT_FOUND. A fresh session re-registers normally.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        if spark in _REGISTERED_SESSIONS:
            return
    except Exception:
        pass
    for src in (GobblinRestDataSource, GobblinSqlDataSource,
                GobblinIcebergDataSource):
        name = src.name()
        try:
            spark.dataSource.register(src)
            try:
                _BUILDER_STASH[name] = (
                    spark._jsparkSession.sessionState()
                    .dataSourceManager().lookupDataSource(name))
            except Exception:
                pass
        except Exception as ex:
            if "ALREADY_EXISTS" not in str(ex):
                raise
            # Spark 4.1 inconsistency on newSession() siblings
            # (probed r14): the python-side duplicate check says the
            # source ALREADY_EXISTS, yet the sibling's own session
            # dataSourceManager is EMPTY and reads die with
            # DATA_SOURCE_NOT_FOUND. Repair by installing the JVM
            # builder captured at the first successful registration
            # straight into this session's manager.
            jm = spark._jsparkSession.sessionState().dataSourceManager()
            if not jm.dataSourceExists(name):
                donor = _BUILDER_STASH.get(name)
                if donor is None:
                    raise
                jm.registerDataSource(name, donor)
    try:
        _REGISTERED_SESSIONS.add(spark)
    except Exception:
        pass


def write_pages(df_rows: list[dict], path: str, page_size: int,
                start_page: int = 0) -> int:
    """Test/demo transport: persist dict-rows as page-NNNNN.json files
    (what a paged API would have returned). Returns pages written."""
    os.makedirs(path, exist_ok=True)
    n = 0
    for i in range(0, len(df_rows), page_size):
        page = start_page + i // page_size
        with open(os.path.join(path, f"page-{page:05d}.json"), "w") as fh:
            for r in df_rows[i:i + page_size]:
                fh.write(json.dumps(r, default=str) + "\n")
        n += 1
    return n


class _TaskFilesCommit(WriterCommitMessage):
    """The one commit-message shape every file-staging writer here
    uses: the task's produced files + its row count (was triplicated
    as _PageCommit/_SqlCommit/_IcebergCommit, audit r8)."""

    def __init__(self, files: list[str], rows: int):
        self.files = files
        self.rows = rows


# connector-local aliases keep call sites self-describing
_PageCommit = _TaskFilesCommit


class _RestWriter(DataSourceWriter):
    """Write side of the V2 lifecycle — the FsDataWriter
    stage→commit→publish contract (reference:
    gobblin-core/.../writer/FsDataWriter.java:58) owned by the ENGINE:
    every task stages its batch files under ``_staging/`` and reports
    a commit message; only the driver-side ``commit`` (all tasks
    succeeded — Gobblin's COMMIT_ON_FULL_SUCCESS) renames them into
    place and stamps the ``_DELIVERED`` manifest; ``abort`` removes
    the staging dir so a failed job leaves no partial output. A real
    HTTP sink swaps the file write for the batched POST of
    sinks/generic.py; the staging trick then becomes buffering with
    idempotency keys.

    LOCAL-ONLY contract (deliberate): the staging rename + O_EXCL
    manifest-lock protocol relies on POSIX atomic rename/create, which
    object stores don't provide — this face targets local/NFS paths
    (its production shape is the HTTP sink, where no filesystem is
    involved). The gobblin_iceberg face is the remote-FS path: its
    commit protocol is the table format's own metadata CAS, which
    needs no renames and is scheme-aware end to end."""

    def __init__(self, path: str, schema: StructType, batch_size: int,
                 overwrite: bool = False):
        import uuid

        self.path = path
        self.schema_ = schema
        self.batch_size = batch_size
        self.overwrite = overwrite
        # Per-job token baked into every staged/final filename so a
        # second append-mode job can never clobber a prior job's
        # output (FsDataWriter's publish never overwrites; neither
        # may we). Generated driver-side, serialized to executors.
        self.job_token = uuid.uuid4().hex[:12]

    def write(self, iterator) -> _PageCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        task = ctx.partitionId() if ctx else 0
        # attempt id: speculative/retried attempts must never share a
        # staged filename (the stream writer uses the pid the same way)
        attempt = ctx.taskAttemptId() if ctx else 0
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        names = [f.name for f in self.schema_.fields]
        files: list[str] = []
        rows = 0
        buf: list[str] = []

        def flush():
            nonlocal buf
            if not buf:
                return
            fname = os.path.join(
                staging,
                f"task-{self.job_token}-{task:05d}-{attempt}"
                f"-batch-{len(files):05d}.json")
            with open(fname, "w") as fh:
                fh.write("\n".join(buf) + "\n")
            files.append(fname)
            buf = []

        for row in iterator:
            buf.append(json.dumps(dict(zip(names, row)), default=str))
            rows += 1
            if len(buf) >= self.batch_size:
                flush()
        flush()
        return _PageCommit(files, rows)

    def commit(self, messages) -> None:
        import shutil

        if self.overwrite:
            for f in os.listdir(self.path):
                if f.startswith("task-") and f.endswith(".json"):
                    os.remove(os.path.join(self.path, f))
        total = 0
        n = 0
        for m in messages:
            if m is None:
                continue
            for f in m.files:
                final = os.path.join(self.path, os.path.basename(f))
                shutil.move(f, final)
                n += 1
            total += m.rows
        staging = os.path.join(self.path, "_staging")
        try:
            # losing speculative attempts of THIS job leave staged
            # files no commit message names — sweep by job token, and
            # only by job token (a concurrent job's staging survives).
            # try/except: a concurrent job can rmdir the emptied dir
            # between our isdir/listdir calls (audit r8)
            for f in os.listdir(staging):
                if f.startswith(f"task-{self.job_token}-"):
                    os.remove(os.path.join(staging, f))
            if not os.listdir(staging):
                os.rmdir(staging)
        except OSError:
            pass
        manifest = os.path.join(self.path, "_DELIVERED")
        # the append-mode fold-in is a read-modify-write: two
        # concurrent jobs would each read the same prior counts and
        # the loser's write erases the winner's delta (audit r8) — an
        # O_EXCL lock file serializes just this tiny section
        lock = manifest + ".lock"
        stale_s = _MANIFEST_LOCK_STALE_S
        fd = None
        # the wait must OUTLAST the staleness horizon: giving up
        # sooner (the old 500x10ms ~= 5 s bound) made the reclaim
        # path unreachable for a fresh-looking dead lock — a driver
        # killed mid-section wedged every commit for 60 s of mtime
        # age but waiters surrendered at 5 s — and starved waiters
        # under back-to-back re-acquisition spuriously raised "stuck"
        # on loaded machines (review r13 pass 5, caught live by the
        # reclaim fold test under a saturated suite). The budget
        # accumulates NOMINAL sleep so it is load-independent; an
        # under-load wall clock only gives the holder longer.
        waited = 0.0
        while waited <= stale_s + 15.0:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                # stale-lock recovery (advice-r8): a driver killed
                # between os.open and os.remove would otherwise wedge
                # every later commit until someone deletes the file by
                # hand. The guarded section is milliseconds, so a lock
                # older than the horizon cannot have a live holder —
                # reclaim it. Reclaim must touch ONLY the dead inode:
                # the advice-r9 rename dance (rename to a unique claim,
                # re-stat, restore if fresh) still STOLE a live lock
                # transiently — a waiter whose staleness stat raced a
                # full reclaim+re-acquire renamed the new holder's
                # FRESH lock aside, and the rename->restore vacancy let
                # a third committer in (two holders; found by the r13
                # exhaustive model check, tests/test_manifest_lock_
                # model.py). The flock election has no such window:
                # pin the stale inode with an fd, elect exactly one
                # reclaimer via LOCK_EX|LOCK_NB on THAT inode (kernel-
                # owned, crash-released — no staleness recursion),
                # re-verify age on the pinned fd, and remove only
                # while the path still resolves to the pinned inode.
                # The elected reclaimer is the sole agent authorized
                # to unlink that inode and creators need a vacancy, so
                # the verify->remove pair cannot hit a fresh lock.
                try:
                    if time.time() - os.path.getmtime(lock) > stale_s:
                        if _fcntl is not None:
                            self._reclaim_elected(lock, stale_s)
                        else:
                            self._reclaim_rename_dance(lock, stale_s)
                except OSError:
                    pass  # path vanished / lost the election — retry
                time.sleep(0.01)
                waited += 0.01
        if fd is None:
            raise RuntimeError(f"manifest lock stuck at {lock}")
        try:  # the guarded fold-in
            if not self.overwrite and os.path.exists(manifest):
                # Append mode: the manifest covers the WHOLE
                # directory, so fold in the counts of prior jobs
                # instead of clobbering.
                with open(manifest) as fh:
                    prev = json.load(fh)
                total += prev.get("rows", 0)
                n += prev.get("files", 0)
            with open(manifest, "w") as fh:
                json.dump({"rows": total, "files": n}, fh)
        finally:
            # advice-r10: release verifies INODE IDENTITY before
            # removing. If a reclaimer displaced our lock (rename)
            # and failed to restore it (another waiter O_EXCL'd the
            # vacant path first), the path now holds that NEW
            # holder's lock — an unconditional remove would delete a
            # live lock and re-open the two-holder window one hop
            # later. Our fd pins our inode, so remove only when the
            # path still resolves to it. Residual (documented, not
            # absolute): the stat→remove pair is itself non-atomic,
            # so a displacement landing in THAT microsecond window —
            # which requires our milliseconds-held lock to have
            # crossed the 60 s staleness horizon — could still hit;
            # inode-number recycling could in principle false-match.
            # Both need a critical section ~10^4× over budget first.
            my_ino = os.fstat(fd).st_ino
            os.close(fd)
            try:
                if os.stat(lock).st_ino == my_ino:
                    os.remove(lock)
            except FileNotFoundError:
                # a mis-timed reclaimer stole our live lock and could
                # not restore it — the manifest write already happened
                pass

    @staticmethod
    def _reclaim_elected(lock: str, stale_s: float) -> None:
        """Single-winner stale-lock reclaim with NO live-lock window:
        pin the inode currently at *lock* with an fd, elect exactly
        one reclaimer for that inode via a non-blocking flock
        (kernel-owned and released on crash, so the election needs no
        staleness horizon of its own), re-check age on the PINNED fd,
        and unlink only while the path still resolves to the pinned
        inode. Correctness: the elected reclaimer is the only agent
        that ever removes this inode's path entry, the dead holder
        cannot (it is dead — a live fresh holder is left untouched by
        the fstat check), and creators need a vacancy — so between
        the identity stat and the remove the path cannot change."""
        rfd = os.open(lock, os.O_RDONLY)
        try:
            try:
                _fcntl.flock(rfd, _fcntl.LOCK_EX | _fcntl.LOCK_NB)
            except OSError as ex:
                import errno
                unsupported = (errno.EINVAL, errno.ENOSYS,
                               errno.ENOTSUP,
                               getattr(errno, "EOPNOTSUPP",
                                       errno.ENOTSUP))
                if ex.errno in unsupported:
                    # flock DETERMINISTICALLY unsupported on this
                    # filesystem — every waiter degrades to the same
                    # rename dance (homogeneous; documented residual)
                    _RestWriter._reclaim_rename_dance(lock, stale_s)
                    return
                # lost the election (EAGAIN/EACCES) or a TRANSIENT
                # fault (ENOLCK lock-manager hiccup, EIO): wait and
                # retry. A transient fault must NOT trigger the dance
                # — one dancer renaming beside flock-elected waiters
                # would re-open the stolen-live-lock race the
                # election closed (review r13 pass 6). A persistently
                # lockd-less NFS therefore never reclaims and
                # surfaces the loud "manifest lock stuck" raise
                # instead of risking two holders.
                return
            st = os.fstat(rfd)
            if time.time() - st.st_mtime <= stale_s:
                return          # pinned inode is fresh: a live holder
            try:
                if os.stat(lock).st_ino == st.st_ino:
                    os.remove(lock)
            except FileNotFoundError:
                pass            # already gone
        finally:
            os.close(rfd)

    @staticmethod
    def _reclaim_rename_dance(lock: str, stale_s: float) -> None:
        """Fallback reclaim for filesystems without flock (advice-r9
        shape): rename the stale lock to a unique claim — exactly one
        renamer succeeds — re-stat the renamed inode and restore it
        if it turned out fresh. RESIDUAL (r13 model check, the reason
        flock is the primary path): the rename can transiently steal
        a fresh lock whose holder re-acquired inside our stat->rename
        window, and the rename->restore vacancy can admit a third
        committer; tests/test_manifest_lock_model.py reproduces it as
        the `rename_dance` calibration."""
        claim = "%s.reclaim.%d.%d" % (
            lock, os.getpid(), _LOCK_CLAIM_SEQ())
        os.rename(lock, claim)
        if time.time() - os.path.getmtime(claim) > stale_s:
            os.remove(claim)
            return
        # the path was reclaimed AND re-acquired in our stat->rename
        # window: we hold a LIVE holder's lock. Put it back; if yet
        # another waiter already filled the path, drop the claim
        # (release tolerates the loss).
        try:
            os.link(claim, lock)
        except OSError:
            pass
        os.remove(claim)

    def abort(self, messages) -> None:
        # token-scoped: a failed job must not delete a CONCURRENT
        # job's staged files from the shared _staging dir (that is
        # the isolation job_token exists for)
        staging = os.path.join(self.path, "_staging")
        try:
            for f in os.listdir(staging):
                if f.startswith(f"task-{self.job_token}-"):
                    os.remove(os.path.join(staging, f))
            if not os.listdir(staging):
                os.rmdir(staging)
        except OSError:
            pass


# ----------------------------------------------------------------------
# gobblin_sql: the QueryBasedSource / JdbcExtractor contract as a
# NATIVE V2 source against an embedded SQL database (DuckDB file).
# ----------------------------------------------------------------------

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _duck_connect(db: str, read_only: bool = False):
    """DuckDB connection with the session TimeZone pinned UTC — only
    Spark's side is pinned by get_spark, and an unpinned DuckDB
    converts TIMESTAMPTZ->TIMESTAMP casts through the HOST timezone,
    shifting every instant on a non-UTC machine (audit r8)."""
    import duckdb

    con = duckdb.connect(db, read_only=read_only)
    con.execute("SET TimeZone='UTC'")
    return con


def _sql_ident(name: str) -> str:
    if not _IDENT_RE.match(name):
        raise ValueError(f"unsafe SQL identifier: {name!r}")
    return name


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) and (v != v or v in (float("inf"),
                                                 float("-inf"))):
        # repr() gives bare inf/nan tokens, which DuckDB binds as
        # IDENTIFIERS (Binder Error) — spell them as typed casts
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        return ("CAST('Infinity' AS DOUBLE)" if v > 0
                else "CAST('-Infinity' AS DOUBLE)")
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        # str(bytes) would compile to a "b'..'" VARCHAR literal and —
        # because the filter is consumed by pushdown — silently return
        # wrong rows (audit r8); hex escapes are unambiguous
        return "'" + "".join(f"\\x{b:02X}" for b in v) + "'::BLOB"
    s = str(v).replace("'", "''")
    return f"'{s}'"



_SPARK_TO_DUCK = {
    "long": "BIGINT", "int": "INTEGER", "short": "SMALLINT",
    "byte": "TINYINT", "double": "DOUBLE", "float": "FLOAT",
    "string": "VARCHAR", "boolean": "BOOLEAN", "date": "DATE",
    "timestamp_ntz": "TIMESTAMP", "timestamp": "TIMESTAMP",
    "binary": "BLOB",
}


def _duck_type(data_type) -> str | None:
    """Spark dtype → DuckDB type, including parametrized decimals
    (``decimal(p,s)`` passes through verbatim — DuckDB accepts the
    same spelling). None for types with no DuckDB twin."""
    s = data_type.simpleString()
    if s.startswith("decimal("):
        return s.upper()
    return _SPARK_TO_DUCK.get(s)


def _select_cast_list(schema: StructType,
                      present: set[str] | None = None) -> str:
    """SELECT list casting every column to the DECLARED read schema's
    type — the database's own literal/decimal typing never leaks into
    the Arrow transfer (a DECIMAL landing in a DOUBLE column would
    otherwise fail batch conversion). With ``present`` (the table's
    actual columns), declared columns the table lacks become typed
    NULLs — the schema-drift posture of a long-lived JDBC pull whose
    upstream dropped a column (QueryBasedExtractor's
    source.schema-first contract)."""
    parts = []
    for f in schema.fields:
        name = _sql_ident(f.name)
        duck = _duck_type(f.dataType)
        # identifier comparison is CASE-INSENSITIVE (both DuckDB and
        # Spark resolve identifiers case-insensitively; a declared
        # 'ID' must match the table's 'id', not null-fill)
        if present is not None and f.name.lower() not in present:
            parts.append(f"CAST(NULL AS {duck or 'VARCHAR'}) AS {name}")
        elif duck:
            parts.append(f"CAST({name} AS {duck}) AS {name}")
        else:
            parts.append(name)
    return ", ".join(parts)


class _RangePartition(InputPartition):
    def __init__(self, lo, hi, is_first: bool, is_last: bool):
        self.lo = lo
        self.hi = hi
        self.is_first = is_first
        self.is_last = is_last


class _SqlReader(DataSourceReader):
    """Range-partitioned parallel pull + predicate pushdown INTO the
    database — the JdbcExtractor/QueryBasedSource contract
    (reference: gobblin-core/.../extractor/extract/jdbc/
    JdbcExtractor.java, Partitioner.java:50) as engine-owned planning:

    - ``partitions()`` splits [lower_bound, upper_bound) of
      ``partition_column`` into ``num_partitions`` ranges (Spark's own
      JDBC API shape); first/last ranges are open-ended so rows
      outside the stated bounds are never lost (the same contract the
      JDBC relation honors).
    - ``pushFilters`` compiles supported predicates to SQL conjuncts
      executed BY the database — rows are filtered before they ever
      cross the wire. Unsupported filters stay in Spark.
    - each partition fetches through DuckDB's Arrow surface (columnar
      end-to-end, read_only so N executors share the file).

    Column pruning note: the Python DataSource API pushes filters but
    not projections yet; a production JDBC deployment prunes via the
    query text (`source.querybased.query`).
    """

    def __init__(self, options, schema: StructType):
        self.db = options["database"]
        self.table = _sql_ident(options["table"])
        self.pc = _sql_ident(options["partition_column"])
        self.lo = int(options["lower_bound"])
        self.hi = int(options["upper_bound"])
        self.n = int(options.get("num_partitions", "4"))
        self.schema_ = schema
        self.null_fill_missing = (
            options.get("missing_columns", "fail") == "null")
        self.where: list[str] = []

    def _present_cols(self) -> set[str] | None:
        """Lowercased column names actually in the table (only fetched
        under missing_columns=null; None otherwise). Memoized."""
        if not self.null_fill_missing:
            return None
        if not hasattr(self, "_present_memo"):
            import duckdb

            con = _duck_connect(self.db, read_only=True)
            try:
                self._present_memo = {r[0].lower() for r in con.execute(
                    f"DESCRIBE {self.table}").fetchall()}
            finally:
                con.close()
        return self._present_memo

    def pushFilters(self, filters: list[Filter]):
        from pyspark.sql.datasource import In, IsNotNull, IsNull

        present = self._present_cols()
        remaining = []
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            ok = col is not None and _IDENT_RE.match(col)
            if (ok and present is not None
                    and col.lower() not in present):
                # declared-but-table-absent column (null-filled in the
                # SELECT list): pushing would crash DuckDB on an
                # unknown identifier — let Spark evaluate it against
                # the NULL column instead
                remaining.append(f)
                continue
            if ok and isinstance(f, EqualTo):
                self.where.append(f"{col} = {_sql_literal(f.value)}")
            elif ok and isinstance(f, GreaterThan):
                self.where.append(f"{col} > {_sql_literal(f.value)}")
            elif ok and isinstance(f, GreaterThanOrEqual):
                self.where.append(f"{col} >= {_sql_literal(f.value)}")
            elif ok and isinstance(f, LessThan):
                self.where.append(f"{col} < {_sql_literal(f.value)}")
            elif ok and isinstance(f, LessThanOrEqual):
                self.where.append(f"{col} <= {_sql_literal(f.value)}")
            elif ok and isinstance(f, IsNull):
                self.where.append(f"{col} IS NULL")
            elif ok and isinstance(f, IsNotNull):
                self.where.append(f"{col} IS NOT NULL")
            elif ok and isinstance(f, In):
                vals = ", ".join(_sql_literal(v) for v in f.values)
                self.where.append(f"{col} IN ({vals})")
            else:
                remaining.append(f)
        return remaining

    def partitions(self):
        n = max(1, self.n)
        span = max(1, (self.hi - self.lo + n - 1) // n)
        parts = []
        for i in range(n):
            lo = self.lo + i * span
            hi = min(self.lo + (i + 1) * span, self.hi)
            if lo >= self.hi and i > 0:
                break
            parts.append(_RangePartition(lo, hi, i == 0, hi >= self.hi))
        if parts:
            parts[-1].is_last = True
        return parts

    def read(self, partition: _RangePartition):
        import duckdb

        cols = _select_cast_list(self.schema_, self._present_cols())
        conds = list(self.where)
        # open-ended edges: never lose rows outside the stated bounds
        if not partition.is_first:
            conds.append(f"{self.pc} >= {partition.lo}")
        if not partition.is_last:
            conds.append(f"{self.pc} < {partition.hi}")
        where = f" WHERE {' AND '.join(conds)}" if conds else ""
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema_)
        con = _duck_connect(self.db, read_only=True)
        try:
            reader = con.execute(
                f"SELECT {cols} FROM {self.table}{where}"
            ).fetch_record_batch(100_000)
            while True:
                try:
                    batch = reader.read_next_batch()
                except StopIteration:
                    break
                if batch.schema != target:
                    # e.g. Spark 'timestamp' expects timestamp[us,
                    # tz=UTC] while DuckDB emits naive timestamp[us];
                    # cast column-wise so the JVM never reinterprets
                    # (session tz is pinned UTC — the instant is
                    # preserved)
                    batch = pa.RecordBatch.from_arrays(
                        [batch.column(i).cast(target.field(i).type)
                         for i in range(batch.num_columns)],
                        schema=target)
                yield batch
        finally:
            con.close()


class GobblinSqlDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "gobblin_sql"

    def schema(self):
        import duckdb

        con = _duck_connect(self.options["database"], read_only=True)
        try:
            rows = con.execute(
                f"DESCRIBE {_sql_ident(self.options['table'])}").fetchall()
        finally:
            con.close()
        duck_to_spark = {
            "BIGINT": "long", "INTEGER": "int", "SMALLINT": "short",
            "TINYINT": "byte", "DOUBLE": "double", "FLOAT": "float",
            "VARCHAR": "string", "BOOLEAN": "boolean", "DATE": "date",
            "TIMESTAMP": "timestamp_ntz", "BLOB": "binary",
            "HUGEINT": "decimal(38,0)",
            "TIMESTAMP WITH TIME ZONE": "timestamp",
        }
        fields = []
        for name, typ, *_ in rows:
            base = typ.split("(")[0].upper()
            if base.startswith("DECIMAL"):
                fields.append(f"{name} {typ.lower()}")
            else:
                fields.append(f"{name} {duck_to_spark.get(base, 'string')}")
        return ", ".join(fields)

    def reader(self, schema: StructType) -> _SqlReader:
        return _SqlReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> "_SqlWriter":
        return _SqlWriter(self.options, schema, overwrite)

    def simpleStreamReader(self, schema: StructType) -> "_SqlStreamReader":
        return _SqlStreamReader(self.options, schema)


_SqlCommit = _TaskFilesCommit


class _SqlWriter(DataSourceArrowWriter):
    """JdbcWriter's staging-swap contract (reference:
    gobblin-modules/gobblin-sql/.../writer/JdbcWriter.java:67 and the
    task/job-level commit of AbstractJobLauncher), executable:

    - tasks NEVER open write connections — each stages its rows as a
      parquet file (Arrow, columnar) and reports a commit message;
    - the driver-side ``commit`` opens the ONE writer connection,
      loads every staged file into a staging table inside a single
      transaction, and swaps: append = INSERT INTO final SELECT;
      overwrite = CREATE OR REPLACE TABLE final AS SELECT. A failed
      job never half-writes the target (abort just deletes files);
    - this is exactly how a production JDBC sink wants to behave under
      a 1000-task job: the database sees one bulk load, not a
      thundering herd of row inserts.
    """

    def __init__(self, options, schema: StructType, overwrite: bool):
        import uuid

        self.db = options["database"]
        self.table = _sql_ident(options["table"])
        # per-job token scopes the staging dir: two concurrent jobs
        # writing the same table never see each other's staged files,
        # and each commit/abort sweeps only its own dir (the same
        # isolation _RestWriter's job_token provides)
        self.job_token = uuid.uuid4().hex[:12]
        base = options.get(
            "staging_dir", os.path.join(os.path.dirname(self.db),
                                        f"_staging_{self.table}"))
        self.staging_dir = os.path.join(base, self.job_token)
        self.schema_ = schema
        self.overwrite = overwrite

    def write(self, iterator) -> _SqlCommit:
        # DataSourceArrowWriter: batches arrive as Arrow RecordBatches
        # (guide §4 — the pickled-Row path converted every value
        # JVM→Row→python object→pa.array; Arrow skips all three)
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark import TaskContext
        from pyspark.sql.pandas.types import to_arrow_schema

        ctx = TaskContext.get()
        task = ctx.partitionId() if ctx else 0
        # attempt id keeps SPECULATIVE/retried attempts of the same
        # partition from clobbering each other mid-write; only the
        # winner's commit message is published
        attempt = ctx.taskAttemptId() if ctx else 0
        os.makedirs(self.staging_dir, exist_ok=True)
        arrow_schema = to_arrow_schema(self.schema_)
        tbl = _batches_to_table(iterator, arrow_schema)
        fpath = os.path.join(self.staging_dir,
                             f"task-{task:05d}-{attempt}.parquet")
        pq.write_table(tbl, fpath)
        return _SqlCommit([fpath], tbl.num_rows)

    def commit(self, messages) -> None:
        import shutil

        import duckdb

        files = [f for m in messages if m is not None for f in m.files]
        con = _duck_connect(self.db)
        try:
            con.execute("BEGIN")
            if files:
                flist = ", ".join(_sql_literal(f) for f in files)
                src = f"SELECT * FROM read_parquet([{flist}])"
            else:
                # typed NULLs keep the declared Spark schema on the
                # empty table (a bare NULL would let DuckDB infer its
                # own types) — _select_cast_list with an empty present
                # set IS that list
                src = (f"SELECT {_select_cast_list(self.schema_, set())}"
                       " WHERE FALSE")
            if self.overwrite:
                con.execute(
                    f"CREATE OR REPLACE TABLE {self.table} AS {src}")
            else:
                con.execute(
                    f"CREATE TABLE IF NOT EXISTS {self.table} AS "
                    f"{src} LIMIT 0")
                # explicit column list: a pre-existing table whose
                # physical column ORDER differs from the write schema
                # must bind by name, not position
                collist = ", ".join(_sql_ident(f.name)
                                    for f in self.schema_.fields)
                con.execute(
                    f"INSERT INTO {self.table} ({collist}) {src}")
            con.execute("COMMIT")
        finally:
            con.close()
        self._clean_staging()

    def abort(self, messages) -> None:
        self._clean_staging()

    def _clean_staging(self) -> None:
        """Remove ONLY this job's token-scoped staging dir; the shared
        base dir goes too once the last concurrent job empties it."""
        import shutil

        shutil.rmtree(self.staging_dir, ignore_errors=True)
        base = os.path.dirname(self.staging_dir)
        try:
            os.rmdir(base)  # only succeeds when empty
        except OSError:
            pass


class _RestStreamWriter(DataSourceStreamWriter):
    """Epoch-committed streaming sink — the FlushingExtractor /
    FsDataWriter publish loop (reference: FlushControlMessage.java:33,
    FsDataWriter.java:58) as a NATIVE V2 streaming writer: every
    micro-batch stages per-task files, and ``commit(messages,
    batchId)`` publishes them under ``epoch=<batchId>/`` with a
    ``_manifest.json`` row count — atomically per epoch, so a replayed
    batchId OVERWRITES its own epoch directory instead of doubling
    rows (the idempotence that makes checkpoint recovery exactly-once
    end-to-end). ``abort`` deletes the epoch's staging; no partial
    epoch is ever visible."""

    def __init__(self, options, schema: StructType):
        import uuid

        self.path = options["path"]
        self.schema_ = schema
        # per-QUERY token: the staging dir is shared, and an unscoped
        # sweep would delete a concurrent query's (or a zombie
        # predecessor's successor's) staged-but-uncommitted batch —
        # the same isolation _RestWriter's job_token provides
        self.query_token = uuid.uuid4().hex[:12]

    def write(self, iterator) -> _PageCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        task = ctx.partitionId() if ctx else 0
        staging = os.path.join(self.path, "_epoch_staging")
        os.makedirs(staging, exist_ok=True)
        names = [f.name for f in self.schema_.fields]
        rows = 0
        fname = os.path.join(
            staging,
            f"task-{self.query_token}-{task:05d}-{os.getpid()}.json")
        with open(fname, "w") as fh:
            for row in iterator:
                fh.write(json.dumps(dict(zip(names, row)), default=str) + "\n")
                rows += 1
        return _PageCommit([fname], rows)

    def commit(self, messages, batchId: int) -> None:
        import shutil

        epoch_dir = os.path.join(self.path, f"epoch={batchId}")
        # replayed epoch -> overwrite, never double
        if os.path.isdir(epoch_dir):
            shutil.rmtree(epoch_dir)
        os.makedirs(epoch_dir)
        total, n = 0, 0
        for m in messages:
            if m is None:
                continue
            for f in m.files:
                shutil.move(f, os.path.join(epoch_dir, os.path.basename(f)))
                n += 1
            total += m.rows
        with open(os.path.join(epoch_dir, "_manifest.json"), "w") as fh:
            json.dump({"epoch": batchId, "rows": total, "files": n}, fh)
        self._sweep_staging()

    def abort(self, messages, batchId: int) -> None:
        for m in messages or []:
            if m is None:
                continue
            for f in m.files:
                try:
                    os.remove(f)
                except OSError:
                    pass
        self._sweep_staging()

    def _sweep_staging(self) -> None:
        """Failed task attempts leave staged files NO commit message
        names — without a sweep they accumulate in _epoch_staging for
        the lifetime of the stream. Epochs are serialized per query,
        so at commit/abort time every remaining file is a dead
        attempt's leftover."""
        staging = os.path.join(self.path, "_epoch_staging")
        if not os.path.isdir(staging):
            return
        for f in os.listdir(staging):
            if not f.startswith(f"task-{self.query_token}-"):
                continue  # a concurrent query's staging survives
            try:
                os.remove(os.path.join(staging, f))
            except OSError:
                pass


class _SqlStreamReader(SimpleDataSourceStreamReader):
    """Streaming incremental pull from the SQL source — the
    QueryBasedSource low/high-watermark LOOP itself
    (QueryBasedSource.java's LWM/HWM extract planning), run by
    Structured Streaming: offset = {"wm": next_unread} on the
    monotonically increasing ``partition_column``; each poll pulls
    ``WHERE pc >= last AND pc < current_max + 1`` and advances. The
    checkpoint replaces Gobblin's state store as the watermark's
    durable home; replays re-read the same closed interval
    (readBetweenOffsets), so delivery is exactly-once into any
    idempotent sink."""

    def __init__(self, options, schema: StructType):
        self.db = options["database"]
        self.table = _sql_ident(options["table"])
        self.pc = _sql_ident(options["partition_column"])
        self.start = int(options.get("lower_bound", "0"))
        self.schema_ = schema

    def initialOffset(self) -> dict:
        return {"wm": self.start}

    def _pull(self, lo: int, hi: int) -> list:
        import duckdb

        cols = _select_cast_list(self.schema_)
        con = _duck_connect(self.db, read_only=True)
        try:
            return con.execute(
                f"SELECT {cols} FROM {self.table} "
                f"WHERE {self.pc} >= {int(lo)} AND {self.pc} < {int(hi)}"
            ).fetchall()
        finally:
            con.close()

    def read(self, start: dict):
        import duckdb

        con = _duck_connect(self.db, read_only=True)
        try:
            mx = con.execute(
                f"SELECT max({self.pc}) FROM {self.table}").fetchone()[0]
        finally:
            con.close()
        if mx is not None and (isinstance(mx, bool)
                               or not isinstance(mx, int)):
            # int(5.7)+1 = 6 would advance the watermark PAST the
            # still-growing 5.9 — rows in the truncated gap would be
            # skipped forever (audit r8); timestamps would crash
            raise NotImplementedError(
                "streaming pulls need an integer-typed "
                f"partition_column; {self.pc} yielded {type(mx).__name__}")
        hi = (mx + 1) if mx is not None else start["wm"]
        hi = max(hi, start["wm"])
        return iter(self._pull(start["wm"], hi)), {"wm": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._pull(start["wm"], end["wm"]))

    def commit(self, end: dict) -> None:
        pass  # the checkpoint is the durable watermark store


# ----------------------------------------------------------------------
# gobblin_iceberg: the table format behind Catalyst's OWN pushdown API.
#
# spark.read.format("gobblin_iceberg").option("path", loc) is a thin
# adapter over the sessionless IcebergTable(None, loc) in
# sinks.iceberg: metadata reads (torn-hint retry, stale-hint
# fast-forward, lost-hint recovery), snapshot/ref resolution, manifest
# decoding and scan pruning are IcebergTable's own — the same planner
# IcebergTable.read() uses, with no JVM, so it also runs in the
# Python worker that plans a DSv2 scan or commits a write. Every file
# touch is scheme-aware (bare/file: paths use plain local IO;
# s3:/hdfs:/gs: route through sinks.iceberg's pyarrow.fs helpers).
# pushFilters() feeds that planner (manifest field_summary skipping +
# per-file partition-tuple/bounds checks, through each file's OWN spec
# under partition evolution), partitions() emits ONE InputPartition per
# surviving data file (how a DSv2 scan parallelizes), and read() serves
# Arrow batches via pyarrow with identity partition values re-attached
# from the hive path. Filters are reported back to Spark unchanged —
# file pruning is a superset filter, exactly like parquet row-group
# skipping, so correctness never depends on it.
#
# Honest gate: tables carrying delete files raise (merge-on-read needs
# the anti-join machinery in IcebergTable.read, not a connector face).
# ----------------------------------------------------------------------


class _IcebergFilePartition(InputPartition):
    def __init__(self, path: str, attach: list[tuple],
                 col_ids: dict | None = None):
        self.path = path
        self.attach = attach  # [(col name, value)] identity re-attach
        # {current column name: iceberg field-id} — set iff the schema
        # history has renames/drops, where name-based resolution would
        # null-fill renamed columns from pre-rename files
        self.col_ids = col_ids


def _file_partitions(t, md: dict, sid: int | None,
                     entries: list[dict]) -> list[_IcebergFilePartition]:
    """Planned data-file entries → the read units both DSv2 readers
    serve, in the schema of snapshot *sid* (None: the current one).
    Identity-partition values come from each file's hive path through
    the file's OWN spec (the dir key can be ANY historical name of the
    column) and attach under the read schema's name — the target
    names the readers resolve, so a renamed partition column keyed by
    its write-time name would null-fill (audit r8)."""
    from gobblin_spark.sinks.iceberg import _parse_partition_value

    fields = t._ice_schema_for(sid, md)["fields"]
    names = {f["id"]: f["name"] for f in fields}
    col_ids = ({f["name"]: f["id"] for f in fields}
               if t._needs_id_resolution(md) else None)
    hist_names: dict[int, set] = {}
    for s_ in md["schemas"]:
        for f_ in s_["fields"]:
            hist_names.setdefault(f_["id"], set()).add(f_["name"])
    idents: dict[int, list] = {}
    parts = []
    for e in entries:
        sp = e["spec_id"]
        if sp not in idents:
            idents[sp] = [si for si in t._spec_info(md, sp)
                          if si["transform"] == "identity"]
        path = e["info"].path
        segs = dict(seg.split("=", 1)
                    for seg in path.rsplit("/data/", 1)[-1].split("/")
                    if "=" in seg)
        attach = []
        for si in idents[sp]:
            key = next((n for n in hist_names[si["source_id"]]
                        if n in segs), None)
            if key is not None:
                attach.append((
                    names.get(si["source_id"], si["source_name"]),
                    _parse_partition_value(segs[key], si["source_type"])))
        parts.append(_IcebergFilePartition(path, attach, col_ids))
    return parts


def _file_batches(part: _IcebergFilePartition, target) -> Iterator:
    """One planned data file as Arrow batches in the *target* schema —
    the per-file projection both readers share. Each column is read
    under the name the FILE stores it as: without rename/drop history
    (``col_ids`` None) names map to themselves; with one, through the
    parquet ``PARQUET:field_id`` metadata — files written before a
    rename store the old name, and reading the current name would
    silently null-fill (ADVICE r7). Files lacking embedded ids fail
    honestly, same contract as IcebergTable.read. Identity partition
    columns take the planned attach value; columns the file predates
    null-fill."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gobblin_spark.sinks.iceberg import (IcebergTable,
                                             _open_input_file_any)

    path = part.path
    pf = pq.ParquetFile(
        IcebergTable._local(path) if IcebergTable._sessionless_is_local(path)
        else _open_input_file_any(path))
    file_cols = pf.schema_arrow.names
    if part.col_ids is None:
        stored = {n: n for n in file_cols}
    else:
        by_id = {}
        for fld in pf.schema_arrow:
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None:
                by_id[int(fid)] = fld.name
        if not by_id:
            raise RuntimeError(
                f"table history has renames/drops but {path} embeds no "
                "parquet field ids — rewrite_data_files() first, or read "
                "via IcebergTable.read")
        stored = {name: by_id[fid] for name, fid in part.col_ids.items()
                  if fid in by_id}
    attach = dict(part.attach)
    for batch in pf.iter_batches(batch_size=65536):
        yield pa.RecordBatch.from_arrays([
            batch.column(stored[f.name]).cast(f.type)
            if stored.get(f.name) in file_cols
            else pa.array([attach.get(f.name)] * batch.num_rows, type=f.type)
            for f in target], schema=target)


def _read_snapshot(t, md: dict, options) -> int | None:
    """The snapshot the ``snapshot_id`` / ``ref`` options select —
    the one resolution both the schema and the scan plan from."""
    return t._snapshot_id(md, (int(options["snapshot_id"])
                               if "snapshot_id" in options else None),
                          options.get("ref"))


class _IcebergReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.options = options
        self.schema_ = schema
        self.prune: list[tuple] = []  # (col, op, value) source space

    def pushFilters(self, filters: list[Filter]):
        ops = {EqualTo: "=", GreaterThan: ">", GreaterThanOrEqual: ">=",
               LessThan: "<", LessThanOrEqual: "<="}
        for f in filters:
            op = next((o for t, o in ops.items() if isinstance(f, t)),
                      None)
            attr = getattr(f, "attribute", None)
            if op and attr and len(attr) == 1:
                self.prune.append((attr[0], op, f.value))
        # every filter goes back to Spark: pruning is a SUPERSET
        # optimization (parquet row-group-skipping semantics), never
        # the thing correctness rests on
        return list(filters)

    def _plan(self):
        from gobblin_spark.sinks.iceberg import IcebergTable

        t = IcebergTable(None, self.options["path"])
        md = t.metadata()
        sid = _read_snapshot(t, md, self.options)
        by_name = {f["name"]: f
                   for f in t._ice_schema_for(sid, md)["fields"]}
        preds = [(by_name[c], op, v) for c, op, v in self.prune
                 if c in by_name]
        entries = t._entries(
            sid, [(f["id"], op, v) for f, op, v in preds] or None, md)
        if any(e["content"] != 0 for e in entries):
            raise NotImplementedError(
                "table has delete files — use IcebergTable.read "
                "(merge-on-read) instead of the connector face")
        return _file_partitions(t, md, sid,
                                t._prune_entries(md, entries, preds))

    def partitions(self):
        try:
            parts = self._plan()
        except NotImplementedError as e:
            # pyspark interprets NotImplementedError out of
            # partitions() as "reader is unpartitioned" and silently
            # falls back to read(None) — the delete-file gate must
            # FAIL the scan, not degrade it
            raise RuntimeError(str(e)) from e
        # an empty scan still needs one partition (API contract)
        return parts or [_IcebergFilePartition("", [])]

    def read(self, partition: _IcebergFilePartition):
        if partition is None or not partition.path:
            return
        from pyspark.sql.pandas.types import to_arrow_schema

        yield from _file_batches(partition, to_arrow_schema(self.schema_))


class GobblinIcebergDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "gobblin_iceberg"

    def schema(self):
        """The schema of the snapshot the options select: a time-travel
        read answers under that snapshot's column names, as
        ``IcebergTable.read(snapshot_id=)`` does."""
        from gobblin_spark.sinks.iceberg import IcebergTable

        t = IcebergTable(None, self.options["path"])
        md = t.metadata()
        return StructType([
            StructField(f.name, f.dataType)
            for f in t._schema_for(_read_snapshot(t, md, self.options), md)])

    def reader(self, schema: StructType) -> _IcebergReader:
        return _IcebergReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        if overwrite:
            raise NotImplementedError(
                "append-only: Iceberg overwrite semantics are replace "
                "snapshots (rewrite_data_files), not dir truncation")
        return _IcebergWriter(self.options, schema)

    def simpleStreamReader(self, schema: StructType):
        return _IcebergStreamReader(self.options, schema)

    def streamWriter(self, schema: StructType, overwrite: bool):
        if overwrite:
            raise NotImplementedError("append-only streaming sink")
        return _IcebergStreamWriter(self.options, schema)


_IcebergCommit = _TaskFilesCommit


class _IcebergWriteFace:
    """What the batch and streaming write faces share. Each task
    writes its partition as one parquet file DIRECTLY under
    ``data/<sub>/`` — in the table format, files are invisible until a
    manifest references them, so there is no rename step: the
    driver-side commit turns the file set into ONE append snapshot via
    the normal manifest chain (in a SESSIONLESS python worker — no
    JVM — through IcebergTable's local-IO mode with its
    create-fails-if-exists guard), and abort deletes the
    never-referenced files (anything missed is orphan-collectable by
    remove_orphan_files). Unpartitioned tables only — partitioned
    layouts need the transform columns of append_dataframe. Files
    written here carry no parquet field-id metadata; rename/drop
    evolution on such files requires a rewrite_data_files first (same
    contract as pre-field-id data)."""

    def __init__(self, options, schema: StructType):
        from gobblin_spark.sinks.iceberg import IcebergTable

        self.location = options["path"]
        self.schema_ = schema
        t = IcebergTable(None, self.location)
        md = t.metadata()  # validates the table exists
        if t._spec_fields_def(md):
            raise NotImplementedError(
                "gobblin_iceberg writes support unpartitioned tables; "
                "partitioned layouts go through append_dataframe "
                "(foreachBatch + append_dataframe for streams)")
        # the frame's columns must be a subset of the TABLE schema:
        # unknown columns would land in files and silently vanish on
        # read (the scan schema drops them); missing table columns
        # are fine — reads null-fill, same as add-column evolution
        table_cols = {f["name"]
                      for f in t._ice_schema_for(None, md)["fields"]}
        unknown = [f.name for f in schema.fields
                   if f.name not in table_cols]
        if unknown:
            raise ValueError(
                f"columns {unknown} are not in the table schema — "
                "add_column first, or drop them before writing")

    def _write_task(self, iterator, sub: str,
                    suffix: str = "") -> _IcebergCommit:
        # Arrow batches straight through — no pickled-Row detour
        # (guide §4)
        from pyspark import TaskContext
        from pyspark.sql.pandas.types import to_arrow_schema

        from gobblin_spark.sinks.iceberg import (IcebergTable,
                                                 _write_parquet_any)

        ctx = TaskContext.get()
        task = ctx.partitionId() if ctx else 0
        attempt = ctx.taskAttemptId() if ctx else 0
        tbl = _batches_to_table(iterator, to_arrow_schema(self.schema_))
        if tbl.num_rows == 0:
            return _IcebergCommit([], 0)
        # attempt-unique name: a speculative twin never clobbers
        fname = f"task-{task:05d}-{attempt}{suffix}.parquet"
        if IcebergTable._sessionless_is_local(self.location):
            path = os.path.join(IcebergTable._local(self.location),
                                "data", sub, fname)
        else:
            # remote table (s3:/hdfs:/gs:): object stores need no
            # mkdir, pyarrow.fs streams the file straight to the store
            path = f"{self.location.rstrip('/')}/data/{sub}/{fname}"
        _write_parquet_any(tbl, path)
        return _IcebergCommit([path], tbl.num_rows)

    def _append(self, t, md: dict, messages,
                summary_extra: dict | None = None) -> None:
        """The tasks' files as ONE append snapshot: record counts and
        column bounds from each footer."""
        import pyarrow.parquet as pq

        from gobblin_spark.sinks import iceberg as I

        name_to_field = {f["name"]: f
                         for f in t._ice_schema_for(None, md)["fields"]}
        files = []
        for m in messages or []:
            for fpath in getattr(m, "files", []) or []:
                fmd = pq.ParquetFile(I._open_input_file_any(fpath)).metadata
                if fmd.num_rows == 0:
                    continue
                lo, hi = I._collect_bounds(fmd, name_to_field)
                files.append(I.DataFileInfo(
                    "file:" + os.path.abspath(fpath)
                    if I._is_plain_local(fpath) else fpath,
                    I._file_size_any(fpath), fmd.num_rows,
                    lower_bounds=lo, upper_bounds=hi))
        if files:
            t.append_files(files, summary_extra=summary_extra)

    @staticmethod
    def _delete_staged(messages) -> None:
        from gobblin_spark.sinks.iceberg import _delete_any

        for m in messages or []:
            for f in getattr(m, "files", []) or []:
                try:
                    _delete_any(f)
                except OSError:
                    pass


class _IcebergWriter(_IcebergWriteFace, DataSourceArrowWriter):
    """Batch write face: COMMIT_ON_FULL_SUCCESS — the driver-side
    ``commit()`` runs only after every task succeeded."""

    def __init__(self, options, schema: StructType):
        import uuid

        super().__init__(options, schema)
        self.job_token = uuid.uuid4().hex[:12]

    def write(self, iterator) -> _IcebergCommit:
        return self._write_task(iterator, f"dsv2-{self.job_token}")

    def commit(self, messages):
        from gobblin_spark.sinks.iceberg import IcebergTable

        t = IcebergTable(None, self.location)
        self._append(t, t.metadata(), messages)

    def abort(self, messages):
        self._delete_staged(messages)


class _IcebergStreamReader(SimpleDataSourceStreamReader):
    """INCREMENTAL snapshot consumption — Iceberg's streaming-read
    contract: the offset is the table's last-sequence-number, and each
    micro-batch carries exactly the rows of data files whose
    ``sequence_number`` landed in (start, end]. Append snapshots carry
    prior manifests forward, so the CURRENT manifest list names every
    historical data file with its original commit sequence — replay
    (``readBetweenOffsets``) is pure metadata. A delete commit in the
    window raises: a streamed row can't be retracted. Batches route via
    the driver (SimpleDataSourceStreamReader by design); throughput
    feeds would use per-partition planning like the batch reader."""

    def __init__(self, options, schema: StructType):
        self.location = options["path"]
        self.schema_ = schema
        self.from_start = (options.get("starting", "earliest")
                           == "earliest")
        # overwrite contract (r12, verdict-r11 #3): an append-only
        # stream CANNOT retract, so an overwrite in the window FAILS
        # by default — silent insert-only consumption would feed
        # downstream state rows the table no longer holds. Users who
        # accept that (idempotent sinks, dedup downstream) opt in
        # with .option("overwrites", "insert-only"): the overwrite
        # splits eras like a replace and its ADDED files emit as
        # inserts; its removed rows are NEVER retracted (documented).
        ow = options.get("overwrites", "fail")
        if ow not in ("fail", "insert-only"):
            raise ValueError(
                f"overwrites option must be 'fail' or 'insert-only', "
                f"got {ow!r}")
        self.overwrites_insert_only = ow == "insert-only"

    def _main_seq(self) -> int:
        """Highest sequence-number reachable from MAIN's head —
        branch commits bump the table-global last-sequence-number but
        are not main's rows: a stream offset must never advance past
        (or plan from) staged, unaudited write-audit-publish data.
        After fast_forward publishes a branch, its snapshots join
        main's ancestry and the window picks them up then."""
        from gobblin_spark.sinks.iceberg import IcebergTable

        md = IcebergTable(None, self.location).metadata()
        return max((s.get("sequence-number", 0)
                    for s in IcebergTable._main_ancestry(md)),
                   default=0)

    def initialOffset(self) -> dict:
        if self.from_start:
            return {"seq": 0}
        return {"seq": self._main_seq()}

    def _plan_window(self, lo: int, hi: int) -> list[_IcebergFilePartition]:
        from gobblin_spark.sinks import iceberg as I

        t = I.IcebergTable(None, self.location)
        md = t.metadata()
        if md["current-snapshot-id"] == -1:
            return []
        # the same window walker as changelog(), over MAIN's ancestry
        # only: a branch head can carry staged unaudited data. A
        # REPLACE re-sequences existing rows, so it emits nothing (the
        # walker skips it; Iceberg's own streaming read fails on it);
        # an append emits its added files, each exactly once
        ok = ("append", None) + (("overwrite",)
                                 if self.overwrites_insert_only else ())
        window = []
        for c in t._window_commits(md, I.IcebergTable._main_ancestry(md),
                                   lo, hi, "stream window"):
            if c.op not in ok:
                raise NotImplementedError(
                    f"non-append snapshot (operation={c.op!r}) in the "
                    "stream window"
                    + (" — an append-only stream cannot retract an "
                       "overwrite's removed rows; opt into insert-"
                       "only consumption with .option('overwrites', "
                       "'insert-only')" if c.op == "overwrite" else ""))
            if any(e["content"] for e in c.added):
                raise NotImplementedError(
                    "streaming read over delete-carrying tables")
            window += c.added
        parts = {p.path: p for p in _file_partitions(t, md, None, window)}
        return [parts[p] for p in sorted(parts)]

    def _rows(self, lo: int, hi: int) -> Iterator[Tuple]:
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema_)
        for part in self._plan_window(lo, hi):
            for batch in _file_batches(part, target):
                yield from zip(*(c.to_pylist() for c in batch.columns))

    def read(self, start: dict) -> tuple[Iterator[Tuple], dict]:
        hi = max(self._main_seq(), start["seq"])
        return iter(list(self._rows(start["seq"], hi))), {"seq": hi}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        return iter(list(self._rows(start["seq"], end["seq"])))

    def commit(self, end: dict) -> None:
        pass  # snapshots are immutable; the checkpoint owns progress


class _IcebergStreamWriter(_IcebergWriteFace, DataSourceStreamArrowWriter):
    """NATIVE exactly-once streaming sink for the table format:
    ``writeStream.format("gobblin_iceberg")``. Each micro-batch's
    tasks write parquet files directly under data/ (invisible until
    referenced), and ``commit(messages, batchId)`` lands them as ONE
    append snapshot whose summary carries ``stream-epoch-<batchId>``
    in the SAME metadata commit — a replayed batchId finds its token
    and commits NOTHING, making checkpoint recovery exactly-once
    without the foreachBatch boilerplate (this is
    append_dataframe_idempotent's contract surfaced through the
    engine's own streaming API). ``abort`` deletes the batch's
    never-referenced files."""

    def write(self, iterator) -> _IcebergCommit:
        import uuid

        return self._write_task(iterator, "dsv2stream",
                                f"-{uuid.uuid4().hex[:8]}")

    def commit(self, messages, batchId: int) -> None:
        from gobblin_spark.sinks.iceberg import IcebergTable

        t = IcebergTable(None, self.location)
        token = f"stream-epoch-{batchId}"
        md = t.metadata()
        for s in md.get("snapshots", []):
            if s.get("summary", {}).get("epoch-token") == token:
                return  # replayed epoch: exactly-once no-op
        self._append(t, md, messages, summary_extra={"epoch-token": token})

    def abort(self, messages, batchId: int) -> None:
        self._delete_staged(messages)
