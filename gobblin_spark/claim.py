"""Atomic claim and replace: the one rule for writing a versioned file
so that exactly one writer wins and no reader sees a torn file.

Every ledger goes through here: watermark entries, commit-sequence
journals, schema-registry versions, Iceberg metadata versions, the
streaming query-id file and DAG checkpoints. The rule is the offset
log's of Structured Streaming (SIGMOD 2018): write the whole payload
to a hidden temp sibling, then publish it in one atomic step.

What :func:`claim` guarantees, per filesystem:

- **Local disk** (see :func:`is_local`): the temp is hard-linked onto
  the target. link(2) fails with EEXIST when any writer got there
  first, so there is exactly one winner and the target is complete or
  absent, whenever the writer dies. Hadoop ``create(path,
  overwrite=false)`` is no claim here: ``RawLocalFileSystem`` checks
  ``exists()`` and then opens, so two racers can both "win". Where
  link(2) is unsupported (object-store FUSE mounts, some network
  filesystems) the target is created with O_EXCL and written in place:
  still one winner, but a writer killed mid-write leaves a torn
  target, so readers keep skipping entries that do not parse.
- **HDFS**: the temp is renamed onto the target. The namenode refuses
  a rename onto an existing file: one winner, complete or absent.
- **Object stores** (s3a:, gs:, ...): rename is a copy behind an
  existence probe, so the claim is HEAD-then-PUT, as Hadoop
  ``create(overwrite=false)`` is there: complete or absent (a PUT is
  atomic), but two racers inside one probe window can both win.

Temp siblings are dot-prefixed, so ledger listings and Hadoop's and
Spark's hidden-file filters skip them. One outlives its write only
when the writer is killed before removing it.
"""

from __future__ import annotations

import contextlib
import os
import uuid


def is_local(path: str, conf=None) -> bool:
    """Whether *path* names a file on the driver's local disk.
    ``file:`` paths always do and paths with another scheme never do.
    A bare path does unless *conf*, the Hadoop Configuration it
    resolves through, names a non-local ``fs.defaultFS``; with no
    configuration (no JVM) bare paths are local."""
    if path.startswith("file:"):
        return True
    if "://" in path:
        return False
    return (conf is None
            or conf.get("fs.defaultFS", "file:///").startswith("file:"))


def os_path(path: str) -> str:
    """The OS path of a local *path* (``file:`` prefix dropped)."""
    return path[len("file:"):] if path.startswith("file:") else path


def claim(path: str, data: bytes, fs=None) -> bool:
    """Publish *data* at *path* unless the path already exists: True
    when this call wrote it, False when it was there first.

    *fs* is the Hadoop FileSystem *path* resolves through; the temp is
    written with it, so its faults and crash points are the caller's.
    Without one, *path* must be local and plain file IO writes it.
    Faults propagate, and a fault before the publish leaves neither
    the target nor the temp behind."""
    if fs is None:
        path = os_path(path)
    tmp = _temp(path)
    _write(tmp, data, fs)
    try:
        if fs is not None and not is_local(path, fs.getConf()):
            return _rename(fs, tmp, path)
        return _link(os_path(tmp), os_path(path), data)
    finally:
        _remove(tmp, fs)


def replace(path: str, data: bytes) -> None:
    """Overwrite the local *path* with *data*: readers see the old
    file or the new one, never a partial write."""
    path = os_path(path)
    tmp = _temp(path)
    _write(tmp, data, None)
    try:
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(OSError):
            _remove(tmp, None)
        raise


def links(path: str) -> bool:
    """Whether link(2) works beside the existing local file *path*.
    Where it does not, claims there take the O_EXCL fallback, so an
    unparseable file at *path* may be a live writer mid-write rather
    than a dead one's leftover."""
    probe = _temp(path)
    linked = _link_or_none(path, probe)
    if linked:
        _remove(probe, None)
    return linked is not None


def _temp(path: str) -> str:
    head, sep, name = path.rpartition("/")
    return f"{head}{sep}.{name}.{uuid.uuid4().hex[:12]}.tmp"


def _hpath(path: str):
    from pyspark import SparkContext

    return SparkContext._jvm.org.apache.hadoop.fs.Path(path)


def _remove(tmp: str, fs) -> None:
    if fs is not None:
        fs.delete(_hpath(tmp), False)
        return
    with contextlib.suppress(FileNotFoundError):
        os.remove(tmp)


def _write(tmp: str, data: bytes, fs) -> None:
    """Write *data* to the fresh temp *tmp*; a failed write removes it."""
    if fs is None:
        os.makedirs(os.path.dirname(tmp) or ".", exist_ok=True)
        out = open(tmp, "wb")
    else:
        out = fs.create(_hpath(tmp), False)
    try:
        try:
            out.write(bytearray(data))
        finally:
            out.close()
    except BaseException:
        with contextlib.suppress(Exception):
            _remove(tmp, fs)
        raise


def _link_or_none(src: str, dst: str) -> bool | None:
    """link(2) *src* onto *dst*: True when linked, False when *dst*
    exists, None where the filesystem has no link(2)."""
    try:
        os.link(src, dst)
        return True
    except FileExistsError:
        return False
    except OSError:
        return None


def _link(tmp: str, target: str, data: bytes) -> bool:
    linked = _link_or_none(tmp, target)
    if linked is not None:
        return linked
    try:
        fh = open(target, "xb")
    except FileExistsError:
        return False
    try:
        with fh:
            fh.write(data)
    except BaseException:
        with contextlib.suppress(OSError):
            os.remove(target)   # our own torn target, not a rival's
        raise
    return True


def _rename(fs, tmp: str, path: str) -> bool:
    """Rename the temp onto *path*. A rename that fails, by returning
    false or raising, is a collision only when *path* exists."""
    dst = _hpath(path)
    try:
        if fs.rename(_hpath(tmp), dst):
            return True
    except Exception:
        if fs.exists(dst):
            return False
        raise
    if fs.exists(dst):
        return False
    raise OSError(f"rename of {tmp} onto {path} failed")
