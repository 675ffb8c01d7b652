"""Iceberg table metadata, written directly from the public Table Spec
(https://iceberg.apache.org/spec/, format-version 2) — the
IcebergMetadataWriter analog runnable without the iceberg runtime jar.

Reference mapping:
- IcebergMetadataWriter (gobblin-iceberg/.../writer/
  IcebergMetadataWriter.java:141,578): buffer data-file appends per
  table, commit them as an APPEND snapshot, expire old snapshots.
- Layout follows HadoopTables: ``<loc>/metadata/vN.metadata.json`` +
  ``version-hint.text`` pointer, manifest list + manifest files as
  Avro object containers (operators/avro_container.py), data files
  under ``<loc>/data/``.

What is implemented: table create (schema + identity partition spec),
append commits (one snapshot per commit, sequence numbers, snapshot
log), manifest list/manifest files with the spec's field names and
field-ids, snapshot expiration, time-travel reads, ADD-COLUMN schema
evolution (spec "Schema Evolution": new field-id, old data files
null-fill on read via an explicit read schema), v2 EQUALITY DELETES
(spec "Equality Delete Files": content=2 delete files carrying the
equality field-ids; a delete applies to rows in data files whose
sequence number is STRICTLY LOWER, so re-inserted rows survive), and
POSITION DELETES (spec "Position Delete Files": content=1 files of
(file_path, pos) addressed via Spark's ``_metadata.file_path`` /
``_metadata.row_index`` parquet columns, applied to data files with
sequence number <= the delete's), and a Spark-side ``read()`` that
resolves snapshot → manifest list → manifests → parquet paths and
applies pending deletes of both flavors as broadcast anti-joins with
the spec's sequence-number guards, and RENAME / DROP column evolution
backed by real parquet FIELD-IDS: data (and equality-delete) files
embed each column's Iceberg field-id via Spark's
``spark.sql.parquet.fieldId.write.enabled`` path, and reads resolve
columns by id (``...fieldId.read.enabled``), so renamed columns read
correctly from pre-rename files and a dropped-then-re-added name
(fresh id) can never resurrect old data.

Round-7 additions: PARTITION TRANSFORMS (bucket[N] with the spec's
murmur3_x86_32 over Appendix-B serialization — Appendix-B test
vectors pinned — truncate[W], and the temporal year/month/day/hour
epoch ordinals; inclusive-projection pruning through all of them),
PARTITION EVOLUTION (update_partition_spec: per-manifest spec-ids,
per-file-spec scan planning and identity re-attachment), METADATA
TABLES (inspect: snapshots/history/files/partitions/refs),
REFERENCES (branches/tags, ref-aware expiry, fast_forward publish —
the write-audit-publish pattern), EXACTLY-ONCE streaming epochs
(append_dataframe_idempotent: the epoch token rides the snapshot
summary in the same metadata commit), true COMPARE-AND-SWAP commits
(metadata() stamps the read version; commits target base+1 with
a single-winner claim, retried with a full re-plan on collision),
and a SESSIONLESS mode (spark=None: no JVM; plain-file IO for local
paths, pyarrow.fs for remote schemes) — the only metadata reader and
scan planner the gobblin_iceberg DSv2 faces in sources/datasource.py
use: they read, plan, stream and commit through it.

Catalog integration is out of scope — with the iceberg-spark-runtime
jar on the classpath use the real catalog instead
(sinks/hive.register_iceberg documents that path). Metadata here is
O(files) driver-side work, exactly like the reference's writer."""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass
from functools import cache, reduce
from itertools import count
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, types as T

from gobblin_spark import claim as _claim
from gobblin_spark.operators import avro_container as ACF
from gobblin_spark.session import local_rows_df

_SPARK_TO_ICEBERG = {
    T.BooleanType(): "boolean",
    T.IntegerType(): "int",
    T.LongType(): "long",
    T.FloatType(): "float",
    T.DoubleType(): "double",
    T.StringType(): "string",
    T.BinaryType(): "binary",
    T.DateType(): "date",
    T.TimestampType(): "timestamptz",
    T.TimestampNTZType(): "timestamp",
}

_ICEBERG_TO_SPARK = {v: k for k, v in _SPARK_TO_ICEBERG.items()}


def _spark_struct(ice_schema: dict) -> T.StructType:
    """Iceberg struct schema → Catalyst StructType (primitives +
    decimal, the same subset _iceberg_schema writes).

    Every field carries ``parquet.field.id`` metadata = its Iceberg
    field-id. Spark's parquet writer embeds those ids in the files
    (``spark.sql.parquet.fieldId.write.enabled``, default on) and the
    reader resolves columns BY ID when the requested schema has them
    (``spark.sql.parquet.fieldId.read.enabled`` — we enable it per
    table). That id-based resolution is exactly the spec's column
    projection rule and is what makes RENAME and DROP evolution safe:
    a renamed column still reads from old files via its unchanged id,
    and a dropped-then-re-added name gets a fresh id so old data can
    never leak in by name."""
    fields = []
    for f in ice_schema["fields"]:
        t = f["type"]
        if t in _ICEBERG_TO_SPARK:
            dt = _ICEBERG_TO_SPARK[t]
        elif isinstance(t, str) and t.startswith("decimal"):
            p, s = t[t.index("(") + 1:t.index(")")].split(",")
            dt = T.DecimalType(int(p), int(s))
        else:
            raise TypeError(f"unsupported iceberg type {t}")
        fields.append(T.StructField(f["name"], dt, not f["required"],
                                    metadata={"parquet.field.id": f["id"]}))
    return T.StructType(fields)


def _conform_with_ids(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project *df* onto *schema* (cast + reorder, null-fill missing
    columns) attaching each column's ``parquet.field.id`` via
    ``alias(metadata=...)`` — the ONE attachment route Spark's parquet
    writer actually honors (``DataFrame.to`` shows the metadata on
    ``df.schema`` but the ids never reach the written files; verified
    against pyarrow footers)."""
    from pyspark.sql import functions as F

    cols = []
    for f in schema.fields:
        src = (F.col(f.name) if f.name in df.columns
               else F.lit(None))
        cols.append(src.cast(f.dataType).alias(
            f.name, metadata=dict(f.metadata)))
    return df.select(*cols)


# Avro schemas for the manifest list and manifest entries, with the
# spec's field names and field-ids (Appendix: Avro manifest schemas).
_MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        # spec field 507: per-partition-field summaries (field_summary
        # r508) — scan planning skips WHOLE MANIFESTS whose summary
        # excludes a predicate before opening them. At 100 TB a table
        # holds thousands of manifests; file-level pruning alone still
        # reads every manifest file. Bounds use Appendix-D
        # serialization; STRING bounds are safe here (unlike parquet
        # column stats they come exact from the partition tuples —
        # nothing is truncated).
        {"name": "partitions", "field-id": 507,
         "type": ["null", {"type": "array", "element-id": 508, "items": {
             "type": "record", "name": "r508", "fields": [
                 {"name": "contains_null", "type": "boolean",
                  "field-id": 509},
                 {"name": "contains_nan", "type": ["null", "boolean"],
                  "field-id": 518, "default": None},
                 {"name": "lower_bound", "type": ["null", "bytes"],
                  "field-id": 510, "default": None},
                 {"name": "upper_bound", "type": ["null", "bytes"],
                  "field-id": 511, "default": None},
             ]}}],
         "default": None},
    ],
}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"], "field-id": 4},
        {"name": "data_file", "field-id": 2, "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int", "field-id": 134},
                {"name": "file_path", "type": "string", "field-id": 100},
                {"name": "file_format", "type": "string", "field-id": 101},
                {"name": "record_count", "type": "long", "field-id": 103},
                {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                # equality field-ids (spec field 135/136); null for
                # content=0 data files
                {"name": "equality_ids", "field-id": 135,
                 "type": ["null", {"type": "array", "items": "int",
                                   "element-id": 136}],
                 "default": None},
                # spec maps field 125/128 (map<int,binary>) are the
                # k/v-record arrays of the spec's Avro appendix
                {"name": "lower_bounds", "field-id": 125,
                 "type": ["null", {"type": "array", "items": {
                     "type": "record", "name": "k126_v127", "fields": [
                         {"name": "key", "type": "int", "field-id": 126},
                         {"name": "value", "type": "bytes",
                          "field-id": 127}]}}],
                 "default": None},
                {"name": "upper_bounds", "field-id": 128,
                 "type": ["null", {"type": "array", "items": {
                     "type": "record", "name": "k129_v130", "fields": [
                         {"name": "key", "type": "int", "field-id": 129},
                         {"name": "value", "type": "bytes",
                          "field-id": 130}]}}],
                 "default": None},
                # spec field 102: the per-spec TYPED r102 record.
                # This STATIC schema keeps the legacy ["null","string"]
                # JSON form (manifests written before round 6, and the
                # read-compat branch in _entries); partitioned tables
                # write with _manifest_entry_schema(), which swaps this
                # field for the real r102 record built from the
                # table's partition spec — interoperable with generic
                # Avro readers and spec-conformant field-ids.
                {"name": "partition", "field-id": 102,
                 "type": ["null", "string"], "default": None},
            ]}},
    ],
}


# identity-partition source type → the Avro type its r102 field uses
_AVRO_BY_ICE = {
    "int": "int", "long": "long", "float": "float", "double": "double",
    "boolean": "boolean", "string": "string",
    "date": {"type": "int", "logicalType": "date"},
}


def _bounds_to_avro(b: dict | None):
    if not b:
        return None
    return [{"key": int(k), "value": v} for k, v in sorted(b.items())]


def _bounds_from_avro(rows):
    if not rows:
        return None
    return {r["key"]: r["value"] for r in rows}


def _logical_to_ice(value, ice_type: str):
    """Parquet-footer logical value → the integer/float the spec's
    single-value serialization stores (micros / epoch-days)."""
    import datetime as _dt

    if value is None:
        return None
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(value, _dt.datetime):
            # tz-aware values convert to UTC BEFORE the tz is dropped;
            # a bare replace(tzinfo=None) would shift the instant by
            # the offset and wrongly prune files near the boundary
            if value.tzinfo is not None:
                value = value.astimezone(_dt.timezone.utc)
            base = value.replace(tzinfo=None)
            return (base - _dt.datetime(1970, 1, 1)) \
                // _dt.timedelta(microseconds=1)
        return int(value)
    if ice_type == "date":
        if isinstance(value, _dt.date):
            return (value - _dt.date(1970, 1, 1)).days
        return int(value)
    return value


def _collect_bounds(md, name_to_field: dict) -> tuple:
    """(lower_bounds, upper_bounds) for one parquet file from its
    already-open footer metadata (no second file open — the same
    FileMetaData the record count comes from). Only columns whose
    type has an exact single-value serialization contribute (strings
    may be truncated in footers and are skipped — bounds are optional
    per column, omitting is always safe)."""
    mins: dict[int, object] = {}
    maxs: dict[int, object] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            f = name_to_field.get(col.path_in_schema)
            if f is None:
                continue
            stats = col.statistics
            if stats is None or not stats.has_min_max:
                continue
            lo = _logical_to_ice(stats.min, f["type"])
            hi = _logical_to_ice(stats.max, f["type"])
            if lo is None or hi is None:
                continue
            fid = f["id"]
            mins[fid] = lo if fid not in mins else min(mins[fid], lo)
            maxs[fid] = hi if fid not in maxs else max(maxs[fid], hi)
    lower = {}
    upper = {}
    by_id = {f["id"]: f for f in name_to_field.values()}
    for fid, v in mins.items():
        raw = _sv_ser(v, by_id[fid]["type"])
        if raw is not None:
            lower[fid] = raw
    for fid, v in maxs.items():
        raw = _sv_ser(v, by_id[fid]["type"])
        if raw is not None:
            upper[fid] = raw
    return (lower or None, upper or None)


@dataclass
class DataFileInfo:
    path: str
    size_bytes: int
    record_count: int
    file_format: str = "PARQUET"
    # spec fields 125/128: per-column value bounds, {field-id: bytes}
    # (single-value serialization, Appendix D) — scan planning skips
    # whole files whose bounds exclude a predicate
    lower_bounds: dict | None = None
    upper_bounds: dict | None = None
    # spec field 102: the file's partition TUPLE under the table's
    # identity spec, keyed IN MEMORY by STRINGIFIED SOURCE FIELD-ID
    # (e.g. {"2": "eu"} — field-id keys are rename-proof where name
    # keys are not); None = unpartitioned. On disk the manifest stores
    # the spec's TYPED r102 record (since r6; _manifest_entry_schema
    # builds it per spec, spec field-ids 1000+) — pre-r6 manifests
    # holding the legacy JSON-string form still read (_entries
    # branches on the decoded type).
    partition: dict | None = None


def _parse_partition_value(raw: str, ice_type: str):
    """Typed value from a hive-style ``col=value`` dir segment
    (identity transform only)."""
    import datetime as _dt
    from urllib.parse import unquote

    raw = unquote(raw)
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if ice_type in ("int", "long"):
        return int(raw)
    if ice_type in ("float", "double"):
        return float(raw)
    if ice_type == "boolean":
        return raw.lower() == "true"
    if ice_type == "date":
        return _dt.date.fromisoformat(raw)
    return raw


# -- partition transforms (spec "Partition Transforms") ------------------
# bucket[N] hashes with murmur3_x86_32 (seed 0) over the spec's
# type-specific byte form (Appendix B: int/long/date as 8-byte
# little-endian, string as UTF-8), then (hash & Integer.MAX_VALUE) % N —
# byte-compatible with every Iceberg engine, verified against the
# spec's published test vectors (34 -> 2017239379, "iceberg" ->
# 1210000089, 2017-11-16 -> -653330422). Spark's built-in hash() is
# Murmur3 with seed 42 and DIFFERENT serialization — NOT compatible.

def _murmur3_32(data: bytes, seed: int = 0) -> int:
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h, n = seed, len(data)
    for i in range(0, n - (n % 4), 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k, tail = 0, data[n - (n % 4):]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if tail:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _iceberg_bucket(value, ice_type: str, n: int) -> int | None:
    """bucket[n] transform value (spec Appendix B)."""
    import datetime as _dt
    import struct as _struct

    if value is None:
        return None
    if ice_type in ("int", "long"):
        raw = _struct.pack("<q", int(value))
    elif ice_type == "date":
        if isinstance(value, str):
            value = _dt.date.fromisoformat(value)
        raw = _struct.pack("<q", (value - _dt.date(1970, 1, 1)).days)
    elif ice_type == "string":
        raw = str(value).encode("utf-8")
    else:
        raise TypeError(f"bucket transform on {ice_type} not supported")
    return (_murmur3_32(raw) & 0x7FFFFFFF) % n


def _bucket_int64_np(values, n: int):
    """Vectorized bucket[n] for the 8-byte little-endian int64
    serialization (spec Appendix B: int and long sources) — a numpy
    murmur3_x86_32 over exactly two 4-byte blocks, no tail. Matches
    ``_iceberg_bucket(v, 'long', n)`` bit-for-bit (pytest-pinned
    against the scalar path and the Appendix-B vector). This is the
    write-path hot loop for bucket-partitioned appends: at 100 TB the
    per-value Python ``s.map`` was the bottleneck; uint32 wraparound
    arithmetic over the whole Arrow batch is ~100x faster."""
    import numpy as np

    u = np.asarray(values).astype(np.int64).view(np.uint64)
    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
    h = np.zeros(len(u), dtype=np.uint32)
    for k in ((u & np.uint64(0xFFFFFFFF)).astype(np.uint32),
              (u >> np.uint64(32)).astype(np.uint32)):
        k = k * c1
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * c2
        h = h ^ k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = h * np.uint32(5) + np.uint32(0xE6546B64)
    h = h ^ np.uint32(8)  # total byte length
    h = h ^ (h >> np.uint32(16))
    h = h * np.uint32(0x85EBCA6B)
    h = h ^ (h >> np.uint32(13))
    h = h * np.uint32(0xC2B2AE35)
    h = h ^ (h >> np.uint32(16))
    return ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype(np.int64)


def _with_bucket_int64(df, src: str, out: str, n: int):
    """Attach bucket[n] of an int/long source column as a PURE JVM
    expression column — the same two-block murmur3_x86_32 as
    ``_bucket_int64_np``, but in codegen instead of an Arrow pandas
    UDF, so bucket-partitioned writes carry no Python boundary at all
    (guide §4.1: prefer built-ins; the ArrowEvalPython node disappears
    from the append plan and, at 100 TB, the per-batch
    JVM->Python->JVM transpose with it).

    Shape discipline: the hash is ONE ``selectExpr`` whose steps chain
    through lateral column aliases, each a shallow expression over the
    previous step's alias. A single closed-form Column would duplicate
    every reused subterm (no CSE at the Column layer) and explode the
    tree exponentially — measured 136 KB of plan text and ~0.6 s of
    fixed plan/codegen cost per query; the analyzer expands LCAs into
    nested Projects and CollapseProject keeps them linear (~2 KB)
    because it refuses to inline non-cheap producer expressions
    referenced twice. (An equivalent chain of 25 ``withColumn`` calls
    produces the same plan but pays ~0.15 s of py4j/analysis overhead
    per query — A/B'd; the single select matches the old pandas UDF's
    local wall while the per-row cost at 20M rows is 4.3x lower.)

    Overflow discipline: every intermediate lives in a NON-NEGATIVE
    long < 2^49 — 32-bit wraparound multiplies are split into 16-bit
    halves ((k*c_lo + ((k*c_hi mod 2^16) << 16)) mod 2^32), so the
    arithmetic is exact under both ANSI and legacy overflow modes.
    NULL propagates through the chain exactly like the UDF path's
    None. Bit-equality with ``_iceberg_bucket(v, 'long', n)`` is
    pytest-pinned over the spec vector, sign/extreme sweeps, and a
    random sample."""
    m32 = 0xFFFFFFFF
    p = f"__bkt_{out}_"  # collision-safe temp alias prefix

    def mul32(x, c):
        return (f"((({x}) * {c & 0xFFFF} + ((({x}) * {c >> 16}) & 65535)"
                f" * 65536) & {m32})")

    def rotl32(x, r):
        return (f"((shiftleft({x}, {r}) | shiftrightunsigned({x}, {32 - r}))"
                f" & {m32})")

    v = f"cast(`{src}` as long)"
    steps = [
        f"(({v}) & {m32}) AS {p}k0",
        mul32(f"{p}k0", 0xCC9E2D51) + f" AS {p}k1",
        rotl32(f"{p}k1", 15) + f" AS {p}k2",
        mul32(f"{p}k2", 0x1B873593) + f" AS {p}k3",
        rotl32(f"{p}k3", 13) + f" AS {p}h1",
        f"(({p}h1 * 5 + {0xE6546B64}) & {m32}) AS {p}h2",
        f"shiftrightunsigned({v}, 32) AS {p}j0",
        mul32(f"{p}j0", 0xCC9E2D51) + f" AS {p}j1",
        rotl32(f"{p}j1", 15) + f" AS {p}j2",
        mul32(f"{p}j2", 0x1B873593) + f" AS {p}j3",
        f"({p}h2 ^ {p}j3) AS {p}h3",
        rotl32(f"{p}h3", 13) + f" AS {p}h4",
        f"(({p}h4 * 5 + {0xE6546B64}) & {m32}) AS {p}h5",
        f"({p}h5 ^ 8) AS {p}h6",  # ^ total byte length
        f"({p}h6 ^ shiftrightunsigned({p}h6, 16)) AS {p}h7",
        mul32(f"{p}h7", 0x85EBCA6B) + f" AS {p}h8",
        f"({p}h8 ^ shiftrightunsigned({p}h8, 13)) AS {p}h9",
        mul32(f"{p}h9", 0xC2B2AE35) + f" AS {p}h10",
        f"({p}h10 ^ shiftrightunsigned({p}h10, 16)) AS {p}h11",
        f"cast(({p}h11 & {0x7FFFFFFF}) % {n} as int) AS `{out}`",
    ]
    tmp = [s.rsplit(" AS ", 1)[1] for s in steps[:-1]]
    return df.selectExpr("*", *steps).drop(*tmp)


def _iceberg_truncate(value, ice_type: str, w: int):
    """truncate[w] transform value: v - (v mod w) for integers (mod is
    always non-negative, so negatives floor correctly), first w
    CHARACTERS for strings (spec "Partition Transforms")."""
    if value is None:
        return None
    if ice_type in ("int", "long"):
        return int(value) - (int(value) % w)
    if ice_type == "string":
        return str(value)[:w]
    raise TypeError(f"truncate transform on {ice_type} not supported")


def _iceberg_temporal(value, ice_type: str, kind: str):
    """year/month/day/hour transform values (spec "Partition
    Transforms"): ordinals FROM THE UNIX EPOCH — years since 1970,
    months since 1970-01, days since 1970-01-01, hours since epoch —
    all floor semantics, so pre-1970 values go negative (Dec 1969 is
    month -1), matching every Iceberg engine."""
    import datetime as _dt

    if value is None:
        return None
    if isinstance(value, str):
        value = (_dt.date.fromisoformat(value) if ice_type == "date"
                 else _dt.datetime.fromisoformat(value))
    if isinstance(value, _dt.datetime):
        if value.tzinfo is not None:
            # instants project through their UTC calendar fields —
            # matching the write-side UTC ordinals (audit r8)
            value = value.astimezone(_dt.timezone.utc)
        d, hh = value.date(), value.hour
    elif isinstance(value, _dt.date):
        if kind == "hour":
            raise TypeError("hour transform needs a timestamp source")
        d, hh = value, 0
    else:
        raise TypeError(f"temporal transform on {type(value).__name__}")
    days = (d - _dt.date(1970, 1, 1)).days
    if kind == "hour":
        return days * 24 + hh
    if kind == "day":
        return days
    if kind == "month":
        return (d.year - 1970) * 12 + d.month - 1
    if kind == "year":
        return d.year - 1970
    raise ValueError(kind)


_TEMPORAL_TRANSFORMS = ("year", "month", "day", "hour")


def _project_pred(si: dict, op: str, value):
    """INCLUSIVE PROJECTION (spec "Scan Planning") of one source
    predicate through one spec field: (op', value') in partition-tuple
    space, or None when nothing projects (range through a hash, or an
    unprojectable value) — never an exclusion a matching file could
    fail. identity passes through; bucket projects equality only;
    truncate and the temporal transforms are order-preserving, so
    ranges land on the transformed bound (always a superset)."""
    k = si["transform"]
    try:
        if k == "identity":
            return op, value
        if k == "bucket":
            if op in ("=", "=="):
                return "=", _iceberg_bucket(value, si["source_type"],
                                            si["param"])
            return None
        tv = (_iceberg_truncate(value, si["source_type"], si["param"])
              if k == "truncate"
              else _iceberg_temporal(value, si["source_type"], k))
        if op in ("=", "=="):
            return "=", tv
        if op in (">", ">="):
            return ">=", tv
        if op in ("<", "<="):
            return "<=", tv
        return None
    except TypeError:
        return None


def _parse_transform(s: str) -> tuple[str, int | None]:
    """'identity' | 'bucket[N]' | 'truncate[W]' | 'year' | 'month' |
    'day' | 'hour' -> (kind, param)."""
    if s == "identity" or s in _TEMPORAL_TRANSFORMS:
        return s, None
    for kind in ("bucket", "truncate"):
        if s.startswith(kind + "[") and s.endswith("]"):
            p = int(s[len(kind) + 1:-1])
            if p <= 0:
                raise ValueError(f"{kind} parameter must be positive: {s}")
            return kind, p
    raise ValueError(f"unsupported partition transform {s!r}")


def _build_spec_fields(ice_fields: list[dict], spec_in: list[tuple],
                       first_field_id: int) -> list[dict]:
    """Validated spec field dicts for create()/update_partition_spec():
    type gates per transform, one field per source column, transform
    field names that cannot shadow schema columns. Identity values
    round-trip through hive dir segments, so only types with an exact
    text form are allowed (timestamps/decimals would compare lossily —
    use a temporal transform or a derived string column instead)."""
    by_name = {f["name"]: f for f in ice_fields}
    ok_types = {
        "identity": {"int", "long", "float", "double", "boolean",
                     "string", "date"},
        "bucket": {"int", "long", "string", "date"},
        "truncate": {"int", "long", "string"},
        "year": {"date", "timestamp", "timestamptz"},
        "month": {"date", "timestamp", "timestamptz"},
        "day": {"date", "timestamp", "timestamptz"},
        "hour": {"timestamp", "timestamptz"},
    }
    out, seen_src = [], set()
    for i, (c, tr) in enumerate(spec_in):
        if c not in by_name:
            raise ValueError(f"partition column {c} not in schema")
        kind, param = _parse_transform(tr)
        if by_name[c]["type"] not in ok_types[kind]:
            raise TypeError(
                f"{kind} partitioning on {by_name[c]['type']} "
                f"column {c} is not supported"
                + (" (no exact dir-segment form); partition on "
                   "a derived date/string column instead"
                   if kind == "identity" else ""))
        if c in seen_src:
            raise ValueError(
                f"column {c} appears in two partition fields — "
                "one transform per source column here")
        seen_src.add(c)
        fname = (c if kind == "identity"
                 else f"{c}_bucket" if kind == "bucket"
                 else f"{c}_trunc" if kind == "truncate"
                 else f"{c}_{kind}")
        if kind != "identity" and fname in by_name:
            raise ValueError(
                f"partition field name {fname} collides with a "
                "schema column")
        out.append({
            "name": fname, "transform": tr,
            "source-id": by_name[c]["id"],
            "field-id": first_field_id + i,
        })
    return out


# -- single-value serialization (spec Appendix D) -----------------------
# Bounds are stored as little-endian fixed-width binary per type.
# Strings are deliberately NOT recorded (parquet stats may truncate
# them; a truncated UPPER bound that isn't rounded up would wrongly
# prune matching files — bounds are optional per column, omitting is
# always safe).

def _sv_ser(value, ice_type: str) -> bytes | None:
    import struct as _s

    try:
        if ice_type == "int" or ice_type == "date":
            return _s.pack("<i", int(value))
        if ice_type == "long":
            return _s.pack("<q", int(value))
        if ice_type == "float":
            return _s.pack("<f", float(value))
        if ice_type == "double":
            return _s.pack("<d", float(value))
        if ice_type == "boolean":
            return b"\x01" if value else b"\x00"
        if ice_type in ("timestamp", "timestamptz"):
            return _s.pack("<q", int(value))  # micros
    except Exception:
        return None
    return None


def _sv_deser(raw: bytes, ice_type: str):
    import struct as _s

    if ice_type == "int" or ice_type == "date":
        return _s.unpack("<i", raw)[0]
    if ice_type == "long":
        return _s.unpack("<q", raw)[0]
    if ice_type == "float":
        return _s.unpack("<f", raw)[0]
    if ice_type == "double":
        return _s.unpack("<d", raw)[0]
    if ice_type == "boolean":
        return raw == b"\x01"
    if ice_type in ("timestamp", "timestamptz"):
        return _s.unpack("<q", raw)[0]
    return None


def _widen_float32_bounds(lo: float, hi: float) -> tuple[float, float]:
    """Float field_summary bounds round-trip through Appendix-D's
    4-byte '<f' while in-memory partition-tuple values (and predicate
    values) are Python float64. A tuple value not exactly
    float32-representable (0.1) serializes to a bound a half-ulp away,
    so lo<=value<=hi against the rounded bounds could be false for a
    value the exact file-level tuple check keeps — silently skipping
    a whole manifest. Widening each bound ONE float32 ulp outward
    makes manifest-level pruning strictly conservative: it can only
    keep extra manifests, never drop matching ones (the file-level
    tuple check and the row-level filter stay exact)."""
    import numpy as _np

    lo = float(_np.nextafter(_np.float32(lo), _np.float32("-inf")))
    hi = float(_np.nextafter(_np.float32(hi), _np.float32("inf")))
    return lo, hi


def _range_may_match(lo, hi, op: str, value) -> bool:
    """Scan-planning core: can any v in the inclusive range [lo, hi]
    satisfy ``v op value``? Shared by file-level bounds
    (_prune_entries) and manifest-level field_summary pruning so
    the two levels can never disagree on comparison semantics."""
    if op in ("=", "=="):
        return lo <= value <= hi
    if op == ">":
        return hi > value
    if op == ">=":
        return hi >= value
    if op == "<":
        return lo < value
    if op == "<=":
        return lo <= value
    return True


def _summary_ser(value, ice_type: str) -> bytes | None:
    """Appendix-D serialization for PARTITION-TUPLE values (manifest
    field_summary bounds). Unlike column bounds, strings are included:
    these values come exact from the tuples — no parquet-stat
    truncation — so a string upper bound can never wrongly prune."""
    import datetime as _dt
    import struct as _s

    if value is None:
        return None
    if ice_type == "string":
        return str(value).encode("utf-8")
    if ice_type == "date" and isinstance(value, _dt.date):
        return _s.pack("<i", (value - _dt.date(1970, 1, 1)).days)
    return _sv_ser(value, ice_type)


def _summary_deser(raw: bytes | None, ice_type: str):
    import datetime as _dt

    if raw is None:
        return None
    if ice_type == "string":
        return raw.decode("utf-8")
    if ice_type == "date":
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=_sv_deser(
            raw, "int"))
    return _sv_deser(raw, ice_type)


def _iceberg_schema(schema: T.StructType) -> tuple[dict, int]:
    fields = []
    next_id = 1
    for f in schema.fields:
        t = _SPARK_TO_ICEBERG.get(f.dataType)
        if t is None:
            if isinstance(f.dataType, T.DecimalType):
                t = f"decimal({f.dataType.precision}, {f.dataType.scale})"
            else:
                raise TypeError(
                    f"no iceberg primitive for {f.dataType.simpleString()} "
                    "(nested types need the real runtime)")
        fields.append({"id": next_id, "name": f.name,
                       "required": not f.nullable, "type": t})
        next_id += 1
    return ({"type": "struct", "schema-id": 0, "fields": fields}, next_id - 1)


def _manifest_live_entries(raw: bytes, spec_id: int,
                           info: list[dict],
                           manifest_seq: int = 0) -> list[dict]:
    """Decode one manifest's live (ADDED/EXISTING) entries into the
    planner's entry dicts — shared verbatim by the driver-side loop
    and the distributed planning job, so both planning modes are
    bit-identical by construction."""
    _, entries = ACF.read_container(raw)
    sid_by_name = {si["field_name"]: si["source_id"] for si in info}
    out = []
    for e in entries:
        if e["status"] not in (1, 0):
            continue
        d = e["data_file"]
        part = d.get("partition")
        if part is None:
            tup = None
        elif isinstance(part, str):  # pre-r6 legacy JSON tuples
            tup = json.loads(part)
        else:  # typed r102 record (current writer)
            tup = {str(sid_by_name[name]): v
                   for name, v in part.items() if name in sid_by_name}
        seq = e.get("sequence_number")
        if seq is None:
            # v2 sequence-number INHERITANCE (spec "Sequence Number
            # Inheritance"): a null entry sequence inherits the
            # MANIFEST's own (manifest-list field 515). Coercing to 0
            # instead would put a genuine-Iceberg-written file before
            # every delete (the _del_seq > _data_seq guards stop
            # applying) and outside every changelog/stream window —
            # the r8 audit fixed exactly this in the DSv2 stream
            # reader; audit r10 found the native planner kept the
            # coercion. The spec restricts inheritance to ADDED
            # (status=1) entries: an EXISTING entry must carry its
            # ORIGINAL sequence explicitly, and inheriting the
            # carrying manifest's newer one would flip
            # delete-applicability and window membership for that
            # file. manifest_seq == 0 (v1-era manifests) is the one
            # case where "inherit" and "keep 0" agree, so it passes.
            if e["status"] != 1 and manifest_seq != 0:
                raise ValueError(
                    "non-compliant manifest: EXISTING entry for "
                    f"{e['data_file'].get('file_path')} has no explicit "
                    f"sequence number (manifest seq {manifest_seq}); "
                    "inheritance applies to ADDED entries only")
            seq = manifest_seq
        out.append({
            "info": DataFileInfo(
                d["file_path"], d["file_size_in_bytes"],
                d["record_count"], d["file_format"],
                _bounds_from_avro(d.get("lower_bounds")),
                _bounds_from_avro(d.get("upper_bounds")),
                tup),
            "content": d.get("content", 0),
            "sequence_number": seq,
            "equality_ids": d.get("equality_ids"),
            "spec_id": spec_id,
        })
    return out


def _fs_from_uri(uri: str):
    """URI → (pyarrow FileSystem, in-fs path). Separate hook so tests
    can inject a mock scheme (pyarrow's FileSystem type is immutable —
    its classmethods cannot be monkeypatched directly).

    ``loop://<authority>/<abs path>`` is a built-in LOOPBACK scheme
    mapping onto the local filesystem. It exists to drive the remote
    (non-file) code path end to end — including inside executor
    Python workers and the sessionless commit hook, where a test
    monkeypatch cannot reach — without a real object store; the
    driver's oracle gate routes one DSv2 fixture through it every
    round. Never a production scheme."""
    import pyarrow.fs as pafs
    if uri.startswith("loop://"):
        rest = uri[len("loop://"):]
        slash = rest.find("/")
        return pafs.LocalFileSystem(), (rest[slash:] if slash >= 0
                                        else "/")
    return pafs.FileSystem.from_uri(uri)


def _read_bytes_any(path: str) -> bytes:
    """Executor-safe byte read for ANY filesystem scheme.

    The distributed scan-planning fan-out runs inside Python workers,
    where the driver's py4j gateway (and therefore the Hadoop
    FileSystem handle `IcebergTable._read_bytes` uses) does not exist.
    `pyarrow.fs.FileSystem.from_uri` resolves file:/s3:/hdfs:/gs: URIs
    natively from C++, so the fan-out works on the remote stores where
    distributed planning actually matters — not just `file:`. Bare
    paths skip URI parsing (a local path with a `:` in a filename must
    not be mis-read as a scheme); unknown schemes fall back to fsspec
    when available so tests/plugins can register custom protocols."""
    if "://" not in path and not path.startswith("file:"):
        with open(path, "rb") as fh:
            return fh.read()
    try:
        fs, rel = _fs_from_uri(path)
        with fs.open_input_stream(rel) as fh:
            return fh.read()
    except (ImportError, OSError, ValueError) as arrow_err:
        try:
            import fsspec
        except ImportError:
            raise arrow_err
        with fsspec.open(path, "rb") as fh:
            return fh.read()


def _is_plain_local(path: str) -> bool:
    """True for paths the plain-file IO branch handles directly: no
    scheme at all. ``file:``-prefixed and ``scheme://`` paths route
    through pyarrow.fs (the one `_fs_from_uri` hook tests can mock)."""
    return "://" not in path and not path.startswith("file:")


# chars identical under Hadoop Path.toUri percent-encoding — paths
# matching this skip the JVM round-trip in _path_uri_form
import re as _re_mod

_URI_SAFE_RE = _re_mod.compile(r"^[A-Za-z0-9/:._\-]*$")


def _open_input_file_any(path: str):
    """Scheme-aware RANDOM-ACCESS open for parquet reads (footers
    seek): a bare local path passes through (pyarrow memory-maps it);
    URIs resolve via `_fs_from_uri`, falling back to fsspec for
    schemes arrow doesn't know. Same sessionless/executor contract as
    `_read_bytes_any` — no JVM, no Spark session."""
    if _is_plain_local(path):
        return path
    try:
        fs, rel = _fs_from_uri(path)
        return fs.open_input_file(rel)
    except (ImportError, OSError, ValueError) as arrow_err:
        try:
            import fsspec
        except ImportError:
            raise arrow_err
        return fsspec.open(path, "rb").open()


def _drop_crc_sidecar(local_path: str) -> None:
    """Remove Hadoop LocalFS's ``.<name>.crc`` sidecar before a
    rewrite: a plain rewrite (the version hint flips every commit)
    desyncs the checksum and later JVM reads throw ChecksumException.
    Shared by the plain-local write, _write_bytes_any's loop://
    branch, and the create-if-absent fast path."""
    crc = os.path.join(os.path.dirname(local_path),
                       f".{os.path.basename(local_path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _write_bytes_any(path: str, data: bytes) -> int:
    """Scheme-aware byte write (parent dirs created first — a no-op
    on object stores, a real mkdir on file/hdfs)."""
    if _is_plain_local(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)
        return len(data)
    try:
        fs, rel = _fs_from_uri(path)
        parent = rel.rsplit("/", 1)[0]
        if parent:
            fs.create_dir(parent, recursive=True)
        if path.startswith("loop://"):
            # the loopback scheme IS the local filesystem: rewriting a
            # file the JVM previously wrote (version-hint flips every
            # commit) must drop Hadoop's .<name>.crc sidecar exactly
            # like the plain-local branch, or later JVM reads throw
            # ChecksumException. Genuine remote stores have no
            # sidecars — this is loopback-fidelity only.
            _drop_crc_sidecar(rel)
        with fs.open_output_stream(rel) as out:
            out.write(data)
        return len(data)
    except (ImportError, OSError, ValueError) as arrow_err:
        try:
            import fsspec
        except ImportError:
            raise arrow_err
        with fsspec.open(path, "wb") as fh:
            fh.write(data)
        return len(data)


def _write_parquet_any(table, path: str) -> None:
    """Scheme-aware parquet write (pyarrow Table → one file)."""
    import pyarrow.parquet as pq
    if _is_plain_local(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return
    try:
        fs, rel = _fs_from_uri(path)
        parent = rel.rsplit("/", 1)[0]
        if parent:
            fs.create_dir(parent, recursive=True)
        with fs.open_output_stream(rel) as out:
            pq.write_table(table, out)
    except (ImportError, OSError, ValueError) as arrow_err:
        try:
            import fsspec
        except ImportError:
            raise arrow_err
        with fsspec.open(path, "wb") as fh:
            pq.write_table(table, fh)


def _write_bytes_if_absent_any(path: str, data: bytes) -> None:
    """Best-available create-if-absent for remote schemes (advice-r10).

    On RENAME-ATOMIC stores (hdfs: — Java FileSystem.rename refuses an
    existing destination at the namenode) the bytes go to a unique
    temp sibling first and ``fs.move`` promotes them: two committers
    racing from the same base make exactly one rename succeed — a true
    single-winner CAS, same strength as the local link(2) claim. On
    object stores (s3:/gs: — "move" is copy+delete and OVERWRITES)
    this degrades to the documented existence-check + write, the same
    guarantee Hadoop's create(overwrite=false) gives on S3A
    (HEAD-then-PUT). Raises RuntimeError("concurrent commit ...") on
    collision so the CAS retry loops treat both paths alike."""
    fs = None
    if not _is_plain_local(path):
        try:
            fs, rel = _fs_from_uri(path)
        except Exception:
            fs = None
    # pyarrow is only needed on the fs-resolved branches — hosts with
    # fsspec but no pyarrow (fs stays None) must keep the documented
    # probe+write fallback below, not die on this import (r11 review)
    if fs is not None:
        import pyarrow.fs as _pafs
    if fs is not None and getattr(fs, "type_name", "") == "hdfs":
        import uuid as _uuid
        tmp = f"{rel}.commit-{_uuid.uuid4().hex[:12]}.tmp"
        parent = rel.rsplit("/", 1)[0]
        if parent:
            fs.create_dir(parent, recursive=True)
        with fs.open_output_stream(tmp) as out:
            out.write(data)
        try:
            fs.move(tmp, rel)
        except OSError as ex:
            try:
                fs.delete_file(tmp)
            except OSError:
                pass  # a killed process leaves the .tmp; the
                # metadata orphan sweep ignores non-committed files
            # only an ACTUAL exists-collision is a concurrency signal
            # — a transient namenode/permission fault reported as
            # "concurrent commit" would burn the CAS retries
            # re-reading metadata and misdiagnose an infrastructure
            # error as a committer race (r11 review)
            try:
                collided = (fs.get_file_info(rel).type
                            != _pafs.FileType.NotFound)
            except OSError:
                collided = False
            if not collided:
                raise
            raise RuntimeError(
                f"concurrent commit detected: {path} already exists "
                "(another committer advanced the table from the same "
                "base version) — re-read metadata and retry") from ex
        return
    if fs is not None:
        # reuse the resolved handle for probe + write: each
        # _fs_from_uri constructs a fresh client on object stores,
        # and the old probe/write helpers re-resolved twice more
        if fs.get_file_info(rel).type != _pafs.FileType.NotFound:
            raise RuntimeError(
                f"concurrent commit detected: {path} already exists "
                "(another committer advanced the table from the same "
                "base version) — re-read metadata and retry")
        try:
            if path.startswith("loop://"):
                # loopback == local FS: keep _write_bytes_any's .crc
                # sidecar hygiene (a JVM may have written this path
                # in a previous table generation)
                _drop_crc_sidecar(rel)
            parent = rel.rsplit("/", 1)[0]
            if parent:
                fs.create_dir(parent, recursive=True)
            with fs.open_output_stream(rel) as out:
                out.write(data)
        except OSError as ex:
            # transient arrow failure: RE-PROBE before the fsspec
            # retry — a racer may have created the destination while
            # our write stalled, and a blind rewrite would silently
            # erase its committed metadata (r11 review #3)
            try:
                size = _file_size_any(path)
                exists = True
            except FileNotFoundError:
                exists = False
            if exists and size <= len(data):
                # the destination MAY be our own write: a torn flush
                # (strict byte PREFIX of the payload — streams flush
                # sequentially) or a FULLY-flushed write whose close()
                # raised (size == len, content == data; r12 review #1:
                # misdiagnosed as "concurrent commit", every CAS retry
                # would collide with our own byte-identical file and
                # wedge the table). Size alone is NOT a discriminator
                # — a racer's complete metadata can legitimately be
                # shorter (r12 review #1 of the r11 heuristic) — but
                # two same-base committers' metadata differ within
                # bytes (random snapshot ids), so content decides.
                try:
                    existing = _read_bytes_any(path)
                except OSError:
                    existing = None
                if existing == data:
                    return  # our own write landed whole: success
                if existing is not None and existing == data[:size]:
                    try:
                        _delete_any(path)  # our torn prefix: clean up
                        exists = False
                    except OSError:
                        pass  # can't clean up — fall through to the
                        # collision raise, chaining the real fault
            if exists:
                raise RuntimeError(
                    f"concurrent commit detected: {path} already "
                    "exists (another committer advanced the table "
                    "from the same base version) — re-read metadata "
                    "and retry (original write fault attached)") from ex
            _write_bytes_any(path, data)
        return
    try:
        _file_size_any(path)
        exists = True
    except FileNotFoundError:
        exists = False
    if exists:
        raise RuntimeError(
            f"concurrent commit detected: {path} already exists "
            "(another committer advanced the table from the same "
            "base version) — re-read metadata and retry")
    _write_bytes_any(path, data)


def _file_size_any(path: str) -> int:
    """Scheme-aware file size (raises FileNotFoundError if absent)."""
    if _is_plain_local(path):
        return os.path.getsize(path)
    try:
        import pyarrow.fs as pafs
        fs, rel = _fs_from_uri(path)
        info = fs.get_file_info(rel)
    except (ImportError, ValueError) as arrow_err:
        # unknown-to-arrow scheme only — a resolvable FS's own errors
        # (incl. a genuinely missing file) propagate as themselves
        try:
            import fsspec
        except ImportError:
            raise arrow_err
        with fsspec.open(path, "rb") as fh:
            fh.seek(0, 2)
            return fh.tell()
    if info.type == pafs.FileType.NotFound:
        raise FileNotFoundError(path)
    return info.size


def _delete_any(path: str) -> None:
    """Scheme-aware single-file delete (missing files raise OSError,
    matching os.remove)."""
    if _is_plain_local(path):
        os.remove(path)
        return
    try:
        fs, rel = _fs_from_uri(path)
    except (ImportError, ValueError) as arrow_err:
        try:
            import fsspec
        except ImportError:
            raise arrow_err
        fs2, rel2 = fsspec.core.url_to_fs(path)
        fs2.rm_file(rel2)
        return
    fs.delete_file(rel)


# changelog eq-delete run-sharing cap: max consecutive eq-delete
# commits that share one reconstructed base frame (see changelog())
_EQ_RUN_CAP = 16

# the spec schema of a position-delete file: read with it, no Spark
# job infers it
_POS_SCHEMA = T.StructType([T.StructField("file_path", T.StringType()),
                            T.StructField("pos", T.LongType())])


def _metadata_version_candidates(names) -> list[int]:
    """Version numbers parsed from metadata file basenames, newest
    first — ONE copy of the lost-hint recovery's candidate rule,
    shared by the native reader and the sessionless DSv2 face
    (review r13 pass 7)."""
    return sorted(
        (int(m.group(1)) for m in
         (_re_mod.fullmatch(r"v(\d+)\.metadata\.json", n)
          for n in names) if m),
        reverse=True)


def _split_eras(splitters: list[dict], lo: int, hi: int,
                snaps: dict, chain: list[dict],
                final_walk, label: str) -> list[tuple]:
    """Split the incremental window (lo, hi] into ERAS at each
    file-superseding snapshot (replace/overwrite) — the era rule of
    ``IcebergTable._window_commits``, the one walker changelog() and
    the DSv2 stream reader share. Returns [(era_lo_seq, walk_snapshot_id,
    era_hi_seq)]: era k's commits are planned from the snapshot just
    BEFORE splitter k+1 (its parent), where they are still live under
    their true sequences; the final era plans at *final_walk*. The
    splitter's own files sit exactly ON an era boundary (seq == the
    era's strict lower bound) and are excluded.

    An expired splitter parent is fatal only when the lost era could
    actually CONTAIN window commits. Sequence numbers are dense
    table-wide (every commit bumps last-sequence-number by one), so
    each gap sequence must be accounted for by a RETAINED snapshot
    that is NOT on this chain — a branch commit or a rollback orphan,
    whose rows were never part of this lineage. A gap sequence that
    is a chain snapshot (unplannable without the parent walk) or that
    belongs to no retained snapshot at all (expired history) is
    fatal."""
    eras: list[tuple] = []
    prev_hi = lo
    chain_ids = {s["snapshot-id"] for s in chain}
    nonchain_seqs = {s.get("sequence-number", 0)
                     for sid, s in snaps.items()
                     if sid not in chain_ids}
    for r in sorted(splitters, key=lambda s: s["sequence-number"]):
        parent = r.get("parent-snapshot-id")
        r_seq = r["sequence-number"]
        if parent is None or parent not in snaps:
            if any(q not in nonchain_seqs
                   for q in range(prev_hi + 1, r_seq)):
                op = r.get("summary", {}).get("operation", "replace")
                raise ValueError(
                    f"{label}: {op} snapshot {r['snapshot-id']}'s "
                    "parent is expired — the window commits it "
                    "superseded cannot be replayed")
            prev_hi = r_seq
            continue
        p_seq = snaps[parent]["sequence-number"]
        if p_seq > prev_hi:
            eras.append((prev_hi, parent, p_seq))
        prev_hi = r_seq
    if hi > prev_hi or not eras:
        eras.append((prev_hi, final_walk, hi))
    return eras


class _Commit(NamedTuple):
    """One commit of an incremental window (``_window_commits``):
    the manifest entries (data and delete files) it ``added``, the
    entries live at its parent that it ``removed``, and ``before()``,
    every entry live at its parent."""
    snap: dict
    op: str | None
    parent: int | None
    added: list
    removed: list
    before: Callable[[], list]


class _NoCommit(Exception):
    """Raised by a _retry_metadata mutate closure to return a result
    WITHOUT committing a new metadata version (no-op short-circuit)."""

    def __init__(self, result):
        super().__init__("no commit")
        self.result = result


class IcebergTable:
    """A HadoopTables-layout Iceberg v2 table on any Hadoop-visible FS.

    ``spark=None`` puts the handle in SESSIONLESS mode: metadata and
    manifest IO go through plain Python file IO for local paths and
    pyarrow.fs for remote schemes, with no JVM. The gobblin_iceberg
    DSv2 faces run in separate Python workers, so they read metadata
    (metadata()), resolve snapshots (_snapshot_id), plan scans
    (_entries + _prune_entries) and commit (append_files) through
    this mode. DataFrame operations (read/append_dataframe/...) still
    need a session."""

    def __init__(self, spark: SparkSession | None, location: str,
                 planning: str = "driver"):
        """``planning="distributed"`` lifts manifest parsing — the
        scan-planning cost that scales with live-file count — into a
        Spark job (manifests fan out to executors, each decoded by the
        same pure-Python Avro reader; only the planned entries return).
        The driver default matches the reference's own driver-side
        IcebergMetadataWriter and stays right up to ~10^5-10^6 live
        files (PLANS.md bound); distributed is the 100 TB path, the
        same split Iceberg's own distributed planning makes. Manifest
        paths must be executor-openable (file:// / shared mounts in
        this sandbox); single-manifest tables skip the job overhead."""
        if planning not in ("driver", "distributed"):
            raise ValueError(f"unknown planning mode {planning!r}")
        self.spark = spark
        self.location = location.rstrip("/")
        self.planning = planning
        # frames changelog() persisted for eq-run sharing; the NEXT
        # changelog() call (or release_changelog_cache) unpersists
        # them — a returned changelog frame is lazy, so the cache must
        # outlive the call that built it
        self._changelog_cached: list = []

    # -- fs helpers ----------------------------------------------------
    _local = staticmethod(_claim.os_path)

    def _fs(self, path: str):
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        return p.getFileSystem(self.spark._jsc.hadoopConfiguration()), p, jvm

    def _session_claims_local(self, path: str) -> bool:
        """Whether a SESSION-mode commit may claim *path* on the
        driver's local disk: :func:`gobblin_spark.claim.is_local`
        under the session's Hadoop configuration — link-claiming a
        bare path locally under an hdfs: default would split the
        metadata file and the hint across two filesystems (review r13
        pass 5). Sessionless callers resolve bare paths locally by
        construction (no JVM, no defaultFS)."""
        if self.spark is None or not _is_plain_local(path):
            return _claim.is_local(path)
        cached = getattr(self, "_dfs_is_local", None)
        if cached is None:      # one py4j lookup per table handle
            cached = self._dfs_is_local = _claim.is_local(
                path, self.spark._jsc.hadoopConfiguration())
        return cached

    def _write_bytes(self, path: str, data: bytes) -> int:
        if self.spark is None and not _claim.is_local(path):
            # sessionless REMOTE (s3:/hdfs:/gs:): the DSv2 commit
            # hook runs with no JVM — pyarrow.fs carries the write
            return _write_bytes_any(path, data)
        if self.spark is None or self._session_claims_local(path):
            # LOCAL paths — session or not — take plain file IO: the
            # Hadoop-FS detour costs 5-10 py4j round trips per small
            # metadata file, which dominates commit latency (r13
            # profile: ~1.5 s/query of socket waits on metadata IO)
            lp = self._local(path)
            # Hadoop LocalFS leaves .<name>.crc sidecars; a plain
            # rewrite (version-hint flips every commit) would desync
            # them and later JVM reads throw ChecksumException —
            # drop the sidecar so Hadoop skips verification
            _drop_crc_sidecar(lp)
            # not an in-place rewrite: that truncates first, and a
            # concurrent reader of the hint saw the empty file for as
            # long as the writing thread waited on the GIL (60+ ms
            # under a four-writer stress)
            _claim.replace(lp, data)
            return len(data)
        fs, p, _ = self._fs(path)
        out = fs.create(p, True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        return len(data)

    def _read_bytes(self, path: str) -> bytes:
        if self.spark is None and not _claim.is_local(path):
            return _read_bytes_any(path)
        if self.spark is None or self._session_claims_local(path):
            with open(self._local(path), "rb") as fh:
                return fh.read()
        fs, p, jvm = self._fs(path)
        stream = fs.open(p)
        try:
            return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    # -- metadata pointer ----------------------------------------------
    def _version(self) -> int:
        """Current metadata version; 0 = no table. ONLY a genuinely
        missing hint file maps to 0 — a transient IO error must
        propagate, or create() would mistake an existing table for an
        empty location and clobber its metadata history.

        A concurrent hint REWRITE can expose a torn read (empty or
        partial digits — observed as a transient EOF on the hint's
        checksum under a two-writer stress). A short re-read settles
        it; a stale-but-complete value is already safe (readers get an
        older consistent snapshot, writers collide on the version
        CAS), so only the unparsable case needs the retry."""
        last_err: Exception | None = None
        for _ in range(5):
            try:
                raw = self._read_bytes(
                    f"{self.location}/metadata/version-hint.text"
                ).decode().strip()
            except Exception as ex:
                msg = str(ex)
                if ("FileNotFoundException" in msg
                        or "does not exist" in msg
                        or isinstance(ex, FileNotFoundError)):
                    # a missing hint does not prove an empty location:
                    # a committer can crash before the very first
                    # flip, or a PRUNED table (expire keeps only the
                    # newest metadata versions) can lose its hint —
                    # recover from the directory listing so create()
                    # refuses to clobber and readers adopt the newest
                    # committed version
                    return self._recover_version_no_hint()
                if "Checksum" in msg or "EOFException" in msg:
                    # the same torn-rewrite window seen through the
                    # Hadoop path: the .crc sidecar lags the data
                    # write for an instant — re-read
                    last_err = ex
                    time.sleep(0.02)
                    continue
                raise
            try:
                v = int(raw)
            except ValueError as ex:
                last_err = ex
                time.sleep(0.02)
                continue
            return self._fast_forward(v)
        raise RuntimeError(
            f"version hint at {self.location} stayed unparsable "
            "across retries (torn write?)") from last_err

    def _fast_forward(self, v: int) -> int:
        """Advance past the hint while newer COMPLETE metadata version
        files exist (HadoopTableOperations.findVersion behavior): the
        hint flip is the commit's LAST step, so a committer crashing
        between the version-file claim and the flip leaves a durable,
        committed snapshot the hint does not point at — without the
        probe that snapshot is invisible forever and every later
        commit from the stale base collides at claim time, wedging
        the table (r13 commit-protocol model check). A stale or
        transiently REGRESSED hint (two committers' flips landing out
        of order) is healed the same way: probing from any hint value
        at or below the top reaches the top, because hints are only
        ever written after their version file is complete. The probe
        refuses files that do not parse as table metadata — a crashed
        O_EXCL-fallback writer's torn prefix or foreign junk must not
        be adopted as the current table state (readers stay on the
        last good version; the claim path diagnoses the junk)."""
        while True:
            nxt = f"{self.location}/metadata/v{v + 1}.metadata.json"
            try:
                if self._session_claims_local(nxt):
                    with open(self._local(nxt), "rb") as fh:
                        raw = fh.read()
                else:
                    raw = self._read_bytes(nxt)
            except Exception as ex:
                msg = str(ex)
                if ("FileNotFoundException" in msg
                        or "does not exist" in msg
                        or isinstance(ex, FileNotFoundError)):
                    return v
                raise
            try:
                doc = json.loads(raw)
            except ValueError:
                return v        # torn claim: not a committed version
            if not (isinstance(doc, dict) and "format-version" in doc):
                return v        # parseable junk is still not metadata
            v += 1

    def _recover_version_no_hint(self) -> int:
        """Version recovery when the hint file is MISSING entirely.
        Walking up from v1 is wrong on pruned tables — expire keeps
        only the newest metadata versions, so v1 is usually gone and
        the probe would misread a long-lived table as empty, letting
        create() clobber it (review r13 pass 5). List the metadata
        directory instead and adopt the newest version whose file
        parses as table metadata; fall back to the v1-up probe where
        listing is unsupported (no worse than before)."""
        mdir = f"{self.location}/metadata"
        names: list[str] | None = None
        try:
            if self._session_claims_local(mdir):
                try:
                    names = os.listdir(self._local(mdir))
                except FileNotFoundError:
                    names = []
            elif self.spark is not None:
                fs, p, _ = self._fs(mdir)
                names = ([st.getPath().getName()
                          for st in fs.listStatus(p)]
                         if fs.exists(p) else [])
            else:
                import pyarrow.fs as _pafs
                fs, rel = _fs_from_uri(mdir)
                infos = fs.get_file_info(
                    _pafs.FileSelector(rel, allow_not_found=True))
                names = [i.base_name for i in infos]
        except Exception:
            names = None        # listing unsupported: probe fallback
        if names is None:
            return self._fast_forward(0)
        for v in _metadata_version_candidates(names):
            # newest PARSEABLE wins: a torn top claim never logically
            # committed (same rule the fast-forward probe applies)
            if self._fast_forward(v - 1) >= v:
                return v
        return 0

    def metadata(self) -> dict:
        v = self._version()
        if v == 0:
            raise FileNotFoundError(f"no iceberg table at {self.location}")
        try:
            raw = self._read_bytes(
                f"{self.location}/metadata/v{v}.metadata.json")
        except Exception as ex:
            # a VERY stale hint racing expire's metadata pruning can
            # point at a version that no longer exists AND has no
            # contiguous successor (the fast-forward probe stops at
            # the first gap) — recover from the directory listing
            # like the missing-hint path (review r13 pass 7)
            msg = str(ex)
            if not (isinstance(ex, FileNotFoundError)
                    or "FileNotFoundException" in msg
                    or "does not exist" in msg):
                raise
            v = self._recover_version_no_hint()
            if v == 0:
                raise
            raw = self._read_bytes(
                f"{self.location}/metadata/v{v}.metadata.json")
        md = json.loads(raw)
        # remember which version this dict was READ from: the commit
        # targets base+1 with a single-winner claim, making the pair
        # a true compare-and-swap (private key, stripped at write)
        md["_base_version"] = v
        return md

    @staticmethod
    def _main_ancestry(md: dict) -> list[dict]:
        """Snapshot records reachable from MAIN's head via the
        parent-snapshot-id chain, head first. Branch-only commits
        (write-audit-publish staging) are excluded until fast_forward
        publishes them. Records written before parent pointers existed
        make the chain indeterminate — fall back to every snapshot the
        snapshot-log names (each was a main head at some point)."""
        by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
        out: list[dict] = []
        seen: set[int] = set()
        node = md.get("current-snapshot-id", -1)
        while (node is not None and node != -1 and node in by_id
               and node not in seen):
            rec = by_id[node]
            out.append(rec)
            seen.add(node)
            if "parent-snapshot-id" not in rec:
                logged = {e["snapshot-id"]
                          for e in md.get("snapshot-log", [])}
                out.extend(s for s in md.get("snapshots", [])
                           if s["snapshot-id"] in logged
                           and s["snapshot-id"] not in seen)
                break
            node = rec["parent-snapshot-id"]
        return out

    def _collision(self, path: str, local: bool) -> RuntimeError:
        """Diagnose a lost claim of metadata version file *path*. A
        collider that parses as table metadata is a concurrent commit:
        re-read and retry. An unparseable one is a crashed claim's torn
        file or a foreign file and never heals, so retrying the CAS
        against it is pointless: name the wedge instead — unless the
        claim took the O_EXCL fallback (no link(2) here), the one path
        that exposes a LIVE racer's partial write, where the signal
        stays retryable and carries the unwedge action for the
        persistent case (review r13 pass 5)."""
        try:
            doc = json.loads(self._read_bytes(path))
            genuine = isinstance(doc, dict) and "format-version" in doc
        except ValueError:
            genuine = False
        except Exception:  # noqa: BLE001 - vanished/unreadable: a race
            genuine = True
        retry = (f"concurrent commit detected: {path} already exists "
                 "(another committer advanced the table from the same "
                 "base version) — re-read metadata and retry")
        if genuine:
            return RuntimeError(retry)
        if local and not _claim.links(self._local(path)):
            return RuntimeError(
                f"{retry} (the collider is currently unparseable — a "
                "racing committer mid-write, or a crashed claim's torn "
                "file; if this persists across retries, delete it to "
                "unwedge)")
        return RuntimeError(
            f"metadata version file {path} exists but is not parseable "
            "table metadata — a crashed claim's torn file or a foreign "
            "file is wedging the commit path; verify no committer is "
            "mid-write and delete it to unwedge")

    def _commit_metadata(self, md: dict) -> int:
        """HadoopTables commit protocol: CLAIM the NEW vN file (the
        optimistic-concurrency guard — two committers racing from the
        same base version make the loser ERROR instead of silently
        overwriting the winner's snapshot), then flip the version hint
        last. The claim (gobblin_spark.claim) is complete-or-absent: a
        committer crash can no longer leave an unparseable v(N+1) that
        collides every later claim forever (r13 commit-protocol model
        check), except through the O_EXCL fallback.

        The target version is BASE+1 where base is the version the
        md dict was READ from (metadata() stamps it) — computing it
        from the CURRENT hint instead would let a slow loser land
        AFTER the winner's hint flip without colliding, silently
        erasing the winner's snapshot from history."""
        base = md.pop("_base_version", None)
        v = (base if base is not None else self._version()) + 1
        path = f"{self.location}/metadata/v{v}.metadata.json"
        data = json.dumps(md, indent=2).encode()
        hint = f"{self.location}/metadata/version-hint.text"
        if self.spark is None and not _claim.is_local(path):
            # sessionless REMOTE: rename-atomic stores (hdfs:)
            # get a temp-write + single-winner fs.move CAS; object
            # stores degrade to existence check + write — the SAME
            # guarantee Hadoop's create(overwrite=false) gives on
            # S3A (HEAD-then-PUT), i.e. no weaker than the JVM
            # path on the same store (see
            # _write_bytes_if_absent_any)
            _write_bytes_if_absent_any(path, data)
            _write_bytes_any(hint, str(v).encode())
            return v
        local = self._session_claims_local(path)
        if local:
            # a previous table generation's JVM write may have left a
            # checksum sidecar for this name — desynced, it would fail
            # later JVM reads of the claimed payload
            _drop_crc_sidecar(self._local(path))
            won = _claim.claim(path, data)
        else:
            won = _claim.claim(path, data, self._fs(path)[0])
        if not won:
            raise self._collision(path, local)
        self._write_bytes(hint, str(v).encode())  # the hint flips last
        return v

    # -- lifecycle ------------------------------------------------------
    @classmethod
    def create(cls, spark: SparkSession, location: str,
               schema: T.StructType,
               partition_cols: list[str] | None = None,
               partition_spec: list[tuple] | None = None) -> "IcebergTable":
        """``partition_cols`` builds an IDENTITY partition spec (spec
        "Partitioning", transform=identity): each listed source column
        becomes a partition field with id 1000+i. Data files then land
        under hive-style ``col=value/`` dirs, each manifest entry
        records its file's partition TUPLE (spec field 102), and reads
        prune files on partition values before consulting column
        bounds. Unpartitioned (default) behavior is unchanged.

        ``partition_spec`` — [(column, transform), ...] with transform
        in {"identity", "bucket[N]", "truncate[W]", "year", "month",
        "day", "hour"} — builds a spec with TRANSFORMED partition
        fields (spec "Partition Transforms"): bucket[N] =
        engine-compatible murmur3 bucketing (int/long/string/date
        sources), truncate[W] = width-W value truncation
        (int/long/string), and the temporal transforms = epoch
        ordinals (date/timestamp sources; hour needs a timestamp) —
        the time-partitioned layout the reference's
        TimeBasedWriterPartitioner/TimePartitionedDataPublisher pair
        produces, lifted to the table format. Transform fields are
        named ``<col>_bucket`` / ``<col>_trunc`` / ``<col>_<unit>``,
        their values ride the hive dir layout in TRANSFORM space, and
        reads prune equality predicates through bucket fields and
        equality+range predicates through the order-preserving fields
        (inclusive projection). One spec field per source column
        (identity+bucket on the same column is not supported here)."""
        t = cls(spark, location)
        if t._version():
            raise FileExistsError(f"iceberg table already at {location}")
        if partition_cols and partition_spec:
            raise ValueError("pass partition_cols OR partition_spec")
        ice_schema, last_col = _iceberg_schema(schema)
        now = int(time.time() * 1000)
        spec_fields = []
        spec_in = ([(c, "identity") for c in partition_cols]
                   if partition_cols else list(partition_spec or []))
        if spec_in:
            spec_fields = _build_spec_fields(ice_schema["fields"],
                                             spec_in, 1000)
        md = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": t.location,
            "last-sequence-number": 0,
            "last-updated-ms": now,
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [ice_schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": 999 + len(spec_fields),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {"write.format.default": "parquet"},
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        # pin the commit to base 0: two creates racing past the
        # emptiness precheck must make the loser COLLIDE at v1, not
        # recompute from the winner's probed version and silently
        # supersede its table identity at v2 (review r13 pass 5)
        md["_base_version"] = 0
        t._commit_metadata(md)
        return t

    def append_files(self, files: list[DataFileInfo],
                     summary_extra: dict | None = None,
                     branch: str | None = None,
                     pre_check=None) -> int:
        """AppendFiles.appendFile + commit (IcebergMetadataWriter.java:578):
        one new snapshot whose manifest lists exactly these files.

        On a partitioned table every data file must carry its
        partition tuple AND live under a hive-style path
        (``.../<col>=<value>/file.parquet`` below ``<location>/data/``)
        that agrees with the tuple: the manifest tuple drives PRUNING,
        but reads derive the attached partition-column VALUES from the
        path segments (partitionBy-written files don't store the
        columns), so a tuple/path mismatch would prune on one value
        and attach another. Both are validated here. append_dataframe
        produces conforming files; direct callers must too."""
        md0 = self.metadata()
        spec = self._spec_info(md0)
        if spec:
            missing = [f.path for f in files if not f.partition]
            if missing:
                raise ValueError(
                    "partitioned table: data files lack partition "
                    f"tuples (use append_dataframe): {missing[:3]}")
            hist_names: dict[int, set] = {}
            for s_ in md0["schemas"]:
                for f_ in s_["fields"]:
                    hist_names.setdefault(
                        f_["id"], set()).add(f_["name"])
            # identity fields may ride any HISTORICAL name of the
            # source column (the dir key is the write-time name);
            # transform fields always ride the spec FIELD name, and
            # their values live in transform space
            names_by_id = {
                si["source_id"]: (hist_names.get(si["source_id"], set())
                                  if si["transform"] == "identity"
                                  else {si["field_name"]})
                for si in spec}
            type_by_id = {si["source_id"]: si["result_type"]
                          for si in spec}
            # segments are parsed RELATIVE to <location>/data/ — the
            # same anchor the read path uses — so a 'col=value'
            # segment in the table LOCATION can neither satisfy this
            # guard nor be seen by reads (they must agree)
            if self.spark is None:
                # sessionless local mode: no JVM to qualify the path —
                # the rsplit('/data/') fallback below anchors the same
                # way reads do (audit r8: this used to crash with
                # AttributeError on partitioned tables)
                data_prefix = f"{self.location}/data/"
            else:
                _fsv, _pv, _ = self._fs(f"{self.location}/data")
                data_prefix = (_fsv.makeQualified(_pv).toString()
                               .rstrip("/") + "/")
            for f in files:
                rel = (f.path[len(data_prefix):]
                       if f.path.startswith(data_prefix)
                       else f.path.rsplit("/data/", 1)[-1])
                segs = {}
                for seg in rel.split("/"):
                    if "=" in seg:
                        k, v = seg.split("=", 1)
                        segs[k] = v  # raw; _parse url-decodes
                for fid_s, val in (f.partition or {}).items():
                    fid = int(fid_s)
                    hive = [
                        _parse_partition_value(segs[n],
                                               type_by_id.get(fid, "string"))
                        for n in names_by_id.get(fid, ()) if n in segs]
                    if val not in hive:
                        raise ValueError(
                            f"data file {f.path}: partition tuple "
                            f"{{{fid_s}: {val!r}}} has no matching "
                            "hive '<col>=<value>' path segment — reads "
                            "attach partition values from the path, so "
                            "the file must be laid out hive-style "
                            "(use append_dataframe)")
        return self._commit_files(files, content=0, equality_ids=None,
                                  operation="append",
                                  summary_extra=summary_extra,
                                  branch=branch, pre_check=pre_check)

    def _commit_files(self, files: list[DataFileInfo], *, content: int,
                      equality_ids: list[int] | None, operation: str,
                      carry_prior: bool = True,
                      summary_extra: dict | None = None,
                      branch: str | None = None,
                      max_attempts: int = 4,
                      pre_check=None) -> int:
        """One snapshot committing *files* as DATA (content=0) or
        EQUALITY DELETES (content=2, with the equality field-ids).
        ``carry_prior=False`` makes it a REPLACE snapshot: the new
        manifest list starts empty instead of carrying the previous
        snapshot's manifests (rewrite_data_files).

        OPTIMISTIC CONCURRENCY: a commit that loses the
        single-winner claim race RE-PLANS from fresh metadata —
        new base version, new sequence number, new parent, re-carried
        manifests — and retries (the reference's IcebergMetadataWriter
        commit-retry loop; data FILES are immutable, so only the
        metadata layer is rebuilt). After ``max_attempts`` losses the
        race error propagates."""
        last_err = None
        for attempt in range(max_attempts):
            try:
                return self._commit_files_once(
                    files, content=content, equality_ids=equality_ids,
                    operation=operation, carry_prior=carry_prior,
                    summary_extra=summary_extra, branch=branch,
                    pre_check=pre_check)
            except RuntimeError as ex:
                if "concurrent commit" not in str(ex):
                    raise
                last_err = ex
                # linear backoff de-synchronizes contending committers
                # (Iceberg's commit.retry.*-wait-ms analog) — without
                # it N fast metadata writers can livelock through all
                # attempts re-colliding in the same window
                time.sleep(0.02 * attempt)
        raise last_err

    def _commit_files_once(self, files: list[DataFileInfo], *,
                           content: int,
                           equality_ids: list[int] | None,
                           operation: str,
                           carry_prior: bool = True,
                           summary_extra: dict | None = None,
                           branch: str | None = None,
                           pre_check=None) -> int:
        md = self.metadata()
        if pre_check is not None:
            # caller guards that must hold against the metadata this
            # attempt actually commits on — a losing racer re-plans
            # from a FRESH read, so stale-read guards (cherry_pick's
            # double-count check) re-run here, same placement as the
            # epoch-token re-check below
            pre_check(md)
        # exactly-once epoch guard INSIDE the CAS retry: two concurrent
        # committers of the same epoch (zombie driver + restarted
        # query) can both pass the caller's token scan; the loser's
        # retry re-plans from fresh metadata, so the fresh read is
        # where the token must be re-checked — otherwise it commits a
        # duplicate snapshot carrying the same epoch-token
        tok = (summary_extra or {}).get("epoch-token")
        if tok is not None:
            for s in md.get("snapshots", []):
                if s.get("summary", {}).get("epoch-token") == tok:
                    return s["snapshot-id"]
        seq = md["last-sequence-number"] + 1
        snap_id = int(uuid.uuid4().int % (1 << 62))
        now = int(time.time() * 1000)

        spec_def = self._spec_fields_def(md)
        sid_by_name = {pf["name"]: pf["source-id"] for pf in spec_def}

        def _part_record(f: DataFileInfo):
            # in-memory tuples are {str(source field-id): value}; the
            # manifest stores the spec's TYPED r102 record (one field
            # per spec entry, spec field-ids 1000+) — generic Avro
            # readers decode it without knowing our JSON convention
            if not f.partition:
                return None
            return {name: f.partition.get(str(sid))
                    for name, sid in sid_by_name.items()}

        entries = [{
            "status": 1,  # ADDED
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": content,
                "file_path": f.path,
                "file_format": f.file_format,
                "record_count": f.record_count,
                "file_size_in_bytes": f.size_bytes,
                "equality_ids": equality_ids,
                "lower_bounds": _bounds_to_avro(f.lower_bounds),
                "upper_bounds": _bounds_to_avro(f.upper_bounds),
                "partition": _part_record(f),
            },
        } for f in files]
        manifest_path = (f"{self.location}/metadata/"
                         f"manifest-{uuid.uuid4().hex}.avro")
        mbytes = ACF.write_container_bytes(
            entries, json.dumps(self._manifest_entry_schema(md)))
        mlen = self._write_bytes(manifest_path, mbytes)

        # parent head: the target BRANCH's head when committing to a
        # branch (spec "References" — main tracks current-snapshot-id)
        refs = md.setdefault("refs", {})
        if branch and branch != "main":
            if branch in refs and refs[branch].get("type") == "tag":
                raise ValueError(f"cannot commit to tag {branch!r}")
            parent = refs.get(branch, {}).get(
                "snapshot-id", md["current-snapshot-id"])
        else:
            parent = md["current-snapshot-id"]
        # carry forward the PARENT's manifests (append-only table); a
        # REPLACE snapshot starts fresh instead
        prior = []
        if carry_prior and parent != -1:
            cur = next(s for s in md["snapshots"]
                       if s["snapshot-id"] == parent)
            _, prior = ACF.read_container(self._read_bytes(cur["manifest-list"]))
        # field_summary per spec field (spec 507/508): min/max over
        # this manifest's partition tuples + null presence — the
        # manifest-level pruning index
        summaries = None
        if spec_def:
            type_by_sid = {sid: t
                           for _, t, sid in self._partition_spec_cols(md)}
            summaries = []
            for pf in spec_def:
                t_ice = type_by_sid[pf["source-id"]]
                vals = [(f.partition or {}).get(str(pf["source-id"]))
                        for f in files]
                nn = [v for v in vals if v is not None]
                summaries.append({
                    "contains_null": any(v is None for v in vals),
                    "contains_nan": None,
                    "lower_bound": _summary_ser(min(nn), t_ice) if nn else None,
                    "upper_bound": _summary_ser(max(nn), t_ice) if nn else None,
                })
        new_entry = {
            "manifest_path": manifest_path, "manifest_length": mlen,
            # manifest_file.content: 0 = data manifest, 1 = deletes
            "partition_spec_id": md["default-spec-id"],
            "content": 0 if content == 0 else 1,
            "sequence_number": seq, "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(files), "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": sum(f.record_count for f in files),
            "existing_rows_count": 0, "deleted_rows_count": 0,
            "partitions": summaries,
        }
        mlist_path = (f"{self.location}/metadata/"
                      f"snap-{snap_id}-{uuid.uuid4().hex}.avro")
        self._write_bytes(mlist_path, ACF.write_container_bytes(
            prior + [new_entry], json.dumps(_MANIFEST_LIST_SCHEMA)))

        md["snapshots"].append({
            "snapshot-id": snap_id, "sequence-number": seq,
            "parent-snapshot-id": None if parent == -1 else parent,
            "timestamp-ms": now, "manifest-list": mlist_path,
            "schema-id": md["current-schema-id"],
            "summary": {"operation": operation,
                        "added-data-files": str(len(files)),
                        "added-records":
                            str(sum(f.record_count for f in files)),
                        **(summary_extra or {})},
        })
        if branch and branch != "main":
            # branch commit: ONLY the ref moves — main (current) and
            # the snapshot log are untouched, which is the isolation
            # the write-audit-publish pattern rides on
            refs[branch] = {"snapshot-id": snap_id, "type": "branch"}
        else:
            md["current-snapshot-id"] = snap_id
            refs["main"] = {"snapshot-id": snap_id, "type": "branch"}
            md["snapshot-log"].append(
                {"timestamp-ms": now, "snapshot-id": snap_id})
        md["last-sequence-number"] = seq
        md["last-updated-ms"] = now
        try:
            self._commit_metadata(md)
        except RuntimeError:
            # a lost CAS re-plans and writes FRESH manifest + list
            # files — reclaim this attempt's two, or metadata/ grows
            # one orphan pair per lost race forever (audit r8;
            # remove_orphan_files sweeps only data/)
            for p in (mlist_path, manifest_path):
                try:
                    if self.spark is None:
                        if _claim.is_local(p):
                            os.remove(self._local(p))
                        else:
                            _delete_any(p)
                    else:
                        fs, jp, _ = self._fs(p)
                        fs.delete(jp, False)
                except Exception:
                    pass
            raise
        return snap_id

    def append_dataframe(self, df: DataFrame,
                         summary_extra: dict | None = None,
                         branch: str | None = None) -> int:
        """Write *df* as parquet files under ``data/`` and commit them
        as one append snapshot. Per-file record counts come from the
        parquet footers (metadata reads, no data scan). The frame is
        conformed to the CURRENT table schema first, which also
        attaches the ``parquet.field.id`` metadata so the files embed
        spec field-ids — the handle rename/drop evolution resolves
        against. NOTE: identity-partition values ride the hive dir
        layout, which represents null and '' identically
        (__HIVE_DEFAULT_PARTITION__); both read back as null — use
        non-empty partition values or an unpartitioned table when ''
        must be distinguishable."""
        md = self.metadata()
        cur = next(s for s in md["schemas"]
                   if s["schema-id"] == md["current-schema-id"])
        df = _conform_with_ids(df, _spark_struct(cur))
        sub = f"{self.location}/data/{uuid.uuid4().hex[:12]}"
        df, part_names = self._with_partition_cols(df, md)
        if part_names:
            try:
                explicit = "Repartition" in (
                    df._jdf.queryExecution().logical().toString())
            except Exception:
                explicit = True
            if not explicit:
                # hash-cluster rows on the partition tuple before the
                # dynamic-partition write (Iceberg's
                # write.distribution-mode=hash): one task per partition
                # value, instead of every input task writing every
                # partition's files — sequentially when the input is a
                # single split (A/B at sf0.1: the 40-partition fixture
                # append 0.83 -> 0.40 s; same one-file-per-partition
                # layout). Explicit width pins the exchange against
                # AQE's small-input coalescing; callers that already
                # chose a layout (coalesce/repartition in the plan)
                # are left alone.
                df = df.repartition(
                    df.sparkSession.sparkContext.defaultParallelism,
                    *part_names)
        w = df.write.mode("overwrite")
        if part_names:
            w = w.partitionBy(*part_names)
        w.parquet(sub)
        return self.append_files(self._list_committed_files(sub),
                                 summary_extra=summary_extra,
                                 branch=branch)

    def append_dataframe_groups(self, df: DataFrame, group_col: str,
                                groups: list) -> list[int]:
        """ONE Spark write job, one append snapshot PER GROUP, committed
        in *groups* order — the multi-snapshot backfill/fixture shape
        (N ordered commits whose data is all known up front). The r13
        shape ran one full write job per snapshot; each job costs a
        command round trip + scheduling that this batches away, while
        the snapshots stay exactly as distinct as sequential appends
        (own manifests, own summaries, ordered ordinals — changelog
        replay and time travel see the same history).

        The caller's layout is honored: each input task writes one
        file per group it holds (a single-split fixture scan therefore
        yields exactly one file per group from ONE scan pass — no
        exchange; an explicit repartition on the group column was
        measured SLOWER here, +2 MB shuffle of the payload for a
        fixture whose write is two tiny files). Files are staged
        partitioned by the group, moved under ``data/`` (one rename
        per group — the same primitive the publish protocol relies
        on), and committed group by group. Unpartitioned tables only
        (a partitioned table would need hive layout per group AND per
        partition); group values must be hive-dir-safe scalars."""
        md = self.metadata()
        if self._spec_info(md):
            raise ValueError(
                "append_dataframe_groups supports unpartitioned tables "
                "only (partitioned appends need the hive layout per "
                "partition — use append_dataframe per group)")
        cur = next(s for s in md["schemas"]
                   if s["schema-id"] == md["current-schema-id"])
        target = _spark_struct(cur)
        from pyspark.sql import functions as F
        cols = [
            (F.col(f.name) if f.name in df.columns else F.lit(None))
            .cast(f.dataType).alias(f.name, metadata=dict(f.metadata))
            for f in target.fields]
        d = df.select(*cols, F.col(group_col).cast("string").alias("_grp"))
        tmp = f"{self.location}/_staged_groups_{uuid.uuid4().hex[:12]}"
        d.write.mode("overwrite").partitionBy("_grp").parquet(tmp)
        snap_ids: list[int] = []
        try:
            for v in groups:
                gdir = f"{tmp}/_grp={v}"
                sub = f"{self.location}/data/{uuid.uuid4().hex[:12]}"
                self._rename_dir(gdir, sub)
                snap_ids.append(
                    self.append_files(self._list_committed_files(sub)))
        finally:
            try:
                if self._session_claims_local(tmp):
                    shutil.rmtree(self._local(tmp), ignore_errors=True)
                else:
                    fs, p, _ = self._fs(tmp)
                    if fs.exists(p):
                        fs.delete(p, True)
            except Exception:
                pass
        return snap_ids

    def _rename_dir(self, src: str, dst: str) -> None:
        """Move *src* to *dst* (local: one rename syscall; remote
        schemes: Hadoop FS rename). Raises if the move fails — a
        silently-missing group dir must not commit an empty snapshot."""
        if self._session_claims_local(src):
            ldst = self._local(dst)
            os.makedirs(os.path.dirname(ldst), exist_ok=True)
            os.rename(self._local(src), ldst)
            return
        fs, sp, jvm = self._fs(src)
        dp = jvm.org.apache.hadoop.fs.Path(dst)
        fs.mkdirs(dp.getParent())
        if not fs.rename(sp, dp):
            raise IOError(f"rename {src} -> {dst} failed")

    def append_dataframe_idempotent(self, df: DataFrame,
                                    token: str,
                                    branch: str | None = None) -> int:
        """EXACTLY-ONCE sink contract for streaming foreachBatch: the
        epoch token rides the snapshot summary IN THE SAME metadata
        commit as the append (no stamp-after-commit crash window), so
        a replayed epoch — Structured Streaming re-delivers the whole
        batch after a failure — short-circuits to the already-
        committed snapshot id and writes NOTHING. This is the
        FlushingExtractor epoch-commit idea expressed on the table
        format: commit-or-skip keyed on a durable token, the same
        pattern Iceberg's own commit dedup (snapshot summary
        properties) supports."""
        for s in self.metadata().get("snapshots", []):
            if s.get("summary", {}).get("epoch-token") == token:
                return s["snapshot-id"]
        return self.append_dataframe(
            df, summary_extra={"epoch-token": token}, branch=branch)

    def _with_partition_cols(self, df: DataFrame,
                             md: dict | None = None):
        """(df with transform partition columns attached, [partition
        field names to partitionBy]). Identity fields partition by the
        source column itself (partitionBy then drops it from the file
        — reads re-attach from the path). Transform fields get a
        COMPUTED column named after the spec field: truncate stays
        JVM-side (pmod/substring — codegen, no Python), bucket is an
        Arrow-batched pandas UDF around the spec murmur3 (Spark's
        hash() is seed-42 Murmur3 over different bytes — engine-
        incompatible). The computed column is dropped by partitionBy,
        so data files carry exactly the table schema."""
        from pyspark.sql import functions as F

        names = []
        for si in self._spec_info(md):
            if si["transform"] == "identity":
                # partitionBy the CURRENT source column name — the
                # frozen spec-field name breaks append/rewrite after
                # rename_column (audit r8; reads already resolve any
                # historical dir name via hist_names)
                names.append(si["source_name"])
                continue
            names.append(si["field_name"])
            src, t_ice = si["source_name"], si["source_type"]
            if si["transform"] == "truncate":
                w = si["param"]
                if t_ice == "string":
                    col = F.substring(F.col(src), 1, w)
                else:
                    col = (F.col(src)
                           - F.pmod(F.col(src), F.lit(w))).cast(
                               "int" if t_ice == "int" else "long")
                df = df.withColumn(si["field_name"], col)
            elif si["transform"] in _TEMPORAL_TRANSFORMS:
                epoch = F.lit("1970-01-01").cast("date")
                if t_ice == "timestamptz":
                    # INSTANT source: ordinals are defined in UTC
                    # (Iceberg spec; every engine agrees) — session-tz
                    # casts would shift them and break pruning under a
                    # non-UTC session (audit r8). Epoch math is
                    # tz-independent; the UTC calendar date comes from
                    # the day ordinal.
                    secs = F.col(src).cast("long")
                    days = F.floor(secs / 86400).cast("int")
                    d = F.date_add(epoch, days)
                    col = {
                        "year": F.year(d) - 1970,
                        "month": (F.year(d) - 1970) * 12
                        + F.month(d) - 1,
                        "day": days,
                        "hour": F.floor(secs / 3600),
                    }[si["transform"]]
                else:
                    # NTZ/date sources: wall-clock fields, no tz at all
                    d = F.col(src).cast("date")
                    col = {
                        "year": F.year(d) - 1970,
                        "month": (F.year(d) - 1970) * 12
                        + F.month(d) - 1,
                        "day": F.datediff(d, epoch),
                        "hour": F.datediff(d, epoch) * 24
                        + F.hour(F.col(src)),
                    }[si["transform"]]
                df = df.withColumn(si["field_name"], col.cast("int"))
            else:  # bucket
                n = si["param"]
                if t_ice in ("int", "long"):
                    # the common bucket[N](int/long) path is a fixed
                    # two-block murmur3 — pure codegen, no Python
                    # boundary in the write plan at all (guide §4.1;
                    # r13: replaced the Arrow pandas UDF)
                    df = _with_bucket_int64(df, src, si["field_name"], n)
                    continue
                from pyspark.sql.functions import pandas_udf

                def _bucket_series(s, _t=t_ice, _n=n):
                    import pandas as pd

                    # strings/dates/decimals: scalar spec serialization
                    return s.map(lambda v: None if pd.isna(v)
                                 else _iceberg_bucket(v, _t, _n))
                b = pandas_udf(_bucket_series, "int")
                df = df.withColumn(si["field_name"], b(F.col(src)))
        return df, names

    # -- reads ----------------------------------------------------------
    def snapshots(self) -> list[dict]:
        return self.metadata()["snapshots"]

    def snapshot_as_of(self, timestamp_ms: int) -> int:
        """TIME TRAVEL by timestamp (SparkSQL's ``TIMESTAMP AS OF`` /
        SnapshotUtil.snapshotIdAsOfTime): the snapshot that was MAIN's
        current as of *timestamp_ms* — resolved from the snapshot-log
        (which records every time main moved: commits, rollbacks,
        fast-forward publishes), not from raw snapshot timestamps (a
        branch snapshot's own timestamp says nothing about when main
        saw it). Raises when the table has no history that old."""
        md = self.metadata()
        log = [e for e in md.get("snapshot-log", [])
               if e["timestamp-ms"] <= timestamp_ms]
        if not log:
            raise ValueError(
                f"no snapshot as of {timestamp_ms} — table history "
                "starts later (or was expired past it)")
        return log[-1]["snapshot-id"]

    def read_as_of(self, timestamp_ms: int, **kwargs) -> DataFrame:
        """``read()`` pinned to the snapshot main showed at
        *timestamp_ms* (reproducibility handle: re-run yesterday's
        training job against yesterday's table)."""
        return self.read(snapshot_id=self.snapshot_as_of(timestamp_ms),
                         **kwargs)

    def _window_commits(self, md: dict, chain: list[dict], lo: int,
                        hi: int, label: str):
        """The incremental window walker of changelog() and the DSv2
        stream reader: one ``_Commit`` per commit of *chain* (a head's
        ancestry, head first) with sequence in (lo, hi], in sequence
        order. Replace commits are content-neutral and not yielded.

        Replaces and overwrites supersede every earlier manifest, so
        they split the window into eras (``_split_eras``): the commits
        of an era are read from ONE memoized ``_entries`` walk, where
        they are still live under their own sequences, and an
        overwrite from the walks at it and at its parent. It never
        walks once per commit."""
        snaps = {s["snapshot-id"]: s for s in md["snapshots"]}
        win = sorted((s for s in chain
                      if lo < s.get("sequence-number", 0) <= hi),
                     key=lambda s: s["sequence-number"])
        op = {s["snapshot-id"]: s.get("summary", {}).get("operation")
              for s in win}
        head = max((s for s in chain
                    if s.get("sequence-number", 0) <= hi),
                   key=lambda s: s.get("sequence-number", 0), default={})
        eras = _split_eras(
            [s for s in win
             if op[s["snapshot-id"]] in ("replace", "overwrite")],
            lo, hi, snaps, chain, head.get("snapshot-id"), label)
        walks: dict = {None: []}
        by_seq: dict = {None: {}}

        def walk(sid):
            if sid not in walks:
                walks[sid] = self._entries(sid, md=md)
                by_seq[sid] = {}
                for e in walks[sid]:
                    by_seq[sid].setdefault(
                        e["sequence_number"], []).append(e)
            return walks[sid]

        for s in win:
            sid, seq = s["snapshot-id"], s["sequence-number"]
            parent = s.get("parent-snapshot-id")
            if op[sid] == "replace":
                continue
            removed = []
            if op[sid] == "overwrite":
                at, prior = sid, parent if parent in snaps else None
                live = {e["info"].path for e in walk(at)}
                removed = [e for e in walk(prior)
                           if e["info"].path not in live]
            else:
                at = prior = next((w for e_lo, w, e_hi in eras
                                   if e_lo < seq <= e_hi), None)
                walk(at)
            yield _Commit(
                s, op[sid], parent, by_seq[at].get(seq, []), removed,
                lambda w=prior, q=seq: [e for e in walks[w]
                                        if e["sequence_number"] < q])

    def changelog(self, from_snapshot_id: int | None,
                  to_snapshot_id: int | None = None,
                  ref: str | None = None) -> DataFrame:
        """Iceberg's changelog read, the engine face of the reference's
        incremental copy (IcebergDatasetFinder plans exactly this
        delta): the change rows of every commit after
        *from_snapshot_id* (exclusive) up to *to_snapshot_id*
        (inclusive, default main's head), each stamped
        ``_change_type`` and ``_commit_snapshot_id``.

        One rule covers every commit shape. For each non-replace
        commit c with parent p in the window:

        - inserts: every row of the data files c adds, stamped c.
          This is before c's own deletes apply, so a row that c's own
          position delete kills emits both an insert and a delete.
        - deletes: every row that was live just before c and is not
          live at c, once each, stamped c. "Live just before c" means
          live at p, or in a file that c adds. Rows are keyed by
          (``_metadata.file_path``, ``_metadata.row_index``).

        Replace commits (compaction) emit nothing. A row inserted and
        deleted inside one window yields both records: a per-commit
        changelog, not net changes.

        Planning walks manifest metadata only (``_window_commits``).
        The inserts of the whole window are ONE multi-path scan per
        partition spec, stamped through a broadcast file→commit
        lookup. A commit's deletes read only the files it touches: the
        files it removes, the files its position deletes reference
        and, for equality deletes, the live earlier files, with p's
        delete residue applied by read()'s anti-joins. A run of
        consecutive equality-delete-only commits shares one persisted
        ``read(p)`` (at most ``_EQ_RUN_CAP`` commits), freed by the
        next call or ``release_changelog_cache``.

        ``ref``: diff a branch or tag head instead of main (mutually
        exclusive with *to_snapshot_id*)."""
        from pyspark.sql import functions as F

        if ref is not None:
            if to_snapshot_id is not None:
                raise ValueError("pass to_snapshot_id OR ref")
            to_snapshot_id = self.ref_snapshot(ref)
        # the previous call's eq-run frames must outlive its lazy
        # result, so this call is their release point
        self.release_changelog_cache()
        md = self.metadata()
        snaps = {s["snapshot-id"]: s for s in md["snapshots"]}
        to_id = (md["current-snapshot-id"] if to_snapshot_id is None
                 else to_snapshot_id)
        for sid in (from_snapshot_id, None if to_id == -1 else to_id):
            if sid is not None and sid not in snaps:
                raise ValueError(f"changelog: snapshot {sid} is not a "
                                 "retained snapshot — it expired (or "
                                 "never existed)")
        if to_id == -1:
            return self._empty_changelog(self._schema_for(None, md))
        # walk TO_ID's ancestry, not the head's: a rolled-back main or
        # a diverged branch shares sequences with commits to_id never
        # saw, and the window would emit their inserts without the
        # abandoned lineage's retractions
        chain = self._main_ancestry({**md, "current-snapshot-id": to_id})
        if (from_snapshot_id is not None
                and from_snapshot_id not in {s["snapshot-id"]
                                             for s in chain}):
            raise ValueError(
                f"changelog: from_snapshot_id {from_snapshot_id} is not "
                f"an ancestor of the window head {to_id} — an upstream "
                "rollback_to abandoned it, or it lives on a diverged "
                "branch; diff from a shared ancestor instead")
        commits = list(self._window_commits(
            md, chain, 0 if from_snapshot_id is None
            else snaps[from_snapshot_id]["sequence-number"],
            snaps[to_id]["sequence-number"], "changelog"))
        st = self._read_schema(md, to_id)
        names = [f.name for f in st.fields]
        id_to_name = {f["id"]: f["name"]
                      for f in self._ice_schema_for(to_id, md)["fields"]}
        snap_name_to_id, hist_names, data_prefix = \
            self._partition_attach_ctx(md, to_id)
        @cache
        def _refs(path: str) -> frozenset:
            # a delete file's referenced paths, read driver-side once
            # per call (delete files are immutable)
            import pyarrow.parquet as _pq
            return frozenset(_pq.read_table(
                _open_input_file_any(path),
                columns=["file_path"])["file_path"].to_pylist())

        def _forms(e) -> set:
            # manifests store the literal Path.toString(), delete files
            # and _metadata.file_path the URI form (_path_uri_form)
            return {e["info"].path, self._path_uri_form(e["info"].path)}

        def _scan_grouped(entries, with_pos: bool):
            """ONE multi-path scan per partition spec over *entries*,
            identity columns re-attached, carrying the file path (and
            with *with_pos* the row index) as ``_cl_fp``/``_cl_pos``."""
            scans = []
            for sp in sorted({e.get("spec_id", 0) for e in entries}):
                ids = {si["source_id"] for si in self._spec_info(md, sp)
                       if si["transform"] == "identity"}
                part = self.spark.read.schema(T.StructType([
                    f for f in st.fields
                    if snap_name_to_id.get(f.name) not in ids])).parquet(
                        *[e["info"].path for e in entries
                          if e.get("spec_id", 0) == sp])
                if ids:
                    part = self._attach_identity_cols(
                        part, st, ids, snap_name_to_id, hist_names,
                        data_prefix)
                scans.append(part.select(
                    *names, F.col("_metadata.file_path").alias("_cl_fp"),
                    *([F.col("_metadata.row_index").alias("_cl_pos")]
                      if with_pos else [])))
            return reduce(DataFrame.unionByName, scans)

        def _parent_live(entries, p_dels):
            """Rows of *entries* live just before a commit whose parent
            holds the delete files *p_dels*, keyed (_cl_fp, _cl_pos):
            one grouped scan with the applicable residue anti-joined by
            read()'s shared helper. Equality deletes apply to strictly
            earlier files, position deletes to the files they
            reference."""
            min_seq = min(e["sequence_number"] for e in entries)
            paths = set().union(*map(_forms, entries))
            eq_app = [e for e in p_dels if e["content"] == 2
                      and e["sequence_number"] > min_seq]
            pos_app = [d for d in p_dels if d["content"] == 1
                       and _refs(d["info"].path) & paths]
            out = _scan_grouped(entries, with_pos=True)
            if not (eq_app or pos_app):
                return out
            return self._anti_join_deletes(
                self._path_lookup(
                    out, [(self._path_uri_form(e["info"].path),
                           e["sequence_number"]) for e in entries],
                    "_data_seq", "sequence"),
                pos_app, eq_app, st, id_to_name,
                fp_col="_cl_fp", pos_col="_cl_pos")

        parts = []
        window = [e for c in commits for e in c.added if e["content"] == 0]
        if window:
            parts.append(self._path_lookup(
                _scan_grouped(window, with_pos=False),
                self._changelog_lookup(
                    window, {s["sequence-number"]: s["snapshot-id"]
                             for s in md["snapshots"]}),
                "_commit_snapshot_id", "commit")
                .withColumn("_change_type", F.lit("insert"))
                .select(*names, "_change_type", "_commit_snapshot_id"))

        _alias = count()

        def _group(right, on, sid):
            """A retraction group: the base rows matching *right* on
            [(base column, right column)] null-safely, stamped *sid*."""
            a = f"_g{next(_alias)}"
            cond = F.lit(True)
            for b_col, r_col in on:
                cond = cond & F.col(f"_b.{b_col}").eqNullSafe(
                    F.col(f"{a}.{r_col}"))
            return right.alias(a), cond, sid

        def _eq_groups(dfiles, sid):
            # one group per equality-id set; the tuple columns resolve
            # by field-id against to_id's schema, as read() does
            by_ids: dict[tuple, list] = {}
            for e in dfiles:
                by_ids.setdefault(tuple(e["equality_ids"] or ()),
                                  []).append(e["info"].path)
            return [_group(self.spark.read.schema(T.StructType(
                [st[id_to_name[i]] for i in ids])).parquet(*paths),
                [(id_to_name[i], id_to_name[i]) for i in ids], sid)
                for ids, paths in sorted(by_ids.items())]

        def _retract(base, groups):
            """The per-commit diff: each group's rows of *base*, once
            each — the group's own side semi-joined after every
            earlier group's is anti-joined out."""
            for right, cond, sid in groups:
                parts.append(base.join(F.broadcast(right), cond,
                                       "left_semi").select(
                    *names, F.lit("delete").alias("_change_type"),
                    F.lit(sid).cast("long").alias("_commit_snapshot_id")))
                base = base.join(F.broadcast(right), cond, "left_anti")

        runs: list[list[_Commit]] = []
        for c in commits:
            sid = c.snap["snapshot-id"]
            if c.op not in ("append", "delete", "overwrite", None):
                raise NotImplementedError(
                    f"non-append snapshot (operation={c.op!r}) in the "
                    "changelog window")
            eq_only = c.added and not c.removed and all(
                e["content"] == 2 for e in c.added)
            # an overwrite's removed rows and an equality run's base
            # are read at the parent
            if (eq_only or c.op == "overwrite") and c.parent not in snaps:
                raise ValueError(
                    f"changelog: snapshot {sid} has no retained parent — "
                    "the rows it removed are not reconstructable")
            if eq_only:
                # extends the equality run its parent ends
                if (runs and len(runs[-1]) < _EQ_RUN_CAP
                        and c.parent == runs[-1][-1].snap["snapshot-id"]):
                    runs[-1].append(c)
                else:
                    runs.append([c])
                continue
            d_pos = [e["info"].path for e in c.added if e["content"] == 1]
            d_eq = [e for e in c.added if e["content"] == 2]
            gone = set().union(*(_forms(e) for e in c.removed
                                 if e["content"] == 0))
            if not (d_pos or d_eq or gone):
                continue  # an append
            before = c.before()
            refs = set().union(*map(_refs, d_pos))

            def _pos():
                return ([_group(
                    self.spark.read.schema(_POS_SCHEMA).parquet(*d_pos),
                    [("_cl_fp", "file_path"), ("_cl_pos", "pos")], sid)]
                    if d_pos else [])
            gone_group = ([_group(
                local_rows_df(self.spark, [(p,) for p in sorted(gone)],
                              "path string"), [("_cl_fp", "path")], sid)]
                if gone else [])
            for ents, groups in (
                    # p's live files c removes or its deletes reach ...
                    ([e for e in before if e["content"] == 0
                      and (d_eq or e["info"].path in gone
                           or _forms(e) & refs)],
                     gone_group + _eq_groups(d_eq, sid) + _pos()),
                    # ... and c's own files, which only its position
                    # deletes reach
                    ([e for e in c.added if e["content"] == 0
                      and _forms(e) & refs], _pos())):
                if ents and groups:
                    _retract(_parent_live(
                        ents, [e for e in before if e["content"]])
                        .alias("_b"), groups)

        for run in runs:
            base = run[0].parent
            groups = [g for c in run
                      for g in _eq_groups(c.added, c.snap["snapshot-id"])]
            prev = self.read(snapshot_id=base)
            if len(groups) > 1:
                prev = prev.persist()
                self._changelog_cached.append(prev)
            # the base reads under ITS schema: map to to_id's names by
            # field-id, null-filling columns added after it
            p_name = {f["id"]: f["name"]
                      for f in self._ice_schema_for(base, md)["fields"]}
            p_col = {n: p_name.get(i) for i, n in id_to_name.items()}
            _retract(prev.select(*[
                prev[p_col[f.name]].alias(f.name)
                if p_col[f.name] in prev.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in st.fields]).alias("_b"), groups)

        return (reduce(DataFrame.unionByName, parts) if parts
                else self._empty_changelog(st))

    def _empty_changelog(self, st: T.StructType) -> DataFrame:
        """An empty changelog frame: ``st`` plus the two change
        columns."""
        return local_rows_df(self.spark, [], T.StructType(
            list(st.fields)
            + [T.StructField("_change_type", T.StringType()),
               T.StructField("_commit_snapshot_id", T.LongType())]))

    def release_changelog_cache(self) -> int:
        """Unpersist the base frames the last changelog() call cached
        for equality-delete run sharing (each is a full reconstructed
        table state). Called automatically at the start of the next
        changelog(); call it directly once a returned changelog frame
        has been consumed to free executor storage early. Returns the
        number of frames released."""
        n = len(self._changelog_cached)
        for df in self._changelog_cached:
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped
        self._changelog_cached.clear()
        return n

    def _path_uri_form(self, p: str) -> str:
        """Hadoop ``Path.toUri().toString()`` of a literal manifest
        path — the form ``_metadata.file_path`` reports (a space in an
        identity-partition dir arrives as %20). Paths made only of
        URI-safe chars are identical in both forms (every
        engine-written unpartitioned file: uuid names, clean roots) —
        the JVM round-trip runs only for the rest."""
        if _URI_SAFE_RE.match(p):
            return p
        return str(self.spark._jvm.org.apache.hadoop.fs.Path(p)
                   .toUri().toString())

    def _path_lookup(self, out, rows, col: str, what: str):
        """*out* left-joined on ``_cl_fp`` (its rows' ``_metadata.file_path``)
        with the broadcast (path, *col*) *rows*, paths in
        ``_path_uri_form``. A scanned file missing from them, a
        path-form mismatch, raises instead of leaving *col* NULL: a NULL
        stamp would bucket rows under a phantom commit, a NULL sequence
        silently skip the delete anti-joins."""
        from pyspark.sql import functions as F

        lk = local_rows_df(self.spark, rows, f"_lk_path string, {col} long")
        return out.join(
            F.broadcast(lk), out["_cl_fp"] == lk["_lk_path"], "left"
        ).withColumn(col, F.when(F.col(col).isNull(), F.raise_error(
            F.concat(F.lit(f"scanned file missing from the {what} "
                           "lookup (path-form mismatch): "),
                     F.col("_cl_fp"))).cast("long"),
        ).otherwise(F.col(col)))

    def _changelog_lookup(self, window: list[dict],
                          seq_of_snap: dict[int, int]) -> list[tuple]:
        """The changelog's file→committing-snapshot rows, keyed by the
        URI form ``_metadata.file_path`` reports, while manifests
        store the listing's literal Path.toString() —
        see ``_path_uri_form``."""
        return [(self._path_uri_form(e["info"].path),
                 seq_of_snap.get(e["sequence_number"])) for e in window]

    def _read_schema(self, md: dict, snapshot_id: int | None
                     ) -> T.StructType:
        """The schema a scan of *snapshot_id* reads with. Columns
        resolve BY FIELD-ID (the spec's projection rule) exactly when
        the schema history demands it — some id was renamed or
        dropped, so name matching would be wrong. The conf is
        session-sticky, so for plain histories (including tables
        written before files embedded ids) the schema is STRIPPED of id
        metadata instead: name resolution, and an earlier evolved-table
        read in the same session cannot leak id-resolution into this
        one."""
        st = self._schema_for(snapshot_id, md)
        if self._needs_id_resolution(md):
            self.spark.conf.set("spark.sql.parquet.fieldId.read.enabled",
                                "true")
            return st
        return T.StructType([T.StructField(f.name, f.dataType, f.nullable)
                             for f in st.fields])

    def _entries(self, snapshot_id: int | None = None,
                 prune_parts: list[tuple] | None = None,
                 md: dict | None = None) -> list[dict]:
        """Live manifest entries of a snapshot: [{info: DataFileInfo,
        content: 0|2, sequence_number, equality_ids}].

        ``prune_parts`` — [(source field-id, op, value)] in SOURCE
        space — enables MANIFEST-level skipping via the manifest
        list's field_summary records (spec 507/508): each predicate is
        projected through the spec the MANIFEST was written under
        (partition_spec_id — partition evolution means different
        manifests carry different specs), and excluded data manifests
        are never opened. ``last_manifest_scan`` records
        manifests_total / manifests_skipped. Each returned entry
        carries its ``spec_id``."""
        md = md or self.metadata()
        sid = self._snapshot_id(md, snapshot_id)
        if sid is None:
            sid = md["current-snapshot-id"]
        if sid == -1:
            return []
        snap = next(s for s in md["snapshots"] if s["snapshot-id"] == sid)
        _, manifests = ACF.read_container(self._read_bytes(snap["manifest-list"]))

        spec_cache: dict[int, list] = {}

        def _info_for(spec_id: int) -> list[dict]:
            if spec_id not in spec_cache:
                spec_cache[spec_id] = self._spec_info(md, spec_id)
            return spec_cache[spec_id]

        def _summary_excludes(m, info) -> bool:
            # spec "Scan Planning": skip a DATA manifest when its
            # field_summary proves no file inside can match — each
            # SOURCE predicate projected through THIS manifest's spec.
            # Absent summaries (legacy lists) keep the manifest;
            # incomparable types keep it (never wrongly skip).
            # All-null partition values can't satisfy a comparison
            # predicate, so a boundless summary with a predicate on
            # that field skips.
            sums = m.get("partitions")
            if not sums or not prune_parts:
                return False
            for psid, op, value in prune_parts:
                for i, si in enumerate(info):
                    if si["source_id"] != psid or i >= len(sums):
                        continue
                    proj = _project_pred(si, op, value)
                    if proj is None:
                        continue
                    pop, pval = proj
                    t_ice = si["result_type"]
                    lo = _summary_deser(sums[i].get("lower_bound"), t_ice)
                    hi = _summary_deser(sums[i].get("upper_bound"), t_ice)
                    if lo is None or hi is None:
                        return True
                    if t_ice == "float":
                        lo, hi = _widen_float32_bounds(lo, hi)
                    if type(lo) is not type(pval) and not (
                            isinstance(lo, (int, float))
                            and isinstance(pval, (int, float))):
                        continue
                    try:
                        may = _range_may_match(lo, hi, pop, pval)
                    except TypeError:
                        continue
                    if not may:
                        return True
            return False

        self.last_manifest_scan = {"manifests_total": 0,
                                   "manifests_skipped": 0}
        # the manifest LIST is one small driver-side read; summary
        # skipping happens here in both planning modes. What scales
        # with live-file count is opening+decoding the surviving
        # manifests — that is the part the distributed mode fans out.
        open_list: list[tuple[str, int]] = []
        for m in manifests:
            m_spec = m.get("partition_spec_id", 0)
            info = _info_for(m_spec)
            if m.get("content", 0) == 0:
                # delete manifests are never skipped: a delete applies
                # across partitions and is correctness-critical
                self.last_manifest_scan["manifests_total"] += 1
                if _summary_excludes(m, info):
                    self.last_manifest_scan["manifests_skipped"] += 1
                    continue
            open_list.append((m["manifest_path"], m_spec,
                              m.get("sequence_number") or 0))

        if (self.planning == "distributed" and self.spark is not None
                and len(open_list) > 1):
            infos = {s: _info_for(s) for _, s, _ in open_list}

            def _parse(item):
                path, spec_id, m_seq = item
                # scheme-aware executor read (pyarrow.fs): the fan-out
                # must open s3:/hdfs: manifests, not just file: ones
                return _manifest_live_entries(_read_bytes_any(path),
                                              spec_id, infos[spec_id],
                                              m_seq)

            sc = self.spark.sparkContext
            n = min(len(open_list), sc.defaultParallelism * 2)
            # map (not flatMap) + driver flatten keeps per-manifest
            # entry ORDER and manifest order — byte-identical results
            # to the driver loop
            chunks = sc.parallelize(open_list, n).map(_parse).collect()
            return [e for chunk in chunks for e in chunk]

        out = []
        for path, m_spec, m_seq in open_list:
            out.extend(_manifest_live_entries(
                self._read_bytes(path), m_spec, _info_for(m_spec), m_seq))
        return out

    def data_files(self, snapshot_id: int | None = None) -> list[DataFileInfo]:
        return [e["info"] for e in self._entries(snapshot_id)
                if e["content"] == 0]

    def _ice_schema_for(self, snapshot_id: int | None,
                        md: dict | None = None) -> dict:
        md = md or self.metadata()
        schema_id = md["current-schema-id"]
        if snapshot_id is not None:
            snap = next((s for s in md["snapshots"]
                         if s["snapshot-id"] == snapshot_id), None)
            if snap is not None and "schema-id" in snap:
                schema_id = snap["schema-id"]
        return next(s for s in md["schemas"] if s["schema-id"] == schema_id)

    def _schema_for(self, snapshot_id: int | None,
                    md: dict | None = None) -> T.StructType:
        return _spark_struct(self._ice_schema_for(snapshot_id, md))

    def _spec_fields_def(self, md: dict | None = None,
                         spec_id: int | None = None) -> list[dict]:
        """Raw spec field dicts ({name, transform, source-id,
        field-id}) of ``spec_id`` (default: the default spec); [] for
        unpartitioned tables. Pass an already-read ``md`` to avoid a
        redundant metadata fetch (each metadata() is a filesystem
        round trip — on a remote FS the hot paths must pay it once
        per operation, not once per helper)."""
        md = md or self.metadata()
        sid = md["default-spec-id"] if spec_id is None else spec_id
        spec = next(s for s in md["partition-specs"]
                    if s["spec-id"] == sid)
        return list(spec["fields"])

    def _manifest_entry_schema(self, md: dict | None = None) -> dict:
        """The manifest entry Avro schema with spec field 102 as the
        per-spec TYPED r102 record (spec "Manifests": one field per
        partition-spec entry, carrying the spec's 1000+ field-ids,
        nullable for __HIVE_DEFAULT_PARTITION__). Unpartitioned tables
        keep the static base schema; its legacy ["null","string"] form
        also remains readable (_entries branches on the decoded type,
        and Avro containers embed their writer schema)."""
        import copy

        md = md or self.metadata()
        spec_def = self._spec_fields_def(md)
        if not spec_def:
            return _MANIFEST_ENTRY_SCHEMA
        src_type = {sid: t
                    for _, t, sid in self._partition_spec_cols(md)}
        sch = copy.deepcopy(_MANIFEST_ENTRY_SCHEMA)
        r102_fields = [{
            "name": pf["name"],
            "type": ["null", _AVRO_BY_ICE[src_type[pf["source-id"]]]],
            "field-id": pf["field-id"],
            "default": None,
        } for pf in spec_def]
        df_fields = next(f for f in sch["fields"]
                         if f["name"] == "data_file")["type"]["fields"]
        pfield = next(f for f in df_fields if f["name"] == "partition")
        pfield["type"] = ["null", {"type": "record", "name": "r102",
                                   "fields": r102_fields}]
        return sch

    def _spec_info(self, md: dict | None = None,
                   spec_id: int | None = None) -> list[dict]:
        """Rich view of a partition spec (default: the DEFAULT spec):
        one dict per field with field_name (the hive dir key and r102
        record key), transform kind + param, source column name/type
        (CURRENT schema via source-id, rename-proof) and the transform
        RESULT type (= tuple/summary value space: int for bucket and
        the temporal ordinals, source type otherwise)."""
        md = md or self.metadata()
        sid = md["default-spec-id"] if spec_id is None else spec_id
        spec = next(s for s in md["partition-specs"]
                    if s["spec-id"] == sid)
        cur = next(s for s in md["schemas"]
                   if s["schema-id"] == md["current-schema-id"])
        by_id = {f["id"]: f for f in cur["fields"]}
        out = []
        for pf in spec["fields"]:
            kind, param = _parse_transform(pf["transform"])
            src = by_id[pf["source-id"]]
            out.append({
                "field_name": pf["name"],
                "transform": kind,
                "param": param,
                "source_id": pf["source-id"],
                "source_name": src["name"],
                "source_type": src["type"],
                "result_type": ("int"
                                if kind == "bucket"
                                or kind in _TEMPORAL_TRANSFORMS
                                else src["type"]),
                "field_id": pf["field-id"],
            })
        return out

    def _partition_spec_cols(
            self, md: dict | None = None) -> list[tuple[str, str, int]]:
        """[(partition FIELD name, RESULT type, source field-id)] of
        the default partition spec; empty for unpartitioned tables.
        For identity fields the field name equals the (current) source
        column name and the result type equals the source type — the
        pre-transform call sites keep their exact behavior. Values in
        partition tuples, dir segments, and field summaries all live
        in RESULT space. ``md``: reuse an already-read metadata dict."""
        return [(si["field_name"], si["result_type"], si["source_id"])
                for si in self._spec_info(md)]

    def _list_committed_files(self, sub: str) -> list[DataFileInfo]:
        """DataFileInfo for every non-empty parquet file under *sub*:
        record count + column bounds from the footer (one metadata
        open per file), partition tuple parsed from the hive-style
        dir segments when the table has an identity spec."""
        import pyarrow.parquet as pq

        cur = self._ice_schema_for(None)
        name_to_field = {f["name"]: f for f in cur["fields"]}
        spec_cols = {}
        for si in self._spec_info():
            spec_cols[si["field_name"]] = (si["result_type"],
                                           si["source_id"])
            if si["transform"] == "identity":
                # identity dirs are written under the CURRENT source
                # name (which a rename can move off the frozen spec
                # field name) — accept both (audit r8)
                spec_cols[si["source_name"]] = (si["result_type"],
                                                si["source_id"])
        if self._session_claims_local(sub):
            # plain local listing: the Hadoop RemoteIterator costs
            # 4-6 py4j round trips PER FILE (r13 profile) — os.walk
            # lists the same tree in one syscall pass. Paths are
            # emitted in the same fully-qualified file: form the
            # Hadoop listing produced, so manifests stay byte-
            # compatible with _metadata.file_path joins.
            sub_local = os.path.abspath(self._local(sub)).rstrip("/")
            listed = []
            for root, _dirs, names in os.walk(sub_local):
                for name in sorted(names):
                    if (name.startswith(("_", "."))
                            or not name.endswith(".parquet")):
                        continue
                    lp = os.path.join(root, name)
                    listed.append((lp, f"file:{lp}", os.path.getsize(lp)))
            listed.sort(key=lambda x: x[0])
        else:
            fs, base, _ = self._fs(sub)
            sub_local = base.toUri().getPath().rstrip("/")
            it = fs.listFiles(base, True)
            listed = []
            while it.hasNext():
                stt = it.next()
                name = stt.getPath().getName()
                if (name.startswith(("_", "."))
                        or not name.endswith(".parquet")):
                    continue
                listed.append((stt.getPath().toUri().getPath(),
                               stt.getPath().toString(), stt.getLen()))
        files: list[DataFileInfo] = []
        for local, full, flen in listed:
            fmd = pq.ParquetFile(local).metadata
            if fmd.num_rows == 0:
                # never commit 0-row data files: no bounds, manifest
                # bloat; they age out via remove_orphan_files
                continue
            lower, upper = _collect_bounds(fmd, name_to_field)
            partition = None
            if spec_cols:
                # tuple keyed by SOURCE FIELD-ID (as a string — JSON
                # keys), not by name: a later rename of the partition
                # source column must keep every stored tuple
                # resolvable, same rule as the value bounds. Only dir
                # segments BELOW the fresh write dir are parsed — a
                # col=value segment in the table's own location path
                # must never masquerade as a partition value.
                rel = local[len(sub_local):] if local.startswith(
                    sub_local) else local
                partition = {}
                for seg in rel.split("/"):
                    if "=" in seg:
                        k, v = seg.split("=", 1)
                        if k in spec_cols:
                            t, fid = spec_cols[k]
                            partition[str(fid)] = _parse_partition_value(
                                v, t)
            files.append(DataFileInfo(
                full, flen, fmd.num_rows,
                lower_bounds=lower, upper_bounds=upper,
                partition=partition or None))
        return files

    def _needs_id_resolution(self, md: dict | None = None) -> bool:
        """True iff some field-id was RENAMED or DROPPED across the
        schema history — the only histories where name-based column
        resolution is wrong. Add-column-only histories (and tables
        whose files predate embedded ids) resolve by name, unchanged.
        NOTE: renaming on a table whose data files predate the
        field-id writes fails honestly at read ("no field IDs") —
        run rewrite_data_files() before renaming such tables."""
        md = md or self.metadata()
        names_by_id: dict[int, set] = {}
        ids_by_schema = []
        for s in md["schemas"]:
            ids = set()
            for f in s["fields"]:
                names_by_id.setdefault(f["id"], set()).add(f["name"])
                ids.add(f["id"])
            ids_by_schema.append(ids)
        if any(len(n) > 1 for n in names_by_id.values()):
            return True  # a rename
        for earlier, later in zip(ids_by_schema, ids_by_schema[1:]):
            if earlier - later:
                return True  # a drop
        return False

    def _prune_entries(self, md: dict, entries: list[dict],
                       preds: list[tuple]) -> list[dict]:
        """Per-file scan planning (spec "Scan Planning" /
        InclusiveMetricsEvaluator semantics): the data *entries* whose
        rows may satisfy every ``(field, op, value)`` in *preds*
        (*field* a schema field dict). The one planner behind read()
        and the gobblin_iceberg DSv2 batch reader.

        Each predicate is projected through THE FILE'S OWN spec
        (partition evolution) and checked against its partition tuple
        first: an EXACT per-file value beats min/max bounds (and
        exists even for string columns, whose bounds are deliberately
        omitted); tuples are keyed by source field-id, rename-proof.
        create() restricts partition types to those whose dir segment
        round-trips exactly, so the comparison is typed; any residual
        type mismatch falls through to bounds (never a silent False
        that would prune a matching file). Stored column bounds are
        ALWAYS consulted too — for bucket fields the tuple check is
        necessarily weak. Files without bounds for the column, and
        incomparable values, are never pruned."""
        import datetime as _dt

        specs: dict[int, list] = {}

        def may_match(e, f, op, value):
            sp = e.get("spec_id", 0)
            if sp not in specs:
                specs[sp] = self._spec_info(md, sp)
            part = e["info"].partition or {}
            for si in specs[sp]:
                if si["source_id"] != f["id"]:
                    continue
                proj = _project_pred(si, op, value)
                if proj is None:
                    continue
                pop, pval = proj
                v = part.get(str(si["source_id"]))
                if v is None:
                    continue
                q = pval
                if type(q) is _dt.date and isinstance(v, str):
                    q = q.isoformat()  # dates JSON-decode as ISO text
                if type(v) is not type(q) and not (
                        isinstance(v, (int, float))
                        and isinstance(q, (int, float))):
                    continue
                try:
                    ok = {"=": v == q, "==": v == q, ">": v > q,
                          ">=": v >= q, "<": v < q, "<=": v <= q}[pop]
                except TypeError:
                    continue
                if not ok:
                    return False
            # column value bounds: stored as Appendix-D SERIALIZED
            # single values — deserialize before comparing
            lo = (e["info"].lower_bounds or {}).get(f["id"])
            hi = (e["info"].upper_bounds or {}).get(f["id"])
            if lo is None or hi is None:
                return True
            t = f["type"]
            mn, mx = _sv_deser(lo, t), _sv_deser(hi, t)
            v = _logical_to_ice(value, t)
            if mn is None or mx is None or v is None:
                return True
            if t == "float":
                mn, mx = _widen_float32_bounds(mn, mx)
            try:
                return _range_may_match(mn, mx, op, v)
            except TypeError:
                return True

        for f, op, value in preds:
            entries = [e for e in entries if may_match(e, f, op, value)]
        return entries

    def _partition_attach_ctx(self, md: dict, snapshot_id: int | None):
        """Shared planning context for identity-partition
        re-attachment (used by read() and changelog()):

        - snapshot-schema name→field-id (membership is decided by
          SOURCE FIELD-ID, so reads across a rename of the partition
          column still exclude/attach the right field);
        - every HISTORICAL name of each field-id (the hive dir key is
          the column name at WRITE time, so any of them can appear);
        - the fully-qualified ``<location>/data/`` prefix that anchors
          extraction so a '<col>=value' segment in the table's own
          LOCATION path can never shadow the real hive dirs
          (read-side mirror of the sub_local guard in
          _list_committed_files). The prefix is taken in URI form
          (Path.toUri) because ``_metadata.file_path`` is
          URI-ENCODED — a literal-form prefix would fail to anchor a
          location containing a space (the otherwise-branch fallback
          still extracts correctly, but the anchor is the guarded
          path)."""
        snap_name_to_id = {f["name"]: f["id"]
                           for f in self._ice_schema_for(
                               snapshot_id, md)["fields"]}
        hist_names: dict[int, set] = {}
        for s_ in md["schemas"]:
            for f_ in s_["fields"]:
                hist_names.setdefault(f_["id"], set()).add(f_["name"])
        _fsd, _pd, _ = self._fs(f"{self.location}/data")
        data_prefix = (_fsd.makeQualified(_pd).toUri().toString()
                       .rstrip("/") + "/")
        return snap_name_to_id, hist_names, data_prefix

    def _attach_identity_cols(self, part: DataFrame, st: T.StructType,
                              ids: set, snap_name_to_id: dict,
                              hist_names: dict,
                              data_prefix: str) -> DataFrame:
        """Re-derive identity-partition column values PER ROW from the
        file path inside a multi-path scan (partitionBy-written files
        do not store their partition columns). ``ids`` is the set of
        identity SOURCE field-ids the scanned files' spec dropped."""
        import re as _re
        from pyspark.sql import functions as F

        fp = F.col("_metadata.file_path")
        rel = F.when(
            fp.startswith(data_prefix),
            F.substring(fp, len(data_prefix) + 1, 1 << 20),
        ).otherwise(F.substring_index(fp, "/data/", -1))
        for f_ in st.fields:
            fid = snap_name_to_id.get(f_.name)
            if fid not in ids:
                continue
            alts = "|".join(sorted(
                _re.escape(n) for n in hist_names[fid]))
            raw = F.regexp_extract(
                rel, f"(?:^|/)(?:{alts})=([^/]+)/", 1)
            # _metadata.file_path is URI-encoded (%20 etc). url_decode
            # is URLDecoder, which ALSO turns a literal '+' into a
            # space — wrong for a partition value like 'a+b' (URI
            # encoding leaves '+' alone). Escaping '+' first makes the
            # decode a pure percent-decode (audit r9).
            raw = F.url_decode(F.replace(raw, F.lit("+"), F.lit("%2B")))
            part = part.withColumn(
                f_.name,
                F.when((raw == "") |
                       (raw == "__HIVE_DEFAULT_PARTITION__"),
                       F.lit(None))
                .otherwise(raw).cast(f_.dataType))
        return part

    def read(self, snapshot_id: int | None = None,
             apply_deletes: bool = True,
             prune_filters: list[tuple] | None = None,
             ref: str | None = None) -> DataFrame:
        """Time-travel read: snapshot → manifest list → manifests →
        parquet paths → one multi-path scan (partition pruning and
        pushdown apply as for any parquet read). The scan uses the
        snapshot's own schema, so files written before an add-column
        evolution null-fill the new column. Pending equality deletes
        apply as a BROADCAST anti-join on the equality columns with a
        sequence-number guard: a delete removes only rows from data
        files with a STRICTLY LOWER sequence number (spec "Scan
        Planning"), so rows re-inserted after the delete survive.

        ``prune_filters`` — [(column, op, value), ...] with op in
        {=, ==, <, <=, >, >=} — is SCAN PLANNING at two levels: (1)
        partition-source predicates skip WHOLE MANIFESTS via the
        manifest list's field_summary records (spec 507/508 — the
        excluded manifest files are never even opened;
        ``last_manifest_scan`` reports it); (2) surviving entries are
        then pruned per file on identity-partition tuples and stored
        column bounds (fields 125/128) before any parquet footer is
        opened. At 100 TB this is the difference between scanning a
        partition and scanning a table — and between reading three
        manifest files and three thousand. The predicates are ALSO
        applied to the surviving rows, so results are exact regardless
        of bounds coverage. ``self.last_scan`` records (files_total,
        files_scanned) for observability/tests.

        SESSION-CONF CAVEAT: when this table's schema history contains
        a rename/drop, the first read sets
        ``spark.sql.parquet.fieldId.read.enabled=true`` SESSION-WIDE
        and never restores it (the conf must hold while the returned
        lazy DataFrame executes, which may be long after read()
        returns). Any LATER non-Iceberg parquet read in the same
        session that supplies a schema carrying ``parquet.field.id``
        metadata (e.g. built from ``_spark_struct``) will then resolve
        by id — or error on id-less files. Strip the metadata from
        such schemas (as the else-branch below does for this table's
        own plain-history reads)."""
        from pyspark.sql import functions as F

        md_r = self.metadata()  # raises FileNotFoundError: no table
        # a branch created on an empty table keeps head -1, which
        # _entries maps to "no files" — NOT to main's data
        snapshot_id = self._snapshot_id(md_r, snapshot_id, ref)
        # partition-source predicates resolve BEFORE listing entries
        # so the manifest-list field_summary can skip whole manifests
        # (spec 507/508) — at 100 TB the manifest files themselves are
        # the first scan bottleneck.
        # predicates stay in SOURCE space here: partition evolution
        # means each manifest/file projects them through its OWN spec
        # (_entries for summaries, _prune_entries per file)
        prune_parts = None
        if prune_filters and any(
                s["fields"] for s in md_r["partition-specs"]):
            by_name = {f["name"]: f for f in self._ice_schema_for(
                snapshot_id, md_r)["fields"]}
            prune_parts = [
                (by_name[col]["id"], op, value)
                for col, op, value in prune_filters
                if col in by_name
            ] or None

        entries = self._entries(snapshot_id, prune_parts, md_r)
        data = [e for e in entries if e["content"] == 0]
        dels_pos = [e for e in entries if e["content"] == 1]
        dels_eq = [e for e in entries if e["content"] == 2]
        st = self._read_schema(md_r, snapshot_id)

        # only IDENTITY fields drop their source column from the data
        # files (partitionBy used the source column itself) — those
        # are excluded from the base scan schema and re-attached from
        # the path, PER FILE GROUP'S OWN SPEC (partition evolution:
        # a file written under an old identity spec lacks the column
        # even after the default spec moved on). Transform fields
        # keep the source data in-file.
        ident_ids_by_spec = {
            sp: {si["source_id"] for si in self._spec_info(md_r, sp)
                 if si["transform"] == "identity"}
            for sp in {e.get("spec_id", 0) for e in data}}
        spec_src_ids = (set().union(*ident_ids_by_spec.values())
                        if ident_ids_by_spec else set())

        n_total = len(data)
        if prune_filters:
            ice_sch = self._ice_schema_for(snapshot_id, md_r)
            by_name = {f["name"]: f for f in ice_sch["fields"]}
            for col, _op, _value in prune_filters:
                if col not in by_name:
                    raise ValueError(f"prune column {col} not in schema")
            data = self._prune_entries(
                md_r, data, [(by_name[col], op, value)
                             for col, op, value in prune_filters])
        self.last_scan = {"files_total": n_total,
                          "files_scanned": len(data)}

        ntz_cols = {f.name for f in st.fields
                    if isinstance(f.dataType, T.TimestampNTZType)}

        def _residual(df):
            import datetime as _dt

            ops = {"=": "==", "==": "==", "<": "<", "<=": "<=",
                   ">": ">", ">=": ">="}
            for col, op, value in prune_filters or ():
                c = F.col(col)
                if col in ntz_cols and isinstance(value, _dt.datetime):
                    # PySpark converts datetime literals through the
                    # PROCESS timezone while NTZ coercion uses the
                    # SESSION timezone — when they differ the residual
                    # silently shifts (audit r8). A wall-clock string
                    # cast is timezone-independent; aware values
                    # compare through their UTC wall clock, matching
                    # the projection rule in _iceberg_temporal.
                    if value.tzinfo is not None:
                        value = value.astimezone(
                            _dt.timezone.utc).replace(tzinfo=None)
                    value = F.lit(value.isoformat(sep=" ")).cast(
                        "timestamp_ntz")
                df = df.filter({
                    "==": c == value, "<": c < value, "<=": c <= value,
                    ">": c > value, ">=": c >= value}[ops[op]])
            return df

        if not data:
            # the empty JVM relation (session.local_rows_df): 0 tasks
            return _residual(local_rows_df(self.spark, [], st))
        if not spec_src_ids and (not (dels_eq or dels_pos)
                                 or not apply_deletes):
            return _residual(self.spark.read.schema(st).parquet(
                *[e["info"].path for e in data]))

        # group data paths by commit sequence only: the delete-guard
        # sequence is a literal per scan, and the identity-partition
        # values are derived PER ROW from the file path inside the one
        # multi-path scan (partitionBy-written files do not store the
        # partition columns) — a table with thousands of partition
        # values still plans ONE scan per commit, not one per value.
        need_seq = bool(dels_eq or dels_pos) and apply_deletes
        # partition membership is decided by SOURCE FIELD-ID (the
        # spec's identity), so a time-travel read across a rename of
        # the partition column still excludes/attaches the right field
        snap_name_to_id, hist_names, _data_prefix = \
            self._partition_attach_ctx(md_r, snapshot_id)

        def _base_st(ids):
            # per-GROUP base schema: exclude exactly the identity
            # columns that group's spec dropped from its files
            return (T.StructType([
                f for f in st.fields
                if snap_name_to_id.get(f.name) not in ids])
                if ids else st)

        def _attach_partition_cols(part, ids):
            return self._attach_identity_cols(
                part, st, ids, snap_name_to_id, hist_names, _data_prefix)

        # group by (commit sequence, partition spec) — files written
        # under DIFFERENT specs need different base schemas (their
        # identity columns differ) while everything else still plans
        # one multi-path scan per group
        by_seq: dict[tuple, list[str]] = {}
        for e in data:
            by_seq.setdefault(
                (e["sequence_number"], e.get("spec_id", 0)), []).append(
                e["info"].path)
        df = None
        for (seq, sp), paths in sorted(by_seq.items()):
            grp_ids = ident_ids_by_spec.get(sp, set())
            part = self.spark.read.schema(_base_st(grp_ids)).parquet(*paths)
            if grp_ids:
                part = _attach_partition_cols(part, grp_ids)
            if dels_pos and need_seq:
                # Spark's parquet metadata columns give the (file, row)
                # identity a position delete addresses; file_path here
                # equals Hadoop Path.toString() (verified both are
                # 'file:/...'), the same string the delete file stores.
                # Only attached when the deletes will actually apply —
                # an apply_deletes=False read must not leak _fp/_pos.
                part = part.select(
                    "*",
                    F.col("_metadata.file_path").alias("_fp"),
                    F.col("_metadata.row_index").alias("_pos"),
                )
            if spec_src_ids:
                keep = [f_.name for f_ in st.fields]
                if dels_pos and need_seq:
                    keep += ["_fp", "_pos"]
                part = part.select(*keep)  # normalize column order
            part = part.withColumn("_data_seq", F.lit(seq))
            df = part if df is None else df.unionByName(part)
        if not need_seq:
            return _residual(df.drop("_data_seq"))

        # resolve the equality field-ids against the SNAPSHOT's
        # schema (not blanket-current), so time travel across a
        # rename stays consistent; the delete files themselves
        # also resolve by field-id, so a delete written before the
        # rename still matches under the name of this snapshot
        ice = self._ice_schema_for(snapshot_id, md_r)
        id_to_name = {f["id"]: f["name"] for f in ice["fields"]}
        df = self._anti_join_deletes(df, dels_pos, dels_eq, st,
                                     id_to_name, fp_col="_fp",
                                     pos_col="_pos")
        if dels_pos:
            df = df.drop("_fp", "_pos")
        return _residual(df.drop("_data_seq"))

    def _anti_join_deletes(self, df, dels_pos: list, dels_eq: list,
                           st: T.StructType, id_to_name: dict,
                           fp_col: str, pos_col: str):
        """Apply delete-file residue to a frame carrying a per-row
        commit sequence (``_data_seq``) and — when pos-deletes apply —
        the parquet (file, row) identity columns: the spec's
        sequence-guarded anti-joins, shared by read() and changelog's
        per-commit diff (one copy of the semantics).

        Equality deletes apply to STRICTLY earlier data files; a
        delete row with a NULL value matches data rows whose column is
        NULL (spec "Equality Delete Files" — plain == would evaluate
        to NULL and silently never delete them). Position deletes
        apply INCLUSIVELY (data seq <= delete seq) on (file, pos)."""
        from pyspark.sql import functions as F

        by_ids: dict[tuple, list[dict]] = {}
        for e in dels_eq:
            by_ids.setdefault(tuple(e["equality_ids"] or ()), []).append(e)
        for ids, dfiles in sorted(by_ids.items()):
            cols = [id_to_name[i] for i in ids]
            dschema = T.StructType([
                f for c in cols for f in st.fields if f.name == c])
            dd = self._scan_deletes(dschema, dfiles).alias("_del")
            df = df.alias("_dat")
            cond = F.col("_del._del_seq") > F.col("_dat._data_seq")
            for c in cols:
                cond = cond & F.col(f"_dat.{c}").eqNullSafe(
                    F.col(f"_del.{c}"))
            df = df.join(F.broadcast(dd), cond, "left_anti")
        if dels_pos:
            pd_ = self._scan_deletes(_POS_SCHEMA, dels_pos).alias("_pdel")
            df = df.alias("_dat")
            cond = (
                (F.col("_pdel._del_seq") >= F.col("_dat._data_seq"))
                & (F.col(f"_dat.{fp_col}") == F.col("_pdel.file_path"))
                & (F.col(f"_dat.{pos_col}") == F.col("_pdel.pos"))
            )
            df = df.join(F.broadcast(pd_), cond, "left_anti")
        return df

    def _scan_deletes(self, schema: T.StructType, entries: list):
        """ONE multi-path scan of the delete files *entries*, each row
        carrying its file's commit sequence as ``_del_seq`` from the
        broadcast ``_path_lookup`` — not one scan per file."""
        from pyspark.sql import functions as F

        scan = self.spark.read.schema(schema).parquet(
            *[e["info"].path for e in entries]).select(
                "*", F.col("_metadata.file_path").alias("_cl_fp"))
        return self._path_lookup(
            scan, [(self._path_uri_form(e["info"].path),
                    e["sequence_number"]) for e in entries],
            "_del_seq", "delete-sequence").select(*schema.names, "_del_seq")

    # -- schema evolution ------------------------------------------------
    def _retry_metadata(self, mutate, max_attempts: int = 4):
        """OPTIMISTIC-CONCURRENCY loop for metadata-only commits
        (schema / spec / ref changes) — each attempt re-reads FRESH
        metadata and RE-APPLIES *mutate* before the CAS, so a losing
        racer never commits content built from a stale base (which
        would silently erase the winner's changes). Only the
        exists-collision retries; validation errors and real IO
        failures propagate on the first attempt. ``mutate`` may raise
        ``_NoCommit(result)`` to return without writing a metadata
        version (already-satisfied no-ops)."""
        last = None
        for attempt in range(max_attempts):
            md = self.metadata()
            try:
                result = mutate(md)
            except _NoCommit as nc:
                return nc.result
            try:
                self._commit_metadata(md)
                return result
            except RuntimeError as ex:
                if "concurrent commit" not in str(ex):
                    raise
                last = ex
                time.sleep(0.02 * attempt)  # see _commit_files
        raise last

    def add_column(self, name: str, dtype: T.DataType) -> int:
        """Add an optional column (spec "Schema Evolution"): a fresh
        field-id from last-column-id, a new schema entry, and the
        current-schema-id flips — data files never rewrite; readers
        null-fill. Returns the new schema-id."""
        def mutate(md):
            cur = next(s for s in md["schemas"]
                       if s["schema-id"] == md["current-schema-id"])
            if any(f["name"] == name for f in cur["fields"]):
                raise ValueError(f"column {name} already exists")
            t = _SPARK_TO_ICEBERG.get(dtype)
            if t is None:
                raise TypeError(
                    f"no iceberg primitive for {dtype.simpleString()}")
            new_id = md["last-column-id"] + 1
            new_schema_id = max(s["schema-id"] for s in md["schemas"]) + 1
            md["schemas"].append({
                "type": "struct", "schema-id": new_schema_id,
                "fields": cur["fields"] + [
                    {"id": new_id, "name": name, "required": False,
                     "type": t}],
            })
            md["current-schema-id"] = new_schema_id
            md["last-column-id"] = new_id
            md["last-updated-ms"] = int(time.time() * 1000)
            return new_schema_id

        return self._retry_metadata(mutate)

    # -- references: branches, tags, write-audit-publish ----------------
    def refs(self) -> dict:
        """The table's named references (spec "References"): ``main``
        tracks current-snapshot-id; other branches advance via
        ``append_dataframe(..., branch=...)``; tags are immutable."""
        return dict(self.metadata().get("refs", {}))

    def create_branch(self, name: str,
                      from_snapshot_id: int | None = None) -> int:
        """A named branch at *from_snapshot_id* (default: current
        head). Branch commits move ONLY the ref — main and the
        snapshot log never see them until fast_forward — which is the
        isolation the write-audit-publish pattern needs."""
        def mutate(md):
            refs = md.setdefault("refs", {})
            if name in refs:
                raise ValueError(f"reference {name!r} already exists")
            head = (md["current-snapshot-id"] if from_snapshot_id is None
                    else from_snapshot_id)
            if head != -1 and not any(
                    s["snapshot-id"] == head for s in md["snapshots"]):
                # a typo'd id would commit a durably-bogus ref that
                # only crashes (StopIteration) at read time (audit r8;
                # create_tag already validates)
                raise ValueError(f"snapshot {head} not in table history")
            refs[name] = {"snapshot-id": head, "type": "branch"}
            md["last-updated-ms"] = int(time.time() * 1000)
            return head

        return self._retry_metadata(mutate)

    def create_tag(self, name: str,
                   snapshot_id: int | None = None) -> int:
        """An immutable named pointer (release pinning / audit marks);
        expire_snapshots retains tagged snapshots."""
        def mutate(md):
            refs = md.setdefault("refs", {})
            if name in refs:
                raise ValueError(f"reference {name!r} already exists")
            head = (md["current-snapshot-id"] if snapshot_id is None
                    else snapshot_id)
            if not any(s["snapshot-id"] == head
                       for s in md["snapshots"]):
                raise ValueError(f"snapshot {head} not in table history")
            refs[name] = {"snapshot-id": head, "type": "tag"}
            md["last-updated-ms"] = int(time.time() * 1000)
            return head

        return self._retry_metadata(mutate)

    def drop_ref(self, name: str) -> None:
        if name == "main":
            raise ValueError("cannot drop main")
        def mutate(md):
            if name not in md.get("refs", {}):
                # already absent: no-op, no metadata version written
                # (matches fast_forward's short-circuit — a blind
                # fall-through would churn versions and contend the
                # CAS for nothing)
                raise _NoCommit(None)
            md["refs"].pop(name)
            md["last-updated-ms"] = int(time.time() * 1000)

        self._retry_metadata(mutate)

    def ref_snapshot(self, name: str) -> int:
        return self._snapshot_id(self.metadata(), ref=name)

    @staticmethod
    def _snapshot_id(md: dict, snapshot_id: int | None = None,
                     ref: str | None = None) -> int | None:
        """The snapshot a read plans from: *snapshot_id*, or the head
        of branch/tag *ref* (``main`` falls back to the current
        snapshot on tables written before refs existed); None when
        neither is given — the current snapshot, read under the
        CURRENT schema. -1 is the empty table. An unknown id or ref,
        or both at once, raises ValueError — the one resolution
        behind read(), _entries() and the DSv2 reader's options."""
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR ref")
            refs = md.get("refs", {})
            if ref == "main" and ref not in refs:
                return md["current-snapshot-id"]
            if ref not in refs:
                raise ValueError(f"unknown reference {ref!r}")
            return refs[ref]["snapshot-id"]
        if snapshot_id not in (None, -1) and not any(
                s["snapshot-id"] == snapshot_id
                for s in md.get("snapshots", [])):
            raise ValueError(f"snapshot {snapshot_id} not in table history")
        return snapshot_id

    def fast_forward(self, to_branch: str, from_ref: str) -> int:
        """PUBLISH step of write-audit-publish: advance *to_branch*
        (usually main) to *from_ref*'s head — allowed only when the
        target's head is an ANCESTOR of the source's head
        (parent-snapshot-id chain), i.e. a true fast-forward with no
        history rewrite. Staged+audited branch commits become visible
        to readers atomically with this one metadata commit — the
        table-format form of publish.py's stage -> audit ->
        merge-rename."""
        def mutate(md):
            refs = md.setdefault("refs", {})
            if from_ref == "main" and from_ref not in refs:
                src = md["current-snapshot-id"]
            elif from_ref in refs:
                src = refs[from_ref]["snapshot-id"]
            else:
                raise ValueError(f"unknown reference {from_ref!r}")
            dst = (md["current-snapshot-id"] if to_branch == "main"
                   and to_branch not in refs
                   else refs.get(to_branch, {}).get("snapshot-id", -1))
            if src == dst:
                raise _NoCommit(src)
            # ancestry walk from source back to target
            snaps = {s["snapshot-id"]: s for s in md["snapshots"]}
            node, ok, indeterminate = src, False, False
            while True:
                if node == dst:
                    ok = True
                    break
                rec = snaps.get(node)
                if rec is None or "parent-snapshot-id" not in rec:
                    # expired intermediate, or a record written before
                    # parent pointers existed — chain indeterminate
                    indeterminate = True
                    break
                node = rec["parent-snapshot-id"]
                if node is None:
                    ok = dst == -1
                    break
            if not ok and indeterminate:
                # fallback ordering for upgraded/expired histories:
                # the target head must have BEEN a main head
                # (snapshot-log) and precede the source in commit
                # order (sequence numbers are table-global, monotone)
                logged = {e["snapshot-id"]
                          for e in md.get("snapshot-log", [])}
                s_seq = snaps.get(src, {}).get("sequence-number", 0)
                d_seq = snaps.get(dst, {}).get("sequence-number", 0)
                ok = dst == -1 or (dst in logged and d_seq <= s_seq)
            if not ok:
                raise ValueError(
                    f"{to_branch!r} head {dst} is not an ancestor of "
                    f"{from_ref!r} head {src} — not a fast-forward")
            now = int(time.time() * 1000)
            refs[to_branch] = {"snapshot-id": src, "type": "branch"}
            if to_branch == "main":
                md["current-snapshot-id"] = src
                md["snapshot-log"].append(
                    {"timestamp-ms": now, "snapshot-id": src})
            md["last-updated-ms"] = now
            return src

        return self._retry_metadata(mutate)

    def rollback_to(self, snapshot_id: int) -> int:
        """ManageSnapshots.rollbackTo: point main back at an EXISTING
        snapshot after a bad commit — one metadata write, no files
        touched, the bad snapshots stay in history (time travel still
        reaches them) until expire_snapshots ages them out. The
        rollback itself lands in the snapshot log, so the operational
        record shows the table went back."""
        def mutate(md):
            if not any(s["snapshot-id"] == snapshot_id
                       for s in md["snapshots"]):
                raise ValueError(
                    f"snapshot {snapshot_id} not in table history")
            now = int(time.time() * 1000)
            md["current-snapshot-id"] = snapshot_id
            md.setdefault("refs", {})["main"] = {
                "snapshot-id": snapshot_id, "type": "branch"}
            md["snapshot-log"].append(
                {"timestamp-ms": now, "snapshot-id": snapshot_id})
            md["last-updated-ms"] = now
            return snapshot_id

        return self._retry_metadata(mutate)

    def cherry_pick(self, snapshot_id: int) -> int:
        """ManageSnapshots.cherrypick — the RECOVERY verb for commits
        a rollback orphaned: re-apply an APPEND snapshot's added files
        as a NEW append commit on the CURRENT head. Metadata-only
        (the data files are reused in place; one new manifest + one
        CAS commit). Guards: the picked snapshot must be an append
        (a delete/replace re-applied out of order would change
        different rows than it originally did); its files must not
        already be live on the head (double-counting rows); and files
        written under a non-default partition spec are rejected (the
        re-commit records tuples under the DEFAULT spec — rewrite
        first). The new snapshot's summary carries
        ``cherry-picked-from`` for lineage."""
        md = self.metadata()
        snap = next((s for s in md["snapshots"]
                     if s["snapshot-id"] == snapshot_id), None)
        if snap is None:
            raise ValueError(
                f"snapshot {snapshot_id} not in table history")
        op = snap.get("summary", {}).get("operation")
        if op not in ("append", None):
            raise ValueError(
                f"cherry_pick supports append snapshots only, not {op!r}")
        target_seq = snap.get("sequence-number", 0)
        added = [e for e in self._entries(snapshot_id, md=md)
                 if e["content"] == 0
                 and e["sequence_number"] == target_seq]
        if not added:
            raise ValueError(
                f"snapshot {snapshot_id} added no data files")
        def _guards(md2):
            # re-run on the FRESH metadata each commit attempt (the
            # eager call below fails fast; a racer — a concurrent
            # cherry_pick of the same orphan, or a spec evolver —
            # could otherwise slip between the stale-read check and
            # the CAS commit and double-count the files, r11 audit)
            if any(e.get("spec_id", 0) != md2["default-spec-id"]
                   for e in added):
                raise ValueError(
                    "cherry_pick: picked files were written under a "
                    "non-default partition spec — rewrite_data_files "
                    "migrates them first")
            live = {e["info"].path
                    for e in self._entries(md=md2)
                    if e["content"] == 0}
            dup = [e["info"].path for e in added
                   if e["info"].path in live]
            if dup:
                raise ValueError(
                    "cherry_pick: files already live on the head "
                    f"(double-count): {dup[:3]}")

        _guards(md)
        return self.append_files(
            [e["info"] for e in added],
            summary_extra={"cherry-picked-from": str(snapshot_id)},
            pre_check=_guards)

    def update_partition_spec(self, partition_spec: list[tuple]) -> int:
        """PARTITION EVOLUTION (spec "Partition Evolution" — the
        headline capability that separates Iceberg from hive layouts):
        switch the table's DEFAULT spec without touching a single
        existing file. A new spec (fresh spec-id, fresh 1000+ field
        ids continuing last-partition-id) becomes the default; data
        already written keeps its ORIGINAL spec — every manifest-list
        entry records its partition_spec_id, so scan planning projects
        each predicate through the spec each FILE was written under,
        and reads re-attach identity partition values per file group.
        Old and new layouts coexist indefinitely; rewrite_data_files
        migrates old files to the new layout when wanted (it rewrites
        under the default spec). Returns the new spec-id. Same
        transform grammar as create(); an empty list makes the table
        effectively unpartitioned for FUTURE writes."""
        def mutate(md):
            cur = next(s for s in md["schemas"]
                       if s["schema-id"] == md["current-schema-id"])
            first_id = md.get("last-partition-id", 999) + 1
            fields = _build_spec_fields(cur["fields"],
                                        list(partition_spec or []),
                                        first_id)
            new_id = max(s["spec-id"] for s in md["partition-specs"]) + 1
            md["partition-specs"].append({"spec-id": new_id,
                                          "fields": fields})
            md["default-spec-id"] = new_id
            md["last-partition-id"] = (first_id + len(fields) - 1
                                       if fields else md.get(
                                           "last-partition-id", 999))
            md["last-updated-ms"] = int(time.time() * 1000)
            return new_id

        return self._retry_metadata(mutate)

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column (spec "Schema Evolution"): the field keeps
        its FIELD-ID, only the name in the new schema entry changes —
        no data file rewrites. Reads resolve columns by the embedded
        parquet field-ids, so files written before the rename serve
        the new name transparently. Returns the new schema-id."""
        def mutate(md):
            cur = next(s for s in md["schemas"]
                       if s["schema-id"] == md["current-schema-id"])
            if not any(f["name"] == old for f in cur["fields"]):
                raise ValueError(f"no column {old}")
            if any(f["name"] == new for f in cur["fields"]):
                raise ValueError(f"column {new} already exists")
            new_schema_id = max(s["schema-id"] for s in md["schemas"]) + 1
            md["schemas"].append({
                "type": "struct", "schema-id": new_schema_id,
                "fields": [
                    {**f, "name": new} if f["name"] == old else f
                    for f in cur["fields"]],
            })
            md["current-schema-id"] = new_schema_id
            md["last-updated-ms"] = int(time.time() * 1000)
            return new_schema_id

        return self._retry_metadata(mutate)

    def drop_column(self, name: str) -> int:
        """Drop a column (spec "Schema Evolution"): the field leaves
        the new schema entry; its FIELD-ID is never reused
        (last-column-id only grows), so a later add_column with the
        same NAME gets a fresh id and old files' data for the dropped
        field can never leak back in. No data rewrites; time-travel
        reads of earlier snapshots still see the column. Returns the
        new schema-id."""
        def mutate(md):
            cur = next(s for s in md["schemas"]
                       if s["schema-id"] == md["current-schema-id"])
            if not any(f["name"] == name for f in cur["fields"]):
                raise ValueError(f"no column {name}")
            if len(cur["fields"]) == 1:
                raise ValueError("cannot drop the last column")
            # A pending equality delete references its columns BY
            # FIELD-ID; dropping one would leave unreadable delete
            # entries (the id no longer maps to a name in the current
            # schema). Compact first — rewrite_data_files materializes
            # the deletes and drops their manifests.
            fid = next(f["id"] for f in cur["fields"]
                       if f["name"] == name)
            # The spec forbids dropping a partition-spec source column
            # — doing so would make every spec resolution KeyError
            # forever (the metadata commit is durable). rename is the
            # safe verb.
            for spec in md["partition-specs"]:
                if any(pf["source-id"] == fid for pf in spec["fields"]):
                    raise ValueError(
                        f"column {name} (field-id {fid}) is a partition-"
                        "spec source column and cannot be dropped")
            if md["current-snapshot-id"] != -1:
                for e in self._entries(md=md):
                    if (e["content"] == 2
                            and fid in (e["equality_ids"] or ())):
                        raise ValueError(
                            f"column {name} (field-id {fid}) is "
                            "referenced by a pending equality-delete "
                            "file; run rewrite_data_files() first")
            new_schema_id = max(s["schema-id"] for s in md["schemas"]) + 1
            md["schemas"].append({
                "type": "struct", "schema-id": new_schema_id,
                "fields": [f for f in cur["fields"] if f["name"] != name],
            })
            md["current-schema-id"] = new_schema_id
            md["last-updated-ms"] = int(time.time() * 1000)
            return new_schema_id

        return self._retry_metadata(mutate)

    # -- row-level deletes -----------------------------------------------
    def delete_equality(self, keys: DataFrame) -> int:
        """Commit an equality-delete snapshot: *keys* (one column per
        equality key, e.g. the GDPR id list) is written as a parquet
        delete file whose manifest entry carries content=2 + the
        equality field-ids (spec "Equality Delete Files"). O(deleted
        keys) written; no data file rewrites — the merge happens at
        read (merge-on-read v2 semantics)."""
        md = self.metadata()
        cur = next(s for s in md["schemas"]
                   if s["schema-id"] == md["current-schema-id"])
        by_name = {f["name"]: f["id"] for f in cur["fields"]}
        missing = [c for c in keys.columns if c not in by_name]
        if missing:
            raise ValueError(f"equality columns not in schema: {missing}")
        eq_ids = [by_name[c] for c in keys.columns]

        # conform so the delete file embeds the equality columns'
        # field-ids (id-based resolution across later renames)
        cur_struct = _spark_struct(cur)
        keys = _conform_with_ids(keys, T.StructType(
            [f for c in keys.columns for f in cur_struct.fields
             if f.name == c]))
        sub = f"{self.location}/data/{uuid.uuid4().hex[:12]}-deletes"
        keys.dropDuplicates().write.mode("overwrite").parquet(sub)
        return self._commit_files(self._list_delete_parquet(sub),
                                  content=2, equality_ids=eq_ids,
                                  operation="delete")

    def upsert_dataframe(self, df: DataFrame, key_cols: list[str]) -> int:
        """MERGE-style upsert as two v2 commits: an equality delete of
        the incoming keys, then an append of the new rows — the append
        outlives the delete because equality deletes apply only to
        STRICTLY earlier sequence numbers. Matched keys are replaced,
        unmatched keys inserted; unrelated rows never rewrite (the
        merge-on-read trade: reads pay one broadcast anti-join until
        compaction folds the deletes in). The real runtime's MERGE is
        a single commit; two snapshots here means a reader between
        them sees the delete-only state — acceptable for append-mostly
        ingestion, documented for anything stronger."""
        self.delete_equality(df.select(*key_cols))
        return self.append_dataframe(df)

    def _list_delete_parquet(self, sub: str) -> list[DataFileInfo]:
        """DataFileInfo for the parquet files of a freshly-written
        DELETE directory (footer row counts only — delete files carry
        no bounds/partition tuples). 0-row files are skipped: a delete
        file that deletes nothing is manifest bloat."""
        import pyarrow.parquet as pq

        if self._session_claims_local(sub):
            # plain local listing (r13: same 4-6-py4j-trips-per-file
            # detour _list_committed_files shed; paths keep the
            # fully-qualified file: form the Hadoop listing produced)
            listed = []
            sub_local = os.path.abspath(self._local(sub)).rstrip("/")
            for root, _dirs, names in os.walk(sub_local):
                for nm in sorted(names):
                    if (nm.startswith(("_", "."))
                            or not nm.endswith(".parquet")):
                        continue
                    lp = os.path.join(root, nm)
                    listed.append((lp, f"file:{lp}", os.path.getsize(lp)))
            listed.sort(key=lambda x: x[0])
        else:
            fs, base, _ = self._fs(sub)
            it = fs.listFiles(base, True)
            listed = []
            while it.hasNext():
                stt = it.next()
                nm = stt.getPath().getName()
                if (nm.startswith(("_", "."))
                        or not nm.endswith(".parquet")):
                    continue
                listed.append((stt.getPath().toUri().getPath(),
                               stt.getPath().toString(), stt.getLen()))
        files: list[DataFileInfo] = []
        for local, full, flen in listed:
            rows = pq.ParquetFile(local).metadata.num_rows
            if rows == 0:
                continue
            files.append(DataFileInfo(full, flen, rows))
        return files

    def delete_positions(self, positions: DataFrame) -> int:
        """Commit a POSITION-delete snapshot (spec "Position Delete
        Files", content=1): *positions* must carry exactly the columns
        (file_path, pos) — the target data file's path as stored in the
        manifest and the 0-based row index within it — and is stored
        cast to the spec types (string, long).
        Produce it from a read with Spark's parquet metadata columns:
        ``_metadata.file_path`` / ``_metadata.row_index``. Applied at
        read as an anti-join on (file, row) against data files with
        sequence number <= the delete's."""
        if sorted(positions.columns) != ["file_path", "pos"]:
            raise ValueError(
                f"positions needs (file_path, pos), got {positions.columns}")
        # stored under the spec types, the schema every reader passes
        positions = positions.select(
            *[positions[f.name].cast(f.dataType) for f in _POS_SCHEMA])
        sub = f"{self.location}/data/{uuid.uuid4().hex[:12]}-posdeletes"
        positions.dropDuplicates().write.mode("overwrite").parquet(sub)
        return self._commit_files(self._list_delete_parquet(sub),
                                  content=1, equality_ids=None,
                                  operation="delete")

    def expire_snapshots(self, older_than_ms: int,
                         clean_metadata: bool = True) -> int:
        """ExpireSnapshots.expireOlderThan + commit
        (IcebergMetadataWriter.java:634): drop superseded snapshots
        older than the horizon; the current snapshot always survives.

        ``clean_metadata`` also deletes the expired snapshots'
        manifest-LIST files and any manifest file no retained snapshot
        references (the reference action's cleanExpiredFiles) — the
        nightly compact-then-expire loop otherwise leaks one list +
        one manifest per commit into metadata/ forever. Old
        vN.metadata.json versions are likewise pruned down to the
        newest 5 (write.metadata.previous-versions-max semantics)."""
        md = self.metadata()
        ref_heads = {r.get("snapshot-id")
                     for r in md.get("refs", {}).values()}
        # retain the ancestor chain between each ref head and main's
        # history: fast_forward (the WAP publish step) walks
        # parent-snapshot-id from the branch head down to main's head,
        # so expiring an intermediate branch ancestor would block a
        # legitimate publish
        snaps_by_id = {s["snapshot-id"]: s for s in md["snapshots"]}
        main_anc = {s["snapshot-id"] for s in self._main_ancestry(md)}
        protected = set()
        for head in ref_heads:
            node = head
            while (node is not None and node != -1
                   and node not in main_anc and node not in protected):
                protected.add(node)
                node = snaps_by_id.get(node, {}).get(
                    "parent-snapshot-id")
        keep, dropped_snaps = [], []
        for s in md["snapshots"]:
            if (s["snapshot-id"] == md["current-snapshot-id"]
                    or s["snapshot-id"] in ref_heads
                    or s["snapshot-id"] in protected
                    or s["timestamp-ms"] >= older_than_ms):
                keep.append(s)
            else:
                dropped_snaps.append(s)
        md["snapshots"] = keep
        kept_ids = {s["snapshot-id"] for s in keep}
        md["snapshot-log"] = [e for e in md["snapshot-log"]
                              if e["snapshot-id"] in kept_ids]
        v = self._commit_metadata(md)
        if clean_metadata:
            # manifests referenced by ANY retained snapshot survive
            retained: set[str] = set()
            for s in keep:
                _, mans = ACF.read_container(
                    self._read_bytes(s["manifest-list"]))
                retained.update(m["manifest_path"] for m in mans)
            fs, _, _ = self._fs(self.location)
            jvm_path = self.spark._jvm.org.apache.hadoop.fs.Path
            for s in dropped_snaps:
                _, mans = ACF.read_container(
                    self._read_bytes(s["manifest-list"]))
                for m in mans:
                    if m["manifest_path"] not in retained:
                        fs.delete(jvm_path(m["manifest_path"]), False)
                fs.delete(jvm_path(s["manifest-list"]), False)
            # metadata.json version pruning (keep the newest 5)
            for old_v in range(v - 5, 0, -1):
                p = jvm_path(
                    f"{self.location}/metadata/v{old_v}.metadata.json")
                if not fs.exists(p):
                    break
                fs.delete(p, False)
        return len(dropped_snaps)

    def rewrite_data_files(self, target_partitions: int = 1,
                           sort_by: list[str] | None = None) -> int:
        """RewriteDataFiles (the Iceberg maintenance action Gobblin's
        small-file compaction maps onto at the lakehouse layer): read
        the CURRENT view (all delete files applied), write it back as
        ``target_partitions`` compacted parquet files, and commit ONE
        'replace' snapshot whose manifest list contains ONLY the new
        data manifest — superseded data AND delete manifests drop out
        together (their deletes are now materialized in the rewritten
        data, so carrying them would re-delete rows).

        Time travel keeps working: prior snapshots' manifest lists and
        data files are untouched until ``expire_snapshots`` reclaims
        them — the standard compact-then-expire maintenance pair.
        """
        # re-conform through the id-bearing schema: read() strips the
        # parquet.field.id metadata for plain histories, and compacted
        # files written without embedded ids would break the FIRST
        # rename AFTER compaction (the exact flow _needs_id_resolution
        # tells users to prepare with this method)
        md0 = self.metadata()
        cur0 = next(s for s in md0["schemas"]
                    if s["schema-id"] == md0["current-schema-id"])
        before = _conform_with_ids(self.read(), _spark_struct(cur0))
        sub = f"{self.location}/data/compact-{uuid.uuid4().hex[:12]}"
        if sort_by:
            # sort strategy (the runtime's rewrite_data_files
            # strategy=>'sort'): range-partition + in-file sort gives
            # the compacted files DISJOINT column bounds, which is
            # what makes prune_filters effective after compaction —
            # a round-robin rewrite collapses every file's bounds to
            # the full range and nothing can ever be skipped
            before = before.repartitionByRange(
                target_partitions, *sort_by).sortWithinPartitions(*sort_by)
        else:
            before = before.repartition(target_partitions)
        before, part_names = self._with_partition_cols(before)
        w = before.write.mode("overwrite")
        if part_names:
            w = w.partitionBy(*part_names)
        w.parquet(sub)
        snap = self._commit_files(self._list_committed_files(sub),
                                  content=0, equality_ids=None,
                                  operation="replace", carry_prior=False)
        if sort_by:
            # record the sort order in table metadata (spec "Sorting")
            # AFTER the replace snapshot commits — a crash in between
            # must never leave default-sort-order-id advertising a
            # layout no committed data satisfies. Identical existing
            # orders are reused (nightly compaction must not grow
            # sort-orders without bound).
            md = self.metadata()
            cur = next(s for s in md["schemas"]
                       if s["schema-id"] == md["current-schema-id"])
            by_name = {f["name"]: f["id"] for f in cur["fields"]}
            fields = [{"transform": "identity",
                       "source-id": by_name[c],
                       "direction": "asc",
                       "null-order": "nulls-first"}
                      for c in sort_by]
            existing = next((o for o in md["sort-orders"]
                             if o["fields"] == fields), None)
            oid = (existing["order-id"] if existing
                   else max(o["order-id"] for o in md["sort-orders"]) + 1)
            if not existing:
                md["sort-orders"].append({"order-id": oid,
                                          "fields": fields})
            if md["default-sort-order-id"] != oid:
                md["default-sort-order-id"] = oid
                md["last-updated-ms"] = int(time.time() * 1000)
                self._commit_metadata(md)
            elif not existing:
                md["last-updated-ms"] = int(time.time() * 1000)
                self._commit_metadata(md)
        return snap

    def inspect(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        """METADATA TABLES (spec "Metadata tables" / Iceberg's
        ``table.files`` / ``.partitions`` / ``.snapshots`` /
        ``.history`` surface) as DataFrames — how operators watch a
        lakehouse without scanning it:

        - ``snapshots``: (snapshot_id, sequence_number, timestamp_ms,
          operation, added_data_files, added_records) from table
          metadata only.
        - ``history``: (timestamp_ms, snapshot_id, is_current) — the
          snapshot log, time-travel's table of contents.
        - ``files``: one row per LIVE data/delete file of the snapshot
          (path, content, record_count, size_bytes, partition JSON) —
          from manifests only, no data file is opened.
        - ``partitions``: per-partition rollup (partition fields...,
          file_count, record_count) — the table health dashboard
          (skew, small-file pressure) straight off the manifest
          tuples. Partition VALUES come out in transform space
          (bucket ordinals, truncated prefixes, epoch days).

        All four are tiny driver-side lists, lifted as JVM
        LocalRelations (session.local_rows_df, r14: the python-RDD
        createDataFrame form spins python workers on every downstream
        action just to read a metadata listing) — metadata scale is
        manifest scale, bounded by file COUNT, never data scale.
        ``partitions`` stays on the list path: its partition-value
        cells are transform-space and per-spec typed (epoch-day dates
        among them), where the Arrow lift's coercion could diverge
        from the pickle path's."""
        if name == "snapshots":
            rows = [(s["snapshot-id"], s["sequence-number"],
                     s["timestamp-ms"], s["summary"].get("operation"),
                     int(s["summary"].get("added-data-files", 0)),
                     int(s["summary"].get("added-records", 0)))
                    for s in self.snapshots()]
            return local_rows_df(
                self.spark,
                rows, "snapshot_id long, sequence_number long, "
                      "timestamp_ms long, operation string, "
                      "added_data_files long, added_records long")
        if name == "history":
            md = self.metadata()
            cur = md["current-snapshot-id"]
            rows = [(h["timestamp-ms"], h["snapshot-id"],
                     h["snapshot-id"] == cur)
                    for h in md["snapshot-log"]]
            return local_rows_df(
                self.spark,
                rows, "timestamp_ms long, snapshot_id long, "
                      "is_current boolean")
        if name == "files":
            rows = [(e["info"].path, e["content"],
                     e["info"].record_count, e["info"].size_bytes,
                     json.dumps(e["info"].partition, default=str)
                     if e["info"].partition else None)
                    for e in self._entries(snapshot_id)]
            return local_rows_df(
                self.spark,
                rows, "file_path string, content int, record_count long, "
                      "size_bytes long, partition string")
        if name == "refs":
            rows = [(n, r.get("type"), r.get("snapshot-id"))
                    for n, r in self.metadata().get("refs", {}).items()]
            return local_rows_df(
                self.spark,
                rows, "name string, type string, snapshot_id long")
        if name == "partitions":
            md = self.metadata()
            spec = self._spec_info(md)
            agg: dict[tuple, list] = {}
            for e in self._entries(snapshot_id):
                if e["content"] != 0:
                    continue
                part = e["info"].partition or {}
                key = tuple(part.get(str(si["source_id"]))
                            for si in spec)
                a = agg.setdefault(key, [0, 0])
                a[0] += 1
                a[1] += e["info"].record_count
            fields = ", ".join(
                f"{si['field_name']} "
                + {"int": "int", "long": "long", "float": "float",
                   "double": "double", "boolean": "boolean",
                   "date": "date"}.get(si["result_type"], "string")
                for si in spec)
            schema = ((fields + ", ") if fields else "") + \
                "file_count long, record_count long"
            rows = [tuple(k) + (a[0], a[1]) for k, a in agg.items()]
            return self.spark.createDataFrame(rows, schema)
        raise ValueError(
            f"unknown metadata table {name!r} (snapshots, history, "
            "files, partitions, refs)")

    def remove_orphan_files(
            self, older_than_s: float = 3 * 86400,
            include_metadata: bool = False) -> list[str]:
        """DeleteOrphanFiles (the third Iceberg maintenance action,
        completing rewrite + expire): delete every file under
        ``data/`` that NO retained snapshot references. Run AFTER
        expire_snapshots — files referenced only by expired snapshots
        become orphans and are reclaimed here; files referenced by any
        retained snapshot (time travel) always survive. Returns the
        deleted paths.

        ``include_metadata`` also sweeps metadata/ for ``.avro``
        manifest and manifest-list files no retained snapshot
        references (pre-r8 lost-CAS attempts left one orphan pair per
        lost race; the commit path now cleans up after itself, this
        reclaims historical leftovers). vN.metadata.json and the
        version hint are never candidates.

        ``older_than_s`` (default 3 days, the reference action's
        olderThan horizon): only files whose modification time is at
        least this old are reclaimed — an IN-FLIGHT append writes its
        parquet BEFORE committing the manifest, and sweeping those
        young unreferenced files would corrupt the commit that is
        about to reference them. Pass 0 only when nothing else can be
        writing (tests, decommissioned tables).

        Referenced-set construction reads manifests (metadata-sized),
        never data; the data/ listing is the only filesystem sweep —
        at 100 TB both are driver-bounded metadata operations, the
        same shape as the reference's retention cleaners
        (gobblin-data-management/.../retention)."""
        import time as _time

        referenced: set[str] = set()
        meta_referenced: set[str] = set()
        md = self.metadata()  # one read; _entries(md=...) reuses it
        for snap in md["snapshots"]:
            meta_referenced.add(snap["manifest-list"].rsplit("/", 1)[-1])
            _, mans = ACF.read_container(
                self._read_bytes(snap["manifest-list"]))
            meta_referenced.update(
                m["manifest_path"].rsplit("/", 1)[-1] for m in mans)
            for e in self._entries(snap["snapshot-id"], md=md):
                referenced.add(e["info"].path)
        fs, base, _ = self._fs(f"{self.location}/data")
        deleted = []
        if not fs.exists(base):
            return deleted
        cutoff_ms = (_time.time() - older_than_s) * 1000
        it = fs.listFiles(base, True)
        doomed = []
        while it.hasNext():
            st = it.next()
            nm = st.getPath().getName()
            if nm.startswith(("_", ".")):
                continue
            if st.getModificationTime() > cutoff_ms:
                continue  # too young: may belong to an in-flight commit
            p = st.getPath().toString()
            if p not in referenced:
                doomed.append(st.getPath())
        for p in doomed:
            fs.delete(p, False)
            deleted.append(p.toString())
        if include_metadata:
            mfs, mbase, _ = self._fs(f"{self.location}/metadata")
            mit = mfs.listFiles(mbase, False)
            mdoomed = []
            while mit.hasNext():
                stt = mit.next()
                nm = stt.getPath().getName()
                # candidates: manifests/lists no retained snapshot
                # references, and .commit-*.tmp staging leftovers (a
                # committer killed between the temp write and the
                # rename CAS on rename-atomic stores, r11 review) —
                # vN.metadata.json and the hint are never candidates
                if not (nm.endswith(".avro")
                        or (".commit-" in nm and nm.endswith(".tmp"))):
                    continue
                if stt.getModificationTime() > cutoff_ms:
                    continue  # may belong to an in-flight commit
                if nm not in meta_referenced:
                    mdoomed.append(stt.getPath())
            for p in mdoomed:
                mfs.delete(p, False)
                deleted.append(p.toString())
        return deleted
