"""Row-transform operators — Gobblin's Converter zoo as DataFrame functions.

Every Gobblin pipeline stage implements
``Converter.convertRecord(outputSchema, record, state) → Iterable<DO>``
(gobblin-api/.../converter/Converter.java:61,111) — a per-record flatMap.
In Spark each converter becomes a declarative ``DataFrame → DataFrame``
function (the RecordStreamProcessor shape,
gobblin-api/.../records/RecordStreamProcessor.java:35), so Catalyst sees
through the whole chain: projections collapse, filters push to the scan,
and everything below stays inside WholeStageCodegen — no per-record
Python ever runs for these.

Converter → function map (reference file:line in each docstring):
identity, project/drop, pick-fields (nested), field-retriever, filter-eq,
regex-filter, sampling, flatten-nested, split-explode, json/csv parse,
grok parse, to/from json string, time parsing.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StructType


def identity(df: DataFrame) -> DataFrame:
    """IdentityConverter (gobblin-core-base/.../IdentityConverter.java:25)."""
    return df


def project_drop(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """Remove listed (possibly nested ``a.b``) fields.

    AvroProjectionConverter.java:42 + AvroSchemaFieldRemover.java:41.
    Nested drops use ``dropFields`` so the struct stays a struct.
    """
    top = [f for f in fields if "." not in f]
    nested = [f for f in fields if "." in f]
    out = df.drop(*top) if top else df
    for path in nested:
        root, rest = path.split(".", 1)
        out = out.withColumn(root, F.col(root).dropFields(rest))
    return out


def pick_fields(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """Keep only the listed fields; nested paths keep their leaf name.

    AvroFieldsPickConverter.java:50 (dotted-path pick incl. nested).
    """
    cols = [F.col(f).alias(f.split(".")[-1]) if "." in f else F.col(f) for f in fields]
    return df.select(*cols)


def retrieve_field(df: DataFrame, field: str, alias: str | None = None) -> DataFrame:
    """Extract one (possibly nested) field as the whole record.

    AvroFieldRetrieverConverter.java:43.
    """
    return df.select(F.col(field).alias(alias or field.split(".")[-1]))


def filter_field_equals(df: DataFrame, field: str, value) -> DataFrame:
    """Keep records where field == value, drop the rest.

    AvroFilterConverter.java:42 (convertRecordImpl:84-90).
    """
    return df.filter(F.col(field) == F.lit(value))


def filter_regex(df: DataFrame, field: str, pattern: str) -> DataFrame:
    """Keep records whose string field matches the regex.

    StringFilterConverter.java:40.
    """
    return df.filter(F.col(field).rlike(pattern))


def sample_bernoulli(df: DataFrame, ratio: float, seed: int = 42) -> DataFrame:
    """Bernoulli sample at ``ratio`` — SamplingConverter.java:36.

    Uses Spark's native sampler (per-partition, no shuffle). For a
    *cross-engine reproducible* sample use :func:`sample_deterministic`.
    """
    return df.sample(withReplacement=False, fraction=ratio, seed=seed)


def sample_deterministic(df: DataFrame, key_col: str, keep_hex_digits: Sequence[str]) -> DataFrame:
    """Deterministic engine-portable sample: keep rows whose md5(key)
    first hex digit falls in ``keep_hex_digits`` (each digit ≈ 1/16).

    Same records are kept by any engine that computes md5 — used for
    oracle-checkable sampling (Gobblin's SamplingConverter is random;
    determinism here is a test-oriented upgrade, not a semantic change).
    """
    digit = F.substring(F.md5(F.col(key_col).cast("string")), 1, 1)
    return df.filter(digit.isin(list(keep_hex_digits)))


def flatten_nested(df: DataFrame, paths: Mapping[str, str]) -> DataFrame:
    """Copy nested keys to top level: {``a.b``: ``a_b``} → withColumn.

    FlattenNestedKeyConverter.java:58.
    """
    out = df
    for path, name in paths.items():
        out = out.withColumn(name, F.col(path))
    return out


def flatten_all(df: DataFrame, sep: str = "_") -> DataFrame:
    """Fully flatten every struct column (recursive), prefixing names.

    Generalization of FlattenNestedKeyConverter for whole-schema flatten
    (used by the Hive Avro→ORC nested-flattening generator,
    HiveAvroORCQueryGenerator.java:517-545).
    """
    def expand(schema: StructType, prefix: str) -> list[Column]:
        cols: list[Column] = []
        for f in schema.fields:
            full = f"{prefix}.{f.name}" if prefix else f.name
            name = full.replace(".", sep)
            if isinstance(f.dataType, StructType):
                cols.extend(expand(f.dataType, full))
            else:
                cols.append(F.col(full).alias(name))
        return cols

    return df.select(*expand(df.schema, ""))


def flatten_tracking_events(
    df: DataFrame,
    metadata_keys: Sequence[str],
    keep_names: Sequence[str] | None = None,
    name_col: str = "name",
    metadata_col: str = "metadata",
) -> DataFrame:
    """GobblinTrackingEvent flatten-filter: selected ``metadata`` map
    keys become top-level string columns and events whose ``name`` is
    not in ``keep_names`` are dropped (None keeps all).

    GobblinTrackingEventFlattenFilterConverter.java (gobblin-core-base):
    the reference converter rebuilds a flat Avro record from
    ``fields.to.flatten``; here the map lookup is a Column expression
    (missing keys → null columns, matching the Avro nullable-union
    default). Pure codegen — no shuffle, no Python."""
    out = df
    if keep_names is not None:
        out = out.filter(F.col(name_col).isin(list(keep_names)))
    for k in metadata_keys:
        out = out.withColumn(k, F.col(metadata_col)[k])
    return out.drop(metadata_col)


def split_explode(
    df: DataFrame, field: str, delimiter_regex: str, out_col: str = "token"
) -> DataFrame:
    """Split a string into N records — the canonical 1→N converter.

    StringSplitterConverter.java:34 / StringSplitterToListConverter.
    Empty tokens are dropped (Gobblin's StringSplitter uses
    omitEmptyStrings).
    """
    tok = F.explode(F.split(F.col(field), delimiter_regex)).alias(out_col)
    return df.select("*", tok).filter(F.col(out_col) != "").drop(field)


def parse_json_column(df: DataFrame, field: str, schema: StructType | str, out_col: str = "parsed") -> DataFrame:
    """JSON string → typed struct — JsonStringToJsonIntermediateConverter.java:48.

    (from_json; malformed rows yield null struct = Gobblin's nullable
    JsonIntermediate fields.)
    """
    return df.withColumn(out_col, F.from_json(F.col(field), schema))


def to_json_column(df: DataFrame, fields: Sequence[str], out_col: str = "json") -> DataFrame:
    """Struct → JSON string — AvroToRestJsonEntryConverter / JsonToStringConverter."""
    return df.withColumn(out_col, F.to_json(F.struct(*[F.col(f) for f in fields])))


def parse_csv_column(
    df: DataFrame, field: str, schema: str, sep: str = ",", out_col: str = "parsed"
) -> DataFrame:
    """CSV line → typed struct — CsvToJsonConverterV2.java:68 (custom
    delimiters land in options)."""
    return df.withColumn(out_col, F.from_csv(F.col(field), schema, {"sep": sep}))


def grok_parse(
    df: DataFrame, field: str, patterns: Mapping[str, str], drop_source: bool = False
) -> DataFrame:
    """Log-line parse: named regex group per output field, null when no match.

    GrokToJsonConverter.java:86 — grok patterns compile to regexes; here
    each output field supplies its own regex with ONE capture group.
    regexp_extract returns '' on no-match; normalize to null like grok's
    nullable fields.
    """
    out = df
    for name, regex in patterns.items():
        v = F.regexp_extract(F.col(field), regex, 1)
        out = out.withColumn(name, F.when(v == "", None).otherwise(v))
    return out.drop(field) if drop_source else out


def cast_columns(df: DataFrame, casts: Mapping[str, str]) -> DataFrame:
    """Type-cast converters (TextToString/ObjectToString/StringToBytes...).

    gobblin-core/.../string/*.java — plain casts.
    """
    out = df
    for c, t in casts.items():
        out = out.withColumn(c, F.col(c).cast(t))
    return out


def chain(df: DataFrame, *transforms) -> DataFrame:
    """MultiConverter.java:50 — compose a converter chain left-to-right.

    Each transform is ``DataFrame → DataFrame``; Catalyst fuses the chain
    into one plan (no materialization between stages).
    """
    for t in transforms:
        df = t(df)
    return df


def to_jdbc_entries(
    df: DataFrame,
    column_map: Mapping[str, str] | None = None,
    type_overrides: Mapping[str, str] | None = None,
) -> DataFrame:
    """AvroToJdbcEntryConverter (gobblin-modules/gobblin-sql/.../
    AvroToJdbcEntryConverter.java:77): rename record fields to database
    column names and normalize types for a JDBC sink (nested fields are
    rejected there; flatten first with ``flatten_all``)."""
    for f in df.schema.fields:
        if f.dataType.typeName() in ("struct", "array", "map"):
            raise ValueError(
                f"JDBC entries must be flat; `{f.name}` is {f.dataType.simpleString()}"
                " (apply flatten_all first)"
            )
    out = df
    for src, dst in (column_map or {}).items():
        out = out.withColumnRenamed(src, dst)
    if type_overrides:
        out = cast_columns(out, dict(type_overrides))
    return out


def object_store_delete_manifest(df: DataFrame, key_col: str) -> DataFrame:
    """ObjectStoreDeleteConverter (gobblin-modules/gobblin-couchbase et
    al.: converter emits delete operations keyed by object id). The
    Spark shape: a slim distinct delete-manifest DataFrame; execution is
    a separate, idempotent step (below) so the manifest can be audited
    or published before any destructive action."""
    return df.select(F.col(key_col).cast("string").alias("key")).distinct()


def execute_object_deletes(manifest: DataFrame) -> DataFrame:
    """Apply a delete manifest: each task deletes its keys via pyarrow
    (file/HDFS/S3 URIs). A missing key is an idempotent no-op reported
    as (deleted=false, error=null) — "nothing deleted, nothing wrong" —
    distinct from a real failure (deleted=false, error set). Returns
    (key, deleted, error) — run an action on it."""

    def delete_batch(batches):
        import pandas as pd
        from pyarrow import fs as pafs

        for pdf in batches:
            out = []
            for key in pdf["key"]:
                deleted, err = True, None
                try:
                    if "://" in key:
                        f, p = pafs.FileSystem.from_uri(key)
                    else:
                        f, p = pafs.LocalFileSystem(), key
                    info = f.get_file_info([p])[0]
                    if info.type == pafs.FileType.NotFound:
                        deleted = False  # idempotent no-op
                    else:
                        f.delete_file(p)
                except Exception as ex:  # noqa: BLE001 - per-key isolation
                    deleted, err = False, f"{type(ex).__name__}: {ex}"
                out.append((key, deleted, err))
            yield pd.DataFrame(out, columns=["key", "deleted", "error"])

    return manifest.mapInPandas(delete_batch, "key string, deleted boolean, error string")


def async_map_1to1(
    df: DataFrame,
    fn,
    out_field: str,
    out_type: str = "string",
    max_concurrency: int = 16,
    input_cols: Sequence[str] | None = None,
) -> DataFrame:
    """AsyncConverter1to1 (gobblin-core-base/.../converter/
    AsyncConverter1to1.java): 1:1 conversion whose per-record work is
    I/O-bound (REST enrichment, KV lookup), with a bounded number of
    in-flight conversions.

    Spark shape: ``mapInPandas`` — Arrow batches cross into Python once,
    and inside each task a thread pool of *max_concurrency* workers
    overlaps the I/O waits. ``fn(row_dict) → value`` is applied in
    order (executor.map preserves input order), so the output is the
    input plus one ``out_field`` column — strictly 1:1, like the
    reference's completed-future stream. CPU-bound work does NOT belong
    here (the GIL serializes it); use plain Column exprs or pandas ops.
    """
    cols = list(input_cols) if input_cols else [f.name for f in df.schema.fields]
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{out_field}` {out_type}"]
    )

    def run(batches):
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            for pdf in batches:
                rows = pdf[cols].to_dict("records")
                pdf[out_field] = list(pool.map(fn, rows))
                yield pdf

    return df.mapInPandas(run, out_schema)
