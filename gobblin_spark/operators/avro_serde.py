"""Avro binary serde: AvroToBytes / BytesToAvro as ``to_avro``/``from_avro``
column transforms.

Reference mapping:
- AvroToBytesConverter (gobblin-core/.../converter/AvroToBytesConverter.java:41)
  and BytesToAvroConverter: record ↔ Avro binary wire format — the
  reference's lingua franca between stages and Kafka topics.
- EnvelopeSchemaConverter (gobblin-modules/gobblin-kafka-common/.../
  EnvelopePayloadConverter.java): an envelope record carries the payload
  as Avro bytes; decode = ``from_avro`` on the payload column.

Spark design: ``pyspark.sql.avro.functions.to_avro/from_avro`` are
JVM-side Catalyst expressions (vectorized, codegen-friendly) and are
used when the external ``spark-avro`` module is on the classpath
(``--packages org.apache.spark:spark-avro_2.13:<version>``). When it
is not (this sandbox does not ship it), the same transforms run as
Arrow-batched ``mapInPandas`` over the pure-Python wire-format codec
in ``operators/avro_codec.py`` — slower (Python per record), but
byte-compatible and fully functional. Each converter picks the codec
from the platform (``avro_available``): the JVM one wherever
spark-avro is loaded, the Python one everywhere else. The JVM path is
the 100 TB path; the Python path makes Avro-bound pipelines runnable
and testable anywhere.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, functions as F, types as T

from gobblin_spark import schema as _schema


class AvroNotAvailable(RuntimeError):
    pass


def avro_available(spark) -> bool:
    """True iff the spark-avro datasource is loaded in this session."""
    try:
        # .schema forces analysis only — AVRO_NOT_LOADED surfaces here
        # synchronously, without launching a job (a .collect() probe
        # additionally fails inside the ExecutionListenerBus and spams
        # an ERROR stack trace into every session log)
        spark.range(1).select(
            __import__("pyspark.sql.avro.functions", fromlist=["to_avro"]).to_avro(F.col("id"))
        ).schema
        return True
    except Exception:
        return False


def _fns():
    try:
        from pyspark.sql.avro.functions import from_avro, to_avro
        return from_avro, to_avro
    except ImportError as ex:  # pragma: no cover
        raise AvroNotAvailable(
            "pyspark.sql.avro.functions unavailable"
        ) from ex


def record_to_avro_bytes(df: DataFrame, out_col: str = "value",
                         keep: list[str] | None = None) -> DataFrame:
    """AvroToBytesConverter.java:41 — pack the whole row into one Avro
    binary column (writer schema derived from the Catalyst schema):
    ``to_avro`` where spark-avro is loaded, else the wire-format codec
    in mapInPandas."""
    if avro_available(df.sparkSession):
        _, to_avro = _fns()
        packed = F.struct(*df.columns)
        cols = [F.col(c) for c in (keep or [])]
        return df.select(*cols, to_avro(packed).alias(out_col))

    import pandas as pd  # noqa: F401 (documents the worker dependency)

    avro_schema = json.dumps(_schema.struct_to_avro(df.schema))
    data_cols = list(df.columns)
    keep_cols = list(keep or [])
    out_fields = [df.schema[c] for c in keep_cols]
    out_schema = T.StructType(
        out_fields + [T.StructField(out_col, T.BinaryType(), False)])

    def enc(batches):
        import pandas as pd2

        from gobblin_spark.operators import avro_codec as AC

        sch = AC.parse_schema(avro_schema)

        def norm(v):
            # scalar null spellings only — containers pass through
            if v is None or v is pd2.NaT or v is pd2.NA:
                return None
            if isinstance(v, float) and pd2.isna(v):
                return None
            return v

        for pdf in batches:
            recs = pdf[data_cols].to_dict("records")
            payload = [
                AC.encode({k: norm(v) for k, v in r.items()}, sch) for r in recs
            ]
            out = pdf[keep_cols].copy() if keep_cols else pd2.DataFrame(index=pdf.index)
            out[out_col] = payload
            yield out

    return df.mapInPandas(enc, out_schema)


def avro_bytes_to_record(df: DataFrame, bytes_col: str = "value",
                         avro_schema: str | dict | None = None,
                         spark_schema=None, flatten: bool = True) -> DataFrame:
    """BytesToAvroConverter — decode an Avro binary column. Give either
    the Avro writer schema JSON (preferred: exact resolution) or a
    Catalyst schema (converted via schema.struct_to_avro). Decodes
    with ``from_avro`` where spark-avro is loaded, else with the
    wire-format codec in mapInPandas (record schemas only)."""
    if avro_schema is None:
        if spark_schema is None:
            raise ValueError("need avro_schema or spark_schema")
        avro_schema = _schema.struct_to_avro(spark_schema)
    if isinstance(avro_schema, dict):
        avro_schema = json.dumps(avro_schema)

    if avro_available(df.sparkSession):
        from_avro, _ = _fns()
        decoded = df.withColumn("_rec", from_avro(F.col(bytes_col), avro_schema))
        if not flatten:
            return decoded
        others = [c for c in df.columns if c != bytes_col]
        return decoded.select(*others, "_rec.*")

    rec_type = _schema.avro_to_struct(avro_schema)
    if not isinstance(rec_type, T.StructType):
        raise ValueError("the Python codec decodes record schemas only")
    others = [c for c in df.columns if c != bytes_col]
    other_fields = [df.schema[c] for c in others]
    if flatten:
        out_schema = T.StructType(other_fields + list(rec_type.fields))
    else:
        out_schema = T.StructType(
            other_fields + [T.StructField("_rec", rec_type, True)])

    def dec(batches):
        import pandas as pd2

        from gobblin_spark.operators import avro_codec as AC

        sch = AC.parse_schema(avro_schema)
        names = [f.name for f in rec_type.fields]
        for pdf in batches:
            recs = [AC.decode(b, sch) if b is not None else None
                    for b in pdf[bytes_col]]
            out = pdf[others].copy() if others else pd2.DataFrame(index=pdf.index)
            if flatten:
                for n in names:
                    out[n] = [r.get(n) if r is not None else None for r in recs]
            else:
                out["_rec"] = recs
            yield out

    return df.mapInPandas(dec, out_schema)


def decode_envelope(df: DataFrame, payload_col: str, payload_avro_schema: str | dict,
                    keep: list[str] | None = None) -> DataFrame:
    """EnvelopePayloadConverter — decode the nested payload bytes column
    of an envelope record, keeping selected envelope columns."""
    return avro_bytes_to_record(
        df.select(*(keep or []), F.col(payload_col).alias("_payload")),
        bytes_col="_payload",
        avro_schema=payload_avro_schema,
    )


# ------------------------------------------------------------------
# .avro object-container files (AvroHdfsDataWriter / Avro file source)
# ------------------------------------------------------------------


def write_avro(df: DataFrame, path: str, mode: str = "overwrite",
               partition_by: list[str] | None = None,
               codec: str = "null") -> list:
    """Write *df* as ``.avro`` object-container files — the
    AvroHdfsDataWriter output format (gobblin-core/.../writer/
    AvroHdfsDataWriter.java), runnable without the spark-avro jar.

    Each task streams its Arrow batches into one container file per
    partition-value combination it holds (``part-<task>-<uuid>.avro``),
    so memory is bounded by one Arrow batch, not the task's split.
    ``partition_by`` first repartitions on the keys (whole partition
    values per task — same clustering rationale as publish.stage) and
    lays files out hive-style ``key=value/``. Returns ONE summary Row
    (n_files, rows, bytes) aggregated distributed in the same pass —
    a 100M-file write never ships a per-file manifest to the driver
    (list the output dir for per-file detail).

    With spark-avro on the classpath prefer ``df.write.format('avro')``;
    this path exists so Avro-bound pipelines run (and are testable)
    anywhere, at Arrow-batch Python encode throughput."""
    import uuid as _uuid

    avro_schema = json.dumps(_schema.struct_to_avro(
        T.StructType([f for f in df.schema.fields
                      if f.name not in (partition_by or [])])))
    data_cols = [c for c in df.columns if c not in (partition_by or [])]
    pcols = list(partition_by or [])
    token = _uuid.uuid4().hex[:8]

    fs_path = path
    if pcols:
        df = df.repartition(*[F.col(c) for c in pcols])

    def writer(batches):
        import pandas as pd2
        from pyarrow import fs as pafs
        from pyspark import TaskContext

        from gobblin_spark.operators import avro_codec as AC2
        from gobblin_spark.operators import avro_container as ACF

        sch = AC2.parse_schema(avro_schema)
        tid = TaskContext.get().partitionId() if TaskContext.get() else 0
        if "://" in fs_path:
            fsys, root = pafs.FileSystem.from_uri(fs_path)
        else:
            fsys, root = pafs.LocalFileSystem(), fs_path
        open_files: dict[tuple, tuple] = {}  # key -> (stream, sync, counts)

        def norm(v):
            if v is None or v is pd2.NaT or v is pd2.NA:
                return None
            if isinstance(v, float) and pd2.isna(v):
                return None
            return v

        def stream_for(key: tuple):
            if key not in open_files:
                sub = "/".join(f"{c}={v}" for c, v in zip(pcols, key))
                d = f"{root}/{sub}" if sub else root
                fsys.create_dir(d, recursive=True)
                fname = f"{d}/part-{tid:05d}-{token}.avro"
                stream = fsys.open_output_stream(fname)
                sync = ACF.new_sync()
                ACF.write_header(stream, avro_schema, sync, codec)
                open_files[key] = [stream, sync, fname, 0]
            return open_files[key]

        for pdf in batches:
            if pcols:
                groups = pdf.groupby(pcols, dropna=False, sort=False)
            else:
                groups = [((), pdf)]
            for key, grp in groups:
                if not isinstance(key, tuple):
                    key = (key,)
                ent = stream_for(key)
                encoded = [
                    AC2.encode({k: norm(v) for k, v in r.items()}, sch)
                    for r in grp[data_cols].to_dict("records")
                ]
                ACF.write_block(ent[0], encoded, ent[1], codec)
                ent[3] += len(encoded)
        out = []
        for stream, _sync, fname, rows in open_files.values():
            stream.close()
            info = fsys.get_file_info(fname)
            out.append((fname, rows, info.size))
        yield pd2.DataFrame(out, columns=["file", "rows", "bytes"])

    if mode == "overwrite":
        from pyarrow import fs as pafs

        if "://" in fs_path:
            fsys, root = pafs.FileSystem.from_uri(fs_path)
        else:
            fsys, root = pafs.LocalFileSystem(), fs_path
        try:
            fsys.delete_dir_contents(root)
        except FileNotFoundError:
            pass
    return (
        df.mapInPandas(writer, "file string, rows long, bytes long")
        .agg(F.count(F.lit(1)).alias("n_files"),
             F.coalesce(F.sum("rows"), F.lit(0)).alias("rows"),
             F.coalesce(F.sum("bytes"), F.lit(0)).alias("bytes"))
        .collect()[0]
    )


def read_avro(spark, path: str, avro_schema: str | None = None) -> DataFrame:
    """Distributed ``.avro`` container read: list the files (hive-style
    partition dirs included), take the writer schema from the first
    header (one bounded driver read), then decode one file per task via
    mapInPandas. Partition-dir ``key=value`` columns are re-attached as
    strings. The python twin of ``spark.read.format('avro')``."""
    from pyarrow import fs as pafs

    if "://" in path:
        fsys, root = pafs.FileSystem.from_uri(path)
    else:
        fsys, root = pafs.LocalFileSystem(), path
    infos = fsys.get_file_info(pafs.FileSelector(root, recursive=True))
    files = sorted(i.path for i in infos
                   if i.type == pafs.FileType.File and i.path.endswith(".avro"))
    if not files:
        raise FileNotFoundError(f"no .avro files under {path}")
    if avro_schema is None:
        from gobblin_spark.operators import avro_container as ACF

        with fsys.open_input_stream(files[0]) as f:
            avro_schema = ACF.read_header_schema(f.read(64 << 10))
    rec_type = _schema.avro_to_struct(avro_schema)

    # partition columns from key=value dir segments
    rel = [f[len(root.rstrip("/")) + 1:] for f in files]
    pcols: list[str] = []
    for seg in rel[0].split("/")[:-1]:
        if "=" in seg:
            pcols.append(seg.split("=", 1)[0])
    out_schema = T.StructType(
        list(rec_type.fields)
        + [T.StructField(c, T.StringType(), True) for c in pcols])

    # JVM LocalRelation (session.local_rows_df): the file list is
    # driver-built; the python-RDD lift added a worker round trip
    # below the repartition that fans the actual reads out
    from gobblin_spark.session import local_rows_df

    fdf = local_rows_df(spark, [(f, r) for f, r in zip(files, rel)],
                        "file string, rel string")
    fdf = fdf.repartition(min(len(files), 64))
    names = [f.name for f in rec_type.fields]
    schema_json = avro_schema

    def reader(batches):
        import pandas as pd2
        from pyarrow import fs as pafs2

        from gobblin_spark.operators import avro_container as ACF2

        for pdf in batches:
            for file, rel_p in zip(pdf["file"], pdf["rel"]):
                if "://" in file:
                    f2, p2 = pafs2.FileSystem.from_uri(file)
                else:
                    f2, p2 = pafs2.LocalFileSystem(), file
                with f2.open_input_stream(p2) as fh:
                    _, records = ACF2.read_container(fh.read())
                cols = {n: [r.get(n) for r in records] for n in names}
                for seg in rel_p.split("/")[:-1]:
                    if "=" in seg:
                        k, v = seg.split("=", 1)
                        cols[k] = [v] * len(records)
                yield pd2.DataFrame(cols)

    _ = schema_json  # documents that the writer schema resolved above
    return fdf.mapInPandas(reader, out_schema)
