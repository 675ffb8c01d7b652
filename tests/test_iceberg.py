"""Iceberg v2 metadata writer (IcebergMetadataWriter.java analog):
create / append snapshots / time travel / expiration, with the
manifest chain written as real Avro containers per the table spec."""

import json
import os

from pyspark.sql import functions as F

from gobblin_spark.operators import avro_container as ACF
from gobblin_spark.sinks import iceberg as I
from gobblin_spark.sources import files


def test_create_append_read_roundtrip(spark, sf_dir, tmp_path):
    loc = str(tmp_path / "ice")
    region = files.load_table(spark, sf_dir, "region")
    t = I.IcebergTable.create(spark, loc, region.schema)
    snap1 = t.append_dataframe(region)
    back = t.read()
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, region.collect()))

    # second append: new snapshot sees old + new rows
    more = region.withColumn("r_regionkey", F.col("r_regionkey") + 100)
    snap2 = t.append_dataframe(more)
    assert t.read().count() == 2 * region.count()
    # time travel: snapshot 1 still reads only the first batch
    assert t.read(snapshot_id=snap1).count() == region.count()
    assert [s["snapshot-id"] for s in t.snapshots()] == [snap1, snap2]


def test_metadata_layout_is_spec_shaped(spark, sf_dir, tmp_path):
    loc = str(tmp_path / "ice2")
    nation = files.load_table(spark, sf_dir, "nation")
    t = I.IcebergTable.create(spark, loc, nation.schema)
    t.append_dataframe(nation)

    # version-hint + vN.metadata.json (HadoopTables commit protocol)
    hint = open(os.path.join(loc, "metadata", "version-hint.text")).read()
    md = json.load(open(os.path.join(loc, "metadata",
                                     f"v{int(hint)}.metadata.json")))
    assert md["format-version"] == 2
    assert md["current-snapshot-id"] != -1
    assert md["schemas"][0]["fields"][0]["id"] == 1  # spec field ids
    snap = md["snapshots"][0]
    assert snap["summary"]["operation"] == "append"

    # the manifest chain is real Avro containers with spec field names
    mlist = open(snap["manifest-list"], "rb").read()
    schema_json, manifests = ACF.read_container(mlist)
    assert any(f.get("field-id") == 500
               for f in json.loads(schema_json)["fields"])
    assert manifests[0]["added_files_count"] >= 1
    _, entries = ACF.read_container(
        open(manifests[0]["manifest_path"], "rb").read())
    d = entries[0]["data_file"]
    assert d["file_format"] == "PARQUET" and d["record_count"] > 0
    assert d["file_path"].endswith(".parquet")
    # record counts in the manifest equal the actual table rows
    assert sum(e["data_file"]["record_count"] for e in entries) == \
        nation.count()


def test_expire_snapshots_keeps_current(spark, sf_dir, tmp_path):
    loc = str(tmp_path / "ice3")
    region = files.load_table(spark, sf_dir, "region")
    t = I.IcebergTable.create(spark, loc, region.schema)
    t.append_dataframe(region)
    snap2 = t.append_dataframe(region)
    # horizon far in the future: everything but current expires
    dropped = t.expire_snapshots(older_than_ms=2 ** 62)
    assert dropped == 1
    assert [s["snapshot-id"] for s in t.snapshots()] == [snap2]
    assert t.read().count() == 2 * region.count()  # current data intact


def test_add_column_null_fills_old_files(spark, tmp_path):
    from pyspark.sql import types as T

    df1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    t = I.IcebergTable.create(spark, str(tmp_path / "evo"), df1.schema)
    s1 = t.append_dataframe(df1)
    t.add_column("tag", T.StringType())
    t.append_dataframe(
        spark.createDataFrame([(3, 30.0, "x")], "k long, v double, tag string"))
    cur = {r.k: r.tag for r in t.read().collect()}
    assert cur == {1: None, 2: None, 3: "x"}
    # metadata: fresh field-id, current-schema-id flipped, old schema kept
    md = t.metadata()
    assert md["last-column-id"] == 3 and len(md["schemas"]) == 2
    # time-travel to s1 uses the snapshot's OWN schema (2 columns)
    assert t.read(snapshot_id=s1).columns == ["k", "v"]


def test_equality_delete_sequence_semantics(spark, tmp_path):
    df1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, s string")
    t = I.IcebergTable.create(spark, str(tmp_path / "del"), df1.schema)
    t.append_dataframe(df1)
    before_delete = t.metadata()["current-snapshot-id"]
    t.delete_equality(spark.createDataFrame([(2,), (3,)], "k long"))
    t.append_dataframe(  # re-insert k=3 AFTER the delete
        spark.createDataFrame([(3, "c2")], "k long, s string"))
    assert {r.k: r.s for r in t.read().collect()} == {1: "a", 3: "c2"}
    # reading the pre-delete snapshot still sees all three rows
    assert sorted(r.k for r in t.read(snapshot_id=before_delete).collect()) \
        == [1, 2, 3]
    # apply_deletes=False exposes the raw merge-on-read data files
    assert sorted(r.k for r in t.read(apply_deletes=False).collect()) \
        == [1, 2, 3, 3]
    # manifest carries content=2 + the equality field-id of k
    dels = [e for e in t._entries() if e["content"] == 2]
    assert len(dels) == 1 and dels[0]["equality_ids"] == [1]


def test_delete_unknown_column_rejected(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = I.IcebergTable.create(spark, str(tmp_path / "bad"), df.schema)
    t.append_dataframe(df)
    import pytest as _pt
    with _pt.raises(ValueError, match="equality columns"):
        t.delete_equality(spark.createDataFrame([(1,)], "nope long"))


def test_position_delete_by_file_and_row(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, s string")
    t = I.IcebergTable.create(spark, str(tmp_path / "pos"), df.schema)
    t.append_dataframe(df)
    # address rows k in (2, 4) by their physical (file, row) identity
    positions = t.read().select(
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("pos"),
        "k",
    ).filter(F.col("k").isin(2, 4)).drop("k")
    t.delete_positions(positions)
    assert sorted(r.k for r in t.read().collect()) == [1, 3]
    # rows appended AFTER the position delete are untouched (seq guard)
    t.append_dataframe(spark.createDataFrame([(9, "z")], "k long, s string"))
    assert sorted(r.k for r in t.read().collect()) == [1, 3, 9]
    # schema of the merged read is clean (no metadata helper columns)
    assert t.read().columns == ["k", "s"]
    # and both delete flavors coexist: equality-delete k=3 on top
    t.delete_equality(spark.createDataFrame([(3,)], "k long"))
    assert sorted(r.k for r in t.read().collect()) == [1, 9]


def test_position_delete_rejects_bad_schema(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = I.IcebergTable.create(spark, str(tmp_path / "posbad"), df.schema)
    t.append_dataframe(df)
    import pytest as _pt
    with _pt.raises(ValueError, match="file_path"):
        t.delete_positions(spark.createDataFrame([(1,)], "x long"))


def test_upsert_replaces_matched_inserts_new(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        "k long, s string, v double")
    t = I.IcebergTable.create(spark, str(tmp_path / "up"), df.schema)
    t.append_dataframe(df)
    t.upsert_dataframe(spark.createDataFrame(
        [(2, "B2", 20.0), (4, "d", 4.0)], "k long, s string, v double"),
        key_cols=["k"])
    got = {r.k: (r.s, r.v) for r in t.read().collect()}
    assert got == {1: ("a", 1.0), 2: ("B2", 20.0),
                   3: ("c", 3.0), 4: ("d", 4.0)}
    # a second upsert of the same key wins again (latest sequence)
    t.upsert_dataframe(spark.createDataFrame(
        [(2, "B3", 200.0)], "k long, s string, v double"), key_cols=["k"])
    assert {r.k: r.s for r in t.read().collect()}[2] == "B3"


def test_rewrite_data_files_compacts_and_preserves(spark, tmp_path):
    """Compaction: N small files + deletes -> one replace snapshot with
    a single compacted file; current read unchanged; time travel to the
    pre-rewrite snapshot still sees the old view."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "ice_rw")
    df0 = spark.range(0, 30).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    t = IcebergTable.create(spark, loc, df0.schema)
    for lo in (0, 10, 20):  # three small appends -> >= 3 data files
        t.append_dataframe(df0.filter(f"k >= {lo} AND k < {lo + 10}"))
    t.delete_equality(spark.createDataFrame([(5,), (25,)], "k long"))
    pre_snap = t.metadata()["current-snapshot-id"]
    pre_rows = sorted(r.k for r in t.read().collect())
    n_files_before = len(t.data_files())
    assert n_files_before >= 3

    t.rewrite_data_files(target_partitions=1)
    assert len(t.data_files()) == 1
    assert sorted(r.k for r in t.read().collect()) == pre_rows
    assert 5 not in pre_rows and 25 not in pre_rows
    # the replace snapshot is recorded as such
    assert t.snapshots()[-1]["summary"]["operation"] == "replace"
    # time travel: the pre-rewrite snapshot still reads identically
    tt = sorted(r.k for r in t.read(snapshot_id=pre_snap).collect())
    assert tt == pre_rows
    # appending after the rewrite composes
    t.append_dataframe(spark.createDataFrame([(100, 1.0)], "k long, v double"))
    assert 100 in {r.k for r in t.read().collect()}


def test_remove_orphan_files_after_expire(spark, tmp_path):
    """compact -> expire -> orphan removal reclaims the superseded
    small files; retained snapshots' files survive; reads intact."""
    import time as _time

    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "ice_orphan")
    df0 = spark.range(0, 20).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    t = IcebergTable.create(spark, loc, df0.schema)
    # coalesce(1): filters over 32 partitions produce 0-row part
    # files, which append_dataframe now skips committing — they would
    # show up as immediate orphans and blur this test's accounting
    t.append_dataframe(df0.filter("k < 10").coalesce(1))
    t.append_dataframe(df0.filter("k >= 10").coalesce(1))
    pre = sorted(r.k for r in t.read().collect())
    t.rewrite_data_files(target_partitions=1)
    # nothing is orphaned yet: old snapshots still reference old files
    assert t.remove_orphan_files(older_than_s=0) == []
    # expire everything but the current snapshot -> old files orphan
    t.expire_snapshots(older_than_ms=int(_time.time() * 1000) + 10_000)
    deleted = t.remove_orphan_files(older_than_s=0)
    assert len(deleted) >= 2  # the two pre-compaction data files
    assert sorted(r.k for r in t.read().collect()) == pre
    # idempotent
    assert t.remove_orphan_files(older_than_s=0) == []


def test_rename_column_reads_old_files_by_field_id(spark, tmp_path):
    """RENAME evolution: files written before the rename serve the new
    name via their embedded parquet field-ids — values, not nulls."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "ice_rename")
    df0 = spark.range(0, 5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    t = IcebergTable.create(spark, loc, df0.schema)
    t.append_dataframe(df0)
    pre_snap = t.metadata()["current-snapshot-id"]
    t.rename_column("v", "value")
    # old files (written as 'v') serve the renamed column
    got = {r.k: r.value for r in t.read().collect()}
    assert got == {i: float(i) for i in range(5)}
    # appends under the new name land in the same field-id
    t.append_dataframe(
        spark.createDataFrame([(9, 9.0)], "k long, value double"))
    assert {r.k: r.value for r in t.read().collect()}[9] == 9.0
    # time travel to the pre-rename snapshot shows the OLD name
    old = t.read(snapshot_id=pre_snap)
    assert "v" in old.columns and "value" not in old.columns
    assert {r.k: r.v for r in old.collect()} == {i: float(i) for i in range(5)}


def test_drop_then_readd_column_cannot_resurrect_old_data(spark, tmp_path):
    """DROP gives the re-added NAME a fresh field-id, so data written
    under the dropped field's id never leaks back in by name."""
    from pyspark.sql import types as T

    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "ice_drop")
    df0 = spark.range(0, 4).selectExpr("id AS k", "CAST(id + 100 AS DOUBLE) AS v")
    t = IcebergTable.create(spark, loc, df0.schema)
    t.append_dataframe(df0)
    pre_snap = t.metadata()["current-snapshot-id"]
    t.drop_column("v")
    assert t.read().columns == ["k"]
    # re-add the same NAME: fresh field-id -> old files null-fill
    t.add_column("v", T.DoubleType())
    vals = {r.k: r.v for r in t.read().collect()}
    assert vals == {i: None for i in range(4)}
    # new writes populate the new field
    t.append_dataframe(spark.createDataFrame([(7, 7.5)], "k long, v double"))
    assert {r.k: r.v for r in t.read().collect()}[7] == 7.5
    # time travel before the drop still shows the original values
    assert {r.k: r.v for r in t.read(snapshot_id=pre_snap).collect()} == {
        i: float(i + 100) for i in range(4)}


def test_equality_delete_survives_rename(spark, tmp_path):
    """A delete committed BEFORE a rename still removes its rows after
    it: equality field-ids + id-resolved delete files are name-proof."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "ice_del_rename")
    df0 = spark.range(0, 6).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    t = IcebergTable.create(spark, loc, df0.schema)
    t.append_dataframe(df0)
    t.delete_equality(spark.createDataFrame([(2,), (4,)], "k long"))
    t.rename_column("k", "key")
    assert sorted(r.key for r in t.read().collect()) == [0, 1, 3, 5]


def test_manifest_bounds_recorded_and_files_skipped(spark, tmp_path):
    """Data files carry spec-field 125/128 column bounds (single-value
    serialized from parquet footer stats); a pruned read opens only
    the files whose bounds admit the predicate, and results stay
    exact."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "ice_bounds")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v").coalesce(1)
    t = IcebergTable.create(spark, loc, mk(0, 1).schema)
    t.append_dataframe(mk(0, 100))       # file A: k in [0, 99]
    t.append_dataframe(mk(100, 200))     # file B: k in [100, 199]
    t.append_dataframe(mk(200, 300))     # file C: k in [200, 299]

    # bounds present on every data file
    for e in t._entries():
        assert e["info"].lower_bounds and e["info"].upper_bounds

    got = t.read(prune_filters=[("k", ">=", 250)])
    assert t.last_scan == {"files_total": 3, "files_scanned": 1}
    assert sorted(r.k for r in got.collect()) == list(range(250, 300))

    got = t.read(prune_filters=[("k", "<", 100)])
    assert t.last_scan["files_scanned"] == 1
    assert got.count() == 100

    # equality point lookup touches exactly one file
    got = t.read(prune_filters=[("k", "==", 150)])
    assert t.last_scan["files_scanned"] == 1
    assert [r.v for r in got.collect()] == [150.0]

    # unpruned read sees everything
    assert t.read().count() == 300 and t.last_scan["files_scanned"] == 3


def test_bounds_pruning_composes_with_deletes_and_rename(spark, tmp_path):
    """Scan planning must not break merge-on-read or evolution: after
    an equality delete and a rename, a pruned read still returns the
    exact surviving rows (bounds are keyed by field-id, so the renamed
    column prunes too)."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "ice_bounds_mor")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v").coalesce(1)
    t = IcebergTable.create(spark, loc, mk(0, 1).schema)
    t.append_dataframe(mk(0, 100))
    t.append_dataframe(mk(100, 200))
    t.delete_equality(spark.createDataFrame(
        [(i,) for i in range(150, 160)], "k long"))
    t.rename_column("k", "key")
    got = t.read(prune_filters=[("key", ">=", 140)])
    assert t.last_scan == {"files_total": 2, "files_scanned": 1}
    assert sorted(r.key for r in got.collect()) == (
        list(range(140, 150)) + list(range(160, 200)))


def test_sv_serialization_roundtrip():
    """Appendix-D single-value serialization is exact for every type
    bounds support."""
    from gobblin_spark.sinks import iceberg as I

    cases = [
        (42, "int"), (-7, "int"), (2**60, "long"), (-(2**60), "long"),
        (1.5, "float"), (-3.25, "double"), (True, "boolean"),
        (False, "boolean"), (19000, "date"), (1700000000000000, "timestamp"),
    ]
    for v, t in cases:
        raw = I._sv_ser(v, t)
        assert raw is not None and I._sv_deser(raw, t) == v, (v, t)


def test_sorted_rewrite_keeps_pruning_effective(spark, tmp_path):
    """rewrite_data_files(sort_by=...) range-partitions the compacted
    output, so file bounds stay disjoint and scan planning still skips
    — the sort-strategy rewrite of the real maintenance action."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "ice_sorted_rw")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v").coalesce(1)
    t = IcebergTable.create(spark, loc, mk(0, 1).schema)
    # interleaved appends: every file covers the full key range
    for r in range(4):
        t.append_dataframe(
            spark.range(0, 400).filter(f"id % 4 = {r}")
            .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(1))
    t.read(prune_filters=[("k", "<", 100)])
    assert t.last_scan["files_scanned"] == 4  # nothing prunable
    t.rewrite_data_files(target_partitions=4, sort_by=["k"])
    got = t.read(prune_filters=[("k", "<", 100)])
    assert t.last_scan["files_total"] == 4
    assert t.last_scan["files_scanned"] <= 2  # disjoint ranges now
    assert sorted(r_.k for r_ in got.collect()) == list(range(100))


def test_drop_column_refuses_pending_equality_delete(spark, tmp_path):
    """Dropping a column referenced by a pending equality-delete file
    would leave unreadable delete entries (their field-id no longer
    maps to a name); the drop must refuse until compaction folds the
    deletes in."""
    import pytest as _pt

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "ice_dropdel"), df.schema)
    t.append_dataframe(df)
    t.delete_equality(spark.createDataFrame([(2,)], "k long"))
    with _pt.raises(ValueError, match="pending equality-delete"):
        t.drop_column("k")
    # the OTHER column drops fine, and the delete still applies
    t.drop_column("s")
    assert [r.k for r in t.read().collect()] == [1]
    # after compaction the delete is materialized -> drop now allowed
    t.rewrite_data_files()
    t.add_column("s2", df.schema["s"].dataType)
    t.drop_column("k")  # no pending deletes anymore
    assert t.read().columns == ["s2"]


def test_identity_partition_roundtrip_and_pruning(spark, tmp_path):
    """Identity partition spec: files land under col=value/ dirs, the
    manifest records each file's partition tuple, reads re-attach the
    partition column (partitionBy drops it from the files), and a
    partition predicate prunes at the manifest — before bounds, before
    any footer."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame(
        [(i, ["us", "eu", "jp"][i % 3], float(i)) for i in range(30)],
        "k long, region string, v double")
    t = IcebergTable.create(spark, str(tmp_path / "ice_part"), df.schema,
                            partition_cols=["region"])
    md = t.metadata()
    spec = md["partition-specs"][0]["fields"]
    assert spec == [{"name": "region", "transform": "identity",
                     "source-id": 2, "field-id": 1000}]
    t.append_dataframe(df.coalesce(1))
    # every data file carries its partition tuple, keyed by the
    # SOURCE FIELD-ID (rename-proof, like the value bounds)
    for e in t._entries():
        assert e["info"].partition and "2" in e["info"].partition
    # full read equals the source (partition column re-attached)
    got = sorted(map(tuple, t.read().select("k", "region", "v").collect()))
    assert got == sorted(map(tuple, df.collect()))
    # exact partition pruning: only the eu files scan
    eu = t.read(prune_filters=[("region", "==", "eu")])
    assert t.last_scan["files_scanned"] < t.last_scan["files_total"]
    assert sorted(r.k for r in eu.collect()) == [
        i for i in range(30) if i % 3 == 1]
    # string partition values prune even though string BOUNDS are
    # deliberately never recorded
    assert t.read(
        prune_filters=[("region", "==", "nope")]).count() == 0
    assert t.last_scan["files_scanned"] == 0


def test_partition_attach_ignores_location_path_segments(spark, tmp_path):
    """Advice-r5 regression: a '<col>=value' segment in the TABLE
    LOCATION path must not shadow the real hive dirs. Before the fix,
    a table at .../grp=zzz/tbl with partition col 'grp' attached
    grp='zzz' to every row (the regexp ran over the FULL file path),
    so prune_filters=[('grp','=','x')] pruned on the correct manifest
    tuple but the residual filter saw the wrong value → zero rows."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = tmp_path / "grp=zzz" / "tbl"
    df = spark.createDataFrame(
        [(i, ["x", "y"][i % 2], float(i)) for i in range(10)],
        "k long, grp string, v double")
    t = IcebergTable.create(spark, str(loc), df.schema,
                            partition_cols=["grp"])
    t.append_dataframe(df.coalesce(1))
    got = {(r.k, r.grp) for r in t.read().select("k", "grp").collect()}
    assert got == {(i, ["x", "y"][i % 2]) for i in range(10)}
    xs = t.read(prune_filters=[("grp", "=", "x")])
    assert sorted(r.k for r in xs.collect()) == [0, 2, 4, 6, 8]
    assert t.last_scan["files_scanned"] < t.last_scan["files_total"]


def test_manifest_partition_is_typed_r102_record(spark, tmp_path):
    """Spec-conformant manifests (round 6): field 102 is the per-spec
    TYPED r102 record — a generic Avro reader decodes {spec name:
    typed value} with the spec's 1000+ field-ids, no JSON convention
    needed. Date partition values ride the Avro date logical type."""
    import json as _json

    from gobblin_spark.operators import avro_container as ACF
    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame(
        [(1, "eu", 10.0), (2, "us", 20.0)],
        "k long, region string, v double")
    t = IcebergTable.create(spark, str(tmp_path / "ice_r102"), df.schema,
                            partition_cols=["region"])
    t.append_dataframe(df.coalesce(1))
    md = t.metadata()
    snap = next(s for s in md["snapshots"]
                if s["snapshot-id"] == md["current-snapshot-id"])
    _, manifests = ACF.read_container(
        open(snap["manifest-list"].replace("file:", ""), "rb").read())
    schema_json, entries = ACF.read_container(
        open(manifests[0]["manifest_path"].replace("file:", ""),
             "rb").read())
    sch = _json.loads(schema_json)
    dfld = next(f for f in sch["fields"] if f["name"] == "data_file")
    pfld = next(f for f in dfld["type"]["fields"]
                if f["name"] == "partition")
    assert pfld["type"][1]["name"] == "r102"
    assert pfld["type"][1]["fields"][0] == {
        "name": "region", "type": ["null", "string"],
        "field-id": 1000, "default": None}
    # the decoded value is a plain typed record, not a JSON string
    parts = {e["data_file"]["partition"]["region"] for e in entries}
    assert parts == {"eu", "us"}
    # and the read path consumes it (tuple keyed by source field-id)
    assert all(e["info"].partition["2"] in ("eu", "us")
               for e in t._entries())


def test_manifest_r102_date_partition_roundtrip(spark, tmp_path):
    """Date partition values survive the Avro date logical type and
    still drive exact pruning."""
    import datetime as dt

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame(
        [(i, dt.date(2024, 1, 1 + i % 3), float(i)) for i in range(9)],
        "k long, day date, v double")
    t = IcebergTable.create(spark, str(tmp_path / "ice_r102_date"),
                            df.schema, partition_cols=["day"])
    t.append_dataframe(df.coalesce(1))
    for e in t._entries():
        assert isinstance(e["info"].partition["2"], dt.date)
    got = t.read(prune_filters=[("day", "=", dt.date(2024, 1, 2))])
    assert sorted(r.k for r in got.collect()) == [1, 4, 7]
    assert t.last_scan["files_scanned"] < t.last_scan["files_total"]


def test_legacy_json_partition_manifests_still_read(spark, tmp_path):
    """Manifests written before round 6 store field 102 as a JSON
    string — rewrite a committed manifest into that legacy form and
    the read path must produce identical tuples and pruning."""
    import json as _json

    from gobblin_spark.operators import avro_container as ACF
    from gobblin_spark.sinks import iceberg as I

    df = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0)], "k long, grp string, v double")
    t = I.IcebergTable.create(spark, str(tmp_path / "ice_legacy"),
                              df.schema, partition_cols=["grp"])
    t.append_dataframe(df.coalesce(1))
    before = {e["info"].path: e["info"].partition for e in t._entries()}
    md = t.metadata()
    snap = next(s for s in md["snapshots"]
                if s["snapshot-id"] == md["current-snapshot-id"])
    _, manifests = ACF.read_container(
        open(snap["manifest-list"].replace("file:", ""), "rb").read())
    for m in manifests:
        path = m["manifest_path"].replace("file:", "")
        _, entries = ACF.read_container(open(path, "rb").read())
        for e in entries:
            rec = e["data_file"]["partition"]
            e["data_file"]["partition"] = (
                _json.dumps({"2": rec["grp"]}) if rec else None)
        legacy = ACF.write_container_bytes(
            entries, _json.dumps(I._MANIFEST_ENTRY_SCHEMA))
        # through the table's writer so Hadoop's .crc sidecar updates
        t._write_bytes(m["manifest_path"], legacy)
    assert {e["info"].path: e["info"].partition
            for e in t._entries()} == before
    got = t.read(prune_filters=[("grp", "=", "y")])
    assert [r.k for r in got.collect()] == [2]
    assert t.last_scan["files_scanned"] < t.last_scan["files_total"]


def test_manifest_list_field_summary_skips_manifests(spark, tmp_path):
    """Spec 507/508 field_summary: each append's manifest records
    min/max partition values, and a partition predicate outside a
    manifest's range skips the whole manifest — it is never opened.
    File-level pruning still applies inside surviving manifests, and
    results stay exact (delete manifests are never skipped)."""
    import datetime as dt

    from pyspark.sql import functions as F_

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame(
        [(i, dt.date(2024, 1, 1) + dt.timedelta(days=i // 10), float(i))
         for i in range(60)],
        "k long, day date, v double")
    t = IcebergTable.create(spark, str(tmp_path / "ice_msum"), df.schema,
                            partition_cols=["day"])
    # three appends over DISJOINT day ranges → three manifests with
    # disjoint summaries
    for lo, hi in ((0, 20), (20, 40), (40, 60)):
        t.append_dataframe(
            df.filter((F_.col("k") >= lo) & (F_.col("k") < hi))
            .coalesce(1))
    got = t.read(prune_filters=[("day", "=", dt.date(2024, 1, 3))])
    assert sorted(r.k for r in got.collect()) == list(range(20, 30))
    ms = t.last_manifest_scan
    assert ms == {"manifests_total": 3, "manifests_skipped": 2}, ms
    # range predicate spanning two appends skips only the third
    got = t.read(prune_filters=[("day", "<", dt.date(2024, 1, 3))])
    assert got.count() == 20
    assert t.last_manifest_scan["manifests_skipped"] >= 1
    # an equality delete rides a delete manifest which must NEVER be
    # skipped: the pruned read still sees the delete
    t.delete_equality(spark.createDataFrame([(25,)], "k long"))
    got = t.read(prune_filters=[("day", "=", dt.date(2024, 1, 3))])
    assert sorted(r.k for r in got.collect()) == [
        k for k in range(20, 30) if k != 25]
    assert t.last_manifest_scan["manifests_skipped"] == 2
    # unrestricted read skips nothing
    assert t.read().count() == 59
    assert t.last_manifest_scan["manifests_skipped"] == 0


def test_float_partition_summary_never_wrongly_skips():
    """Advice-r7: float field_summary bounds serialize through
    Appendix-D's 4-byte '<f' while in-memory tuple/predicate values
    are float64. A bound serialized from 0.1 deserializes to
    ~0.100000001 > 0.1, so the raw lo<=0.1<=hi check wrongly excludes
    the manifest. The widened comparison must keep it, for every
    comparison op, and must stay exact for values float32 already
    represents."""
    from gobblin_spark.sinks.iceberg import (
        _range_may_match, _sv_deser, _sv_ser, _widen_float32_bounds)

    # the round trip that creates the divergence
    lo = hi = _sv_deser(_sv_ser(0.1, "float"), "float")
    assert lo > 0.1  # the rounded bound really is above the value
    assert not _range_may_match(lo, hi, "=", 0.1)  # raw check skips
    wlo, whi = _widen_float32_bounds(lo, hi)
    for op in ("=", "<=", ">=", "<", ">"):
        assert _range_may_match(wlo, whi, op, 0.1), op
    # widening is one float32 ulp: it cannot unlock values a full
    # float32 step away (pruning stays useful, not just permissive)
    assert not _range_may_match(wlo, whi, "=", 0.1001)
    # exact float32 values keep matching after widening
    import numpy as np

    v = float(np.float32(0.25))
    wlo2, whi2 = _widen_float32_bounds(v, v)
    assert _range_may_match(wlo2, whi2, "=", v)


def test_append_files_rejects_tuple_path_mismatch(spark, tmp_path):
    """Advice-r5: a direct append_files caller with a valid tuple but
    a non-hive file path must be rejected — reads attach partition
    values from the path, so the mismatch would silently null (or
    contradict) the attached column while pruning follows the tuple."""
    import pytest as _pt

    from gobblin_spark.sinks.iceberg import DataFileInfo, IcebergTable

    df = spark.createDataFrame([(1, "x", 1.0)],
                               "k long, grp string, v double")
    t = IcebergTable.create(spark, str(tmp_path / "ice_mismatch"),
                            df.schema, partition_cols=["grp"])
    t.append_dataframe(df.coalesce(1))
    good = t._entries()[0]["info"]
    bad = DataFileInfo(
        path=str(tmp_path / "elsewhere" / "file.parquet"),
        size_bytes=good.size_bytes, record_count=good.record_count,
        partition=dict(good.partition))
    with _pt.raises(ValueError, match="hive"):
        t.append_files([bad])
    # tuple value that contradicts the path's hive segment
    bad2 = DataFileInfo(path=good.path, size_bytes=good.size_bytes,
                        record_count=good.record_count,
                        partition={"2": "not-x"})
    with _pt.raises(ValueError, match="hive"):
        t.append_files([bad2])
    # the conforming file still appends fine (doubles the row)
    t.append_files([good])
    assert t.read().count() == 2


def test_append_files_guard_anchored_below_data_dir(spark, tmp_path):
    """Review-r6 repro: the tuple/path guard must parse segments
    BELOW <location>/data/ (the read path's anchor). A 'grp=x'
    segment in the table LOCATION must not satisfy the guard for a
    file that has no hive dir under data/ — reads would attach NULL
    while pruning follows the tuple."""
    import pytest as _pt

    from gobblin_spark.sinks.iceberg import DataFileInfo, IcebergTable

    loc = tmp_path / "grp=x" / "tbl"
    df = spark.createDataFrame([(1, "x", 1.0)],
                               "k long, grp string, v double")
    t = IcebergTable.create(spark, str(loc), df.schema,
                            partition_cols=["grp"])
    t.append_dataframe(df.coalesce(1))
    good = t._entries()[0]["info"]
    sneaky = DataFileInfo(
        path=f"{t.location}/data/nohive/file.parquet",
        size_bytes=good.size_bytes, record_count=good.record_count,
        partition={"2": "x"})
    with _pt.raises(ValueError, match="hive"):
        t.append_files([sneaky])
    # the real hive-layout file (below data/) still validates
    t.append_files([good])
    assert t.read().count() == 2


def test_identity_partition_deletes_and_rewrite(spark, tmp_path):
    """Merge-on-read deletes and compaction compose with the identity
    spec: the delete applies across partitions, and the rewritten
    files keep their partition tuples (so pruning survives
    compaction)."""
    from pyspark.sql import functions as F_

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], float(i)) for i in range(20)],
        "k long, part string, v double")
    t = IcebergTable.create(spark, str(tmp_path / "ice_part2"), df.schema,
                            partition_cols=["part"])
    t.append_dataframe(df.coalesce(1))
    t.delete_equality(spark.createDataFrame(
        [(i,) for i in range(0, 20, 5)], "k long"))
    survivors = sorted(r.k for r in t.read().collect())
    assert survivors == [i for i in range(20) if i % 5 != 0]
    # partition pruning still exact through the delete merge
    got = t.read(prune_filters=[("part", "==", "a")])
    assert sorted(r.k for r in got.collect()) == [
        i for i in range(20) if i % 2 == 0 and i % 5 != 0]
    # compaction rewrites INTO the partition layout
    t.rewrite_data_files(target_partitions=1)
    for e in t._entries():
        assert e["info"].partition and e["info"].partition["2"] in ("a", "b")
    assert sorted(r.k for r in t.read().collect()) == survivors
    t.read(prune_filters=[("part", "==", "b")])
    assert t.last_scan["files_scanned"] < t.last_scan["files_total"]


def test_partition_source_column_rename(spark, tmp_path):
    """Renaming the partition SOURCE column must keep old files'
    partition tuples resolvable (they're keyed by field-id): reads
    attach the values under the new name and partition pruning still
    works; time travel shows the old name."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame(
        [(i, ["x", "y"][i % 2], float(i)) for i in range(10)],
        "k long, grp string, v double")
    t = IcebergTable.create(spark, str(tmp_path / "ice_part_rn"), df.schema,
                            partition_cols=["grp"])
    t.append_dataframe(df.coalesce(1))
    pre = t.metadata()["current-snapshot-id"]
    t.rename_column("grp", "bucket")
    got = t.read()
    assert "bucket" in got.columns and "grp" not in got.columns
    assert sorted((r.k, r.bucket) for r in got.collect()) == [
        (i, ["x", "y"][i % 2]) for i in range(10)]
    pruned = t.read(prune_filters=[("bucket", "==", "y")])
    assert t.last_scan["files_scanned"] < t.last_scan["files_total"]
    assert sorted(r.k for r in pruned.collect()) == [1, 3, 5, 7, 9]
    # time travel: pre-rename snapshot serves the OLD name with values
    old = t.read(snapshot_id=pre)
    assert "grp" in old.columns
    assert sorted((r.k, r.grp) for r in old.collect()) == [
        (i, ["x", "y"][i % 2]) for i in range(10)]


def test_date_partitioned_table_prunes_on_date(spark, tmp_path):
    """The classic time-partitioned lake layout: DATE identity
    partitions round-trip through the hive dirs (ISO strings in JSON
    tuples) and prune on datetime.date predicates."""
    import datetime as dt

    from gobblin_spark.sinks.iceberg import IcebergTable

    rows = [(i, dt.date(2024, 1, 1 + i % 3), float(i)) for i in range(12)]
    df = spark.createDataFrame(rows, "k long, day date, v double")
    t = IcebergTable.create(spark, str(tmp_path / "ice_date"), df.schema,
                            partition_cols=["day"])
    t.append_dataframe(df.coalesce(1))
    got = sorted((r.k, r.day) for r in t.read().collect())
    assert got == sorted((k, d) for k, d, _ in rows)
    one = t.read(prune_filters=[("day", "==", dt.date(2024, 1, 2))])
    assert t.last_scan["files_scanned"] < t.last_scan["files_total"]
    assert sorted(r.k for r in one.collect()) == [
        i for i in range(12) if i % 3 == 1]


def test_sorted_rewrite_records_sort_order(spark, tmp_path):
    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.range(0, 50).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    t = IcebergTable.create(spark, str(tmp_path / "ice_so"), df.schema)
    t.append_dataframe(df.coalesce(1))
    t.rewrite_data_files(target_partitions=2, sort_by=["k"])
    md = t.metadata()
    so = next(o for o in md["sort-orders"]
              if o["order-id"] == md["default-sort-order-id"])
    assert so["fields"] == [{"transform": "identity", "source-id": 1,
                             "direction": "asc",
                             "null-order": "nulls-first"}]
    assert t.read().count() == 50


def test_partition_guards_and_plan_scale(spark, tmp_path):
    """Round-5 hardening: partition sources can't be dropped (would
    brick the spec), timestamp identity partitioning is rejected at
    create, tuple-less data files are rejected on partitioned tables,
    and the partitioned read plans ONE scan per commit — not one per
    partition value."""
    import re

    import pytest as _pt

    from pyspark.sql import types as T_

    from gobblin_spark.sinks.iceberg import DataFileInfo, IcebergTable

    with _pt.raises(TypeError, match="identity partitioning"):
        IcebergTable.create(
            spark, str(tmp_path / "bad_ts"),
            T_.StructType([T_.StructField("ts", T_.TimestampNTZType())]),
            partition_cols=["ts"])

    df = spark.createDataFrame(
        [(i, f"g{i % 10}", float(i)) for i in range(40)],
        "k long, grp string, v double")
    t = IcebergTable.create(spark, str(tmp_path / "ice_guard"), df.schema,
                            partition_cols=["grp"])
    t.append_dataframe(df.filter("k < 20").coalesce(1))
    t.append_dataframe(df.filter("k >= 20").coalesce(1))

    with _pt.raises(ValueError, match="partition-spec source"):
        t.drop_column("grp")
    with _pt.raises(ValueError, match="partition tuples"):
        t.append_files([DataFileInfo("/nope.parquet", 1, 1)])

    # 2 commits x 10 partition values -> exactly 2 parquet scans
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet", plan)) == 2
    assert sorted(r.k for r in t.read().collect()) == list(range(40))


def test_needs_id_resolution_classifier(spark, tmp_path):
    """Field-id read resolution turns on EXACTLY when the history
    contains a rename or drop — add-column-only histories keep plain
    name resolution (back-compat with files lacking embedded ids)."""
    from pyspark.sql import types as T_

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "ice_idres"), df.schema)
    assert not t._needs_id_resolution()
    t.add_column("extra", T_.DoubleType())
    assert not t._needs_id_resolution()  # add-only: names still stable
    t.rename_column("s", "s2")
    assert t._needs_id_resolution()

    t2 = IcebergTable.create(spark, str(tmp_path / "ice_idres2"), df.schema)
    t2.append_dataframe(df)
    t2.drop_column("s")
    assert t2._needs_id_resolution()


# -- round-6 review fixes ---------------------------------------------


def test_rewrite_then_rename_reads_compacted_files(spark, tmp_path):
    """Review-r6: compacted files must embed parquet field-ids (read()
    strips id metadata on plain histories, so the rewrite re-conforms
    before writing) — otherwise the documented prepare-then-rename
    flow (compact first, rename after) breaks on its own advice."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "k long, v double")
    t = I.IcebergTable.create(spark, str(tmp_path / "rwrn"), df.schema)
    for i in range(2):
        t.append_dataframe(df.filter(df.k % 2 == i).coalesce(1))
    t.rewrite_data_files(target_partitions=1, sort_by=["k"])
    t.rename_column("v", "value")
    got = {r.k: r.value for r in t.read().collect()}
    assert got == {i: float(i) for i in range(40)}


def test_equality_delete_null_key_matches_null_rows(spark, tmp_path):
    """Spec 'Equality Delete Files': a NULL delete value matches rows
    whose column is NULL (null-safe equality, not ==)."""
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (None, "c"), (4, "d")],
        "k long, s string")
    t = I.IcebergTable.create(spark, str(tmp_path / "nulldel"),
                              df.schema)
    t.append_dataframe(df)
    t.delete_equality(spark.createDataFrame([(None,)], "k long"))
    got = sorted((r.k, r.s) for r in t.read().collect()
                 if r.k is not None)
    assert got == [(1, "a"), (4, "d")]
    assert t.read().count() == 2  # both NULL-key rows deleted


def test_read_without_deletes_has_clean_schema(spark, tmp_path):
    """Review-r6: read(apply_deletes=False) on a PARTITIONED table
    with pending position deletes must not leak _fp/_pos."""
    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], float(i)) for i in range(10)],
        "k long, grp string, v double")
    t = I.IcebergTable.create(spark, str(tmp_path / "leak"),
                              df.schema, partition_cols=["grp"])
    t.append_dataframe(df.coalesce(1))
    pos = t.read().select(
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("pos"), "k",
    ).filter(F.col("k") == 3).drop("k")
    t.delete_positions(pos)
    raw = t.read(apply_deletes=False)
    assert raw.columns == ["k", "grp", "v"]
    assert raw.count() == 10
    assert t.read().count() == 9  # the delete still applies normally


def test_concurrent_commit_detected_not_clobbered(spark, tmp_path):
    """HadoopTables optimistic concurrency: a commit racing from the
    same base version must ERROR (create-fails-if-exists on the vN
    file), never silently overwrite the winner's snapshot."""
    import pytest as _pt

    df = spark.createDataFrame([(1, 1.0)], "k long, v double")
    t = I.IcebergTable.create(spark, str(tmp_path / "race"), df.schema)
    t.append_dataframe(df)
    md = t.metadata()
    # simulate a second committer landing v(N+1) first (a COMPLETE
    # metadata payload — a torn/foreign collider gets the distinct
    # junk-wedge diagnosis instead, pinned separately)
    v_next = t._version() + 1
    t._write_bytes(f"{t.location}/metadata/v{v_next}.metadata.json",
                   b'{"format-version": 2}')
    with _pt.raises(RuntimeError, match="concurrent commit"):
        t._commit_metadata(md)


def test_expire_cleans_manifest_files_and_old_versions(spark, tmp_path):
    """Review-r6: expire_snapshots reclaims the expired snapshots'
    manifest lists, unreferenced manifests, and old vN.metadata.json
    (keep-5) — the nightly loop must not leak metadata/ files."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(30)], "k long, v double")
    t = I.IcebergTable.create(spark, str(tmp_path / "mclean"),
                              df.schema)
    for i in range(3):
        t.append_dataframe(df.filter(df.k % 3 == i).coalesce(1))
    t.rewrite_data_files(target_partitions=1)
    mdir = os.path.join(t.location.replace("file:", ""), "metadata")
    n_avro_before = len([f for f in os.listdir(mdir)
                         if f.endswith(".avro")])
    dropped = t.expire_snapshots(older_than_ms=2 ** 62)
    assert dropped == 3
    n_avro_after = len([f for f in os.listdir(mdir)
                        if f.endswith(".avro")])
    assert n_avro_after < n_avro_before
    # only the current snapshot's list + manifest remain referenced
    assert t.read().count() == 30
    # old metadata.json pruned to at most the newest 5
    vs = [f for f in os.listdir(mdir) if f.endswith(".metadata.json")]
    assert len(vs) <= 5


def test_tz_aware_prune_value_converts_to_utc(spark):
    """Review-r6: a tz-aware timestamp predicate converts to UTC
    before the tz drops — replace(tzinfo=None) alone would shift the
    instant by the offset."""
    import datetime as dt

    from gobblin_spark.sinks.iceberg import _logical_to_ice

    plus5 = dt.timezone(dt.timedelta(hours=5))
    aware = dt.datetime(2024, 1, 1, 5, 0, 0, tzinfo=plus5)
    naive_utc = dt.datetime(2024, 1, 1, 0, 0, 0)
    assert _logical_to_ice(aware, "timestamp") == \
        _logical_to_ice(naive_utc, "timestamp")


def test_bucket_transform_spec_vectors():
    """bucket[N] must be BYTE-compatible with every Iceberg engine:
    murmur3_x86_32 (seed 0) over the spec's type serialization,
    verified against the published Appendix-B test vectors."""
    import datetime

    import struct

    def signed(x):
        return x - (1 << 32) if x >= (1 << 31) else x

    assert signed(I._murmur3_32(struct.pack("<q", 34))) == 2017239379
    assert signed(I._murmur3_32("iceberg".encode())) == 1210000089
    d = (datetime.date(2017, 11, 16) - datetime.date(1970, 1, 1)).days
    assert signed(I._murmur3_32(struct.pack("<q", d))) == -653330422
    # bucket = (hash & Integer.MAX_VALUE) % N
    assert I._iceberg_bucket(34, "long", 16) == (2017239379 & 0x7FFFFFFF) % 16
    assert I._iceberg_bucket(34, "int", 16) == I._iceberg_bucket(34, "long", 16)
    assert I._iceberg_bucket("iceberg", "string", 8) == 1210000089 % 8
    assert I._iceberg_bucket(None, "long", 8) is None


def test_bucket_int64_vectorized_matches_scalar():
    """Verdict-r8 #4: the numpy-batched write-path bucket hash must be
    bit-identical to the scalar Appendix-B path over the full int64
    shape space — negatives, zero, int32/int64 extremes, and the
    published 34→2017239379 vector."""
    import numpy as np

    vals = [0, 1, -1, 34, 7, -7, 2**31 - 1, -(2**31), 2**62, -(2**62),
            2**63 - 1, -(2**63), 123456789012345, -987654321098765]
    for n in (4, 16, 1024):
        vec = I._bucket_int64_np(np.array(vals, dtype=np.int64), n)
        assert list(vec) == [I._iceberg_bucket(v, "long", n)
                             for v in vals]
    # random sweep pins the wraparound arithmetic broadly
    rng = np.random.RandomState(42)
    r = rng.randint(-(2**62), 2**62, size=2000, dtype=np.int64)
    assert list(I._bucket_int64_np(r, 16)) == [
        I._iceberg_bucket(int(v), "long", 16) for v in r]


def test_bucket_int64_column_expr_matches_scalar(spark):
    """r13 optimization: the pure-JVM staged murmur3 bucket (no Python
    boundary in bucket-partitioned write plans) must be bit-identical
    to the scalar Appendix-B path over the same shape space as the
    numpy pin — negatives, zero, extremes, the published vector, a
    random sweep — and must propagate NULL like the UDF's None."""
    import numpy as np

    rng = np.random.RandomState(7)
    vals = [0, 1, -1, 34, 7, -7, 2**31 - 1, -(2**31), 2**62, -(2**62),
            2**63 - 1, -(2**63), 123456789012345, -987654321098765]
    vals += [int(v) for v in rng.randint(-(2**62), 2**62, size=500,
                                         dtype=np.int64)]
    df = spark.createDataFrame([(v,) for v in vals] + [(None,)], "v long")
    for n in (4, 16, 1024):
        out = I._with_bucket_int64(df, "v", "b", n)
        assert out.columns == ["v", "b"], "temp hash columns leaked"
        got = {r["v"]: r["b"] for r in out.collect()}
        for v in vals:
            assert got[v] == I._iceberg_bucket(v, "long", n), (v, n)
        assert got[None] is None


def test_truncate_transform_semantics():
    """truncate[W]: floor multiples for integers (negatives too — the
    spec's own example is truncate[10](-1) = -10), first W CHARACTERS
    for strings."""
    assert I._iceberg_truncate(17, "int", 10) == 10
    assert I._iceberg_truncate(-1, "int", 10) == -10
    assert I._iceberg_truncate(-10, "long", 10) == -10
    assert I._iceberg_truncate("abcdef", "string", 2) == "ab"
    assert I._iceberg_truncate("a", "string", 2) == "a"
    assert I._iceberg_truncate(None, "string", 2) is None


def test_bucket_truncate_partitioned_table(spark, tmp_path):
    """bucket[4] + truncate[2] spec end-to-end: files land under
    <col>_bucket=N/ and <col>_trunc=V/ dirs in TRANSFORM space, the
    source columns stay IN the data files (only identity drops them),
    equality predicates prune through the bucket field, and both
    equality and RANGE predicates prune through the truncate field —
    all reads value-identical to the unpruned frame."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    rows = [(i, ["alpha", "beta", "gamma", "delta", "mu"][i % 5],
             float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "k long, name string, v double")
    t = IcebergTable.create(
        spark, str(tmp_path / "ice_tf"), df.schema,
        partition_spec=[("k", "bucket[4]"), ("name", "truncate[2]")])
    spec = t.metadata()["partition-specs"][0]["fields"]
    assert [f["name"] for f in spec] == ["k_bucket", "name_trunc"]
    assert [f["transform"] for f in spec] == ["bucket[4]", "truncate[2]"]
    t.append_dataframe(df.coalesce(1))

    # layout: transform-space hive dirs; source data stays in-file
    paths = [f.path for f in t.data_files()]
    assert all("k_bucket=" in p and "name_trunc=" in p for p in paths)
    raw = spark.read.parquet(*paths)
    assert {"k", "name", "v"} <= set(raw.columns)

    # tuples keyed by source field-id, values in transform space
    for e in t._entries():
        part = e["info"].partition
        assert set(part) == {"1", "2"}
        assert part["1"] in range(4) and len(part["2"]) <= 2

    # full read equals source
    got = sorted(map(tuple, t.read().select("k", "name", "v").collect()))
    assert got == sorted(map(tuple, map(tuple, rows)))

    # bucket equality pruning: correct rows, fewer files
    sub = t.read(prune_filters=[("k", "==", 7)])
    assert [r.k for r in sub.collect()] == [7]
    assert t.last_scan["files_scanned"] < t.last_scan["files_total"]
    # the surviving files all live in k's bucket-7 dir
    bucket7 = I._iceberg_bucket(7, "long", 4)
    hit = [e["info"].path for e in t._entries()
           if e["content"] == 0
           and e["info"].partition.get("1") == bucket7]
    assert hit and all(f"k_bucket={bucket7}/" in p for p in hit)

    # a bucket RANGE predicate projects to NOTHING through the hash
    # (ordering doesn't survive bucketing) — any pruning that still
    # happens comes from the k column BOUNDS, and the values stay
    # exactly right either way
    rng = t.read(prune_filters=[("k", ">=", 35)])
    assert sorted(r.k for r in rng.collect()) == list(range(35, 40))

    # truncate equality + range pruning
    eq = t.read(prune_filters=[("name", "==", "beta")])
    assert sorted(r.k for r in eq.collect()) == [i for i in range(40)
                                                 if i % 5 == 1]
    assert t.last_scan["files_scanned"] < t.last_scan["files_total"]
    ge = t.read(prune_filters=[("name", ">=", "ga")])
    assert (sorted(r.name for r in ge.select("name").distinct().collect())
            == ["gamma", "mu"])
    assert t.last_scan["files_scanned"] < t.last_scan["files_total"]


def test_bucket_partition_survives_rewrite_and_rename(spark, tmp_path):
    """rewrite_data_files re-derives transform columns (they are not
    stored), and renaming the SOURCE column keeps the spec coherent
    via source-id — pruning then works under the new name."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(24)], "uid long, v double")
    t = IcebergTable.create(
        spark, str(tmp_path / "ice_rw"), df.schema,
        partition_spec=[("uid", "bucket[3]")])
    t.append_dataframe(df.repartition(4))
    t.rewrite_data_files(target_partitions=1)
    assert sorted(r.uid for r in t.read().collect()) == list(range(24))
    assert all("uid_bucket=" in f.path for f in t.data_files())

    t.rename_column("uid", "user_id")
    sub = t.read(prune_filters=[("user_id", "==", 5)])
    assert [r.user_id for r in sub.collect()] == [5]
    assert t.last_scan["files_scanned"] < t.last_scan["files_total"]


def test_partition_spec_validation(spark, tmp_path):
    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a", 2.0)],
                               "k long, s string, v double")
    base = str(tmp_path / "ice_val")
    with _pytest.raises(TypeError):
        IcebergTable.create(spark, base + "1", df.schema,
                            partition_spec=[("v", "bucket[4]")])
    with _pytest.raises(TypeError):
        IcebergTable.create(spark, base + "2", df.schema,
                            partition_spec=[("v", "truncate[4]")])
    with _pytest.raises(ValueError):
        IcebergTable.create(spark, base + "3", df.schema,
                            partition_spec=[("k", "bucket[0]")])
    with _pytest.raises(ValueError):
        IcebergTable.create(spark, base + "4", df.schema,
                            partition_spec=[("k", "identity"),
                                            ("k", "bucket[4]")])
    with _pytest.raises(ValueError):
        IcebergTable.create(spark, base + "5", df.schema,
                            partition_spec=[("k", "bucket[4]")],
                            partition_cols=["s"])


def test_temporal_transform_values():
    """year/month/day/hour = epoch ordinals with floor semantics —
    pre-1970 values go negative (Dec 1969 is month -1)."""
    import datetime as dt

    import pytest as _pytest

    d = dt.date(2017, 11, 16)
    ts = dt.datetime(2017, 11, 16, 22, 31, 8)
    assert I._iceberg_temporal(d, "date", "year") == 47
    assert I._iceberg_temporal(d, "date", "month") == 47 * 12 + 10
    assert I._iceberg_temporal(d, "date", "day") == (
        d - dt.date(1970, 1, 1)).days
    assert I._iceberg_temporal(ts, "timestamp", "hour") == (
        (d - dt.date(1970, 1, 1)).days * 24 + 22)
    assert I._iceberg_temporal(dt.date(1969, 12, 31), "date", "month") == -1
    assert I._iceberg_temporal(dt.date(1969, 12, 31), "date", "day") == -1
    assert I._iceberg_temporal(
        dt.datetime(1969, 12, 31, 23, 30), "timestamp", "hour") == -1
    assert I._iceberg_temporal(None, "date", "day") is None
    with _pytest.raises(TypeError):
        I._iceberg_temporal(d, "date", "hour")  # hour needs a timestamp


def test_day_partitioned_timestamp_table(spark, tmp_path):
    """day(ts) partition spec on a TIMESTAMP source: files land under
    ts_day=<epoch-days>/ dirs, the source timestamps stay in the data
    files at full resolution, and timestamp RANGE predicates prune
    through the day ordinal (inclusive projection) — the Iceberg form
    of TimeBasedWriterPartitioner + TimePartitionedDataPublisher."""
    import datetime as dt

    from gobblin_spark.sinks.iceberg import IcebergTable

    rows = [(i, dt.datetime(2024, 3, 1 + i % 5, i % 24, 30), float(i))
            for i in range(40)]
    df = spark.createDataFrame(rows, "k long, ts timestamp_ntz, v double")
    t = IcebergTable.create(
        spark, str(tmp_path / "ice_day"), df.schema,
        partition_spec=[("ts", "day")])
    assert (t.metadata()["partition-specs"][0]["fields"][0]["name"]
            == "ts_day")
    t.append_dataframe(df.coalesce(1))

    day0 = (dt.date(2024, 3, 1) - dt.date(1970, 1, 1)).days
    paths = [f.path for f in t.data_files()]
    assert all("ts_day=" in p for p in paths)
    assert {e["info"].partition["2"] for e in t._entries()} == set(
        range(day0, day0 + 5))
    # full-resolution timestamps survive (source col stays in-file)
    got = sorted(map(tuple, t.read().select("k", "ts", "v").collect()))
    assert got == sorted(map(tuple, map(tuple, rows)))

    # range predicate prunes through day(): only 2 of 5 day dirs scan
    cut = dt.datetime(2024, 3, 4, 0, 0)
    late = t.read(prune_filters=[("ts", ">=", cut)])
    assert sorted(r.k for r in late.collect()) == sorted(
        i for i in range(40) if rows[i][1] >= cut)
    assert t.last_scan["files_scanned"] < t.last_scan["files_total"]

    # equality on a timestamp prunes to its single day
    one = rows[7][1]
    eq = t.read(prune_filters=[("ts", "=", one)])
    assert sorted(r.k for r in eq.collect()) == sorted(
        i for i in range(40) if rows[i][1] == one)
    assert t.last_scan["files_scanned"] <= max(
        1, t.last_scan["files_total"] // 5)

    # hour on a DATE source is rejected at create
    import pytest as _pytest

    ddf = spark.createDataFrame([(dt.date(2024, 1, 1),)], "d date")
    with _pytest.raises(TypeError):
        IcebergTable.create(spark, str(tmp_path / "ice_hr"), ddf.schema,
                            partition_spec=[("d", "hour")])


def test_metadata_tables_inspect(spark, tmp_path):
    """Metadata tables (.snapshots/.history/.files/.partitions as
    DataFrames): manifest-scale only — no data file is opened — and
    the partitions rollup groups by transform-space tuple values."""
    import datetime as dt

    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import IcebergTable

    rows = [(i, dt.datetime(2024, 3, 1 + i % 3, 10), float(i))
            for i in range(12)]
    df = spark.createDataFrame(rows, "k long, ts timestamp_ntz, v double")
    t = IcebergTable.create(spark, str(tmp_path / "meta"), df.schema,
                            partition_spec=[("ts", "day")])
    s1 = t.append_dataframe(df.coalesce(1))
    s2 = t.append_dataframe(df.coalesce(1))

    snaps = t.inspect("snapshots").collect()
    assert [r.snapshot_id for r in snaps] == [s1, s2]
    assert all(r.operation == "append" and r.added_records == 12
               for r in snaps)
    hist = t.inspect("history").collect()
    assert [r.is_current for r in hist] == [False, True]

    files = t.inspect("files")
    assert files.count() == 6 and files.filter("content != 0").count() == 0
    day0 = (dt.date(2024, 3, 1) - dt.date(1970, 1, 1)).days
    parts = {r.ts_day: (r.file_count, r.record_count)
             for r in t.inspect("partitions").collect()}
    assert parts == {day0: (2, 8), day0 + 1: (2, 8), day0 + 2: (2, 8)}
    # time travel: the first snapshot's partitions see one file each
    parts1 = {r.ts_day: r.file_count
              for r in t.inspect("partitions", snapshot_id=s1).collect()}
    assert parts1 == {day0: 1, day0 + 1: 1, day0 + 2: 1}
    with _pytest.raises(ValueError):
        t.inspect("nope")


def test_partition_evolution_mixed_specs(spark, tmp_path):
    """PARTITION EVOLUTION: the default spec changes (unpartitioned ->
    identity(region) -> bucket[4](k)) WITHOUT touching existing files.
    Each manifest keeps its write-time partition_spec_id; reads plan
    per-file-spec — identity columns re-attach only for the groups
    whose spec dropped them, and predicates project through each
    file's OWN spec — so all three layouts coexist in one table."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    rows = [(i, ["us", "eu"][i % 2], float(i)) for i in range(12)]
    df = spark.createDataFrame(rows, "k long, region string, v double")
    t = IcebergTable.create(spark, str(tmp_path / "evo_spec"), df.schema)
    t.append_dataframe(df.coalesce(1))                  # spec 0: none
    sp1 = t.update_partition_spec([("region", "identity")])
    t.append_dataframe(df.coalesce(1))                  # spec 1
    sp2 = t.update_partition_spec([("k", "bucket[4]")])
    t.append_dataframe(df.coalesce(1))                  # spec 2
    assert (sp1, sp2) == (1, 2)

    md = t.metadata()
    assert [s["spec-id"] for s in md["partition-specs"]] == [0, 1, 2]
    # field-ids never collide across specs
    ids = [f["field-id"] for s in md["partition-specs"]
           for f in s["fields"]]
    assert len(ids) == len(set(ids))
    # entries carry their write-time spec
    assert sorted({e["spec_id"] for e in t._entries()}) == [0, 1, 2]

    # full read: 3x the rows, identity group re-attached correctly
    got = sorted(map(tuple, t.read().select("k", "region", "v").collect()))
    assert got == sorted(list(map(tuple, rows)) * 3)

    # a region predicate prunes ONLY the identity-spec files (the
    # other two specs cannot prove exclusion from their tuples alone)
    eu = t.read(prune_filters=[("region", "==", "eu")])
    assert sorted(r.k for r in eu.collect()) == sorted(
        [i for i in range(12) if i % 2 == 1] * 3)
    ident_files = [e for e in t._entries()
                   if e["content"] == 0 and e["spec_id"] == 1]
    us_files = [e for e in ident_files
                if e["info"].partition.get("2") == "us"]
    assert us_files and t.last_scan["files_scanned"] \
        <= t.last_scan["files_total"] - len(us_files)

    # a bucket point-lookup prunes only spec-2 files
    one = t.read(prune_filters=[("k", "=", 3)])
    assert sorted(r.k for r in one.collect()) == [3, 3, 3]
    assert t.last_scan["files_scanned"] < t.last_scan["files_total"]

    # time travel to the unpartitioned snapshot still reads clean
    s1 = t.snapshots()[0]["snapshot-id"]
    assert t.read(snapshot_id=s1).count() == 12

    # rewrite migrates EVERYTHING to the current default spec
    t.rewrite_data_files(target_partitions=1)
    assert {e["spec_id"] for e in t._entries()} == {md["default-spec-id"]}
    assert all("k_bucket=" in f.path for f in t.data_files())
    assert t.read().count() == 36


def test_idempotent_epoch_append(spark, tmp_path):
    """append_dataframe_idempotent: the epoch token rides the SAME
    metadata commit as the snapshot (crash-window-free), and a
    replayed token short-circuits without writing."""
    import json as _json
    import os as _os

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "idem"), df.schema)
    s1 = t.append_dataframe_idempotent(df, "epoch-0")
    assert t.read().count() == 2
    # replay with DIFFERENT content: still a no-op, same snapshot id
    other = spark.createDataFrame([(9, "z")], "k long, s string")
    assert t.append_dataframe_idempotent(other, "epoch-0") == s1
    assert t.read().count() == 2 and len(t.snapshots()) == 1
    # a new token commits
    s2 = t.append_dataframe_idempotent(other, "epoch-1")
    assert s2 != s1 and t.read().count() == 3
    # the token is IN the committed metadata json (atomicity witness)
    hint = open(_os.path.join(str(tmp_path / "idem"), "metadata",
                              "version-hint.text")).read()
    md = _json.load(open(_os.path.join(
        str(tmp_path / "idem"), "metadata", f"v{int(hint)}.metadata.json")))
    toks = [s["summary"].get("epoch-token") for s in md["snapshots"]]
    assert toks == ["epoch-0", "epoch-1"]


def test_branches_tags_and_wap(spark, tmp_path):
    """References + the write-audit-publish pattern: branch commits
    move only their ref (main readers never see them), tags pin
    snapshots against expiry, and fast_forward publishes the audited
    branch atomically — refusing non-fast-forward moves."""
    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import IcebergTable

    df0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    df1 = spark.createDataFrame([(3, "c"), (4, "d")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "wap"), df0.schema)
    t.append_dataframe(df0)
    base = t.metadata()["current-snapshot-id"]
    t.create_tag("v1")

    # WRITE: staged rows land on the audit branch only
    t.create_branch("audit")
    t.append_dataframe(df1, branch="audit")
    assert sorted(r.k for r in t.read().collect()) == [1, 2]  # isolation
    assert sorted(r.k for r in t.read(ref="audit").collect()) == [1, 2, 3, 4]
    assert t.refs()["audit"]["snapshot-id"] != base

    # branch snapshots record their parent chain
    snaps = {s["snapshot-id"]: s for s in t.snapshots()}
    head = t.ref_snapshot("audit")
    assert snaps[head]["parent-snapshot-id"] == base

    # AUDIT passes -> PUBLISH via fast-forward; readers flip atomically
    t.fast_forward("main", "audit")
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3, 4]

    # a diverged main can NOT fast-forward back onto the old tag head
    t.append_dataframe(df0)
    with _pytest.raises(ValueError, match="not a fast-forward"):
        t.fast_forward("main", "v1")

    # tags are immutable commit targets and survive expiry
    with _pytest.raises(ValueError, match="cannot commit to tag"):
        t.append_dataframe(df0, branch="v1")
    t.expire_snapshots(older_than_ms=2 ** 62)
    assert base in {s["snapshot-id"] for s in t.snapshots()}
    assert sorted(r.k for r in t.read(ref="v1").collect()) == [1, 2]

    # bookkeeping: drop_ref, duplicate guard, unknown ref
    with _pytest.raises(ValueError):
        t.create_branch("audit")
    t.drop_ref("audit")
    with _pytest.raises(ValueError):
        t.read(ref="audit")
    with _pytest.raises(ValueError):
        t.drop_ref("main")
    # advice-r8: dropping an ABSENT ref is a version-preserving no-op
    # (no spurious metadata churn / CAS contention)
    v = t._version()
    t.drop_ref("audit")
    t.drop_ref("never-existed")
    assert t._version() == v


def test_bucket_on_date_source(spark, tmp_path):
    """bucket[4] on a DATE source column: the pandas write path gets
    datetime.date objects (not Timestamps) and the spec hashing uses
    days-since-epoch as 8-byte little-endian — a date point lookup
    prunes to its single bucket."""
    import datetime as dt

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame(
        [(i, dt.date(2024, 1, 1 + i % 9)) for i in range(18)],
        "k long, d date")
    t = IcebergTable.create(spark, str(tmp_path / "dbk"), df.schema,
                            partition_spec=[("d", "bucket[4]")])
    t.append_dataframe(df.coalesce(1))
    got = sorted((r.k, r.d) for r in t.read().collect())
    assert got == sorted((i, dt.date(2024, 1, 1 + i % 9))
                         for i in range(18))
    sub = t.read(prune_filters=[("d", "=", dt.date(2024, 1, 3))])
    assert sorted(r.k for r in sub.collect()) == [
        i for i in range(18) if i % 9 == 2]
    assert t.last_scan["files_scanned"] < t.last_scan["files_total"]


def test_changelog_over_branch_ref(spark, tmp_path):
    """r12: ``changelog(..., ref=...)`` diffs a BRANCH head — the WAP
    reviewer's view of exactly what a staged branch would add. Main's
    changelog stays blind to branch commits; the branch window
    bounded at main's head isolates the staged delta; ref and
    to_snapshot_id are mutually exclusive."""
    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import IcebergTable

    df0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    df1 = spark.createDataFrame([(3, "c")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "clref"), df0.schema)
    t.append_dataframe(df0)
    s_main = t.metadata()["current-snapshot-id"]
    t.create_branch("audit")
    t.append_dataframe(df1, branch="audit")
    s_branch = t.ref_snapshot("audit")

    # main's changelog never sees the staged rows
    assert sorted(r.k for r in t.changelog(None).collect()) == [1, 2]
    # the branch's full history: base inserts + the staged commit
    rows = sorted((r.k, r._commit_snapshot_id)
                  for r in t.changelog(None, ref="audit").collect())
    assert rows == [(1, s_main), (2, s_main), (3, s_branch)]
    # bounded at main's head: exactly the staged delta
    assert sorted((r.k, r._change_type) for r in
                  t.changelog(s_main, ref="audit").collect()) == \
        [(3, "insert")]
    with _pytest.raises(ValueError, match="to_snapshot_id OR ref"):
        t.changelog(None, s_branch, ref="audit")


def test_idempotent_epoch_append_on_branch(spark, tmp_path):
    """Epoch tokens + branches compose: replayed epochs are no-ops on
    the BRANCH, main never moves until fast-forward."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "idbr"), df.schema)
    t.create_branch("staging")
    s1 = t.append_dataframe_idempotent(df, "e0", branch="staging")
    assert t.read().count() == 0  # main untouched
    assert t.read(ref="staging").count() == 2
    assert t.append_dataframe_idempotent(df, "e0", branch="staging") == s1
    assert len(t.snapshots()) == 1
    t.fast_forward("main", "staging")
    assert t.read().count() == 2


def test_commit_retry_replans_from_fresh_metadata(spark, tmp_path):
    """Optimistic concurrency: a loser of the create-fails-if-exists
    race RE-PLANS (fresh base version, sequence, parent) and retries;
    after exhausting attempts the race error propagates. Simulated by
    a racing committer that lands v2 + hint between the loser's plan
    and its metadata write."""
    import pytest as _pytest

    from gobblin_spark.sinks import iceberg as I

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = I.IcebergTable.create(spark, str(tmp_path / "race"), df.schema)
    t.append_dataframe(df)

    real = I.IcebergTable._commit_metadata
    state = {"raced": 0}

    def racing(self, md):
        if state["raced"] < 1:
            state["raced"] += 1
            # the RACE WINNER: another committer appends first
            t2 = I.IcebergTable(spark, self.location)
            t2.append_dataframe(
                spark.createDataFrame([(9, "w")], "k long, s string"))
            # the loser's stale-base write now collides
            return real(self, md)
        return real(self, md)

    try:
        I.IcebergTable._commit_metadata = racing
        t.append_dataframe(
            spark.createDataFrame([(2, "b")], "k long, s string"))
    finally:
        I.IcebergTable._commit_metadata = real
    assert state["raced"] == 1
    # ALL THREE rows present: winner's and the retried loser's
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 9]
    # sequence numbers stayed strictly increasing and unique
    seqs = [s["sequence-number"] for s in t.snapshots()]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    # exhausted retries propagate
    def always_lose(self, md):
        raise RuntimeError("concurrent commit detected: simulated")
    try:
        I.IcebergTable._commit_metadata = always_lose
        with _pytest.raises(RuntimeError, match="concurrent commit"):
            t.append_dataframe(df)
    finally:
        I.IcebergTable._commit_metadata = real


def test_rollback_to_snapshot(spark, tmp_path):
    """rollback_to: main points back at an ancestor after a bad
    commit; history keeps the bad snapshot for time travel; new
    appends parent off the rolled-back head; the next commit's
    sequence still advances past the abandoned one (sequence numbers
    are table-global and never reused)."""
    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    bad = spark.createDataFrame([(666, "oops")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "rb"), df.schema)
    s1 = t.append_dataframe(df)
    s2 = t.append_dataframe(bad)
    assert sorted(r.k for r in t.read().collect()) == [1, 666]
    t.rollback_to(s1)
    assert [r.k for r in t.read().collect()] == [1]
    # the bad snapshot remains reachable by id
    assert sorted(r.k for r in t.read(snapshot_id=s2).collect()) \
        == [1, 666]
    # a new append parents off the rolled-back head, not the bad one
    s3 = t.append_dataframe(spark.createDataFrame([(2, "b")],
                                                  "k long, s string"))
    snaps = {s["snapshot-id"]: s for s in t.snapshots()}
    assert snaps[s3]["parent-snapshot-id"] == s1
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    seqs = [s["sequence-number"] for s in t.snapshots()]
    assert len(set(seqs)) == len(seqs)
    with _pytest.raises(ValueError, match="not in table history"):
        t.rollback_to(12345)


def test_concurrent_writers_no_lost_updates(spark, tmp_path):
    """REAL two-thread commit race (not monkeypatched): 12 interleaved
    appends through the CAS+retry path — every row and snapshot
    survives with unique, strictly-increasing sequence numbers."""
    import threading

    from gobblin_spark.sinks.iceberg import IcebergTable

    df0 = spark.createDataFrame([(0, "x")], "k long, s string")
    loc = str(tmp_path / "race2")
    t = IcebergTable.create(spark, loc, df0.schema)
    errs = []

    def writer(base):
        try:
            h = IcebergTable(spark, loc)
            for i in range(6):
                h.append_dataframe(spark.createDataFrame(
                    [(base + i, f"w{base}")], "k long, s string"))
        except Exception as e:  # pragma: no cover - failure evidence
            errs.append(e)

    th = [threading.Thread(target=writer, args=(b,)) for b in (100, 200)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs, errs
    got = sorted(r.k for r in t.read().collect())
    assert got == sorted(list(range(100, 106)) + list(range(200, 206)))
    seqs = [s["sequence-number"] for s in t.snapshots()]
    assert len(t.snapshots()) == 12
    assert len(set(seqs)) == len(seqs)


def test_version_hint_torn_read_retries(spark, tmp_path):
    """An unparsable (torn) version hint settles via re-read; a hint
    that STAYS unparsable raises instead of mapping to 'no table'."""
    import os as _os

    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    loc = str(tmp_path / "torn")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df)
    hint = _os.path.join(loc, "metadata", "version-hint.text")
    crc = _os.path.join(loc, "metadata", ".version-hint.text.crc")
    if _os.path.exists(crc):
        _os.remove(crc)  # plain rewrite below would desync it
    with open(hint, "w") as fh:
        fh.write("")  # simulate the torn window, permanently
    with _pytest.raises(RuntimeError, match="unparsable"):
        t._version()
    with open(hint, "w") as fh:
        fh.write("2")
    assert t._version() == 2 and t.read().count() == 1


def test_epoch_token_rechecked_inside_commit_retry(spark, tmp_path):
    """The exactly-once epoch guard lives INSIDE _commit_files_once's
    fresh metadata read, not only in the caller's pre-scan: a second
    commit carrying an already-committed epoch-token short-circuits
    to the existing snapshot even when the caller's check was raced
    past (zombie driver + restarted query, ADVICE r7 medium)."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "tok"), df.schema)
    t.append_dataframe(df, summary_extra={"epoch-token": "e7"})
    snaps = t.snapshots()
    sid = snaps[-1]["snapshot-id"]
    # bypass append_dataframe_idempotent's pre-scan entirely: the
    # low-level commit path itself must dedup on the token
    files = t.data_files()
    assert t._commit_files(files, content=0, equality_ids=None,
                           operation="append",
                           summary_extra={"epoch-token": "e7"}) == sid
    assert len(t.snapshots()) == len(snaps)
    assert t.read().count() == 1


def test_commit_metadata_reraises_non_exists_failures(spark, tmp_path, monkeypatch):
    """A permission failure during fs.create must surface unchanged —
    not be relabeled 'concurrent commit' and silently retried 4x by
    _commit_files (ADVICE r7 low)."""
    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "ioerr"), df.schema)

    class _DenyFs:
        def create(self, p, overwrite):
            raise RuntimeError(
                "AccessControlException: permission denied")

    md = t.metadata()
    # local commits now claim via link(2) without touching _fs — the
    # exists-vs-transient classification under test lives on the
    # session REMOTE branch, so point the table at a remote scheme
    t2 = IcebergTable(spark, "hdfs://nn" + t.location)
    monkeypatch.setattr(
        t2, "_fs", lambda path: (_DenyFs(), None, None))
    with _pytest.raises(RuntimeError, match="permission denied"):
        t2._commit_metadata(md)


def test_fast_forward_falls_back_when_parent_pointers_missing(spark, tmp_path):
    """Upgraded tables whose snapshots predate parent pointers: the
    ancestry walk is indeterminate, so fast_forward falls back to
    snapshot-log membership + sequence-number order instead of
    blocking a legitimate publish (ADVICE r7 low)."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "legacy"), df.schema)
    t.append_dataframe(df)
    t.create_branch("audit")
    t.append_dataframe(df, branch="audit")
    # simulate a pre-upgrade history: strip parent pointers via a
    # proper metadata commit (plain rewrites would tear the crc)
    md = t.metadata()
    for s in md["snapshots"]:
        s.pop("parent-snapshot-id", None)
    t._commit_metadata(md)
    head = t.ref_snapshot("audit")
    assert t.fast_forward("main", "audit") == head
    assert t.metadata()["current-snapshot-id"] == head
    assert t.read().count() == 2


def test_expire_retains_branch_ancestor_chain(spark, tmp_path):
    """expire_snapshots keeps not just ref HEADS but the ancestor
    chain between each head and main's history — expiring an
    intermediate branch commit would block the WAP publish
    fast-forward (ADVICE r7 low)."""
    import time as _time

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "expff"), df.schema)
    t.append_dataframe(df)                       # main seq 1
    t.create_branch("audit")
    t.append_dataframe(df, branch="audit")       # branch seq 2
    t.append_dataframe(df, branch="audit")       # branch seq 3 (head)
    horizon = int(_time.time() * 1000) + 3_600_000
    t.expire_snapshots(horizon)
    kept = {s["snapshot-id"] for s in t.snapshots()}
    head = t.ref_snapshot("audit")
    parent = next(s.get("parent-snapshot-id") for s in t.snapshots()
                  if s["snapshot-id"] == head)
    assert head in kept and parent in kept
    # the retained chain keeps the publish step working
    assert t.fast_forward("main", "audit") == head
    assert t.read().count() == 3


def test_distributed_scan_planning_matches_driver(spark, tmp_path):
    """planning='distributed' (verdict-r7 #3): manifest parsing runs
    as a Spark job — same entries, same order, same read results and
    metadata tables as the driver-side loop, on a many-manifest table
    with partition pruning, schema evolution and a delete in play."""
    from pyspark.sql import functions as F

    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "distplan")
    df = spark.createDataFrame(
        [(i, f"s{i % 4}", float(i)) for i in range(40)],
        "k long, cat string, v double")
    t = IcebergTable(spark, loc)
    IcebergTable.create(spark, loc, df.schema, partition_cols=["cat"])
    for i in range(6):  # 6 commits -> 6 manifests carried forward
        t.append_dataframe(df.filter((F.col("k") % 6) == i))
    t.rename_column("v", "val")
    t.delete_equality(spark.createDataFrame([(3,)], "k long"))

    d = IcebergTable(spark, loc, planning="distributed")
    # entry-level parity (the contract everything else rides on)
    ents_drv = t._entries()
    ents_dst = d._entries()
    key = lambda e: (e["info"].path, e["content"], e["sequence_number"])
    assert [key(e) for e in ents_drv] == [key(e) for e in ents_dst]
    assert [e["info"].partition for e in ents_drv] == \
           [e["info"].partition for e in ents_dst]
    # pruned planning parity (field-id space: cat is field 2)
    cat_id = next(f["id"] for f in t._ice_schema_for(None)["fields"]
                  if f["name"] == "cat")
    p_drv = t._entries(prune_parts=[(cat_id, "=", "s1")])
    p_dst = d._entries(prune_parts=[(cat_id, "=", "s1")])
    assert [key(e) for e in p_drv] == [key(e) for e in p_dst]
    # end-to-end: reads and metadata tables agree
    assert sorted(map(tuple, d.read().collect())) == \
           sorted(map(tuple, t.read().collect()))
    assert (d.inspect("files").count() == t.inspect("files").count()
            and d.inspect("files").count() > 5)
    # single-manifest tables skip the job (driver loop, same results)
    loc2 = str(tmp_path / "one")
    t2 = IcebergTable.create(spark, loc2, df.schema)
    t2.append_dataframe(df.limit(4))
    d2 = IcebergTable(spark, loc2, planning="distributed")
    assert d2.read().count() == 4

    import pytest as _pytest
    with _pytest.raises(ValueError, match="planning"):
        IcebergTable(spark, loc, planning="magic")


def test_distributed_plan_read_is_scheme_aware(tmp_path, monkeypatch):
    """The fan-out's executor read (verdict-r8 #2) must resolve ANY
    filesystem scheme via pyarrow.fs — distributed planning exists for
    the s3:/hdfs: regime, so a `file:`-prefix-strip would crash there.
    A mock scheme proves the path goes through FileSystem.from_uri;
    the fsspec fallback is covered with a stub module."""
    import sys
    import types as _pytypes

    import pyarrow.fs as pafs

    from gobblin_spark.sinks import iceberg as ice
    from gobblin_spark.sinks.iceberg import _read_bytes_any

    p = tmp_path / "m.avro"
    p.write_bytes(b"\x01manifest-bytes")

    # real pyarrow path, Hadoop-style single-slash URI
    assert _read_bytes_any("file:" + str(p)) == b"\x01manifest-bytes"

    # non-file scheme: the from_uri hook is consulted (mock FS)
    seen = []
    real_from_uri = ice._fs_from_uri

    def fake_from_uri(uri):
        seen.append(uri)
        if uri.startswith("mock://"):
            return pafs.LocalFileSystem(), uri[len("mock://host"):]
        return real_from_uri(uri)

    monkeypatch.setattr(ice, "_fs_from_uri", fake_from_uri)
    assert _read_bytes_any("mock://host" + str(p)) == b"\x01manifest-bytes"
    assert seen == ["mock://host" + str(p)]

    # bare local path with a colon in the NAME must not URI-parse
    weird = tmp_path / "odd:name.avro"
    weird.write_bytes(b"zz")
    assert _read_bytes_any(str(weird)) == b"zz"
    assert len(seen) == 1

    # unknown-to-arrow scheme falls back to fsspec when importable
    def raising_from_uri(uri):
        raise OSError("Unrecognized filesystem type in URI")

    monkeypatch.setattr(ice, "_fs_from_uri", raising_from_uri)

    class _FakeFile:
        def __enter__(self):
            return self
        def __exit__(self, *a):
            return False
        def read(self):
            return b"via-fsspec"

    fake_fsspec = _pytypes.ModuleType("fsspec")
    fake_fsspec.open = lambda path, mode: _FakeFile()
    monkeypatch.setitem(sys.modules, "fsspec", fake_fsspec)
    assert _read_bytes_any("weird://x/y") == b"via-fsspec"

    # ... and re-raises arrow's error when fsspec is absent too
    monkeypatch.setitem(sys.modules, "fsspec", None)
    import pytest as _pytest
    with _pytest.raises((OSError, ImportError)):
        _read_bytes_any("weird://x/y")


def test_four_writer_mixed_commit_stress(spark, tmp_path):
    """N=4 concurrent writers, MIXED operations (verdict-r7 #6): two
    appenders, one equality-deleter, one schema-evolver race through
    the CAS+retry paths on one table. Asserts a LINEARIZABLE history:
    every snapshot sits exactly once on main's parent chain with
    strictly-increasing sequence numbers, no append/delete/evolve is
    lost, and the final read equals the serial result (the deleter
    only touches pre-seeded keys, so content is order-independent)."""
    import threading

    from pyspark.sql import types as T

    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "race4")
    seed = spark.createDataFrame([(i, "seed") for i in range(10)],
                                 "k long, s string")
    t = IcebergTable.create(spark, loc, seed.schema)
    t.append_dataframe(seed)
    errs = []

    def appender(base):
        def run():
            try:
                h = IcebergTable(spark, loc)
                for i in range(5):
                    h.append_dataframe(spark.createDataFrame(
                        [(base + 2 * i, f"w{base}"),
                         (base + 2 * i + 1, f"w{base}")],
                        "k long, s string"))
            except Exception as e:
                errs.append(e)
        return run

    def deleter():
        try:
            h = IcebergTable(spark, loc)
            for k in (0, 2, 4, 6, 8):
                h.delete_equality(
                    spark.createDataFrame([(k,)], "k long"))
        except Exception as e:
            errs.append(e)

    def evolver():
        try:
            h = IcebergTable(spark, loc)
            for i in range(3):
                h.add_column(f"extra{i}", T.LongType())
        except Exception as e:
            errs.append(e)

    th = [threading.Thread(target=f) for f in
          (appender(100), appender(200), deleter, evolver)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs, errs

    # content: all appended keys + the 5 surviving seeds, extras null
    rows = t.read().collect()
    got = sorted(r.k for r in rows)
    assert got == sorted([1, 3, 5, 7, 9]
                         + list(range(100, 110)) + list(range(200, 210)))
    assert all(r.extra0 is None for r in rows)

    # schema: all three adds landed with unique schema-ids
    md = t.metadata()
    cur = next(s for s in md["schemas"]
               if s["schema-id"] == md["current-schema-id"])
    names = {f["name"] for f in cur["fields"]}
    assert {"extra0", "extra1", "extra2"} <= names
    sids = [s["schema-id"] for s in md["schemas"]]
    assert len(set(sids)) == len(sids)

    # linearizable snapshot history: 1 seed + 10 appends + 5 deletes,
    # unique seqs, and main's parent chain covers every snapshot
    # exactly once with strictly decreasing sequence numbers
    snaps = {s["snapshot-id"]: s for s in md["snapshots"]}
    assert len(snaps) == 16
    seqs = [s["sequence-number"] for s in snaps.values()]
    assert sorted(seqs) == list(range(1, 17))
    chain = []
    node = md["current-snapshot-id"]
    while node is not None:
        chain.append(node)
        node = snaps[node]["parent-snapshot-id"]
    assert len(chain) == 16 and set(chain) == set(snaps)
    chain_seqs = [snaps[n]["sequence-number"] for n in chain]
    assert chain_seqs == sorted(chain_seqs, reverse=True)


def test_stream_and_batch_writer_commit_stress(spark, tmp_path):
    """Verdict-r8 #7: the N=4 batch stress proves batch
    linearizability; this adds a CONCURRENT streaming epoch writer
    (writeStream.format('gobblin_iceberg'), one CAS commit per
    micro-batch) racing two batch appenders and a deleter on one
    table. Asserts: no writer errors, every row lands exactly once,
    each micro-batch's snapshot carries a DISTINCT stream-epoch token,
    and main's parent chain is a linearizable history (every snapshot
    exactly once, strictly decreasing sequence numbers)."""
    import threading

    from gobblin_spark.sinks.iceberg import IcebergTable
    from gobblin_spark.sources import datasource as DS

    DS.register(spark)
    loc = str(tmp_path / "racestream")
    seed = spark.createDataFrame([(i, "seed") for i in range(6)],
                                 "k long, s string")
    t = IcebergTable.create(spark, loc, seed.schema)
    t.append_dataframe(seed)

    stream_rows = [(1000 + i, "stream") for i in range(12)]
    indir = str(tmp_path / "in")
    spark.createDataFrame(stream_rows, "k long, s string") \
        .repartition(4).write.parquet(indir)
    errs = []

    def appender(base):
        def run():
            try:
                h = IcebergTable(spark, loc)
                for i in range(4):
                    h.append_dataframe(spark.createDataFrame(
                        [(base + i, f"w{base}")], "k long, s string"))
            except Exception as e:
                errs.append(e)
        return run

    def deleter():
        try:
            h = IcebergTable(spark, loc)
            for k in (0, 2, 4):
                h.delete_equality(spark.createDataFrame([(k,)],
                                                        "k long"))
        except Exception as e:
            errs.append(e)

    # maxFilesPerTrigger=1 -> 4 micro-batches, each a separate CAS
    # commit racing the batch writers
    q = (spark.readStream.schema(seed.schema)
         .option("maxFilesPerTrigger", 1).parquet(indir)
         .writeStream.format("gobblin_iceberg")
         .option("path", loc)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    th = [threading.Thread(target=f) for f in
          (appender(100), appender(200), deleter)]
    for x in th:
        x.start()
    q.awaitTermination(120)
    for x in th:
        x.join()
    assert not errs, errs

    # content: every writer's rows exactly once, deletes applied
    got = sorted(r.k for r in t.read().collect())
    assert got == sorted([1, 3, 5] + list(range(100, 104))
                         + list(range(200, 204))
                         + [k for k, _ in stream_rows])

    # every stream snapshot carries a DISTINCT epoch token, one per
    # micro-batch (exactly-once: a CAS-retried epoch never double
    # commits)
    md = t.metadata()
    snaps = {s["snapshot-id"]: s for s in md["snapshots"]}
    tokens = [s["summary"]["epoch-token"] for s in snaps.values()
              if "epoch-token" in s.get("summary", {})]
    assert len(tokens) == 4 and len(set(tokens)) == 4

    # linearizable history: 1 seed + 8 appends + 3 deletes + 4 epochs
    assert len(snaps) == 16
    seqs = sorted(s["sequence-number"] for s in snaps.values())
    assert seqs == list(range(1, 17))
    chain, node = [], md["current-snapshot-id"]
    while node is not None:
        chain.append(node)
        node = snaps[node]["parent-snapshot-id"]
    assert len(chain) == 16 and set(chain) == set(snaps)
    chain_seqs = [snaps[n]["sequence-number"] for n in chain]
    assert chain_seqs == sorted(chain_seqs, reverse=True)

    # epoch replay after the race: still a no-op
    w = DS._IcebergStreamWriter({"path": loc}, seed.schema)
    w.commit([], 0)
    assert len(t.snapshots()) == 16


def test_temporal_transforms_use_utc_under_any_session_tz(spark, tmp_path):
    """Audit r8 (runtime-confirmed pre-fix): temporal partition
    ordinals on INSTANT sources are defined in UTC; under a non-UTC
    session the old session-tz cast disagreed with read-side
    projection and pruning silently dropped matching rows."""
    import datetime as dt

    from gobblin_spark.sinks.iceberg import IcebergTable, _iceberg_temporal

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        df = spark.createDataFrame(
            [(1, dt.datetime(2024, 6, 2, 6, 30,
                             tzinfo=dt.timezone.utc))],
            "k long, ts timestamp")
        loc = str(tmp_path / "tztbl")
        t = IcebergTable.create(spark, loc, df.schema,
                                partition_spec=[("ts", "day")])
        t.append_dataframe(df)
        got = t.read(prune_filters=[
            ("ts", ">=", dt.datetime(2024, 6, 2,
                                     tzinfo=dt.timezone.utc))]).collect()
        assert len(got) == 1, "UTC-day row pruned away"
        # read-side projection converts tz-aware instants to UTC
        aware = dt.datetime(2024, 6, 2, 6, 30, tzinfo=dt.timezone(
            dt.timedelta(hours=-7)))
        assert _iceberg_temporal(aware, "timestamptz", "day") == \
            (dt.date(2024, 6, 2) - dt.date(1970, 1, 1)).days
        # NTZ columns: the residual filter must be wall-clock exact
        # even when the session tz differs from the process tz
        # (PySpark datetime literals convert through the process tz)
        ntz = spark.createDataFrame(
            [(i, dt.datetime(2024, 1, 3, h, 0))
             for i, h in enumerate(range(24))],
            "k long, ts timestamp_ntz")
        loc2 = str(tmp_path / "ntztbl")
        t2 = IcebergTable.create(spark, loc2, ntz.schema,
                                 partition_spec=[("ts", "day")])
        t2.append_dataframe(ntz)
        got2 = t2.read(prune_filters=[
            ("ts", ">=", dt.datetime(2024, 1, 3, 12, 0))]).count()
        assert got2 == 12, got2
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_append_and_rewrite_after_partition_source_rename(spark, tmp_path):
    """Audit r8 (runtime-confirmed pre-fix): identity partition fields
    partitionBy the CURRENT source name — renaming the source column
    used to make every later append/rewrite fail on the frozen spec
    name."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(i, f"g{i % 2}") for i in range(6)],
                               "k long, grp string")
    loc = str(tmp_path / "renpart")
    t = IcebergTable.create(spark, loc, df.schema, partition_cols=["grp"])
    t.append_dataframe(df)
    t.rename_column("grp", "bucket")
    df2 = spark.createDataFrame([(10, "g0")], "k long, bucket string")
    t.append_dataframe(df2)
    assert t.read().count() == 7
    t.rewrite_data_files(target_partitions=1)
    got = t.read().collect()
    assert sorted(r.k for r in got) == [0, 1, 2, 3, 4, 5, 10]
    assert all(r.bucket in ("g0", "g1") for r in got)


def test_expire_keeps_metadata_versions_on_young_tables(spark, tmp_path):
    """Audit r8 (runtime-confirmed pre-fix): 'keep the newest 5'
    version pruning deleted v1.metadata.json on tables younger than 5
    versions."""
    import os
    import time as _time

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    loc = str(tmp_path / "youngmeta")
    t = IcebergTable.create(spark, loc, df.schema)   # v1
    t.append_dataframe(df)                           # v2
    t.expire_snapshots(int(_time.time() * 1000) + 10_000)  # v3
    assert os.path.exists(os.path.join(loc, "metadata",
                                       "v1.metadata.json"))


def test_lost_cas_attempt_reclaims_manifest_files(spark, tmp_path, monkeypatch):
    """Audit r8: a commit attempt that loses the CAS deletes the
    manifest + manifest-list it wrote — metadata/ no longer grows one
    orphan pair per lost race."""
    import glob
    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    loc = str(tmp_path / "leak")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df)
    files = t.data_files()
    before = set(glob.glob(f"{loc}/metadata/*.avro"))

    def always_lose(md):
        raise RuntimeError("concurrent commit detected: simulated")

    monkeypatch.setattr(t, "_commit_metadata", always_lose)
    with _pytest.raises(RuntimeError, match="concurrent commit"):
        t._commit_files(files, content=0, equality_ids=None,
                        operation="append", max_attempts=2)
    assert set(glob.glob(f"{loc}/metadata/*.avro")) == before


def test_sessionless_partitioned_validation_no_jvm_crash(spark, tmp_path):
    """Audit r8: sessionless append_files on a partitioned table
    validates via local paths instead of crashing on spark._jvm."""
    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import DataFileInfo, IcebergTable

    df = spark.createDataFrame([(1, "a")], "k long, grp string")
    loc = str(tmp_path / "slpart")
    t = IcebergTable.create(spark, loc, df.schema, partition_cols=["grp"])
    sl = IcebergTable(None, loc)
    bad = DataFileInfo(f"{loc}/data/not-hive/file.parquet", 10, 1,
                       partition={"2": "a"})
    with _pytest.raises(ValueError, match="hive"):
        sl.append_files([bad])


def test_create_branch_validates_snapshot(spark, tmp_path):
    """Audit r8: create_branch rejects ids outside table history up
    front (create_tag already did) instead of committing a bogus ref
    that crashes reads later."""
    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "brval"), df.schema)
    t.append_dataframe(df)
    with _pytest.raises(ValueError, match="not in table history"):
        t.create_branch("audit", from_snapshot_id=12345)


def test_sessionless_create_first_commit(tmp_path):
    """Audit r8: the sessionless metadata commit creates metadata/
    itself — the first commit into a fresh location no longer dies
    with FileNotFoundError."""
    from pyspark.sql import types as T

    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "fresh" / "tbl")
    schema = T.StructType([T.StructField("k", T.LongType())])
    t = IcebergTable.create(None, loc, schema)
    assert t.metadata()["current-snapshot-id"] == -1


def test_time_travel_by_timestamp_and_changelog(spark, tmp_path):
    """snapshot_as_of resolves through the snapshot-log (main's
    movement record — rollbacks and publishes included), and
    changelog() returns exactly the rows committed in (from, to] with
    insert stamps."""
    import time as _time

    import pytest as _pytest

    from gobblin_spark.sinks.iceberg import IcebergTable

    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    loc = str(tmp_path / "ttcl")
    t = IcebergTable.create(spark, loc, df1.schema)
    t.append_dataframe(df1)
    s1 = t.metadata()["current-snapshot-id"]
    ts1 = int(_time.time() * 1000)
    _time.sleep(0.01)
    t.append_dataframe(spark.createDataFrame([(3, "c")],
                                             "k long, s string"))
    s2 = t.metadata()["current-snapshot-id"]
    t.append_dataframe(spark.createDataFrame([(4, "d")],
                                             "k long, s string"))

    # as-of between commit 1 and 2 sees exactly commit 1
    assert t.snapshot_as_of(ts1) == s1
    assert sorted(r.k for r in t.read_as_of(ts1).collect()) == [1, 2]
    with _pytest.raises(ValueError, match="no snapshot as of"):
        t.snapshot_as_of(1)

    # changelog (s1, head]: the two later commits, stamped
    cl = t.changelog(s1).collect()
    assert sorted((r.k, r._change_type) for r in cl) == \
        [(3, "insert"), (4, "insert")]
    assert {r._commit_snapshot_id for r in cl if r.k == 3} == {s2}
    # bounded window (s1, s2]
    assert [r.k for r in t.changelog(s1, s2).collect()] == [3]
    # from None = since table creation; from head = empty
    assert len(t.changelog(None).collect()) == 4
    head = t.metadata()["current-snapshot-id"]
    assert t.changelog(head).count() == 0
    # a rewrite inside the window emits nothing — no double-counting
    # (r11: the replace gate lifted; pre-rewrite appends replay from
    # their own era)
    t.rewrite_data_files(target_partitions=1)
    assert sorted((r.k, r._change_type)
                  for r in t.changelog(s1).collect()) == \
        [(3, "insert"), (4, "insert")]
    # ... and a window strictly before it still replays
    assert [r.k for r in t.changelog(s1, s2).collect()] == [3]


def test_changelog_identity_partitioned(spark, tmp_path):
    """Verdict-r8 #3: changelog over an identity-partitioned table —
    the files drop their partition column, so the scan must re-attach
    it from the path exactly as read() does (null partitions
    included), and the commit stamps must survive the single
    multi-path scan + broadcast file→snapshot lookup."""
    from pyspark.sql import functions as F

    from gobblin_spark.sinks.iceberg import IcebergTable

    # 'not set+x y' pins BOTH encoding hazards: _metadata.file_path
    # URI-encodes the space (%20) — the file→snapshot lookup must join
    # in URI form — and url_decode would eat a literal '+' (audit r9)
    df = spark.createDataFrame(
        [(1, "us"), (2, "de"), (3, None), (4, "us"), (5, "not set+x y")],
        "k long, country string")
    loc = str(tmp_path / "clident")
    t = IcebergTable.create(spark, loc, df.schema,
                            partition_cols=["country"])
    t.append_dataframe(df.filter("k <= 2"))
    s1 = t.metadata()["current-snapshot-id"]
    t.append_dataframe(df.filter("k = 3"))
    s2 = t.metadata()["current-snapshot-id"]
    t.append_dataframe(df.filter("k >= 4"))
    s3 = t.metadata()["current-snapshot-id"]

    cl = t.changelog(s1).collect()
    assert sorted((r.k, r.country is None, r.country, r._change_type)
                  for r in cl) == [
        (3, True, None, "insert"), (4, False, "us", "insert"),
        (5, False, "not set+x y", "insert")]
    assert {r.k: r._commit_snapshot_id for r in cl} == \
        {3: s2, 4: s3, 5: s3}
    # full-history changelog equals the read, partition values intact
    full = t.changelog(None)
    assert sorted((r.k, r.country) for r in full.collect()) == \
        sorted((r.k, r.country) for r in t.read().collect())
    # plan width: ONE scan regardless of the commit count in the window
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 2  # data scan + tiny lookup

    # partition EVOLUTION inside the window: per-spec scans still
    # attach the right columns
    t.update_partition_spec([("k", "bucket[4]")])
    t.append_dataframe(spark.createDataFrame(
        [(9, "fr")], "k long, country string"))
    cl2 = t.changelog(s3).collect()
    assert [(r.k, r.country) for r in cl2] == [(9, "fr")]


def test_remove_orphan_files_include_metadata(spark, tmp_path):
    """include_metadata=True reclaims .avro manifests/lists no
    retained snapshot references (historical lost-CAS leftovers)
    while every referenced metadata file and all json versions
    survive."""
    import os

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    loc = str(tmp_path / "orphmeta")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df)
    t.append_dataframe(df)
    # plant a fake historical leak + a killed committer's rename-CAS
    # staging leftover (r11: the hdfs temp-write path)
    stray = os.path.join(loc, "metadata", "manifest-deadbeef.avro")
    open(stray, "wb").write(b"leak")
    tmp_leak = os.path.join(loc, "metadata",
                            "v9.metadata.json.commit-abc123.tmp")
    open(tmp_leak, "wb").write(b"torn")
    deleted = t.remove_orphan_files(older_than_s=0,
                                    include_metadata=True)
    assert any(p.endswith("manifest-deadbeef.avro") for p in deleted)
    assert any(p.endswith(".commit-abc123.tmp") for p in deleted)
    assert not os.path.exists(stray)
    assert not os.path.exists(tmp_leak)
    # table still fully readable; json versions intact
    assert t.read().count() == 2
    assert os.path.exists(os.path.join(loc, "metadata",
                                       "v1.metadata.json"))


def test_changelog_missing_lookup_fails_loudly(spark, tmp_path,
                                               monkeypatch):
    """Advice-r9: a scanned file absent from the commit lookup (a
    path-form mismatch the URI conversion did not normalize) must
    RAISE in the projection, not silently stamp a NULL
    _commit_snapshot_id and misbucket the rows."""
    import pytest

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    loc = str(tmp_path / "clguard")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df)
    t.append_dataframe(spark.createDataFrame([(3, "c")],
                                             "k long, s string"))

    # healthy table: full-history changelog stamps every row
    assert t.changelog(None).count() == 3

    real = IcebergTable._changelog_lookup

    def crippled(self, window, seq_of_snap):
        return real(self, window[:-1], seq_of_snap)  # one file unmapped

    monkeypatch.setattr(IcebergTable, "_changelog_lookup", crippled)
    with pytest.raises(Exception, match="path-form mismatch"):
        t.changelog(None).collect()


def test_fsio_helpers_mock_scheme(tmp_path, monkeypatch):
    """The scheme-aware IO belt (write/open/size/delete + parquet)
    routes non-file URIs through the `_fs_from_uri` hook — proven with
    a mock scheme mapped onto the local FS."""
    import pyarrow as pa
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq
    import pytest

    from gobblin_spark.sinks import iceberg as ice

    real = ice._fs_from_uri

    def fake_from_uri(uri):
        if uri.startswith("mock://host"):
            return pafs.LocalFileSystem(), uri[len("mock://host"):]
        return real(uri)

    monkeypatch.setattr(ice, "_fs_from_uri", fake_from_uri)
    base = "mock://host" + str(tmp_path)

    # bytes roundtrip (+ parent dir creation)
    p = base + "/sub/dir/blob.bin"
    assert ice._write_bytes_any(p, b"abc123") == 6
    assert ice._read_bytes_any(p) == b"abc123"
    assert ice._file_size_any(p) == 6

    # parquet roundtrip through open_input_file (random access)
    tbl = pa.table({"k": [1, 2, 3]})
    pp = base + "/sub/part.parquet"
    ice._write_parquet_any(tbl, pp)
    got = pq.ParquetFile(ice._open_input_file_any(pp))
    assert got.metadata.num_rows == 3
    assert pq.read_table(ice._open_input_file_any(pp)).equals(tbl)

    # delete + missing-file contracts
    ice._delete_any(p)
    with pytest.raises(FileNotFoundError):
        ice._file_size_any(p)
    with pytest.raises(OSError):
        ice._delete_any(p)

    # plain local paths never consult the hook
    lp = str(tmp_path / "plain.bin")
    ice._write_bytes_any(lp, b"x")
    assert ice._file_size_any(lp) == 1
    ice._delete_any(lp)


def test_loopback_scheme_resolves_and_drops_crc(tmp_path):
    """r11 (verdict-r10 #7): the built-in loop:// loopback scheme maps
    onto the local FS inside _fs_from_uri — it reaches executor
    workers and the sessionless commit hook where monkeypatches
    cannot — and its writes drop Hadoop's .crc sidecar exactly like
    the plain-local branch, so a JVM that wrote the file earlier can
    still read it after a loopback rewrite."""
    import os

    from gobblin_spark.sinks import iceberg as ice

    p = str(tmp_path / "sub" / "hint.txt")
    loop = "loop://anyhost" + p
    assert ice._write_bytes_any(loop, b"1") == 1
    assert ice._read_bytes_any(loop) == b"1"
    assert ice._file_size_any(loop) == 1
    assert open(p, "rb").read() == b"1"

    # a stale Hadoop sidecar next to the target is dropped on rewrite
    crc = str(tmp_path / "sub" / ".hint.txt.crc")
    open(crc, "wb").write(b"\x00stale")
    ice._write_bytes_any(loop, b"22")
    assert not os.path.exists(crc)
    assert open(p, "rb").read() == b"22"

    ice._delete_any(loop)
    assert not os.path.exists(p)


def test_write_if_absent_rename_cas_on_hdfs_like(tmp_path, monkeypatch):
    """Advice-r10: the sessionless remote metadata commit uses a
    temp-write + single-winner fs.move on rename-atomic stores
    (hdfs:) instead of the TOCTOU existence-check + write; object
    stores keep the documented HEAD-then-PUT fallback. The mock
    refuses move-to-existing like the namenode does."""
    import os

    import pyarrow.fs as pafs
    import pytest

    from gobblin_spark.sinks import iceberg as ice

    class FakeHdfs:
        type_name = "hdfs"

        def __init__(self):
            self._fs = pafs.LocalFileSystem()
            self.moves = []

        def open_output_stream(self, p):
            return self._fs.open_output_stream(p)

        def create_dir(self, p, recursive=True):
            self._fs.create_dir(p, recursive=recursive)

        def move(self, src, dst):
            # Java FileSystem.rename refuses an existing destination
            if os.path.exists(dst):
                raise OSError(f"rename failed: {dst} exists")
            self.moves.append((src, dst))
            self._fs.move(src, dst)

        def delete_file(self, p):
            self._fs.delete_file(p)

        def get_file_info(self, p):
            return self._fs.get_file_info(p)

    fake = FakeHdfs()
    real = ice._fs_from_uri

    def fake_from_uri(uri):
        if uri.startswith("hdfs://host"):
            return fake, uri[len("hdfs://host"):]
        return real(uri)

    monkeypatch.setattr(ice, "_fs_from_uri", fake_from_uri)
    target = "hdfs://host" + str(tmp_path / "meta" / "v1.metadata.json")

    ice._write_bytes_if_absent_any(target, b"winner")
    assert len(fake.moves) == 1  # went through the rename CAS
    local = str(tmp_path / "meta" / "v1.metadata.json")
    assert open(local, "rb").read() == b"winner"

    # loser from the same base: move refuses, temp cleaned, CAS error
    with pytest.raises(RuntimeError, match="concurrent commit"):
        ice._write_bytes_if_absent_any(target, b"loser")
    assert open(local, "rb").read() == b"winner"
    assert not [f for f in os.listdir(tmp_path / "meta")
                if f.endswith(".tmp")]

    # a TRANSIENT move failure (destination absent) propagates as
    # itself — wrapping it as "concurrent commit" would burn the CAS
    # retries misdiagnosing an infrastructure fault as a race
    class FlakyHdfs(FakeHdfs):
        def move(self, src, dst):
            raise OSError("namenode hiccup")

    flaky = FlakyHdfs()
    monkeypatch.setattr(
        ice, "_fs_from_uri",
        lambda uri: ((flaky, uri[len("hdfs://host"):])
                     if uri.startswith("hdfs://host") else real(uri)))
    t3 = "hdfs://host" + str(tmp_path / "meta" / "v9.metadata.json")
    with pytest.raises(OSError, match="namenode hiccup"):
        ice._write_bytes_if_absent_any(t3, b"x")

    # non-hdfs scheme (LocalFileSystem, type_name "local"): the
    # check-then-write fallback still enforces first-writer-wins
    def mock_from_uri(uri):
        if uri.startswith("mock://host"):
            return pafs.LocalFileSystem(), uri[len("mock://host"):]
        return real(uri)

    monkeypatch.setattr(ice, "_fs_from_uri", mock_from_uri)
    t2 = "mock://host" + str(tmp_path / "meta" / "v2.metadata.json")
    ice._write_bytes_if_absent_any(t2, b"first")
    with pytest.raises(RuntimeError, match="concurrent commit"):
        ice._write_bytes_if_absent_any(t2, b"second")
    assert open(str(tmp_path / "meta" / "v2.metadata.json"),
                "rb").read() == b"first"

    # r11 review #3: a transient write failure RE-PROBES before the
    # fsspec retry — if a racer created the destination while our
    # write stalled, a blind rewrite would erase its commit
    class StallingFs:
        type_name = "local"

        def __init__(self, racer_data=None):
            self._fs = pafs.LocalFileSystem()
            self.racer_data = racer_data

        def get_file_info(self, p):
            return self._fs.get_file_info(p)

        def create_dir(self, p, recursive=True):
            self._fs.create_dir(p, recursive=recursive)

        def open_output_stream(self, p):
            if self.racer_data is not None:
                with open(p, "wb") as fh:  # the racer lands first
                    fh.write(self.racer_data)
                raise OSError("socket timeout")
            # transient: fail the first attempt only
            if not getattr(self, "_failed", False):
                self._failed = True
                raise OSError("socket timeout")
            return self._fs.open_output_stream(p)

    stall = StallingFs(racer_data=b"racer")
    monkeypatch.setattr(
        ice, "_fs_from_uri",
        lambda uri: ((stall, uri[len("stall://host"):])
                     if uri.startswith("stall://host") else real(uri)))
    t4 = "stall://host" + str(tmp_path / "meta" / "v4.metadata.json")
    with pytest.raises(RuntimeError, match="concurrent commit"):
        ice._write_bytes_if_absent_any(t4, b"mine")
    assert open(str(tmp_path / "meta" / "v4.metadata.json"),
                "rb").read() == b"racer"  # the racer's commit survived
    # ... while a genuinely transient failure (no racer) still lands
    # through the fallback
    stall2 = StallingFs(racer_data=None)
    monkeypatch.setattr(
        ice, "_fs_from_uri",
        lambda uri: ((stall2, uri[len("stall://host"):])
                     if uri.startswith("stall://host") else real(uri)))
    t5 = "stall://host" + str(tmp_path / "meta" / "v5.metadata.json")
    ice._write_bytes_if_absent_any(t5, b"mine")
    assert open(str(tmp_path / "meta" / "v5.metadata.json"),
                "rb").read() == b"mine"

    # advice r11: our OWN torn write (partial bytes flushed before the
    # OSError) must NOT be rediagnosed as "concurrent commit" — the
    # corrupt short file would make every CAS retry collide and block
    # the table until manual cleanup. The re-probe deletes a
    # destination SHORTER than the payload (ours by construction —
    # the pre-write NotFound probe bounds the racer window) and lands
    # the full payload through the fallback.
    class TornFs(StallingFs):
        torn_bytes = b"mi"  # prefix of the payload by default

        def open_output_stream(self, p):
            if not getattr(self, "_failed", False):
                self._failed = True
                with open(p, "wb") as fh:
                    fh.write(self.torn_bytes)
                raise OSError("socket timeout mid-write")
            return self._fs.open_output_stream(p)

        def open_input_stream(self, p):  # the prefix re-read path
            return self._fs.open_input_stream(p)

        def delete_file(self, p):
            self._fs.delete_file(p)

    torn = TornFs()
    monkeypatch.setattr(
        ice, "_fs_from_uri",
        lambda uri: ((torn, uri[len("torn://host"):])
                     if uri.startswith("torn://host") else real(uri)))
    t6 = "torn://host" + str(tmp_path / "meta" / "v6.metadata.json")
    ice._write_bytes_if_absent_any(t6, b"mine-full-payload")
    assert open(str(tmp_path / "meta" / "v6.metadata.json"),
                "rb").read() == b"mine-full-payload"
    # r12 review #1: a racer's COMPLETE metadata that happens to be
    # SHORTER than ours is NOT "our torn write" — size alone cannot
    # discriminate; the prefix content check must refuse to delete it
    shorter = TornFs()
    shorter.torn_bytes = b"racer"  # complete, shorter, NOT our prefix
    monkeypatch.setattr(
        ice, "_fs_from_uri",
        lambda uri: ((shorter, uri[len("torn://host"):])
                     if uri.startswith("torn://host") else real(uri)))
    t8 = "torn://host" + str(tmp_path / "meta" / "v8.metadata.json")
    with pytest.raises(RuntimeError, match="concurrent commit"):
        ice._write_bytes_if_absent_any(t8, b"mine-full-payload")
    assert open(str(tmp_path / "meta" / "v8.metadata.json"),
                "rb").read() == b"racer"  # the racer's commit survived
    # r12 review #1 (second pass): a FULLY-flushed write whose close()
    # raised (destination == our exact payload) is our own success,
    # not a collision — rediagnosing it would wedge every CAS retry
    # against our own byte-identical file
    whole = TornFs()
    whole.torn_bytes = b"mine-full-payload"  # all bytes landed
    monkeypatch.setattr(
        ice, "_fs_from_uri",
        lambda uri: ((whole, uri[len("torn://host"):])
                     if uri.startswith("torn://host") else real(uri)))
    t9 = "torn://host" + str(tmp_path / "meta" / "v9b.metadata.json")
    ice._write_bytes_if_absent_any(t9, b"mine-full-payload")  # no raise
    assert open(str(tmp_path / "meta" / "v9b.metadata.json"),
                "rb").read() == b"mine-full-payload"
    # ... while a COMPLETE same-or-longer destination (a real racer)
    # still raises, with the original infra fault chained so it isn't
    # masked as a pure committer race
    stall3 = StallingFs(racer_data=b"racer-full")
    monkeypatch.setattr(
        ice, "_fs_from_uri",
        lambda uri: ((stall3, uri[len("stall://host"):])
                     if uri.startswith("stall://host") else real(uri)))
    t7 = "stall://host" + str(tmp_path / "meta" / "v7.metadata.json")
    with pytest.raises(RuntimeError, match="concurrent commit") as ei:
        ice._write_bytes_if_absent_any(t7, b"mine")
    assert isinstance(ei.value.__cause__, OSError)
    assert open(str(tmp_path / "meta" / "v7.metadata.json"),
                "rb").read() == b"racer-full"


def test_dsv2_iceberg_remote_scheme(spark, tmp_path, monkeypatch):
    """Verdict-r9 #2: the gobblin_iceberg DSv2 face is scheme-aware
    end to end — with the table addressed by a non-file URI (mock
    scheme onto local FS), the batch writer stages+commits, the batch
    reader plans+reads, and the streaming reader/writer consume and
    append, all through the pyarrow.fs hook instead of plain open()."""
    import pyarrow.fs as pafs

    from gobblin_spark.sinks import iceberg as ice
    from gobblin_spark.sources.datasource import (
        _IcebergReader, _IcebergStreamReader, _IcebergStreamWriter,
        _IcebergWriter)

    real = ice._fs_from_uri

    def fake_from_uri(uri):
        if uri.startswith("mock://host"):
            return pafs.LocalFileSystem(), uri[len("mock://host"):]
        return real(uri)

    monkeypatch.setattr(ice, "_fs_from_uri", fake_from_uri)

    schema = spark.createDataFrame([(1, "a")], "k long, s string").schema
    loc = str(tmp_path / "remote_tbl")
    ice.IcebergTable.create(spark, loc, schema)
    mock_loc = "mock://host" + loc

    # the writers are DataSourceArrowWriters: Spark hands them Arrow
    # RecordBatches, so the direct-drive harness must too
    import pyarrow as pa

    def _rb(rows):
        return iter([pa.RecordBatch.from_arrays(
            [pa.array([r[0] for r in rows], type=pa.int64()),
             pa.array([r[1] for r in rows], type=pa.string())],
            names=["k", "s"])])

    # batch write face: task parquet + sessionless commit, all mock://
    w = _IcebergWriter({"path": mock_loc}, schema)
    msg = w.write(_rb([(1, "a"), (2, "b")]))
    assert msg.files and msg.files[0].startswith("mock://host")
    w.commit([msg])

    # the manifest records the mock URI (no file:/abspath rewrite)
    t = ice.IcebergTable(None, mock_loc)
    entries = t._entries()
    assert len(entries) == 1
    assert entries[0]["info"].path.startswith("mock://host")

    # batch read face: plan + executor read through the hook
    r = _IcebergReader({"path": mock_loc}, schema)
    parts = r.partitions()
    assert [p for p in parts if p.path][0].path.startswith("mock://host")
    got = []
    for p in parts:
        for b in r.read(p):
            got.extend(zip(b.column(0).to_pylist(),
                           b.column(1).to_pylist()))
    assert sorted(got) == [(1, "a"), (2, "b")]

    # streaming write face: epoch commit + exactly-once replay no-op
    sw = _IcebergStreamWriter({"path": mock_loc}, schema)
    m2 = sw.write(_rb([(3, "c")]))
    sw.commit([m2], 7)
    n_snaps = len(ice.IcebergTable(None, mock_loc).metadata()["snapshots"])
    sw.commit([m2], 7)  # replayed epoch: no new snapshot
    assert len(ice.IcebergTable(None, mock_loc)
               .metadata()["snapshots"]) == n_snaps

    # streaming read face: full window over the mock scheme
    sr = _IcebergStreamReader({"path": mock_loc}, schema)
    rows, end = sr.read(sr.initialOffset())
    assert sorted(rows) == [(1, "a"), (2, "b"), (3, "c")]
    assert end["seq"] >= 2

    # abort deletes the never-referenced staged file via the hook
    w2 = _IcebergWriter({"path": mock_loc}, schema)
    m3 = w2.write(_rb([(9, "z")]))
    staged_local = m3.files[0][len("mock://host"):]
    import os
    assert os.path.exists(staged_local)
    w2.abort([m3])
    assert not os.path.exists(staged_local)


def test_changelog_position_deletes(spark, tmp_path):
    """The changelog emits RETRACTIONS for delete commits in the
    window: position deletes replay by reading only the referenced
    data files; equality deletes replay as the PARENT state's rows
    matching the tuples (already-retracted rows never re-retract).
    Delete commits OUTSIDE the window no longer poison insert-only
    windows, and REPLACE still raises."""
    import pytest
    from pyspark.sql import functions as F

    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "cl_posdel")
    df1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, s string")
    t = IcebergTable.create(spark, loc, df1.schema)
    t.append_dataframe(df1)
    s1 = t.metadata()["current-snapshot-id"]
    t.append_dataframe(spark.createDataFrame([(4, "d")],
                                             "k long, s string"))
    s2 = t.metadata()["current-snapshot-id"]
    # position-delete k=2 and k=4 (one row from each append)
    pos = (t.read(apply_deletes=False)
           .select(F.col("_metadata.file_path").alias("file_path"),
                   F.col("_metadata.row_index").alias("pos"), "k")
           .filter(F.col("k").isin(2, 4)).drop("k"))
    t.delete_positions(pos)
    s3 = t.metadata()["current-snapshot-id"]
    t.append_dataframe(spark.createDataFrame([(5, "e")],
                                             "k long, s string"))
    s4 = t.metadata()["current-snapshot-id"]

    # full history: 5 inserts + 2 deletes, each stamped correctly
    cl = t.changelog(None).collect()
    assert sorted((r.k, r._change_type) for r in cl) == [
        (1, "insert"), (2, "delete"), (2, "insert"), (3, "insert"),
        (4, "delete"), (4, "insert"), (5, "insert")]
    assert {r._commit_snapshot_id for r in cl
            if r._change_type == "delete"} == {s3}
    assert {r._commit_snapshot_id for r in cl if r.k == 5} == {s4}

    # window covering ONLY the delete commit: retractions alone
    only_del = t.changelog(s2, s3).collect()
    assert sorted((r.k, r._change_type) for r in only_del) == [
        (2, "delete"), (4, "delete")]

    # window strictly BEFORE the delete: plain inserts, no raise
    # (the old gate rejected any delete-carrying table outright)
    assert sorted(r.k for r in t.changelog(s1, s2).collect()) == [4]

    # window strictly AFTER the delete: later insert only
    assert [(r.k, r._change_type) for r in t.changelog(s3, s4).collect()] \
        == [(5, "insert")]

    # the read path agrees with the changelog's net effect
    assert sorted(r.k for r in t.read().collect()) == [1, 3, 5]

    # EQUALITY deletes replay too: the retraction is the parent
    # state's matching row, stamped with the deleting commit
    t.delete_equality(spark.createDataFrame([(3,)], "k long"))
    s5 = t.metadata()["current-snapshot-id"]
    eq_cl = t.changelog(s4).collect()
    assert [(r.k, r.s, r._change_type, r._commit_snapshot_id)
            for r in eq_cl] == [(3, "c", "delete", s5)]
    # a tuple deleting an ALREADY-retracted row retracts nothing new
    t.delete_equality(spark.createDataFrame([(2,), (5,)], "k long"))
    s6 = t.metadata()["current-snapshot-id"]
    eq_cl2 = t.changelog(s5).collect()
    assert [(r.k, r._change_type) for r in eq_cl2] == [(5, "delete")]
    # full history now: 5 inserts + 2 pos-deletes + 2 eq-deletes
    full = t.changelog(None).collect()
    assert sorted((r.k, r._change_type) for r in full) == [
        (1, "insert"), (2, "delete"), (2, "insert"), (3, "delete"),
        (3, "insert"), (4, "delete"), (4, "insert"), (5, "delete"),
        (5, "insert")]
    assert sorted(r.k for r in t.read().collect()) == [1]
    # ... and a window that ends before the deletes still replays
    assert sorted(r.k for r in t.changelog(s3, s4).collect()) == [5]
    # a REPLACE in the window emits nothing (r11: the gate lifted —
    # rewrites are content-neutral; the superseded s6 eq-delete's
    # retraction still replays from its own era)
    t.rewrite_data_files(target_partitions=1)
    assert [(r.k, r._change_type)
            for r in t.changelog(s5).collect()] == [(5, "delete")]


def test_rollback_races_appender(spark, tmp_path):
    """Verdict-r9 #7: rollback_to's CAS path racing a live appender.
    Invariants for ANY interleaving: neither side errors (losers
    retry on fresh metadata), every append lands ATOMICALLY (its keys
    all present or all absent from main), the final read equals
    exactly the union of main-ancestry appends, rollback ORPHANS
    later commits but never deletes them (time travel still reaches
    every snapshot), sequence numbers stay unique, and the snapshot
    log records each re-point of main."""
    import threading
    import time as _time

    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "rbrace")
    seed = spark.createDataFrame([(i, "seed") for i in range(5)],
                                 "k long, s string")
    t = IcebergTable.create(spark, loc, seed.schema)
    t.append_dataframe(seed)
    s0 = t.metadata()["current-snapshot-id"]
    errs, appended = [], []

    def appender():
        try:
            h = IcebergTable(spark, loc)
            for i in range(6):
                keys = [100 + 10 * i, 101 + 10 * i]
                sid = h.append_dataframe(spark.createDataFrame(
                    [(k, f"a{i}") for k in keys], "k long, s string"))
                appended.append((sid, keys))
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    def roller():
        try:
            h = IcebergTable(spark, loc)
            for _ in range(2):
                _time.sleep(0.4)
                h.rollback_to(s0)
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    th = [threading.Thread(target=f) for f in (appender, roller)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs, errs
    assert len(appended) == 6

    # post-race commit must parent off whatever head survived
    final_sid = t.append_dataframe(spark.createDataFrame(
        [(999, "final")], "k long, s string"))

    md = t.metadata()
    snaps = {s["snapshot-id"]: s for s in md["snapshots"]}
    # rollback orphans, never deletes: every append snapshot exists
    assert {sid for sid, _ in appended} <= set(snaps)
    assert final_sid in snaps and s0 in snaps

    # main ancestry decides visibility — reconstruct expected content
    chain = set()
    node = md["current-snapshot-id"]
    while node is not None and node in snaps:
        chain.add(node)
        node = snaps[node].get("parent-snapshot-id")
    assert final_sid in chain and s0 in chain
    expected = set(range(5)) | {999}
    for sid, keys in appended:
        if sid in chain:
            expected |= set(keys)
    got = sorted(r.k for r in t.read().collect())
    assert got == sorted(expected), (got, sorted(expected))

    # sequence numbers stay unique across rollbacks (the counter
    # never rewinds), and the snapshot log recorded each re-point
    seqs = [s["sequence-number"] for s in snaps.values()]
    assert len(set(seqs)) == len(seqs)
    log_ids = [e["snapshot-id"] for e in md["snapshot-log"]]
    assert log_ids.count(s0) == 3  # its commit + two rollbacks

    # time travel still reaches an orphaned append when one exists
    orphans = [sid for sid, _ in appended if sid not in chain]
    if orphans:
        assert t.read(snapshot_id=orphans[-1]).count() > 0


def test_cherry_pick_races(spark, tmp_path):
    """Verdict-r10 #6: cherry_pick under concurrency. (a) Two
    concurrent picks of the SAME orphan: exactly one commits, the
    other refuses with the double-count guard — the guards re-run on
    FRESH metadata inside the commit retry (pre_check), so a racer
    cannot slip between the stale read and the CAS. (b) cherry_pick
    racing a live appender: both land, the chain stays linearizable,
    and the picked keys appear exactly once."""
    import threading

    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "cprace")
    seed = spark.createDataFrame([(0, "seed")], "k long, s string")
    t = IcebergTable.create(spark, loc, seed.schema)
    t.append_dataframe(seed)
    s_base = t.metadata()["current-snapshot-id"]
    t.append_dataframe(spark.createDataFrame(
        [(1, "orphan"), (2, "orphan")], "k long, s string"))
    s_orphan = t.metadata()["current-snapshot-id"]
    t.rollback_to(s_base)

    # (a) concurrent double-pick: one winner, one double-count refusal
    results, guard_refusals, errs = [], [], []

    def picker():
        try:
            h = IcebergTable(spark, loc)
            results.append(h.cherry_pick(s_orphan))
        except ValueError as e:
            if "double-count" in str(e):
                guard_refusals.append(e)
            else:  # pragma: no cover - failure detail
                errs.append(e)
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    th = [threading.Thread(target=picker) for _ in range(2)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs, errs
    assert len(results) == 1 and len(guard_refusals) == 1, (
        results, guard_refusals)
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 2]

    # (b) pick a second orphan while an appender hammers the head
    t2 = IcebergTable(spark, loc)
    t2.append_dataframe(spark.createDataFrame(
        [(5, "orphan2")], "k long, s string"))
    s_orphan2 = t2.metadata()["current-snapshot-id"]
    head_before = t2.metadata()["snapshots"]
    t2.rollback_to(results[0])
    picked2, errs2 = [], []

    def appender():
        try:
            h = IcebergTable(spark, loc)
            for i in range(4):
                h.append_dataframe(spark.createDataFrame(
                    [(100 + i, f"a{i}")], "k long, s string"))
        except Exception as e:  # pragma: no cover - failure detail
            errs2.append(e)

    def picker2():
        try:
            h = IcebergTable(spark, loc)
            picked2.append(h.cherry_pick(s_orphan2))
        except Exception as e:  # pragma: no cover - failure detail
            errs2.append(e)

    th = [threading.Thread(target=f) for f in (appender, picker2)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs2, errs2
    assert len(picked2) == 1
    got = sorted(r.k for r in t2.read().collect())
    assert got == [0, 1, 2, 5, 100, 101, 102, 103], got
    # linearizable chain: every main-ancestry parent resolves
    md = t2.metadata()
    snaps = {s["snapshot-id"]: s for s in md["snapshots"]}
    node = md["current-snapshot-id"]
    seen = set()
    while node is not None and node != -1:
        assert node in snaps and node not in seen
        seen.add(node)
        node = snaps[node].get("parent-snapshot-id")
    seqs = [s["sequence-number"] for s in md["snapshots"]]
    assert len(set(seqs)) == len(seqs)

    # (c) cherry_pick racing rollback_to: head moves under the pick.
    # Whatever interleaving wins, the chain stays linearizable, no
    # error classes beyond the documented guard refusals, and the
    # picked keys never appear twice.
    t3 = IcebergTable(spark, loc)
    base3 = t3.metadata()["current-snapshot-id"]
    t3.append_dataframe(spark.createDataFrame(
        [(7, "orphan3")], "k long, s string"))
    s_orphan3 = t3.metadata()["current-snapshot-id"]
    t3.rollback_to(base3)
    errs3, picked3 = [], []

    def roller():
        try:
            h = IcebergTable(spark, loc)
            h.rollback_to(base3)
        except Exception as e:  # pragma: no cover - failure detail
            errs3.append(e)

    def picker3():
        try:
            h = IcebergTable(spark, loc)
            picked3.append(h.cherry_pick(s_orphan3))
        except ValueError as e:
            if "double-count" not in str(e):  # pragma: no cover
                errs3.append(e)
        except Exception as e:  # pragma: no cover - failure detail
            errs3.append(e)

    th = [threading.Thread(target=f) for f in (roller, picker3)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs3, errs3
    md3 = t3.metadata()
    snaps3 = {s["snapshot-id"]: s for s in md3["snapshots"]}
    node = md3["current-snapshot-id"]
    seen3 = set()
    while node is not None and node != -1:
        assert node in snaps3 and node not in seen3
        seen3.add(node)
        node = snaps3[node].get("parent-snapshot-id")
    ks = [r.k for r in t3.read().collect()]
    assert len(ks) == len(set(ks))  # no double-counted keys
    # the pick either landed on the post-rollback head (k=7 visible
    # exactly once) or the rollback re-pointed main after it (k=7
    # reachable via the orphan; absent from main) — both legal
    assert ks.count(7) <= 1


def test_planner_inherits_manifest_sequence(spark, tmp_path):
    """Audit r10: v2 sequence-number INHERITANCE in the NATIVE
    planner — a manifest entry with a NULL sequence number (how
    genuine Iceberg writers record the committing manifest's own
    sequence) must inherit the manifest-list entry's sequence, not
    coerce to 0. With the coercion, an equality delete (seq 2) would
    stop applying to data committed at seq 1 (guard _del_seq >
    _data_seq needs the data seq REAL), silently resurrecting deleted
    rows. The r8 audit fixed this in the DSv2 stream reader; this
    pins the shared planner."""
    import json as _json

    from gobblin_spark.operators import avro_container as ACF
    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "inherit")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df)                             # seq 1
    t.delete_equality(spark.createDataFrame([(2,)], "k long"))  # seq 2
    assert sorted(r.k for r in t.read().collect()) == [1]

    # fabricate genuine-Iceberg form: null out the DATA manifest
    # entries' explicit sequence numbers (inheritance-from-515 form)
    md = t.metadata()
    snap = next(s for s in md["snapshots"]
                if s["snapshot-id"] == md["current-snapshot-id"])
    _, manifests = ACF.read_container(t._read_bytes(snap["manifest-list"]))
    data_manifest = next(m for m in manifests
                         if m.get("content", 0) == 0
                         and (m.get("sequence_number") or 0) == 1)
    mpath = data_manifest["manifest_path"]
    schema, entries = ACF.read_container(t._read_bytes(mpath))
    for e in entries:
        e["sequence_number"] = None
    t._write_bytes(mpath, ACF.write_container_bytes(entries, schema))

    # planner must stamp the manifest's seq (1), and the delete (2)
    # must still erase k=2 — under BOTH planning modes
    ent = [e for e in IcebergTable(spark, loc)._entries()
           if e["content"] == 0]
    assert ent and {e["sequence_number"] for e in ent} == {1}
    assert sorted(r.k for r in t.read().collect()) == [1]
    td = IcebergTable(spark, loc, planning="distributed")
    assert sorted(r.k for r in td.read().collect()) == [1]


def test_planner_rejects_null_seq_on_existing_entry(spark, tmp_path):
    """r10 ADVICE: the spec restricts sequence-number inheritance to
    ADDED (status=1) entries. An EXISTING entry with a null sequence
    (non-compliant writer) must NOT inherit the carrying manifest's
    newer sequence — that would flip delete-applicability and
    changelog-window membership for the file. The planner raises
    loudly instead."""
    import pytest as _pytest

    from gobblin_spark.operators import avro_container as ACF
    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "inherit_existing")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df)  # manifest at seq 1

    md = t.metadata()
    snap = next(s for s in md["snapshots"]
                if s["snapshot-id"] == md["current-snapshot-id"])
    _, manifests = ACF.read_container(t._read_bytes(snap["manifest-list"]))
    data_manifest = next(m for m in manifests if m.get("content", 0) == 0)
    assert (data_manifest.get("sequence_number") or 0) == 1
    mpath = data_manifest["manifest_path"]
    schema, entries = ACF.read_container(t._read_bytes(mpath))
    for e in entries:
        e["status"] = 0          # EXISTING
        e["sequence_number"] = None
    t._write_bytes(mpath, ACF.write_container_bytes(entries, schema))

    with _pytest.raises(ValueError, match="inheritance applies to ADDED"):
        IcebergTable(spark, loc)._entries()
    # a v1-era manifest (carried seq 0) keeps working: inherit == keep-0
    # there, so the guard must not fire — covered by every pre-v2 test
    # that round-trips status-0 entries with seq 0 manifests.


def test_changelog_eq_run_shares_one_reconstruction(spark, tmp_path):
    """Verdict-r10 #3: a RUN of consecutive equality-delete commits
    shares ONE read(base-parent) — commit i anti-joins the earlier
    tuple sets out of the shared frame instead of re-reconstructing
    the table per commit. Overlapping tuples never re-retract, and a
    pos-delete between eq commits breaks the run (two
    reconstructions, each at its own base)."""
    from pyspark.sql import functions as F

    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "cleqrun")
    t = IcebergTable.create(
        spark, loc,
        spark.createDataFrame([(1, "a")], "k long, s string").schema)
    t.append_dataframe(spark.createDataFrame(
        [(k, f"v{k}") for k in range(1, 7)], "k long, s string"))
    d = []
    t.delete_equality(spark.createDataFrame([(2,), (3,)], "k long"))
    d.append(t.metadata()["current-snapshot-id"])
    # overlaps the first commit's k=3 — already retracted, must not
    # re-retract (net-effect property)
    t.delete_equality(spark.createDataFrame([(3,), (4,)], "k long"))
    d.append(t.metadata()["current-snapshot-id"])
    t.delete_equality(spark.createDataFrame([(5,)], "k long"))
    d.append(t.metadata()["current-snapshot-id"])

    reads = []
    real_read = IcebergTable.read

    def counting_read(self, *a, **kw):
        reads.append(kw.get("snapshot_id"))
        return real_read(self, *a, **kw)

    t2 = IcebergTable(spark, loc)
    t2.read = counting_read.__get__(t2)
    cl = t2.changelog(None)
    rows = sorted((r.k, r._change_type, r._commit_snapshot_id)
                  for r in cl.collect() if r._change_type == "delete")
    assert rows == [(2, "delete", d[0]), (3, "delete", d[0]),
                    (4, "delete", d[1]), (5, "delete", d[2])]
    # the whole 3-commit run reconstructed the base state ONCE
    assert len(reads) == 1, reads
    assert sorted(r.k for r in t.read().collect()) == [1, 6]
    # the shared frame was persisted and is released by the NEXT call
    # (r11 review: the cache must outlive the lazy return value, not
    # the session)
    assert len(t2._changelog_cached) == 1
    assert t2.release_changelog_cache() == 1
    assert not t2._changelog_cached

    # the run cap bounds the per-plan join chain: cap 2 → the same 3
    # consecutive commits split into 2 chunks → 2 reconstructions,
    # identical rows (chunk 2's base is chunk 1's last delete)
    import gobblin_spark.sinks.iceberg as _I
    old_cap = _I._EQ_RUN_CAP
    _I._EQ_RUN_CAP = 2
    try:
        reads.clear()
        t4 = IcebergTable(spark, loc)
        t4.read = counting_read.__get__(t4)
        rows_cap = sorted(
            (r.k, r._change_type, r._commit_snapshot_id)
            for r in t4.changelog(None).collect()
            if r._change_type == "delete")
        assert rows_cap == rows
        assert len(reads) == 2, reads
    finally:
        _I._EQ_RUN_CAP = old_cap

    # a pos-delete between eq commits breaks the run
    pos = (t.read(apply_deletes=False)
           .select(F.col("_metadata.file_path").alias("file_path"),
                   F.col("_metadata.row_index").alias("pos"), "k")
           .filter(F.col("k") == 6).drop("k"))
    t.delete_positions(pos)
    t.delete_equality(spark.createDataFrame([(1,)], "k long"))
    d4 = t.metadata()["current-snapshot-id"]
    reads.clear()
    t3 = IcebergTable(spark, loc)
    t3.read = counting_read.__get__(t3)
    rows2 = sorted((r.k, r._change_type) for r in t3.changelog(None)
                   .collect() if r._change_type == "delete")
    assert rows2 == [(1, "delete"), (2, "delete"), (3, "delete"),
                     (4, "delete"), (5, "delete"), (6, "delete")]
    # two runs now: (d1,d2,d3) at the append base + (d4) after the
    # pos-delete — exactly two reconstructions
    assert len(reads) == 2, reads
    assert t.read().count() == 0


def test_changelog_replace_snapshot_in_window(spark, tmp_path):
    """r11 (verdict-r10 missing #1): a 'replace' snapshot
    (rewrite_data_files) inside the changelog window is CONTENT-
    NEUTRAL — it emits no change rows, and the commits it superseded
    still replay: inserts from pre-rewrite appends come back from the
    pre-replace manifests (era split), a pos-delete's retraction
    resolves its referenced files in the delete's own era, and the
    window covering only the replace is empty."""
    from pyspark.sql import functions as F

    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "clreplace")
    t = IcebergTable.create(
        spark, loc,
        spark.createDataFrame([(1, "a")], "k long, s string").schema)
    t.append_dataframe(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, s string"))
    s1 = t.metadata()["current-snapshot-id"]
    t.append_dataframe(spark.createDataFrame(
        [(3, "c")], "k long, s string"))
    s2 = t.metadata()["current-snapshot-id"]
    pos = (t.read(apply_deletes=False)
           .select(F.col("_metadata.file_path").alias("file_path"),
                   F.col("_metadata.row_index").alias("pos"), "k")
           .filter(F.col("k") == 2).drop("k"))
    t.delete_positions(pos)
    s3 = t.metadata()["current-snapshot-id"]
    t.rewrite_data_files(target_partitions=1)
    s4 = t.metadata()["current-snapshot-id"]
    t.append_dataframe(spark.createDataFrame(
        [(9, "z")], "k long, s string"))
    s5 = t.metadata()["current-snapshot-id"]
    assert sorted(r.k for r in t.read().collect()) == [1, 3, 9]

    rows = sorted((r.k, r._change_type, r._commit_snapshot_id)
                  for r in t.changelog(None).collect())
    assert [(r[0], r[1]) for r in rows] == [
        (1, "insert"), (2, "delete"), (2, "insert"),
        (3, "insert"), (9, "insert")]
    stamps = {(k, c): sid for k, c, sid in rows}
    assert stamps[(1, "insert")] == s1
    assert stamps[(2, "insert")] == s1
    assert stamps[(3, "insert")] == s2
    assert stamps[(2, "delete")] == s3
    assert stamps[(9, "insert")] == s5
    assert s4 not in {sid for _, _, sid in rows}  # replace emits nothing

    # window covering ONLY the replace: empty frame, same schema
    assert t.changelog(s3, s4).count() == 0
    # window straddling the replace from the delete side
    got = sorted((r.k, r._change_type)
                 for r in t.changelog(s2, s5).collect())
    assert got == [(2, "delete"), (9, "insert")]
    # two consecutive rewrites: still nothing emitted between them
    t.rewrite_data_files(target_partitions=2)
    t.rewrite_data_files(target_partitions=1)
    assert t.changelog(s5).count() == 0
    got2 = sorted((r.k, r._change_type)
                  for r in t.changelog(s3).collect())
    assert got2 == [(9, "insert")]


def test_changelog_replace_identity_partitioned(spark, tmp_path):
    """Era planning × partition re-attach: a rewrite inside the window
    of an IDENTITY-partitioned table — the pre-replace era's insert
    scan and the pos-delete retraction scan must re-attach partition
    values from the pre-replace files' hive paths (NULL and encoded
    values included), while the rewrite itself emits nothing."""
    from pyspark.sql import functions as F

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame(
        [(1, "us"), (2, "de"), (3, None), (4, "not set+x y")],
        "k long, country string")
    loc = str(tmp_path / "clreplident")
    t = IcebergTable.create(spark, loc, df.schema,
                            partition_cols=["country"])
    t.append_dataframe(df)
    s1 = t.metadata()["current-snapshot-id"]
    pos = (t.read(apply_deletes=False)
           .select(F.col("_metadata.file_path").alias("file_path"),
                   F.col("_metadata.row_index").alias("pos"), "k")
           .filter(F.col("k").isin(2, 4)).drop("k"))
    t.delete_positions(pos)
    s2 = t.metadata()["current-snapshot-id"]
    t.rewrite_data_files(target_partitions=1)
    s3 = t.metadata()["current-snapshot-id"]
    t.append_dataframe(spark.createDataFrame(
        [(9, "fr")], "k long, country string"))
    s4 = t.metadata()["current-snapshot-id"]
    assert sorted(r.k for r in t.read().collect()) == [1, 3, 9]

    rows = sorted(((r.k, r.country, r._change_type,
                    r._commit_snapshot_id))
                  for r in t.changelog(None).collect())
    assert rows == sorted([
        (1, "us", "insert", s1), (2, "de", "insert", s1),
        (3, None, "insert", s1), (4, "not set+x y", "insert", s1),
        (2, "de", "delete", s2), (4, "not set+x y", "delete", s2),
        (9, "fr", "insert", s4)]), rows
    assert s3 not in {r[3] for r in rows}
    # pruned read over the post-rewrite layout still works
    t.last_scan = None
    got = sorted(r.k for r in t.read(
        prune_filters=[("country", "=", "fr")]).collect()
        if r.country == "fr")
    assert got == [9]


def test_changelog_overwrite_snapshot(spark, tmp_path):
    """r11: a genuine OVERWRITE snapshot (copy-on-write engines'
    row-level ops / INSERT OVERWRITE) in the changelog window emits
    retractions for its removed file set and inserts for its added
    files. Full-table overwrite (carry_prior=False) retracts
    everything live at the parent; a PARTIAL overwrite fabricated in
    genuine-Iceberg form (kept file carried as an EXISTING entry with
    its ORIGINAL sequence) retracts only the replaced file's rows."""
    from gobblin_spark.operators import avro_container as ACF
    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "clover")
    t = IcebergTable.create(
        spark, loc,
        spark.createDataFrame([(1, "a")], "k long, s string").schema)
    t.append_dataframe(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, s string"))
    s1 = t.metadata()["current-snapshot-id"]

    # INSERT OVERWRITE: replace the whole table content
    sub = str(tmp_path / "ow1")
    spark.createDataFrame([(10, "x"), (11, "y")],
                          "k long, s string").coalesce(1) \
        .write.mode("overwrite").parquet(sub)
    s2 = t._commit_files(t._list_committed_files(sub), content=0,
                         equality_ids=None, operation="overwrite",
                         carry_prior=False)
    assert sorted(r.k for r in t.read().collect()) == [10, 11]
    rows = sorted((r.k, r._change_type, r._commit_snapshot_id)
                  for r in t.changelog(None).collect())
    assert rows == [
        (1, "delete", s2), (1, "insert", s1),
        (2, "delete", s2), (2, "insert", s1),
        (10, "insert", s2), (11, "insert", s2)]
    # window strictly before the overwrite: plain inserts
    assert sorted((r.k, r._change_type)
                  for r in t.changelog(None, s1).collect()) == \
        [(1, "insert"), (2, "insert")]
    # window covering only the overwrite: its diff alone
    assert sorted((r.k, r._change_type)
                  for r in t.changelog(s1, s2).collect()) == \
        [(1, "delete"), (2, "delete"),
         (10, "insert"), (11, "insert")]

    # PARTIAL overwrite in genuine-Iceberg form: keep the k=10/11
    # file, replace a newly-appended file — the kept file must ride
    # as an EXISTING entry with its ORIGINAL sequence number
    t.append_dataframe(spark.createDataFrame(
        [(20, "m")], "k long, s string"))
    s3 = t.metadata()["current-snapshot-id"]
    kept_seq = {e["info"].path: e["sequence_number"]
                for e in t._entries()}
    sub2 = str(tmp_path / "ow2")
    spark.createDataFrame([(30, "n")], "k long, s string").coalesce(1) \
        .write.mode("overwrite").parquet(sub2)
    keep_infos = [e["info"] for e in t._entries()
                  if e["sequence_number"] != 0
                  and sorted(r.k for r in spark.read.parquet(
                      e["info"].path).collect()) == [10, 11]]
    assert len(keep_infos) == 1
    s4 = t._commit_files(
        t._list_committed_files(sub2) + keep_infos, content=0,
        equality_ids=None, operation="overwrite", carry_prior=False)
    # patch the kept file's entry back to EXISTING + original seq
    md = t.metadata()
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == s4)
    _, manifests = ACF.read_container(t._read_bytes(
        snap["manifest-list"]))
    mpath = manifests[0]["manifest_path"]
    schema, entries = ACF.read_container(t._read_bytes(mpath))
    for e in entries:
        if e["data_file"]["file_path"] == keep_infos[0].path:
            e["status"] = 0  # EXISTING
            e["sequence_number"] = kept_seq[keep_infos[0].path]
            e["file_sequence_number"] = kept_seq[keep_infos[0].path]
    t._write_bytes(mpath, ACF.write_container_bytes(entries, schema))

    assert sorted(r.k for r in t.read().collect()) == [10, 11, 30]
    got = sorted((r.k, r._change_type)
                 for r in t.changelog(s3).collect())
    # only the replaced file (k=20) retracts; kept rows emit nothing
    assert got == [(20, "delete"), (30, "insert")], got


def test_split_eras_unit_contract():
    """Direct unit pin of the shared era splitter (changelog + DSv2
    stream reader both consume it): boundary exclusivity, no-splitter
    passthrough, head-splitter tail suppression, consecutive
    splitters, and the retained-non-chain expiry rule."""
    import pytest

    from gobblin_spark.sinks.iceberg import _split_eras

    def snap(sid, seq, parent=None, op="append"):
        return {"snapshot-id": sid, "sequence-number": seq,
                "parent-snapshot-id": parent,
                "summary": {"operation": op}}

    s1, s2, s3, s4 = (snap(101, 1), snap(102, 2, 101, "replace"),
                      snap(103, 3, 102), snap(104, 4, 103, "replace"))
    snaps = {s["snapshot-id"]: s for s in (s1, s2, s3, s4)}
    chain = [s1, s2, s3, s4]

    # no splitters: one era at the final walk
    assert _split_eras([], 0, 4, snaps, chain, 104, "t") == [(0, 104, 4)]
    # one mid-window splitter: era before it walks its PARENT and ends
    # at the parent's seq (the splitter's own seq is excluded — it is
    # the strict lower bound of the next era)
    assert _split_eras([s2], 0, 4, snaps, chain, 104, "t") == \
        [(0, 101, 1), (2, 104, 4)]
    # splitter AT the window head: no trailing era beyond it
    assert _split_eras([s4], 0, 4, snaps, chain, 104, "t") == \
        [(0, 103, 3)]
    # both splitters
    assert _split_eras([s2, s4], 0, 4, snaps, chain, 104, "t") == \
        [(0, 101, 1), (2, 103, 3)]
    # CONSECUTIVE splitters (parent == the earlier splitter): the era
    # between them is empty and must not appear
    s3b = snap(103, 3, 102, "replace")
    snaps2 = {**snaps, 103: s3b}
    assert _split_eras([s2, s3b], 0, 4, snaps2,
                       [s1, s2, s3b, s4], 104, "t") == \
        [(0, 101, 1), (3, 104, 4)]

    # expired parent: fatal only when a gap sequence could hold a
    # CHAIN commit; a gap fully accounted by retained NON-chain
    # snapshots (branch commits / rollback orphans) is safe
    branch = snap(900, 1)  # seq 1 consumed by a retained branch commit
    s2x = snap(102, 2, 999, "replace")  # parent 999 expired
    snaps3 = {900: branch, 102: s2x, 103: s3, 104: s4}
    chain3 = [s2x, s3, s4]
    assert _split_eras([s2x], 0, 4, snaps3, chain3, 104, "t") == \
        [(2, 104, 4)]
    # same shape but the gap seq belongs to NO retained snapshot:
    # the lost era could contain chain commits — fatal
    snaps4 = {102: s2x, 103: s3, 104: s4}
    with pytest.raises(ValueError, match="parent is expired"):
        _split_eras([s2x], 0, 4, snaps4, chain3, 104, "t")


def test_changelog_overwrite_over_delete_history(spark, tmp_path):
    """r12 (verdict-r11 missing #2): an overwrite over a
    delete-carrying history replays — its retractions are the
    PARENT-LIVE rows of the removed files, with the parent's eq/pos
    delete residue applied to the restricted scan. Rows an earlier
    delete already killed retract at THAT commit only; re-retracting
    them at the overwrite would drive net multiplicities negative
    (this exact shape raised NotImplementedError before r12)."""
    from pyspark.sql import functions as F

    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "clowdel")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, s string")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df.coalesce(1))
    s1 = t.metadata()["current-snapshot-id"]
    t.delete_equality(spark.createDataFrame([(2,)], "k long"))
    s_eq = t.metadata()["current-snapshot-id"]
    pos = (t.read(apply_deletes=False)
           .select(F.col("_metadata.file_path").alias("file_path"),
                   F.col("_metadata.row_index").alias("pos"), "k")
           .filter(F.col("k") == 3).drop("k"))
    t.delete_positions(pos)
    s_pos = t.metadata()["current-snapshot-id"]
    assert sorted(r.k for r in t.read().collect()) == [1, 4]

    # INSERT OVERWRITE over the MoR residue: parent-live rows are
    # exactly {1, 4} — 2 and 3 were already retracted by their deletes
    sub = str(tmp_path / "owdel_new")
    spark.createDataFrame([(10, "x")], "k long, s string").coalesce(1) \
        .write.mode("overwrite").parquet(sub)
    s_ow = t._commit_files(t._list_committed_files(sub), content=0,
                           equality_ids=None, operation="overwrite",
                           carry_prior=False)
    assert sorted(r.k for r in t.read().collect()) == [10]

    rows = sorted((r.k, r._change_type, r._commit_snapshot_id)
                  for r in t.changelog(None).collect())
    assert rows == [
        (1, "delete", s_ow), (1, "insert", s1),
        (2, "delete", s_eq), (2, "insert", s1),
        (3, "delete", s_pos), (3, "insert", s1),
        (4, "delete", s_ow), (4, "insert", s1),
        (10, "insert", s_ow)], rows
    # window covering only the overwrite: just its own diff
    assert sorted((r.k, r._change_type)
                  for r in t.changelog(s_pos, s_ow).collect()) == \
        [(1, "delete"), (4, "delete"), (10, "insert")]


def test_changelog_overwrite_residue_seq_mismatch_fails_loudly(
        spark, tmp_path, monkeypatch):
    """r13 (ADVICE): in the overwrite-retraction residue path, the
    per-file sequence lookup join is a plain left join — a path-form
    mismatch left _data_seq NULL, the sequence guards evaluated to
    NULL, and the delete anti-joins silently SKIPPED (already-dead
    rows re-retracted). The insert path fails loudly on the same
    mismatch; the residue path must too."""
    import pytest
    from pyspark.sql import functions as F

    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "clowseq")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, s string")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df.coalesce(1))
    s1 = t.metadata()["current-snapshot-id"]
    removed_paths = {f.path for f in t.data_files(s1)}
    t.delete_equality(spark.createDataFrame([(2,)], "k long"))
    s_eq = t.metadata()["current-snapshot-id"]
    sub = str(tmp_path / "clowseq_new")
    spark.createDataFrame([(10, "x")], "k long, s string").coalesce(1) \
        .write.mode("overwrite").parquet(sub)
    s_ow = t._commit_files(t._list_committed_files(sub), content=0,
                           equality_ids=None, operation="overwrite",
                           carry_prior=False)

    # healthy: the eq-killed row 2 retracts at s_eq, NOT at the
    # overwrite (windowed to the overwrite alone: only 1 and 3 retract)
    assert sorted((r.k, r._change_type)
                  for r in t.changelog(s_eq, s_ow).collect()) == \
        [(1, "delete"), (3, "delete"), (10, "insert")]

    # cripple the URI normalization for the REMOVED files only (the
    # window's own added file stays intact, so the insert-side stamp
    # guard cannot fire first)
    real = IcebergTable._path_uri_form

    def mangled(self, p):
        u = real(self, p)
        if p in removed_paths or u in {real(self, q)
                                       for q in removed_paths}:
            return u + "#mangled"
        return u

    monkeypatch.setattr(IcebergTable, "_path_uri_form", mangled)
    with pytest.raises(Exception, match="sequence lookup"):
        t.changelog(s_eq, s_ow).collect()


def test_changelog_mor_overwrite_adds_delete_files(spark, tmp_path):
    """r12: a MoR-style overwrite (RowDelta — commits delete files,
    removes nothing, operation='overwrite') replays its added eq/pos
    delete files as ordinary retractions anchored at the parent and
    stamped with the overwrite snapshot; the degenerate hybrid shape
    (removes EVERY data file and adds a delete file) replays as
    removed-path retractions alone (r13 — raised through r12)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from gobblin_spark.sinks import iceberg as ice
    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "clmorow")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, s string")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df.coalesce(1))
    s1 = t.metadata()["current-snapshot-id"]

    # eq-delete file committed under operation='overwrite' (the
    # snapshot shape Iceberg's RowDelta produces for MoR MERGE)
    md = t.metadata()
    cur = next(s for s in md["schemas"]
               if s["schema-id"] == md["current-schema-id"])
    by_name = {f["name"]: f["id"] for f in cur["fields"]}
    cur_struct = ice._spark_struct(cur)
    keys = ice._conform_with_ids(
        spark.createDataFrame([(2,)], "k long"),
        T.StructType([f for f in cur_struct.fields if f.name == "k"]))
    sub = f"{loc}/data/mor-eq"
    keys.write.mode("overwrite").parquet(sub)
    s_eq = t._commit_files(t._list_delete_parquet(sub), content=2,
                           equality_ids=[by_name["k"]],
                           operation="overwrite")
    # pos-delete file committed under operation='overwrite'
    pos = (t.read(apply_deletes=False)
           .select(F.col("_metadata.file_path").alias("file_path"),
                   F.col("_metadata.row_index").alias("pos"), "k")
           .filter(F.col("k") == 3).drop("k"))
    sub2 = f"{loc}/data/mor-pos"
    pos.write.mode("overwrite").parquet(sub2)
    s_pos = t._commit_files(t._list_delete_parquet(sub2), content=1,
                            equality_ids=None, operation="overwrite")
    assert sorted(r.k for r in t.read().collect()) == [1]

    rows = sorted((r.k, r._change_type, r._commit_snapshot_id)
                  for r in t.changelog(None).collect())
    assert rows == [
        (1, "insert", s1),
        (2, "delete", s_eq), (2, "insert", s1),
        (3, "delete", s_pos), (3, "insert", s1)], rows

    # hybrid COW+MoR degenerate shape: one commit removing EVERY data
    # file and adding an eq-delete file (kept set empty). r13: this
    # replays — the removed path retracts the parent-live rows; the
    # added eq-delete has nothing strictly-earlier left to kill
    # (raised NotImplementedError through r12)
    sub3 = f"{loc}/data/hybrid-eq"
    keys.write.mode("overwrite").parquet(sub3)
    s_h = t._commit_files(t._list_delete_parquet(sub3), content=2,
                          equality_ids=[by_name["k"]],
                          operation="overwrite", carry_prior=False)
    assert t.read().count() == 0
    rows = sorted((r.k, r._change_type, r._commit_snapshot_id)
                  for r in t.changelog(None).collect())
    assert rows == [
        (1, "delete", s_h), (1, "insert", s1),
        (2, "delete", s_eq), (2, "insert", s1),
        (3, "delete", s_pos), (3, "insert", s1)], rows


def _graft_head_delete_into(t, target_sid):
    """Manifest surgery: merge the CURRENT HEAD's (a delete commit's)
    delete manifest into *target_sid*'s snapshot — sequences re-stamped
    to the target's — and erase the head commit from metadata. Produces
    the on-disk shape of a single commit that carries the target's
    files AND the delete files (what RowDelta/hybrid engines would
    write atomically)."""
    import uuid as _uuid

    from gobblin_spark.operators import avro_container as ACF

    md = t.metadata()
    s_del = md["current-snapshot-id"]
    snapT = next(s for s in md["snapshots"]
                 if s["snapshot-id"] == target_sid)
    snapD = next(s for s in md["snapshots"] if s["snapshot-id"] == s_del)
    # genuine-shape guard (audit r13): the head being merged must be
    # the target's DIRECT child. Grafting across intervening commits
    # would restamp the delete BELOW sequences it was created seeing —
    # a history no engine can write (deletes apply to data with
    # seq <= theirs, so the restamped file would stop covering the
    # intervening commits' files it originally addressed).
    assert snapD.get("parent-snapshot-id") == target_sid, \
        "graft target must be the head commit's parent"
    t_seq = snapT["sequence-number"]
    _, d_list = ACF.read_container(t._read_bytes(snapD["manifest-list"]))
    # the head may carry OLDER delete manifests too — graft only the
    # one the head commit itself added
    del_entry = next(m for m in d_list if m.get("content") in (1, 2)
                     and m.get("added_snapshot_id") == s_del)
    mschema, ments = ACF.read_container(
        t._read_bytes(del_entry["manifest_path"]))
    for e in ments:
        e["sequence_number"] = t_seq
        e["file_sequence_number"] = t_seq
        e["snapshot_id"] = target_sid
    t._write_bytes(del_entry["manifest_path"],
                   ACF.write_container_bytes(ments, mschema))
    del_entry["sequence_number"] = t_seq
    del_entry["min_sequence_number"] = t_seq
    del_entry["added_snapshot_id"] = target_sid
    lschema, t_list = ACF.read_container(
        t._read_bytes(snapT["manifest-list"]))
    new_list = (f"{t.location}/metadata/"
                f"snap-merged-{_uuid.uuid4().hex}.avro")
    t._write_bytes(new_list, ACF.write_container_bytes(
        list(t_list) + [del_entry], lschema))
    snapT["manifest-list"] = new_list
    md["snapshots"] = [s for s in md["snapshots"]
                       if s["snapshot-id"] != s_del]
    md["snapshot-log"] = [e for e in md.get("snapshot-log", [])
                          if e.get("snapshot-id") != s_del]
    md["current-snapshot-id"] = target_sid
    md["last-sequence-number"] = t_seq
    for r in md.get("refs", {}).values():
        if r.get("snapshot-id") == s_del:
            r["snapshot-id"] = target_sid
    t._commit_metadata(md)


def _carry_parent_delete_manifests(t, target_sid):
    """A genuine partial overwrite carries the parent's still-
    applicable DELETE manifests forward (they keep their original
    sequences); ``_commit_files(carry_prior=False)`` drops every prior
    manifest, which would silently resurrect residue-killed rows in
    the kept files. Re-attach them to *target_sid*'s manifest list."""
    import uuid as _uuid

    from gobblin_spark.operators import avro_container as ACF

    md = t.metadata()
    snapT = next(s for s in md["snapshots"]
                 if s["snapshot-id"] == target_sid)
    parent = snapT.get("parent-snapshot-id")
    snapP = next(s for s in md["snapshots"] if s["snapshot-id"] == parent)
    lschema, p_list = ACF.read_container(
        t._read_bytes(snapP["manifest-list"]))
    dels = [m for m in p_list if m.get("content") in (1, 2)]
    if not dels:
        return
    _, t_list = ACF.read_container(t._read_bytes(snapT["manifest-list"]))
    # genuine-shape guard (audit r13): re-attaching a manifest the
    # target already carries would double-apply its deletes
    have = {m["manifest_path"] for m in t_list}
    assert not have & {m["manifest_path"] for m in dels}, \
        "target already carries one of the parent's delete manifests"
    new_list = (f"{t.location}/metadata/"
                f"snap-carried-{_uuid.uuid4().hex}.avro")
    t._write_bytes(new_list, ACF.write_container_bytes(
        list(t_list) + dels, lschema))
    snapT["manifest-list"] = new_list
    t._commit_metadata(md)


def test_changelog_hybrid_overwrite_split_replay(spark, tmp_path):
    """r13 (verdict-r12 #4): a HYBRID overwrite — ONE commit that
    removes data files, keeps others, adds a data file AND adds an
    eq-delete file — replays via the file-disjoint split: removed
    files' parent-live rows retract wholesale; the eq tuples kill only
    rows of the KEPT parent files. An eq tuple matching a row inside a
    REMOVED file must NOT double-retract it, and the parent's earlier
    delete residue must not re-retract through either path (this exact
    shape raised NotImplementedError through r12)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from gobblin_spark.operators import avro_container as ACF
    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "clhybrid")
    t = IcebergTable.create(
        spark, loc,
        spark.createDataFrame([(1, "a")], "k long, s string").schema)
    t.append_dataframe(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, s string").coalesce(1))   # file A
    s1 = t.metadata()["current-snapshot-id"]
    t.append_dataframe(spark.createDataFrame(
        [(3, "c"), (4, "d")], "k long, s string").coalesce(1))   # file B
    s2 = t.metadata()["current-snapshot-id"]
    # parent residue: k=1 already dead before the hybrid commit
    t.delete_equality(spark.createDataFrame([(1,)], "k long"))
    s_d = t.metadata()["current-snapshot-id"]

    # hybrid commit H: remove file A, KEEP file B (EXISTING entry with
    # its original sequence), add data file C (k=10), and carry an
    # eq-delete for {2, 3} in the SAME snapshot (grafted below):
    # 2 lives in the REMOVED file (must retract once, via the removed
    # path); 3 lives in the KEPT file (must retract once, via the eq
    # path)
    kept_seq = {e["info"].path: e["sequence_number"]
                for e in t._entries() if e["content"] == 0}
    keep_infos = [e["info"] for e in t._entries()
                  if e["content"] == 0
                  and sorted(r.k for r in spark.read.parquet(
                      e["info"].path).collect()) == [3, 4]]
    assert len(keep_infos) == 1
    sub = str(tmp_path / "clhybrid_new")
    spark.createDataFrame([(10, "x")], "k long, s string").coalesce(1) \
        .write.mode("overwrite").parquet(sub)
    s_h = t._commit_files(
        t._list_committed_files(sub) + keep_infos, content=0,
        equality_ids=None, operation="overwrite", carry_prior=False)
    md = t.metadata()
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == s_h)
    _, manifests = ACF.read_container(t._read_bytes(
        snap["manifest-list"]))
    mpath = manifests[0]["manifest_path"]
    schema, entries = ACF.read_container(t._read_bytes(mpath))
    for e in entries:
        if e["data_file"]["file_path"] == keep_infos[0].path:
            e["status"] = 0  # EXISTING
            e["sequence_number"] = kept_seq[keep_infos[0].path]
            e["file_sequence_number"] = kept_seq[keep_infos[0].path]
    t._write_bytes(mpath, ACF.write_container_bytes(entries, schema))
    _carry_parent_delete_manifests(t, s_h)
    t.delete_equality(spark.createDataFrame([(2,), (3,)], "k long"))
    _graft_head_delete_into(t, s_h)

    # state: 4 survives in the kept file, 10 from the added file;
    # 2's file was removed, 3 eq-killed, 1 dead since s_d
    assert sorted(r.k for r in t.read().collect()) == [4, 10]
    rows = sorted((r.k, r._change_type, r._commit_snapshot_id)
                  for r in t.changelog(None).collect())
    assert rows == [
        (1, "delete", s_d), (1, "insert", s1),
        (2, "delete", s_h), (2, "insert", s1),
        (3, "delete", s_h), (3, "insert", s2),
        (4, "insert", s2),
        (10, "insert", s_h)], rows
    # net-effect law holds through the hybrid
    cl = t.changelog(None).collect()
    net = (Counter((r.k, r.s) for r in cl if r._change_type == "insert")
           - Counter((r.k, r.s) for r in cl if r._change_type == "delete"))
    assert net == Counter((r.k, r.s) for r in t.read().collect())
    # windowed: the hybrid alone retracts exactly {2 (removed-path),
    # 3 (kept-file eq)} and inserts 10 — 1 must not re-retract
    assert sorted((r.k, r._change_type)
                  for r in t.changelog(s_d, s_h).collect()) == \
        [(2, "delete"), (3, "delete"), (10, "insert")]


def test_changelog_mor_overwrite_same_commit_pos_delete(spark, tmp_path):
    """r12 review #2: a MoR overwrite whose ADDED pos-delete addresses
    a data file added IN THE SAME COMMIT (Flink's upsert writer emits
    exactly this for duplicate keys within one checkpoint — the spec
    applies pos-deletes to data seq <= delete seq, INCLUSIVE) must
    retract that row. Resolving references against the parent's live
    set silently dropped it: 3 inserts, no delete, net diverging from
    read(). Fabricated by committing the data and delete files
    separately, then merging the delete manifest into the overwrite
    snapshot (sequence fields re-stamped) — the on-disk shape a real
    RowDelta produces."""
    from pyspark.sql import functions as F

    from gobblin_spark.operators import avro_container as ACF
    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "clmorsame")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    t = IcebergTable.create(spark, loc, base.schema)
    t.append_dataframe(base.coalesce(1))
    s1 = t.metadata()["current-snapshot-id"]

    # the overwrite's data file F (snapshot O, seq 2)
    sub = str(tmp_path / "morsame_new")
    spark.createDataFrame([(10, "x"), (11, "y"), (12, "z")],
                          "k long, s string").coalesce(1) \
        .write.mode("overwrite").parquet(sub)
    s_ow = t._commit_files(t._list_committed_files(sub), content=0,
                           equality_ids=None, operation="overwrite")
    # a pos-delete addressing F's row 0 (k=10), committed separately
    # (seq 3) then surgically merged into the overwrite snapshot
    pos = (t.read(apply_deletes=False)
           .select(F.col("_metadata.file_path").alias("file_path"),
                   F.col("_metadata.row_index").alias("pos"), "k")
           .filter(F.col("k") == 10).drop("k"))
    t.delete_positions(pos)
    md = t.metadata()
    s_del = md["current-snapshot-id"]
    snapO = next(s for s in md["snapshots"] if s["snapshot-id"] == s_ow)
    snapD = next(s for s in md["snapshots"] if s["snapshot-id"] == s_del)
    o_seq = snapO["sequence-number"]
    # find the delete manifest in D's list, re-stamp its sequences to
    # the overwrite's, and graft it onto O's manifest list
    _, d_list = ACF.read_container(t._read_bytes(snapD["manifest-list"]))
    del_entry = next(m for m in d_list if m.get("content") == 1)
    mschema, ments = ACF.read_container(
        t._read_bytes(del_entry["manifest_path"]))
    for e in ments:
        e["sequence_number"] = o_seq
        e["file_sequence_number"] = o_seq
        e["snapshot_id"] = s_ow
    t._write_bytes(del_entry["manifest_path"],
                   ACF.write_container_bytes(ments, mschema))
    del_entry["sequence_number"] = o_seq
    del_entry["min_sequence_number"] = o_seq
    del_entry["added_snapshot_id"] = s_ow
    lschema, o_list = ACF.read_container(
        t._read_bytes(snapO["manifest-list"]))
    import uuid as _uuid
    new_list = f"{loc}/metadata/snap-merged-{_uuid.uuid4().hex}.avro"
    t._write_bytes(new_list, ACF.write_container_bytes(
        list(o_list) + [del_entry], lschema))
    snapO["manifest-list"] = new_list
    md["snapshots"] = [s for s in md["snapshots"]
                       if s["snapshot-id"] != s_del]
    md["snapshot-log"] = [e for e in md.get("snapshot-log", [])
                          if e.get("snapshot-id") != s_del]
    md["current-snapshot-id"] = s_ow
    md["last-sequence-number"] = o_seq
    for r in md.get("refs", {}).values():
        if r.get("snapshot-id") == s_del:
            r["snapshot-id"] = s_ow
    t._commit_metadata(md)

    # read(): k=10 dead via the same-commit pos-delete
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 11, 12]
    rows = sorted((r.k, r._change_type, r._commit_snapshot_id)
                  for r in t.changelog(None).collect())
    assert rows == [
        (1, "insert", s1), (2, "insert", s1),
        (10, "delete", s_ow), (10, "insert", s_ow),
        (11, "insert", s_ow), (12, "insert", s_ow)], rows


def test_changelog_pos_delete_of_dead_position_no_reretract(
        spark, tmp_path):
    """audit r13 (REAL pre-existing bug): the pos-delete retraction
    scan ignored EARLIER delete residue — a position delete addressing
    an already-dead row (eq-killed earlier, or pos-deleted twice)
    re-emitted the retraction, driving net multiplicities negative.
    The scan is now the rows live just BEFORE the delete commit, so
    the dead position is a no-op — spec semantics and Iceberg's own
    changelog behavior."""
    from collections import Counter

    from pyspark.sql import functions as F

    from gobblin_spark.sinks.iceberg import IcebergTable

    # flavor 1: pos-delete re-targets an eq-killed row
    loc = str(tmp_path / "posdead1")
    t = IcebergTable.create(
        spark, loc,
        spark.createDataFrame([(1, "a")], "k long, s string").schema)
    t.append_dataframe(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, s string").coalesce(1))
    s1 = t.metadata()["current-snapshot-id"]
    t.delete_equality(spark.createDataFrame([(1,)], "k long"))
    s_eq = t.metadata()["current-snapshot-id"]
    pos = (t.read(apply_deletes=False)
           .select(F.col("_metadata.file_path").alias("file_path"),
                   F.col("_metadata.row_index").alias("pos"), "k")
           .filter(F.col("k") == 1).drop("k"))
    t.delete_positions(pos)
    s_pos = t.metadata()["current-snapshot-id"]
    rows = sorted((r.k, r._change_type, r._commit_snapshot_id)
                  for r in t.changelog(None).collect())
    # exactly ONE retraction for k=1, stamped at the EQ commit (the
    # one that actually killed it); the pos commit is a no-op
    assert rows == [(1, "delete", s_eq), (1, "insert", s1),
                    (2, "insert", s1)], rows
    # windowed: the pos commit alone emits nothing
    assert t.changelog(s_eq, s_pos).count() == 0

    # flavor 2: the same position pos-deleted twice
    loc2 = str(tmp_path / "posdead2")
    t2 = IcebergTable.create(
        spark, loc2,
        spark.createDataFrame([(1, "a")], "k long, s string").schema)
    t2.append_dataframe(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, s string").coalesce(1))
    s1b = t2.metadata()["current-snapshot-id"]
    pos2 = (t2.read(apply_deletes=False)
            .select(F.col("_metadata.file_path").alias("file_path"),
                    F.col("_metadata.row_index").alias("pos"), "k")
            .filter(F.col("k") == 1).drop("k"))
    t2.delete_positions(pos2)
    s_p1 = t2.metadata()["current-snapshot-id"]
    t2.delete_positions(pos2)
    s_p2 = t2.metadata()["current-snapshot-id"]
    rows2 = sorted((r.k, r._change_type, r._commit_snapshot_id)
                   for r in t2.changelog(None).collect())
    assert rows2 == [(1, "delete", s_p1), (1, "insert", s1b),
                     (2, "insert", s1b)], rows2
    assert t2.changelog(s_p1, s_p2).count() == 0
    # net law on both
    for tt in (t, t2):
        cl = tt.changelog(None).collect()
        net = (Counter((r.k, r.s) for r in cl
                       if r._change_type == "insert")
               - Counter((r.k, r.s) for r in cl
                         if r._change_type == "delete"))
        assert net == Counter((r.k, r.s) for r in tt.read().collect())


def test_changelog_same_commit_eq_and_pos_same_row_once(spark, tmp_path):
    """audit r13: ONE MoR commit carrying BOTH an eq-delete and a
    pos-delete that target the SAME row (an upsert writer hedging
    predicate + position) must retract it ONCE — the eq path emits it
    (anchored at the parent) and the pos path defers to same-commit eq
    siblings; a row only the pos-delete targets still retracts."""
    from collections import Counter

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from gobblin_spark.sinks import iceberg as ice
    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "clmixed")
    t = IcebergTable.create(
        spark, loc,
        spark.createDataFrame([(1, "a")], "k long, s string").schema)
    t.append_dataframe(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, s string").coalesce(1))
    s1 = t.metadata()["current-snapshot-id"]

    # target commit: a MoR overwrite adding an eq-delete for k=2 ...
    md = t.metadata()
    cur = next(s for s in md["schemas"]
               if s["schema-id"] == md["current-schema-id"])
    by_name = {f["name"]: f["id"] for f in cur["fields"]}
    keys = ice._conform_with_ids(
        spark.createDataFrame([(2,)], "k long"),
        T.StructType([f for f in ice._spark_struct(cur).fields
                      if f.name == "k"]))
    sub = f"{loc}/data/mixed-eq"
    keys.write.mode("overwrite").parquet(sub)
    s_m = t._commit_files(t._list_delete_parquet(sub), content=2,
                          equality_ids=[by_name["k"]],
                          operation="overwrite")
    # ... and (grafted into the SAME snapshot) a pos-delete addressing
    # the POSITIONS of k=2 AND k=3
    pos = (t.read(apply_deletes=False)
           .select(F.col("_metadata.file_path").alias("file_path"),
                   F.col("_metadata.row_index").alias("pos"), "k")
           .filter(F.col("k").isin([2, 3])).drop("k"))
    t.delete_positions(pos)
    _graft_head_delete_into(t, s_m)

    assert sorted(r.k for r in t.read().collect()) == [1]
    rows = sorted((r.k, r._change_type, r._commit_snapshot_id)
                  for r in t.changelog(None).collect())
    assert rows == [
        (1, "insert", s1),
        (2, "delete", s_m), (2, "insert", s1),   # ONCE, not twice
        (3, "delete", s_m), (3, "insert", s1)], rows
    cl = t.changelog(None).collect()
    net = (Counter((r.k, r.s) for r in cl if r._change_type == "insert")
           - Counter((r.k, r.s) for r in cl if r._change_type == "delete"))
    assert net == Counter((r.k, r.s) for r in t.read().collect())


def test_changelog_same_commit_multi_file_pos_deletes_once(
        spark, tmp_path):
    """round-14 queue #2 (pulled into r13): ONE commit carrying TWO
    position-delete FILES whose reference sets overlap — the same
    (data file, pos) addressed by both, plus positions only one of
    them holds, across TWO data files. The same-seq path tiebreak
    must emit the shared position exactly once while NOT suppressing
    either file's exclusive positions, in every data file referenced."""
    from collections import Counter

    from pyspark.sql import functions as F

    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "clmfpos")
    t = IcebergTable.create(
        spark, loc,
        spark.createDataFrame([(1, "a")], "k long, s string").schema)
    t.append_dataframe(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")],
        "k long, s string").coalesce(1))                     # data file 1
    s1 = t.metadata()["current-snapshot-id"]
    t.append_dataframe(spark.createDataFrame(
        [(5, "e"), (6, "f")], "k long, s string").coalesce(1))  # file 2
    s2 = t.metadata()["current-snapshot-id"]

    pos = (t.read(apply_deletes=False)
           .select(F.col("_metadata.file_path").alias("file_path"),
                   F.col("_metadata.row_index").alias("pos"), "k"))
    pos_a = pos.filter(F.col("k").isin([2, 5])).drop("k").coalesce(1)
    pos_b = pos.filter(F.col("k").isin([2, 3, 6])).drop("k").coalesce(1)
    s_d = t.delete_positions(pos_a)     # delete file A: {f1:2, f2:5}
    t.delete_positions(pos_b)           # delete file B: {f1:2,3, f2:6}
    _graft_head_delete_into(t, s_d)     # ONE commit, TWO pos files

    assert sorted(r.k for r in t.read().collect()) == [1, 4]
    cl = t.changelog(None).collect()
    mult = Counter((r.k, r._change_type) for r in cl)
    # the shared position (k=2) retracts ONCE; each file's exclusive
    # positions (3 from B; 5 from A; 6 from B) retract once each
    assert mult == Counter({(1, "insert"): 1, (2, "insert"): 1,
                            (3, "insert"): 1, (4, "insert"): 1,
                            (5, "insert"): 1, (6, "insert"): 1,
                            (2, "delete"): 1, (3, "delete"): 1,
                            (5, "delete"): 1, (6, "delete"): 1}), mult
    stamps = {r.k: r._commit_snapshot_id for r in cl
              if r._change_type == "delete"}
    assert stamps == {2: s_d, 3: s_d, 5: s_d, 6: s_d}
    inserts = {r.k: r._commit_snapshot_id for r in cl
               if r._change_type == "insert"}
    assert inserts == {1: s1, 2: s1, 3: s1, 4: s1, 5: s2, 6: s2}
    # windowed net-effect law
    net = (Counter((r.k, r.s) for r in cl if r._change_type == "insert")
           - Counter((r.k, r.s) for r in cl if r._change_type == "delete"))
    assert net == Counter((r.k, r.s) for r in t.read().collect())


def test_changelog_from_must_be_ancestor_of_head(spark, tmp_path):
    """audit r13 (verdict-r12 #1: changelog(ref=)/rollback edges): a
    window base that is NOT on the head's lineage — a rolled-back
    main's abandoned commit, a diverged branch head, or an expired
    snapshot — must raise, naming the cause. The sequence-bounded walk
    would otherwise silently emit inserts WITHOUT the retractions of
    the abandoned lineage (s2's rows are in state(from) but never
    retract)."""
    import pytest

    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "clanc")
    t = IcebergTable.create(
        spark, loc,
        spark.createDataFrame([(1, "a")], "k long, s string").schema)
    t.append_dataframe(spark.createDataFrame([(1, "a")],
                                             "k long, s string"))
    s1 = t.metadata()["current-snapshot-id"]
    t.append_dataframe(spark.createDataFrame([(2, "b")],
                                             "k long, s string"))
    s2 = t.metadata()["current-snapshot-id"]
    t.rollback_to(s1)
    t.append_dataframe(spark.createDataFrame([(3, "c")],
                                             "k long, s string"))
    s3 = t.metadata()["current-snapshot-id"]

    # s2 is orphaned: time travel still reaches it, but a changelog
    # window based at it is meaningless against the new lineage
    assert sorted(r.k for r in t.read(snapshot_id=s2).collect()) == [1, 2]
    with pytest.raises(ValueError, match="not an ancestor"):
        t.changelog(s2)
    # the healthy window still replays
    assert sorted((r.k, r._change_type)
                  for r in t.changelog(s1, s3).collect()) == \
        [(3, "insert")]

    # same guard through ref=: a branch forked BEFORE main advanced —
    # a main head that is not the branch's ancestor must refuse
    t.create_branch("wap", from_snapshot_id=s1)
    with pytest.raises(ValueError, match="not an ancestor"):
        t.changelog(s3, ref="wap")  # s3 is main-only, not on the branch
    # the documented WAP diff (fork point -> branch head) still works
    assert t.changelog(s1, ref="wap").count() == 0

    # expired / never-existed snapshot ids name themselves
    with pytest.raises(ValueError, match="not a retained snapshot"):
        t.changelog(123456789)
    with pytest.raises(ValueError, match="not a retained snapshot"):
        t.changelog(None, 987654321)


def test_changelog_net_effect_random_history(spark, tmp_path):
    """Property: for ANY mix of append / position-delete /
    equality-delete / rewrite (replace) commits, the changelog's net
    effect reconstructs the table — multiset(inserts) −
    multiset(retractions) == multiset(read()), with rewrites emitting
    NOTHING (content-neutral) — and so does every single commit's
    stamped slice against its parent. Seeded random histories; catches
    retraction over/under-emission for interleavings the pointwise
    tests don't enumerate."""
    import random
    from collections import Counter

    from pyspark.sql import functions as F

    from gobblin_spark.sinks.iceberg import IcebergTable

    import os as _os

    # pinned default; sweep other seeds with GOBBLIN_NET_SEED=n pytest
    rng = random.Random(int(_os.environ.get("GOBBLIN_NET_SEED", "1007")))
    for trial in range(2):
        loc = str(tmp_path / f"net{trial}")
        t = IcebergTable.create(
            spark, loc,
            spark.createDataFrame([(1, "x")], "k long, s string").schema)
        next_k = 0
        live = set()
        # keys whose rows are physically present in live data files
        # but DEAD (eq/pos-killed): pos-deletes sometimes re-target
        # them — the retraction must be a no-op (audit r13). Rewrites
        # and full overwrites drop the dead rows physically; a hybrid
        # keeps only the ghosts of its kept files.
        ghost = set()
        # first commit is always an append so deletes have targets
        for step in range(7):
            op = ("append" if step == 0 or not live
                  else rng.choice(
                      ["append", "pos_del", "eq_del", "rewrite",
                       "overwrite", "mor_del", "hybrid"]))
            if rng.random() < 0.3:
                # metadata-only schema churn BETWEEN commits: rename
                # s away and back (two schema versions, same final
                # name) — flips _needs_id_resolution and makes every
                # later read/changelog resolve columns by field-id
                t.rename_column("s", "s_tmp")
                t.rename_column("s_tmp", "s")
            if op == "rewrite":
                t.rewrite_data_files(target_partitions=1)
                ghost = set()
            elif op == "overwrite":
                # INSERT OVERWRITE over whatever residue the history
                # accumulated (r12: parent-live retraction — deletes
                # already applied must not re-retract at the overwrite)
                from gobblin_spark.sinks import iceberg as ice
                ks = [next_k + i for i in range(rng.randint(1, 2))]
                next_k += len(ks)
                sub = str(tmp_path / f"net{trial}_ow{step}")
                md0 = t.metadata()
                cur0 = next(s for s in md0["schemas"]
                            if s["schema-id"] == md0["current-schema-id"])
                # genuine engines embed parquet field-ids; the rename
                # churn above forces id-resolution on later reads
                ice._conform_with_ids(
                    spark.createDataFrame(
                        [(k, f"v{k}") for k in ks],
                        "k long, s string"),
                    ice._spark_struct(cur0)).coalesce(1) \
                    .write.mode("overwrite").parquet(sub)
                t._commit_files(
                    t._list_committed_files(sub), content=0,
                    equality_ids=None, operation="overwrite",
                    carry_prior=False)
                live = set(ks)
                ghost = set()
            elif op == "append":
                ks = [next_k + i for i in range(rng.randint(1, 3))]
                next_k += len(ks)
                t.append_dataframe(spark.createDataFrame(
                    [(k, f"v{k}") for k in ks], "k long, s string"))
                live |= set(ks)
            elif op == "hybrid":
                # ONE commit that removes some data files, keeps the
                # rest (EXISTING entries, original sequences), adds a
                # data file AND carries an eq-delete — the r13 hybrid
                # COW+MoR split replay (removed-path + kept-file eq
                # anchoring must stay disjoint for ANY interleaving)
                from gobblin_spark.operators import (
                    avro_container as ACF,
                )
                from gobblin_spark.sinks import iceberg as ice
                data_ents = [e for e in t._entries()
                             if e["content"] == 0]
                keys_of = {
                    e["info"].path: {
                        r.k for r in spark.read.parquet(
                            e["info"].path).collect()}
                    for e in data_ents}
                keep = [e for e in data_ents if rng.random() < 0.5]
                victims = rng.sample(sorted(live),
                                     rng.randint(1, min(2, len(live))))
                ks = [next_k + i for i in range(rng.randint(1, 2))]
                next_k += len(ks)
                md0 = t.metadata()
                cur0 = next(s for s in md0["schemas"]
                            if s["schema-id"] == md0["current-schema-id"])
                sub = str(tmp_path / f"net{trial}_hy{step}")
                ice._conform_with_ids(
                    spark.createDataFrame(
                        [(k, f"v{k}") for k in ks], "k long, s string"),
                    ice._spark_struct(cur0)).coalesce(1) \
                    .write.mode("overwrite").parquet(sub)
                kept_seq = {e["info"].path: e["sequence_number"]
                            for e in keep}
                s_h = t._commit_files(
                    t._list_committed_files(sub)
                    + [e["info"] for e in keep],
                    content=0, equality_ids=None,
                    operation="overwrite", carry_prior=False)
                md1 = t.metadata()
                snap = next(s for s in md1["snapshots"]
                            if s["snapshot-id"] == s_h)
                _, mans = ACF.read_container(
                    t._read_bytes(snap["manifest-list"]))
                mpath = mans[0]["manifest_path"]
                mschema, ments = ACF.read_container(
                    t._read_bytes(mpath))
                for e in ments:
                    p = e["data_file"]["file_path"]
                    if p in kept_seq:
                        e["status"] = 0  # EXISTING
                        e["sequence_number"] = kept_seq[p]
                        e["file_sequence_number"] = kept_seq[p]
                t._write_bytes(mpath,
                               ACF.write_container_bytes(ments, mschema))
                _carry_parent_delete_manifests(t, s_h)
                t.delete_equality(spark.createDataFrame(
                    [(k,) for k in victims], "k long"))
                _graft_head_delete_into(t, s_h)
                kept_keys = set()
                for e in keep:
                    kept_keys |= keys_of[e["info"].path]
                ghost = (ghost & kept_keys) | (live & kept_keys
                                              & set(victims))
                live = ((live & kept_keys) - set(victims)) | set(ks)
            elif op == "mor_del":
                # an eq-delete file committed under operation=
                # 'overwrite' — the MoR RowDelta snapshot shape (r12):
                # routed through the overwrite machinery instead of
                # the plain delete path, same retraction semantics
                from pyspark.sql import types as T

                from gobblin_spark.sinks import iceberg as ice
                victims = rng.sample(sorted(live),
                                     rng.randint(1, min(2, len(live))))
                md0 = t.metadata()
                cur0 = next(s for s in md0["schemas"]
                            if s["schema-id"] == md0["current-schema-id"])
                by_name0 = {f["name"]: f["id"] for f in cur0["fields"]}
                keys0 = ice._conform_with_ids(
                    spark.createDataFrame([(k,) for k in victims],
                                          "k long"),
                    T.StructType([f for f in ice._spark_struct(cur0)
                                  .fields if f.name == "k"]))
                sub0 = str(tmp_path / f"net{trial}_mor{step}")
                keys0.write.mode("overwrite").parquet(sub0)
                t._commit_files(t._list_delete_parquet(sub0), content=2,
                                equality_ids=[by_name0["k"]],
                                operation="overwrite")
                ghost |= set(victims)
                live -= set(victims)
            elif op == "pos_del":
                victims = rng.sample(sorted(live),
                                     rng.randint(1, min(2, len(live))))
                targets = list(victims)
                if ghost and rng.random() < 0.5:
                    # re-target an already-dead position: the
                    # retraction must NOT re-emit (audit r13)
                    targets.append(rng.choice(sorted(ghost)))
                pos = (t.read(apply_deletes=False)
                       .select(F.col("_metadata.file_path")
                               .alias("file_path"),
                               F.col("_metadata.row_index").alias("pos"),
                               "k")
                       .filter(F.col("k").isin(targets)).drop("k"))
                t.delete_positions(pos)
                ghost |= set(victims)
                live -= set(victims)
            else:
                victims = rng.sample(sorted(live),
                                     rng.randint(1, min(2, len(live))))
                t.delete_equality(spark.createDataFrame(
                    [(k,) for k in victims], "k long"))
                ghost |= set(victims)
                live -= set(victims)

        cl = t.changelog(None).collect()
        ins = Counter((r.k, r.s) for r in cl if r._change_type == "insert")
        dels = Counter((r.k, r.s) for r in cl if r._change_type == "delete")
        net = ins - dels
        got = Counter((r.k, r.s) for r in t.read().collect())
        assert net == got, (trial, net - got, got - net)
        assert {r.k for r in t.read().collect()} == live
        # no negative multiplicities: never retract more than inserted
        assert not (dels - ins), (trial, dels - ins)

        snaps_sorted = sorted(t.metadata()["snapshots"],
                              key=lambda s: s["sequence-number"])
        snaps_hist = [s["snapshot-id"] for s in snaps_sorted]
        states = {
            sid: Counter((r.k, r.s)
                         for r in t.read(snapshot_id=sid).collect())
            for sid in snaps_hist}
        # PER-COMMIT contract: each commit's rows are the change it
        # made, so a retraction stamped on the wrong commit fails here
        # even when the whole-window net above balances. Exactly:
        # state(p) + inserts_c == state(c) + deletes_c, which implies
        # inserts_c − deletes_c == state(c) − state(p)
        for s in snaps_sorted:
            c = s["snapshot-id"]
            before = states.get(s.get("parent-snapshot-id"), Counter())
            ins_c = Counter((r.k, r.s) for r in cl
                            if r._change_type == "insert"
                            and r._commit_snapshot_id == c)
            del_c = Counter((r.k, r.s) for r in cl
                            if r._change_type == "delete"
                            and r._commit_snapshot_id == c)
            assert ins_c - del_c == states[c] - before, (trial, c)
            assert before + ins_c == states[c] + del_c, (
                trial, c, s["summary"]["operation"],
                (before + ins_c) - (states[c] + del_c),
                (states[c] + del_c) - (before + ins_c))

        # WINDOWED net effect (r11): for random snapshot pairs a < b,
        # state(a) + inserts(a,b] − retractions(a,b] == state(b) —
        # the strongest era-interaction property: windows that start
        # or end mid-history, straddle rewrites, or cover only them
        pairs = [tuple(sorted(rng.sample(range(len(snaps_hist)), 2)))
                 for _ in range(3)]
        for i, j in set(pairs):
            a, b = snaps_hist[i], snaps_hist[j]
            wcl = t.changelog(a, b).collect()
            wins = Counter((r.k, r.s) for r in wcl
                           if r._change_type == "insert")
            wdel = Counter((r.k, r.s) for r in wcl
                           if r._change_type == "delete")
            lhs = states[a] + wins
            assert not (wdel - lhs), (trial, i, j, wdel - lhs)
            assert lhs - wdel == states[b], (
                trial, i, j, (lhs - wdel) - states[b],
                states[b] - (lhs - wdel))


def test_changelog_and_read_plan_without_spark_jobs(spark, tmp_path):
    """Building changelog() and read() over a table with position and
    equality deletes launches no Spark job before an action: every
    parquet read passes its schema (position deletes the spec's
    ``file_path string, pos long``), so none infers one."""
    from pyspark.sql import functions as F

    from gobblin_spark.sinks.iceberg import IcebergTable

    t = IcebergTable.create(
        spark, str(tmp_path / "nojobs"),
        spark.createDataFrame([(1, "a")], "k long, s string").schema)
    t.append_dataframe(spark.createDataFrame(
        [(k, f"v{k}") for k in range(8)], "k long, s string"))
    t.delete_positions(
        t.read(apply_deletes=False)
        .select(F.col("_metadata.file_path").alias("file_path"),
                F.col("_metadata.row_index").alias("pos"), "k")
        .filter(F.col("k") < 2).drop("k"))
    for k in (2, 3):  # a two-commit equality run: a persisted base
        t.delete_equality(spark.createDataFrame([(k,)], "k long"))

    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(None))
    t2 = IcebergTable(spark, t.location)
    cl, rd = t2.changelog(None), t2.read()
    assert set(tracker.getJobIdsForGroup(None)) == jobs
    assert sorted(r.k for r in rd.collect()) == [4, 5, 6, 7]
    assert sorted((r.k, r._change_type) for r in cl.collect()
                  if r._change_type == "delete") == [
        (0, "delete"), (1, "delete"), (2, "delete"), (3, "delete")]
    t2.release_changelog_cache()


def test_changelog_retractions_identity_partitioned(spark, tmp_path):
    """Retractions over an IDENTITY-partitioned table: the deleted
    rows' partition values re-attach from the hive path on the
    retraction scans (files drop the partition column), for both the
    position flavor (referenced-file scan) and the equality flavor
    (read(parent) semi-join), encoding hazards included."""
    from pyspark.sql import functions as F

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame(
        [(1, "us"), (2, "de"), (3, None), (4, "not set+x y")],
        "k long, country string")
    loc = str(tmp_path / "cldelident")
    t = IcebergTable.create(spark, loc, df.schema,
                            partition_cols=["country"])
    t.append_dataframe(df)
    pos = (t.read(apply_deletes=False)
           .select(F.col("_metadata.file_path").alias("file_path"),
                   F.col("_metadata.row_index").alias("pos"), "k")
           .filter(F.col("k").isin(2, 4)).drop("k"))
    t.delete_positions(pos)
    s_pos = t.metadata()["current-snapshot-id"]
    t.delete_equality(spark.createDataFrame([(3,)], "k long"))
    s_eq = t.metadata()["current-snapshot-id"]

    cl = t.changelog(None).collect()
    dels = sorted((r.k, r.country, r._commit_snapshot_id)
                  for r in cl if r._change_type == "delete")
    assert dels == [(2, "de", s_pos), (3, None, s_eq),
                    (4, "not set+x y", s_pos)]
    # inserts carry the same re-attached values
    ins = sorted((r.k, r.country) for r in cl
                 if r._change_type == "insert")
    assert ins == [(1, "us"), (2, "de"), (3, None), (4, "not set+x y")]
    assert sorted(r.k for r in t.read().collect()) == [1]


def test_changelog_eq_retractions_across_schema_evolution(spark,
                                                          tmp_path):
    """Equality retractions read the PARENT state, which may carry an
    older schema: a column renamed after the parent must map by
    field-id onto the head name, and a column added after the parent
    must null-fill — otherwise the retraction row misaligns or the
    select crashes."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    loc = str(tmp_path / "cleqevo")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df)
    # metadata-only evolution between the append and the delete:
    # rename s -> label, add a new column
    t.rename_column("s", "label")
    t.add_column("extra", T.LongType())
    t.delete_equality(spark.createDataFrame([(2,)], "k long"))
    s_del = t.metadata()["current-snapshot-id"]

    cl = t.changelog(None).collect()
    assert set(cl[0].asDict()) == {
        "k", "label", "extra", "_change_type", "_commit_snapshot_id"}
    dels = [r for r in cl if r._change_type == "delete"]
    assert [(r.k, r.label, r.extra, r._commit_snapshot_id)
            for r in dels] == [(2, "b", None, s_del)]
    ins = sorted((r.k, r.label, r.extra) for r in cl
                 if r._change_type == "insert")
    assert ins == [(1, "a", None), (2, "b", None)]
    assert sorted((r.k, r.label) for r in t.read().collect()) == [(1, "a")]


def test_changelog_eq_retraction_on_column_added_after_base(spark,
                                                            tmp_path):
    """advice r11: an equality delete whose TUPLE column was added
    (metadata-only) after the run's BASE snapshot joins against a
    typed null on the base side — the reconstructed base frame has no
    such column, so the old fallback referenced _prev.<current-name>
    and raised AnalysisException. Base rows hold null in the added
    column: a null tuple component matches them (eqNullSafe), a
    non-null component matches none."""
    from pyspark.sql import types as T

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    loc = str(tmp_path / "cleqaddedcol")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df)
    s_app = t.metadata()["current-snapshot-id"]
    # metadata-only: no data commit between the append and the delete,
    # so the delete's base snapshot carries the PRE-add schema
    t.add_column("tag", T.StringType())
    t.delete_equality(spark.createDataFrame(
        [(2, None), (1, "x")], "k long, tag string"))
    s_del = t.metadata()["current-snapshot-id"]

    # read-path agreement: (2,*) matched its null tag, (1,*) did not
    assert sorted((r.k, r.s, r.tag) for r in t.read().collect()) == [
        (1, "a", None)]
    cl = t.changelog(None).collect()
    assert sorted(
        (r.k, r.s, r.tag, r._change_type, r._commit_snapshot_id)
        for r in cl) == [
        (1, "a", None, "insert", s_app),
        (2, "b", None, "delete", s_del),
        (2, "b", None, "insert", s_app)]


def test_changelog_eq_retraction_rename_after_delete(spark, tmp_path):
    """r11 ADVICE probe (refuted, pinned): renaming an equality-id
    column AFTER the delete commit does NOT misresolve the delete
    parquet — any rename flips _needs_id_resolution, the delete file
    embeds parquet field-ids, and the id-carrying read schema resolves
    by id, so the file's old column name is irrelevant. A post-rename
    append makes head-name != file-name so name resolution WOULD
    null-fill and retract the wrong rows if it were in play."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, s string")
    loc = str(tmp_path / "clrenafter")
    t = IcebergTable.create(spark, loc, df.schema)
    t.append_dataframe(df)
    t.delete_equality(spark.createDataFrame([(2,)], "k long"))
    t.rename_column("k", "kk")        # rename AFTER the delete
    t.append_dataframe(spark.createDataFrame(
        [(9, "z")], "kk long, s string"))  # head schema now differs
    assert sorted(r.kk for r in t.read().collect()) == [1, 3, 9]
    cl = t.changelog(None)
    assert cl.columns[:2] == ["kk", "s"]
    rows = sorted((r.kk, r._change_type) for r in cl.collect())
    assert rows == [(1, "insert"), (2, "delete"), (2, "insert"),
                    (3, "insert"), (9, "insert")]


def test_release_changelog_cache_multi_table(spark, tmp_path):
    """verdict-r11 #7: the changelog eq-run cache is PER-TABLE state —
    building changelogs on two tables in one session must not leak or
    release frames across tables; the next changelog() on the SAME
    table (or an explicit release) frees exactly that table's frames,
    and release is idempotent."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    def mk(name):
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "k long, s string")
        t = IcebergTable.create(spark, str(tmp_path / name), df.schema)
        t.append_dataframe(df)
        # two consecutive eq-delete commits => one shared run with
        # n_sub > 1 => the base frame is persisted
        t.delete_equality(spark.createDataFrame([(1,)], "k long"))
        t.delete_equality(spark.createDataFrame([(2,)], "k long"))
        return t

    ta, tb = mk("cl_ta"), mk("cl_tb")
    cla = ta.changelog(None)
    assert len(ta._changelog_cached) == 1
    cla.count()  # materialize while the run base is cached
    clb = tb.changelog(None)
    assert len(tb._changelog_cached) == 1
    # building B's changelog neither released nor adopted A's frame
    assert len(ta._changelog_cached) == 1
    assert ta._changelog_cached[0] is not tb._changelog_cached[0]
    clb.count()

    base_a, base_b = ta._changelog_cached[0], tb._changelog_cached[0]
    assert base_a.storageLevel.useMemory  # actually persisted
    assert base_b.storageLevel.useMemory
    # the NEXT changelog() on A releases A's previous frame and caches
    # a fresh one (the release-at-next-call contract); B's frame must
    # survive A's internal release untouched
    ta.changelog(None).count()
    assert len(ta._changelog_cached) == 1
    assert tb._changelog_cached[0].storageLevel.useMemory
    # explicit release on both; idempotent; nothing left persisted
    # (storageLevel lookup is PLAN-based, so only after every
    # same-plan frame is released can absence be asserted)
    assert ta.release_changelog_cache() == 1
    assert tb.release_changelog_cache() == 1
    assert tb.release_changelog_cache() == 0
    assert ta._changelog_cached == [] and tb._changelog_cached == []
    assert not base_a.storageLevel.useMemory
    assert not base_b.storageLevel.useMemory


def test_cherry_pick_recovers_orphaned_append(spark, tmp_path):
    """cherry_pick re-applies an append a rollback orphaned — the
    rollback story's recovery verb. Guards pin: non-append snapshots
    refuse, double-picks refuse (files already live), and
    identity-partitioned files keep their partition values."""
    import pytest

    from gobblin_spark.sinks.iceberg import IcebergTable

    loc = str(tmp_path / "cherry")
    df = spark.createDataFrame(
        [(1, "us"), (2, "de")], "k long, country string")
    t = IcebergTable.create(spark, loc, df.schema,
                            partition_cols=["country"])
    t.append_dataframe(df)
    s1 = t.metadata()["current-snapshot-id"]
    t.append_dataframe(spark.createDataFrame(
        [(3, "us"), (4, "fr")], "k long, country string"))
    s2 = t.metadata()["current-snapshot-id"]

    t.rollback_to(s1)  # orphans s2
    assert sorted(r.k for r in t.read().collect()) == [1, 2]

    s3 = t.cherry_pick(s2)
    got = sorted((r.k, r.country) for r in t.read().collect())
    assert got == [(1, "us"), (2, "de"), (3, "us"), (4, "fr")]
    md = t.metadata()
    snap3 = next(s for s in md["snapshots"] if s["snapshot-id"] == s3)
    assert snap3["summary"]["cherry-picked-from"] == str(s2)
    # partition pruning still works on the re-applied files
    assert sorted(r.k for r in t.read(
        prune_filters=[("country", "==", "fr")]).collect()) == [4]

    # double-pick: the files are live now
    with pytest.raises(ValueError, match="already live"):
        t.cherry_pick(s2)
    # non-append snapshots refuse
    t.delete_equality(spark.createDataFrame([(4,)], "k long"))
    s_del = t.metadata()["current-snapshot-id"]
    with pytest.raises(ValueError, match="append snapshots only"):
        t.cherry_pick(s_del)
    with pytest.raises(ValueError, match="not in table history"):
        t.cherry_pick(123456789)
    # history stays linearizable: unique sequence numbers
    seqs = [s["sequence-number"] for s in t.metadata()["snapshots"]]
    assert len(set(seqs)) == len(seqs)


def test_append_dataframe_groups_matches_sequential_appends(
        spark, sf_dir, tmp_path):
    """append_dataframe_groups (r14): one write job, one snapshot per
    group in order — history, per-snapshot visibility, time travel and
    changelog stamping must be exactly what sequential appends give."""
    region = files.load_table(spark, sf_dir, "region")
    grouped = region.withColumn("_g", F.col("r_regionkey") % 2)

    t = I.IcebergTable.create(spark, str(tmp_path / "grp"), region.schema)
    snaps = t.append_dataframe_groups(grouped, "_g", [0, 1])
    assert len(snaps) == 2
    assert [s["snapshot-id"] for s in t.snapshots()] == snaps
    # per-snapshot visibility: snapshot 1 = group 0 rows only
    g0 = region.filter(F.col("r_regionkey") % 2 == 0)
    assert t.read(snapshot_id=snaps[0]).count() == g0.count()
    assert sorted(map(tuple, t.read(snapshot_id=snaps[0]).collect())) == \
        sorted(map(tuple, g0.collect()))
    assert t.read().count() == region.count()
    # the group column never reaches the table
    assert t.read().columns == region.columns
    # changelog stamps each group's rows with its own commit
    cl = t.changelog(None)
    by_snap = {r["_commit_snapshot_id"]: r["n"] for r in
               cl.groupBy("_commit_snapshot_id").agg(
                   F.count(F.lit(1)).alias("n")).collect()}
    assert by_snap[snaps[0]] == g0.count()
    assert by_snap[snaps[1]] == region.count() - g0.count()
    # partitioned tables refuse (hive layout per partition needed)
    tp = I.IcebergTable.create(
        spark, str(tmp_path / "grp_part"), region.schema,
        partition_spec=[("r_regionkey", "identity")])
    try:
        tp.append_dataframe_groups(grouped, "_g", [0, 1])
        raise AssertionError("partitioned table must refuse groups")
    except ValueError:
        pass


def test_empty_changelog_keeps_schema_and_has_no_rows(spark, tmp_path):
    """Both early exits of ``changelog`` — a table with no snapshot
    yet, and a window that ends where it starts — return the one empty
    frame: the table schema plus the two change columns, 0 rows."""
    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(1, "a")], "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "clempty"), df.schema)
    want = [("k", "bigint"), ("s", "string"), ("_change_type", "string"),
            ("_commit_snapshot_id", "bigint")]
    fresh = t.changelog(None)
    assert fresh.dtypes == want and fresh.count() == 0
    t.append_dataframe(df)
    s1 = t.metadata()["current-snapshot-id"]
    empty = t.changelog(s1, to_snapshot_id=s1)
    assert empty.dtypes == want and empty.count() == 0
    assert t.changelog(None).count() == 1


def test_position_delete_files_read_in_one_scan(spark, tmp_path):
    """Four position-delete commits plan ONE multi-path delete-file scan
    (each row's commit sequence joined from a broadcast path lookup),
    not one scan per file: the read is the data scan plus that one."""
    import re

    from pyspark.sql import functions as F

    from gobblin_spark.sinks.iceberg import IcebergTable

    df = spark.createDataFrame([(k, f"v{k}") for k in range(8)],
                               "k long, s string")
    t = IcebergTable.create(spark, str(tmp_path / "posdel4"), df.schema)
    t.append_dataframe(df.coalesce(1))
    for k in range(4):
        t.delete_positions(
            t.read(apply_deletes=False)
            .select(F.col("_metadata.file_path").alias("file_path"),
                    F.col("_metadata.row_index").alias("pos"), "k")
            .filter(F.col("k") == k).drop("k"))
    rd = t.read()
    plan = rd._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"FileScan parquet", plan)) == 2
    assert sorted(r.k for r in rd.collect()) == [4, 5, 6, 7]
