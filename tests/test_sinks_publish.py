"""Sink + publish protocol tests (reference analogs:
gobblin-core/src/test/java/.../publisher/BaseDataPublisherTest.java —
staging→final move + metadata; JobCommitPolicy semantics from
gobblin-core-base/.../extractor/JobCommitPolicy.java:35)."""

import os

import pytest
from pyspark.sql import Row

from gobblin_spark.operators import quality
from gobblin_spark.sinks import publish as P
from gobblin_spark.sinks import writers as W
from gobblin_spark.sources.files import load_table


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"
    )


def test_write_data_stats(spark, lineitem, tmp_path):
    out = str(tmp_path / "plain")
    res = W.write_data(lineitem, out, fmt="parquet")
    assert res.files >= 1
    assert res.bytes_written > 0
    assert spark.read.parquet(out).count() == lineitem.count()


def test_time_partitioned_layout_and_roundtrip(spark, lineitem, tmp_path):
    out = str(tmp_path / "bytime")
    res = W.write_time_partitioned(lineitem, out, "l_shipdate", "month")
    assert res.partitions == ["year", "month"]
    years = [d for d in os.listdir(out) if d.startswith("year=")]
    assert years, "expected year= partition dirs"
    back = spark.read.parquet(out)
    assert back.count() == lineitem.count()
    # partition pruning survives the layout: one year only
    y = int(years[0].split("=")[1])
    pruned = back.filter(back.year == y)
    assert 0 < pruned.count() <= lineitem.count()


def test_write_audit_publish_green(spark, lineitem, tmp_path):
    final = str(tmp_path / "final_ok")
    n = lineitem.count()
    report = P.write_audit_publish(
        lineitem,
        final,
        spark,
        policies=[lambda df: quality.row_count_policy(n, df.count())],
    )
    assert report.committed and report.published and not report.aborted
    assert P.is_published(spark, final)
    assert spark.read.parquet(final).count() == n
    # staging dir cleaned up
    assert not [d for d in os.listdir(final) if d.startswith("_staging-")]


def test_write_audit_publish_red_aborts(spark, lineitem, tmp_path):
    final = str(tmp_path / "final_bad")
    report = P.write_audit_publish(
        lineitem,
        final,
        spark,
        policies=[lambda df: quality.row_count_policy(df.count() + 1, df.count())],
    )
    assert not report.committed and report.aborted
    assert not P.is_published(spark, final)
    # nothing visible beyond the (empty) final dir
    leftover = [d for d in os.listdir(final)] if os.path.exists(final) else []
    assert not [d for d in leftover if not d.startswith("_staging-")] or not leftover


def _staged_pair(spark, lineitem, tmp_path, tag):
    good = P.stage(lineitem.limit(10), str(tmp_path / f"{tag}_good"), name="good")
    bad = P.stage(lineitem.limit(5), str(tmp_path / f"{tag}_bad"), name="bad")
    good.audits.append(quality.TaskPolicyResult("always", True))
    bad.audits.append(quality.TaskPolicyResult("always", False))
    return good, bad


def test_commit_full_success_aborts_all(spark, lineitem, tmp_path):
    good, bad = _staged_pair(spark, lineitem, tmp_path, "full")
    report = P.commit([good, bad], spark, P.JobCommitPolicy.COMMIT_ON_FULL_SUCCESS)
    assert set(report.aborted) == {"good", "bad"} and not report.published
    assert not P.is_published(spark, good.final_dir)


def test_commit_successful_tasks_publishes_green_only(spark, lineitem, tmp_path):
    good, bad = _staged_pair(spark, lineitem, tmp_path, "succ")
    report = P.commit([good, bad], spark, P.JobCommitPolicy.COMMIT_SUCCESSFUL_TASKS)
    assert report.published == ["good"] and report.aborted == ["bad"]
    assert P.is_published(spark, good.final_dir)
    assert not P.is_published(spark, bad.final_dir)
    assert spark.read.parquet(good.final_dir).count() == 10


def test_commit_partial_publishes_everything(spark, lineitem, tmp_path):
    good, bad = _staged_pair(spark, lineitem, tmp_path, "part")
    report = P.commit([good, bad], spark, P.JobCommitPolicy.COMMIT_ON_PARTIAL_SUCCESS)
    assert set(report.published) == {"good", "bad"} and not report.aborted
    assert P.is_published(spark, bad.final_dir)


def test_publish_merges_into_existing_partitions(spark, tmp_path):
    """TimePartitionedDataPublisher: second publish merges new partition
    dirs into final without clobbering existing ones."""
    final = str(tmp_path / "merged")
    df1 = spark.createDataFrame([Row(k=1, p="a")], "k long, p string")
    df2 = spark.createDataFrame([Row(k=2, p="b"), Row(k=3, p="a")], "k long, p string")
    P.write_audit_publish(df1, final, spark, partition_by=["p"])
    P.write_audit_publish(df2, final, spark, partition_by=["p"])
    back = spark.read.parquet(final)
    assert back.count() == 3
    assert {r.p for r in back.select("p").distinct().collect()} == {"a", "b"}


def test_schema_partition_column(spark):
    df = spark.createDataFrame([Row(a=1)], "a long")
    out = W.with_schema_partition(df)
    vals = out.select("schema_id").distinct().collect()
    assert len(vals) == 1 and len(vals[0].schema_id) == 8


# -- round-6 review fixes ---------------------------------------------


def test_staging_dir_is_true_sibling(tmp_path):
    s = P.staging_dir_for("/a/b/out", "tok")
    assert s == "/a/b/_staging-out-tok"  # beside final, not inside


def test_staging_dir_degenerate_bases():
    """Advice-r7: root-level and scheme-only final dirs have no usable
    sibling — staging must stay on the same filesystem (never
    CWD-relative, never a different bucket)."""
    # root-level dir: keep the root separator
    assert P.staging_dir_for("/data", "tok") == "/_staging-data-tok"
    # bucket root: a 'sibling' would be a DIFFERENT bucket — stage
    # inside instead
    assert (P.staging_dir_for("s3://bucket", "tok")
            == "s3://bucket/_staging-bucket-tok")
    assert (P.staging_dir_for("s3://bucket/", "tok")
            == "s3://bucket/_staging-bucket-tok")
    # normal bucket-relative path keeps the sibling layout
    assert (P.staging_dir_for("s3://bucket/a/out", "tok")
            == "s3://bucket/a/_staging-out-tok")
    assert (P.staging_dir_for("hdfs://nn:8020/out", "tok")
            == "hdfs://nn:8020/_staging-out-tok")
    # relative path: sibling in CWD (unchanged behavior)
    assert P.staging_dir_for("out", "tok") == "_staging-out-tok"


def test_publish_replay_after_marker_before_delete(spark, lineitem,
                                                   tmp_path):
    """Crash window closed: _SUCCESS lands BEFORE the staging delete,
    and a replayed publish with staging already gone is a no-op that
    keeps the marker (CommitSequence replay relies on this)."""
    final = str(tmp_path / "replay")
    staged = P.stage(lineitem.limit(100), final)
    moved = P.publish_staged(staged, spark)
    assert moved >= 1  # real FILE count, not directory count
    assert P.is_published(spark, final)
    # replay with staging gone: idempotent, marker intact
    assert P.publish_staged(staged, spark) == 0
    assert P.is_published(spark, final)
    assert spark.read.parquet(final).count() == 100


def test_publish_nothing_staged_raises(spark, tmp_path):
    """A typo'd/never-staged path must not mint _SUCCESS over an
    empty dir."""
    ghost = P.StagedDataset("ghost", str(tmp_path / "no_staging"),
                            str(tmp_path / "empty_final"))
    with pytest.raises(IOError, match="nothing to publish"):
        P.publish_staged(ghost, spark)
    assert not P.is_published(spark, str(tmp_path / "empty_final"))


def test_commit_isolates_dataset_failures(spark, lineitem, tmp_path,
                                          monkeypatch):
    """SafeDatasetCommit: one dataset's publish exception must not
    strand the others — they still publish; the failure is reported."""
    d1 = P.stage(lineitem.limit(10), str(tmp_path / "f1"))
    d2 = P.stage(lineitem.limit(10), str(tmp_path / "f2"))
    d3 = P.stage(lineitem.limit(10), str(tmp_path / "f3"))
    real = P.publish_staged

    def flaky(staged, spark_):
        if staged.name.endswith("f2"):
            raise IOError("injected rename failure")
        return real(staged, spark_)

    monkeypatch.setattr(P, "publish_staged", flaky)
    rep = P.commit([d1, d2, d3], spark,
                   P.JobCommitPolicy.COMMIT_ON_PARTIAL_SUCCESS)
    assert sorted(rep.published) == [str(tmp_path / "f1"),
                                     str(tmp_path / "f3")]
    assert list(rep.failed) == [str(tmp_path / "f2")]
    assert "injected" in rep.failed[str(tmp_path / "f2")]
    assert rep.committed


def test_audit_reads_with_writer_options_csv_header(spark, tmp_path):
    """A csv staged with header=true must audit with the header option
    — otherwise the header line counts as a data row and column-name
    policies explode."""
    df = spark.createDataFrame(
        [Row(k=i, s=f"s{i}") for i in range(20)], "k long, s string")
    rep = P.write_audit_publish(
        df, str(tmp_path / "csv_out"), spark,
        policies=[lambda d: quality.row_count_policy(20, d.count())],
        fmt="csv", options={"header": "true"})
    assert rep.committed and rep.published
    back = (spark.read.format("csv").option("header", "true")
            .load(str(tmp_path / "csv_out")))
    assert back.count() == 20 and set(back.columns) == {"k", "s"}


def test_staged_write_leaves_success_marker_to_publish(spark, lineitem,
                                                      tmp_path):
    """The committer writes no ``_SUCCESS`` into staging (publish would
    skip it and delete the dir); publish writes the final dir's one
    marker. The caller's options are not altered."""
    opts = {"compression": "snappy"}
    staged = P.stage(lineitem, str(tmp_path / "final"), options=opts,
                     partition_by=["l_linenumber"])
    assert not any("_SUCCESS" in files
                   for _, _, files in os.walk(staged.staging_dir))
    assert staged.options == {"compression": "snappy"}
    P.publish_staged(staged, spark)
    markers = [os.path.join(d, f) for d, _, files in os.walk(tmp_path / "final")
               for f in files if f == "_SUCCESS"]
    assert markers == [str(tmp_path / "final" / "_SUCCESS")]
    assert spark.read.parquet(str(tmp_path / "final")).count() == (
        lineitem.count())


def test_jdbc_swap_sql_never_drops_before_replace():
    """The swap DDL must keep the old table reachable until the new
    one is in place (auto-committing-DDL engines)."""
    import re

    from unittest import mock

    with mock.patch.object(W, "write_jdbc") as wj:
        sql = P.jdbc_staging_swap(None, "jdbc:x", "tbl")
    assert wj.called
    drop_pos = sql.index("DROP TABLE")
    rename_final = re.search(r"RENAME TO tbl;", sql)
    assert rename_final is not None and drop_pos > rename_final.start()
    assert "DROP TABLE IF EXISTS tbl;" not in sql  # never drops FINAL


def test_append_write_result_counts_only_new_files(spark, tmp_path):
    """Audit-r7: an append-mode WriteResult must report THIS write's
    files/bytes, not the whole directory — file_size_policy audits
    were grading earlier writes' output too."""
    out = str(tmp_path / "append_stats")
    first = W.write_data(spark.range(100).coalesce(2), out)
    assert first.files == 2 and first.rows == 100
    second = W.write_data(spark.range(100, 150).coalesce(1), out,
                          mode="append")
    assert second.files == 1, second  # not 3
    assert second.rows == 50
    assert 0 < second.bytes_written < first.bytes_written
    # the directory really does hold both writes
    assert spark.read.parquet(out).count() == 150


def test_jdbc_swap_sql_is_dialect_aware():
    """Advice-r7: 'ALTER TABLE IF EXISTS ... RENAME TO' is
    PostgreSQL-only; the MySQL family gets an atomic RENAME TABLE
    (first-publish-safe via CREATE TABLE IF NOT EXISTS ... LIKE),
    inferred from the JDBC url or forced via dialect=."""
    from unittest import mock

    with mock.patch.object(W, "write_jdbc"):
        my = P.jdbc_staging_swap(None, "jdbc:mysql://h/db", "tbl")
        pg = P.jdbc_staging_swap(None, "jdbc:postgresql://h/db", "tbl")
        forced = P.jdbc_staging_swap(None, "jdbc:x", "tbl",
                                     dialect="mysql")
    for sql in (my, forced):
        assert "ALTER TABLE IF EXISTS" not in sql  # pg-only syntax
        assert "RENAME TABLE tbl TO" in sql
        assert "CREATE TABLE IF NOT EXISTS tbl LIKE" in sql
        # old table only dropped after the atomic swap
        assert sql.index("DROP TABLE") > sql.index("RENAME TABLE")
        assert "DROP TABLE IF EXISTS tbl;" not in sql
    assert "ALTER TABLE IF EXISTS tbl RENAME TO" in pg
    assert "BEGIN;" in pg and "COMMIT;" in pg


def test_local_fs_path_authority_parsing(spark, lineitem, tmp_path):
    """file:// URIs with an authority (advice-r13): empty/localhost
    authorities resolve locally; a real remote host falls through to
    the Hadoop branch (None) instead of being mangled to '/host/p'."""
    assert W._local_fs_path(lineitem, "file:/tmp/x") == "/tmp/x"
    assert W._local_fs_path(lineitem, "file:///tmp/x") == "/tmp/x"
    assert W._local_fs_path(lineitem, "file://localhost/tmp/x") == "/tmp/x"
    assert W._local_fs_path(lineitem, "file://otherhost/tmp/x") is None
    assert W._local_fs_path(lineitem, "hdfs://nn/tmp/x") is None


def test_sink_roundtrip_keeps_only_the_last_publish_dir(spark, sf_dir,
                                                        monkeypatch,
                                                        tmp_path):
    """Each call of the catalog's sink round trip publishes into a
    fresh temp dir its lazy result reads; the next call releases it, so
    repeated runs hold one dir, not one per call."""
    import tempfile

    from gobblin_spark import queries

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(queries, "_SCRATCH", {})
    frames = [queries.sink_roundtrip_partitioned(spark, sf_dir)
              for _ in range(3)]
    left = [p.name for p in tmp_path.iterdir()]
    assert len(left) == 1 and left[0].startswith("gobblin_sink_rt_")
    # the survivor is the last call's: its lazy result still reads
    assert frames[-1].count() > 0


def test_catalog_scratch_dir_keeps_one_dir_per_prefix(spark, sf_dir,
                                                      monkeypatch,
                                                      tmp_path):
    """Every catalog entry takes its temp dirs from
    ``queries.scratch_dir``: a repeated entry holds one dir per prefix,
    not one per call, and the last call's lazy result still reads."""
    import tempfile

    from gobblin_spark import queries

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(queries, "_SCRATCH", {})
    for _ in range(3):
        cl = queries.iceberg_changelog_delete_read(spark, sf_dir)
    left = [p.name for p in tmp_path.iterdir()]
    assert len(left) == 1 and left[0].startswith("gobblin_icecld_"), left
    assert cl.count() > 0
    # no entry mints a temp dir around the helper
    import inspect
    assert "mkdtemp" not in inspect.getsource(queries).replace(
        inspect.getsource(queries.scratch_dir), "")
