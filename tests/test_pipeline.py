"""Pipeline spec layer: the Constructs chain end-to-end, batch and
streaming, with fork + quality + commit-policy semantics."""

import os

import pytest
from pyspark.sql import functions as F

from gobblin_spark import plans
from gobblin_spark.operators import converters as C, quality
from gobblin_spark.sinks import publish as P
from gobblin_spark.sources import files


def events_source(sf_dir):
    return lambda spark: files.load_table(spark, sf_dir, "events")


def test_full_chain_batch(spark, sf_dir, tmp_path):
    """source → converter → row quality → 2-branch fork → staged publish;
    conservation: branch rows + quarantined == input rows."""
    out = tmp_path
    pl = plans.Pipeline(
        source=events_source(sf_dir),
        transforms=[lambda d: C.pick_fields(d, ["event_id", "event_type", "value", "ts"])],
        row_policies=[quality.range_policy("value", 0, 80)],
        quarantine_dir=str(out / "quar"),
        branches=[
            plans.Branch("clicks", F.col("event_type") == "click",
                         final_dir=str(out / "clicks")),
            plans.Branch("rest", F.col("event_type") != "click",
                         final_dir=str(out / "rest")),
        ],
    )
    res = plans.run(pl, spark)
    assert res.report.committed
    assert set(res.report.published) == {"clicks", "rest"}

    total = files.load_table(spark, sf_dir, "events").count()
    clicks = spark.read.parquet(str(out / "clicks")).count()
    rest = spark.read.parquet(str(out / "rest")).count()
    assert clicks + rest + res.quarantined == total
    assert P.is_published(spark, str(out / "clicks"))
    bad = spark.read.parquet(str(out / "quar"))
    assert bad.filter(F.col("value").between(0, 80)).count() == 0


def test_full_success_policy_aborts_all(spark, sf_dir, tmp_path):
    """One branch's failing audit aborts BOTH branches under FULL_SUCCESS."""
    out = tmp_path
    pl = plans.Pipeline(
        source=events_source(sf_dir),
        branches=[
            plans.Branch("a", F.col("value") >= 50, final_dir=str(out / "a")),
            plans.Branch(
                "b", F.col("value") < 50, final_dir=str(out / "b"),
                task_policies=[lambda df: quality.row_count_policy(-1, df.count())],
            ),
        ],
    )
    res = plans.run(pl, spark)
    assert not res.report.committed
    assert set(res.report.aborted) == {"a", "b"}
    assert not os.path.exists(str(out / "a" / "_SUCCESS"))


def test_successful_tasks_policy_publishes_green(spark, sf_dir, tmp_path):
    out = tmp_path
    pl = plans.Pipeline(
        source=events_source(sf_dir),
        branches=[
            plans.Branch("good", F.col("value") >= 50, final_dir=str(out / "good")),
            plans.Branch(
                "bad", F.col("value") < 50, final_dir=str(out / "bad"),
                task_policies=[lambda df: quality.row_count_policy(-1, df.count())],
            ),
        ],
        commit_policy=P.JobCommitPolicy.COMMIT_SUCCESSFUL_TASKS,
    )
    res = plans.run(pl, spark)
    assert res.report.published == ["good"] and res.report.aborted == ["bad"]
    assert P.is_published(spark, str(out / "good"))
    assert not os.path.exists(str(out / "bad" / "_SUCCESS"))


def test_sinkless_pipeline_returns_frames(spark, sf_dir):
    pl = plans.Pipeline(
        source=events_source(sf_dir),
        transforms=[lambda d: d.filter(F.col("value") > 90)],
    )
    res = plans.run(pl, spark)
    assert res.report is None
    assert res.dataframes["main"].count() > 0


def test_same_spec_streaming(spark, sf_dir, tmp_path):
    """The identical spec runs per micro-batch; multi-epoch output equals
    the batch run (stream==batch parity through the plans layer)."""
    ev = files.load_table(spark, sf_dir, "events")
    indir = str(tmp_path / "in")
    ev.repartition(3).write.parquet(indir)
    out = tmp_path / "out"

    def mk(outdir):
        return plans.Pipeline(
            source=None,  # replaced per epoch / set for batch below
            row_policies=[quality.range_policy("value", 0, 95)],
            quarantine_dir=str(outdir / "quar"),
            branches=[plans.Branch("main", None, final_dir=str(outdir / "main"))],
        )

    import dataclasses

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1").parquet(indir)
    pl_s = dataclasses.replace(mk(out), source=None)
    results = plans.run_streaming(pl_s, stream, str(tmp_path / "ckpt"))
    assert len(results) >= 2  # several epochs

    got = spark.read.parquet(str(out / "main")).count()
    quar = spark.read.parquet(str(out / "quar")).count()
    assert got + quar == ev.count()
    expect_pass = ev.filter(F.col("value").between(0, 95)).count()
    assert got == expect_pass
    # committed epochs leave replay markers in the published branch dir
    import os as _os

    assert any(f.startswith("_epoch-") and f.endswith(".done")
               for f in _os.listdir(out / "main"))


def test_streaming_epoch_marker_skips_replay(spark, sf_dir, tmp_path):
    """A marker planted for an epoch makes the replayed micro-batch a
    no-op: foreachBatch re-delivery after a failure must not publish a
    second copy of the epoch."""
    import hashlib

    from gobblin_spark.streaming.runner import canonical_checkpoint

    ev = files.load_table(spark, sf_dir, "events").limit(50)
    indir = str(tmp_path / "in")
    ev.coalesce(1).write.parquet(indir)
    out = tmp_path / "out"
    (out / "main").mkdir(parents=True)
    ckpt = str(tmp_path / "ckpt")
    token = hashlib.md5(
        canonical_checkpoint(ckpt).encode()).hexdigest()[:8]
    # plant the epoch-0 marker BEFORE the (single-epoch) stream runs
    (out / "main" / f"_epoch-{token}-0.done").write_text("")

    stream = spark.readStream.schema(ev.schema).parquet(indir)
    pl = plans.Pipeline(
        source=None,
        branches=[plans.Branch("main", None, final_dir=str(out / "main"))],
    )
    results = plans.run_streaming(pl, stream, ckpt)
    assert results == []  # the epoch was skipped wholesale
    data_files = [f for f in __import__("os").listdir(out / "main")
                  if not f.startswith(("_", "."))]
    assert data_files == []  # nothing published twice


def test_streaming_partial_marker_replay_skips_quarantine(
        spark, sf_dir, tmp_path):
    """r11 audit: the quarantine write has no marker of its own, so a
    PARTIAL-marker replay (which proves run() already executed once)
    must not re-append the quarantined rows — only the unmarked
    branches re-run. Previously every detected replay doubled the err
    file."""
    import hashlib

    from gobblin_spark.operators import quality
    from gobblin_spark.streaming.runner import canonical_checkpoint

    ev = files.load_table(spark, sf_dir, "events").limit(40)
    indir = str(tmp_path / "in")
    ev.coalesce(1).write.parquet(indir)
    out = tmp_path / "out"
    ckpt = str(tmp_path / "ckpt")
    token = hashlib.md5(
        canonical_checkpoint(ckpt).encode()).hexdigest()[:8]
    passed = ev.filter(F.col("value").between(0, 90))
    quar = ev.filter(~F.col("value").between(0, 90))
    assert quar.count() > 0
    # simulate the crashed first attempt: branch A published+marked,
    # quarantine published with A's commit, B's marker lost
    passed.filter(F.col("event_id") % 2 == 0).write.mode(
        "overwrite").parquet(str(out / "a"))
    (out / "a" / f"_epoch-{token}-0.done").write_text("")
    quar.write.mode("append").parquet(str(out / "quar"))
    n_quar = spark.read.parquet(str(out / "quar")).count()

    stream = spark.readStream.schema(ev.schema).parquet(indir)
    pl = plans.Pipeline(
        source=None,
        row_policies=[quality.range_policy("value", 0, 90)],
        quarantine_dir=str(out / "quar"),
        branches=[
            plans.Branch("a", F.col("event_id") % 2 == 0,
                         final_dir=str(out / "a")),
            plans.Branch("b", F.col("event_id") % 2 == 1,
                         final_dir=str(out / "b")),
        ],
    )
    results = plans.run_streaming(pl, stream, ckpt)
    assert len(results) == 1
    assert results[0].report.published == ["b"]
    assert results[0].quarantined == 0  # replay did not re-quarantine
    assert spark.read.parquet(str(out / "quar")).count() == n_quar
    assert spark.read.parquet(str(out / "b")).count() == passed.filter(
        F.col("event_id") % 2 == 1).count()


def test_streaming_partial_marker_replays_only_unmarked(
        spark, sf_dir, tmp_path):
    """Audit-r7: two branches, only branch A's marker survives the
    crash (the marker loop died between A and B). The replay must
    re-publish ONLY B — re-running A too was a guaranteed duplicate,
    since a marked branch by definition already committed."""
    import hashlib
    import os as _os

    from gobblin_spark.streaming.runner import canonical_checkpoint

    ev = files.load_table(spark, sf_dir, "events").limit(40)
    indir = str(tmp_path / "in")
    ev.coalesce(1).write.parquet(indir)
    out = tmp_path / "out"
    ckpt = str(tmp_path / "ckpt")
    token = hashlib.md5(
        canonical_checkpoint(ckpt).encode()).hexdigest()[:8]
    # simulate the crashed first attempt: branch A published + marked
    ev.filter(F.col("event_id") % 2 == 0).write.mode(
        "overwrite").parquet(str(out / "a"))
    n_a_before = len([f for f in _os.listdir(out / "a")
                      if not f.startswith(("_", "."))])
    (out / "a" / f"_epoch-{token}-0.done").write_text("")

    stream = spark.readStream.schema(ev.schema).parquet(indir)
    pl = plans.Pipeline(
        source=None,
        branches=[
            plans.Branch("a", F.col("event_id") % 2 == 0,
                         final_dir=str(out / "a")),
            plans.Branch("b", F.col("event_id") % 2 == 1,
                         final_dir=str(out / "b")),
        ],
    )
    results = plans.run_streaming(pl, stream, ckpt)
    assert len(results) == 1
    assert results[0].report.published == ["b"]  # A skipped
    # A's data untouched — no duplicate publish
    n_a_after = len([f for f in _os.listdir(out / "a")
                     if not f.startswith(("_", "."))])
    assert n_a_after == n_a_before
    assert spark.read.parquet(str(out / "a")).count() == ev.filter(
        F.col("event_id") % 2 == 0).count()
    # B published its half and got its marker
    assert spark.read.parquet(str(out / "b")).count() == ev.filter(
        F.col("event_id") % 2 == 1).count()
    assert (out / "b" / f"_epoch-{token}-0.done").exists()


def _staging_leftovers(root):
    import glob

    return (glob.glob(str(root / "_staging*"))
            + glob.glob(str(root / "*" / "_staging*")))


def _n_persisted(spark):
    return spark._jsc.sc().getPersistentRDDs().size()


def test_branch_failure_aborts_sibling_staging(spark, sf_dir, tmp_path):
    """A failing branch must not leave sibling branches' staging dirs
    behind (advice-r13): staged-but-uncommitted trees would otherwise
    accumulate under every retried pipeline run. The quarantine stages
    beside the branches and is aborted with them — publishing it would
    let a retry append the same rows again — and the fork cache is
    released."""

    def boom(df):
        # fails when the STAGING WRITE executes, not at plan build —
        # the sibling branches are staging concurrently at that point
        return df.withColumn(
            "x", F.expr("assert_true(event_id < 0, 'branch stage boom')"))

    pl = plans.Pipeline(
        source=events_source(sf_dir),
        row_policies=[quality.range_policy("value", 0, 80)],
        quarantine_dir=str(tmp_path / "quar"),
        branches=[
            plans.Branch("ok_a", F.col("event_type") == "click",
                         final_dir=str(tmp_path / "a")),
            plans.Branch("ok_b", F.col("event_type") != "click",
                         final_dir=str(tmp_path / "b")),
            plans.Branch("bad", None, transforms=[boom],
                         final_dir=str(tmp_path / "c")),
        ],
    )
    before = _n_persisted(spark)
    with pytest.raises(Exception, match="branch stage boom"):
        plans.run(pl, spark)
    assert _staging_leftovers(tmp_path) == []
    assert not (tmp_path / "quar").exists()  # no quarantine rows published
    assert _n_persisted(spark) == before


def test_full_success_abort_keeps_quarantine_unpublished(
        spark, sf_dir, tmp_path):
    """A FULL_SUCCESS audit abort publishes nothing: the watermark does
    not advance, so a quarantine published here would be appended
    again by the retry."""
    pl = plans.Pipeline(
        source=events_source(sf_dir),
        row_policies=[quality.range_policy("value", 0, 80)],
        quarantine_dir=str(tmp_path / "quar"),
        branches=[
            plans.Branch("a", F.col("value") >= 50,
                         final_dir=str(tmp_path / "a")),
            plans.Branch(
                "b", F.col("value") < 50, final_dir=str(tmp_path / "b"),
                task_policies=[lambda df: quality.row_count_policy(-1, df.count())],
            ),
        ],
    )
    res = plans.run(pl, spark)
    assert not res.report.committed
    assert res.quarantined > 0
    assert not (tmp_path / "quar").exists()
    assert _staging_leftovers(tmp_path) == []


def test_all_pass_creates_no_quarantine(spark, sf_dir, tmp_path):
    """An empty quarantine is dropped: no quarantine dir, no staging."""
    pl = plans.Pipeline(
        source=events_source(sf_dir),
        row_policies=[quality.RowPolicy("all", F.lit(True))],
        quarantine_dir=str(tmp_path / "quar"),
        branches=[plans.Branch("main", None, final_dir=str(tmp_path / "main"))],
    )
    res = plans.run(pl, spark)
    assert res.report.committed and res.quarantined == 0
    assert not (tmp_path / "quar").exists()
    assert _staging_leftovers(tmp_path) == []


def test_unknown_quarantine_count_still_publishes(
        spark, sf_dir, tmp_path, monkeypatch):
    """A quarantine write whose row observation was unavailable (rows
    == -1) publishes: quarantined rows are never silently dropped."""
    import dataclasses

    real = P.write_data

    def unobserved(*a, **kw):
        return dataclasses.replace(real(*a, **kw), rows=-1)

    monkeypatch.setattr(P, "write_data", unobserved)
    pl = plans.Pipeline(
        source=events_source(sf_dir),
        row_policies=[quality.range_policy("value", 0, 80)],
        quarantine_dir=str(tmp_path / "quar"),
        branches=[plans.Branch("main", None, final_dir=str(tmp_path / "main"))],
    )
    res = plans.run(pl, spark)
    assert res.report.committed and res.quarantined == -1
    ev = files.load_table(spark, sf_dir, "events")
    assert spark.read.parquet(str(tmp_path / "quar")).count() == ev.filter(
        ~F.coalesce(F.col("value").between(0, 80), F.lit(False))).count()


def test_fork_scans_source_once_and_releases_cache(spark, sf_dir, tmp_path):
    """Two branches plus the quarantine read ONE persisted flagged
    frame: every source row is evaluated exactly once per run (two
    caches over the same parent used to scan it twice), and the cache
    is released when the run ends."""
    from pyspark.sql.types import DoubleType

    seen = spark.sparkContext.accumulator(0)

    def tick(v):
        seen.add(1)
        return v

    tick_udf = F.udf(tick, DoubleType()).asNondeterministic()
    ev = files.load_table(spark, sf_dir, "events")
    pl = plans.Pipeline(
        source=lambda s: ev.withColumn(
            "value", tick_udf(F.col("value").cast("double"))),
        row_policies=[quality.range_policy("value", 0, 80)],
        quarantine_dir=str(tmp_path / "quar"),
        branches=[
            plans.Branch("clicks", F.col("event_type") == "click",
                         final_dir=str(tmp_path / "clicks")),
            plans.Branch("rest", F.col("event_type") != "click",
                         final_dir=str(tmp_path / "rest")),
        ],
    )
    before = _n_persisted(spark)
    res = plans.run(pl, spark)
    total = ev.count()
    assert seen.value == total
    n_out = sum(spark.read.parquet(str(tmp_path / d)).count()
                for d in ("clicks", "rest", "quar"))
    assert n_out == total and res.quarantined > 0
    assert _n_persisted(spark) == before


def test_returned_branch_outlives_the_fork_checkpoint(spark, sf_dir, tmp_path):
    """A branch without ``final_dir`` is returned built on the source,
    not on the fork's checkpointed rows: it still counts after ``run()``
    has released them, and nothing stays pinned."""
    ev = files.load_table(spark, sf_dir, "events")
    pl = plans.Pipeline(
        source=events_source(sf_dir),
        row_policies=[quality.range_policy("value", 0, 80)],
        quarantine_dir=str(tmp_path / "quar"),
        branches=[
            plans.Branch("clicks", F.col("event_type") == "click",
                         final_dir=str(tmp_path / "clicks")),
            plans.Branch("rest", F.col("event_type") != "click"),
        ],
    )
    before = _n_persisted(spark)
    res = plans.run(pl, spark)
    assert res.report.committed and res.quarantined > 0
    assert _n_persisted(spark) == before
    ok = F.coalesce(F.col("value").between(0, 80), F.lit(False))
    assert res.dataframes["rest"].count() == ev.filter(
        ok & (F.col("event_type") != "click")).count()


def test_fork_checkpoint_keeps_deserialized_rows(spark, sf_dir, tmp_path,
                                                 monkeypatch):
    """The fork's checkpointed rows are stored deserialized (no Java
    serialization on store or read) and may spill to disk. PySpark's
    ``MEMORY_AND_DISK`` is the serialized level."""
    from gobblin_spark.plans import pipeline as PL

    levels = []
    real = PL.release_checkpoint

    def spy(df):
        level = df._jdf.queryExecution().logical().rdd().getStorageLevel()
        levels.append((level.deserialized(), level.useDisk(),
                       level.useMemory()))
        real(df)

    monkeypatch.setattr(PL, "release_checkpoint", spy)
    pl = plans.Pipeline(
        source=events_source(sf_dir),
        row_policies=[quality.range_policy("value", 0, 80)],
        quarantine_dir=str(tmp_path / "quar"),
        branches=[
            plans.Branch("clicks", F.col("event_type") == "click",
                         final_dir=str(tmp_path / "clicks")),
            plans.Branch("rest", F.col("event_type") != "click",
                         final_dir=str(tmp_path / "rest")),
        ],
    )
    assert plans.run(pl, spark).report.committed
    assert levels == [(True, True, True)]
