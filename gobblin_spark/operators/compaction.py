"""Compaction operators: key-based dedup and snapshot/delta merge.

Gobblin runs these as dedicated MapReduce / Hive jobs; here they are plain
shuffles that Catalyst plans (map-side partial aggregation, AQE skew
splitting). Reference semantics:

- Key-dedup: project each record onto a *key schema* (fields marked
  "primarykey", else all comparable fields) and keep exactly ONE record
  per key, tie-broken by a *delta* comparator keeping the max (e.g.
  latest scn/timestamp).
  (gobblin-compaction/.../avro/AvroKeyMapper.java:48,63;
  RecordKeyDedupReducerBase.java:35,74; AvroKeyDedupReducer.java:39,89;
  MRCompactorAvroKeyDedupJobRunner.java:84,127,169-177)
- Snapshot/delta merge: rows of the snapshot not updated by the delta =
  ``snapshot LEFT OUTER JOIN delta ON pk WHERE delta.pk IS NULL``; result
  is that set ``UNION ALL delta``; multiple deltas merge pairwise
  newest-wins. (gobblin-compaction/.../hive/SerialCompactor.java:268-271,
  331-334,201-247)
- Late data: records arriving after compaction land in ``_late`` paths and
  trigger recompaction when ratio/count thresholds are exceeded.
  (gobblin-compaction/.../mapreduce/MRCompactor.java:133,174-189;
  conditions/RecompactionConditionBasedOnRatio.java)

Scale notes (100 TB):
- ``dedup_by_key`` is a single hash shuffle on the key columns:
  ``max_by(struct(all), struct(delta...))``, one aggregation with
  map-side partial combine — strictly less data moved than a
  row_number() window (which must shuffle *all* rows, sort each
  partition, then filter; the tests keep that form as the reference).
- ``snapshot_delta_merge`` is a left-anti join on the pk; AQE
  broadcasts the delta at runtime when it is small (the common nightly
  case: delta << snapshot), else shuffles both sides on the pk.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def dedup_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    delta_cols: Sequence[str],
) -> DataFrame:
    """Keep exactly one record per ``key_cols``, the max by ``delta_cols``.

    Mirrors AvroKeyDedupReducer.java:89 (keep record with the greatest
    delta-field tuple). ``delta_cols`` must form a deterministic total
    order within each key (include a unique id as the last tiebreaker).
    One aggregation with map-side combine.
    """
    payload = F.struct(*[F.col(c) for c in df.columns])
    rank = F.struct(*[F.col(c) for c in delta_cols])
    best = df.groupBy(*key_cols).agg(F.max_by(payload, rank).alias("_best"))
    return best.select("_best.*")


def duplicate_stats(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Per-key duplicate counts (recompaction-condition input).

    Mirrors InputRecordCountHelper-style audit counts
    (gobblin-compaction/.../verify/InputRecordCountHelper.java).
    """
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("record_count"))
        .filter(F.col("record_count") > 1)
    )


def snapshot_delta_merge(
    snapshot: DataFrame,
    delta: DataFrame,
    pk_cols: Sequence[str],
    delta_order_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Upsert: snapshot rows not touched by delta, plus the delta.

    SerialCompactor.java:268-271 (left outer + null filter ≡ left_anti)
    and :331-334 (union all). If ``delta_order_cols`` is given the delta
    is first deduped newest-wins (the pairwise multi-delta merge of
    SerialCompactor.java:201-247 collapses to one dedup in Spark).
    """
    if delta_order_cols:
        delta = dedup_by_key(delta, pk_cols, delta_order_cols)
    untouched = snapshot.join(delta, on=list(pk_cols), how="left_anti")
    return untouched.unionByName(delta)


def needs_recompaction(
    total_count: int,
    late_count: int,
    ratio_threshold: float = 0.05,
    count_threshold: int | None = None,
) -> bool:
    """RecompactionConditionBasedOnRatio / BasedOnCount analog."""
    if total_count <= 0:
        return late_count > 0
    if late_count / total_count > ratio_threshold:
        return True
    return count_threshold is not None and late_count >= count_threshold


_SPECIAL_PREFIXES = ("_staging-", "_trash-", "_intent-")


def _trash_old_files(spark, path: str, token: str) -> int:
    """Phase B of the compaction swap: rename every pre-existing data
    file/dir (and the _SUCCESS marker) into a ``_trash-<token>`` sibling.
    Metadata-only renames — the bytes never move; the old data stays
    fully recoverable until phase D deletes the trash.

    The _SUCCESS marker moves FIRST, unconditionally (audit r13):
    ``listStatus`` order is not contractual (``File.list`` on local
    filesystems is unsorted), and if any data file moved before the
    marker a crash in that window left ``_SUCCESS`` visible with data
    already in the trash — recovery then read the marker as "publish
    completed" and DELETED the trash, losing those files. With the
    marker moved first, "_SUCCESS present in dst" soundly means
    either nothing has been swapped yet or phase C completed."""
    from gobblin_spark.sinks import publish as P

    fs, dst, jvm = P._fs(spark, path)
    trash = jvm.org.apache.hadoop.fs.Path(dst, f"_trash-{token}")
    fs.mkdirs(trash)
    moved = 0
    marker = jvm.org.apache.hadoop.fs.Path(dst, P.SUCCESS_MARKER)
    if fs.exists(marker):
        if not fs.rename(marker, jvm.org.apache.hadoop.fs.Path(
                trash, P.SUCCESS_MARKER)):
            raise IOError(f"trash rename failed: {marker}")
        moved += 1
    for st in fs.listStatus(dst):
        name = st.getPath().getName()
        if name.startswith(_SPECIAL_PREFIXES) or name == P.SUCCESS_MARKER:
            continue
        if not fs.rename(st.getPath(),
                         jvm.org.apache.hadoop.fs.Path(trash, name)):
            raise IOError(f"trash rename failed: {st.getPath()}")
        moved += 1
    return moved


def _write_publish_intent(spark, path: str, token: str,
                          staged_names: list[str]) -> None:
    """Between phases B and C: record WHICH file names the publish is
    about to move into *path* (audit r13). Without this, a crash
    mid-publish was unrecoverable in principle: restore found the
    not-yet-trashed-looking partial NEW files in dst and renamed the
    old data back beside them — duplicate rows under a restored
    _SUCCESS. Recovery deletes exactly the intent-listed names before
    restoring. Underscore prefix keeps the file invisible to Spark
    readers; _SPECIAL_PREFIXES keeps it out of any later trash pass."""
    import json as _json

    from gobblin_spark.sinks import publish as P

    fs, dst, jvm = P._fs(spark, path)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(
        dst, f"_intent-{token}"), True)
    try:
        out.write(bytearray(_json.dumps(
            {"staged": staged_names}).encode()))
    finally:
        out.close()


def recover_compaction(spark, path: str) -> str:
    """Make *path* fully readable after a compaction crash at any phase.

    - trash/intent exist + ``_SUCCESS`` present in dst: with the
      marker-first trash rule this soundly means the publish completed
      (or the swap never started moving anything) → delete trash and
      intent. → "cleaned"
    - trash exists + no ``_SUCCESS``: the crash hit between the
      trash-move and the end of publish → first delete any
      intent-listed file present in dst (partially PUBLISHED new
      files; restoring old data beside them would duplicate rows —
      audit r13), then restore every trashed file (data before the
      ``_SUCCESS`` marker, so a concurrent reader never sees the
      marker without the rows), drop any partial staging. →
      "restored"
    - neither: nothing to do (a leftover staging dir alone is inert;
      abandoned stagings are cleaned lazily). → "noop"

    Idempotent: re-running after any outcome is a "noop"/"cleaned"
    with no further mutation of data files."""
    from gobblin_spark.sinks import publish as P

    fs, dst, jvm = P._fs(spark, path)
    if not fs.exists(dst):
        return "noop"
    trash_dirs, staging_dirs, intents, published = [], [], [], False
    for st in fs.listStatus(dst):
        name = st.getPath().getName()
        if name.startswith("_trash-"):
            trash_dirs.append(st.getPath())
        elif name.startswith("_staging-"):
            staging_dirs.append(st.getPath())
        elif name.startswith("_intent-"):
            intents.append(st.getPath())
        elif name == P.SUCCESS_MARKER:
            published = True
    if not trash_dirs and not intents:
        return "noop"
    if len(trash_dirs) > 1:
        # two swap GENERATIONS can only coexist if a compaction ran on
        # an unrecovered directory, which compact_small_files refuses
        # (it recovers at entry — review r13 pass 6). Restoring both
        # would interleave rows from different directory states and
        # no automatic resolution is provably right — stop loudly.
        raise IOError(
            f"compaction recovery: {len(trash_dirs)} trash "
            f"generations under {path} "
            f"({[t.getName() for t in trash_dirs]}) — a swap ran on "
            "an unrecovered directory; resolve manually (each trash "
            "holds one generation's pre-swap files)")
    if published:
        for t in trash_dirs:
            fs.delete(t, True)
        for i in intents:
            fs.delete(i, True)
        return "cleaned"
    # un-publish the partial phase-C output named by the intent — but
    # ONLY an intent whose own trash generation is present: an intent
    # orphaned by a phase-D crash (trash deleted, intent delete lost)
    # describes files that are now the LIVE published data; acting on
    # it during a later generation's recovery would delete live rows
    # (review r13 pass 6)
    trash_tokens = {t.getName()[len("_trash-"):] for t in trash_dirs}
    for i in intents:
        if i.getName()[len("_intent-"):] not in trash_tokens:
            fs.delete(i, False)     # orphan of a completed swap
            continue
        try:
            doc = P.read_json_file(fs, jvm, i)
        except ValueError:
            doc = {"staged": []}    # torn intent: nothing was
            # published yet (the intent write precedes phase C)
        for name in doc.get("staged", []):
            p = jvm.org.apache.hadoop.fs.Path(dst, name)
            if fs.exists(p):
                fs.delete(p, True)
    for t in trash_dirs:
        entries = [st.getPath() for st in fs.listStatus(t)]
        # data first, the visibility marker last
        entries.sort(key=lambda p: p.getName() == P.SUCCESS_MARKER)
        for p in entries:
            # audit-r7: a silent rename failure here would DROP data
            # from the restore (the trash is deleted right after)
            if not fs.rename(
                    p, jvm.org.apache.hadoop.fs.Path(dst, p.getName())):
                raise IOError(
                    f"compaction recovery: restore rename failed for "
                    f"{p} — trash left in place")
        fs.delete(t, True)
    for s in staging_dirs:
        fs.delete(s, True)
    for i in intents:
        fs.delete(i, True)
    return "restored"


_PERIOD_RE = __import__("re").compile(
    r"^(?:(\d+)m)?(?:(\d+)d)?(?:(\d+)h)?$")


def parse_lookback(spec: str) -> tuple[int, int, int]:
    """'1m2d3h' → (months, days, hours) — the period grammar of
    CompactionTimeRangeVerifier.java:63-69 (months/days/hours suffixes,
    each optional, in that order)."""
    m = _PERIOD_RE.match(spec.strip())
    if not m or not any(m.groups()):
        raise ValueError(f"bad lookback period: {spec!r}")
    return tuple(int(g or 0) for g in m.groups())  # type: ignore[return-value]


def _minus_period(dt, months: int, days: int, hours: int):
    """Calendar-aware dt - (months, days, hours) (Joda Period.minus:
    months walk the calendar, day-of-month clamped)."""
    import calendar
    import datetime as _dt

    if months:
        total = dt.year * 12 + (dt.month - 1) - months
        y, mo = divmod(total, 12)
        day = min(dt.day, calendar.monthrange(y, mo + 1)[1])
        dt = dt.replace(year=y, month=mo + 1, day=day)
    return dt - _dt.timedelta(days=days, hours=hours)


def matched_lookback(dataset_name: str, spec_list: str | None,
                     default: str) -> str:
    """Per-dataset lookback resolution (CompactionTimeRangeVerifier.
    getMatchedLookbackTime): ';'-joined entries, each '[regex]:[period]'
    or a bare period that overrides the default; first regex full-match
    wins. Example: 'Identity.*:1d2h;22h;BizProfile.BizCompany:3h'."""
    import re as _re

    if not spec_list:
        return default
    chosen_default = default
    for entry in (e.strip() for e in spec_list.split(";") if e.strip()):
        if ":" in entry:
            pattern, period = entry.rsplit(":", 1)
            if _re.fullmatch(pattern, dataset_name):
                return period
        else:
            chosen_default = entry
    return chosen_default


def verify_compaction_time_range(
    dataset_name: str,
    folder_time,
    compaction_start,
    max_time_ago: str = "3d",
    min_time_ago: str = "1d",
    last_run_start=None,
    min_recompaction_duration: str | None = None,
) -> tuple[bool, str]:
    """CompactionTimeRangeVerifier.verify (gobblin-compaction/.../verify/
    CompactionTimeRangeVerifier.java:53,111): a dataset folder time is
    compactable iff ``start - max_time_ago < folder_time <
    start - min_time_ago`` (too old → retention's problem; too recent →
    late data may still arrive), and — when a minimum recompaction
    duration is configured — the previous compaction of this dataset
    started before ``start - min_duration``. ``max_time_ago`` /
    ``min_time_ago`` / ``min_recompaction_duration`` accept the
    per-dataset '[regex]:[period];...' list form."""
    earliest = _minus_period(
        compaction_start,
        *parse_lookback(matched_lookback(dataset_name, max_time_ago, "3d")))
    latest = _minus_period(
        compaction_start,
        *parse_lookback(matched_lookback(dataset_name, min_time_ago, "1d")))
    if min_recompaction_duration is not None and last_run_start is not None:
        eligible = _minus_period(
            compaction_start,
            *parse_lookback(matched_lookback(
                dataset_name, min_recompaction_duration, "1h")))
        if last_run_start > eligible:
            return False, (
                f"last compaction for {dataset_name} at {last_run_start} "
                f"is not before {eligible}")
    if earliest < folder_time < latest:
        return True, ""
    return False, (
        f"{dataset_name} folder time {folder_time} is not between "
        f"{earliest} and {latest}")


def compact_small_files(
    spark,
    path: str,
    target_file_bytes: int = 128 << 20,
    fmt: str = "parquet",
    min_files_to_compact: int = 2,
) -> dict:
    """Small-file compaction (the MRCompactor's other job: file-count
    hygiene, gobblin-compaction/.../mapreduce/MRCompactor.java). Rewrites
    a directory into ~size-targeted files and swaps them in via a
    crash-safe two-phase protocol (BaseDataPublisher.java:100's rule:
    publish is move-into-place, never delete-then-copy):

      A. stage the compacted copy under ``_staging-<token>``
      B. rename the old files into ``_trash-<token>`` (metadata-only;
         the ``_SUCCESS`` marker moves FIRST — see _trash_old_files)
      B'. write ``_intent-<token>`` naming the staged files
      C. publish staged (rename in + fresh ``_SUCCESS``)
      D. delete the trash and the intent

    A crash anywhere leaves the directory recoverable to EXACTLY the
    old data or EXACTLY the new data: ``recover_compaction`` restores
    the trash (first un-publishing any intent-listed partial phase-C
    files) or finishes the cleanup when ``_SUCCESS`` shows the publish
    completed. The ``_SUCCESS`` marker is the reader visibility
    signal: it is absent only during the B→C metadata window.
    tests/test_compaction_crashpoints.py drives every crash point.

    The rewrite reads with full parallelism: ``repartition(target_n)``
    when collapsing many files (a ``coalesce`` would cap the SCAN at
    target_n tasks), plain ``coalesce`` for small ratios where the
    extra shuffle costs more than the lost parallelism.

    Returns {files_before, files_after, bytes}. No-op (files_before
    returned unchanged) when the dir is already compact."""
    from gobblin_spark.sinks import publish as P
    from gobblin_spark.sinks.writers import _output_stats

    # refuse to swap an UNRECOVERED directory (review r13 pass 6): a
    # prior crashed swap's trash holds rows the reader below cannot
    # see — compacting and publishing the visible subset would mint a
    # fresh _SUCCESS over partial data, and the next recovery's
    # "cleaned" branch would then delete the trashed rows for good.
    # Recovery is idempotent and cheap, so just run it first.
    fs0, dst0, _ = P._fs(spark, path)
    if fs0.exists(dst0) and any(
            st.getPath().getName().startswith(("_trash-", "_intent-"))
            for st in fs0.listStatus(dst0)):
        recover_compaction(spark, path)

    df = spark.read.format(fmt).load(path)
    files_before, nbytes = _output_stats(df, path)
    target_n = max(1, int(nbytes // target_file_bytes) + (1 if nbytes % target_file_bytes else 0))
    if files_before < min_files_to_compact or files_before <= target_n:
        return {"files_before": files_before, "files_after": files_before,
                "bytes": nbytes, "compacted": False}
    compacted = (df.repartition(target_n) if files_before > 8 * target_n
                 else df.coalesce(target_n))
    token = uuid.uuid4().hex[:12]
    staged = P.stage(compacted, path, fmt=fmt, job_id=token)      # A
    fs, dst, jvm = P._fs(spark, path)
    staged_names = [
        st.getPath().getName()
        for st in fs.listStatus(
            jvm.org.apache.hadoop.fs.Path(staged.staging_dir))
        if st.getPath().getName() != P.SUCCESS_MARKER]
    _trash_old_files(spark, path, token)                          # B
    # intent between B and C: recovery needs the exact new-file names
    # to un-publish a partial phase C (audit r13)
    _write_publish_intent(spark, path, token, staged_names)
    P.publish_staged(staged, spark)                               # C
    fs.delete(jvm.org.apache.hadoop.fs.Path(dst, f"_trash-{token}"), True)
    fs.delete(jvm.org.apache.hadoop.fs.Path(dst, f"_intent-{token}"),
              False)                                              # D
    files_after, _ = _output_stats(df, path)
    return {"files_before": files_before, "files_after": files_after,
            "bytes": nbytes, "compacted": True}


def merge_rollup_store(
    spark,
    store_path: str,
    batch: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    count_col: str = "n_rows",
) -> DataFrame:
    """Incremental aggregate-view maintenance: fold ONE new batch into
    a persisted rollup store without rescanning history — the
    aggregate twin of the Bloom/signature incremental-dedup loops
    (reference analogue: recompaction folding late deltas into the
    compacted output, RecompactionCondition* + MRCompactor late-data
    paths, applied to sums/counts instead of rows).

    The store holds one row per key group with additive state
    (count + per-column sums) — sums and counts MERGE exactly, so
    epoch-by-epoch maintenance equals the full recompute by algebra,
    not approximation (averages/ratios derive downstream). Per epoch:
    aggregate the batch (one shuffle over the batch only), union with
    the store's one-row-per-group table, re-aggregate, and publish via
    write-new-then-swap so a crashed merge leaves the previous store
    intact. At 100 TB the batch shuffle dwarfs the store merge — the
    store is keys-sized, not corpus-sized.

    Returns the merged rollup DataFrame (also persisted to
    ``store_path``).
    """
    import uuid as _uuid

    from gobblin_spark.sinks import publish as P

    # All store manipulation goes through the Hadoop FS client
    # (audit-r7: os/shutil ops silently pinned the store to the LOCAL
    # filesystem — an hdfs:// or s3a:// store path broke every swap).
    fs, store_p, jvm = P._fs(spark, store_path)
    hpath = jvm.org.apache.hadoop.fs.Path

    # Crash recovery: the swap below renames store -> store__old, then
    # tmp -> store, then removes store__old. A crash between the two
    # renames leaves NO store but a complete copy at the FIXED
    # store__old name — restore it before reading, so the docstring's
    # "a crashed merge leaves the previous store intact" actually
    # holds. (A crash after the second rename just leaves a stale
    # __old dir, cleaned in the swap.)
    old_p = hpath(f"{store_path}__old")
    if not fs.exists(store_p) and fs.exists(old_p):
        if not fs.rename(old_p, store_p):
            raise IOError(f"rollup-store recovery rename failed: {old_p}")

    aggs = [F.count(F.lit(1)).alias(count_col)] + [
        F.sum(c).alias(f"sum_{c}") for c in sum_cols
    ]
    partial = batch.groupBy(*keys).agg(*aggs)
    if fs.exists(store_p):
        prior = spark.read.parquet(store_path)
        merge_aggs = [F.sum(count_col).alias(count_col)] + [
            F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols
        ]
        merged = (
            prior.unionByName(partial).groupBy(*keys).agg(*merge_aggs)
        )
    else:
        merged = partial
    tmp = f"{store_path}__swap_{_uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(tmp)
    # Fixed __old name (not a random suffix) so the recovery above can
    # find a stranded prior store after a crash between the renames.
    fs.delete(old_p, True)  # stale leftover, if any
    if fs.exists(store_p) and not fs.rename(store_p, old_p):
        raise IOError(f"rollup-store swap rename failed: {store_p}")
    if not fs.rename(hpath(tmp), store_p):
        raise IOError(f"rollup-store swap rename failed: {tmp}")
    fs.delete(old_p, True)
    return spark.read.parquet(store_path)
