"""Data-quality layer: row-level policies with quarantine, task-level checks.

Reference semantics:
- Row-level: ``RowLevelPolicy.executePolicy(record) → PASSED|FAILED``
  (gobblin-api/.../row/RowLevelPolicy.java:33,68) with result handling
  FAIL (abort) or ERR_FILE (quarantine failures to an err file, sampled)
  (gobblin-core/.../row/RowLevelPolicyChecker.java:94-127).
- Task-level: RowCountPolicy (extracted == written), RowCountRangePolicy
  (within ±range of previous run), SchemaCompatibilityPolicy, FileSizePolicy
  (gobblin-core/.../policies/**), each FAIL or OPTIONAL
  (gobblin-api/.../task/TaskLevelPolicy.java:24,52).

Spark design: policies are boolean ``Column`` expressions. One pass
computes a ``_ok`` conjunction; the pass branch and the quarantine branch
are two filters over the SAME scan (cache or foreachBatch persist makes
it literally one read). No Python runs per record — every policy is a
codegen'd predicate, so a 100 TB quality pass is scan-speed.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class RowPolicy:
    """A named row predicate. type='ERR_FILE' quarantines failures;
    type='FAIL' means any failure aborts the job (RowLevelPolicy.Type)."""

    name: str
    predicate: Column
    type: str = "ERR_FILE"  # or "FAIL"


def not_null_policy(cols: Sequence[str], name: str = "not_null") -> RowPolicy:
    """AvroHeaderGuidPolicy-style presence check
    (gobblin-core/.../policies/avro/AvroHeaderGuidPolicy.java)."""
    pred = F.lit(True)
    for c in cols:
        pred = pred & F.col(c).isNotNull()
    return RowPolicy(name, pred)


def timestamp_lower_bound_policy(ts_col: str, bound, name: str = "ts_lower_bound") -> RowPolicy:
    """RecordTimestampLowerBoundPolicy — drop records older than bound
    (gobblin-core/.../policies/time/RecordTimestampLowerBoundPolicy.java)."""
    return RowPolicy(name, F.col(ts_col) >= F.lit(bound))


def range_policy(col: str, lo, hi, name: str | None = None) -> RowPolicy:
    """Value-in-range predicate (closed interval)."""
    return RowPolicy(name or f"{col}_range", F.col(col).between(lo, hi))


def with_ok_flag(df: DataFrame, policies: Sequence[RowPolicy], flag: str = "_ok") -> DataFrame:
    """Annotate each row with the conjunction of all policies."""
    pred = F.lit(True)
    for p in policies:
        pred = pred & F.coalesce(p.predicate, F.lit(False))
    return df.withColumn(flag, pred)


def check_rows(
    df: DataFrame, policies: Sequence[RowPolicy]
) -> tuple[DataFrame, DataFrame]:
    """Single-pass split into (passed, quarantined).

    RowLevelPolicyChecker.java:103-127: passing records continue down the
    pipeline; failures go to the err file. Both outputs are filters over
    one flagged frame: a caller writing both should build it with
    ``with_ok_flag`` and persist THAT (as ``plans.run`` does), or run
    inside foreachBatch, so the scan happens once.
    """
    flagged = with_ok_flag(df, policies)
    passed = flagged.filter(F.col("_ok")).drop("_ok")
    quarantined = flagged.filter(~F.col("_ok")).drop("_ok")
    return passed, quarantined


def front_loaded_sample(
    df: DataFrame,
    initial_ratio: float = 1.0,
    half_life: int = 1000,
    min_ratio: float = 0.001,
    seed: int = 42,
) -> DataFrame:
    """FrontLoadedSampler (gobblin-utility/.../FrontLoadedSampler.java):
    keep early records with high probability, decaying exponentially —
    the first errors of a run are the diagnostic ones; a billion-row
    failure shouldn't produce a billion-row err file.

    Arrival order is per-partition (the only order that exists without a
    sort): record i in its partition is kept with probability
    ``max(min_ratio, initial_ratio · 2^(-i/half_life))``. The index is
    the low 33 bits of ``monotonically_increasing_id`` (documented as
    the within-partition record number) — no shuffle, no sort, no
    window, no Python."""
    i = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    p = F.greatest(
        F.lit(float(min_ratio)),
        F.lit(float(initial_ratio)) * F.pow(F.lit(2.0), -i / F.lit(float(half_life))),
    )
    return df.withColumn("_p", p).filter(F.rand(seed) < F.col("_p")).drop("_p")


def front_loaded_sample_deterministic(
    df: DataFrame,
    key_col: str,
    initial_ratio: float = 1.0,
    half_life: int = 1000,
    min_ratio: float = 0.001,
    index_col: str | None = "_i",
) -> DataFrame:
    """Engine-portable FrontLoadedSampler variant: same decay
    ``max(min_ratio, initial_ratio · 2^(-i/half_life))`` as
    ``front_loaded_sample``, but i is the rank of ``key_col`` and the
    uniform draw is the md5-derived fraction of the key — fully
    deterministic, so the kept set is reproducible across engines and
    runs (oracle-checkable, replayable error samples).

    ``index_col`` names the RETAINED rank column — kept on purpose
    (this is the audit variant; the rank is what a decay report
    buckets on). Pass None to drop it and match
    ``front_loaded_sample``'s schema.

    The rank needs a global sort, so this is the AUDITABLE variant;
    the production no-shuffle path is ``front_loaded_sample``
    (per-partition arrival order + rand). Reference:
    gobblin-utility/.../FrontLoadedSampler.java."""
    from pyspark.sql import Window

    name = index_col or "_i"
    out = df.withColumn(
        name,
        (F.row_number().over(Window.orderBy(key_col)) - F.lit(1))
        .cast("long"))
    i = F.col(name)
    p = F.greatest(
        F.lit(float(min_ratio)),
        F.lit(float(initial_ratio))
        * F.pow(F.lit(2.0), -i / F.lit(float(half_life))),
    )
    u = (F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 6),
                16, 10).cast("long") / F.lit(float(1 << 24)))
    kept = out.filter(u < p)
    return kept.drop(name) if index_col is None else kept


# ---------------- task-level policies (post-write assertions) ----------------


@dataclass
class TaskPolicyResult:
    name: str
    passed: bool
    detail: str = ""
    optional: bool = False  # TaskLevelPolicy.Type.OPTIONAL


def row_count_policy(extracted: int, written: int) -> TaskPolicyResult:
    """RowCountPolicy — extracted == written
    (gobblin-core/.../policies/count/RowCountPolicy.java)."""
    return TaskPolicyResult(
        "row_count", extracted == written, f"extracted={extracted} written={written}"
    )


def row_count_range_policy(
    current: int, previous: int, max_deviation: float
) -> TaskPolicyResult:
    """RowCountRangePolicy — |current-previous|/previous <= deviation
    (gobblin-core/.../policies/count/RowCountRangePolicy.java)."""
    if previous == 0:
        ok = current == 0
        ratio = float("inf") if current else 0.0
    else:
        ratio = abs(current - previous) / previous
        ok = ratio <= max_deviation
    return TaskPolicyResult("row_count_range", ok, f"deviation={ratio:.4f}")


def schema_compatibility_policy(actual: DataFrame, expected_schema) -> TaskPolicyResult:
    """SchemaCompatibilityPolicy — produced schema contains every expected
    field with an identical type (gobblin-core/.../policies/schema/
    SchemaCompatibilityPolicy.java). Extra columns are compatible."""
    actual_types = {f.name: f.dataType for f in actual.schema.fields}
    missing = [
        f.name
        for f in expected_schema.fields
        if actual_types.get(f.name) != f.dataType
    ]
    return TaskPolicyResult(
        "schema_compatibility", not missing, f"missing_or_mismatched={missing}"
    )


def audit_count_verifier(
    source_count: int, dest_count: int, threshold: float = 0.999
) -> TaskPolicyResult:
    """KafkaAuditCountVerifier / CompactionAuditCountVerifier — dest tier
    must contain >= threshold of source-tier records
    (gobblin-completeness/.../verifier/KafkaAuditCountVerifier.java:44)."""
    completeness = 1.0 if source_count == 0 else dest_count / source_count
    return TaskPolicyResult(
        "audit_count", completeness >= threshold, f"completeness={completeness:.6f}"
    )


def file_size_policy(
    write_result,
    min_avg_bytes: int = 1,
    max_avg_bytes: int | None = None,
) -> TaskPolicyResult:
    """FileSizePolicy — written files' AVERAGE size within bounds
    (guards against the small-files problem at publish time; pairs with
    compaction). Takes a ``sinks.writers.WriteResult`` — counts come
    from the committed listing, no data scan."""
    files = max(write_result.files, 0)
    avg = (write_result.bytes_written / files) if files else 0.0
    ok = avg >= min_avg_bytes and (max_avg_bytes is None or avg <= max_avg_bytes)
    return TaskPolicyResult(
        "file_size", ok, f"files={files} avg_bytes={avg:.0f}"
    )


def evaluate_task_policies(results: Sequence[TaskPolicyResult]) -> bool:
    """True iff all non-optional policies passed (TaskLevelPolicy FAIL
    semantics gate the publish step — see sinks/publish.py)."""
    return all(r.passed or r.optional for r in results)


def trailing_count_anomalies(
    df: DataFrame,
    bucket_col: str,
    window_rows: int = 7,
    z_threshold: float = 3.0,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Volume-anomaly detection over per-bucket row counts: each
    bucket's count is z-scored against the TRAILING ``window_rows``
    buckets (current bucket excluded), flagging ingest drops/spikes —
    the continuous-monitoring face of the one-shot audit policies
    above (row_count_range_policy gets its bounds from history instead
    of configuration; reference analogue: the audit-count completeness
    checks of KafkaAuditCountVerifier.java:44 applied along time).

    All window arithmetic starts from EXACT integer counts, uses one
    expression shape (sample variance = n/(n-1) * (E[c^2] - E[c]^2)),
    and needs >= 3 trailing buckets — engine-portable without rounding
    tricks. Output: keys + (bucket, n_rows, mean rounded 4, z rounded
    4, is_anomaly). 100 TB shape: one groupBy on (keys, bucket) — the
    z-scoring runs over the tiny per-bucket count table, partitioned
    by keys when given (SinglePartition only for a global single
    series, which is by then ~days long).
    """
    from pyspark.sql.window import Window

    counts = df.groupBy(*keys, bucket_col).agg(
        F.count(F.lit(1)).alias("n_rows"))
    w = (
        Window.partitionBy(*keys).orderBy(bucket_col)
        .rowsBetween(-window_rows, -1)
    )
    n = F.count("n_rows").over(w)
    mean = F.avg("n_rows").over(w)
    m2 = F.avg(F.col("n_rows") * F.col("n_rows")).over(w)
    var = (m2 - mean * mean) * n / (n - F.lit(1))
    z = F.when(
        (n >= 3) & (var > 0),
        (F.col("n_rows") - mean) / F.sqrt(var),
    )
    return counts.select(
        *keys,
        bucket_col,
        "n_rows",
        F.round(mean, 4).alias("trailing_mean"),
        F.round(z, 4).alias("z"),
        # var == 0 means a perfectly constant history — the clearest
        # anomaly baseline there is. z is undefined (division by 0)
        # but the flag isn't: any deviation from the constant is an
        # anomaly. `<= 0` absorbs float round-off on constant counts.
        F.when(z.isNotNull(), F.abs(z) > F.lit(z_threshold))
        .when((n >= 3) & (var <= 0), F.col("n_rows") != mean)
        .alias("is_anomaly"),
    )


def expectations_report(
    df: DataFrame,
    expectations: Sequence[tuple[str, Column]],
    unique_cols: Sequence[str] = (),
) -> DataFrame:
    """Data-contract evaluation (the expectation-suite pattern): every
    row-level expectation is a named boolean Column, ALL of them
    evaluated in ONE scan as conditional sums — (expectation, n_rows,
    n_violations) per contract clause. ``unique_cols`` adds
    uniqueness contracts (each costs one distinct-count aggregation —
    the only non-single-pass clause, priced accordingly).

    This is the REPORTING face of the row policies above: policies
    route rows (pass/quarantine), expectations grade datasets — same
    predicates, different consumer (contract dashboards, CI gates on
    data). Violation counts are exact integers, so external engines
    verify the report value-for-value."""
    n = F.count(F.lit(1))
    aggs = [n.alias("_n")]
    for name, cond in expectations:
        aggs.append(
            F.sum((~F.coalesce(cond, F.lit(False))).cast("long"))
            .alias(f"_v_{name}"))
    row = df.agg(*aggs)
    # ONE scan genuinely: explode the per-expectation results out of
    # the single aggregate row (a union of per-expectation projections
    # would re-run the whole aggregation per branch — Spark does not
    # reuse non-exchange subplans across union arms)
    pairs = F.array(*[
        F.struct(
            F.lit(name).alias("expectation"),
            F.col(f"_v_{name}").alias("n_violations"),
        )
        for name, _ in expectations
    ])
    out = (
        row.select(F.col("_n").alias("n_rows"),
                   F.explode(pairs).alias("_p"))
        .select("_p.expectation", "n_rows", "_p.n_violations")
    )
    for c in unique_cols:
        uniq = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.countDistinct(c)).alias("n_violations"),
        ).select(
            F.lit(f"unique:{c}").alias("expectation"),
            "n_rows",
            F.col("n_violations").cast("long").alias("n_violations"),
        )
        out = out.unionByName(uniq)
    return out
