"""Fork operator: route/duplicate one stream into N branches.

Reference: ``ForkOperator.forkDataRecord(state, record) → List<Boolean>``
— a per-record mask saying which branches consume the record
(gobblin-api/.../fork/ForkOperator.java:36,70). IdentityForkOperator
duplicates to all branches (gobblin-core/.../fork/IdentityForkOperator.java:36);
``Forker`` applies the mask and deep-copies when >1 branch consumes
(gobblin-api/.../fork/Forker.java:44,55-101). Each runtime Fork runs its
own converter→quality→writer chain on a bounded queue
(gobblin-runtime/.../fork/Fork.java:94,190-256).

Spark design: a branch is a filter predicate over an (optionally
persisted) parent DataFrame — Rows are immutable so Gobblin's copy
machinery (CopyHelper) is moot. ``plans.pipeline.run`` persists the
flagged parent once, so N sinks cost ONE source scan + N cheap filtered
writes, the same single-read fan-out Gobblin gets from its in-memory
queues. In streaming, the same happens per micro-batch inside
foreachBatch (see streaming/runner.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def identity_fork(df: DataFrame, n_branches: int) -> list[DataFrame]:
    """IdentityForkOperator.java:36 — every branch sees every record."""
    return [df for _ in range(n_branches)]


def fork(df: DataFrame, masks: Sequence[Column]) -> list[DataFrame]:
    """Forker.java:55-101 — branch i receives rows where masks[i] holds.

    Masks may overlap (a row can be consumed by several branches) or be
    non-exhaustive (rows matching no mask are dropped), exactly like the
    reference's List<Boolean> contract.
    """
    return [df.filter(m) for m in masks]


def with_branch_ids(df: DataFrame, masks: Sequence[Column]) -> DataFrame:
    """Annotate rows with every branch id whose mask matches (exploded).

    Equivalent information to the reference's per-record boolean list;
    useful for auditing routing and for single-write partitioned fan-out
    (write once partitionBy(branch) instead of N writers).
    """
    branch_array = F.array(
        *[F.when(m, F.lit(i)) for i, m in enumerate(masks)]
    )
    return df.withColumn(
        "branch", F.explode(F.filter(branch_array, lambda x: x.isNotNull()))
    )
