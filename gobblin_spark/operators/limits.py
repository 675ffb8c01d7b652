"""Limiters & top-k: record caps, rate limits, newest-K selection.

Reference: the Limiter family — CountBasedLimiter, RateBasedLimiter,
TimeBasedLimiter + LimitingExtractorDecorator
(gobblin-runtime/.../CountBasedLimiter.java, RateBasedLimiter.java:29,
LimitingExtractorDecorator.java) cap what an extractor may pull; the
retention NewestKSelectionPolicy is the reference's only top-k.

Spark mapping: count cap = limit(); deterministic top-k = ORDER BY +
LIMIT, which Spark executes as TakeOrderedAndProject (per-partition
heap + driver merge — no full sort, no full shuffle; exactly the right
plan at 100 TB). Rate/time limits belong to the streaming source
(maxFilesPerTrigger on ``streaming.runner.file_stream``, Spark's own
maxOffsetsPerTrigger for Kafka), not to a batch operator.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame


def count_limit(df: DataFrame, n: int) -> DataFrame:
    """CountBasedLimiter — cap total records."""
    return df.limit(n)


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Deterministic top-k (caller supplies a total order incl. tiebreak).

    Physical plan: TakeOrderedAndProject — per-partition bounded heap,
    single driver merge of k·num_partitions rows.
    """
    return df.orderBy(*order).limit(k)
