"""Kafka work-unit planning: per-partition offset intervals with the
reference's bootstrap / out-of-range reset semantics, runnable against
any client implementing the tiny consumer contract — including the
file-backed stub used where no broker exists.

Reference mapping (all relative to /root/reference/):
- KafkaSource.getWorkunits (gobblin-modules/gobblin-kafka-common/.../
  kafka/KafkaSource.java:198,498): fetch earliest/latest offsets for
  every partition, one work unit per partition with
  [start_offset, end_offset) watermarks.
- Start-offset selection (KafkaSource.java:577-650): previous offset
  when present; else bootstrap.with.offset ∈ {latest, earliest,
  offset_lookback, skip}; out-of-range starts resolve per
  reset.on.offset.out.of.range ∈ {latest, earliest, nearest, skip}
  (nearest → latest when start ≥ latest else earliest).
- Offset-fetch failures (KafkaSource.java:563-575): the partition is
  skipped with an EMPTY work unit so the previous offset persists.
- Topic whitelist/blacklist regex filtering (getFilteredTopics).

Spark design: planning is driver-side metadata (offsets are a few
longs per partition — exactly the reference's shape). The PULL is a
DataFrame filter-join of the message stream against the planned
intervals: with the real connector that is ``spark.read.format("kafka")``
with startingOffsets/endingOffsets JSON (``offsets_json`` below);
with the file-backed stub it is the same interval predicate over a
(topic, partition, offset, ...) table — identical plan shape, no
broker required."""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from collections.abc import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, functions as F

LATEST = "latest"
EARLIEST = "earliest"
LOOKBACK = "offset_lookback"
NEAREST = "nearest"
SKIP = "skip"


@dataclass(frozen=True)
class TopicPartition:
    topic: str
    partition: int


@dataclass
class KafkaWorkUnit:
    """One partition's bounded pull: [start_offset, end_offset)."""

    topic: str
    partition: int
    start_offset: int
    end_offset: int

    @property
    def empty(self) -> bool:
        return self.start_offset >= self.end_offset


class FileBackedKafkaStub:
    """The consumer-client contract (earliest/latest offset fetch +
    topic listing) served from a DataFrame of messages with columns
    (topic, partition, offset, ...) — a broker-less stand-in whose
    offset semantics match Kafka's: earliest = min offset, latest =
    max offset + 1 (the NEXT offset to be produced)."""

    def __init__(self, messages: DataFrame):
        rows = (
            messages.groupBy("topic", "partition")
            .agg(F.min("offset").alias("lo"), F.max("offset").alias("hi"))
            .collect()
        )
        self._earliest = {TopicPartition(r.topic, r.partition): r.lo for r in rows}
        self._latest = {TopicPartition(r.topic, r.partition): r.hi + 1 for r in rows}

    def get_topics(self) -> dict[str, list[int]]:
        out: dict[str, list[int]] = {}
        for tp in sorted(self._earliest, key=lambda t: (t.topic, t.partition)):
            out.setdefault(tp.topic, []).append(tp.partition)
        return out

    def get_earliest_offsets(self, partitions: Iterable[TopicPartition]):
        return {tp: self._earliest[tp] for tp in partitions if tp in self._earliest}

    def get_latest_offsets(self, partitions: Iterable[TopicPartition]):
        return {tp: self._latest[tp] for tp in partitions if tp in self._latest}


def filter_topics(
    topics: Iterable[str],
    whitelist: Sequence[str] = (),
    blacklist: Sequence[str] = (),
) -> list[str]:
    """KafkaSource topic selection: whitelist regexes (empty = all)
    minus blacklist regexes, full-match, case-insensitive."""

    def matches(patterns: Sequence[str], name: str) -> bool:
        return any(re.fullmatch(p, name, re.IGNORECASE) for p in patterns)

    out = []
    for t in sorted(set(topics)):
        if whitelist and not matches(whitelist, t):
            continue
        if matches(blacklist, t):
            continue
        out.append(t)
    return out


def plan_work_units(
    client,
    previous_offsets: Mapping[TopicPartition, int] | None = None,
    whitelist: Sequence[str] = (),
    blacklist: Sequence[str] = (),
    bootstrap_with_offset: str = LATEST,
    reset_on_out_of_range: str = NEAREST,
    offset_lookback: int = 0,
    move_to_latest: bool = False,
) -> list[KafkaWorkUnit]:
    """KafkaSource.java:498 — one work unit per partition with
    [start, end) = [resolved start offset, latest]. Start resolution
    follows KafkaSource.java:577-650 exactly; partitions whose offsets
    cannot be fetched get an EMPTY unit at the previous offset so the
    watermark persists (KafkaSource.java:563)."""
    previous_offsets = dict(previous_offsets or {})
    # ONE topic-metadata fetch: against a real broker a second call is
    # a second RPC, and a topic list that changes between the two
    # calls KeyErrors the partition lookup (audit r9)
    topic_parts = client.get_topics()
    topics = filter_topics(topic_parts, whitelist, blacklist)
    parts = [
        TopicPartition(t, p)
        for t in topics
        for p in topic_parts[t]
    ]
    earliest = client.get_earliest_offsets(parts)
    latest = client.get_latest_offsets(parts)

    units: list[KafkaWorkUnit] = []
    for tp in parts:
        prev = previous_offsets.get(tp)
        if tp not in earliest or tp not in latest:
            # offset fetch failed: empty unit preserves the previous
            # offset; with no previous offset there is nothing to keep
            if prev is not None:
                units.append(KafkaWorkUnit(tp.topic, tp.partition, prev, prev))
            continue
        lo, hi = earliest[tp], latest[tp]

        def resolve_out_of_range(start: int) -> int | None:
            if reset_on_out_of_range == LATEST:
                return hi
            if reset_on_out_of_range == NEAREST:
                return hi if start >= hi else lo
            if reset_on_out_of_range == EARLIEST:
                return lo
            return None  # skip

        if move_to_latest:
            start = hi
        elif prev is None:
            if bootstrap_with_offset == LATEST:
                start = hi
            elif bootstrap_with_offset == EARLIEST:
                start = lo
            elif bootstrap_with_offset == LOOKBACK:
                start = hi - offset_lookback
                if not (lo <= start <= hi):
                    start = resolve_out_of_range(start)
            else:  # skip: nothing to persist, no unit at all
                continue
        else:
            start = prev
            if not (lo <= start <= hi):
                start = resolve_out_of_range(start)
        if start is None:
            # skipped out-of-range partition still persists prev
            units.append(KafkaWorkUnit(tp.topic, tp.partition, prev or 0, prev or 0))
            continue
        units.append(KafkaWorkUnit(tp.topic, tp.partition, start, hi))
    return units


def offsets_json(units: Sequence[KafkaWorkUnit]) -> tuple[str, str]:
    """(startingOffsets, endingOffsets) JSON for Spark's real Kafka
    batch source — the handoff from this planner to
    ``spark.read.format('kafka')``, whose own connector owns offsets
    and delivery."""
    start: dict[str, dict[str, int]] = {}
    end: dict[str, dict[str, int]] = {}
    for u in units:
        start.setdefault(u.topic, {})[str(u.partition)] = u.start_offset
        end.setdefault(u.topic, {})[str(u.partition)] = u.end_offset
    return json.dumps(start), json.dumps(end)


def read_intervals(
    messages: DataFrame, units: Sequence[KafkaWorkUnit]
) -> DataFrame:
    """Execute the planned pull against a message table with columns
    (topic, partition, offset, ...): a BROADCAST join on the tiny
    interval manifest, so the message scan never shuffles and partition
    pruning applies when the table is partitioned by topic."""
    spark = messages.sparkSession
    manifest = spark.createDataFrame(
        [(u.topic, u.partition, u.start_offset, u.end_offset)
         for u in units if not u.empty],
        "topic string, partition int, _lo long, _hi long",
    )
    return (
        messages.join(F.broadcast(manifest), ["topic", "partition"])
        .filter((F.col("offset") >= F.col("_lo")) & (F.col("offset") < F.col("_hi")))
        .drop("_lo", "_hi")
    )
