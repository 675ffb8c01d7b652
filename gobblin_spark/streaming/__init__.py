"""Streaming layer: sources, flush-epoch runner, late-data routing,
changelog-mode table-format consumption."""

from gobblin_spark.streaming.changelog_stream import IcebergChangelogStream
from gobblin_spark.streaming.runner import (
    IngestSpec,
    EpochStats,
    file_stream,
    rate_stream,
    run_ingest,
    run_ingest_blocking,
    split_late,
    windowed_counts,
    stream_to_memory,
    LATE_DIR,
    QUARANTINE_DIR,
)

__all__ = [
    "IcebergChangelogStream",
    "IngestSpec",
    "EpochStats",
    "file_stream",
    "rate_stream",
    "run_ingest",
    "run_ingest_blocking",
    "split_late",
    "windowed_counts",
    "stream_to_memory",
    "LATE_DIR",
    "QUARANTINE_DIR",
]
