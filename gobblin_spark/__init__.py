"""gobblin_spark — a PySpark-native data-integration & lake-maintenance
engine with the capabilities of apache/gobblin (see SURVEY.md), plus
large-scale training-data operators (dedup, similarity, text analysis,
multimodal plumbing).

Layout:
- session: tuned SparkSession factory
- sources/: file, JDBC-incremental, REST, copy-manifest readers; Kafka offset planning
- operators/: converters, quality, fork, compaction, retention, windows, limits
- functions/: text analysis, document dedup, embedding similarity, multimodal
- sinks/: writers + atomic publish protocol
- streaming/: foreachBatch pipeline runner (epochs, quarantine, late data)
- state: watermark/HWM state store
- plans/: declarative pipeline spec → execution
"""

from gobblin_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
