"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual catalog lives in ``gobblin_spark/queries.py`` — one entry
per implemented operator from SURVEY.md §2 plus the LLM-pipeline
operators (dedup / similarity / text / multimodal). Queries that
depend on xxhash64 or LSH bucketing have no SQL oracle and get the
driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gobblin_spark import queries as _catalog


def entry(spark: SparkSession) -> DataFrame:
    """Flagship pipeline on /root/testdata/sf0.001, declared as a
    ``plans.Pipeline`` spec (Constructs.java:33-50 chain): source →
    converter chain → row-quality split → key-dedup compaction →
    rollup. The spec composes ONE lazy plan, so Catalyst pushes the
    projection and filters into the parquet scan across stage
    boundaries."""
    from pyspark.sql import functions as F

    from gobblin_spark import plans
    from gobblin_spark.operators import compaction, converters as C, quality
    from gobblin_spark.sources.files import load_table

    sf_dir = "/root/testdata/sf0.001"
    pl = plans.Pipeline(
        source=lambda s: load_table(s, sf_dir, "lineitem"),
        transforms=[
            lambda d: C.pick_fields(
                d,
                [
                    "l_orderkey",
                    "l_linenumber",
                    "l_quantity",
                    "l_extendedprice",
                    "l_discount",
                    "l_returnflag",
                    "l_linestatus",
                    "l_shipdate",
                ],
            ),
            lambda d: C.filter_regex(d, "l_returnflag", "^[ANR]$"),
        ],
        row_policies=[
            quality.not_null_policy(["l_orderkey", "l_shipdate"]),
            quality.range_policy("l_quantity", 0.0, 1e6),
        ],
        branches=[
            plans.Branch(
                "rollup",
                mask=None,
                transforms=[
                    # compaction: one row per key, newest ship date wins
                    lambda d: compaction.dedup_by_key(
                        d, ["l_orderkey", "l_linenumber"], ["l_shipdate"]
                    ),
                    lambda d: d.groupBy("l_returnflag", "l_linestatus").agg(
                        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                        F.round(
                            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                            2,
                        ).alias("sum_disc_price"),
                        F.count(F.lit(1)).alias("count_order"),
                    ),
                ],
            )
        ],
    )
    return plans.run(pl, spark).dataframes["rollup"]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_catalog.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query."""
    return dict(_catalog.ORACLES)
