"""Exact dedups over an input that fits one task: the input is read as
one partition, so the partial and final aggregates and the write run in
the scan's one task — one Spark job, no exchange — and the rows are the
same ``row_number() = 1`` survivors DuckDB picks. Inputs above the size
bound, and inputs an upstream ``ensure_parallelism`` already widened,
keep their hash exchange."""

import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gobblin_spark.functions import dedup
from gobblin_spark.session import ensure_parallelism
from gobblin_spark.sources import files

# normalize_text + md5 in DuckDB; null text groups alone
_GROUP_SQL = """
    SELECT *, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
              AS fp
    FROM read_parquet('{path}')
"""

_VARIANTS = ["Hello world", "hello, WORLD!", "  hello   world ",
             "Spark dedup test", "spark-dedup test.", "unique {i}",
             "The quick brown fox", "the quick  brown fox?"]


def _write_corpus(path, n, seed=5, random_text=False):
    rng = random.Random(seed)
    ids, texts, scores = [], [], []
    for i in range(n):
        if random_text:
            t = "".join(rng.choice("abcdefghij ") for _ in range(150))
        elif i % 17 == 0:
            t = None
        else:
            t = rng.choice(_VARIANTS).format(i=i)
        ids.append(i)
        texts.append(t)
        # few distinct values, so groups tie; every 11th score is null
        scores.append(None if i % 11 == 0 else float(rng.randint(1, 3)))
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string()),
                             "score": pa.array(scores, pa.float64())}),
                   path, compression="none")
    return path


def _truth(path, order, cols):
    sql = f"""
        SELECT {cols} FROM (
          SELECT *, row_number() OVER w AS rn,
                 count(*) OVER (PARTITION BY g) AS dup_count
          FROM (SELECT *, coalesce(fp, 'solo' || doc_id) AS g
                FROM ({_GROUP_SQL.format(path=path)}))
          WINDOW w AS (PARTITION BY g ORDER BY {order}))
        WHERE rn = 1"""
    return sorted(duckdb.connect().execute(sql).fetchall(),
                  key=lambda r: r[0])


def _run(spark, out, tmp_path, name):
    """Write *out*; return (Spark jobs it ran, executed plan, rows)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out.write.parquet(str(tmp_path / name))
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    plan = out._jdf.queryExecution().executedPlan().toString()
    rows = sorted((tuple(r) for r in spark.read.parquet(
        str(tmp_path / name)).select(*out.columns).collect()),
        key=lambda r: r[0])
    return len(jobs), plan, rows


@pytest.fixture
def small(tmp_path):
    return _write_corpus(str(tmp_path / "small.parquet"), 300)


def test_exact_dedup_fits_one_task(spark, small, tmp_path):
    docs = files.read_parquet(spark, small)
    jobs, plan, rows = _run(
        spark, dedup.dedup_exact(docs, "doc_id", "text"), tmp_path, "ex")
    assert jobs == 1, plan
    assert "Exchange" not in plan, plan
    assert rows == _truth(small, "doc_id", "doc_id, fp, dup_count")
    assert any(r[1] is None for r in rows)


def test_keep_best_fits_one_task(spark, small, tmp_path):
    docs = files.read_parquet(spark, small)
    jobs, plan, rows = _run(
        spark, dedup.dedup_keep_best(docs, "doc_id", "text", "score"),
        tmp_path, "best")
    assert jobs == 1, plan
    assert "Exchange" not in plan, plan
    assert rows == _truth(small, "score DESC NULLS LAST, doc_id",
                          "doc_id, fp, score, dup_count")


@pytest.mark.parametrize("fn", ["exact", "keep_best"])
def test_wide_inputs_keep_the_hash_exchange(spark, small, tmp_path, fn):
    """Above the bound, and after an upstream widening: a coalesce there
    would fold a stage sized for many tasks into one."""
    big = _write_corpus(str(tmp_path / "big.parquet"), 2000,
                        random_text=True)
    widened = ensure_parallelism(files.read_parquet(spark, small),
                                 min_partitions=4, bytes_per_task=1024)
    for docs in (files.read_parquet(spark, big), widened):
        out = (dedup.dedup_exact(docs, "doc_id", "text") if fn == "exact"
               else dedup.dedup_keep_best(docs, "doc_id", "text", "score"))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in plan, plan
        assert "Coalesce" not in plan, plan
