"""The closed-loop workloads.

Each workload runs its operations back to back from one driver thread.
``prepare`` generates the seeded inputs, ``warm`` runs the same plan
shapes on a small input, and ``step`` runs one loop iteration: it
appends (kind, wall, CPU) for each timed operation to the list it is
given and returns the input rows it processed. Input generation and
output checks run between the timed operations, never inside them.

``ingest_publish`` and ``curate_dedup`` are the BENCHMARK.json
workloads.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import pyarrow as pa
import pyarrow.compute  # noqa: F401 - pa.compute
import pyarrow.parquet as pq

from perfbench import gen


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total


class Workload:
    """Shared bookkeeping: timed operations, input rows, checks."""

    def __init__(self, spark, work: str, seed: int, tracer, meter):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.meter = meter  # stats.CpuMeter of this process tree
        self.checks = 0
        self.failed_checks: list[str] = []
        self.input_bytes = 0

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.failed_checks.append(what)

    def timed(self, kind: str, fn, ops: list):
        """Run *fn* as one timed operation of *kind*; append
        (kind, wall seconds, CPU seconds less JIT compilation) to *ops*."""
        cpu0 = self.meter.work_cpu()
        t0 = time.perf_counter()
        with self.tracer.span(f"op.{kind}"):
            result = fn()
        wall = time.perf_counter() - t0
        ops.append((kind, wall, self.meter.work_cpu() - cpu0))
        return result


# ------------------------------------------------------------- ingest
class IngestPublish(Workload):
    """Incremental ``plans.Pipeline`` jobs over seeded watermark slices
    of a ``lineitem`` landing dataset: converters, a row-quality split
    with quarantine, a two-branch fork (one branch partitioned), staged
    write, job commit, watermark commit."""

    name = "ingest_publish"
    primary = "job"
    SLICE_ROWS = 50_000
    WARM_ROWS = 10_000

    def prepare(self):
        from gobblin_spark import state

        self.landing = f"{self.work}/landing"
        self.out = f"{self.work}/out"
        os.makedirs(self.landing, exist_ok=True)
        self.store = state.WatermarkStore(self.spark, f"{self.out}/_state")
        self.slices = 0
        self.expected = {"passed": 0, "quarantined": 0, "hwm": 0}

    def _add_slice(self, rows: int) -> dict:
        table, exp = gen.lineitem_slice(self.seed, self.slices,
                                        self.expected["hwm"], rows)
        self.input_bytes += gen.write_parquet(
            table, f"{self.landing}/slice-{self.slices:05d}.parquet")
        self.slices += 1
        return exp

    def pipeline(self, pull):
        from pyspark.sql import functions as F

        from gobblin_spark.operators import converters as C, quality as Q
        from gobblin_spark.plans import Branch, Pipeline

        def revenue(df):
            return df.withColumn(
                "l_revenue",
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))

        return Pipeline(
            source=lambda s: pull.df,
            transforms=[
                lambda df: C.cast_columns(df, {"l_linenumber": "long"}),
                revenue,
                lambda df: C.project_drop(df, ["l_tax"]),
            ],
            row_policies=[
                Q.not_null_policy(["l_orderkey", "l_partkey"]),
                Q.range_policy("l_quantity", 1.0, 50.0),
                Q.range_policy("l_discount", 0.0, 0.1),
            ],
            branches=[
                Branch("big", mask=F.col("l_revenue") >= gen.BIG_REVENUE,
                       final_dir=f"{self.out}/big",
                       partition_by=["l_returnflag"]),
                Branch("small", mask=F.col("l_revenue") < gen.BIG_REVENUE,
                       final_dir=f"{self.out}/small"),
            ],
            quarantine_dir=f"{self.out}/quarantine",
            job_id=f"job{self.slices:05d}",
        )

    def job(self, rows: int, ops: list) -> int:
        from gobblin_spark import state
        from gobblin_spark.plans import pipeline as PL
        from gobblin_spark.sources import files

        exp = self._add_slice(rows)
        # the landing dir holds the new slice and the one pulled before
        # it (which the watermark must skip), so every job lists and
        # plans the same number of files however long the run
        if self.slices > 2:
            os.remove(f"{self.landing}/slice-{self.slices - 3:05d}.parquet")

        def run_job():
            src = files.read_parquet(self.spark, self.landing)
            pull = state.pull_incremental(src, "l_rowid", self.store,
                                          "lineitem", hwm=exp["hwm"])
            res = PL.run(self.pipeline(pull), self.spark)
            if res.report is not None and res.report.committed:
                pull.commit()
            return res

        res = self.timed("job", run_job, ops)
        lineage = res.events[-1].metadata if res.events else {}
        big, small = (int(lineage.get(f"rows.{b}", -1))
                      for b in ("big", "small"))
        self.check(res.report is not None and res.report.committed
                   and not res.report.failed, "job committed")
        self.check(res.quarantined == exp["quarantined"]
                   and big + small == exp["passed"],
                   "passed + quarantined == slice rows")
        self.check(big == exp["big"], "branch rows match the fork mask")
        self.expected["passed"] += exp["passed"]
        self.expected["quarantined"] += exp["quarantined"]
        self.expected["hwm"] = exp["hwm"]
        return rows

    def warm(self, ops: list) -> int:
        return self.job(self.WARM_ROWS, ops)

    def step(self, ops: list) -> int:
        return self.job(self.SLICE_ROWS, ops)

    def final_checks(self):
        from pyspark.sql import functions as F

        n, top = self.spark.read.parquet(f"{self.out}/big").unionByName(
            self.spark.read.parquet(f"{self.out}/small"),
            allowMissingColumns=True).agg(
                F.count(F.lit(1)), F.max("l_rowid")).first()
        self.check(n == self.expected["passed"],
                   "published dirs read back every passed row")
        self.check(top <= self.expected["hwm"], "no row past the watermark")
        q = pq.read_table(f"{self.out}/quarantine").num_rows
        self.check(q == self.expected["quarantined"],
                   "quarantine holds every dirty row")
        self.check(self.store.get("lineitem") == self.expected["hwm"],
                   "last watermark equals the last slice bound")

    def stored_bytes(self) -> int:
        return dir_bytes(self.out)


# ------------------------------------------------------------ curation
class CurateDedup(Workload):
    """Curation passes over a seeded corpus: the ``functions.text``
    quality score as a row policy, then exact dedup (min id per text)
    and keep-best dedup (highest score per text). Each step ends in a
    write; nothing is published or committed.

    MinHash-LSH near-duplicate pairs are left out of the pass: on a
    4-vCPU host a pass with them over 20,000 documents took 13 s cold
    and was still falling after 14 passes (9.4 s to 7.4 s), and one over
    1,000 documents took 2.3 s, mostly fixed per-job cost, still falling
    after 20 passes; neither leaves a timed window inside the run
    length the benchmark has."""

    name = "curate_dedup"
    primary = "job"
    DOCS = 3_000
    WARM_DOCS = 1_000
    QUALITY_MIN = 0.6

    def prepare(self):
        self.inputs = f"{self.work}/inputs"
        self.out = f"{self.work}/out"
        os.makedirs(self.inputs, exist_ok=True)
        self.corpora = {}
        for label, docs in (("warm", self.WARM_DOCS),
                            ("full", self.DOCS)):
            table, exp = gen.corpus(self.seed, docs)
            path = f"{self.inputs}/{label}.parquet"
            self.corpora[label] = {
                "path": path,
                "rows": table.num_rows,
                "bytes": gen.write_parquet(table, path),
                "kept": table.num_rows - len(exp["junk_ids"]),
                **self._expected(path, exp["junk_ids"]),
            }
        self.passes = 0
        self.last_out = None

    @staticmethod
    def _expected(path: str, junk_ids) -> dict:
        """Per distinct text among the documents the quality filter
        keeps: the smallest id (exact dedup) and the best-scoring id,
        ties to the smaller id (keep-best dedup)."""
        db = duckdb.connect()
        db.execute("create table junk(id bigint)")
        db.executemany("insert into junk values (?)", [(i,) for i in junk_ids])
        db.execute(f"create view kept as select * from '{path}' "
                   "where doc_id not in (select id from junk)")
        out = {}
        for key, order in (("survivors", "doc_id"),
                           ("best", "score desc, doc_id")):
            rows = db.execute(
                "select doc_id from (select doc_id, row_number() over "
                f"(partition by text order by {order}) rn from kept) "
                "where rn = 1").fetchall()
            out[key] = {r[0] for r in rows}
        db.close()
        return out

    def curation_pass(self, label: str, ops: list) -> int:
        from pyspark.sql import functions as F

        from gobblin_spark.functions import dedup, text
        from gobblin_spark.operators import quality
        from gobblin_spark.sinks.writers import write_data
        from gobblin_spark.sources import files

        corpus = self.corpora[label]
        path = corpus["path"]
        out = f"{self.out}/p{self.passes:05d}"
        spark = self.spark

        def one_pass():
            docs = files.read_parquet(spark, path)
            kept, _ = quality.check_rows(docs, [quality.RowPolicy(
                "quality", text.quality_score(F.col("text"))
                >= self.QUALITY_MIN)])
            with self.tracer.span("functions.dedup.dedup_exact"):
                exact = dedup.dedup_exact(kept, "doc_id", "text")
                write_data(exact, f"{out}/exact")
            with self.tracer.span("functions.dedup.dedup_keep_best"):
                best = dedup.dedup_keep_best(kept, "doc_id", "text", "score")
                write_data(best, f"{out}/best")

        self.timed("job", one_pass, ops)
        exact = pq.read_table(f"{out}/exact", columns=["doc_id"])
        best = pq.read_table(f"{out}/best", columns=["doc_id", "dup_count"])
        self.check(set(exact.column(0).to_pylist()) == corpus["survivors"],
                   "exact-dedup survivors match DuckDB")
        self.check(set(best.column(0).to_pylist()) == corpus["best"],
                   "keep-best picks match DuckDB")
        self.check(pa.compute.sum(best.column(1)).as_py() == corpus["kept"],
                   "keep-best groups cover every kept document")
        if self.last_out:  # keep only the newest pass on disk
            shutil.rmtree(self.last_out)
        self.last_out = out
        self.input_bytes = corpus["bytes"]  # one pass reads one corpus
        self.passes += 1
        return corpus["rows"]

    def warm(self, ops: list) -> int:
        return self.curation_pass("warm", ops)

    def step(self, ops: list) -> int:
        return self.curation_pass("full", ops)

    def final_checks(self):
        pass

    def stored_bytes(self) -> int:
        return dir_bytes(self.last_out)


WORKLOADS = {w.name: w for w in (IngestPublish, CurateDedup)}
