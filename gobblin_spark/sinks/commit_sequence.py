"""Commit sequences: durable, replayable multi-step commits for
exactly-once publish semantics.

Reference mapping (all relative to /root/reference/):
- CommitSequence + CommitStep (gobblin-api/.../commit/CommitSequence.java,
  CommitStep.java): an ordered list of idempotent steps (rename dirs,
  commit watermarks, register tables) persisted BEFORE execution; a
  crash mid-sequence is recovered by re-executing the sequence — each
  step checks ``is_completed`` first, so replays are no-ops.
- CommitSequenceStore (gobblin-runtime/.../FsCommitSequenceStore.java):
  filesystem persistence of pending sequences, deleted on completion.
- SafeDatasetCommit builds one sequence per dataset when exactly-once
  delivery is enabled (gobblin-runtime/.../SafeDatasetCommit.java:67).

Execution model: the steps are driver-side METADATA operations (rename,
tiny JSON writes) — the data itself was already staged in a fully
parallel write. Exactly-once comes from idempotence + ordering, not
from distributed transactions: rename-to-final is atomic per dataset,
watermark-commit happens strictly after, and both are safe to replay.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from gobblin_spark.claim import claim
from gobblin_spark.sinks import publish as P
from gobblin_spark.state import WatermarkStore


@dataclass
class Step:
    kind: str  # "publish" | "watermark" | "marker"
    params: dict
    done: bool = False


@dataclass
class Sequence:
    job_id: str
    steps: list[Step] = field(default_factory=list)


def publish_step(staging_dir: str, final_dir: str) -> Step:
    """Atomic dataset publish (idempotent: a vanished staging dir with a
    published final means the rename already happened)."""
    return Step("publish", {"staging_dir": staging_dir, "final_dir": final_dir})


def watermark_step(store_root: str, dataset: str, value_json: dict) -> Step:
    """Watermark commit AFTER publish (idempotent: skip if the current
    watermark already reached this value)."""
    return Step("watermark", {"root": store_root, "dataset": dataset,
                              "value": value_json})


def marker_step(path: str) -> Step:
    """Touch a completion marker file (idempotent by existence)."""
    return Step("marker", {"path": path})


_SEQ_NAME = re.compile(r"^seq-(.+)\.v(\d+)\.json$")


class CommitSequenceStore:
    """FsCommitSequenceStore: persist → execute → delete. Pending
    sequences found at startup are crash leftovers — re-execute them.

    All storage goes through the Hadoop FS client (audit-r7: the os.*
    version pinned the journal to the LOCAL filesystem — on a cluster
    the sequence store must live on shared storage or a driver restart
    loses every pending commit). Journals are VERSIONED
    (``seq-<job>.v<n>.json``): each persist claims the next version
    (complete or absent, see :mod:`gobblin_spark.claim`) then prunes
    older ones. Recovery takes the newest version that parses, so a
    torn one left by the claim's O_EXCL fallback falls back to its
    predecessor."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        fs, rootp, _ = P._fs(spark, self.root)
        fs.mkdirs(rootp)

    def _versions(self, job_id: str | None = None) -> list[tuple[str, int, str]]:
        """(job_id, version, path) for every journal file, sorted."""
        fs, rootp, _ = P._fs(self.spark, self.root)
        out = []
        for st in fs.listStatus(rootp):
            m = _SEQ_NAME.match(st.getPath().getName())
            if m and (job_id is None or m.group(1) == job_id):
                out.append((m.group(1), int(m.group(2)),
                            st.getPath().toString()))
        return sorted(out)

    def _read(self, path: str) -> dict:
        fs, _, jvm = P._fs(self.spark, self.root)
        return P.read_json_file(fs, jvm, path)

    def persist(self, seq: Sequence) -> None:
        payload = {
            "job_id": seq.job_id,
            "steps": [{"kind": s.kind, "params": s.params, "done": s.done}
                      for s in seq.steps],
        }
        fs, _, jvm = P._fs(self.spark, self.root)
        old = self._versions(seq.job_id)
        n = (old[-1][1] + 1) if old else 1
        p = f"{self.root}/seq-{seq.job_id}.v{n}.json"
        if not claim(p, json.dumps(payload).encode("utf-8"), fs):
            raise FileExistsError(
                f"{p}: another executor of job {seq.job_id!r} wrote "
                "this journal version")
        for _, _, stale in old:  # prune AFTER the new version is durable
            fs.delete(jvm.org.apache.hadoop.fs.Path(stale), False)

    def pending(self) -> list[Sequence]:
        by_job: dict[str, list[tuple[int, str]]] = {}
        for job, ver, path in self._versions():
            by_job.setdefault(job, []).append((ver, path))
        out = []
        for job in sorted(by_job):
            # newest parseable version wins; a torn newest journal
            # (crash mid-write) falls back to its predecessor
            for _, path in sorted(by_job[job], reverse=True):
                try:
                    rec = self._read(path)
                except Exception:
                    continue
                out.append(Sequence(
                    rec["job_id"],
                    [Step(s["kind"], s["params"], s.get("done", False))
                     for s in rec["steps"]],
                ))
                break
        return out

    def delete(self, job_id: str) -> None:
        fs, _, jvm = P._fs(self.spark, self.root)
        for _, _, path in self._versions(job_id):
            fs.delete(jvm.org.apache.hadoop.fs.Path(path), False)

    # -- step execution (each idempotent) -----------------------------
    def _run_step(self, step: Step) -> None:
        if step.kind == "publish":
            staged = P.StagedDataset(
                step.params["final_dir"], step.params["staging_dir"],
                step.params["final_dir"],
            )
            fs, src, _ = P._fs(self.spark, step.params["staging_dir"])
            if fs.exists(src):
                P.publish_staged(staged, self.spark)
            elif not P.is_published(self.spark, step.params["final_dir"]):
                raise IOError(
                    f"staging gone but final unpublished: {step.params}"
                )
            # else: already published on a previous attempt — no-op
        elif step.kind == "watermark":
            store = WatermarkStore(self.spark, step.params["root"])
            import datetime as _dt

            v = step.params["value"]
            value = (_dt.datetime.fromisoformat(v["value"])
                     if v.get("kind") == "timestamp" else v["value"])
            current = store.get(step.params["dataset"])
            if current is None or current < value:
                store.commit(step.params["dataset"], value)
            # else: already at/past this watermark — replay no-op
        elif step.kind == "marker":
            fs, _, jvm = P._fs(self.spark, step.params["path"])
            p = jvm.org.apache.hadoop.fs.Path(step.params["path"])
            if not fs.exists(p):  # idempotent touch, any filesystem
                fs.create(p, True).close()
        else:
            raise ValueError(f"unknown step kind {step.kind}")

    def execute(self, seq: Sequence) -> Sequence:
        """Run remaining steps in order, persisting progress after each
        (CommitSequence.execute). Completed sequences are deleted."""
        self.persist(seq)
        for step in seq.steps:
            if step.done:
                continue
            self._run_step(step)
            step.done = True
            self.persist(seq)
        self.delete(seq.job_id)
        return seq

    def recover(self) -> list[str]:
        """Re-execute every pending sequence (crash recovery at job
        start — AbstractJobLauncher's commit-sequence replay). One
        poisoned sequence must not block the rest (the same
        per-dataset isolation SafeDatasetCommit gives live commits;
        audit r10 — recovery used to abort at the first failure,
        stranding every later job's pending publish): failures are
        collected and re-raised together AFTER every recoverable
        sequence ran, with the survivors' journals completed."""
        done: list[str] = []
        failed: list[tuple[str, Exception]] = []
        for seq in self.pending():
            try:
                self.execute(seq)
            except Exception as ex:  # noqa: BLE001 - isolation barrier
                failed.append((seq.job_id, ex))
                continue
            done.append(seq.job_id)
        if failed:
            raise RuntimeError(
                "commit-sequence recovery failed for "
                + ", ".join(repr(j) for j, _ in failed)
                + f"; recovered {done!r}") from failed[0][1]
        return done
