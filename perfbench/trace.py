"""Span tracing for the traced run.

A ``Tracer`` records spans (name, start, end, parent, op id) in memory.
``Tracer.span`` is a context manager for the benchmark's own steps;
``Tracer.install`` wraps public functions of the package from outside,
so nothing under the package changes. Each span tags the calling
thread's Spark job group with its id, which lets the stage metrics in
Spark's status store be attributed to the innermost span that ran them.
The tag is set in the thread that makes the call, because
``plans.run`` stages its branches from a thread pool whose threads do
not inherit the caller's job group.

``NullTracer`` is what untraced iterations use: its spans record nothing.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None
    counts: dict


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of *intervals*, clipped to [lo, hi]. Overlaps
    (children running side by side in a thread pool) count once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: (s.end - s.start)
            - covered(kids.get(s.id, ()), s.start, s.end) for s in spans}


class NullTracer:
    @contextlib.contextmanager
    def span(self, name):
        yield {}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.op: int | None = None  # id of the timed operation running
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list = []
        self._main_stack = self._stack()

    # ---------------------------------------------------------- spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name):
        """Record one span around the body; yields the span's counts
        dict. A span opened with an empty stack in another thread (the
        branch pool of ``plans.run``) is parented to the span open on
        the main thread, which is blocked waiting for that pool."""
        stack = self._stack()
        outer = stack or self._main_stack
        s = Span(next(self._ids), name, time.perf_counter(), None,
                 outer[-1].id if outer else None, self.op, {})
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s.id}")
        stack.append(s)
        try:
            yield s.counts
        finally:
            s.end = time.perf_counter()
            stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(s)

    # ------------------------------------------------------- wrappers
    def install(self, *targets):
        """Wrap ``(owner, attribute, span name, on_result)`` targets.
        ``owner`` is a module or class; ``on_result(result, counts)``
        may record counts from the return value."""
        for owner, attr, name, on_result in targets:
            orig = owner.__dict__[attr]
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name, on_result))

    def _wrap(self, fn, name, on_result):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as counts:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(result, counts)
                return result
        return wrapper

    def uninstall(self):
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------ Spark attribution
    def spark_jobs(self) -> dict[int, list[dict]]:
        """Span id -> the Spark jobs its job group ran, each with its
        wall interval (perf_counter clock) and summed stage metrics.
        Read once from the status store at the end of the run."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        # wall clock -> perf_counter offset for the store's Date stamps
        offset = time.perf_counter() - time.time()
        stages: dict[int, dict | None] = {}

        def stage(stage_id):
            if stage_id not in stages:
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Py4JJavaError:
                    sd = None  # evicted from the store
                stages[stage_id] = sd and {
                    "tasks": sd.numTasks(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": (sd.memoryBytesSpilled()
                                    + sd.diskBytesSpilled()),
                    "input_rows": sd.inputRecords(),
                    "input_bytes": sd.inputBytes(),
                    "skipped": str(sd.status().toString()) == "SKIPPED",
                }
            return stages[stage_id]

        out: dict[int, list[dict]] = {}
        jobs_it = store.jobsList(None).iterator()
        while jobs_it.hasNext():
            jd = jobs_it.next()
            group = jd.jobGroup()
            if not group.isDefined() or not str(group.get()).startswith(
                    GROUP_PREFIX):
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            job = {"start": sub.get().getTime() / 1e3 + offset,
                   "end": done.get().getTime() / 1e3 + offset,
                   "stages": 0}
            it = jd.stageIds().iterator()
            while it.hasNext():
                st = stage(it.next())
                if st is None or st["skipped"]:
                    continue  # shuffle output reused from an earlier job
                job["stages"] += 1
                for k, v in st.items():
                    if k != "skipped":
                        job[k] = job.get(k, 0) + v
            sid = int(str(group.get())[len(GROUP_PREFIX):])
            out.setdefault(sid, []).append(job)
        return out
