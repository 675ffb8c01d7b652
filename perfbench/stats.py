"""Latency samples, percentile rules and host diagnostics.

Two measurement rules live here so they can be tested:

- a percentile above the median is reported only when at least
  ``MIN_BEYOND`` samples lie beyond it (below that, a "p90" of 8 samples
  is just the maximum); the median is always reported, with its count;
- samples of unlike operations are never pooled into one percentile:
  ``by_kind`` gives each operation kind its own ``Samples``.
"""

from __future__ import annotations

import math
import os
import statistics

MIN_BEYOND = 10
CANDIDATE_PERCENTILES = (50, 75, 90, 95, 99)


def samples_beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - math.ceil(p / 100.0 * n)


def highest_reportable(n: int) -> int | None:
    """The highest candidate percentile with ``MIN_BEYOND`` samples beyond
    it, or None when even the median lacks them."""
    best = None
    for p in CANDIDATE_PERCENTILES:
        if samples_beyond(n, p) >= MIN_BEYOND:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Nearest-rank percentile; raises when the rule above forbids it."""
    n = len(values)
    if samples_beyond(n, p) < MIN_BEYOND and p != 50:
        raise ValueError(
            f"p{p} needs {MIN_BEYOND} samples beyond it; have {n} samples")
    if not n:
        raise ValueError("no samples")
    return sorted(values)[max(0, math.ceil(p / 100.0 * n) - 1)]


class Samples:
    """Latencies of ONE operation kind."""

    def __init__(self, kind: str, values=()):
        self.kind = kind
        self.values = list(values)

    def add(self, seconds: float) -> None:
        self.values.append(seconds)

    def median(self) -> float:
        return statistics.median(self.values)

    def summary(self) -> dict:
        """Median plus the highest percentile the sample count supports,
        each with the count."""
        n = len(self.values)
        out = {"kind": self.kind, "n": n,
               "p50": self.median() if n else None}
        top = highest_reportable(n)
        if top is not None and top > 50:
            out[f"p{top}"] = percentile(self.values, top)
        return out


def by_kind(ops) -> dict[str, Samples]:
    """One ``Samples`` per operation kind of (kind, wall, CPU) records."""
    kinds: dict[str, Samples] = {}
    for kind, wall, _cpu in ops:
        kinds.setdefault(kind, Samples(kind)).add(wall)
    return kinds


# ------------------------------------------------------ host diagnostics
CLK_TCK = os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """Cumulative steal time of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


#: JVM JIT compiler threads. Their background compilation runs for
#: minutes after start at a rate that follows wall time, not work done,
#: so the CPU cost metric leaves them out.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str):
    """(command name, parent pid, user+system CPU seconds) of one
    /proc/<pid>/stat or /proc/<pid>/task/<tid>/stat file."""
    with open(path) as f:
        raw = f.read()
    # the command name may hold spaces: split after its closing paren
    name = raw[raw.index("(") + 1:raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    return name, int(rest[1]), (int(rest[11]) + int(rest[12])) / CLK_TCK


def _tree(root_pids):
    """(pid, CPU seconds) of the given processes and live descendants."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            _, ppid, secs = _stat(f"/proc/{name}/stat")
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
        cpu[int(name)] = secs
    out, todo, seen = [], list(root_pids), set()
    while todo:
        pid = todo.pop()
        if pid in seen or pid not in cpu:
            continue
        seen.add(pid)
        out.append((pid, cpu[pid]))
        todo.extend(children.get(pid, ()))
    return out


class CpuMeter:
    """CPU of a process tree, split into JIT compiler threads and the
    rest. The JVM starts and retires compiler threads as its queue
    grows and shrinks; a retired thread's CPU stays in its process's
    total, so the meter keeps counting each compiler thread at the last
    value it saw."""

    def __init__(self, root_pids):
        self.root_pids = list(root_pids)
        self._jit: dict[tuple[int, str], float] = {}

    def sample(self) -> tuple[float, float]:
        """(total CPU seconds, JIT compiler thread CPU seconds)."""
        total = 0.0
        for pid, secs in _tree(self.root_pids):
            total += secs
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    name, _, tsecs = _stat(f"/proc/{pid}/task/{tid}/stat")
                except (OSError, ValueError, IndexError):
                    continue
                if name.startswith(JIT_THREADS):
                    self._jit[(pid, tid)] = tsecs
        return total, sum(self._jit.values())

    def work_cpu(self) -> float:
        """CPU seconds less the JIT compiler threads'."""
        total, jit = self.sample()
        return total - jit
