"""Dag processing engine: the GaaS control-plane loop that owns a
running DAG after compilation — launch, re-evaluation on every job
completion, retries, kill, resume, and deadline enforcement.

Reference mapping (gobblin-service/.../orchestration/):
- DagProcessingEngine.java:  the action-queue loop; every mutation of
  a running dag is a DagAction processed by a DagProc.
- DagActionStore.java:38-45: the action vocabulary (LAUNCH, KILL,
  RESUME, REEVALUATE, ENFORCE_JOB_START_DEADLINE,
  ENFORCE_FLOW_FINISH_DEADLINE) — mirrored by ``DagActionType``.
- proc/ReevaluateDagProc.java:119: on a final job status, retry while
  current_attempts < max_attempts, else fail the node and cancel the
  transitive downstream; launch newly-unblocked nodes otherwise.
- proc/KillDagProc.java:59-75: kill the whole dag or, when the action
  names a job, only that node; running work is cancelled
  cooperatively, pending downstream becomes CANCELLED.
- proc/ResumeDagProc.java: flip FAILED/CANCELLED nodes back to
  pending (PENDING_RESUME), keep COMPLETE nodes, re-enter the loop.
- proc/EnforceJobStartDeadlineDagProc.java /
  EnforceFlowFinishDeadlineDagProc.java (DagUtils.java:254 default):
  a job that has not STARTED by its deadline, or a flow that has not
  FINISHED by its deadline, is killed.
- FSDagStateStore.java: one JSON checkpoint per dag id, rewritten on
  every state change, removed when the dag leaves the store — crash
  recovery re-reads the checkpoints and resumes in-flight dags.

Spark fit: this layer is driver-side control flow over job callables
(each typically a compiled Pipeline / jobconf run) — there is nothing
to distribute; the data work inside each node is Spark's. The engine
therefore runs jobs on a thread pool exactly like run_flow
(plans/flow.py) but adds the mutable-control surface the reference
keeps in its service tier.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import deque
from collections.abc import Callable, Sequence
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field as dc_field
from enum import Enum

from gobblin_spark.claim import replace


class DagActionType(Enum):
    LAUNCH = "LAUNCH"
    KILL = "KILL"
    RESUME = "RESUME"
    REEVALUATE = "REEVALUATE"
    ENFORCE_JOB_START_DEADLINE = "ENFORCE_JOB_START_DEADLINE"
    ENFORCE_FLOW_FINISH_DEADLINE = "ENFORCE_FLOW_FINISH_DEADLINE"


class NodeStatus(Enum):
    PENDING = "PENDING"
    RUNNING = "RUNNING"
    COMPLETE = "COMPLETE"
    FAILED = "FAILED"
    CANCELLED = "CANCELLED"
    PENDING_RETRY = "PENDING_RETRY"
    PENDING_RESUME = "PENDING_RESUME"


_READY = (NodeStatus.PENDING, NodeStatus.PENDING_RETRY,
          NodeStatus.PENDING_RESUME)
_TERMINAL = (NodeStatus.COMPLETE, NodeStatus.FAILED, NodeStatus.CANCELLED)


@dataclass
class DagAction:
    action: DagActionType
    dag_id: str
    job_name: str | None = None  # KILL / job-start deadline target


@dataclass
class JobContext:
    """Handed to every job callable; poll ``cancelled`` at safe points
    (the cooperative-cancel contract of DagProcUtils.cancelDagNode)."""

    dag_id: str
    job_name: str
    attempt: int
    cancelled: threading.Event


@dataclass
class DagJob:
    name: str
    fn: Callable[[JobContext], object]
    depends_on: Sequence[str] = ()
    max_attempts: int = 1
    job_start_deadline_s: float | None = None


@dataclass
class DagSpec:
    dag_id: str
    jobs: Sequence[DagJob]
    flow_finish_deadline_s: float | None = None


@dataclass
class _NodeState:
    status: NodeStatus = NodeStatus.PENDING
    attempts: int = 0
    error: str | None = None


@dataclass
class _DagState:
    spec: DagSpec
    launched_at: float
    nodes: dict[str, _NodeState] = dc_field(default_factory=dict)
    message: str = ""

    @property
    def terminal(self) -> bool:
        return all(n.status in _TERMINAL for n in self.nodes.values())

    @property
    def status(self) -> str:
        if not self.terminal:
            return "RUNNING"
        ss = {n.status for n in self.nodes.values()}
        if ss == {NodeStatus.COMPLETE}:
            return "COMPLETE"
        if NodeStatus.FAILED in ss:
            return "FAILED"
        return "CANCELLED"


class FSDagStateStore:
    """One JSON checkpoint per dag (FSDagStateStore.java): rewritten on
    every transition, deleted on clean-up. Stores STATE (statuses,
    attempts, message), not code — after a crash, re-register the spec
    and ``resume()``; RUNNING nodes recover as PENDING_RETRY.

    Scope note: this store is ORCHESTRATOR-HOST storage by design —
    the dag engine is the spark-free control plane (jobs close over
    their own SparkSession), so the checkpoint root is a plain OS
    path; point it at a shared mount for HA. Data-plane stores that
    must live beside the data (WatermarkStore, CommitSequenceStore)
    go through the Hadoop FS client instead."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, dag_id: str) -> str:
        return os.path.join(self.root, f"{dag_id}.json")

    def write_checkpoint(self, dag: _DagState) -> None:
        doc = {
            "dag_id": dag.spec.dag_id,
            "launched_at": dag.launched_at,
            "message": dag.message,
            "nodes": {
                n: {"status": s.status.value, "attempts": s.attempts,
                    "error": s.error}
                for n, s in dag.nodes.items()
            },
        }
        replace(self._path(dag.spec.dag_id), json.dumps(doc).encode())

    def load(self, dag_id: str) -> dict | None:
        try:
            with open(self._path(dag_id)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def list_dags(self) -> list[str]:
        return sorted(p[:-5] for p in os.listdir(self.root)
                      if p.endswith(".json"))

    def clean_up(self, dag_id: str) -> None:
        try:
            os.remove(self._path(dag_id))
        except FileNotFoundError:
            pass


class QuotaExceededException(RuntimeError):
    """Launch rejected by a flow concurrency quota (the engine-level
    admission rule of gobblin-service/.../quota/UserQuotaManager.java;
    ``flow.allowConcurrentExecution=false`` is quota 1)."""


# -- scheduler periphery as data (no daemon) ---------------------------
# The reference schedules flows with quartz cron expressions on the
# flow spec (gobblin-service/.../scheduler/GobblinServiceJobScheduler
# .java) and admits each fire through per-flow/user concurrency quotas
# (quota/UserQuotaManager.java). Here both are declarative: a trigger
# is a (flow_id, cron) row, cron_fires() computes the fire times of a
# window, and launch(flow_id=...) enforces the quota — the caller (or
# a test clock) decides when "now" is. No scheduler thread to operate
# or crash.

_CRON_BOUNDS = ((0, 59), (0, 23), (1, 31), (1, 12), (0, 7))


def _cron_field(spec: str, lo: int, hi: int) -> frozenset[int]:
    """One 5-field-cron field → the set of matching values. Supports
    '*', '*/n', 'a', 'a-b', 'a-b/n' and comma lists thereof."""
    out: set[int] = set()
    for part in spec.split(","):
        step = 1
        if "/" in part:
            part, step_s = part.split("/", 1)
            step = int(step_s)
            if step < 1:
                raise ValueError(f"bad cron step in {spec!r}")
        if part == "*":
            a, b = lo, hi
        elif "-" in part:
            a_s, b_s = part.split("-", 1)
            a, b = int(a_s), int(b_s)
        else:
            a = b = int(part)
        if not (lo <= a <= hi and lo <= b <= hi and a <= b):
            raise ValueError(f"cron value out of range: {spec!r}")
        out.update(range(a, b + 1, step))
    return frozenset(out)


def cron_fires(cron: str, start, end) -> list:
    """Fire times of a 5-field cron expression in (start, end] —
    minute resolution, day-of-month and day-of-week OR-ed when both
    are restricted (standard cron semantics; Sunday is 0 or 7).
    Declarative replacement for the reference's quartz trigger: a
    backfill/catch-up pass over a window is just a bigger range."""
    import datetime as _dt

    fields = cron.split()
    if len(fields) != 5:
        raise ValueError(f"need 5 cron fields: {cron!r}")
    if end - start > _dt.timedelta(days=400):
        # minute-stepping is O(window); a backfill beyond a year is
        # almost certainly a bug — enforce the ceiling instead of
        # silently burning minutes (same self-guarding stance as the
        # quadratic acceptance reports)
        raise ValueError("cron_fires window exceeds 400 days; "
                         "split the backfill")
    mins, hrs, doms, mons, dows = (
        _cron_field(f, lo, hi)
        for f, (lo, hi) in zip(fields, _CRON_BOUNDS))
    dows = frozenset(d % 7 for d in dows)  # 7 ≡ Sunday ≡ 0
    # Vixie-cron rule: a dom/dow field is UNRESTRICTED when it starts
    # with '*' ('*' or '*/n'); the dom-OR-dow quirk applies only when
    # BOTH are restricted
    dom_any = fields[2].startswith("*")
    dow_any = fields[4].startswith("*")
    t = (start + _dt.timedelta(minutes=1)).replace(second=0, microsecond=0)
    fires = []
    while t <= end:
        if t.minute in mins and t.hour in hrs and t.month in mons:
            dom_ok = t.day in doms
            dow_ok = (t.weekday() + 1) % 7 in dows  # Monday=0 → Sun=0
            if ((dom_ok and dow_ok) if (dom_any or dow_any)
                    else (dom_ok or dow_ok)):
                fires.append(t)
        t += _dt.timedelta(minutes=1)
    return fires


@dataclass
class FlowTrigger:
    """Declarative flow trigger row: ``cron`` fires launch a dag for
    ``flow_id`` (subject to that flow's quota at launch time)."""

    flow_id: str
    cron: str


def due_launches(triggers: Sequence[FlowTrigger], start, end) -> list:
    """(fire_time, flow_id) admission list for a window, time-ordered —
    the batch equivalent of the scheduler loop: feed each row to
    ``launch(spec, flow_id=...)`` under the real quotas."""
    due = [(t, trg.flow_id)
           for trg in triggers for t in cron_fires(trg.cron, start, end)]
    due.sort(key=lambda p: (p[0], p[1]))
    return due


class DagProcessingEngine:
    """Single-host analog of DagProcessingEngine.java: a FIFO of
    DagActions drained by ``run_until_idle``, with job bodies on a
    thread pool and deadline checks folded into every loop pass (the
    reference fires them from stored reminders; the observable
    semantics — kill on expiry — are identical)."""

    def __init__(self, state_store: FSDagStateStore | None = None,
                 max_workers: int = 4,
                 clock: Callable[[], float] = time.monotonic,
                 flow_quotas: dict[str, int] | None = None):
        self.store = state_store
        self.clock = clock
        self._dags: dict[str, _DagState] = {}
        self._actions: deque[DagAction] = deque()
        self._pool = ThreadPoolExecutor(max_workers=max_workers)
        self._inflight: dict[tuple[str, str], tuple[Future, threading.Event]] = {}
        self._lock = threading.RLock()
        # flow_id → max concurrently-running dags (absent = unlimited;
        # allowConcurrentExecution=false is expressed as quota 1)
        self._flow_quotas = dict(flow_quotas or {})
        self._flow_of: dict[str, str] = {}

    # -- action intake --------------------------------------------------
    def submit(self, action: DagAction) -> None:
        self._actions.append(action)

    def running_count(self, flow_id: str) -> int:
        """Non-terminal dags currently admitted for *flow_id*."""
        with self._lock:
            return sum(1 for d_id, f in self._flow_of.items()
                       if f == flow_id and d_id in self._dags
                       and not self._dags[d_id].terminal)

    def launch(self, spec: DagSpec, flow_id: str | None = None) -> None:
        with self._lock:
            existing = self._dags.get(spec.dag_id)
            if existing is not None and not existing.terminal:
                # a silent replace would leave the old instance's
                # in-flight futures keyed (dag_id, job) pointing at the
                # NEW dag's node states — their results would be
                # applied to nodes they never ran for (audit r9)
                raise ValueError(
                    f"dag {spec.dag_id!r} is still running; kill it or "
                    "wait for it to finish before relaunching")
            if flow_id is not None:
                limit = self._flow_quotas.get(flow_id)
                if (limit is not None
                        and self.running_count(flow_id) >= limit):
                    raise QuotaExceededException(
                        f"flow {flow_id!r} already has "
                        f"{self.running_count(flow_id)} running "
                        f"executions (quota {limit})")
                self._flow_of[spec.dag_id] = flow_id
            self._dags[spec.dag_id] = _DagState(
                spec=spec, launched_at=self.clock(),
                nodes={j.name: _NodeState() for j in spec.jobs})
        self._checkpoint(spec.dag_id)
        self.submit(DagAction(DagActionType.LAUNCH, spec.dag_id))

    def register_recovered(self, spec: DagSpec) -> bool:
        """Crash recovery: re-attach a spec to a persisted checkpoint.
        Nodes that were RUNNING when the engine died come back as
        PENDING_RETRY (their attempt was lost mid-flight). Returns
        False when the store has no checkpoint for this dag."""
        if self.store is None:
            raise ValueError("no state store configured")
        with self._lock:
            existing = self._dags.get(spec.dag_id)
            if existing is not None and not existing.terminal:
                # same guard launch() gained in r9: silently replacing
                # a LIVE dag would leave its in-flight futures keyed
                # (dag_id, job) pointing at the recovered instance's
                # fresh node states (r11 audit)
                raise ValueError(
                    f"dag {spec.dag_id!r} is still running; kill it "
                    "or wait before recovering a checkpoint over it")
        doc = self.store.load(spec.dag_id)
        if doc is None:
            return False
        nodes = {}
        for j in spec.jobs:
            saved = doc["nodes"].get(j.name, {})
            st = NodeStatus(saved.get("status", "PENDING"))
            if st is NodeStatus.RUNNING:
                st = NodeStatus.PENDING_RETRY
            nodes[j.name] = _NodeState(status=st,
                                       attempts=saved.get("attempts", 0),
                                       error=saved.get("error"))
        with self._lock:
            # RE-validate under the lock: store.load() ran outside it,
            # so a dag launched concurrently in that window would be
            # silently replaced by the pre-load check alone — the
            # exact check-then-act race the guard exists to close
            # (advice r11)
            existing = self._dags.get(spec.dag_id)
            if existing is not None and not existing.terminal:
                raise ValueError(
                    f"dag {spec.dag_id!r} is still running; kill it "
                    "or wait before recovering a checkpoint over it")
            self._dags[spec.dag_id] = _DagState(
                spec=spec, launched_at=doc.get("launched_at", self.clock()),
                nodes=nodes, message=doc.get("message", ""))
        self.submit(DagAction(DagActionType.REEVALUATE, spec.dag_id))
        return True

    def kill(self, dag_id: str, job_name: str | None = None) -> None:
        with self._lock:
            dag = self._dags.get(dag_id)
            if dag is None:
                # fail the typo HERE — deferred to _proc_kill a
                # missing dag id would KeyError mid-drain and abort
                # run_until_idle with the action queue half-processed
                # (audit r9; advice-r9 closed the dag-id half)
                raise ValueError(f"unknown dag {dag_id!r}")
            if job_name is not None and job_name not in dag.nodes:
                raise ValueError(
                    f"unknown job {job_name!r} in dag {dag_id!r}")
        self.submit(DagAction(DagActionType.KILL, dag_id, job_name))

    def resume(self, dag_id: str) -> None:
        self.submit(DagAction(DagActionType.RESUME, dag_id))

    # -- state ----------------------------------------------------------
    def dag_status(self, dag_id: str) -> str:
        return self._dags[dag_id].status

    def node_status(self, dag_id: str) -> dict[str, NodeStatus]:
        return {n: s.status for n, s in self._dags[dag_id].nodes.items()}

    def attempts(self, dag_id: str) -> dict[str, int]:
        return {n: s.attempts for n, s in self._dags[dag_id].nodes.items()}

    def _checkpoint(self, dag_id: str) -> None:
        if self.store is not None:
            self.store.write_checkpoint(self._dags[dag_id])

    # -- the loop -------------------------------------------------------
    def run_until_idle(self, timeout_s: float = 60.0) -> None:
        """Drain actions and in-flight jobs until every known dag is
        terminal (or nothing can make progress within *timeout_s*)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            progressed = self._drain_actions()
            progressed |= self._reap_finished()
            progressed |= self._enforce_deadlines()
            with self._lock:
                all_done = all(d.terminal for d in self._dags.values())
                idle = not self._actions and not self._inflight
            if all_done and idle:
                return
            if not progressed:
                time.sleep(0.01)
        raise TimeoutError("dag engine did not go idle in time")

    def _drain_actions(self) -> bool:
        progressed = False
        while self._actions:
            a = self._actions.popleft()
            progressed = True
            if a.dag_id not in self._dags:
                continue  # already cleaned up (KillDagProc.java:63)
            handler = {
                DagActionType.LAUNCH: self._proc_reevaluate,
                DagActionType.REEVALUATE: self._proc_reevaluate,
                DagActionType.KILL: self._proc_kill,
                DagActionType.RESUME: self._proc_resume,
                DagActionType.ENFORCE_JOB_START_DEADLINE:
                    self._proc_job_start_deadline,
                DagActionType.ENFORCE_FLOW_FINISH_DEADLINE:
                    self._proc_flow_finish_deadline,
            }[a.action]
            handler(a)
        return progressed

    # -- procs ----------------------------------------------------------
    def _proc_reevaluate(self, a: DagAction) -> None:
        dag = self._dags[a.dag_id]
        with self._lock:
            done = {n for n, s in dag.nodes.items()
                    if s.status is NodeStatus.COMPLETE}
            dead = {n for n, s in dag.nodes.items()
                    if s.status in (NodeStatus.FAILED, NodeStatus.CANCELLED)}
            # cancel transitive downstream of failures
            changed = True
            while changed:
                changed = False
                for j in dag.spec.jobs:
                    st = dag.nodes[j.name]
                    if st.status in _READY and set(j.depends_on) & dead:
                        st.status = NodeStatus.CANCELLED
                        dead.add(j.name)
                        changed = True
            ready = [j for j in dag.spec.jobs
                     if dag.nodes[j.name].status in _READY
                     and set(j.depends_on) <= done
                     and (a.dag_id, j.name) not in self._inflight]
            for j in ready:
                st = dag.nodes[j.name]
                st.status = NodeStatus.RUNNING
                st.attempts += 1
                cancel = threading.Event()
                ctx = JobContext(a.dag_id, j.name, st.attempts, cancel)
                fut = self._pool.submit(j.fn, ctx)
                self._inflight[(a.dag_id, j.name)] = (fut, cancel)
        self._checkpoint(a.dag_id)

    def _reap_finished(self) -> bool:
        progressed = False
        with self._lock:
            finished = [(k, f) for k, (f, _) in self._inflight.items()
                        if f.done()]
        for (dag_id, name), fut in finished:
            progressed = True
            with self._lock:
                _, cancel = self._inflight.pop((dag_id, name))
                dag = self._dags[dag_id]
                st = dag.nodes[name]
                job = next(j for j in dag.spec.jobs if j.name == name)
                err = fut.exception()
                if cancel.is_set():
                    st.status = NodeStatus.CANCELLED
                elif err is None:
                    st.status = NodeStatus.COMPLETE
                    st.error = None
                elif st.attempts < job.max_attempts:
                    # ReevaluateDagProc.java:119 retry path
                    st.status = NodeStatus.PENDING_RETRY
                    st.error = str(err)
                else:
                    st.status = NodeStatus.FAILED
                    st.error = str(err)
            self._checkpoint(dag_id)
            self.submit(DagAction(DagActionType.REEVALUATE, dag_id))
        return progressed

    def _proc_kill(self, a: DagAction) -> None:
        dag = self._dags[a.dag_id]
        with self._lock:
            targets = ([a.job_name] if a.job_name
                       else [j.name for j in dag.spec.jobs])
            for name in targets:
                st = dag.nodes[name]
                key = (a.dag_id, name)
                if key in self._inflight:
                    self._inflight[key][1].set()  # cooperative cancel
                elif st.status not in _TERMINAL:
                    st.status = NodeStatus.CANCELLED
            dag.message = dag.message or "Flow killed by request"
        self._checkpoint(a.dag_id)
        self.submit(DagAction(DagActionType.REEVALUATE, a.dag_id))

    def _proc_resume(self, a: DagAction) -> None:
        dag = self._dags[a.dag_id]
        with self._lock:
            for s in dag.nodes.values():
                if s.status in (NodeStatus.FAILED, NodeStatus.CANCELLED):
                    s.status = NodeStatus.PENDING_RESUME
                    s.attempts = 0  # a resume grants a fresh attempt budget
            dag.message = ""
            dag.launched_at = self.clock()  # deadlines restart on resume
        self._checkpoint(a.dag_id)
        self.submit(DagAction(DagActionType.REEVALUATE, a.dag_id))

    def _proc_job_start_deadline(self, a: DagAction) -> None:
        dag = self._dags[a.dag_id]
        st = dag.nodes[a.job_name]
        if st.status in _READY:  # never started → kill just that node
            dag.message = f"job {a.job_name} start deadline exceeded"
            self._proc_kill(DagAction(DagActionType.KILL, a.dag_id,
                                      a.job_name))

    def _proc_flow_finish_deadline(self, a: DagAction) -> None:
        dag = self._dags[a.dag_id]
        if not dag.terminal:
            dag.message = "flow finish deadline exceeded"
            self._proc_kill(DagAction(DagActionType.KILL, a.dag_id))

    def _enforce_deadlines(self) -> bool:
        fired = False
        now = self.clock()
        with self._lock:
            snapshot = list(self._dags.items())
        for dag_id, dag in snapshot:
            if dag.terminal:
                continue
            fd = dag.spec.flow_finish_deadline_s
            if fd is not None and now - dag.launched_at > fd:
                self.submit(DagAction(
                    DagActionType.ENFORCE_FLOW_FINISH_DEADLINE, dag_id))
                fired = True
            for j in dag.spec.jobs:
                jd = j.job_start_deadline_s
                if (jd is not None and now - dag.launched_at > jd
                        and dag.nodes[j.name].status in _READY):
                    self.submit(DagAction(
                        DagActionType.ENFORCE_JOB_START_DEADLINE,
                        dag_id, j.name))
                    fired = True
        return fired

    def clean_up(self, dag_id: str) -> None:
        with self._lock:
            dag = self._dags.get(dag_id)
            if dag is not None and not dag.terminal:
                # removing a LIVE dag leaves its in-flight futures
                # keyed (dag_id, job) with no dag state — the next
                # _reap_finished pass KeyErrors and aborts the engine
                # loop mid-drain (audit r12; same fail-at-call-site
                # stance as kill()'s unknown-id check). Unknown ids
                # stay a no-op: clean_up is the idempotent last step.
                raise ValueError(
                    f"dag {dag_id!r} is still running; kill it or "
                    "wait for it to finish before cleaning up")
            self._dags.pop(dag_id, None)
            self._flow_of.pop(dag_id, None)
        if self.store is not None:
            self.store.clean_up(dag_id)

    def shutdown(self) -> None:
        self._pool.shutdown(wait=False, cancel_futures=True)


def from_flow_spec(flow_spec, spark, *, max_attempts: int = 1,
                   flow_finish_deadline_s: float | None = None) -> DagSpec:
    """Bridge plans/flow.FlowSpec → DagSpec so a compiled flow gains
    the mutable control surface (kill/resume/deadlines/retries) — the
    same promotion the reference makes when the orchestrator hands a
    compiled Dag<JobExecutionPlan> to the DagProcessingEngine."""
    from gobblin_spark.plans import flow as FL, jobconf as J, pipeline as PL

    # validate the SPEC at promotion time — duplicate names, unknown
    # deps, cycles, and unknown templates are spec errors; deferred,
    # they surfaced as runtime job failures (or never-ready nodes that
    # hang until the flow deadline) inside the engine (audit r12)
    FL._validate(flow_spec)

    def job_fn(fj):
        def run(ctx: JobContext):
            cfg = fj.config
            if callable(cfg) and not isinstance(cfg, PL.Pipeline):
                return cfg(spark)
            if isinstance(cfg, PL.Pipeline):
                return PL.run(cfg, spark)
            text = cfg
            if fj.template is not None:
                text = FL.apply_template(
                    flow_spec.templates[fj.template], text)
            return J.run_job(spark, text)

        return run

    return DagSpec(
        dag_id=flow_spec.name,
        jobs=[DagJob(j.name, job_fn(j), depends_on=tuple(j.depends_on),
                     max_attempts=max_attempts)
              for j in flow_spec.jobs],
        flow_finish_deadline_s=flow_finish_deadline_s,
    )
