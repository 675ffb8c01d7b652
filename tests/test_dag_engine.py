"""DagProcessingEngine semantics vs the reference's orchestration
procs (DagActionStore.java:38-45 vocabulary; Reevaluate/Kill/Resume/
EnforceDeadline DagProcs). Pure control-plane — no SparkSession."""

import threading
import time

import pytest

from gobblin_spark.plans import dag_engine as E


def _spec(dag_id, jobs, **kw):
    return E.DagSpec(dag_id=dag_id, jobs=jobs, **kw)


def test_linear_dag_runs_in_order(tmp_path):
    order = []
    jobs = [
        E.DagJob("a", lambda c: order.append("a")),
        E.DagJob("b", lambda c: order.append("b"), depends_on=("a",)),
        E.DagJob("c", lambda c: order.append("c"), depends_on=("b",)),
    ]
    eng = E.DagProcessingEngine(E.FSDagStateStore(str(tmp_path)))
    eng.launch(_spec("d1", jobs))
    eng.run_until_idle(30)
    assert order == ["a", "b", "c"]
    assert eng.dag_status("d1") == "COMPLETE"
    eng.shutdown()


def test_failure_cancels_downstream_but_drains_siblings(tmp_path):
    ran = []

    def boom(c):
        raise RuntimeError("boom")

    jobs = [
        E.DagJob("ok", lambda c: ran.append("ok")),
        E.DagJob("bad", boom),
        E.DagJob("after_bad", lambda c: ran.append("after_bad"),
                 depends_on=("bad",)),
        E.DagJob("after_ok", lambda c: ran.append("after_ok"),
                 depends_on=("ok",)),
    ]
    eng = E.DagProcessingEngine()
    eng.launch(_spec("d2", jobs))
    eng.run_until_idle(30)
    st = eng.node_status("d2")
    assert st["bad"] is E.NodeStatus.FAILED
    assert st["after_bad"] is E.NodeStatus.CANCELLED
    assert st["after_ok"] is E.NodeStatus.COMPLETE
    assert eng.dag_status("d2") == "FAILED" and "after_bad" not in ran
    eng.shutdown()


def test_retry_until_max_attempts(tmp_path):
    calls = []

    def flaky(c):
        calls.append(c.attempt)
        if c.attempt < 3:
            raise RuntimeError("transient")

    eng = E.DagProcessingEngine()
    eng.launch(_spec("d3", [E.DagJob("f", flaky, max_attempts=3)]))
    eng.run_until_idle(30)
    assert calls == [1, 2, 3]
    assert eng.dag_status("d3") == "COMPLETE"
    # and a job that never recovers fails after its budget
    calls2 = []

    def dies(c):
        calls2.append(c.attempt)
        raise RuntimeError("always")

    eng.launch(_spec("d3b", [E.DagJob("g", dies, max_attempts=2)]))
    eng.run_until_idle(30)
    assert calls2 == [1, 2] and eng.dag_status("d3b") == "FAILED"
    eng.shutdown()


def test_kill_cancels_running_and_pending(tmp_path):
    started = threading.Event()

    def slow(c):
        started.set()
        while not c.cancelled.is_set():  # cooperative cancel contract
            time.sleep(0.01)

    jobs = [E.DagJob("slow", slow),
            E.DagJob("later", lambda c: None, depends_on=("slow",))]
    eng = E.DagProcessingEngine()
    eng.launch(_spec("d4", jobs))
    t = threading.Thread(target=lambda: (started.wait(10), eng.kill("d4")))
    t.start()
    eng.run_until_idle(30)
    t.join()
    st = eng.node_status("d4")
    assert st["slow"] is E.NodeStatus.CANCELLED
    assert st["later"] is E.NodeStatus.CANCELLED
    assert eng.dag_status("d4") == "CANCELLED"
    eng.shutdown()


def test_kill_single_job_only(tmp_path):
    jobs = [E.DagJob("a", lambda c: None),
            E.DagJob("b", lambda c: time.sleep(0.05))]
    eng = E.DagProcessingEngine()
    eng.launch(_spec("d5", jobs))
    eng.kill("d5", job_name="a")  # queued before the launch drains
    eng.run_until_idle(30)
    st = eng.node_status("d5")
    # a was killed pre-start; b ran to completion (KillDagProc with a
    # job name touches only that node)
    assert st["b"] is E.NodeStatus.COMPLETE
    eng.shutdown()


def test_resume_reruns_only_non_complete(tmp_path):
    ran = []
    fail_once = {"on": True}

    def maybe(c):
        ran.append("maybe")
        if fail_once["on"]:
            raise RuntimeError("first time fails")

    jobs = [E.DagJob("pre", lambda c: ran.append("pre")),
            E.DagJob("maybe", maybe, depends_on=("pre",)),
            E.DagJob("post", lambda c: ran.append("post"),
                     depends_on=("maybe",))]
    eng = E.DagProcessingEngine(E.FSDagStateStore(str(tmp_path)))
    eng.launch(_spec("d6", jobs))
    eng.run_until_idle(30)
    assert eng.dag_status("d6") == "FAILED"
    fail_once["on"] = False
    eng.resume("d6")
    eng.run_until_idle(30)
    assert eng.dag_status("d6") == "COMPLETE"
    assert ran == ["pre", "maybe", "maybe", "post"]  # pre NOT rerun
    eng.shutdown()


def test_flow_finish_deadline_kills(tmp_path):
    def hang(c):
        while not c.cancelled.is_set():
            time.sleep(0.01)

    eng = E.DagProcessingEngine()
    eng.launch(_spec("d7", [E.DagJob("h", hang)],
                     flow_finish_deadline_s=0.2))
    eng.run_until_idle(30)
    assert eng.dag_status("d7") == "CANCELLED"
    assert "finish deadline" in eng._dags["d7"].message
    eng.shutdown()


def test_job_start_deadline_kills_only_stuck_job(tmp_path):
    def slow(c):
        time.sleep(0.4)

    jobs = [E.DagJob("first", slow),
            # never becomes ready before its start deadline
            E.DagJob("stuck", lambda c: None, depends_on=("first",),
                     job_start_deadline_s=0.1)]
    eng = E.DagProcessingEngine()
    eng.launch(_spec("d8", jobs))
    eng.run_until_idle(30)
    st = eng.node_status("d8")
    assert st["first"] is E.NodeStatus.COMPLETE
    assert st["stuck"] is E.NodeStatus.CANCELLED
    eng.shutdown()


def test_crash_recovery_from_state_store(tmp_path):
    store = E.FSDagStateStore(str(tmp_path))
    ran = []
    jobs = [E.DagJob("a", lambda c: ran.append("a")),
            E.DagJob("b", lambda c: ran.append("b"), depends_on=("a",))]
    eng = E.DagProcessingEngine(store)
    eng.launch(_spec("d9", jobs))
    eng.run_until_idle(30)
    assert store.load("d9")["nodes"]["b"]["status"] == "COMPLETE"

    # simulate a crash mid-b: persist a checkpoint with b RUNNING
    doc = store.load("d9")
    doc["nodes"]["b"]["status"] = "RUNNING"
    import json as _j
    with open(store._path("d9"), "w") as f:
        _j.dump(doc, f)

    eng2 = E.DagProcessingEngine(store)
    assert eng2.register_recovered(_spec("d9", jobs))
    eng2.run_until_idle(30)
    # a (COMPLETE in the checkpoint) did not rerun; b did
    assert ran == ["a", "b", "b"]
    assert eng2.dag_status("d9") == "COMPLETE"
    eng2.clean_up("d9")
    assert store.load("d9") is None
    eng2.shutdown()


def test_state_store_lists_checkpointed_dags(tmp_path):
    """The crash-recovery listing: checkpoint ids in sorted order, other
    files in the root ignored, a cleaned-up dag gone."""
    store = E.FSDagStateStore(str(tmp_path))
    for dag_id in ("zeta", "alpha"):
        store.write_checkpoint(E._DagState(_spec(dag_id, []), launched_at=0.0))
    (tmp_path / "notes.txt").write_text("not a checkpoint")
    (tmp_path / "beta.json.tmp").write_text("{}")  # torn checkpoint write
    assert store.list_dags() == ["alpha", "zeta"]
    store.clean_up("alpha")
    assert store.list_dags() == ["zeta"]


def test_register_recovered_refuses_live_dag(tmp_path):
    """r11 audit: register_recovered over a LIVE dag would cross-wire
    its in-flight futures onto the recovered instance's fresh node
    states — the same silent-replace class launch() was guarded
    against in r9. It must refuse; a terminal dag recovers fine."""
    import threading

    import pytest

    store = E.FSDagStateStore(str(tmp_path))
    gate = threading.Event()
    jobs = [E.DagJob("a", lambda c: gate.wait(10))]
    eng = E.DagProcessingEngine(store)
    eng.launch(_spec("d10", jobs))
    eng._drain_actions()  # a is now in flight
    with pytest.raises(ValueError, match="still running"):
        eng.register_recovered(_spec("d10", jobs))
    gate.set()
    eng.run_until_idle(30)
    assert eng.dag_status("d10") == "COMPLETE"
    # terminal: recovery over the checkpoint is allowed again
    assert eng.register_recovered(_spec("d10", jobs))
    eng.run_until_idle(30)
    eng.shutdown()


def test_register_recovered_load_race_guard(tmp_path):
    """advice r11: the live-dag guard is re-validated UNDER the lock
    AFTER store.load() — a dag launched concurrently during the load
    (between the pre-load check and the state overwrite) must refuse
    the recovery, not be silently replaced (the exact check-then-act
    window the r11 guard was added to close)."""
    import threading

    import pytest

    store = E.FSDagStateStore(str(tmp_path))
    jobs = [E.DagJob("a", lambda c: None)]
    eng = E.DagProcessingEngine(store)
    # seed a terminal checkpoint so register_recovered reaches load()
    eng.launch(_spec("d11", jobs))
    eng.run_until_idle(30)
    assert eng.dag_status("d11") == "COMPLETE"

    gate = threading.Event()
    live_jobs = [E.DagJob("a", lambda c: gate.wait(10))]
    real_load = store.load

    def racing_load(dag_id):
        doc = real_load(dag_id)
        # the racer lands in the pre-check → overwrite window
        eng.launch(_spec("d11", live_jobs))
        eng._drain_actions()  # the racer's job is now in flight
        return doc

    store.load = racing_load
    with pytest.raises(ValueError, match="still running"):
        eng.register_recovered(_spec("d11", jobs))
    store.load = real_load
    gate.set()
    eng.run_until_idle(30)
    assert eng.dag_status("d11") == "COMPLETE"
    eng.shutdown()


def test_clean_up_refuses_live_dag(tmp_path):
    """audit r12: clean_up of a LIVE dag removed its state while jobs
    were in flight — the next _reap_finished pass KeyErrored on the
    missing dag and aborted the engine loop. It must refuse at the
    call site; terminal and unknown ids keep their old semantics
    (removed / idempotent no-op)."""
    import threading

    import pytest

    gate = threading.Event()
    eng = E.DagProcessingEngine(E.FSDagStateStore(str(tmp_path)))
    eng.launch(_spec("d12", [E.DagJob("a", lambda c: gate.wait(10))]))
    eng._drain_actions()  # a is in flight
    with pytest.raises(ValueError, match="still running"):
        eng.clean_up("d12")
    gate.set()
    eng.run_until_idle(30)  # the engine loop survives and drains
    assert eng.dag_status("d12") == "COMPLETE"
    eng.clean_up("d12")           # terminal: removed
    eng.clean_up("d12")           # unknown: idempotent no-op
    eng.clean_up("never-existed")
    eng.shutdown()


def test_from_flow_spec_validates_spec(spark_noop=None):
    """audit r12: promoting a FlowSpec to a DagSpec validates it —
    cycles, unknown deps, and unknown templates fail at promotion,
    not as runtime job failures (or never-ready nodes that hang until
    the flow deadline) inside the engine."""
    import pytest

    from gobblin_spark.plans import flow as FL

    with pytest.raises(ValueError, match="cycle"):
        E.from_flow_spec(FL.FlowSpec("f", [
            FL.FlowJob("a", "x", depends_on=["b"]),
            FL.FlowJob("b", "x", depends_on=["a"])]), spark=None)
    with pytest.raises(ValueError, match="unknown template"):
        E.from_flow_spec(FL.FlowSpec("f", [
            FL.FlowJob("a", "x", template="ghost")]), spark=None)
    # a clean spec promotes
    ds = E.from_flow_spec(FL.FlowSpec("f", [
        FL.FlowJob("a", lambda s: None)]), spark=None)
    assert ds.dag_id == "f" and len(ds.jobs) == 1


def test_unknown_dag_action_is_noop(tmp_path):
    import pytest

    eng = E.DagProcessingEngine()
    # advice-r9: kill() of an unknown id fails fast at the CALL SITE;
    # an already-ENQUEUED action for a dag that clean_up raced away is
    # still dropped at drain (KillDagProc.java:63)
    with pytest.raises(ValueError, match="unknown dag"):
        eng.kill("ghost")
    eng.submit(E.DagAction(E.DagActionType.KILL, "ghost"))
    eng.run_until_idle(5)  # must not raise
    eng.shutdown()


def test_resume_restarts_deadline_clock(tmp_path):
    eng = E.DagProcessingEngine()
    eng.launch(_spec("d10", [E.DagJob("x", lambda c: None)],
                     flow_finish_deadline_s=30.0))
    eng.run_until_idle(30)
    before = eng._dags["d10"].launched_at
    time.sleep(0.02)
    eng.resume("d10")
    eng.run_until_idle(30)
    assert eng._dags["d10"].launched_at >= before
    eng.shutdown()


def test_state_store_checkpoints_attempts(tmp_path):
    store = E.FSDagStateStore(str(tmp_path))

    def flaky(c):
        if c.attempt == 1:
            raise RuntimeError("once")

    eng = E.DagProcessingEngine(store)
    eng.launch(_spec("d11", [E.DagJob("f", flaky, max_attempts=2)]))
    eng.run_until_idle(30)
    assert store.load("d11")["nodes"]["f"]["attempts"] == 2
    eng.shutdown()


def test_from_flow_spec_runs_real_pipeline(spark, sf_dir, tmp_path):
    """The bridge promotes a .pull-configured FlowSpec into the engine:
    the same jobconf compile path run_flow uses, now with retry/kill/
    resume semantics on top."""
    from gobblin_spark.plans import flow as FL

    pull = f"""
    job.name=EngineOrders
    source.class=table
    source.data.directory={sf_dir}
    source.table.name=orders
    converter.classes=pick_fields
    converter.fields.to.pick=o_orderkey,o_totalprice
    writer.builder.class=parquet
    data.publisher.final.dir={tmp_path}/out
    """
    fs = FL.FlowSpec(name="engine_flow",
                     jobs=[FL.FlowJob("ingest", pull)])
    eng = E.DagProcessingEngine()
    eng.launch(E.from_flow_spec(fs, spark))
    eng.run_until_idle(120)
    assert eng.dag_status("engine_flow") == "COMPLETE"
    out = spark.read.parquet(f"{tmp_path}/out")
    assert out.count() > 0 and set(out.columns) == {"o_orderkey", "o_totalprice"}
    eng.shutdown()


# -- scheduler periphery: flow quotas + declarative cron triggers ------


def test_flow_concurrency_quota():
    """UserQuotaManager semantics: quota 1 ≡ allowConcurrentExecution=
    false — a second launch of the same flow while one runs is
    rejected; a different flow is unaffected; the slot frees when the
    running dag goes terminal."""
    gate = threading.Event()
    eng = E.DagProcessingEngine(flow_quotas={"etl": 1})

    def blocked(ctx):
        gate.wait(30)

    eng.launch(_spec("e1", [E.DagJob("j", blocked)]), flow_id="etl")
    # drain the LAUNCH action so e1 is actually running
    eng._drain_actions()
    assert eng.running_count("etl") == 1
    with pytest.raises(E.QuotaExceededException):
        eng.launch(_spec("e2", [E.DagJob("j", blocked)]), flow_id="etl")
    # unquota'd flow and unlimited flows still admit
    eng.launch(_spec("r1", [E.DagJob("j", lambda c: None)]),
               flow_id="reports")
    gate.set()
    eng.run_until_idle(30)
    assert eng.dag_status("e1") == "COMPLETE"
    # terminal dag frees the quota slot
    eng.launch(_spec("e3", [E.DagJob("j", lambda c: None)]), flow_id="etl")
    eng.run_until_idle(30)
    assert eng.dag_status("e3") == "COMPLETE"
    eng.shutdown()


def test_cron_fires_shapes():
    """Declarative quartz-replacement: daily, step, range/list, and
    the standard dom/dow OR rule."""
    import datetime as dt

    s = dt.datetime(2024, 3, 1)  # a Friday
    e = dt.datetime(2024, 3, 4)
    daily = E.cron_fires("0 12 * * *", s, e)
    assert [f.day for f in daily] == [1, 2, 3] and all(
        f.hour == 12 and f.minute == 0 for f in daily)
    # */15 within one hour window
    q = E.cron_fires("*/15 9 * * *", s, dt.datetime(2024, 3, 1, 23))
    assert [f.minute for f in q] == [0, 15, 30, 45]
    # dow restriction: Sundays only (0 and 7 both mean Sunday)
    for spec in ("30 6 * * 0", "30 6 * * 7"):
        # March 2024 Sundays: 3, 10, 17, 24, 31
        sun = E.cron_fires(spec, s, dt.datetime(2024, 3, 31, 23))
        assert all(f.isoweekday() == 7 for f in sun) and len(sun) == 5
    # dom AND dow both restricted → OR (standard cron quirk)
    both = E.cron_fires("0 0 1,15 * 1", s, dt.datetime(2024, 3, 31, 23))
    days = sorted({f.day for f in both})
    assert 15 in days and 4 in days  # the 15th AND every Monday
    # Vixie rule: '*/n' counts as UNRESTRICTED for the OR quirk —
    # '0 0 */10 * 1' means (day in 1,11,21,31) AND Monday; the only
    # such Monday in March 2024 is the 11th
    stepped = E.cron_fires("0 0 */10 * 1", s, dt.datetime(2024, 3, 31, 23))
    assert [f.day for f in stepped] == [11]
    with pytest.raises(ValueError):
        E.cron_fires("61 * * * *", s, e)
    with pytest.raises(ValueError):
        E.cron_fires("* * * *", s, e)
    with pytest.raises(ValueError, match="400 days"):
        E.cron_fires("0 0 * * *", s, s + dt.timedelta(days=500))


def test_due_launches_admission_under_quota():
    """The batch scheduler pass: trigger table → time-ordered launch
    list → quota-gated admission; rejected fires stay visible as a
    skip count (the reference logs-and-skips when quota denies)."""
    import datetime as dt

    trig = [E.FlowTrigger("hourly_etl", "0 * * * *"),
            E.FlowTrigger("daily_rollup", "30 2 * * *")]
    due = E.due_launches(
        trig, dt.datetime(2024, 5, 1), dt.datetime(2024, 5, 1, 4))
    assert [(t.hour, t.minute, f) for t, f in due] == [
        (1, 0, "hourly_etl"), (2, 0, "hourly_etl"),
        (2, 30, "daily_rollup"), (3, 0, "hourly_etl"),
        (4, 0, "hourly_etl")]
    eng = E.DagProcessingEngine(flow_quotas={"hourly_etl": 2})
    gate = threading.Event()
    admitted, skipped = [], []
    for i, (t, flow) in enumerate(due):
        spec = _spec(f"d{i}", [E.DagJob("j", lambda c: gate.wait(30))])
        try:
            eng.launch(spec, flow_id=flow)
            admitted.append((t, flow))
            eng._drain_actions()
        except E.QuotaExceededException:
            skipped.append((t, flow))
    # 2 hourly slots fill, the 2 later hourly fires are denied;
    # daily_rollup is unquota'd and always admitted
    assert len([f for _, f in admitted if f == "hourly_etl"]) == 2
    assert len(skipped) == 2
    assert ("daily_rollup" in [f for _, f in admitted])
    gate.set()
    eng.run_until_idle(30)
    eng.shutdown()


def test_relaunch_of_running_dag_rejected_and_bad_kill_name():
    """Audit r9: (1) relaunching a dag id with a live instance must be
    rejected — a silent replace cross-wires the old instance's
    in-flight futures with the new node states; a TERMINAL id may be
    relaunched. (2) kill() with an unknown job name fails fast at the
    call site instead of KeyError-ing mid-drain inside
    run_until_idle."""
    import threading

    import pytest

    from gobblin_spark.plans import dag_engine as E

    gate = threading.Event()
    eng = E.DagProcessingEngine()
    spec = E.DagSpec("d1", [E.DagJob("j", lambda c: gate.wait(30))])
    eng.launch(spec)
    eng._drain_actions()
    with pytest.raises(ValueError, match="still running"):
        eng.launch(E.DagSpec("d1", [E.DagJob("j", lambda c: None)]))
    with pytest.raises(ValueError, match="unknown job"):
        eng.kill("d1", "no-such-job")
    # advice-r9: a typo'd DAG id fails fast at the call site too (the
    # drain guard still drops enqueued actions racing clean_up)
    with pytest.raises(ValueError, match="unknown dag"):
        eng.kill("nope", "whatever")
    gate.set()
    eng.run_until_idle(30)
    assert eng.dag_status("d1") == "COMPLETE"
    # terminal id is re-launchable
    eng.launch(E.DagSpec("d1", [E.DagJob("j", lambda c: 1)]))
    eng.run_until_idle(30)
    assert eng.dag_status("d1") == "COMPLETE"
    eng.shutdown()
