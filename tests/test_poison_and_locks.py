"""Round-9 fold/tws hardening regressions:

- a TIMEOUT-failed task releases the variable locks its activation
  acquired (complete_task is bypassed on that path; a held lock would
  deadlock the exception handler and sibling threads);
- NaN/±Infinity reaching INT coercion fail the TASK (VarSubError
  routing: retry/handler), never the whole run INTERNAL_ERROR;
- malformed TASK_EVENT / EXTERNAL_EVENT (out-of-range thread or task
  position) are poison-skipped like the timer handler's policy, not
  run-halting IndexErrors;
- the tws engine deletes REGISTERED native timers when it tombstones
  a run, and a tombstone is permanent even if a stale timer fires.
"""

from __future__ import annotations

import copy
import json

import pytest

from old_original_java_little_horse_spark.engine import fold as E
from old_original_java_little_horse_spark.sdk.builder import Workflow, var

from .test_fold import start_ev
from .test_tws_engine import FakeHandle


def _timeout_spec():
    wf = Workflow("lockleak")
    t = wf.thread("entrypoint")
    t.add_variable("v", "INT")
    n = t.execute("echo", x=var("v"))
    n.with_timeout(3)
    t.mutate(n, "v", "ASSIGN")  # needed var → locked at activation
    return wf.build()


def test_timeout_releases_variable_locks():
    spec = _timeout_spec()
    # No executor: the task stays SCHEDULED (async worker mode) with
    # its activation locks held and the timeout timer armed.
    state, ctx = E.process_event(spec, None, start_ev("r1", {"v": 1}))
    thread = state["thread_runs"][0]
    assert thread["variable_locks"] == {"v": 0}, "lock not held pre-timeout"
    (timer,) = ctx.timers
    state, _ = E.process_event(spec, state, {
        "wf_run_id": "r1", "event_type": "TIMER_EVENT", "thread_id": 0,
        "timestamp": 9000, "offset": 1, "content": timer})
    thread = state["thread_runs"][0]
    assert thread["task_runs"][0]["failure_reason"] == "TIMEOUT"
    assert thread["variable_locks"] == {}, (
        "TIMEOUT path leaked the activation locks")


def test_nan_and_inf_are_task_failures_not_internal_errors():
    # Direct coercion containment.
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(E.VarSubError):
            E.to_int(bad)
    with pytest.raises(E.VarSubError):
        E.apply_mutation("MULTIPLY", 1e308, 1e308, "INT")  # → inf
    # End-to-end: a worker emitting 'NaN' stdout (json.loads accepts
    # it) must fail THE TASK, not halt the run INTERNAL_ERROR.
    wf = Workflow("nanflow")
    t = wf.thread("entrypoint")
    t.add_variable("acc", "INT")
    n = t.execute("emit_nan")
    t.mutate(n, "acc", "ADD")
    spec = wf.build()

    def emit_nan(task, subs):
        return {"stdout": "NaN", "stderr": None, "success": True,
                "returncode": 0}

    state, _ = E.process_event(spec, None, start_ev("r1", {"acc": 1}),
                               executor=emit_nan)
    tr = state["thread_runs"][0]["task_runs"][0]
    assert tr["failure_reason"] == "VARIABLE_LOOKUP_ERROR"
    assert state["thread_runs"][0]["error_message"] != "INTERNAL_ERROR"


def _simple_running_state():
    wf = Workflow("poison")
    t = wf.thread("entrypoint")
    t.add_variable("v", "STRING")
    n = t.wait_for_event("go")
    t.mutate(n, "v", "ASSIGN")
    spec = wf.build()
    state, _ = E.process_event(spec, None, start_ev("r1"))
    return spec, state


@pytest.mark.parametrize("event", [
    # TASK_EVENT with an out-of-range thread id
    {"wf_run_id": "r1", "event_type": "TASK_EVENT", "thread_id": 7,
     "timestamp": 2000, "offset": 1,
     "content": {"thread_id": 7, "task_run_position": 0,
                 "started_event": {"worker_id": "w", "stdin": None}}},
    # TASK_EVENT with an out-of-range task position
    {"wf_run_id": "r1", "event_type": "TASK_EVENT", "thread_id": 0,
     "timestamp": 2000, "offset": 1,
     "content": {"thread_id": 0, "task_run_position": 9,
                 "started_event": {"worker_id": "w", "stdin": None}}},
    # TASK_EVENT with a stringly-typed position
    {"wf_run_id": "r1", "event_type": "TASK_EVENT", "thread_id": 0,
     "timestamp": 2000, "offset": 1,
     "content": {"thread_id": 0, "task_run_position": "0",
                 "started_event": {"worker_id": "w", "stdin": None}}},
    # EXTERNAL_EVENT missing its def name
    {"wf_run_id": "r1", "event_type": "EXTERNAL_EVENT", "thread_id": -1,
     "timestamp": 2000, "offset": 1, "content": {"content": "x"}},
])
def test_poison_events_skip_not_halt(event):
    spec, state = _simple_running_state()
    before = copy.deepcopy(state)
    state, _ = E.process_event(spec, state, event)
    assert state["status"] == "RUNNING", (
        "poison event halted an innocent run")
    assert state == before  # skipped cleanly, nothing mutated


def test_poison_interrupt_event_skips():
    """An interrupt-class EXTERNAL_EVENT addressed to a thread the run
    does not have must be skipped, not IndexError→INTERNAL_ERROR."""
    wf = Workflow("poison-int")
    t = wf.thread("entrypoint")
    t.add_variable("v", "STRING")
    t.wait_for_event("go")
    h = wf.thread("on_intr")
    h.execute("echo", x="hi")
    t.handle_interrupt("intr", "on_intr")
    spec = wf.build()
    state, _ = E.process_event(spec, None, start_ev("r1"))
    before_threads = len(state["thread_runs"])
    state, _ = E.process_event(spec, state, {
        "wf_run_id": "r1", "event_type": "EXTERNAL_EVENT", "thread_id": 5,
        "timestamp": 2000, "offset": 1,
        "content": {"external_event_def_name": "intr", "content": {},
                    "timestamp": 2000}})
    assert state["status"] == "RUNNING"
    assert len(state["thread_runs"]) == before_threads


# -- tws native-timer tombstone hygiene ----------------------------------


def _tws_processor():
    from old_original_java_little_horse_spark.streaming.tws import (
        WFRunFoldProcessor)

    wf = Workflow("tws-tomb")
    t = wf.thread("entrypoint")
    t.execute("echo", x="hi")
    p = WFRunFoldProcessor(wf.build(), executor=None, native_timers=True,
                           evict_completed=True)
    p.init(FakeHandle())
    return p


def test_tws_tombstone_deletes_registered_timers():
    """Tombstoning must delete every registered native timer: a
    leftover task-timeout would otherwise stay in the timer store and
    call back on the tombstoned key."""
    p = _tws_processor()
    p.handle.registerTimer(111)  # stale task-timeout, armed earlier
    p._save({"status": "COMPLETED", "thread_runs": []},
            5, 5, [{"maturation_timestamp": 111, "thread_run_id": 0,
                    "task_run_id": 0}], [], "r1", None)
    assert p.handle.timers == set(), "stale native timer survived tombstone"
    assert p._run.get()[3] == 1  # tombstoned


def test_tws_permanent_tombstone_survives_stale_expiry():
    """The tombstone is a permanent marker: even a stale timer firing
    on the tombstoned key must NOT clear it, and emits nothing."""
    p = _tws_processor()
    p._run.update(("", 5, 5, 1))  # already tombstoned

    class _Exp:
        def getExpiryTimeInMs(self):
            return 999

    out = list(p.handleExpiredTimer(("r1",), None, _Exp()))
    assert p._run.get() is not None and p._run.get()[3] == 1, (
        "stale expiry cleared a permanent tombstone")
    assert out == []
