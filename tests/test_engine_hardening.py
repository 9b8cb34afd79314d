"""Failure-edge hardening of the streaming processor (round-7 review
findings): poison-pill TIMER_EVENT content, null offset/timestamp
columns, and eviction of COMPLETED runs whose dead
task-timeout timers would otherwise pin state forever in replay mode.
All pure-Python (a fake StatefulProcessorHandle) — no SparkSession
needed."""

from __future__ import annotations

import json

from old_original_java_little_horse_spark.sdk.builder import Workflow, lit
from old_original_java_little_horse_spark.streaming.engine import (
    prepare_events,
)
from old_original_java_little_horse_spark.streaming.tws import (
    WFRunFoldProcessor,
)

from .test_tws_engine import FakeHandle, _drive as _drive_key


def _spec(timeout: int | None = None):
    wf = Workflow("hardening")
    t = wf.thread("entrypoint")
    node = t.execute("echo", x=lit("hi"))
    if timeout is not None:
        node.with_timeout(timeout)
    return wf.build()


def _events(rid="r1"):
    return [
        {"wf_run_id": rid, "wf_spec_id": "s", "wf_spec_name": "s",
         "event_type": "WF_RUN_STARTED", "thread_id": 0,
         "timestamp": 1000, "offset": 0,
         "content": json.dumps({"variables": {}})},
        {"wf_run_id": rid, "wf_spec_id": "s", "wf_spec_name": "s",
         "event_type": "TASK_EVENT", "thread_id": 0,
         "timestamp": 1001, "offset": 1,
         "content": json.dumps({
             "thread_id": 0, "task_run_position": 0,
             "started_event": {"worker_id": "w"}})},
        {"wf_run_id": rid, "wf_spec_id": "s", "wf_spec_name": "s",
         "event_type": "TASK_EVENT", "thread_id": 0,
         "timestamp": 1002, "offset": 2,
         "content": json.dumps({
             "thread_id": 0, "task_run_position": 0,
             "ended_event": {"result": {
                 "stdout": "hi", "stderr": None,
                 "success": True, "returncode": 0}}})},
    ]


def _processor(spec, **kw):
    handle = FakeHandle()
    proc = WFRunFoldProcessor(spec, **kw)
    proc.init(handle)
    return proc, handle


def _drive(proc, events):
    return _drive_key(proc, "r1", events)


def test_poison_timer_event_content_is_tolerated():
    """TIMER_EVENT content that is valid JSON but not an object
    ('123', '[1,2]', 'null') must not crash the micro-batch — a crash
    would replay from the checkpoint and crash forever."""
    proc, _ = _processor(_spec())
    events = _events()
    for i, poison in enumerate(("123", "[1,2]", "null", "\"str\"")):
        events.append({
            "wf_run_id": "r1", "wf_spec_id": "s", "wf_spec_name": "s",
            "event_type": "TIMER_EVENT", "thread_id": 0,
            "timestamp": 1003 + i, "offset": 3 + i, "content": poison})
    rows = _drive(proc, events)  # must not raise
    snap = [r for r in rows if r["kind"] == "snapshot"][-1]
    assert json.loads(snap["payload"])["status"] == "COMPLETED"


def test_out_of_range_timer_ids_are_tolerated():
    """A well-SHAPED timer whose thread_run_id/task_run_id are out of
    range or mistyped is just as unattributable as a shapeless one:
    it must be skipped, not raise IndexError/TypeError into the
    blanket handler and halt the run with INTERNAL_ERROR (ADVICE r7:
    the shape guard validated key presence but not range)."""
    proc, _ = _processor(_spec())
    events = _events()
    bad_ids = [
        {"thread_run_id": 7, "task_run_id": 0},     # no such thread
        {"thread_run_id": -1, "task_run_id": 0},    # negative index
        {"thread_run_id": 0, "task_run_id": -3},    # negative task
        {"thread_run_id": "0", "task_run_id": 0},   # stringly typed
        {"thread_run_id": 0, "task_run_id": "x"},   # would TypeError <
        {"thread_run_id": True, "task_run_id": 0},  # bool is not an id
    ]
    for i, content in enumerate(bad_ids):
        content["node_name"] = "nope"
        events.append({
            "wf_run_id": "r1", "wf_spec_id": "s", "wf_spec_name": "s",
            "event_type": "TIMER_EVENT", "thread_id": 0,
            "timestamp": 1003 + i, "offset": 3 + i,
            "content": json.dumps(content)})
    rows = _drive(proc, events)  # must not raise
    snap = [r for r in rows if r["kind"] == "snapshot"][-1]
    assert json.loads(snap["payload"])["status"] == "COMPLETED"


def test_prepare_events_normalizes_null_offsets_and_timestamps():
    """WF_EVENT_SCHEMA's offset and timestamp are nullable longs: a
    null reads as 0, so it cannot break the sort, max() or the
    lateness gate."""
    events = [
        {"offset": None, "timestamp": None, "event_type": "A"},
        {"offset": 2, "timestamp": 2000, "event_type": "B"},
        {"offset": 1, "timestamp": None, "event_type": "C"},
    ]
    out, max_offset, max_ts = prepare_events(events, 0, 0,
                                             allowed_lateness_ms=10_000)
    assert [e["event_type"] for e in out] == ["A", "C", "B"]
    assert [(e["offset"], e["timestamp"]) for e in out] == \
        [(0, 0), (1, 0), (2, 2000)]
    assert max_offset == 2 and max_ts == 2000


def test_evict_completed_drops_dead_task_timeout_timers():
    """A COMPLETED run whose task had a timeout still holds that
    (now-dead) timer in `pending`; with evict_completed it must be
    tombstoned anyway — in replay mode (no timer wheel) nothing else
    ever drains the timer, and the full document would be pinned
    forever (round-7 review finding)."""
    proc, handle = _processor(_spec(timeout=3600), evict_completed=True)
    rows = _drive(proc, _events())
    snap = [r for r in rows if r["kind"] == "snapshot"][-1]
    assert json.loads(snap["payload"])["status"] == "COMPLETED"
    # a timeout timer WAS created for the task...
    assert any(r["kind"] == "timer" for r in rows)
    # ...and the stored state is nevertheless the tombstone, with the
    # dead timer dropped from the timer store
    state_json, _off, _ts, tomb = handle.states["run"].get()
    assert tomb == 1 and state_json == ""
    assert list(handle.states["timers"].get()) == []


def test_completed_run_without_evict_keeps_document():
    """Control: without evict_completed the document stays readable."""
    proc, handle = _processor(_spec(timeout=3600), evict_completed=False)
    _drive(proc, _events())
    state_json, _off, _ts, tomb = handle.states["run"].get()
    assert tomb == 0
    assert json.loads(state_json)["status"] == "COMPLETED"
