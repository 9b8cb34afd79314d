"""The engine's row-based transformWithState processor (`streaming/tws.py`).

The live streaming tests run the real runtime (the TWS Python worker
needs `google.protobuf`; `protobuf_compat.ensure_protobuf` resolves a
pure-Python runtime from the host where none is installed, and the
engine raises a clear RuntimeError where none can be found).  The
processor's SEMANTICS are additionally proven via a fake
StatefulProcessorHandle driving `handleInputRows` /
`handleExpiredTimer` directly, against one sequential pass of the pure
fold (`engine.fold.process_event`)."""

from __future__ import annotations

import json
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import Row

from old_original_java_little_horse_spark.engine.batch import WF_EVENT_SCHEMA
from old_original_java_little_horse_spark.engine.batch_queries import (
    pipeline_executor, pipeline_spec,
)
from old_original_java_little_horse_spark.sdk.builder import Workflow
from old_original_java_little_horse_spark.engine.fold import process_event
from old_original_java_little_horse_spark.streaming.tws import (
    WFRunFoldProcessor,
)


# -- fake state plumbing (dict-backed twins of the TWS state API) ----------

class FakeValueState:
    def __init__(self):
        self.v = None

    def exists(self):
        return self.v is not None

    def get(self):
        return self.v

    def update(self, v):
        self.v = tuple(v)

    def clear(self):
        self.v = None


class FakeListState:
    def __init__(self):
        self.rows: list[tuple] = []

    def get(self):
        return iter(list(self.rows))

    def put(self, rows):
        self.rows = [tuple(r) for r in rows]

    def appendValue(self, r):
        self.rows.append(tuple(r))

    def clear(self):
        self.rows = []


class FakeHandle:
    def __init__(self):
        self.states: dict[str, object] = {}
        self.timers: set[int] = set()

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, FakeValueState())

    def getListState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, FakeListState())

    def registerTimer(self, ts):
        self.timers.add(ts)

    def deleteTimer(self, ts):
        self.timers.discard(ts)

    def listTimers(self):
        return iter(sorted(self.timers))


class FakeExpiredTimerInfo:
    def __init__(self, ts):
        self._ts = ts

    def getExpiryTimeInMs(self):
        return self._ts


_EVENT_COLS = [f.name for f in WF_EVENT_SCHEMA.fields]
_EventRow = Row(*_EVENT_COLS)


def _rows(events: list[dict]) -> list[Row]:
    """Events as the runtime delivers them: Rows in WF_EVENT_SCHEMA
    order, a missing column null."""
    return [_EventRow(*(e.get(c) for c in _EVENT_COLS)) for e in events]


def _drive(proc: WFRunFoldProcessor, key: str, events: list[dict]) -> list[dict]:
    """Push one micro-batch group of events; return the output rows."""
    return [r.asDict()
            for r in proc.handleInputRows((key,), iter(_rows(events)), None)]


def _expire(proc: WFRunFoldProcessor, key: str, ts: int) -> list[dict]:
    """Fire one native timer callback; return the output rows."""
    return [r.asDict() for r in proc.handleExpiredTimer(
        (key,), None, FakeExpiredTimerInfo(ts))]


def _start_event(run_id: str, variables: dict, offset: int = 0,
                 ts: int = 1000) -> dict:
    return {"wf_run_id": run_id, "wf_spec_id": "s", "wf_spec_name": "s",
            "event_type": "WF_RUN_STARTED", "thread_id": 0,
            "timestamp": ts, "offset": offset,
            "content": json.dumps({"variables": variables})}


def test_fold_lifecycle_matches_pure_fold():
    """Full inline-executor run through the processor == the same
    event through the pure fold: one snapshot, carrying the fold's
    document, at a positive seq."""
    event = _start_event("r1", {"n_purch": 2, "n_click": 5})

    proc = WFRunFoldProcessor(pipeline_spec(), executor=pipeline_executor)
    proc.init(FakeHandle())
    rows = _drive(proc, "r1", [dict(event)])

    want, _ctx = process_event(pipeline_spec(), None, dict(event),
                               executor=pipeline_executor)
    snaps = [r for r in rows if r["kind"] == "snapshot"]
    assert len(snaps) == 1 and snaps[0]["seq"] > 0
    state = json.loads(snaps[0]["payload"])
    assert state == json.loads(json.dumps(want))
    assert state["status"] == "COMPLETED"
    assert state["thread_runs"][0]["variables"]["score"] == 2 * 2 + 5 + 7


def test_per_timer_native_callbacks():
    """SLEEP: the processor registers ONE native timer per stored
    WFRunTimer (not a single re-armed earliest timeout) and the
    per-timer callback completes the run with no further input."""
    import time

    wf = Workflow("sleepy-tws")
    t = wf.thread("entrypoint")
    t.sleep_for(1)
    spec = wf.build()

    handle = FakeHandle()
    proc = WFRunFoldProcessor(spec, native_timers=True)
    proc.init(handle)
    # Future event-time: the timer must stay pending at input time
    # (a wall-clock-past maturation fires inline, as in the old engine).
    ts0 = int(time.time() * 1000) + 600_000
    rows = _drive(proc, "r1", [_start_event("r1", {}, ts=ts0)])
    timer_rows = [r for r in rows if r["kind"] == "timer"]
    assert len(timer_rows) == 1
    maturation = timer_rows[0]["maturation_timestamp"]
    assert handle.timers == {maturation}  # one native timer per WFRunTimer
    assert [r["status"] for r in rows if r["kind"] == "snapshot"] == ["RUNNING"]

    out = _expire(proc, "r1", maturation)
    snaps = [r for r in out if r["kind"] == "snapshot"]
    assert snaps and snaps[-1]["status"] == "COMPLETED"
    state = json.loads(snaps[-1]["payload"])
    assert state["thread_runs"][0]["task_runs"][0]["status"] == "COMPLETED"
    # Timer store drained.
    assert list(handle.states["timers"].get()) == []


def test_tombstone_eviction_drops_duplicates():
    """evict_completed: terminal run → tombstone, no timer left
    registered, and a redelivered duplicate is dropped."""
    handle = FakeHandle()
    proc = WFRunFoldProcessor(pipeline_spec(), executor=pipeline_executor,
                              native_timers=True, evict_completed=True)
    proc.init(handle)
    rows = _drive(proc, "r1", [_start_event("r1", {"n_purch": 1, "n_click": 1})])
    assert [r["status"] for r in rows if r["kind"] == "snapshot"] == ["COMPLETED"]
    assert handle.states["run"].get()[3] == 1  # tomb marker
    assert handle.timers == set()

    # Redelivered duplicate start → swallowed, no output, no restart.
    dup = _drive(proc, "r1", [_start_event("r1", {"n_purch": 1, "n_click": 1})])
    assert dup == []
    assert handle.states["run"].get()[3] == 1


def test_stale_timer_callback_is_noop():
    """A callback firing before any stored timer matures must not
    change state (nothing to re-arm in the per-timer model)."""
    import time

    wf = Workflow("sleepy-tws2")
    t = wf.thread("entrypoint")
    t.sleep_for(10)
    spec = wf.build()

    handle = FakeHandle()
    proc = WFRunFoldProcessor(spec, native_timers=True)
    proc.init(handle)
    _drive(proc, "r1", [_start_event("r1", {}, ts=int(time.time() * 1000)
                                     + 600_000)])
    before = handle.states["run"].get()
    assert list(handle.states["timers"].get())  # the sleep is pending
    assert _expire(proc, "r1", 1) == []
    assert handle.states["run"].get() == before


def test_tws_streaming_twin_matches_batch(spark):
    """Full Structured Streaming run under row-based transformWithState
    equals the workflow's closed form."""
    from old_original_java_little_horse_spark.streaming.engine import (
        run_streaming_availablenow,
    )

    workdir = Path(tempfile.mkdtemp(prefix="tws-twin-"))
    try:
        events_dir = workdir / "events"
        events_dir.mkdir()
        start = [("r1", "s", "s", "WF_RUN_STARTED", 0, 1000, 0,
                  json.dumps({"variables": {"n_purch": 2, "n_click": 5}}))]
        spark.createDataFrame(start, schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events_dir / "wave1"))
        tagged = run_streaming_availablenow(
            spark, str(events_dir) + "/*", pipeline_spec(),
            checkpoint_dir=str(workdir / "ckpt"),
            output_dir=str(workdir / "out"),
            executor=pipeline_executor)
        snaps = [r for r in tagged.collect() if r["kind"] == "snapshot"]
        assert len(snaps) == 1 and snaps[0]["status"] == "COMPLETED"
        state = json.loads(snaps[0]["payload"])
        assert state["thread_runs"][0]["variables"]["score"] == 2 * 2 + 5 + 7
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_tws_native_timer_fires_live(spark):
    """ST2 under the REAL tws runtime: a stored SLEEP's WFRunTimer is
    armed as ONE native timer (`handle.registerTimer`) and
    `handleExpiredTimer` fires for exactly that maturation — the run
    completes with NO further input (reference punctuator semantics,
    SchedulerProcessor.java:88-126), proven against the RocksDB state
    store + timer services rather than the fake handle."""
    import time

    from old_original_java_little_horse_spark.streaming.engine import (
        start_continuous,
    )

    wf = Workflow("sleepy-tws")
    t = wf.thread("entrypoint")
    t.sleep_for(1)
    spec = wf.build()

    workdir = Path(tempfile.mkdtemp(prefix="tws-native-"))
    events_dir = workdir / "events"
    events_dir.mkdir()
    out_dir = workdir / "out"
    q = start_continuous(
        spark, str(events_dir) + "/*", spec,
        checkpoint_dir=str(workdir / "ckpt"), output_dir=str(out_dir),
        trigger_seconds=0.2,
    )
    try:
        now = int(time.time() * 1000)
        start = [("r1", "s", "s", "WF_RUN_STARTED", 0, now, 0,
                  json.dumps({"variables": {}}))]
        spark.createDataFrame(start, schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events_dir / "cmd1"))

        deadline = time.monotonic() + 60
        final = None
        while time.monotonic() < deadline:
            try:
                rows = spark.read.parquet(str(out_dir)).collect()
            except Exception:
                rows = []
            snaps = sorted((r for r in rows if r["kind"] == "snapshot"),
                           key=lambda r: r["seq"])
            if snaps and snaps[-1]["status"] == "COMPLETED":
                final = snaps[-1]
                break
            time.sleep(0.3)
        assert final is not None, "sleep never completed without further input"
        state = json.loads(final["payload"])
        assert state["thread_runs"][0]["task_runs"][0]["status"] == "COMPLETED"
        # Nothing re-injected events: the input dir holds only cmd1's
        # one row (a timer wake is a zero-row file).
        from .test_streaming import _event_rows

        assert _event_rows(events_dir) == [("r1", "WF_RUN_STARTED")]
    finally:
        q.stop()
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Processor vs pure fold: ANY interleaving, ANY micro-batch slicing
# ---------------------------------------------------------------------------

def test_processor_matches_pure_fold_on_random_interleavings_and_batchings():
    """For any event interleaving AND any micro-batch slicing of it,
    the processor's output equals ONE sequential pass of the pure fold
    (`engine.fold.process_event`) over the same events: the same
    task-schedule and timer rows in the same order, one snapshot per
    batch that leaves a run, the last one carrying the fold's final
    document, strictly increasing `seq`, and an index changelog that
    replays to the final document's alias set.  Fuzzed across the fold
    property pool (garbage events, duplicates, interrupts, stops,
    retries, timers)."""
    import copy

    from hypothesis import given, settings, strategies as st

    from old_original_java_little_horse_spark.operators.run_index import (
        doc_aliases,
    )
    from old_original_java_little_horse_spark.streaming.engine import (
        emit_ctx_rows,
    )
    from .test_fold_properties import SPEC, event_pool

    @settings(max_examples=75, deadline=None)
    @given(st.data())
    def run(data):
        pool = event_pool()
        n = data.draw(st.integers(min_value=1, max_value=14))
        seq = []
        for i, idx in enumerate(data.draw(st.lists(
                st.integers(0, len(pool) - 1), min_size=n, max_size=n))):
            ev = copy.deepcopy(pool[idx])
            ev["offset"] = i
            # the streaming column is always a JSON string
            if isinstance(ev.get("content"), dict):
                ev["content"] = json.dumps(ev["content"])
            seq.append({c: ev.get(c) for c in _EVENT_COLS})
        # random micro-batch boundaries (sorted unique cut points)
        cuts = sorted(set(data.draw(st.lists(
            st.integers(1, max(1, n - 1)), max_size=4))))
        batches, lo = [], 0
        for c in cuts + [n]:
            if c > lo:
                batches.append(seq[lo:c])
                lo = c

        proc = WFRunFoldProcessor(SPEC, evict_completed=False)
        proc.init(FakeHandle())
        got: list[dict] = []
        for batch in batches:
            got.extend(_drive(proc, "r1", batch))

        state, want_emitted, runs_after = None, [], []
        for batch in batches:
            for ev in batch:
                state, ctx = process_event(SPEC, state, dict(ev))
                emit_ctx_rows(want_emitted, "r1", ctx, [])
            runs_after.append(state is not None)

        emitted = [r for r in got if r["kind"] in ("task_schedule", "timer")]
        assert emitted == want_emitted
        snaps = [r for r in got if r["kind"] == "snapshot"]
        assert len(snaps) == sum(runs_after)
        seqs = [r["seq"] for r in snaps]
        assert seqs == sorted(set(seqs))
        aliases: set = set()
        for r in got:
            if r["kind"] == "index":
                op = json.loads(r["payload"])
                pair = (op["key"], op["value"])
                if op["op"] == "CREATE":
                    aliases.add(pair)
                else:
                    aliases.discard(pair)
        if state is None:
            assert snaps == [] and aliases == set()
        else:
            assert json.loads(snaps[-1]["payload"]) == \
                json.loads(json.dumps(state))
            assert aliases == doc_aliases(state)

    run()
