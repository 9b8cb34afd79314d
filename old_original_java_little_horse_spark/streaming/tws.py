"""The engine's per-run processor on row-based `transformWithState`
(Spark 4's arbitrary-stateful-processing API): the pure fold
(`engine/fold.py`) with typed state variables and per-timer native
callbacks.  `engine.streaming_engine` wires it into a query.  Input
and output are plain `Row`s: the fold works on dicts, so no per-key
DataFrame is built on either side.

Why this API maps cleanly to the reference (SURVEY §3.2):

- **Per-timer callbacks.**  `handle.registerTimer(ts)` registers one
  native timer per stored `WFRunTimer`; `handleExpiredTimer` fires for
  exactly that maturation — the reference's timer wheel
  (`SchedulerProcessor.java:88-126`: one punctuator visit per matured
  timer).
- **Typed state columns.**  The WFRun document and its bookkeeping
  live in a `ValueState`; pending timers are a `ListState` element
  each (the timer store), appended/cleared independently of the
  document instead of round-tripping one JSON blob of all timers.
- **State removal.**  A drained tombstone deletes its state variables
  (`clear()`), removing the key.

Output schema, ordering, lateness, seq and index-diff helpers
(`emit_ctx_rows` / `prepare_events` / `snapshot_row` /
`index_diff_rows`) come from `engine.py`.
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql import Row
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo, StatefulProcessor, StatefulProcessorHandle, TimerValues,
)

from ..engine.fold import TaskExecutor, process_event
from .engine import (
    OUTPUT_SCHEMA, _timer_key, emit_ctx_rows, index_diff_rows,
    prepare_events, snapshot_row,
)

# Engine bookkeeping lives in the state row, NOT inside the WFRun
# JSON document: the document is the public surface (snapshots, index,
# lhctl get) and must contain only reference fields.  `max_offset`
# gives snapshots a monotonic sequence number (latest-wins selection
# in the query layer); `max_event_ts` drives the lateness bound;
# `tomb` marks an evicted terminal run (full document dropped, dedupe
# marker retained: a duplicate WF_RUN_STARTED for an evicted run must
# NOT restart it).  Pending timers are the separate `timers` list
# state (the reference's timer store, SchedulerProcessor.java:56-60).
_RUN_STATE_SCHEMA = ("state_json string, max_offset long, "
                     "max_event_ts long, tomb integer")
_TIMER_STATE_SCHEMA = "payload string"

_COLS = [f.name for f in OUTPUT_SCHEMA.fields]
_OutRow = Row(*_COLS)


def _as_rows(out_rows: list[dict]) -> Iterator[Row]:
    """The processor's output dicts as Rows in OUTPUT_SCHEMA order."""
    for r in out_rows:
        yield _OutRow(*(r[c] for c in _COLS))


class WFRunFoldProcessor(StatefulProcessor):
    """One instance per state partition; state accessors are per-key
    (implicit grouping key, as with the reference's processor).

    `evict_completed`: once a run reaches COMPLETED and its final
    snapshot is emitted, replace the state document with a tombstone.
    Late/duplicate deliveries for the run are dropped (exactly-once
    preserved) but the store no longer grows with run *history* —
    only with run *count*: the marker itself is permanent.  HALTED
    runs are NOT evicted: WF_RUN_RESUME_REQUEST must find their full
    document (fold.py resume semantics)."""

    def __init__(self, spec: dict, executor: TaskExecutor | None = None,
                 allowed_lateness_ms: int | None = None,
                 native_timers: bool = False,
                 evict_completed: bool = False):
        self.spec = spec
        self.executor = executor
        self.allowed_lateness_ms = allowed_lateness_ms
        self.native_timers = native_timers
        self.evict_completed = evict_completed

    # -- state plumbing ----------------------------------------------------

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self._run = handle.getValueState("run", _RUN_STATE_SCHEMA)
        self._timers = handle.getListState("timers", _TIMER_STATE_SCHEMA)

    def close(self) -> None:
        pass

    def _load(self):
        val = self._run.get()
        if val is None:
            return None, 0, 0, 0, []
        state_json, max_offset, max_event_ts, tomb = val
        pending = [json.loads(p) for (p,) in self._timers.get()]
        state = None if tomb else json.loads(state_json)
        return state, max_offset or 0, max_event_ts or 0, tomb or 0, pending

    def _save(self, state, max_offset: int, max_event_ts: int,
              pending: list, out_rows: list, wf_run_id: str,
              old_aliases: set | None) -> None:
        """Emit the per-batch snapshot (S5, SchedulerTopology.java:74-87;
        `seq` = max folded offset, a monotonic per-key version the
        query layer orders by — file-scan order is NOT write order),
        persist state, register one native timer per pending
        WFRunTimer, tombstone terminal runs.

        `old_aliases`: the run's alias set BEFORE this batch's events —
        diffed against the new document to emit `kind='index'`
        CREATE/DELETE changelog rows (ResourceIndexProcessor.java:41-131
        semantics: the scheduler, which alone sees old+new state,
        publishes index diffs; downstream compaction is latest-op-wins).
        Index work per batch is O(changed runs), never O(index)."""
        if old_aliases is not None:
            index_diff_rows(out_rows, wf_run_id, old_aliases, state, max_offset)
        out_rows.append(snapshot_row(wf_run_id, state, max_offset))
        if self.evict_completed and state["status"] == "COMPLETED":
            # Terminal run: stored timers are dead (the fold's stale
            # guards no-op a timer against a terminal run), so drop
            # them rather than block eviction — in replay mode (no
            # timer callbacks) an unmatured task-timeout timer would
            # otherwise pin the full document forever.  Also delete
            # every REGISTERED native timer: this API keeps each
            # registered expiry alive, so a dead task-timeout would
            # stay in the timer store and call back on the tombstoned
            # key for nothing.
            self._run.update(("", max_offset, max_event_ts, 1))
            self._timers.clear()
            if self.native_timers:
                for ts in self.handle.listTimers():
                    self.handle.deleteTimer(ts)
            return
        self._run.update((json.dumps(state, separators=(",", ":")),
                          max_offset, max_event_ts, 0))
        self._timers.clear()
        if pending:
            self._timers.put([(json.dumps(t, separators=(",", ":")),)
                              for t in pending])
            if self.native_timers:
                # Register only NEW maturations: stored timers survive
                # across invocations in this API (no re-arm dance), and
                # re-registering an existing expiry must not double it.
                armed = set(self.handle.listTimers())
                for ts in {t["maturation_timestamp"] for t in pending}:
                    if ts not in armed:
                        self.handle.registerTimer(ts)

    def _fire_matured(self, wf_run_id: str, state, pending: list,
                      max_offset: int, now_ms: int, out_rows: list):
        """Fold every matured stored timer as a TIMER_EVENT; firing can
        create new timers (sequential SLEEPs), so loop to quiescence.
        Synthetic offsets continue the per-key sequence (+1 each) so
        snapshot `seq` stays monotonic."""
        fired = False
        while True:
            matured = [t for t in pending
                       if t["maturation_timestamp"] <= now_ms]
            if not matured:
                break
            # Maturation order FIRST (thread/task ids only break ties):
            # the reference punctuator range-scans [0, now] by
            # maturation time (SchedulerProcessor), and TIMER_EVENTs in
            # a replayed log carry their maturation timestamp on the
            # µs offset scale — firing here in any other order could
            # diverge from both when one timer's fold halts a thread
            # whose own timer matured earlier.
            for t in sorted(matured,
                            key=lambda t: (t["maturation_timestamp"],
                                           t["thread_run_id"],
                                           t["task_run_id"])):
                pending.remove(t)
                max_offset += 1
                ev = {
                    "wf_run_id": wf_run_id, "event_type": "TIMER_EVENT",
                    "thread_id": t["thread_run_id"],
                    "timestamp": t["maturation_timestamp"],
                    "offset": max_offset, "content": json.dumps(t),
                }
                state, ctx = process_event(self.spec, state, ev,
                                           executor=self.executor)
                emit_ctx_rows(out_rows, wf_run_id, ctx, pending)
                fired = True
        return state, pending, max_offset, fired

    # -- input path --------------------------------------------------------

    def handleInputRows(self, key, rows: Iterator[Row],
                        timerValues: TimerValues) -> Iterator[Row]:
        import time as _time

        (wf_run_id,) = key
        state, max_offset, max_event_ts, tomb, pending = self._load()
        if tomb:
            # Evicted terminal run: duplicates/late events are dropped.
            return
        from ..operators.run_index import doc_aliases

        old_aliases = doc_aliases(state)

        events, max_offset, max_event_ts = prepare_events(
            [r.asDict() for r in rows], max_offset, max_event_ts,
            self.allowed_lateness_ms)

        out_rows: list = []
        for ev in events:
            if ev.get("event_type") == "TIMER_EVENT":
                # A firing carried by the input (TIMER_EVENT is an
                # input event type, FIXTURES.md §1: a replayed event
                # log can hold them): it consumes the stored timer.
                try:
                    fired_key = _timer_key(json.loads(ev.get("content") or "{}"))
                    pending = [t for t in pending
                               if _timer_key(t) != fired_key]
                except (KeyError, ValueError, TypeError):
                    # TypeError: valid JSON that is not an object — a
                    # poison pill must be skipped, not crash the batch.
                    pass
            state, ctx = process_event(self.spec, state, ev,
                                       executor=self.executor)
            emit_ctx_rows(out_rows, wf_run_id, ctx, pending)

        if state is not None and self.native_timers:
            state, pending, max_offset, _ = self._fire_matured(
                wf_run_id, state, pending, max_offset,
                int(_time.time() * 1000), out_rows)

        if state is not None:
            self._save(state, max_offset, max_event_ts, pending,
                       out_rows, wf_run_id, old_aliases)
        yield from _as_rows(out_rows)

    # -- timer path (per-timer callback) -----------------------------------

    def handleExpiredTimer(self, key, timerValues: TimerValues,
                           expiredTimerInfo: ExpiredTimerInfo,
                           ) -> Iterator[Row]:
        (wf_run_id,) = key
        expiry_ms = expiredTimerInfo.getExpiryTimeInMs()
        state, max_offset, max_event_ts, tomb, pending = self._load()
        if tomb:
            # The dedupe marker is permanent.  _save deletes the
            # registered timers at tombstone time, but an expiry can
            # still reach a tombstoned key (a second timer of the same
            # expiry scan, fetched before the first one's fold
            # tombstoned the run); clearing the marker for it would
            # re-open the run to redelivered events.
            return
        from ..operators.run_index import doc_aliases

        old_aliases = doc_aliases(state)
        out_rows: list = []
        state, pending, max_offset, fired = self._fire_matured(
            wf_run_id, state, pending, max_offset, expiry_ms, out_rows)
        if fired:
            self._save(state, max_offset, max_event_ts, pending,
                       out_rows, wf_run_id, old_aliases)
        # Not fired (early/stale callback): stored timers and their
        # still-registered native timers are untouched — nothing to
        # re-arm.
        yield from _as_rows(out_rows)
