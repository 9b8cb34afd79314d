"""Property tests for `streaming.engine.prepare_events` — the
ordering / lateness / seq-advance contract the stateful processor
relies on."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from old_original_java_little_horse_spark.streaming.engine import prepare_events

event = st.fixed_dictionaries({
    "offset": st.integers(0, 1000) | st.none(),
    "timestamp": st.integers(0, 10_000) | st.none(),
    "event_type": st.sampled_from(
        ["TASK_RESULT", "EXTERNAL_EVENT", "TIMER_EVENT"]),
})


@settings(max_examples=300, deadline=None)
@given(events=st.lists(event, max_size=20),
       max_offset=st.integers(0, 1000),
       max_event_ts=st.integers(0, 10_000),
       lateness=st.integers(0, 5000) | st.none())
def test_prepare_events_invariants(events, max_offset, max_event_ts, lateness):
    out, new_off, new_ts = prepare_events(
        list(events), max_offset, max_event_ts, lateness)

    offs = [e.get("offset") or 0 for e in out]
    assert offs == sorted(offs)                      # per-key offset order
    assert new_off >= max_offset                     # seq never regresses
    if out:
        assert new_off > max_offset or not events    # strict advance on fold
    assert new_ts >= max_event_ts                    # event-time watermark
    assert new_ts >= max((e.get("timestamp") or 0 for e in out), default=0)

    if lateness is not None:
        # No kept DATA event trails the RUNNING max seen at its
        # arrival by more than the allowance (arrival = input order).
        # TIMER_EVENTs are control flow (late by construction — a
        # replayed log records them after event-time moved on) and
        # must NEVER be dropped: nothing would fire the SLEEP again.
        running = max_event_ts
        kept = set(map(id, out))
        for e in sorted(events, key=lambda e: e.get("offset") or 0):
            ts = e.get("timestamp") or 0
            running = max(running, ts)
            if e["event_type"] == "TIMER_EVENT":
                assert id(e) in kept
            elif id(e) in kept:
                assert ts >= running - lateness
    else:
        assert len(out) == len(events)               # nothing dropped


@settings(max_examples=100, deadline=None)
@given(events=st.lists(event, min_size=1, max_size=20),
       max_offset=st.integers(0, 1000))
def test_stale_offsets_still_bump_seq(events, max_offset):
    """An out-of-order batch whose offsets all trail the stored max
    must STILL advance seq — two different documents may never share a
    snapshot version (latest-wins tie)."""
    capped = [dict(e, offset=min(e["offset"] or 0, max_offset))
              for e in events]
    _, new_off, _ = prepare_events(capped, max_offset, 0, None)
    assert new_off == max_offset + 1
