"""Catch-up admission control for the continuous engine (VERDICT r12
item 3 — the reference's per-record scheduler never makes a freshly
POSTed run wait behind a recovery backlog,
`scheduler/SchedulerProcessor.java:63-86`).

The engine's event source is the file-backed Kafka stand-in: a
micro-batch consumes EVERY file visible at its trigger, so a bulk
backlog (engine restart after downtime, a topic dump import) written
as one big parquet file becomes one giant batch — correct and
sub-linear (ENGINE_SCALE_r12: 1M events, one 190 s batch), but a new
run POSTed behind it waits the whole fold.  Kafka's knob for this is
`maxOffsetsPerTrigger`; the file source's `maxFilesPerTrigger` twin
(kept only on the `run_streaming_availablenow` replay; the live start
reads uncapped) caps by FILE and cannot split one big file, and FIFO
file admission would still queue a new command behind every backlog
file.

`CatchUpAdmission` is the row-granular, latency-preserving
equivalent, implemented SOURCE-SIDE (upstream of the stateful
operator):

- Bulk backlogs go to a SPOOL, not the live events dir.  The spool
  is split into offset-ordered segments of `segment_rows` rows.
- A pacer thread releases segments into the events dir (atomic
  rename, same move the durable single-event writer uses) only while
  the released-but-not-yet-folded row count stays under
  `max_rows_per_trigger` — folded rows are read from the engine's
  OWN checkpoint (`checkpoint.listing_log_batches` /
  `folded_log_batch`, the record the read-your-writes barrier reads),
  so a slow engine throttles the release instead of accumulating an
  ever-larger visible backlog, and the importer needs no query
  handle (`cli import` runs as a separate process).
  Every micro-batch therefore folds at most ~`max_rows_per_trigger`
  backlog rows plus whatever live commands arrived — bounded batch
  time, so the read-your-writes barrier a new run waits on releases
  in ~one bounded batch instead of after the full drain.
- Live commands keep their sub-trigger admission latency: they
  bypass the spool ENTIRELY unless their `wf_run_id` still has rows
  queued in it, in which case the event is appended at the spool
  tail — per-key offset order is the fold's correctness contract
  (`prepare_events` orders within a batch only; cross-batch order is
  the source's job, exactly as a per-key-partitioned Kafka topic
  provides), and new runs are new keys, so the fast path is the
  common one.
- After a fast-path live admit the pacer YIELDS — it holds further
  backlog release for `live_yield_seconds` — so the batch carrying
  the live command is near idle size rather than cap size.  A fresh
  run during catch-up then costs roughly (half the in-flight capped
  batch) + (one idle-grade batch), instead of riding a full cap
  batch on top of that.  Starvation-bounded under continuous live
  traffic.

Ordering safety: the global offset sort at spool time puts any one
key's rows in ascending-offset segment order, FIFO release keeps
segments in that order, and a pending-key live event lands BEHIND
the spooled rows it must follow.  A backlog run's own task results
cannot overtake its RUN_STARTED either: tasks only execute after the
fold admits the start.

A released segment counts as folded once the file-source log batch
that listed it is covered by a committed micro-batch: exact, per
segment.
"""
from __future__ import annotations

import os
import threading
import time
import uuid
from collections import deque
from pathlib import Path
from typing import Callable

_ARROW_FIELDS = [
    ("wf_run_id", "string"), ("wf_spec_id", "string"),
    ("wf_spec_name", "string"), ("event_type", "string"),
    ("thread_id", "int32"), ("timestamp", "int64"),
    ("offset", "int64"), ("content", "string"),
]


def event_arrow_schema():
    import pyarrow as pa

    return pa.schema([(n, getattr(pa, t)()) for n, t in _ARROW_FIELDS])


def event_table(row: dict):
    """One command event as a one-row table of the engine's event
    schema.  A missing or None thread id is 0; a missing timestamp or
    offset is the produce time (ms, and µs — see `cli._write_event`)."""
    import pyarrow as pa

    tid = row.get("thread_id", 0)
    return pa.table({
        "wf_run_id": [row["wf_run_id"]],
        "wf_spec_id": [row.get("wf_spec_id")],
        "wf_spec_name": [row.get("wf_spec_name")],
        "event_type": [row["event_type"]],
        "thread_id": [0 if tid is None else int(tid)],
        "timestamp": [row.get("timestamp") or int(time.time() * 1000)],
        "offset": [row.get("offset") or time.time_ns() // 1000],
        "content": [row["content"]],
    }, schema=event_arrow_schema())


def write_event_file(target_dir: str | Path, tbl) -> Path:
    """Durably publish one event file under `target_dir` as its own
    `cmd-*/part-00000.parquet` and return the file's path: the one
    writer of single event files — command events (`cli._write_event`),
    fast-path live admits and the engine's zero-row timer wakes."""
    import pyarrow.parquet as pq

    d = Path(target_dir) / f"cmd-{uuid.uuid4().hex[:12]}"
    d.mkdir(parents=True, exist_ok=True)
    # Write-then-rename: the stream source lists the directory between
    # triggers, and a half-written file would poison the batch.  fsync
    # data BEFORE the rename: a power loss keeping the rename but
    # dropping buffered contents would leave a truncated parquet under
    # its final name that permanently poisons the explicit-schema
    # stream source — the same torn-final-name mode closed for the
    # engine changelog (streaming/engine.py, ADVICE r8).
    tmp = d / ".part-00000.parquet.tmp"
    pq.write_table(tbl, tmp)
    fd = os.open(tmp, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
    final = d / "part-00000.parquet"
    os.replace(tmp, final)
    # Two dirent fsyncs complete the durability chain (ADVICE r9):
    # the cmd-* dir for the renamed part file's entry, and the PARENT
    # events dir for the cmd-* dir's own entry — without the second, a
    # power loss can drop the whole freshly-created directory while a
    # later-fsynced worker ledger "done" record survives, marking the
    # attempt done though the engine never sees its events.
    for p in (d, Path(target_dir)):
        dfd = os.open(p, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    return final


class CatchUpAdmission:
    """Paced release of a spooled event backlog into a live engine's
    events directory.  See module docstring for the design.

    `checkpoint_dir`: the engine's checkpoint, whose committed batches
    pace the release; pass `folded_rows_fn` instead to inject feedback
    (tests), or neither to release freely.  `spool_dir` must share a
    filesystem with `events_dir` (defaults to a sibling, which
    guarantees it) — release is an atomic rename.
    """

    def __init__(self, events_dir: str,
                 spool_dir: str | None = None,
                 max_rows_per_trigger: int = 20_000,
                 segment_rows: int | None = None,
                 poll_seconds: float = 0.2,
                 live_yield_seconds: float = 1.0,
                 live_yield_starvation_s: float = 30.0,
                 checkpoint_dir: str | None = None,
                 folded_rows_fn: Callable[[], int] | None = None):
        self.events_dir = Path(events_dir)
        self.spool_dir = Path(
            spool_dir
            if spool_dir is not None
            else self.events_dir.parent
            / f".{self.events_dir.name}-admission-spool")
        self.spool_dir.mkdir(parents=True, exist_ok=True)
        self.max_rows_per_trigger = int(max_rows_per_trigger)
        # Half-cap segments keep two in flight, so a batch commit
        # never leaves the engine idle waiting out a poll interval.
        self.segment_rows = int(segment_rows
                                or max(1, self.max_rows_per_trigger // 2))
        self.poll_seconds = poll_seconds
        # Yield-on-live: after a fast-path live admit, hold backlog
        # release for `live_yield_seconds` — the other half of the
        # reference's new-work-first property: the cap bounds the
        # wait for the IN-FLIGHT batch, the yield keeps the NEXT
        # batch, the one carrying the live command, near idle size
        # instead of cap size.  Starvation-bounded: under continuous
        # live traffic the hold is ignored once the pacer has been
        # held `live_yield_starvation_s` straight.
        self.live_yield_seconds = live_yield_seconds
        self.live_yield_starvation_s = live_yield_starvation_s
        self._last_live = 0.0
        self._hold_started: float | None = None
        self.checkpoint_dir = checkpoint_dir
        self._released_paths: dict[str, int] = {}  # final name -> rows
        # Released segment -> the file-source log batch that listed it
        # (log entries never change, so each is looked up once).
        self._listed: dict[str, int] = {}
        self._folded_rows_fn = folded_rows_fn
        self._lock = threading.Lock()
        self._segments: deque[dict] = deque()
        self._pending_keys: dict[str, int] = {}
        self._released_rows = 0
        self._seq = 0
        self._stop = threading.Event()
        self._wake = threading.Event()
        self._thread: threading.Thread | None = None

    # -- producer side ---------------------------------------------------

    def spool_bulk(self, tbl) -> int:
        """Queue a bulk event table (offset-sorted, segmented).
        Returns the number of segments spooled.  The pacer thread
        starts on first use."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = tbl.cast(event_arrow_schema())
        tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("offset",
                                                        "ascending")]))
        n_segments = 0
        for lo in range(0, tbl.num_rows, self.segment_rows):
            seg = tbl.slice(lo, self.segment_rows)
            self._spool_segment(seg, pa, pq)
            n_segments += 1
        self._ensure_thread()
        self._wake.set()
        return n_segments

    def submit_live(self, row: dict) -> Path | None:
        """Admit one live command: straight into the events dir when
        its key has nothing spooled (the common, new-run case — the
        event is visible to the very next trigger), else appended at
        the spool tail to preserve per-key offset order.  Returns the
        event's directory on the fast path (for
        `await_read_your_writes`), None when spooled."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = event_table(row)
        with self._lock:
            queued = row["wf_run_id"] in self._pending_keys
        if queued:
            self._spool_segment(tbl, pa, pq)
            self._ensure_thread()
            self._wake.set()
            return None
        path = write_event_file(self.events_dir, tbl).parent
        self._last_live = time.monotonic()
        return path

    # -- introspection ---------------------------------------------------

    def pending_rows(self) -> int:
        with self._lock:
            return sum(s["rows"] for s in self._segments)

    def outstanding_rows(self) -> int:
        """Released-but-not-yet-in-a-completed-batch rows (≥ 0)."""
        if self._folded_rows_fn:
            folded = self._folded_rows_fn()
        else:
            folded = self._folded_from_checkpoint()
        with self._lock:
            return max(0, self._released_rows - folded)

    def drain(self, timeout: float = 600.0) -> bool:
        """Block until the spool is fully RELEASED (not folded)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if self.pending_rows() == 0:
                return True
            time.sleep(self.poll_seconds)
        return False

    def close(self) -> None:
        self._stop.set()
        self._wake.set()
        if self._thread is not None:
            self._thread.join(timeout=10)

    # -- internals -------------------------------------------------------

    def _spool_segment(self, seg, pa, pq) -> None:
        with self._lock:
            # uuid suffix: release order is the deque's, not the
            # name's — the suffix only keeps two admission instances
            # sharing one events dir from colliding on rename.
            path = (self.spool_dir
                    / f"seg-{self._seq:08d}-{uuid.uuid4().hex[:8]}")
            self._seq += 1
        path.mkdir(parents=True, exist_ok=True)
        tmp = path / ".part-00000.parquet.tmp"
        pq.write_table(seg, tmp)
        fd = os.open(tmp, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        os.replace(tmp, path / "part-00000.parquet")
        keys = set(seg.column("wf_run_id").to_pylist())
        with self._lock:
            for k in keys:
                self._pending_keys[k] = self._pending_keys.get(k, 0) + 1
            self._segments.append(
                {"path": path, "rows": seg.num_rows, "keys": keys})

    def _ensure_thread(self) -> None:
        with self._lock:
            if self._thread is None or not self._thread.is_alive():
                self._thread = threading.Thread(
                    target=self._pace, name="catchup-admission",
                    daemon=True)
                self._thread.start()

    def _folded_from_checkpoint(self) -> int:
        """Released rows consumed by COMMITTED batches, read from the
        engine checkpoint (cross-process feedback — no query handle)."""
        from .checkpoint import folded_log_batch, listing_log_batches

        if self.checkpoint_dir is None:
            return self._released_rows  # no feedback at all: free-run
        with self._lock:
            released = dict(self._released_paths)
        unlisted = released.keys() - self._listed.keys()
        if unlisted:
            self._listed.update(
                listing_log_batches(self.checkpoint_dir, unlisted))
        folded = folded_log_batch(self.checkpoint_dir)
        return sum(rows for name, rows in released.items()
                   if self._listed.get(name, folded + 1) <= folded)

    def _yielding_to_live(self) -> bool:
        now = time.monotonic()
        if now - self._last_live >= self.live_yield_seconds:
            self._hold_started = None
            return False
        if self._hold_started is None:
            self._hold_started = now
        # Continuous live traffic: stop starving the backlog.
        return now - self._hold_started < self.live_yield_starvation_s

    def _pace(self) -> None:
        while not self._stop.is_set():
            released_any = False
            while True:
                with self._lock:
                    seg = self._segments[0] if self._segments else None
                if seg is None:
                    break
                if self._yielding_to_live():
                    break
                if (self.outstanding_rows() + seg["rows"]
                        > self.max_rows_per_trigger):
                    break
                # Atomic rename publishes the whole segment dir; the
                # file source lists between triggers and sees it all
                # or not at all.
                target = self.events_dir / seg["path"].name
                os.replace(seg["path"], target)
                with self._lock:
                    self._segments.popleft()
                    self._released_rows += seg["rows"]
                    self._released_paths[seg["path"].name] = seg["rows"]
                    for k in seg["keys"]:
                        n = self._pending_keys.get(k, 0) - 1
                        if n <= 0:
                            self._pending_keys.pop(k, None)
                        else:
                            self._pending_keys[k] = n
                released_any = True
            if not released_any:
                self._wake.wait(self.poll_seconds)
                self._wake.clear()
