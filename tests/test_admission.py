"""CatchUpAdmission — row-granular catch-up admission control for the
continuous engine (VERDICT r12 item 3: a freshly POSTed run must not
wait behind a bulk backlog's single giant micro-batch; the reference
scheduler is per-record, `scheduler/SchedulerProcessor.java:63-86`).

Unit tests drive the pacer with an injected folded-rows feedback (no
Spark); the engine integration lives in test_streaming_engine's
catch-up case and the committed probe artifact.
"""
from __future__ import annotations

import json
import shutil
import tempfile
import time
from pathlib import Path

import pyarrow as pa
import pytest

from old_original_java_little_horse_spark.streaming.admission import (
    CatchUpAdmission,
)


def _bulk(n: int, key=lambda i: f"run-{i:05d}", base_offset=1000,
          spec_name="basic"):
    return pa.table({
        "wf_run_id": [key(i) for i in range(n)],
        "wf_spec_id": [None] * n,
        "wf_spec_name": [spec_name] * n,
        "event_type": ["WF_RUN_STARTED"] * n,
        "thread_id": pa.array([0] * n, pa.int32()),
        "timestamp": pa.array([1] * n, pa.int64()),
        "offset": pa.array([base_offset + i for i in range(n)], pa.int64()),
    "content": ['{"variables": {}}'] * n,
    })


def _released_files(events_dir):
    return sorted(p for p in events_dir.iterdir() if p.is_dir())


def _rows_in(events_dir):
    import pyarrow.parquet as pq

    out = []
    for d in _released_files(events_dir):
        out.extend(pq.read_table(d / "part-00000.parquet").to_pylist())
    return out


def _wait(pred, timeout=10.0):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if pred():
            return True
        time.sleep(0.02)
    return False


@pytest.fixture
def dirs(tmp_path):
    ev = tmp_path / "events"
    ev.mkdir()
    return ev


def test_release_is_paced_by_folded_feedback(dirs):
    folded = {"n": 0}
    adm = CatchUpAdmission(str(dirs), max_rows_per_trigger=100,
                           segment_rows=50, poll_seconds=0.02,
                           folded_rows_fn=lambda: folded["n"])
    try:
        assert adm.spool_bulk(_bulk(500)) == 10
        # Only up to max_rows_per_trigger released while nothing folds.
        assert _wait(lambda: len(_released_files(dirs)) == 2)
        time.sleep(0.2)
        assert len(_released_files(dirs)) == 2
        assert adm.pending_rows() == 400
        # Feedback advances -> the pacer tops back up, FIFO.
        folded["n"] = 100
        assert _wait(lambda: len(_released_files(dirs)) == 4)
        folded["n"] = 500
        assert _wait(lambda: adm.pending_rows() == 0)
        rows = _rows_in(dirs)
        assert len(rows) == 500
        # Global offset order across released segments (per-key order
        # is a consequence: any one key's rows ascend in offset).
        offs = [r["offset"] for r in rows]
        assert offs == sorted(offs)
    finally:
        adm.close()


def test_live_fast_path_bypasses_spool(dirs):
    adm = CatchUpAdmission(str(dirs), max_rows_per_trigger=10,
                           segment_rows=10, poll_seconds=0.02,
                           folded_rows_fn=lambda: 0)
    try:
        adm.spool_bulk(_bulk(100))  # saturates the cap immediately
        assert _wait(lambda: len(_released_files(dirs)) == 1)
        adm.submit_live({"wf_run_id": "fresh-run", "wf_spec_name": "basic",
                         "event_type": "WF_RUN_STARTED", "content": "{}"})
        # The new key's event is visible NOW, not behind the 90
        # still-spooled rows.
        assert _wait(lambda: any(
            r["wf_run_id"] == "fresh-run" for r in _rows_in(dirs)), 2.0)
        assert adm.pending_rows() == 90
    finally:
        adm.close()


def test_live_event_for_spooled_key_keeps_per_key_order(dirs):
    """Per-key offset order is the fold's correctness contract: an
    event for a key still queued in the spool must land BEHIND that
    key's spooled rows, exactly as a per-key-partitioned Kafka topic
    would serialize it."""
    folded = {"n": 0}
    adm = CatchUpAdmission(str(dirs), max_rows_per_trigger=10,
                           segment_rows=10, poll_seconds=0.02,
                           folded_rows_fn=lambda: folded["n"])
    try:
        adm.spool_bulk(_bulk(30))  # run-00000 .. run-00029
        assert _wait(lambda: len(_released_files(dirs)) == 1)
        adm.submit_live({"wf_run_id": "run-00025", "wf_spec_name": "basic",
                         "event_type": "EXTERNAL_EVENT", "content": "{}",
                         "offset": 99_999})
        # Not visible yet: run-00025's start is still spooled.
        assert all(r["event_type"] == "WF_RUN_STARTED"
                   for r in _rows_in(dirs))
        folded["n"] = 1000  # drain everything
        assert _wait(lambda: adm.pending_rows() == 0)
        rows = _rows_in(dirs)
        k25 = [r["event_type"] for r in rows
               if r["wf_run_id"] == "run-00025"]
        assert k25 == ["WF_RUN_STARTED", "EXTERNAL_EVENT"]
        idx = {id(r): i for i, r in enumerate(rows)}
        started = next(i for i, r in enumerate(rows)
                       if r["wf_run_id"] == "run-00025"
                       and r["event_type"] == "WF_RUN_STARTED")
        ext = next(i for i, r in enumerate(rows)
                   if r["event_type"] == "EXTERNAL_EVENT")
        assert ext > started
        del idx
    finally:
        adm.close()


def test_unsorted_bulk_is_offset_sorted_at_spool_time(dirs):
    adm = CatchUpAdmission(str(dirs), max_rows_per_trigger=1000,
                           segment_rows=5, poll_seconds=0.02,
                           folded_rows_fn=lambda: 10**9)
    try:
        tbl = _bulk(20)
        # Reverse it: same key set, descending offsets on disk order.
        tbl = tbl.take(pa.array(list(range(19, -1, -1))))
        adm.spool_bulk(tbl)
        assert _wait(lambda: adm.pending_rows() == 0)
        offs = [r["offset"] for r in _rows_in(dirs)]
        assert offs == sorted(offs)
    finally:
        adm.close()


def test_pacer_yields_to_live_for_the_wall_window(dirs):
    """Yield-on-live: after a fast-path admit, backlog release holds
    for `live_yield_seconds` — the batch carrying the live command
    stays near idle size — and resumes after it."""
    adm = CatchUpAdmission(str(dirs), max_rows_per_trigger=10,
                           segment_rows=10, poll_seconds=0.02,
                           live_yield_seconds=1.0,
                           folded_rows_fn=lambda: 10**9)
    try:
        live = adm.submit_live({"wf_run_id": "fresh",
                                "wf_spec_name": "basic",
                                "event_type": "WF_RUN_STARTED",
                                "content": "{}"})
        assert live is not None and live.parent == dirs
        t0 = time.monotonic()
        adm.spool_bulk(_bulk(30))
        time.sleep(0.5)
        backlog_released = [d for d in _released_files(dirs)
                            if d.name.startswith("seg-")]
        assert backlog_released == [], "released during live yield"
        assert _wait(lambda: adm.pending_rows() == 0)
        assert time.monotonic() - t0 >= 0.9
    finally:
        adm.close()


def test_outstanding_rows_clamped_at_zero(dirs):
    adm = CatchUpAdmission(str(dirs), max_rows_per_trigger=10,
                           poll_seconds=0.02,
                           folded_rows_fn=lambda: 10**9)
    try:
        adm.spool_bulk(_bulk(5))
        assert _wait(lambda: adm.pending_rows() == 0)
        assert adm.outstanding_rows() == 0
    finally:
        adm.close()


def test_checkpoint_feedback_paces_a_separate_process_import(tmp_path):
    """Cross-process feedback: an importer with no StreamingQuery
    handle paces against the engine checkpoint's own write-ahead
    record — a released segment counts as folded once a COMMITTED
    batch's offset covers the file-source log batch
    (`sources/0/<log id>`) that lists it.  Query and log batch ids
    differ: a batch with no new file advances only the query's."""
    import json

    ev = tmp_path / "events"
    ev.mkdir()
    ckpt = tmp_path / "ckpt"
    (ckpt / "commits").mkdir(parents=True)
    (ckpt / "sources" / "0").mkdir(parents=True)
    adm = CatchUpAdmission(str(ev), checkpoint_dir=str(ckpt),
                           max_rows_per_trigger=100, segment_rows=50,
                           poll_seconds=0.02)
    try:
        adm.spool_bulk(_bulk(300))
        assert _wait(lambda: len(_released_files(ev)) == 2)
        time.sleep(0.2)
        assert len(_released_files(ev)) == 2  # capped, no feedback yet
        released = _released_files(ev)

        (ckpt / "offsets").mkdir()
        query_batch = {"n": 0}

        def commit(log_offset):
            n = query_batch["n"]
            (ckpt / "offsets" / str(n)).write_text(
                "v1\n{}\n" + json.dumps({"logOffset": log_offset}))
            (ckpt / "commits" / str(n)).write_text("v1\n{}")
            query_batch["n"] += 1

        def admit(log_batch, seg_dirs):
            lines = ["v1"] + [
                json.dumps({"path": f"file://{d}/part-00000.parquet",
                            "timestamp": 1, "batchId": log_batch})
                for d in seg_dirs]
            (ckpt / "sources" / "0" / str(log_batch)).write_text(
                "\n".join(lines))

        # Query batches 0-2 admit no file (they cover log batch -1),
        # so commits/0 exists before log batch 0 is even folded.
        for _ in range(3):
            commit(-1)
        # Log batch 0 lists both released segments but no batch
        # covering it has committed: listed is not folded.
        admit(0, released)
        time.sleep(0.2)
        assert len(_released_files(ev)) == 2
        # Commit it: the pacer tops back up.
        commit(0)
        assert _wait(lambda: len(_released_files(ev)) == 4)
        # Drain the rest batch by batch.
        log_batch = 1
        while adm.pending_rows() > 0 or adm.outstanding_rows() > 0:
            admit(log_batch, _released_files(ev))
            commit(log_batch)
            log_batch += 1
            time.sleep(0.05)
        assert len(_rows_in(ev)) == 300
    finally:
        adm.close()


def test_engine_catchup_import_bounded_batches(spark):
    """End-to-end: a live engine drains a spooled backlog through
    checkpoint-feedback admission (the `cli import` path — separate
    process, no query handle) in BOUNDED batches, a fresh run posted
    mid-drain folds without waiting out the whole backlog, and every
    backlog run completes.  Also validates the real on-disk
    `commits/` + `sources/0/` format the parser reads."""
    from old_original_java_little_horse_spark.engine.fold import make_spec_registry
    from old_original_java_little_horse_spark.harness.cases import all_cases
    from old_original_java_little_horse_spark.harness.executor import execute
    from old_original_java_little_horse_spark.streaming.engine import (
        await_read_your_writes, start_continuous)

    spec = all_cases()["basic"].spec
    workdir = Path(tempfile.mkdtemp(prefix="adm-engine-"))
    ev_dir = workdir / "events"
    ev_dir.mkdir()
    ckpt = workdir / "ckpt"
    q = start_continuous(
        spark, str(ev_dir) + "/*", make_spec_registry([spec]),
        checkpoint_dir=str(ckpt),
        output_dir=str(workdir / "out"),
        serving_dirs={spec["name"]: str(workdir / "serving")},
        executor=execute,
        trigger_seconds=0.2,
        state_partitions=4)
    adm = CatchUpAdmission(str(ev_dir), checkpoint_dir=str(ckpt),
                           max_rows_per_trigger=100, poll_seconds=0.1)
    try:
        # Warm up so batch 0's codegen doesn't count.
        warm = adm.submit_live({"wf_run_id": "warm",
                                "wf_spec_name": spec["name"],
                                "event_type": "WF_RUN_STARTED",
                                "content": json.dumps({"variables": {}})})
        await_read_your_writes(ckpt, warm, timeout=120)
        base_batch = (q.lastProgress or {}).get("batchId", -1)

        adm.spool_bulk(_bulk(400, base_offset=time.time_ns() // 1000,
                            spec_name=spec["name"]))
        time.sleep(1.0)
        # Fresh run mid-drain: must fold without draining the backlog.
        fresh = adm.submit_live({"wf_run_id": "fresh-1",
                                 "wf_spec_name": spec["name"],
                                 "event_type": "WF_RUN_STARTED",
                                 "content": json.dumps({"variables": {}})})
        await_read_your_writes(ckpt, fresh, timeout=120)
        assert adm.pending_rows() > 0, (
            "fresh run's barrier released only after the whole backlog "
            "drained — admission control added no latency benefit")

        # A run completes 1-2 batches AFTER its start-batch commits
        # (the fold's task events re-ingest through later triggers),
        # so poll completions, not just the admission counters.
        def _done():
            try:
                snaps = (spark.read.parquet(str(workdir / "out"))
                         .where("kind = 'snapshot'").collect())
            except Exception:
                return set()
            latest = {}
            for r in snaps:
                if latest.get(r["wf_run_id"], (-1,))[0] < r["seq"]:
                    latest[r["wf_run_id"]] = (r["seq"], r["payload"])
            return {k for k, (_, p) in latest.items()
                    if json.loads(p)["status"] == "COMPLETED"}

        deadline = time.monotonic() + 240
        done = set()
        while time.monotonic() < deadline:
            if adm.pending_rows() == 0:
                done = _done()
                if sum(1 for k in done if k.startswith("run-")) == 400:
                    break
            time.sleep(1.0)
        assert adm.pending_rows() == 0
        assert sum(1 for k in done if k.startswith("run-")) == 400
        assert "fresh-1" in done

        # Batches stayed bounded: no post-warmup batch ingested the
        # whole 400-row backlog at once (cap 100 + live slack).
        max_rows = max((p.get("numInputRows", 0)
                        for p in (q.recentProgress or [])
                        if p and p.get("batchId", -1) > base_batch),
                       default=0)
        assert 0 < max_rows <= 200, max_rows
    finally:
        adm.close()
        q.stop()
        shutil.rmtree(workdir, ignore_errors=True)
