"""The live engine runs a micro-batch only when there is work: a new
event file, or a timer the driver-side wake (`engine._TimerWake`) has
found due.  Timers stay self-contained across a restart, a wake file
never carries a row, no wake thread outlives its query, and the
read-your-writes barrier releases each command on the batch that
folded it."""
from __future__ import annotations

import json
import random
import threading
import time
from pathlib import Path

from old_original_java_little_horse_spark.cli import _write_event
from old_original_java_little_horse_spark.sdk.builder import Workflow
from old_original_java_little_horse_spark.sinks.serving import (
    read_snapshot_rows,
)
from old_original_java_little_horse_spark.streaming.engine import (
    await_read_your_writes, start_continuous,
)

from .test_streaming import _event_rows


def _wake_threads() -> list[threading.Thread]:
    return [t for t in threading.enumerate()
            if t.name.startswith("engine-wake-")]


def _status(serving_dir: str, run_id: str) -> str | None:
    rows = read_snapshot_rows(serving_dir, run_id)
    return rows[-1]["status"] if rows else None


def _await_status(serving_dir: str, run_id: str, status: str,
                  timeout: float = 60.0) -> None:
    """Poll the serving store until the run shows `status`."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if _status(serving_dir, run_id) == status:
            return
        time.sleep(0.1)
    raise AssertionError(f"{run_id} never reached {status}: "
                         f"{_status(serving_dir, run_id)}")


def _post(spark, events_dir: str, checkpoint_dir: str, run_id: str,
          spec: dict) -> None:
    """Start a run and wait until the engine has folded its command."""
    cmd = _write_event(spark, events_dir, {
        "wf_run_id": run_id, "wf_spec_name": spec["name"],
        "event_type": "WF_RUN_STARTED",
        "content": json.dumps({"variables": {}})})
    await_read_your_writes(checkpoint_dir, cmd, timeout=120)


# Each test first folds a throwaway run: a cold engine's first batch
# takes seconds, and the fold times a timer from its event's
# timestamp, so a run started on a cold engine can have its timers
# already due, and fired inline, when its own batch runs.


def test_sleep_armed_before_a_restart_completes_after_it_then_idles(
        spark, tmp_path):
    """A SLEEP armed on one engine manager completes on its successor
    over the same checkpoint with no further input: the new query
    seeds its wake from the timers registered in the checkpoint.
    `stop_all` leaves no wake thread alive, every wake file is empty,
    and once the run completes the query runs no batch for 5 s."""
    from old_original_java_little_horse_spark.api.engines import (
        SparkEngineManager,
    )

    wf = Workflow("sleep-restart")
    wf.thread("entrypoint").sleep_for(4)
    spec = wf.build()
    base = tmp_path / "engines"

    mgr = SparkEngineManager(spark, str(base), trigger_seconds=0.2)
    try:
        h = mgr.deploy(spec)
        _post(spark, h.events_dir, h.checkpoint_dir, "warm", spec)
        _post(spark, h.events_dir, h.checkpoint_dir, "r1", spec)
        assert _status(h.serving_dir, "r1") == "RUNNING"
    finally:
        mgr.stop_all()
    deadline = time.monotonic() + 5
    while _wake_threads() and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not _wake_threads(), "a wake thread outlived its query"

    mgr2 = SparkEngineManager(spark, str(base), trigger_seconds=0.2)
    try:
        h2 = mgr2.deploy(spec)
        _await_status(h2.serving_dir, "r1", "COMPLETED")
        assert _event_rows(Path(h2.events_dir)) == [
            ("r1", "WF_RUN_STARTED"), ("warm", "WF_RUN_STARTED")]
        time.sleep(1.0)  # let the completing batch post its progress
        before = h2.query.lastProgress.batchId
        time.sleep(5.0)
        assert h2.query.lastProgress.batchId == before, (
            "the idle engine kept running micro-batches")
    finally:
        mgr2.stop_all()


def test_task_timeout_fires_through_a_wake(spark, tmp_path):
    """A task that never answers, `with_timeout(3).with_retries(1)`:
    both timeout timers fire with no further input (the run halts
    after exactly two attempts), and the events directory holds only
    the start commands' rows."""
    from old_original_java_little_horse_spark.harness.executor import execute

    wf = Workflow("timeout-wake")
    wf.thread("entrypoint").execute("slow_task").with_timeout(3) \
        .with_retries(1)
    spec = wf.build()
    ev = tmp_path / "events"
    ev.mkdir()
    ckpt = str(tmp_path / "ckpt")
    serving = str(tmp_path / "serving")
    q = start_continuous(
        spark, str(ev) + "/*", spec, checkpoint_dir=ckpt,
        output_dir=str(tmp_path / "out"), executor=execute,
        trigger_seconds=0.2, serving_dir=serving, state_partitions=4)
    try:
        _post(spark, str(ev), ckpt, "warm", spec)
        _post(spark, str(ev), ckpt, "t1", spec)
        assert _status(serving, "t1") == "RUNNING"
        _await_status(serving, "t1", "HALTED")
        doc = json.loads(read_snapshot_rows(serving, "t1")[-1]["state_json"])
        assert len(doc["thread_runs"][0]["task_runs"]) == 2
        assert _event_rows(ev) == [("t1", "WF_RUN_STARTED"),
                                   ("warm", "WF_RUN_STARTED")]
    finally:
        q.stop()


def test_barrier_releases_spaced_single_commands_quickly(spark, tmp_path):
    """30 single commands at random 0-300 ms gaps on an otherwise idle
    engine: each read-your-writes barrier returns in under 3 s (with
    no empty batches there is no successor batch to wait for), and
    every run is served once its barrier returns."""
    from old_original_java_little_horse_spark.engine.batch_queries import (
        pipeline_executor, pipeline_spec,
    )

    spec = pipeline_spec()
    ev = tmp_path / "events"
    ev.mkdir()
    ckpt = str(tmp_path / "ckpt")
    serving = str(tmp_path / "serving")
    q = start_continuous(
        spark, str(ev) + "/*", spec, checkpoint_dir=ckpt,
        output_dir=str(tmp_path / "out"), executor=pipeline_executor,
        trigger_seconds=0.2, serving_dir=serving, state_partitions=4)
    rng = random.Random(13)
    try:
        _post(spark, str(ev), ckpt, "warm", spec)
        waits = []
        for i in range(30):
            time.sleep(rng.uniform(0.0, 0.3))
            t0 = time.monotonic()
            _post(spark, str(ev), ckpt, f"p{i}", spec)
            waits.append(time.monotonic() - t0)
            assert _status(serving, f"p{i}") is not None, (
                "barrier returned before the run was served")
        assert max(waits) < 3.0, sorted(waits)
    finally:
        q.stop()
