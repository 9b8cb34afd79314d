"""Streaming engine integration tests: the same fold under
row-based transformWithState must agree with the batch engine, including
state persisted across micro-batches."""

from __future__ import annotations

import json
import shutil
import tempfile
from pathlib import Path

import pyspark.sql.functions as F

from old_original_java_little_horse_spark.engine.batch import WF_EVENT_SCHEMA
from old_original_java_little_horse_spark.engine.batch_queries import (
    pipeline_executor, pipeline_spec, _wf_events_from_users,
)
from old_original_java_little_horse_spark.streaming.engine import (
    run_streaming_availablenow, split_outputs,
)

from .conftest import SF_SMOKE


def _write_timer_events(spark, out_dir: str, events_dir: Path, now_ms: int,
                        name: str) -> int:
    """Write a TIMER_EVENT into the events dir for every `kind='timer'`
    row the engine emitted that has matured by `now_ms` — what a
    replayed reference log carries — and return how many.  The offset
    is the maturation time in µs, the command producer's scale
    (`cli._write_event`: produce-time µs): on a ms scale every timer
    would sort BEFORE the µs-scale command that created it."""
    timers = [json.loads(r["payload"]) for r in spark.read.parquet(out_dir)
              .where((F.col("kind") == "timer")
                     & (F.col("maturation_timestamp") <= now_ms)).collect()]
    rows = [(t["wf_run_id"], None, None, "TIMER_EVENT", t["thread_run_id"],
             t["maturation_timestamp"], t["maturation_timestamp"] * 1000,
             json.dumps(t)) for t in timers]
    spark.createDataFrame(rows, schema=WF_EVENT_SCHEMA) \
         .coalesce(1).write.parquet(str(events_dir / name))
    return len(rows)


def _event_rows(events_dir: Path) -> list[tuple]:
    """(wf_run_id, event_type) of every row in the events directory,
    sorted."""
    import pyarrow.parquet as pq

    return sorted((r["wf_run_id"], r["event_type"])
                  for f in events_dir.glob("*/*.parquet")
                  for r in pq.read_table(f).to_pylist())


def test_streaming_matches_batch(spark):
    """Streaming fold over the per-user pipeline == batch closed form."""
    workdir = Path(tempfile.mkdtemp(prefix="stream-test-"))
    try:
        events_dir = workdir / "events"
        _wf_events_from_users(spark, SF_SMOKE).coalesce(1).write.parquet(str(events_dir))
        tagged = run_streaming_availablenow(
            spark, str(events_dir), pipeline_spec(),
            checkpoint_dir=str(workdir / "ckpt"),
            output_dir=str(workdir / "out"),
            executor=pipeline_executor,
        )
        snaps = tagged.where(F.col("kind") == "snapshot")
        rows = {r["wf_run_id"]: r for r in snaps.collect()}
        assert len(rows) == 15  # 15 users at sf0.001
        for run_id, r in rows.items():
            st = json.loads(r["payload"])
            assert r["status"] == "COMPLETED"
            vs = st["thread_runs"][0]["variables"]
            assert vs["score"] == 2 * vs["n_purch"] + vs["n_click"] + 7
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_streaming_state_across_microbatches(spark):
    """Events split across files with maxFilesPerTrigger=1: run state
    must persist in the state store between micro-batches."""
    workdir = Path(tempfile.mkdtemp(prefix="stream-mb-"))
    try:
        events_dir = workdir / "events"
        events_dir.mkdir()
        start = [("r1", "s", "s", "WF_RUN_STARTED", 0, 1000, 0,
                  json.dumps({"variables": {"n_purch": 2, "n_click": 5}}))]
        df1 = spark.createDataFrame(start, schema=WF_EVENT_SCHEMA)
        df1.coalesce(1).write.parquet(str(events_dir / "wave1"))

        tagged = run_streaming_availablenow(
            spark, str(events_dir) + "/*", pipeline_spec(),
            checkpoint_dir=str(workdir / "ckpt"),
            output_dir=str(workdir / "out"),
            executor=pipeline_executor,
            max_files_per_trigger=1,
        )
        snap = tagged.where(F.col("kind") == "snapshot").collect()
        assert len(snap) == 1
        state = json.loads(snap[0]["payload"])
        assert state["status"] == "COMPLETED"
        assert state["thread_runs"][0]["variables"]["score"] == 2 * 2 + 5 + 7

        # Wave 2: a second run arrives later; resuming from the same
        # checkpoint must keep r1's state and fold r2 fresh.
        start2 = [("r2", "s", "s", "WF_RUN_STARTED", 0, 2000, 0,
                   json.dumps({"variables": {"n_purch": 1, "n_click": 1}}))]
        spark.createDataFrame(start2, schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events_dir / "wave2"))
        tagged2 = run_streaming_availablenow(
            spark, str(events_dir) + "/*", pipeline_spec(),
            checkpoint_dir=str(workdir / "ckpt"),
            output_dir=str(workdir / "out2"),
            executor=pipeline_executor,
            max_files_per_trigger=1,
        )
        snaps2 = {r["wf_run_id"]: json.loads(r["payload"])
                  for r in tagged2.where(F.col("kind") == "snapshot").collect()}
        # Update mode emits only keys touched in the new batches.
        assert "r2" in snaps2
        assert snaps2["r2"]["thread_runs"][0]["variables"]["score"] == 2 * 1 + 1 + 7
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_streaming_split_and_async_tasks(spark):
    """Without an inline executor the engine emits task_schedule rows;
    feeding worker TASK_EVENTs back in a later wave completes the run
    — the full Kafka round-trip shape, minus Kafka."""
    workdir = Path(tempfile.mkdtemp(prefix="stream-async-"))
    try:
        from old_original_java_little_horse_spark.sdk.builder import Workflow

        wf = Workflow("basic")
        t = wf.thread("entrypoint")
        t.execute("echo", x="Hello, there!")
        spec = wf.build()

        events_dir = workdir / "events"
        events_dir.mkdir()
        start = [("r1", "s", "s", "WF_RUN_STARTED", 0, 1000, 0,
                  json.dumps({"variables": {}}))]
        spark.createDataFrame(start, schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events_dir / "wave1"))
        tagged = run_streaming_availablenow(
            spark, str(events_dir) + "/*", spec,
            checkpoint_dir=str(workdir / "ckpt"),
            output_dir=str(workdir / "out"),
        )
        outs = split_outputs(tagged)
        scheds = outs["task_schedule"].collect()
        assert len(scheds) == 1
        tsr = json.loads(scheds[0]["payload"])
        assert tsr["task_def_name"] == "echo"
        assert tsr["variable_substitutions"] == {"x": "Hello, there!"}

        # "Worker" responds: ended event in wave 2.
        ended = [("r1", "s", "s", "TASK_EVENT", 0, 1500, 1,
                  json.dumps({"thread_id": 0,
                              "task_run_position": tsr["task_run_position"],
                              "ended_event": {"result": {
                                  "stdout": "Hello, there!", "stderr": None,
                                  "success": True, "returncode": 0}}}))]
        spark.createDataFrame(ended, schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events_dir / "wave2"))
        tagged2 = run_streaming_availablenow(
            spark, str(events_dir) + "/*", spec,
            checkpoint_dir=str(workdir / "ckpt"),
            output_dir=str(workdir / "out2"),
        )
        snaps = [r for r in tagged2.collect() if r["kind"] == "snapshot"]
        assert len(snaps) == 1
        state = json.loads(snaps[0]["payload"])
        assert state["status"] == "COMPLETED"
        assert state["thread_runs"][0]["task_runs"][0]["stdout"] == "Hello, there!"
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_continuous_read_your_writes(spark):
    """Continuous (ProcessingTime) engine + read-your-writes barrier:
    POST /WFRun → barrier → GET must see the fold's result
    (APIStreamsContext.java:168-222 semantics)."""
    from old_original_java_little_horse_spark.streaming.engine import (
        await_read_your_writes, start_continuous,
    )

    workdir = Path(tempfile.mkdtemp(prefix="stream-cont-"))
    events_dir = workdir / "events"
    events_dir.mkdir()
    out_dir = workdir / "out"
    q = start_continuous(
        spark, str(events_dir) + "/*", pipeline_spec(),
        checkpoint_dir=str(workdir / "ckpt"),
        output_dir=str(out_dir),
        executor=pipeline_executor,
        trigger_seconds=0.2,
    )
    try:
        # "POST /WFRun": produce the command event.
        start = [("rX", "s", "s", "WF_RUN_STARTED", 0, 1000, 0,
                  json.dumps({"variables": {"n_purch": 3, "n_click": 1}}))]
        spark.createDataFrame(start, schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events_dir / "cmd1"))

        await_read_your_writes(str(workdir / "ckpt"), events_dir / "cmd1",
                               timeout=90)

        # "GET /WFRun/rX": the snapshot must be visible and final.
        snaps = [r for r in spark.read.parquet(str(out_dir)).collect()
                 if r["kind"] == "snapshot" and r["wf_run_id"] == "rX"]
        assert snaps, "barrier returned before the run was visible"
        state = json.loads(snaps[-1]["payload"])
        assert state["status"] == "COMPLETED"
        assert state["thread_runs"][0]["variables"]["score"] == 2 * 3 + 1 + 7
    finally:
        q.stop()
        shutil.rmtree(workdir, ignore_errors=True)


def test_watermark_drops_late_events(spark):
    """With a watermark, an event arriving far behind event-time is
    dropped before the fold (SURVEY §2.10 late-data bound)."""
    from old_original_java_little_horse_spark.sdk.builder import Workflow
    from old_original_java_little_horse_spark.streaming.engine import (
        start_engine_query, streaming_engine,
    )

    wf = Workflow("wm")
    t = wf.thread("entrypoint")
    t.execute("echo", x="hi")
    spec = wf.build()

    workdir = Path(tempfile.mkdtemp(prefix="stream-wm-"))
    try:
        events_dir = workdir / "events"
        events_dir.mkdir()
        now_ms = 10_000_000_000
        start = [("r1", "s", "s", "WF_RUN_STARTED", 0, now_ms, 0,
                  json.dumps({"variables": {}}))]
        spark.createDataFrame(start, schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events_dir / "wave1"))
        # Ancient task result: event-time far behind the watermark set
        # by wave1 — must be dropped, leaving the run incomplete.
        late = [("r1", "s", "s", "TASK_EVENT", 0, 1_000, 1,
                 json.dumps({"thread_id": 0, "task_run_position": 0,
                             "ended_event": {"result": {
                                 "stdout": "late", "stderr": None,
                                 "success": True, "returncode": 0}}}))]
        spark.createDataFrame(late, schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events_dir / "wave2"))

        events = (spark.readStream.schema(WF_EVENT_SCHEMA)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(events_dir) + "/*"))
        tagged = streaming_engine(events, spec, watermark_delay="10 seconds",
                                  allowed_lateness_ms=10_000)

        out_dir = str(workdir / "out")

        q = start_engine_query(
            spark,
            tagged.writeStream
            .foreachBatch(lambda df, bid: df.write.mode("append").parquet(out_dir))
            .outputMode("update")
            .trigger(availableNow=True),
            str(workdir / "ckpt"))
        q.awaitTermination(300)

        snaps = [json.loads(r["payload"])
                 for r in spark.read.parquet(out_dir).collect()
                 if r["kind"] == "snapshot"]
        assert snaps, "no snapshots"
        final = max(snaps, key=lambda s: len(json.dumps(s)))
        # The late result was dropped: the task is still outstanding.
        assert final["status"] == "RUNNING"
        assert final["thread_runs"][0]["task_runs"][0]["status"] == "SCHEDULED"
        # Lateness bookkeeping lives in the state tuple, never in the
        # public WFRun document (ADVICE r1: `_max_event_ts` leak).
        assert all("_max_event_ts" not in s for s in snaps)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_replayed_timer_event_completes_sleep_workflow(spark):
    """ST2 on the replay path: a replay emits the SLEEP's timer as a
    `kind='timer'` row and fires nothing itself; a TIMER_EVENT for it
    in the events dir completes the run on the next pass, and a
    duplicate of that event is harmless."""
    from old_original_java_little_horse_spark.sdk.builder import Workflow

    wf = Workflow("sleepy")
    t = wf.thread("entrypoint")
    t.sleep_for(1)
    spec = wf.build()

    workdir = Path(tempfile.mkdtemp(prefix="stream-timer-"))
    try:
        events_dir = workdir / "events"
        events_dir.mkdir()
        out_dir = str(workdir / "out")
        start = [("r1", "s", "s", "WF_RUN_STARTED", 0, 1_000, 0,
                  json.dumps({"variables": {}}))]
        spark.createDataFrame(start, schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events_dir / "wave1"))
        run_streaming_availablenow(
            spark, str(events_dir) + "/*", spec,
            checkpoint_dir=str(workdir / "ckpt"), output_dir=out_dir)

        # sleep matured (1000+1000ms <= 10s); delivered twice
        assert _write_timer_events(spark, out_dir, events_dir, 10_000,
                                   "timers-a") == 1
        assert _write_timer_events(spark, out_dir, events_dir, 10_000,
                                   "timers-b") == 1

        tagged = run_streaming_availablenow(
            spark, str(events_dir) + "/*", spec,
            checkpoint_dir=str(workdir / "ckpt"), output_dir=str(workdir / "out2"))
        snaps = [json.loads(r["payload"]) for r in tagged.collect()
                 if r["kind"] == "snapshot"]
        assert snaps and snaps[-1]["status"] == "COMPLETED"
        assert snaps[-1]["thread_runs"][0]["task_runs"][0]["status"] == "COMPLETED"
        assert len(snaps[-1]["thread_runs"][0]["task_runs"]) == 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_multi_spec_engine_one_stream(spark):
    """One engine, many workflows: a spec registry routes each run to
    its pinned spec; unknown-spec events are dropped (SURVEY §7
    'dynamic workflows')."""
    from old_original_java_little_horse_spark.engine.batch import run_events_batch
    from old_original_java_little_horse_spark.engine.fold import make_spec_registry
    from old_original_java_little_horse_spark.sdk.builder import Workflow

    wf_a = Workflow("alpha")
    ta = wf_a.thread("entrypoint")
    ta.execute("echo", x="from-alpha")
    wf_b = Workflow("beta")
    tb = wf_b.thread("entrypoint")
    tb.execute("echo", x="from-beta-1")
    tb.execute("echo", x="from-beta-2")
    registry = make_spec_registry([wf_a.build(), wf_b.build()])

    def exec_echo(task, subs):
        return {"stdout": subs["x"], "success": True, "returncode": 0}

    rows = [
        ("rA", "alpha-spec", "alpha", "WF_RUN_STARTED", 0, 1000, 0, json.dumps({"variables": {}})),
        ("rB", "beta-spec", "beta", "WF_RUN_STARTED", 0, 1000, 0, json.dumps({"variables": {}})),
        ("rC", "ghost-spec", "ghost", "WF_RUN_STARTED", 0, 1000, 0, json.dumps({"variables": {}})),
    ]
    df = spark.createDataFrame(rows, schema=WF_EVENT_SCHEMA)
    out = {r["wf_run_id"]: r for r in
           run_events_batch(df, registry, executor=exec_echo).collect()}
    assert set(out) == {"rA", "rB"}  # ghost dropped
    assert out["rA"]["n_tasks"] == 1 and out["rA"]["status"] == "COMPLETED"
    assert out["rB"]["n_tasks"] == 2 and out["rB"]["status"] == "COMPLETED"
    stdouts = [t["stdout"] for t in
               json.loads(out["rB"]["state_json"])["thread_runs"][0]["task_runs"]]
    assert stdouts == ["from-beta-1", "from-beta-2"]


def test_native_timers_complete_sleep_self_contained(spark):
    """ST2, no satellite: with `native_timers` the engine itself fires
    the stored SLEEP timer through a native processing-time timer — the
    run completes with NO further input and NO re-injected TIMER_EVENT
    (reference punctuator semantics: a timer fires even if no events
    arrive, SchedulerProcessor.java:56-60, 88-126)."""
    import time

    from old_original_java_little_horse_spark.sdk.builder import Workflow
    from old_original_java_little_horse_spark.streaming.engine import (
        start_continuous,
    )

    wf = Workflow("sleepy-native")
    t = wf.thread("entrypoint")
    t.sleep_for(1)
    spec = wf.build()

    workdir = Path(tempfile.mkdtemp(prefix="stream-native-"))
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
        # The timer row was emitted (observability), but nothing ever
        # re-injected events: the input dir holds only our command's
        # one row (a timer wake is a zero-row file).
        assert any(r["kind"] == "timer" for r in rows)
        assert _event_rows(events_dir) == [("r1", "WF_RUN_STARTED")]
    finally:
        q.stop()
        shutil.rmtree(workdir, ignore_errors=True)


def test_completed_run_state_evicted_to_tombstone(spark):
    """State eviction (VERDICT r1 #4): with `evict_completed`, a run's
    multi-KB document leaves the state store once its final snapshot is
    emitted — a redelivered duplicate WF_RUN_STARTED hits the tombstone
    and is dropped (no restart, no new snapshot), whereas the
    keep-forever mode re-emits a snapshot for the duplicate.  First-pass
    outputs are byte-identical in both modes."""
    first_pass = {}
    dup_snaps = {}
    for mode in ("evict", "keep"):
        workdir = Path(tempfile.mkdtemp(prefix=f"stream-{mode}-"))
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
                executor=pipeline_executor,
                evict_completed=(mode == "evict"),
            )
            snaps = [r for r in tagged.collect() if r["kind"] == "snapshot"]
            assert len(snaps) == 1 and snaps[0]["status"] == "COMPLETED"
            first_pass[mode] = snaps[0]["payload"]

            # Redeliver the identical start event (at-least-once source).
            spark.createDataFrame(start, schema=WF_EVENT_SCHEMA) \
                 .coalesce(1).write.parquet(str(events_dir / "wave2"))
            tagged2 = run_streaming_availablenow(
                spark, str(events_dir) + "/*", pipeline_spec(),
                checkpoint_dir=str(workdir / "ckpt"),
                output_dir=str(workdir / "out2"),
                executor=pipeline_executor,
                evict_completed=(mode == "evict"),
            )
            dup_snaps[mode] = [r for r in tagged2.collect()
                               if r["kind"] == "snapshot"]
            # Neither mode may RESTART the run (no new task schedules).
            assert not [r for r in tagged2.collect()
                        if r["kind"] == "task_schedule"]
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    assert first_pass["evict"] == first_pass["keep"]
    # Keep-forever: duplicate folds against live state -> snapshot
    # re-emitted.  Evicted: tombstone swallows it entirely.
    assert len(dup_snaps["keep"]) == 1
    assert json.loads(dup_snaps["keep"][0]["payload"])["status"] == "COMPLETED"
    assert dup_snaps["evict"] == []


def test_timer_replay_from_scratch_preserves_order(spark):
    """Regression: TIMER_EVENT offsets in the log are on the same µs
    scale as CLI/HTTP command offsets, so a from-scratch replay of the
    whole events dir (fresh checkpoint, one batch) folds the start
    command BEFORE its timer.  With ms-scale timer offsets the timer
    sorted first, folded against empty state, and the run stayed
    RUNNING forever (nothing fires a replay's timer again)."""
    from old_original_java_little_horse_spark.sdk.builder import Workflow

    wf = Workflow("sleepy-replay")
    t = wf.thread("entrypoint")
    t.sleep_for(1)
    spec = wf.build()

    workdir = Path(tempfile.mkdtemp(prefix="stream-replay-"))
    try:
        events_dir = workdir / "events"
        events_dir.mkdir()
        # Same clock, producer scales (cli._write_event): event-time in
        # ms, offset = the same instant in µs.
        t0_ms = 1_000_000
        start = [("r1", "s", "s", "WF_RUN_STARTED", 0, t0_ms, t0_ms * 1000,
                  json.dumps({"variables": {}}))]
        spark.createDataFrame(start, schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events_dir / "wave1"))
        run_streaming_availablenow(
            spark, str(events_dir) + "/*", spec,
            checkpoint_dir=str(workdir / "ckpt"), output_dir=str(workdir / "out"))
        assert _write_timer_events(spark, str(workdir / "out"), events_dir,
                                   t0_ms + 10_000, "timers") == 1

        # From-scratch replay: fresh checkpoint — BOTH files land in
        # one availableNow pass and the update fn sorts by offset.
        tagged = run_streaming_availablenow(
            spark, str(events_dir) + "/*", spec,
            checkpoint_dir=str(workdir / "ckpt2"),
            output_dir=str(workdir / "out2"))
        snaps = [json.loads(r["payload"]) for r in tagged.collect()
                 if r["kind"] == "snapshot"]
        assert snaps and snaps[-1]["status"] == "COMPLETED", snaps[-1]["status"]
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_seq_strictly_increases_for_out_of_order_batches(spark):
    """Regression: an event folding in a LATER batch with a SMALLER
    offset must still advance the snapshot `seq` — otherwise two
    different documents share a seq and latest-wins selection ties."""
    from old_original_java_little_horse_spark.sdk.builder import Workflow, var

    wf = Workflow("seq-wf")
    t = wf.thread("entrypoint")
    t.add_variable("total", "INT", default=0)
    n1 = t.execute("add_one", x=var("total"))
    t.mutate(n1, "total", "ASSIGN")
    spec = wf.build()

    workdir = Path(tempfile.mkdtemp(prefix="stream-seq-"))
    try:
        events_dir = workdir / "events"
        events_dir.mkdir()
        start = [("r1", "s", "s", "WF_RUN_STARTED", 0, 1_000, 500,
                  json.dumps({"variables": {"total": 1}}))]
        spark.createDataFrame(start, schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events_dir / "wave1"))
        run_streaming_availablenow(
            spark, str(events_dir) + "/*", spec,
            checkpoint_dir=str(workdir / "ckpt"), output_dir=str(workdir / "out"))
        # Task events with offsets BELOW the stored max (500): late
        # out-of-order delivery into a later micro-batch.
        content = [
            {"thread_id": 0, "task_run_position": 0,
             "started_event": {"worker_id": "w"}},
            {"thread_id": 0, "task_run_position": 0,
             "ended_event": {"result": {"stdout": "2", "success": True,
                                        "returncode": 0}}},
        ]
        late = [("r1", "s", "s", "TASK_EVENT", 0, 2_000, off,
                 json.dumps(c)) for off, c in zip((100, 101), content)]
        spark.createDataFrame(late, schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events_dir / "wave2"))
        tagged = run_streaming_availablenow(
            spark, str(events_dir) + "/*", spec,
            checkpoint_dir=str(workdir / "ckpt"), output_dir=str(workdir / "out2"))
        snaps = sorted(
            ((r["seq"], json.loads(r["payload"])) for r in tagged.collect()
             if r["kind"] == "snapshot"), key=lambda p: p[0])
        assert snaps[-1][1]["status"] == "COMPLETED"
        first = spark.read.parquet(str(workdir / "out"))
        seq0 = max(r["seq"] for r in first.collect() if r["kind"] == "snapshot")
        assert snaps[-1][0] > seq0, (snaps[-1][0], seq0)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_continuous_async_worker_round_trip(spark):
    """The FULL production loop live: a continuous engine with NO
    inline executor emits task_schedule rows; per-TaskDef worker
    processes (LocalDeployer — the deployer-plugin contract) consume
    them and produce TASK_EVENTs back onto the command feed; the
    engine folds them and the run COMPLETES.  This is the reference's
    scheduler ⇄ worker Kafka round-trip (SchedulerTopology.java:62-72)
    minus Kafka — same topics-as-dirs, same event contract."""
    import time

    from old_original_java_little_horse_spark.engine.deployer import (
        LocalDeployer,
    )
    from old_original_java_little_horse_spark.sdk.builder import Workflow, var
    from old_original_java_little_horse_spark.streaming.engine import (
        start_continuous,
    )

    wf = Workflow("async-rt")
    t = wf.thread("entrypoint")
    t.add_variable("x", "INT", default=0)
    n1 = t.execute("double", x=var("x"))
    t.mutate(n1, "x", "ASSIGN")
    n2 = t.execute("double", x=var("x"))
    t.mutate(n2, "x", "ASSIGN")
    spec = wf.build()

    def double(subs):
        return {"stdout": str(int(subs["x"]) * 2), "success": True,
                "returncode": 0}

    workdir = Path(tempfile.mkdtemp(prefix="stream-async-rt-"))
    events_dir = workdir / "events"
    events_dir.mkdir()
    out_dir = workdir / "out"
    q = start_continuous(
        spark, str(events_dir) + "/*", spec,
        checkpoint_dir=str(workdir / "ckpt"), output_dir=str(out_dir),
        trigger_seconds=0.2,  # executor=None → async task scheduling
    )
    try:
        start = [("r1", "s", "s", "WF_RUN_STARTED", 0,
                  int(time.time() * 1000), time.time_ns() // 1000,
                  json.dumps({"variables": {"x": 5}}))]
        spark.createDataFrame(start, schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events_dir / "cmd1"))

        with LocalDeployer({"double": double}) as dep:
            handled: set[tuple] = set()
            deadline = time.monotonic() + 90
            final = None
            while time.monotonic() < deadline and final is None:
                try:
                    rows = spark.read.parquet(str(out_dir)).collect()
                except Exception:
                    rows = []
                # Drain new schedule requests → workers → events back.
                todo = []
                for r in rows:
                    if r["kind"] != "task_schedule":
                        continue
                    tsr = json.loads(r["payload"])
                    key = (tsr["wf_run_id"], tsr["thread_id"],
                           tsr["task_run_position"], tsr.get("attempt_number", 0))
                    if key not in handled:
                        handled.add(key)
                        todo.append(tsr)
                if todo:
                    evs = dep.route(todo, start_offset=time.time_ns() // 1000)
                    df = spark.createDataFrame(
                        [(e["wf_run_id"], e.get("wf_spec_id"),
                          e.get("wf_spec_name"), e["event_type"],
                          e["thread_id"], e["timestamp"], e["offset"],
                          e["content"]) for e in evs],
                        schema=WF_EVENT_SCHEMA)
                    df.coalesce(1).write.parquet(
                        str(events_dir / f"w-{len(handled)}"))
                snaps = sorted((r for r in rows if r["kind"] == "snapshot"),
                               key=lambda r: r["seq"])
                if snaps and snaps[-1]["status"] == "COMPLETED":
                    final = snaps[-1]
                    break
                time.sleep(0.3)
        assert final is not None, "async round-trip never completed"
        state = json.loads(final["payload"])
        assert state["thread_runs"][0]["variables"]["x"] == 20  # 5*2*2
        trs = state["thread_runs"][0]["task_runs"]
        assert [tr["status"] for tr in trs] == ["COMPLETED", "COMPLETED"]
        # the fold JSON-parses numeric stdout (LHUtil jsonifyIfPossible)
        assert trs[0]["stdout"] == 10 and trs[1]["stdout"] == 20
    finally:
        q.stop()
        shutil.rmtree(workdir, ignore_errors=True)


def test_session_window_state_evicted_past_watermark(spark):
    """VERDICT r4 #7: the live sessionizer shape (session_window +
    watermark + append mode) keeps state BOUNDED — a session whose
    window falls behind the watermark horizon is finalized to the sink
    and its state row dropped, mirroring the engine-side
    `test_completed_run_state_evicted_to_tombstone`.

    Four single-event waves, 2 h apart, one user: each wave both opens
    a new session (gap 30 min) and advances the watermark (10 min
    delay) far past the previous session, so by end-of-replay exactly
    the last two sessions can still be open in state and the first two
    MUST have been emitted and evicted."""
    import datetime as dt

    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType, TimestampType,
    )

    schema = StructType([
        StructField("user_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ])
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    waves = [
        # wave 0: three events inside one session (minutes 0, 1, 2)
        [("a", base, 1.0),
         ("a", base + dt.timedelta(minutes=1), 1.0),
         ("a", base + dt.timedelta(minutes=2), 1.0)],
        [("a", base + dt.timedelta(minutes=120), 1.0)],
        [("a", base + dt.timedelta(minutes=240), 1.0)],
        [("a", base + dt.timedelta(minutes=360), 1.0)],
    ]
    workdir = Path(tempfile.mkdtemp(prefix="sess-evict-"))
    try:
        ev_dir = workdir / "events"
        for i, rows in enumerate(waves):
            spark.createDataFrame(rows, schema=schema) \
                 .coalesce(1).write.parquet(str(ev_dir / f"wave{i}"))
        out_dir = str(workdir / "out")
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(ev_dir) + "/*"))
        agg = (stream.withWatermark("ts", "10 minutes")
               .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
               .agg(F.count(F.lit(1)).alias("n_events")))

        def sink(batch_df, batch_id):
            batch_df.select("user_id", "n_events") \
                    .write.mode("append").parquet(out_dir)

        q = (agg.writeStream.outputMode("append").foreachBatch(sink)
             .option("checkpointLocation", str(workdir / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

        # Closed sessions reached the sink: the 3-event session and two
        # singletons (availableNow runs a final flush batch with the
        # last file's watermark, closing the minute-240 session too).
        # The minute-360 session is still open — append mode emits
        # nothing for it; its row lives in state, which is the point.
        emitted = sorted(r["n_events"]
                         for r in spark.read.parquet(out_dir).collect())
        assert emitted == [1, 1, 3]

        # State is bounded by the watermark horizon, not session count:
        # 4 sessions existed, only the one the watermark has not passed
        # remains (finalized ones evicted with their emission).
        progress = [p for p in q.recentProgress if p.get("stateOperators")]
        assert progress, "no stateOperators progress recorded"
        final_state_rows = progress[-1]["stateOperators"][0]["numRowsTotal"]
        assert final_state_rows == 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_stream_interval_join_cross_batch_and_window_bound(spark):
    """The stream-stream interval join must (1) match pairs that
    STRADDLE the replay cut — the slice-1 click finds the slice-0
    error in buffered join state, not same-batch co-presence — and
    (2) reject same-user clicks outside the ±2 h bound.

    Synthetic corpus built so percentile cut = 01:15: error u1@01:00
    lands in slice 0; its matching click u1@02:50 (1 h 50 m later,
    inside the window) and a decoy click u1@07:00 (outside) land in
    slice 1."""
    from old_original_java_little_horse_spark.registry import all_queries

    q = all_queries()["stream_interval_join"].fn
    workdir = Path(tempfile.mkdtemp(prefix="ssjoin-test-"))
    try:
        base = 1_700_000_000_000_000  # us
        h = 3600 * 1_000_000
        rows = [
            (1, base + 1 * h, 1, "error", 0.0, "{}"),
            (2, base + 1 * h + 5 * 60_000_000, 2, "view", 0.0, "{}"),
            (3, base + 1 * h + 10 * 60_000_000, 3, "view", 0.0, "{}"),
            (4, base + 1 * h + 15 * 60_000_000, 4, "view", 0.0, "{}"),
            (5, base + 2 * h + 50 * 60_000_000, 1, "click", 0.0, "{}"),
            (6, base + 3 * h, 5, "view", 0.0, "{}"),
            (7, base + 3 * h + 10 * 60_000_000, 6, "view", 0.0, "{}"),
            (8, base + 7 * h, 1, "click", 0.0, "{}"),  # outside ±2 h
        ]
        df = spark.createDataFrame(
            [(i, t, u, e, v, p) for i, t, u, e, v, p in rows],
            "event_id long, t long, user_id long, event_type string, "
            "value double, props string",
        ).select("event_id", F.timestamp_micros("t").alias("ts"),
                 "user_id", "event_type", "value", "props")
        df.coalesce(1).write.parquet(str(workdir / "events.parquet"))
        out = q(spark, str(workdir)).collect()
        assert len(out) == 1, out
        pair = out[0]
        assert (pair["user_id"], pair["error_id"], pair["click_id"]) == (1, 1, 5)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_stream_interval_join_matches_batch(spark):
    """Streaming interval join == the batch equi+range join on the
    real smoke table (pair set equality, not just counts)."""
    from old_original_java_little_horse_spark.registry import all_queries
    from old_original_java_little_horse_spark.sources.parquet import load_table

    stream_pairs = {
        (r["user_id"], r["error_id"], r["click_id"])
        for r in all_queries()["stream_interval_join"].fn(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    e = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("eid"),
        F.unix_micros("ts").alias("et"))
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("cid"),
        F.unix_micros("ts").alias("ct"))
    batch_pairs = {
        (r["u"], r["eid"], r["cid"])
        for r in e.join(c, (F.col("u") == F.col("cu"))
                        & (F.abs(F.col("et") - F.col("ct"))
                           <= 2 * 3600 * 1_000_000)).collect()
    }
    assert stream_pairs == batch_pairs and len(stream_pairs) > 0


def test_sliding_window_state_bounded_by_open_windows(spark):
    """`stream_sliding_rates`' scale claim, isolated: sliding
    1h/15min windows under a 10-min watermark keep exactly
    span/slide = 4 window rows of state per type once the watermark
    has passed everything older — state tracks OPEN windows, never
    event volume (the ×4 analogue of the session-eviction proof).

    Four single-event waves 2 h apart: each wave's 4 windows all end
    ≤ 1 h after it, so the next wave's watermark (2 h − 10 min later)
    closes and evicts them.  End of replay: 12 windows emitted
    (3 closed waves × 4), 4 rows left in state (the last wave's)."""
    import datetime as dt

    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType, TimestampType,
    )

    schema = StructType([
        StructField("event_type", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ])
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    waves = [[("click", base + dt.timedelta(hours=2 * i), 1.0)]
             for i in range(4)]
    workdir = Path(tempfile.mkdtemp(prefix="slide-evict-"))
    try:
        ev_dir = workdir / "events"
        for i, rows in enumerate(waves):
            spark.createDataFrame(rows, schema=schema) \
                 .coalesce(1).write.parquet(str(ev_dir / f"wave{i}"))
        out_dir = str(workdir / "out")
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(ev_dir) + "/*"))
        agg = (stream.withWatermark("ts", "10 minutes")
               .groupBy(F.window("ts", "1 hour", "15 minutes"),
                        "event_type")
               .agg(F.count(F.lit(1)).alias("n_events")))

        def sink(batch_df, batch_id):
            batch_df.select("event_type", "n_events") \
                    .write.mode("append").parquet(out_dir)

        q = (agg.writeStream.outputMode("append").foreachBatch(sink)
             .option("checkpointLocation", str(workdir / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

        emitted = spark.read.parquet(out_dir).collect()
        assert len(emitted) == 12, emitted
        assert all(r["n_events"] == 1 for r in emitted)

        progress = [p for p in q.recentProgress if p.get("stateOperators")]
        assert progress, "no stateOperators progress recorded"
        final_state_rows = progress[-1]["stateOperators"][0]["numRowsTotal"]
        assert final_state_rows == 4
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_driver_side_event_write_matches_engine_schema(spark):
    """`cli._write_event` writes command events DRIVER-SIDE with
    pyarrow (a Kafka produce is a client write, not a cluster job) —
    this pins type parity with WF_EVENT_SCHEMA so the engine's
    explicit-schema stream source reads them unchanged, including the
    None/default edge cases (missing thread_id, explicit None,
    missing spec ids)."""
    import tempfile

    from old_original_java_little_horse_spark.cli import _write_event

    workdir = Path(tempfile.mkdtemp(prefix="evt-parity-"))
    try:
        _write_event(spark, str(workdir), {
            "wf_run_id": "r1", "wf_spec_id": "s1", "wf_spec_name": "s",
            "event_type": "WF_RUN_STARTED", "thread_id": 2,
            "timestamp": 123, "offset": 7, "content": "{}"})
        _write_event(spark, str(workdir), {
            "wf_run_id": "r2", "event_type": "WF_RUN_STOP_REQUEST",
            "thread_id": None, "content": "{}"})
        df = spark.read.schema(WF_EVENT_SCHEMA).parquet(str(workdir) + "/*")
        rows = {r["wf_run_id"]: r for r in df.collect()}
        assert df.schema == WF_EVENT_SCHEMA
        r1 = rows["r1"]
        assert (r1["wf_spec_id"], r1["thread_id"], r1["timestamp"],
                r1["offset"]) == ("s1", 2, 123, 7)
        r2 = rows["r2"]
        assert r2["wf_spec_id"] is None and r2["thread_id"] == 0
        assert r2["offset"] > 0 and r2["timestamp"] > 0  # produce-time
        assert not list(workdir.glob("*/.*.tmp"))  # rename completed
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _fake_batch(ckpt: Path, batch_id: int, log_offset: int,
                committed: bool = True) -> None:
    """Record query batch `batch_id` as Spark does: its offsets (up to
    file-source log batch `log_offset`), then its commit."""
    for d in ("offsets", "commits"):
        (ckpt / d).mkdir(parents=True, exist_ok=True)
    (ckpt / "offsets" / str(batch_id)).write_text(
        'v1\n{"batchWatermarkMs":0,"batchTimestampMs":0,"conf":{}}\n'
        + json.dumps({"logOffset": log_offset}))
    if committed:
        (ckpt / "commits" / str(batch_id)).write_text("v1\n{}")


def _fake_listing(ckpt: Path, log_batch: int, dirs: list[str]) -> None:
    """Record file-source log batch `log_batch` listing one file in
    each of `dirs`."""
    src = ckpt / "sources" / "0"
    src.mkdir(parents=True, exist_ok=True)
    (src / str(log_batch)).write_text("\n".join(
        ["v1"] + [json.dumps({"path": f"file:///ev/{d}/part-00000.parquet",
                              "timestamp": 1, "batchId": log_batch})
                  for d in dirs]))


def test_barrier_ignores_wal_recovery_batch(tmp_path):
    """The read-your-writes barrier keys on the write itself: it
    releases once a COMMITTED batch covers the file-source log batch
    that listed the written directory, whatever the batch's timing.
    A WAL-recovery batch (re-run after a restart with the file list it
    planned before) releases a write it listed, and not one it did
    not; no batch releases a write before it commits."""
    import threading
    import time as _time

    import pytest as _pytest

    from old_original_java_little_horse_spark.streaming.engine import (
        await_read_your_writes)

    ckpt = tmp_path / "ckpt"
    ev = tmp_path / "events"

    def barrier_in_thread(d: str):
        done = threading.Event()
        t = threading.Thread(target=lambda: (
            await_read_your_writes(ckpt, ev / d, timeout=10.0),
            done.set()))
        t.start()
        return t, done

    # Folded by a batch that started AND committed before the call:
    # returns at once, with no later batch needed.  Query batches 0-2
    # carry no new file (their ids run ahead of the log's).
    _fake_listing(ckpt, 0, ["cmd-a"])
    for b in range(3):
        _fake_batch(ckpt, b, 0)
    t0 = _time.monotonic()
    await_read_your_writes(ckpt, ev / "cmd-a", timeout=5.0)
    assert _time.monotonic() - t0 < 1.0

    # Listed in log batch 1 by planned batch 3, which never commits
    # before a restart: the barrier waits.
    _fake_listing(ckpt, 1, ["cmd-b"])
    _fake_batch(ckpt, 3, 1, committed=False)
    tb, b_done = barrier_in_thread("cmd-b")
    # A write the recovery batch did NOT list (log batch 2, not yet
    # planned) is not released by it either.
    _fake_listing(ckpt, 2, ["cmd-c"])
    tc, c_done = barrier_in_thread("cmd-c")
    _time.sleep(0.4)
    assert not b_done.is_set() and not c_done.is_set(), (
        "released before the batch that lists the file committed")
    # The restart re-runs batch 3 and commits it: it listed cmd-b.
    _fake_batch(ckpt, 3, 1)
    assert b_done.wait(5.0), "recovery batch that listed the file ignored"
    _time.sleep(0.4)
    assert not c_done.is_set()
    # Batch 4 lists cmd-c: planned, then committed.
    _fake_batch(ckpt, 4, 2, committed=False)
    _time.sleep(0.4)
    assert not c_done.is_set()
    _fake_batch(ckpt, 4, 2)
    assert c_done.wait(5.0)
    tb.join()
    tc.join()

    # A listing in a compacted log file (`<id>.compact` repeats every
    # older entry, each with its own batchId) is found too.
    (ckpt / "sources" / "0" / "9.compact").write_text("\n".join(
        ["v1"] + [json.dumps({"path": f"file:///ev/{d}/part-00000.parquet",
                              "timestamp": 1, "batchId": b})
                  for d, b in (("cmd-a", 0), ("cmd-b", 1), ("cmd-c", 2),
                               ("cmd-d", 9))]))
    with _pytest.raises(TimeoutError):
        await_read_your_writes(ckpt, ev / "cmd-d", timeout=0.5)
    _fake_batch(ckpt, 5, 9)
    await_read_your_writes(ckpt, ev / "cmd-d", timeout=5.0)
