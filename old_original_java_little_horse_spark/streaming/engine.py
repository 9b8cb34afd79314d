"""Streaming engine: the same pure fold under Structured Streaming.

SURVEY.md §3.2 / §7 step 4 — the reference's Kafka Streams topology
(`J/scheduler/SchedulerTopology.java:23-154`) re-expressed as ONE
streaming query:

    events → groupBy(wf_run_id)
           → transformWithState(tws.WFRunFoldProcessor)
           → tagged output rows → filter-split → sinks

- Per-key state is the WFRun JSON document (the reference's RocksDB
  value, `SchedulerProcessor.java:133-231`); Structured Streaming's
  RocksDB state store replaces the store + changelog topic pair — the
  write-amplification the reference laments in
  `SchedulerTopology.java:33-46` disappears.
- Intra-key ordering: events are sorted by `offset` inside each
  micro-batch group (Structured Streaming does not guarantee
  intra-batch order — SURVEY §2.10).
- Outputs are a single tagged stream: `kind` ∈ {snapshot,
  task_schedule, timer}; the per-TaskDef fanout (S4) becomes a filter
  or a Kafka sink with a `topic` column — strictly better than the
  reference's one-processor-per-TaskDef (§2.2 P1).
- Timers: the live path (`start_continuous`) fires its own stored
  timers through one native processing-time timer per WFRunTimer — the
  reference's 1 s punctuator (`SchedulerProcessor.java:56-60`,
  `Constants.java:36`) without any satellite process.  The live query
  runs a batch only when input arrives; a driver-side wake writes a
  zero-row event file when a timer is due, so a SLEEP completes with
  no further input.  Replay paths read no wall clock
  (deterministic): their timers stay emitted `kind='timer'` rows, and
  only a TIMER_EVENT in the replayed log fires one.
- The live engine has ONE start, `start_continuous`, and one sink,
  for both deployment modes: a per-spec engine folds its spec and
  upserts one serving store; a shared engine folds a multi-spec
  registry and attributes serving rows to per-spec stores.  Replays
  and backfills run through `run_streaming_availablenow`.
- Every engine query starts through `start_engine_query`, which sets
  the RocksDB state store the processor needs and refuses checkpoints
  it cannot resume (`checkpoint.check_engine_checkpoint`).
"""

from __future__ import annotations

import heapq
import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from ..engine.fold import TaskExecutor

OUTPUT_SCHEMA = StructType([
    StructField("wf_run_id", StringType()),
    StructField("kind", StringType()),       # snapshot | task_schedule | timer | index
    StructField("status", StringType()),     # snapshot only
    StructField("task_def_name", StringType()),   # task_schedule only
    StructField("thread_id", IntegerType()),
    StructField("task_run_position", IntegerType()),
    StructField("maturation_timestamp", LongType()),  # timer only
    StructField("seq", LongType()),          # snapshot only: max folded offset
    StructField("payload", StringType()),    # full JSON of the row's object
])


def _timer_key(t: dict) -> tuple:
    return (t["thread_run_id"], t["task_run_id"], t["maturation_timestamp"])


def emit_ctx_rows(out_rows: list, wf_run_id: str, ctx, pending: list) -> None:
    """Append a fold invocation's task-schedule and timer output rows
    (new timers also join `pending`, the run's stored-timer list)."""
    for tsr in ctx.to_schedule:
        out_rows.append({
            "wf_run_id": wf_run_id, "kind": "task_schedule",
            "status": None,
            "task_def_name": tsr["task_def_name"],
            "thread_id": tsr["thread_id"],
            "task_run_position": tsr["task_run_position"],
            "maturation_timestamp": None, "seq": None,
            "payload": json.dumps(tsr, separators=(",", ":")),
        })
    for timer in ctx.timers:
        pending.append(timer)
        out_rows.append({
            "wf_run_id": wf_run_id, "kind": "timer",
            "status": None, "task_def_name": None,
            "thread_id": timer["thread_run_id"],
            "task_run_position": timer["task_run_id"],
            "maturation_timestamp": timer["maturation_timestamp"],
            "seq": None,
            "payload": json.dumps(timer, separators=(",", ":")),
        })


def prepare_events(events: list[dict], max_offset: int, max_event_ts: int,
                   allowed_lateness_ms: int | None) -> tuple[list[dict], int, int]:
    """Order + bound a micro-batch group's events: sort by per-key offset (Structured Streaming
    gives no intra-batch order), drop events beyond the lateness
    allowance, and advance the key's (max_offset, max_event_ts) —
    `seq` must STRICTLY increase whenever events fold, so an
    out-of-order event with a stale offset still bumps it.
    WF_EVENT_SCHEMA's offset and timestamp are nullable longs; a null
    is normalized in place to 0, so sorting and max() never meet None."""
    for e in events:
        e["offset"] = e.get("offset") or 0
        e["timestamp"] = e.get("timestamp") or 0
    events = sorted(events, key=lambda e: e["offset"])
    if allowed_lateness_ms is not None:
        max_seen = max_event_ts
        kept = []
        for e in events:
            ts = e["timestamp"]
            max_seen = max(max_seen, ts)
            # TIMER_EVENTs are control flow, late BY CONSTRUCTION
            # (their timestamp is the maturation time, and a replayed
            # log records them after the key's event-time has moved
            # on).  Dropping one would strand its SLEEP forever:
            # nothing fires a replay's timer again.  The lateness
            # policy exists for EXTERNAL data, so control events
            # bypass it.
            if (e.get("event_type") == "TIMER_EVENT"
                    or ts >= max_seen - allowed_lateness_ms):
                kept.append(e)
        events = kept
    max_event_ts = max(
        [max_event_ts] + [e["timestamp"] for e in events])
    prev_max_offset = max_offset
    max_offset = max([max_offset] + [e["offset"] for e in events])
    if events and max_offset <= prev_max_offset:
        max_offset = prev_max_offset + 1
    return events, max_offset, max_event_ts


def snapshot_row(wf_run_id: str, state: dict, max_offset: int) -> dict:
    """The S5 snapshot output row (SchedulerTopology.java:74-87)."""
    return {
        "wf_run_id": wf_run_id, "kind": "snapshot",
        "status": state["status"], "task_def_name": None,
        "thread_id": None, "task_run_position": None,
        "maturation_timestamp": None, "seq": max_offset,
        "payload": json.dumps(state, separators=(",", ":")),
    }


def index_diff_rows(out_rows: list, wf_run_id: str, old_aliases: set,
                    state: dict, max_offset: int) -> None:
    """CREATE/DELETE alias changelog rows for a changed run
    (ResourceIndexProcessor.java:41-131 semantics)."""
    from ..operators.run_index import doc_aliases

    new_aliases = doc_aliases(state)
    for op, pairs in (("DELETE", old_aliases - new_aliases),
                      ("CREATE", new_aliases - old_aliases)):
        for k, v in sorted(pairs):
            out_rows.append({
                "wf_run_id": wf_run_id, "kind": "index",
                "status": None, "task_def_name": None,
                "thread_id": None, "task_run_position": None,
                "maturation_timestamp": None, "seq": max_offset,
                "payload": json.dumps(
                    {"op": op, "key": k, "value": v},
                    separators=(",", ":")),
            })


def _export_worker_pythonpath(spark) -> None:
    """transformWithState starts a LONG-LIVED state-server
    Python process through `StreamingPythonRunner`, which (unlike
    task workers) does not consult the session's addPyFile includes —
    its import path comes from the PYTHONPATH in the Python
    function's captured env (`sc.environment`, snapshotted when the
    UDF is wrapped).  Export this package's parent dir and, when the
    protobuf fallback is active, the shim path, BEFORE the UDF is
    created.  Driver-local paths are fine: the runner lives on the
    driver node; ordinary executor workers are covered by
    ship_package/ship_protobuf."""
    import pathlib

    extra = [str(pathlib.Path(__file__).resolve().parents[2])]
    try:
        import google.protobuf as gp

        extra.append(str(pathlib.Path(gp.__file__).resolve().parents[2]))
    except ImportError:
        pass
    env = spark.sparkContext.environment
    parts = [p for p in (env.get("PYTHONPATH") or
                         os.environ.get("PYTHONPATH", "")).split(os.pathsep)
             if p]
    env["PYTHONPATH"] = os.pathsep.join(
        dict.fromkeys(extra + parts))  # ordered de-dup


def streaming_engine(events: DataFrame, spec: dict,
                     executor: TaskExecutor | None = None,
                     watermark_delay: str | None = None,
                     allowed_lateness_ms: int | None = None,
                     native_timers: bool = False,
                     evict_completed: bool = False) -> DataFrame:
    """events (streaming DF, WF_EVENT_SCHEMA) → tagged output stream,
    folded per run by `tws.WFRunFoldProcessor` under row-based
    `transformWithState` (typed state variables + one native timer per
    stored WFRunTimer).  Start the query through
    `start_engine_query`: the processor's state needs the RocksDB
    state store.

    Late-data bound (SURVEY §2.10): `allowed_lateness_ms` drops
    events trailing the key's max event-time — enforced in the
    processor because Spark's watermark does not filter input rows
    for arbitrary stateful ops.  `watermark_delay` additionally
    declares the watermark on the stream (downstream aggregations);
    both complement the fold's own stale-result guard for in-window
    out-of-order arrivals.

    `native_timers`: the engine fires its own stored timers (a SLEEP
    completes with NO further input, the reference punctuator's
    guarantee).  Replay/parity paths leave this off: a deterministic
    replay wants an explicit TIMER_EVENT stream, not wall-clock reads.
    `evict_completed` tombstones COMPLETED runs — see
    `WFRunFoldProcessor`.
    """
    from ..protobuf_compat import ensure_protobuf, ship_protobuf
    from ..session import ship_package
    from .tws import WFRunFoldProcessor

    if not ensure_protobuf():
        raise RuntimeError(
            "the streaming engine (transformWithState) needs the "
            "protobuf package (google.protobuf) for its Python state "
            "server, and protobuf_compat found no runtime to resolve; "
            "install protobuf")
    spark = events.sparkSession
    ship_package(spark)
    ship_protobuf(spark)
    _export_worker_pythonpath(spark)
    if watermark_delay is not None:
        events = events.withColumn(
            "event_time", F.timestamp_millis(F.col("timestamp"))
        ).withWatermark("event_time", watermark_delay)
    processor = WFRunFoldProcessor(
        spec, executor, allowed_lateness_ms=allowed_lateness_ms,
        native_timers=native_timers, evict_completed=evict_completed)
    return events.groupBy("wf_run_id").transformWithState(
        statefulProcessor=processor,
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="ProcessingTime" if native_timers else "None",
    )


def split_outputs(tagged: DataFrame) -> dict[str, DataFrame]:
    """S4/S5 split: one tagged stream → per-sink streams (P1/P2)."""
    return {
        "snapshots": tagged.where(F.col("kind") == "snapshot")
                           .select("wf_run_id", "status", "payload"),
        "task_schedule": tagged.where(F.col("kind") == "task_schedule")
                               .select("wf_run_id", "task_def_name",
                                       "thread_id", "task_run_position", "payload"),
        "timers": tagged.where(F.col("kind") == "timer")
                        .select("wf_run_id", "thread_id", "task_run_position",
                                "maturation_timestamp", "payload"),
        "index": tagged.where(F.col("kind") == "index")
                       .select("wf_run_id", "seq", "payload"),
    }


# A micro-batch at or under this row count is appended + upserted
# driver-side from one toArrow() collection (see the continuous
# sink): live serving emits a handful of rows per trigger, and each
# extra Spark job there is ~0.15-0.4 s of scheduler overhead on the
# command-latency path.  Backfills blow past it and stay distributed.
_SMALL_BATCH_ROWS = 5000


def _append_output_arrow(tbl, output_dir: str) -> None:
    """Append one collected micro-batch to the changelog directory as
    a single parquet file (driver-side twin of
    ``batch_df.write.mode("append")`` for small batches).  Write-then-
    rename so a concurrent reader's listing never sees a torn file."""
    import uuid as _uuid

    import pyarrow.parquet as _pq

    os.makedirs(output_dir, exist_ok=True)
    name = f"part-drv-{_uuid.uuid4().hex[:16]}.parquet"
    tmp = os.path.join(output_dir, f".{name}.tmp")
    _pq.write_table(tbl, tmp)
    # fsync data BEFORE the rename: without it a power loss can keep
    # the rename but drop the contents, leaving a truncated file under
    # its final name that permanently poisons the changelog stream
    # source (Spark's committer-based append this replaces does not
    # have that torn-final-name mode).  Directory fsync after, so the
    # rename itself is durable too (ADVICE r8).
    fd = os.open(tmp, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
    os.replace(tmp, os.path.join(output_dir, name))
    dfd = os.open(output_dir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _upsert_shared_arrow(tbl, serving_dirs: dict[str, str]) -> None:
    """Shared-engine serving upsert of a collected small batch: each
    row joins to its run's spec via the batch's own snapshot payloads
    (the processor emits a snapshot row in every invocation that emits
    index rows, so every serving-relevant run has one in-batch); rows
    of a spec with no store here are dropped."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..sinks.serving import upsert_serving_stores_arrow

    ids = tbl.column("wf_run_id").to_pylist()
    run_spec = {r: json.loads(p).get("wf_spec_name")
                for r, k, p in zip(ids, tbl.column("kind").to_pylist(),
                                   tbl.column("payload").to_pylist())
                if k == "snapshot"}
    specs = pa.array([run_spec.get(r) for r in ids], pa.string())
    for name in sorted({s for s in run_spec.values() if s is not None}):
        sdir = serving_dirs.get(name)
        if sdir is not None:
            upsert_serving_stores_arrow(
                tbl.filter(pc.equal(specs, name)), sdir)


def _upsert_shared(batch_df: DataFrame, serving_dirs: dict[str, str]) -> None:
    """Distributed twin of `_upsert_shared_arrow` for large batches: a
    broadcast join of the batch against its own snapshot rows
    attributes every row to its spec without widening OUTPUT_SCHEMA,
    then one upsert per spec present in the batch."""
    from ..sinks.serving import upsert_serving_stores

    run_spec = (batch_df.where(F.col("kind") == "snapshot")
                .select("wf_run_id",
                        F.get_json_object("payload", "$.wf_spec_name")
                        .alias("_spec"))
                .distinct())
    attributed = (batch_df.join(F.broadcast(run_spec), "wf_run_id", "left")
                  .persist())
    try:
        for r in attributed.select("_spec").distinct().collect():
            sdir = serving_dirs.get(r["_spec"])
            if sdir is not None:
                upsert_serving_stores(
                    attributed.where(F.col("_spec") == r["_spec"])
                    .drop("_spec"), sdir)
    finally:
        # A failed upsert re-enters on retry; without the finally each
        # attempt would leak a cached copy of the attributed batch.
        attributed.unpersist()


def start_engine_query(spark: SparkSession, writer, checkpoint_dir: str,
                       state_partitions: int | None = None,
                       confs: dict[str, str] | None = None):
    """Start a streaming query over the engine's tagged output — the
    ONE place every engine query start goes through.

    `transformWithState` needs a state store that supports
    multiple column families (one per typed state variable / timer
    store): Spark's RocksDB provider, not the default HDFS-backed one.
    Fitting: RocksDB is exactly what the reference's stores run on
    (SURVEY §2.1 S6).  The provider, `state_partitions` (the
    state-store fanout, `spark.sql.shuffle.partitions` at FIRST start;
    an existing checkpoint keeps its own) and the caller's `confs` are
    read at query start, so they are scoped around `.start()` and
    never set session-wide: the other streaming replays keep the
    default store."""
    from ..session import scoped_conf
    from .checkpoint import (
        PROVIDER_CONF, ROCKSDB_PROVIDER, check_engine_checkpoint,
    )

    check_engine_checkpoint(checkpoint_dir)
    scoped = {PROVIDER_CONF: ROCKSDB_PROVIDER, **(confs or {})}
    if state_partitions is not None:
        scoped["spark.sql.shuffle.partitions"] = str(state_partitions)
    with scoped_conf(spark, scoped):
        return writer.option("checkpointLocation", checkpoint_dir).start()


def _event_stream(spark: SparkSession, events_dir: str,
                  max_files_per_trigger: int | None) -> DataFrame:
    """The engine's input: the events directory as a file stream.
    `max_files_per_trigger` is the source's coarse admission cap; the
    row-granular pacer is streaming.admission.CatchUpAdmission."""
    from ..engine.batch import WF_EVENT_SCHEMA

    reader = spark.readStream.schema(WF_EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.parquet(events_dir)


# Run a micro-batch only when the events directory has a new file:
# otherwise a processing-time `transformWithState` query runs a no-data
# batch on EVERY trigger, armed timer or not (measured on 4 cores:
# 3.2-3.4 cores busy on an idle engine).  Due timers get their batch
# from `_TimerWake` instead.  Scoped to the live query's start, and
# not pinned in the checkpoint's offset metadata, so an existing
# checkpoint resumes under it unchanged.
_EVENT_DRIVEN = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}

# How long the wake thread sleeps at most before it checks that its
# query is still active.
_WAKE_POLL_SECONDS = 1.0


class _TimerWake:
    """Driver-side wake for the live query's processing-time timers.

    An event-driven query has no batch in which a timer can fire
    unless some input arrives.  The sink hands every emitted
    `kind='timer'` row's maturation time to `arm`; one thread per
    query writes a ZERO-ROW event file into the events directory once
    the earliest armed time is due, and the batch that file triggers
    fires every timer due by then: the reference punctuator's
    guarantee that a SLEEP completes with no further input
    (`SchedulerProcessor.java:56-60`).  A zero-row file changes no
    fold input and no replay.  A wake for a timer that is gone (its
    run was tombstoned first) costs one batch that folds nothing.
    The thread ends within `_WAKE_POLL_SECONDS` of its query
    stopping."""

    def __init__(self, events_dir: str):
        self.events_dir = events_dir
        self._due: list[int] = []  # heap of maturation times, ms
        self._cond = threading.Condition()

    def arm(self, maturation_ms) -> None:
        with self._cond:
            for ts in maturation_ms:
                if ts is not None:
                    heapq.heappush(self._due, int(ts))
            self._cond.notify()

    def start(self, query) -> None:
        threading.Thread(target=self._run, args=(query,), daemon=True,
                         name=f"engine-wake-{query.id}").start()

    def _run(self, query) -> None:
        from .admission import event_arrow_schema, write_event_file

        while True:
            with self._cond:
                wait = (_WAKE_POLL_SECONDS if not self._due else
                        (self._due[0] - time.time() * 1000) / 1000)
                if wait > 0:
                    self._cond.wait(min(wait, _WAKE_POLL_SECONDS))
                    due = False
                else:
                    now_ms = time.time() * 1000
                    while self._due and self._due[0] <= now_ms:
                        heapq.heappop(self._due)
                    due = True
            try:
                if not query.isActive:
                    return
            except Exception:  # the session is gone
                return
            if due:
                try:
                    write_event_file(self.events_dir,
                                     event_arrow_schema().empty_table())
                except OSError:  # retry in a second, not never
                    self.arm([time.time() * 1000 + 1000])


def _registered_timers(spark: SparkSession, checkpoint_dir: str) -> list[int]:
    """Distinct expiry times of every timer registered in the
    checkpoint's state, read before the query starts on it."""
    # The state reader needs the driver's state-store coordinator,
    # which the session's query manager registers when first used.
    spark.streams.active
    return [r[0] for r in spark.read.format("statestore")
            .option("path", checkpoint_dir)
            .option("readRegisteredTimers", "true").load()
            .select("expiration_timestamp_ms").distinct().collect()]


def start_continuous(spark: SparkSession, events_dir: str, spec: dict,
                     checkpoint_dir: str, output_dir: str,
                     executor: TaskExecutor | None = None,
                     trigger_seconds: float = 0.5,
                     serving_dir: str | None = None,
                     serving_dirs: dict[str, str] | None = None,
                     state_partitions: int | None = None):
    """Start the engine as a continuously-running query (ProcessingTime
    trigger ~ the reference's 1 s punctuator cadence, Constants.java:36)
    and return the StreamingQuery handle.  `events_dir` is the
    directory of `cmd-*` event directories followed by `/*`.

    The query is event-driven: a trigger runs a micro-batch only when
    the events directory has a new file.  Timers stay self-contained
    (a SLEEP completes with no re-injected TIMER_EVENT and no further
    input): `_TimerWake` writes a zero-row event file when the
    earliest emitted timer is due, seeded on a restart from the
    timers registered in the checkpoint's state.  COMPLETED runs are
    tombstoned.

    `spec` is what the fold receives: one WFSpec for a per-spec engine,
    or `fold.make_spec_registry(specs)` for ONE engine serving every
    deployed spec (SURVEY §7 ops profile: 100 specs should not need
    100 checkpoints/state stores).  A registry resolves each run's
    pinned spec per event (`fold.resolve_spec`); the events directory
    is then the shared event topic (rows carry `wf_spec_name`).

    Serving (the compacted point-lookup stores of `sinks/serving.py`,
    the reference's materialized RocksDB layer,
    APIStreamsContext.java:62-83) is maintained from each micro-batch
    in one of two ways:

    - `serving_dir`: every row goes to that one store.  A per-spec
      engine uses this; its run documents carry the EVENT's
      `wf_spec_name`, so attributing by payload could misroute them.
    - `serving_dirs` (spec name → store): each row is attributed to
      its run's spec through the batch's own snapshot payloads, and a
      row whose spec has no store here is dropped — a timer left by
      an undeployed spec's run still emits a snapshot.  The driver
      loop is over specs PRESENT IN THE BATCH; at 100s of specs you
      would instead add a spec partition column to the store root.

    `state_partitions`: right-size the engine's state-store fanout
    (fixed at FIRST query start from `spark.sql.shuffle.partitions`;
    an existing checkpoint keeps its own).  Every state partition
    costs one store commit + one Arrow Python round-trip PER
    MICRO-BATCH — at the session's analytic default (32) a batch
    with no input measured ~1.1 s, at 8 it is ~3x cheaper, which
    bounds command latency (the read-your-writes barrier waits for the
    batch that carries the write).  Size to the deployment's run-rate:
    a keyspace of thousands of concurrent runs wants the default
    analytic fanout or more; a serving-latency deployment wants few.
    Scoped to this query's start — the session default is restored.

    Admission is uncapped: every file visible at a trigger's start is
    folded (see await_read_your_writes).  Pace a bulk import through
    `streaming.admission.CatchUpAdmission` instead (source-side)."""
    from .checkpoint import check_engine_checkpoint, fresh_checkpoint

    events = _event_stream(spark, events_dir, None)
    tagged = streaming_engine(events, spec, executor=executor,
                              native_timers=True, evict_completed=True)
    wake = _TimerWake(events_dir.removesuffix("/*"))
    if not fresh_checkpoint(checkpoint_dir):
        # Refuse a stale checkpoint before reading its state.
        check_engine_checkpoint(checkpoint_dir)
        wake.arm(_registered_timers(spark, checkpoint_dir))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # ONE count materializes the batch into the cache and gates
        # everything: a batch that emits nothing (a wake whose timer
        # was deleted, input all dropped as duplicates) skips the
        # write + upsert probes, ~3 empty jobs (~1 s).  Batch 0
        # always writes so the output dir carries a readable schema
        # from deploy time (downstream spark.read.parquet of an
        # empty-but-created dir would fail schema inference).
        batch_df.persist()
        try:
            cnt = batch_df.count()
            if cnt == 0 and batch_id > 0:
                return
            if 0 < cnt <= _SMALL_BATCH_ROWS:
                # Small live batch: collect ONCE from the cache and do
                # changelog append + serving upserts driver-side —
                # one Spark job total instead of three, the dominant
                # term in command round-trip latency.  At-least-once
                # append semantics are unchanged (a Spark re-append on
                # batch redelivery duplicates rows the same way).
                tbl = batch_df.toArrow()
                _append_output_arrow(tbl, output_dir)
                if serving_dirs is not None:
                    _upsert_shared_arrow(tbl, serving_dirs)
                elif serving_dir is not None:
                    from ..sinks.serving import upsert_serving_stores_arrow

                    upsert_serving_stores_arrow(tbl, serving_dir)
                import pyarrow.compute as pc

                wake.arm(tbl.filter(pc.equal(tbl.column("kind"), "timer"))
                         .column("maturation_timestamp").to_pylist())
                return
            batch_df.write.mode("append").parquet(output_dir)
            if serving_dirs is not None:
                _upsert_shared(batch_df, serving_dirs)
            elif serving_dir is not None:
                from ..sinks.serving import upsert_serving_stores

                upsert_serving_stores(batch_df, serving_dir)
            wake.arm(r[0] for r in batch_df.where(F.col("kind") == "timer")
                     .select("maturation_timestamp").distinct().collect())
        finally:
            # foreachBatch retries re-enter this function; without
            # the finally, a failed upsert would leak one cached
            # copy per attempt into executor storage memory.
            batch_df.unpersist()

    q = start_engine_query(
        spark,
        tagged.writeStream.foreachBatch(sink).outputMode("update")
        .trigger(processingTime=f"{trigger_seconds} seconds"),
        checkpoint_dir, state_partitions, confs=_EVENT_DRIVEN)
    wake.start(q)
    return q


def await_read_your_writes(checkpoint_dir: str, path,
                           timeout: float = 60.0) -> None:
    """Read-your-writes barrier: block until the engine whose
    checkpoint is `checkpoint_dir` has folded the event directory
    `path` (what `cli._write_event` returns).

    The reference polls the consumer's stored offset until it passes
    the produce offset, 50 ms at a time
    (`APIStreamsContext.java:168-222`, poll at 200-203).  Here the
    produce offset is the file-source log batch that listed `path`,
    and the consumer's stored offset is the newest log batch a
    committed micro-batch covers — both read from the checkpoint
    (`checkpoint.listing_log_batches`, `checkpoint.folded_log_batch`),
    the engine's own durable record.  So the barrier is exact: it
    releases only once the batch that listed the write has committed
    (its sink upserts serving stores before the commit), whenever that
    batch started and whether or not it is a recovery batch re-run
    after a restart, and it needs no later batch.  Events spooled by
    `streaming.admission.CatchUpAdmission` reach the events directory
    only on release: call its `drain()` first when barriering on a
    spooled key."""
    from .checkpoint import folded_log_batch, listing_log_batches

    name = os.path.basename(os.path.normpath(str(path)))
    deadline = time.monotonic() + timeout
    listed = None
    while time.monotonic() < deadline:
        if listed is None:
            listed = listing_log_batches(checkpoint_dir, [name]).get(name)
        if listed is not None and folded_log_batch(checkpoint_dir) >= listed:
            return
        time.sleep(0.05)  # the reference's 50 ms poll
    raise TimeoutError("read-your-writes barrier timed out")


def run_streaming_availablenow(spark: SparkSession, events_dir: str, spec: dict,
                               checkpoint_dir: str, output_dir: str,
                               executor: TaskExecutor | None = None,
                               max_files_per_trigger: int | None = None,
                               evict_completed: bool = False,
                               shuffle_partitions: int | None = None) -> DataFrame:
    """Run the engine over a parquet directory of events with an
    Available-Now trigger, appending tagged outputs to `output_dir`
    via foreachBatch (fault-tolerant: the checkpoint is recoverable,
    unlike a memory sink); returns the accumulated output DataFrame.

    This is the replay/backfill harness and the integration-test
    driver: with `max_files_per_trigger=1` each file becomes its own
    micro-batch, exercising cross-batch state persistence exactly as
    a live Kafka feed would.  In production the foreachBatch body is
    the idempotent Kafka/Delta dual-sink (exactly-once via dedupe on
    (wf_run_id, thread_id, task_run_position, attempt_number) —
    BASELINE.md part B).

    `shuffle_partitions` right-sizes the state store for the replay's
    keyspace: state partition count is fixed at query start from
    `spark.sql.shuffle.partitions`, and each partition costs a state
    commit + an Arrow Python round-trip per micro-batch — a 150-key
    replay on the session's 32 analytic partitions pays 32x that for
    nothing.  Scoped to this query; the session default is restored.
    """
    events = _event_stream(spark, events_dir, max_files_per_trigger)
    tagged = streaming_engine(events, spec, executor=executor,
                              evict_completed=evict_completed)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(output_dir)

    q = start_engine_query(
        spark,
        tagged.writeStream.foreachBatch(sink).outputMode("update")
        .trigger(availableNow=True),
        checkpoint_dir, shuffle_partitions)
    if not q.awaitTermination(300):
        # A truncated replay must be an ERROR, not a silently
        # short output a parity gate would misread as data drift.
        q.stop()
        raise TimeoutError(
            "availableNow replay did not finish within 300s; "
            "output would be truncated")
    return spark.read.parquet(output_dir)
