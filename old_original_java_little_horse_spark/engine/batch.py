"""Batch engine: the pure fold applied to every run of a partition
in one ``mapInPandas`` call.

SURVEY.md §7 step 3: `wf_events` hash-repartitioned by `wf_run_id`
→ one Arrow-batched Python call per partition groups its rows by run,
folds each run's (offset-ordered) events and emits one snapshot row
per run.  The shuffle key is the state key — the same partitioning
the streaming engine uses, so this is both the backfill/replay path
and the oracle for streaming results.

Scale notes: `repartition(wf_run_id)` co-locates each run's events in
one task; state never leaves the executor; output is one row per run.
A partition's events are concatenated before grouping, so the
partition count bounds per-task memory (see `run_events_batch`).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

from .fold import TaskExecutor, fold_events

WF_EVENT_SCHEMA = StructType([
    StructField("wf_run_id", StringType()),
    StructField("wf_spec_id", StringType()),
    StructField("wf_spec_name", StringType()),
    StructField("event_type", StringType()),
    StructField("thread_id", IntegerType()),
    StructField("timestamp", LongType()),
    StructField("offset", LongType()),
    StructField("content", StringType()),  # JSON payload per FIXTURES.md §1
])

SNAPSHOT_SCHEMA = StructType([
    StructField("wf_run_id", StringType()),
    StructField("status", StringType()),
    StructField("error_code", StringType()),
    StructField("n_threads", IntegerType()),
    StructField("n_tasks", IntegerType()),
    StructField("n_scheduled", IntegerType()),
    StructField("n_timers", IntegerType()),
    StructField("state_json", StringType()),  # full WFRun document
])

# Partial parse schema for JVM-side flattening of snapshots (extra JSON
# fields are ignored by from_json).
STATE_PARSE_SCHEMA = StructType([
    StructField("thread_runs", ArrayType(StructType([
        StructField("id", IntegerType()),
        StructField("parent_thread_id", IntegerType()),
        StructField("thread_spec_name", StringType()),
        StructField("status", StringType()),
        StructField("is_interrupt_thread", StringType()),
        StructField("task_runs", ArrayType(StructType([
            StructField("position", IntegerType()),
            StructField("number", IntegerType()),
            StructField("attempt_number", IntegerType()),
            StructField("node_name", StringType()),
            StructField("status", StringType()),
            StructField("failure_reason", StringType()),
        ]))),
    ]))),
])


def _fold_one(run_id: str, pdf: pd.DataFrame, spec: dict,
              executor: TaskExecutor | None) -> dict | None:
    events = pdf.to_dict("records")
    state, schedules, timers = fold_events(spec, events, executor=executor)
    if state is None:
        return None
    threads = state["thread_runs"]
    return {
        "wf_run_id": state["id"],
        "status": state["status"],
        "error_code": state.get("error_code"),
        "n_threads": len(threads),
        "n_tasks": sum(len(t["task_runs"]) for t in threads),
        "n_scheduled": len(schedules),
        "n_timers": len(timers),
        "state_json": json.dumps(state, separators=(",", ":")),
    }


def run_events_batch(events_df: DataFrame, spec: dict,
                     executor: TaskExecutor | None = None,
                     num_partitions: int | None = None) -> DataFrame:
    """Fold a wf_events DataFrame into one snapshot row per run.

    Physical shape: hash-repartition on wf_run_id (co-locates each
    run's events) → `mapInPandas` folding every run in the partition
    in one Python call.  This replaces per-group `applyInPandas`,
    whose per-group Arrow/invoke overhead dominates when runs are
    small (measured ~3 ms x |runs|); with partition-level batching
    the Python cost is O(events), not O(runs).  Partition count
    bounds per-task memory at scale (a partition's events must fit).
    """
    from ..session import ship_package

    spark = events_df.sparkSession
    ship_package(spark)
    n = num_partitions or spark.sparkContext.defaultParallelism
    cols = [f.name for f in SNAPSHOT_SCHEMA.fields]

    def fold_partition(batches):
        chunks = list(batches)
        if not chunks:
            return
        # A run's events may span Arrow chunks — concat the partition
        # (bounded by the repartition count) before grouping.
        pdf = pd.concat(chunks, ignore_index=True)
        rows = []
        for run_id, grp in pdf.groupby("wf_run_id", sort=False):
            row = _fold_one(run_id, grp, spec, executor)
            if row is not None:
                rows.append(row)
        yield pd.DataFrame(rows, columns=cols)

    return events_df.repartition(n, "wf_run_id").mapInPandas(
        fold_partition, SNAPSHOT_SCHEMA
    )


def task_runs_flat(snapshots: DataFrame) -> DataFrame:
    """FIXTURES.md §3 task_runs_flat view — flattened JVM-side
    (from_json + two explodes), no Python."""
    parsed = snapshots.select(
        "wf_run_id",
        F.from_json("state_json", STATE_PARSE_SCHEMA).alias("st"),
    )
    threads = parsed.select(
        "wf_run_id", F.explode("st.thread_runs").alias("t")
    )
    return threads.select(
        "wf_run_id",
        F.col("t.id").alias("thread_id"),
        F.col("t.thread_spec_name").alias("thread_spec_name"),
        F.col("t.status").alias("thread_status"),
        F.explode("t.task_runs").alias("tr"),
    ).select(
        "wf_run_id", "thread_id", "thread_spec_name", "thread_status",
        F.col("tr.position").alias("position"),
        F.col("tr.number").alias("number"),
        F.col("tr.attempt_number").alias("attempt_number"),
        F.col("tr.node_name").alias("node_name"),
        F.col("tr.status").alias("status"),
    )
