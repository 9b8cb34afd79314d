"""Engine-fold parity queries: the full state machine, hash-checked
against a SQL oracle.

A deterministic workflow runs once per `user_id` in the events table:
input variables are per-user aggregates, tasks execute inline as pure
functions (SURVEY.md §2.11 "inline tasks for the batch oracle"), so
the final WFRun state is a pure function of the events table — which
the DuckDB oracle recomputes in closed form.

The workflow exercises: TASK nodes, if/else edge conditions with NOP
merge, variable mutations (ASSIGN via jsonpath, ADD), SPAWN_THREAD /
WAIT_FOR_THREAD with cross-thread variable scoping, and the status
rollup — i.e. the engine's §2.3/§2.8/§2.9 core, end to end, on Spark
via mapInPandas.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..sources.parquet import load_table
from ..sdk.builder import Workflow, var
from .batch import run_events_batch, task_runs_flat


def pipeline_spec() -> dict:
    wf = Workflow("user-pipeline")
    t = wf.thread("entrypoint")
    t.add_variable("n_purch", "INT", default=0)
    t.add_variable("n_click", "INT", default=0)
    t.add_variable("score", "INT", default=0)
    t.add_variable("tier", "STRING", default="")

    n1 = t.execute("classify", n=var("n_purch"))
    t.mutate(n1, "score", "ASSIGN")  # score = n_purch * 2

    clicky = t.condition(var("n_click"), "GREATER_THAN", var("n_purch"))
    with clicky.is_true():
        e1 = t.execute("echo", x="clicky")
        t.mutate(e1, "tier", "ASSIGN")
    with clicky.is_false():
        e2 = t.execute("echo", x="buyy")
        t.mutate(e2, "tier", "ASSIGN")

    c = t.spawn_thread("child", base=var("score"))
    w = t.wait_for_thread(c)
    t.mutate(w, "score", "ASSIGN", json_path="$.child_total")

    f = t.execute("finalize", s=var("score"))
    t.mutate(f, "score", "ASSIGN")  # score = score + 7

    child = wf.thread("child")
    child.add_variable("base", "INT", default=0)
    child.add_variable("child_total", "INT", default=0)
    a = child.execute("add_clicks", base=var("base"), clicks=var("n_click"))
    child.mutate(a, "child_total", "ASSIGN")

    wf.entrypoint = "entrypoint"
    return wf.build()


def pipeline_executor(task_def_name: str, subs: dict) -> dict:
    """Inline deterministic tasks (pure functions of their inputs)."""
    if task_def_name == "classify":
        return {"stdout": json.dumps(subs["n"] * 2), "success": True, "returncode": 0}
    if task_def_name == "echo":
        return {"stdout": str(subs["x"]), "success": True, "returncode": 0}
    if task_def_name == "add_clicks":
        return {"stdout": json.dumps(subs["base"] + subs["clicks"]),
                "success": True, "returncode": 0}
    if task_def_name == "finalize":
        return {"stdout": json.dumps(subs["s"] + 7), "success": True, "returncode": 0}
    raise ValueError(f"unknown task {task_def_name}")


def _wf_events_from_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One WF_RUN_STARTED event per user: variables are per-user
    aggregates computed JVM-side."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purch"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_click"),
        F.min("ts").alias("first_ts"),
    )
    return agg.select(
        F.concat(F.lit("user-"), F.col("user_id")).alias("wf_run_id"),
        F.lit("user-pipeline-spec").alias("wf_spec_id"),
        F.lit("user-pipeline").alias("wf_spec_name"),
        F.lit("WF_RUN_STARTED").alias("event_type"),
        F.lit(0).alias("thread_id"),
        (F.unix_timestamp("first_ts") * 1000).alias("timestamp"),
        F.lit(0).cast("long").alias("offset"),
        F.to_json(F.struct(F.struct(
            F.col("n_purch").alias("n_purch"),
            F.col("n_click").alias("n_click"),
        ).alias("variables"))).alias("content"),
    )


_ORACLE_AGG = """
WITH agg AS (
  SELECT user_id,
         COUNT(*) FILTER (event_type = 'purchase') AS n_purch,
         COUNT(*) FILTER (event_type = 'click')    AS n_click
  FROM events GROUP BY user_id
)
"""


@query(
    "engine_pipeline_fold",
    oracle=_ORACLE_AGG + """
SELECT 'user-' || CAST(user_id AS VARCHAR) AS wf_run_id,
       'COMPLETED' AS status,
       2  AS n_threads,
       7  AS n_tasks,
       CAST(n_purch * 2 + n_click + 7 AS BIGINT) AS score,
       CASE WHEN n_click > n_purch THEN 'clicky' ELSE 'buyy' END AS tier
FROM agg
""",
)
def engine_pipeline_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine fold per user; oracle recomputes the workflow's
    closed form: score = 2*n_purch + n_click + 7, tier by branch.

    n_tasks = 7: parent runs classify, the taken echo branch, the NOP
    merge, spawn, wait, finalize (6) + the child's add_clicks (1) —
    the exact roster is asserted row-by-row by engine_task_runs_flat.
    """
    events = _wf_events_from_users(spark, sf_dir)
    snaps = run_events_batch(events, pipeline_spec(), executor=pipeline_executor)
    return snaps.select(
        "wf_run_id", "status", "n_threads", "n_tasks",
        F.get_json_object("state_json", "$.thread_runs[0].variables.score")
         .cast("bigint").alias("score"),
        F.get_json_object("state_json", "$.thread_runs[0].variables.tier")
         .alias("tier"),
    )


@query(
    "engine_task_runs_flat",
    oracle=_ORACLE_AGG + """
, parent AS (
  SELECT user_id, n_purch, n_click, p.position, p.node_name
  FROM agg, (VALUES (0, 'classify'), (1, ''), (2, 'nop'), (3, 'spawn-child'),
                    (4, 'wait-thread'), (5, 'finalize')) p(position, node_name)
)
SELECT 'user-' || CAST(user_id AS VARCHAR) AS wf_run_id,
       0 AS thread_id,
       position,
       CASE WHEN position = 1
            THEN (CASE WHEN n_click > n_purch THEN 'echo' ELSE 'echo-1' END)
            ELSE node_name END AS node_name,
       'COMPLETED' AS status
FROM parent
UNION ALL
SELECT 'user-' || CAST(user_id AS VARCHAR), 1, 0, 'add_clicks', 'COMPLETED'
FROM agg
""",
)
def engine_task_runs_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flattened task-run fact rows (FIXTURES.md §3), checked against
    the workflow's deterministic task roster — the branch decides
    which echo node ran at position 1."""
    events = _wf_events_from_users(spark, sf_dir)
    snaps = run_events_batch(events, pipeline_spec(), executor=pipeline_executor)
    return task_runs_flat(snaps).select(
        "wf_run_id", "thread_id", "position", "node_name", "status"
    )


@query(
    "engine_result_counts",
    oracle="""
SELECT 'COMPLETED' AS status,
       COUNT(DISTINCT user_id) AS n_runs
FROM events
""",
)
def engine_result_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 test-harness rollup (lh_test_harness/harness/logic.py:157-179):
    GROUP BY status → count over engine results."""
    events = _wf_events_from_users(spark, sf_dir)
    snaps = run_events_batch(events, pipeline_spec(), executor=pipeline_executor)
    return snaps.groupBy("status").agg(F.count(F.lit(1)).alias("n_runs"))
