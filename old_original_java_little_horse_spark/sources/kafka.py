"""Kafka source/sink builders (SURVEY.md §2.1 S1-S5).

The reference reads `WFEvent` JSON from per-workflow topics
(`SchedulerTopology.java:62-67`) and writes task-schedule requests to
per-TaskDef topics (`SchedulerTopology.java:89-107`; topic == task
name, `TaskDef.java:40-42`).

Spark-first shape:
- ONE source: `readStream.format("kafka")` + `from_json` — S1/S2/S3.
- ONE sink: a `topic` column = task_def_name replaces the
  per-TaskDef processor fanout (strictly better physical plan, §4).

This container has no Kafka broker (and no kafka-clients jar is
guaranteed), so these builders construct the plans but tests cover
only the parse/format halves (pure Catalyst expressions) via static
DataFrames; the wiring is exercised with the file source in
streaming/engine.py, which shares every operator downstream of the
source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.batch import WF_EVENT_SCHEMA


def parse_wf_events(raw: DataFrame) -> DataFrame:
    """kafka value bytes → typed wf_event columns.

    `raw` must have kafka-shaped columns (key, value, offset,
    timestamp).  The JSON payload carries everything except the
    per-partition offset, which comes from Kafka itself — the intra-key
    order guarantee (FIXTURES.md §1).
    """
    parsed = raw.select(
        F.col("key").cast("string").alias("kafka_key"),
        F.from_json(F.col("value").cast("string"), WF_EVENT_SCHEMA).alias("e"),
        F.col("offset").alias("kafka_offset"),
    )
    return parsed.select(
        F.coalesce(F.col("e.wf_run_id"), F.col("kafka_key")).alias("wf_run_id"),
        "e.wf_spec_id", "e.wf_spec_name", "e.event_type", "e.thread_id",
        "e.timestamp",
        F.coalesce(F.col("e.offset"), F.col("kafka_offset")).alias("offset"),
        "e.content",
    )


def wf_event_source(spark: SparkSession, bootstrap_servers: str,
                    topic: str) -> DataFrame:
    """S1: the engine's input stream."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    return parse_wf_events(raw)


def format_task_schedule(tagged: DataFrame) -> DataFrame:
    """S4: tagged task_schedule rows → kafka sink rows with a `topic`
    column = task_def_name (single-sink fanout)."""
    return tagged.where(F.col("kind") == "task_schedule").select(
        F.col("task_def_name").alias("topic"),
        F.col("wf_run_id").cast("binary").alias("key"),
        F.col("payload").cast("binary").alias("value"),
    )


def task_schedule_sink(tagged: DataFrame, bootstrap_servers: str,
                       checkpoint_dir: str):
    """Start the S4 kafka sink (requires a broker + kafka package)."""
    from ..streaming.engine import start_engine_query

    return start_engine_query(
        tagged.sparkSession,
        format_task_schedule(tagged).writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers),
        checkpoint_dir)
