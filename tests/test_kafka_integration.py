"""Live-Kafka end-to-end proof (SURVEY §2.1 S1/S4/S5; reference
`SchedulerTopology.java:62-72` + `TaskWorker.java:87-207`).

Runs ONLY where a broker exists: set `KAFKA_BOOTSTRAP=host:port` and
launch pytest with the Kafka connector on the Spark classpath (see
docs/KAFKA.md for the one-command recipe).  Everywhere else the test
SKIPS — the parse/format halves stay covered by `test_kafka_shapes`,
and the full operator chain downstream of the source is exercised by
the file-source streaming tests, which share every plan node except
the source/sink exchange itself.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pytest

BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP")

pytestmark = pytest.mark.skipif(
    not BOOTSTRAP,
    reason="no Kafka broker: set KAFKA_BOOTSTRAP=host:port "
           "(docs/KAFKA.md) to run the live integration proof",
)


def _connector_present(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider")
        return True
    except Exception:
        return False


def test_kafka_engine_end_to_end(spark, tmp_path):
    """events topic → engine → per-TaskDef topic + snapshots: the
    production wiring of `sources/kafka.py` against a real broker."""
    if not _connector_present(spark):
        pytest.skip("spark-sql-kafka connector not on classpath "
                    "(launch with --packages, see docs/KAFKA.md)")

    from pyspark.sql import functions as F

    from old_original_java_little_horse_spark.sdk.builder import Workflow
    from old_original_java_little_horse_spark.sources.kafka import (
        task_schedule_sink, wf_event_source,
    )
    from old_original_java_little_horse_spark.streaming.engine import (
        start_engine_query, streaming_engine,
    )

    run = uuid.uuid4().hex[:8]
    events_topic = f"wf-events-{run}"
    task_def = f"greet-{run}"          # topic == task_def_name (S4)

    wf = Workflow("kafka-e2e")
    t = wf.thread("entrypoint")
    t.execute(task_def, x="hello")
    spec = wf.build()

    # Produce the command event (the API's produce path, batch write).
    event = {
        "wf_run_id": f"r-{run}", "wf_spec_id": "s", "wf_spec_name": "s",
        "event_type": "WF_RUN_STARTED", "thread_id": 0,
        "timestamp": int(time.time() * 1000), "offset": None,
        "content": json.dumps({"variables": {}}),
    }
    (spark.createDataFrame([(f"r-{run}", json.dumps(event))], "key string, value string")
        .write.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("topic", events_topic).save())

    # Engine: Kafka source → fold → Kafka task sink (+ parquet snaps).
    tagged = streaming_engine(
        wf_event_source(spark, BOOTSTRAP, events_topic), spec)
    snaps_q = start_engine_query(
        spark,
        tagged.where(F.col("kind") == "snapshot")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "snaps"))
        .trigger(availableNow=True),
        str(tmp_path / "ckpt-snaps"))
    sched_q = task_schedule_sink(
        tagged, BOOTSTRAP, str(tmp_path / "ckpt-sched"))
    snaps_q.awaitTermination(120)
    # The schedule sink is continuous; give it one trigger then stop.
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and not sched_q.lastProgress:
        time.sleep(0.5)
    sched_q.stop()

    # The task topic (== task_def_name) received the schedule request.
    out = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("subscribe", task_def)
        .option("startingOffsets", "earliest").load()
        .select(F.col("key").cast("string"), F.col("value").cast("string"))
        .collect()
    )
    assert out, "no task schedule landed on the per-TaskDef topic"
    tsr = json.loads(out[0]["value"])
    assert tsr["task_def_name"] == task_def
    assert out[0]["key"] == f"r-{run}"

    snaps = spark.read.parquet(str(tmp_path / "snaps")).collect()
    assert snaps and json.loads(snaps[-1]["payload"])["id"] == f"r-{run}"
