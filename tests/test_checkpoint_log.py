"""The file-source record the read-your-writes barrier and `cli import`'s
pacing both read from a streaming checkpoint
(`streaming.checkpoint.listing_log_batches` / `folded_log_batch`), on a
real checkpoint whose query batch ids and file-source log batch ids
differ, and whose log holds compacted `<id>.compact` batches."""
from __future__ import annotations

import json
import os

import pyarrow as pa
import pyspark.sql.functions as F

from old_original_java_little_horse_spark.engine.batch import WF_EVENT_SCHEMA
from old_original_java_little_horse_spark.streaming.admission import (
    CatchUpAdmission, write_event_file,
)
from old_original_java_little_horse_spark.streaming.checkpoint import (
    folded_log_batch, listing_log_batches,
)

N_FILES = 22


def _event_table(i: int) -> pa.Table:
    return pa.table({
        "wf_run_id": pa.array([f"r{i}"], pa.string()),
        "wf_spec_id": pa.array([None], pa.string()),
        "wf_spec_name": pa.array(["s"], pa.string()),
        "event_type": pa.array(["WF_RUN_STARTED"], pa.string()),
        "thread_id": pa.array([0], pa.int32()),
        "timestamp": pa.array([1_000_000 + i * 60_000], pa.int64()),
        "offset": pa.array([i], pa.int64()),
        "content": pa.array(["{}"], pa.string()),
    })


def test_reader_maps_log_batches_through_offsets_on_a_real_checkpoint(
        spark, tmp_path):
    """One file at a time into a watermarked dedup: every data batch
    moves the watermark and is followed by a no-data batch, so query
    batch N is NOT log batch N, and log batches 9 and 19 are written
    as `.compact` files.  Each directory maps to the log batch that
    listed it, a directory counts as folded exactly when a committed
    query batch's offset covers its log batch, and a planned but
    uncommitted batch folds nothing."""
    import time

    ev = tmp_path / "events"
    ev.mkdir()
    ckpt = tmp_path / "ckpt"
    q = (spark.readStream.schema(WF_EVENT_SCHEMA).parquet(str(ev) + "/*")
         .withColumn("t", F.timestamp_millis("timestamp"))
         .withWatermark("t", "0 seconds")
         .dropDuplicates(["wf_run_id", "t"])
         .writeStream.format("noop")
         .option("checkpointLocation", str(ckpt))
         .trigger(processingTime="50 milliseconds").start())
    names = []
    try:
        for i in range(N_FILES):
            names.append(write_event_file(ev, _event_table(i)).parent.name)
            deadline = time.monotonic() + 60
            # Its data batch, then the watermark's no-data batch.
            while (q.lastProgress is None
                   or q.lastProgress.batchId < 2 * i + 1):
                assert time.monotonic() < deadline, q.lastProgress
                time.sleep(0.02)
    finally:
        q.stop()
    # batch id -> the file-source log offset it ran up to, as Spark
    # itself reported it.
    end = {}
    for p in q.recentProgress:
        doc = json.loads(p.json)
        end[doc["batchId"]] = doc["sources"][0]["endOffset"]["logOffset"]

    logs = os.listdir(ckpt / "sources" / "0")
    assert {"9.compact", "19.compact"} <= set(logs)
    listed = listing_log_batches(str(ckpt), names)
    assert sorted(listed.values()) == list(range(N_FILES))
    assert max(end) >= 2 * N_FILES - 1
    assert folded_log_batch(str(ckpt)) == N_FILES - 1

    adm = CatchUpAdmission(str(tmp_path / "unused"), checkpoint_dir=str(ckpt))
    adm._released_paths = {n: 1 for n in names}
    assert adm._folded_from_checkpoint() == N_FILES

    # Uncommit every batch after the first one that ran up to log
    # batch 12 (the restart shape: planned, not folded).
    cut = min(b for b, off in end.items() if off == 12)
    for b in end:
        if b > cut:
            os.remove(ckpt / "commits" / str(b))
    assert folded_log_batch(str(ckpt)) == 12
    adm = CatchUpAdmission(str(tmp_path / "unused"), checkpoint_dir=str(ckpt))
    adm._released_paths = {n: 1 for n in names}
    assert adm._folded_from_checkpoint() == 13
    assert sum(v <= 12 for v in listed.values()) == 13
