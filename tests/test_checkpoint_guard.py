"""Checkpoints the engine cannot resume fail fast (`streaming/checkpoint.py`).

Spark restores the state-store provider and the stateful operator
from a checkpoint on every restart; the engine's processor needs
RocksDB and runs as the row-based transformWithState operator.  A
checkpoint left by the removed applyInPandasWithState engine
(HDFS-backed provider) or by the removed pandas-API processor is
refused with one rebuild-by-replay message before any query starts,
on every start path: `SparkEngineManager.deploy` (per-spec and
shared) and `cli process`.  Fresh and RocksDB checkpoints start."""
from __future__ import annotations

import argparse
import json
import shutil
from pathlib import Path

import pytest

from old_original_java_little_horse_spark.api.engines import SparkEngineManager
from old_original_java_little_horse_spark.engine.batch import WF_EVENT_SCHEMA
from old_original_java_little_horse_spark.sdk.builder import Workflow
from old_original_java_little_horse_spark.streaming.checkpoint import (
    PANDAS_OPERATOR, ROCKSDB_PROVIDER, StaleCheckpointError,
    check_engine_checkpoint,
)

_HDFS_OFFSETS = (
    'v1\n{"batchWatermarkMs":0,"conf":{'
    '"spark.sql.streaming.stateStore.providerClass":'
    '"org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"}}'
    "\n{}\n")
_ROCKSDB_OFFSETS = _HDFS_OFFSETS.replace("HDFSBacked", "RocksDB")
_REBUILD = "replaying the event log into a fresh checkpoint"


def _mk_offsets(ckpt: Path, txt: str) -> None:
    (ckpt / "offsets").mkdir(parents=True)
    (ckpt / "offsets" / "0").write_text(txt)


def _mk_operator_metadata(ckpt: Path, operator: str) -> None:
    meta = ckpt / "state" / "0" / "_metadata" / "v2"
    meta.mkdir(parents=True)
    (meta / "0").write_text(
        'v2\n{"operatorInfo":{"operatorId":0,"operatorName":"%s"}}' % operator)


def _spec() -> dict:
    wf = Workflow("greeter")
    wf.thread("entrypoint").execute("greet", x="hi")
    return wf.build()


def test_checkpoint_provider_detection(tmp_path):
    check_engine_checkpoint(str(tmp_path / "none"))  # no checkpoint yet
    empty = tmp_path / "empty"
    (empty / "offsets").mkdir(parents=True)
    check_engine_checkpoint(str(empty))
    rocks = tmp_path / "rocks"
    _mk_offsets(rocks, _ROCKSDB_OFFSETS)
    check_engine_checkpoint(str(rocks))
    # offsets with no provider record: nothing to refuse on
    bare = tmp_path / "bare"
    _mk_offsets(bare, "v1\n{}\n{}\n")
    check_engine_checkpoint(str(bare))
    hdfs = tmp_path / "hdfs"
    _mk_offsets(hdfs, _HDFS_OFFSETS)
    with pytest.raises(StaleCheckpointError, match=_REBUILD) as e:
        check_engine_checkpoint(str(hdfs))
    assert "HDFSBackedStateStoreProvider" in str(e.value)
    # RocksDB offsets, stateful operator read from the state metadata
    _mk_operator_metadata(rocks, "transformWithStateInPySparkExec")
    check_engine_checkpoint(str(rocks))
    pandas_api = tmp_path / "pandas-api"
    _mk_offsets(pandas_api, _ROCKSDB_OFFSETS)
    _mk_operator_metadata(pandas_api, PANDAS_OPERATOR)
    with pytest.raises(StaleCheckpointError, match=_REBUILD) as e:
        check_engine_checkpoint(str(pandas_api))
    assert PANDAS_OPERATOR in str(e.value)


@pytest.mark.parametrize("shared", [False, True], ids=["per-spec", "shared"])
def test_deploy_refuses_pandas_state_checkpoint(spark, tmp_path, shared):
    root = tmp_path / "engines"
    _mk_offsets(root / ("_shared" if shared else "greeter") / "ckpt",
                _HDFS_OFFSETS)
    mgr = SparkEngineManager(spark, str(root), shared=shared)
    try:
        with pytest.raises(StaleCheckpointError, match=_REBUILD):
            mgr.deploy(_spec())
        assert mgr.handles() == []  # no query was started
    finally:
        mgr.stop_all()


def test_cmd_process_checkpoints(spark, tmp_path, capsys):
    """`cli process` starts on a fresh checkpoint, resumes its own
    RocksDB checkpoint, and refuses one that a stateful query on
    Spark's default (HDFS-backed) state store wrote — what the removed
    applyInPandasWithState engine left behind."""
    from old_original_java_little_horse_spark import cli

    spec_file = tmp_path / "spec.json"
    spec_file.write_text(json.dumps(_spec()))
    events = tmp_path / "events"
    ckpt = tmp_path / "ckpt"

    def process(wave: str, checkpoint: Path) -> list[str]:
        row = (f"r-{wave}", "greeter", "greeter", "WF_RUN_STARTED", 0,
               1000, 0, json.dumps({"variables": {}}))
        spark.createDataFrame([row], schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events / wave))
        return ["process", str(spec_file), "--events-dir", str(events),
                "--snapshots-dir", str(tmp_path / "snaps"),
                "--checkpoint-dir", str(checkpoint)]

    assert cli.main(process("w1", ckpt)) == 0  # fresh
    assert ROCKSDB_PROVIDER in (ckpt / "offsets" / "0").read_text()
    assert "processed: 1 runs, 1 pending task schedules" in capsys.readouterr().out
    assert cli.main(process("w2", ckpt)) == 0  # resumes RocksDB
    # Counts only what this invocation folded (wave 2's one run), not
    # the snapshots dir wave 1 also appended to.
    assert "processed: 1 runs, 1 pending task schedules" in capsys.readouterr().out

    stale = tmp_path / "stale"
    (spark.readStream.schema(WF_EVENT_SCHEMA).parquet(str(events) + "/*")
     .dropDuplicates(["wf_run_id"])
     .writeStream.foreachBatch(lambda df, _bid: df.count())
     .option("checkpointLocation", str(stale))
     .trigger(availableNow=True).start().awaitTermination(120))
    assert "HDFSBackedStateStoreProvider" in (stale / "offsets" / "0").read_text()
    argv = process("w3", stale)
    with pytest.raises(StaleCheckpointError, match=_REBUILD):
        cli.cmd_process(argparse.Namespace(
            spec=argv[1], events_dir=argv[3], snapshots_dir=argv[5],
            checkpoint_dir=argv[7], executor=None))
    assert cli.main(argv) == 2
    assert _REBUILD in capsys.readouterr().err


def test_pandas_api_checkpoint_refused_on_every_start_path(spark, tmp_path,
                                                           capsys):
    """A real checkpoint of a pandas-API transformWithState query on
    RocksDB (what the removed processor left: the provider check
    passes, the recorded operator does not) is refused by `deploy`
    per-spec and shared and by `cli process`, before any query
    starts."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from old_original_java_little_horse_spark import cli
    from old_original_java_little_horse_spark.streaming.engine import (
        _export_worker_pythonpath, start_engine_query,
    )

    class CountProcessor(StatefulProcessor):
        def init(self, handle):
            self.n = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n = (self.n.get() or (0,))[0] + sum(len(pdf) for pdf in rows)
            self.n.update((n,))
            yield pd.DataFrame({"wf_run_id": [key[0]], "n": [n]})

        def close(self):
            pass

    events = tmp_path / "events"
    row = ("r1", "greeter", "greeter", "WF_RUN_STARTED", 0, 1000, 0,
           json.dumps({"variables": {}}))
    spark.createDataFrame([row], schema=WF_EVENT_SCHEMA) \
         .coalesce(1).write.parquet(str(events / "w1"))
    _export_worker_pythonpath(spark)
    stale = tmp_path / "stale"
    q = start_engine_query(
        spark,
        spark.readStream.schema(WF_EVENT_SCHEMA).parquet(str(events) + "/*")
        .groupBy("wf_run_id").transformWithStateInPandas(
            statefulProcessor=CountProcessor(),
            outputStructType="wf_run_id string, n long",
            outputMode="Update", timeMode="None")
        .writeStream.foreachBatch(lambda df, _bid: df.count())
        .trigger(availableNow=True), str(stale), state_partitions=1)
    q.awaitTermination(120)
    assert ROCKSDB_PROVIDER in (stale / "offsets" / "0").read_text()

    for shared in (False, True):
        root = tmp_path / f"engines-{shared}"
        shutil.copytree(stale, root / ("_shared" if shared else "greeter")
                        / "ckpt")
        mgr = SparkEngineManager(spark, str(root), shared=shared)
        try:
            with pytest.raises(StaleCheckpointError, match=PANDAS_OPERATOR):
                mgr.deploy(_spec())
            assert mgr.handles() == []  # no query was started
        finally:
            mgr.stop_all()

    spec_file = tmp_path / "spec.json"
    spec_file.write_text(json.dumps(_spec()))
    snaps = tmp_path / "snaps"
    argv = ["process", str(spec_file), "--events-dir", str(events),
            "--snapshots-dir", str(snaps), "--checkpoint-dir", str(stale)]
    assert cli.main(argv) == 2
    err = capsys.readouterr().err
    assert _REBUILD in err and PANDAS_OPERATOR in err
    assert not snaps.exists()  # nothing folded
