"""A checkpoint resumes on the state store it was written on.

Spark records the state-store provider in every committed offsets
file and restores it on restart, so the provider of a checkpoint with
no other marker is read from its offsets (`streaming/checkpoint.py`).
The engine's processor resumes RocksDB checkpoints; one written by the
removed applyInPandasWithState engine (HDFS-backed provider) is
refused by `cli process` before any query starts."""
from __future__ import annotations

import json
from pathlib import Path

import pytest

from old_original_java_little_horse_spark.engine.batch import WF_EVENT_SCHEMA
from old_original_java_little_horse_spark.sdk.builder import Workflow
from old_original_java_little_horse_spark.streaming.checkpoint import (
    PROVIDER_CONF, ROCKSDB_PROVIDER, StaleCheckpointError,
    check_engine_checkpoint,
)

_HDFS_OFFSETS = (
    'v1\n{"batchWatermarkMs":0,"conf":{'
    '"spark.sql.streaming.stateStore.providerClass":'
    '"org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"}}'
    "\n{}\n")
_ROCKSDB_OFFSETS = _HDFS_OFFSETS.replace("HDFSBacked", "RocksDB")


def _mk_offsets(ckpt: Path, txt: str = _HDFS_OFFSETS):
    (ckpt / "offsets").mkdir(parents=True)
    (ckpt / "offsets" / "0").write_text(txt)


def test_markerless_tws_checkpoint_detected_from_offsets(tmp_path):
    """A checkpoint with committed offsets and no marker file is
    recognised from the providerClass Spark recorded in them: RocksDB
    is accepted and nothing is written beside it; the HDFS-backed
    default is refused."""
    ckpt = tmp_path / "ckpt"
    _mk_offsets(ckpt, _ROCKSDB_OFFSETS)
    check_engine_checkpoint(str(ckpt))
    assert sorted(p.name for p in ckpt.iterdir()) == ["offsets"]
    hdfs = tmp_path / "hdfs"
    _mk_offsets(hdfs)
    with pytest.raises(StaleCheckpointError):
        check_engine_checkpoint(str(hdfs))


def test_cmd_process_resumes_checkpoints_on_their_engine(spark, tmp_path):
    """`cli process` refuses a pre-flip pandas-state checkpoint before
    it writes anything, and resumes a RocksDB checkpoint on RocksDB
    while the session's own provider conf stays untouched."""
    from old_original_java_little_horse_spark import cli

    wf = Workflow("greeter")
    wf.thread("entrypoint").execute("greet", x="hi")
    spec_file = tmp_path / "spec.json"
    spec_file.write_text(json.dumps(wf.build()))
    events = tmp_path / "events"
    snaps = tmp_path / "snaps"

    def args(wave: str, ckpt: Path):
        row = (f"r-{wave}", "greeter", "greeter", "WF_RUN_STARTED", 0,
               1000, 0, json.dumps({"variables": {}}))
        spark.createDataFrame([row], schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events / wave))
        return type("A", (), {
            "spec": str(spec_file), "events_dir": str(events),
            "snapshots_dir": str(snaps), "checkpoint_dir": str(ckpt),
            "executor": None,
        })()

    stale = tmp_path / "stale"
    _mk_offsets(stale)  # pre-flip pandas-state checkpoint, no marker
    with pytest.raises(StaleCheckpointError):
        cli.cmd_process(args("w0", stale))
    assert not snaps.exists()
    assert sorted(p.name for p in stale.iterdir()) == ["offsets"]

    session_provider = spark.conf.get(PROVIDER_CONF)
    ckpt = tmp_path / "ckpt"
    assert cli.cmd_process(args("w1", ckpt)) == 0
    assert cli.cmd_process(args("w2", ckpt)) == 0  # resumes
    assert ROCKSDB_PROVIDER in (ckpt / "offsets" / "1").read_text()
    assert spark.conf.get(PROVIDER_CONF) == session_provider
