"""What the engine reads from a streaming checkpoint before it starts
a query on it: whether it is fresh, and whether its state store is
one the engine can resume.  Pure file reads, no Spark import, so the
CLI can name the error without loading Spark."""

from __future__ import annotations

import os
import re

PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming."
                    "state.RocksDBStateStoreProvider")
_PROVIDER_RECORD = re.compile(
    r'"spark\.sql\.streaming\.stateStore\.providerClass"\s*:\s*"([^"]+)"')


class StaleCheckpointError(RuntimeError):
    """The checkpoint was written on a state store the engine cannot
    resume (the removed applyInPandasWithState engine's HDFS-backed
    default)."""


def check_engine_checkpoint(checkpoint_dir: str) -> None:
    """Refuse a checkpoint the engine cannot resume, before Spark
    fails on it deep inside the first micro-batch.

    Spark records the state-store provider in every committed offsets
    file and restores it from the checkpoint on every restart (it
    overrides the session conf), so one offsets file that names a
    provider names it for the whole checkpoint.  The processor's typed
    state needs RocksDB; a checkpoint of the removed
    applyInPandasWithState engine names the HDFS-backed default.  It
    is not rebuilt automatically: a replay re-runs inline tasks
    through the executor, which is the operator's call."""
    offsets = os.path.join(checkpoint_dir, "offsets")
    try:
        names = sorted(n for n in os.listdir(offsets) if not n.startswith("."))
    except FileNotFoundError:
        return
    for name in names:
        try:
            with open(os.path.join(offsets, name)) as f:
                m = _PROVIDER_RECORD.search(f.read())
        except OSError:
            continue
        if m is None:
            continue
        if m.group(1) != ROCKSDB_PROVIDER:
            raise StaleCheckpointError(
                f"checkpoint {checkpoint_dir} was written by the removed "
                f"applyInPandasWithState engine (state store "
                f"{m.group(1).rsplit('.', 1)[-1]}); the engine needs "
                f"RocksDBStateStoreProvider.  Rebuild it by replaying the "
                f"event log into a fresh checkpoint: stop the engine, move "
                f"{checkpoint_dir} aside and start again on an empty "
                f"checkpoint directory — every event in the events "
                f"directory is folded again, and inline tasks run again "
                f"through the executor (docs/OPERATIONS.md, upgrading)")
        return


def fresh_checkpoint(checkpoint_dir: str) -> bool:
    """True iff the checkpoint has NO committed offsets — i.e. this
    query run cannot begin with a WAL-recovery replay, so the
    read-your-writes barrier may trust its first progress entry
    (stamped on the query as `_lh_fresh_start`).  Checked BEFORE
    .start(): afterwards the running query itself writes offsets."""
    try:
        return not os.listdir(os.path.join(checkpoint_dir, "offsets"))
    except FileNotFoundError:
        return True
