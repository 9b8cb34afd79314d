"""What the engine reads from a streaming checkpoint before it starts
a query on it: whether it is fresh, and whether the engine can resume
it (its state store and its stateful operator).  Pure file reads, no
Spark import, so the CLI can name the error without loading Spark."""

from __future__ import annotations

import os
import re

PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming."
                    "state.RocksDBStateStoreProvider")
_PROVIDER_RECORD = re.compile(
    r'"spark\.sql\.streaming\.stateStore\.providerClass"\s*:\s*"([^"]+)"')
# The stateful operator the removed pandas-API processor ran as.  Spark
# records it in the operator's state metadata and refuses to resume
# the checkpoint under any other operator.
PANDAS_OPERATOR = "transformWithStateInPandasExec"
_OPERATOR_RECORD = re.compile(r'"operatorName"\s*:\s*"([^"]+)"')


class StaleCheckpointError(RuntimeError):
    """The checkpoint was written by an engine this one cannot resume:
    the removed applyInPandasWithState engine (HDFS-backed state
    store) or the removed pandas-API processor."""


def _first_record(directory: str, record: re.Pattern) -> str | None:
    """The value `record` captures in the first file of `directory`
    (hidden files skipped) that holds one; None if none does."""
    try:
        names = sorted(n for n in os.listdir(directory) if not n.startswith("."))
    except FileNotFoundError:
        return None
    for name in names:
        try:
            with open(os.path.join(directory, name)) as f:
                m = record.search(f.read())
        except OSError:
            continue
        if m is not None:
            return m.group(1)
    return None


def check_engine_checkpoint(checkpoint_dir: str) -> None:
    """Refuse a checkpoint the engine cannot resume, before Spark
    fails on it deep inside the first micro-batch.

    - Spark records the state-store provider in every committed
      offsets file and restores it from the checkpoint on every
      restart (it overrides the session conf), so one offsets file
      that names a provider names it for the whole checkpoint.  The
      processor's typed state needs RocksDB; a checkpoint of the
      removed applyInPandasWithState engine names the HDFS-backed
      default.
    - Spark records the stateful operator's name in its state metadata
      (`state/0/_metadata/v2/<batch>`); a checkpoint of the removed
      pandas-API processor names `PANDAS_OPERATOR`, which the
      row-based operator refuses to resume.

    Neither is rebuilt automatically: a replay re-runs inline tasks
    through the executor, which is the operator's call."""
    provider = _first_record(os.path.join(checkpoint_dir, "offsets"),
                             _PROVIDER_RECORD)
    if provider is not None and provider != ROCKSDB_PROVIDER:
        found = (f"the removed applyInPandasWithState engine (state store "
                 f"{provider.rsplit('.', 1)[-1]}); the engine needs "
                 f"RocksDBStateStoreProvider")
    elif _first_record(os.path.join(checkpoint_dir, "state", "0",
                                    "_metadata", "v2"),
                       _OPERATOR_RECORD) == PANDAS_OPERATOR:
        found = (f"the removed pandas-API processor (stateful operator "
                 f"{PANDAS_OPERATOR}); the engine runs the row-based "
                 f"transformWithState operator")
    else:
        return
    raise StaleCheckpointError(
        f"checkpoint {checkpoint_dir} was written by {found}.  Rebuild "
        f"it by replaying the event log into a fresh checkpoint: stop "
        f"the engine, move {checkpoint_dir} aside and start again on an "
        f"empty checkpoint directory — every event in the events "
        f"directory is folded again, and inline tasks run again "
        f"through the executor (docs/OPERATIONS.md, upgrading)")


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
