"""What the engine reads from a streaming checkpoint: before it starts
a query on it, whether it is fresh and whether the engine can resume
it (its state store and its stateful operator); while it runs, which
event files its committed batches have folded.  Pure file reads, no
Spark import, so the CLI can name the error without loading Spark."""

from __future__ import annotations

import json
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
    """True iff no batch of the checkpoint has committed, so it holds
    no state and no registered timer.  Checked BEFORE .start():
    afterwards the running query itself commits."""
    try:
        return not any(n.isdigit() for n in
                       os.listdir(os.path.join(checkpoint_dir, "commits")))
    except FileNotFoundError:
        return True


# What the engine's file source wrote, read from the checkpoint: the
# one record both the read-your-writes barrier and `cli import`'s
# pacing read.  A query batch N covers the file-source log batches up
# to `offsets/N`'s `logOffset`, and has folded them once `commits/N`
# exists.  The two ids are NOT the same: a batch that admits no new
# file advances only the query's.  Every 10th log batch is written as
# `<id>.compact`, which also repeats every older entry; each entry
# carries its own `batchId`.


def _log_file_names(source_dir: str) -> list[str]:
    """The file-source log files to read, newest first, down to the
    newest compact file (it holds every older entry)."""
    ids = []
    for name in os.listdir(source_dir):
        stem, _, ext = name.partition(".")
        if stem.isdigit() and ext in ("", "compact"):
            ids.append((int(stem), ext == "compact", name))
    names = []
    for _, compact, name in sorted(ids, reverse=True):
        names.append(name)
        if compact:
            break
    return names


def listing_log_batches(checkpoint_dir: str, dir_names) -> dict[str, int]:
    """The file-source log batch that listed each event directory in
    `dir_names`, matched by the name of the directory holding the
    listed file (`<events>/<name>/part-*.parquet`: the uuid-named
    `cmd-*` and segment directories).  Names not listed yet are
    absent."""
    wanted = set(dir_names)
    found: dict[str, int] = {}
    source_dir = os.path.join(checkpoint_dir, "sources", "0")
    try:
        names = _log_file_names(source_dir)
    except FileNotFoundError:
        return found
    for name in names:
        if len(found) == len(wanted):
            break
        try:
            with open(os.path.join(source_dir, name)) as f:
                text = f.read()
        except OSError:
            continue  # removed by the log's own cleanup
        # A compact file holds the whole history: parse it only when a
        # wanted name occurs in it.
        if not any(f"/{d}/" in text for d in wanted if d not in found):
            continue
        for line in text.splitlines():
            if not line.startswith("{"):
                continue
            entry = json.loads(line)
            d = os.path.basename(os.path.dirname(entry["path"]))
            if d in wanted and d not in found:
                found[d] = entry["batchId"]
    return found


def folded_log_batch(checkpoint_dir: str) -> int:
    """The newest file-source log batch a COMMITTED query batch
    covers; -1 when none has committed."""
    try:
        committed = [int(n) for n in
                     os.listdir(os.path.join(checkpoint_dir, "commits"))
                     if n.isdigit()]
        if not committed:
            return -1
        with open(os.path.join(checkpoint_dir, "offsets",
                               str(max(committed)))) as f:
            lines = f.read().splitlines()
    except FileNotFoundError:
        return -1
    # "v1", the batch metadata, then one offset per source.
    offset = lines[2] if len(lines) > 2 else ""
    return json.loads(offset)["logOffset"] if offset.startswith("{") else -1
