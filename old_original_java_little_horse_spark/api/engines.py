"""Per-WFSpec engine deployment: POST /wfSpec → a running topology.

In the reference, POSTing a WFSpec does not just store it — its
`processChange` deploys the spec's scheduler topology and workers
(`J/common/objects/metadata/WFSpec.java` deploy path; one event topic
per spec, `WFSpec.java:375-381`).  The Spark equivalent of "deploy a
topology" is "start a continuous Structured Streaming query": each
deployed spec owns an events directory (its event topic), a raw
tagged-output directory (its changelog), a compacted serving store
(its RocksDB), and a checkpointed streaming query (its topology).

The manager is control-plane: a handful of driver-side handles; all
data flows through the queries themselves.  `executor` is the task
implementation hook (the deployed worker fleet — `LocalDeployer` is
the process-isolated variant; here tasks run inline in the fold like
`cli.py --executor`).
"""

from __future__ import annotations

import shutil
import threading
from dataclasses import dataclass
from pathlib import Path

from ..engine.fold import TaskExecutor


@dataclass
class EngineHandle:
    spec: dict
    events_dir: str
    output_dir: str
    serving_dir: str
    checkpoint_dir: str
    query: object  # StreamingQuery


class SparkEngineManager:
    """Deploys/undeploys one continuous engine per WFSpec name, under
    `base_dir/<name>/{events,ckpt,out,serving}`.

    `shared=True` selects the consolidated ops profile (SURVEY §7):
    ONE continuous query serves every deployed spec through the
    fold's multi-spec registry (`fold.make_spec_registry`) — one
    checkpoint and one state store instead of N, while serving
    stores stay per spec so the HTTP read paths are unchanged
    (`base_dir/_shared/{events,ckpt,out}` plus
    `base_dir/<name>/serving`).  A deploy/undeploy restarts the shared
    query over the same checkpoint; Structured Streaming resumes
    offsets + state, so in-flight runs of other specs carry on.

    Shared-mode contracts: (1) run ids share ONE keyspace across
    specs (the reference namespaces them per spec topic; the HTTP
    API's GUID default satisfies this — don't reuse a caller-chosen
    run_id across specs).  (2) A (re)deploy stops the old query
    before starting the new one — two queries may not share a
    checkpoint — so commands against OTHER specs see the same brief
    restart window a per-spec redeploy has for its own spec;
    `_engine_for_run`'s handle revalidation re-resolves them after.
    (3) `undeploy(purge=True)` cannot delete a spec's run state from
    the shared checkpoint — see `undeploy` for the consequences.
    """

    def __init__(self, spark, base_dir: str,
                 executor: TaskExecutor | None = None,
                 trigger_seconds: float = 0.2,
                 barrier_timeout: float = 60.0,
                 shared: bool = False,
                 state_partitions: int | None = 4):
        self.spark = spark
        self.base_dir = Path(base_dir)
        self.executor = executor
        self.trigger_seconds = trigger_seconds
        self.barrier_timeout = barrier_timeout
        self.shared = shared
        # Engine state-store fanout (see start_continuous docstring):
        # every state partition costs a store commit + an Arrow
        # round-trip per micro-batch, and the duration of the batch
        # that carries a command floors its latency through the
        # read-your-writes barrier.  Default 4 is the measured serving
        # optimum (tools/latency_sweep.py, r9: p50 1.51-1.60 s at 4 vs
        # 1.69-1.75 s at 8 and 2.0-2.4 s at 32 across triggers
        # 100-500 ms; barrier p50 1.45 s vs 1.85/2.02 s in
        # tools/engine_scale_probe.py).  Raise it for backfill-heavy
        # deployments — 32 drained a 5000-event backlog 2.5× faster
        # (2.9 s vs 7.4 s) — or pass None for the session conf.
        self.state_partitions = state_partitions
        self._engines: dict[str, EngineHandle] = {}
        self._specs: dict[str, dict] = {}  # deployed specs by name
        # Serializes deploy/undeploy: metadata.post() calls on_change
        # OUTSIDE its own lock, so two concurrent POST /wfSpec handler
        # threads reach deploy() together — un-serialized, the shared
        # mode would start TWO streaming queries over the one shared
        # checkpoint (corruption Spark forbids), and per-spec mode
        # could leak a never-stopped query for the same name.
        self._lock = threading.Lock()

    def _group(self, name: str) -> str:
        """The engine (and base-dir entry) spec `name` runs in."""
        return "_shared" if self.shared else name

    def _restart(self, group: str) -> None:
        """Stop `group`'s query, then start one over the specs deployed
        in it (none left: it stays stopped).  The stop comes first —
        two queries may not share a checkpoint — and the new query
        resumes the same checkpoint's offsets and state.

        `shared` decides only what the fold receives (the spec, or a
        registry of every deployed spec) and how serving rows are
        routed (all to the spec's store, or attributed per spec)."""
        from ..engine.fold import make_spec_registry
        from ..streaming.engine import start_continuous

        for name in [n for n in self._engines if self._group(n) == group]:
            self._engines.pop(name).query.stop()
        specs = {n: s for n, s in self._specs.items()
                 if self._group(n) == group}
        if not specs:
            return
        root = self.base_dir / group
        (root / "events").mkdir(parents=True, exist_ok=True)
        serving_dirs = {n: str(self.base_dir / n / "serving") for n in specs}
        if self.shared:
            # Direct (non-HTTP) callers may pass specs without the
            # metadata-stamped id; the registry needs one to pin runs.
            specs = {n: {"id": n, **s} for n, s in specs.items()}
            fold_spec = make_spec_registry(list(specs.values()))
            route = {"serving_dirs": serving_dirs}
        else:
            fold_spec = specs[group]
            route = {"serving_dir": serving_dirs[group]}
        query = start_continuous(
            self.spark, str(root / "events") + "/*", fold_spec,
            checkpoint_dir=str(root / "ckpt"),
            output_dir=str(root / "out"),
            executor=self.executor,
            trigger_seconds=self.trigger_seconds,
            state_partitions=self.state_partitions,
            **route,
        )
        for name, spec in specs.items():
            self._engines[name] = EngineHandle(
                spec=spec,
                events_dir=str(root / "events"),
                output_dir=str(root / "out"),
                serving_dir=serving_dirs[name],
                checkpoint_dir=str(root / "ckpt"),
                query=query,
            )

    def deploy(self, spec: dict) -> EngineHandle:
        """Start (or restart, on spec update) the spec's engine.
        Raises `streaming.checkpoint.StaleCheckpointError` when the
        checkpoint was left by a removed engine (applyInPandasWithState,
        or the pandas-API processor; shared mode too): it must be
        rebuilt by replay."""
        return self.deploy_many([spec])[0]

    def deploy_many(self, specs: list[dict]) -> list[EngineHandle]:
        """Deploy a batch of specs — the boot-recovery path.  In
        shared mode this is ONE query restart for the whole batch
        instead of N sequential stop/recover/start cycles (each of
        which replays the checkpoint)."""
        with self._lock:
            for spec in specs:
                self._specs[spec["name"]] = spec
            for group in dict.fromkeys(self._group(s["name"]) for s in specs):
                self._restart(group)
            return [self._engines[s["name"]] for s in specs]

    def undeploy(self, name: str, purge: bool = False) -> None:
        """Stop serving `name`.  `purge` removes the spec's directory:
        per spec that is checkpoint, state, changelog and serving
        store wholesale.  In shared mode the run STATE (snapshots
        folded into the shared checkpoint, tombstones, pending timers)
        necessarily survives — it lives in the one shared state store,
        where per-spec deletion isn't expressible — and only the
        spec's serving store goes.  Consequences, documented as
        shared-mode contract #3: a later spec of the same name
        inherits old runs' tombstones (reused run ids are dropped as
        duplicates — GUID run ids make this moot) and a still-pending
        timer for an old run can fold a fresh snapshot into the new
        deployment's serving store."""
        with self._lock:
            if self._specs.pop(name, None) is None:
                return
            self._restart(self._group(name))  # other specs carry on
            if purge:
                shutil.rmtree(self.base_dir / name, ignore_errors=True)

    def get(self, name: str) -> EngineHandle | None:
        return self._engines.get(name)  # single dict read: GIL-atomic

    def handles(self) -> list[EngineHandle]:
        # Snapshot under the lock: materializing .values() while a
        # deploy resizes the dict raises RuntimeError.
        with self._lock:
            return list(self._engines.values())

    def stop_all(self) -> None:
        with self._lock:
            groups = {self._group(n) for n in self._engines}
            self._specs.clear()
            for group in groups:
                self._restart(group)  # no specs left: stops the query
