"""HTTP front door (S8): the reference's `LittleHorseAPI.java:58-122`
verb surface on the Spark engine's command/query paths.

The reference boots Javalin and splits verbs across
`POSTApi.java:40-58` (commands → Kafka produce) and
`GETApi.java:87-183` (queries → streams store lookups).  Here:

- **POST** verbs append command events to the engine's events dir
  (Kafka topic in production) — the same produce path as `cli.py` —
  then run the read-your-writes barrier against the live engine's
  checkpoint before responding, so a client's immediate GET sees its own
  write (`APIStreamsContext.java:168-222` semantics).
- **GET** verbs read the engine's snapshot output through the same
  latest-`seq`-wins selection the CLI uses, plus the alias index for
  `/search`.

stdlib `http.server` only (FastAPI/Flask aren't in the runtime):
a ThreadingHTTPServer with a routing table.  Spark job submission is
thread-safe, so concurrent handlers are fine; the server binds port 0
by default (tests pick up the real port from `.port`).

Routes (reference verb in parens):

    POST /wfrun                      (POSTApi.postWFRun)
        {"wf_spec_name": ..., "variables": {...}, "run_id"?: ...}
    POST /wfrun/{id}/stop[?thread=N] (POSTApi.postStopWFRun)
    POST /wfrun/{id}/resume[?thread=N]
    POST /externalEvent/{id}/{eventDefName}   body = JSON payload
    GET  /wfrun/{id}                 (GETApi.getWFRun)
    GET  /wfrun/{id}/threadRun/{n}   (GETApi.getThreadRun)
    GET  /wfrun/{id}/taskRun/{t}/{n} (GETApi.getTaskRun)
    GET  /wfrun/{id}/variable/{name} (GETApi.getVariable, thread-0 scope)
    GET  /wfruns                     (list ids + statuses)
    GET  /search/{key}/{value}       (GETApi.search — alias index)

Metadata CRUD (spec-type resources; `POSTApi.java:40-58` validate →
store → index lifecycle, `GETApi.java:26-40` id/alias/all routes;
kind ∈ wfSpec | taskDef | externalEventDef):

    POST   /{kind}                   body = resource document
    GET    /{kind}/{idOrName}        (LHDatabaseClient.getByNameOrId)
    GET    /{kind}All                (GETApi.getAll)
    GET    /{kind}Alias/{key}/{value} (GETApi.getAlias)
    DELETE /{kind}/{id}              (POSTApi.delete)

POST /wfSpec additionally *deploys* the spec when the API holds a
`SparkEngineManager` — the reference's processChange topology deploy —
after which POST /wfrun routes by `wf_spec_name` to that spec's own
engine (per-spec event topic, `WFSpec.java:375-381`) and GETs are
served from its compacted serving store (`sinks/serving.py`).
"""

from __future__ import annotations

import json
import re
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse


class ApiError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


class LittleHorseAPI:
    """Command/query facade over one or many engine instances.

    Single-engine mode (`events_dir`/`snapshots_dir`, optional
    `checkpoint_dir` of the engine folding `events_dir`): POSTs produce to the one events dir and block on the
    read-your-writes barrier (P6); GETs re-window `snapshots_dir`
    unless `serving_dir` points at the compacted store.

    Multi-spec mode (`engines` = SparkEngineManager, `metadata` =
    MetadataStore): POST /wfSpec deploys; POST /wfrun routes to the
    named spec's engine; GETs read per-engine compacted serving
    stores only.
    """

    def __init__(self, spark, events_dir: str | None = None,
                 snapshots_dir: str | None = None,
                 checkpoint_dir: str | None = None,
                 barrier_timeout: float = 60.0,
                 serving_dir: str | None = None,
                 metadata=None, engines=None, task_deployer=None):
        self.spark = spark
        self.events_dir = events_dir
        self.snapshots_dir = snapshots_dir
        self.checkpoint_dir = checkpoint_dir
        self.barrier_timeout = barrier_timeout
        self.serving_dir = serving_dir
        self.metadata = metadata
        self.engines = engines
        # TaskDef lifecycle plugin (the reference's TaskDeployer,
        # TaskDef.java:95-129): deploy_task_def(doc) on POST,
        # undeploy_task_def(doc) on DELETE/replace.
        self.task_deployer = task_deployer
        self._run_engine: dict[str, object] = {}  # run_id → EngineHandle
        # Guards every _run_engine mutation: handler threads
        # insert/pop concurrently under ThreadingHTTPServer, and
        # iterating a dict another thread is resizing raises
        # RuntimeError — which would turn a valid POST into a 500.
        # Plain get() stays lockless (atomic under the GIL); anything
        # that pops, inserts, or iterates takes the lock so the
        # eviction scan can never observe a mid-resize dict.
        self._run_engine_lock = threading.Lock()
        # Orders metadata on_change actions per (kind, name); see
        # _meta_change.  One lock PER name: the gate must be atomic
        # with the action for a given name, but a taskDef deploy must
        # not serialize behind another name's minutes-long shared-mode
        # engine restart (ADVICE r10).  The outer lock only guards the
        # lock/seq dicts.
        self._meta_change_lock = threading.Lock()
        self._meta_change_locks: dict[tuple[str, str | None], threading.Lock] = {}
        self._meta_change_seq: dict[tuple[str, str | None], int] = {}
        if metadata is not None and (engines is not None
                                     or task_deployer is not None):
            if metadata.on_change is None:
                metadata.on_change = self._meta_change
        if metadata is not None and engines is not None:
            # Boot-time recovery: redeploy every stored WFSpec whose
            # engine is not running (the reference restarts each spec's
            # topology from its store on startup) — their checkpoints
            # and serving stores resume where the last process left
            # off.  Batched: in shared mode this is ONE query restart
            # for all stored specs, not N stop/recover/start cycles.
            engines.deploy_many([doc for doc in metadata.get_all("wfSpec")
                                 if engines.get(doc["name"]) is None])
        if metadata is not None and task_deployer is not None:
            # Same recovery for TaskDef worker deployments: stored
            # TaskDefs get their workers back on boot (deploy is
            # idempotent for an unchanged doc with a live process).
            for doc in metadata.get_all("taskDef"):
                task_deployer.deploy_task_def(doc)

    # -- metadata lifecycle hooks (POSTable.processChange) -----------------

    def _meta_change(self, kind: str, new: dict | None, old: dict | None,
                     seq: int = 0):
        # Stale-event gate (ADVICE r9): the store fires on_change
        # OUTSIDE its lock, so two concurrent mutations of the same
        # name can arrive here in the opposite order from the
        # changelog.  `seq` is captured under the store lock; holding
        # this name's lock across the CHECK AND THE ACTION makes
        # drop-if-stale atomic — without it, both events could pass
        # the check and still act in the wrong order.  The lock is
        # scoped per (kind, name) (ADVICE r10): ordering is only
        # meaningful within one name, and a global lock made unrelated
        # metadata events wait out another spec's engine restart.
        name = (new or old or {}).get("name")
        # A RENAME mutates TWO names' timelines: the undeploy of the
        # old name must be gated under the OLD name's own key, or a
        # concurrent newer event recreating that name (its seq is
        # higher) could deploy first and then be undeployed by this
        # late-arriving rename — metadata would say the name exists
        # while its engine is stopped.  Sequential, not nested, lock
        # acquisition: no ordering deadlock.
        old_name = (old or {}).get("name")
        if (kind == "wfSpec" and new is not None and old_name
                and old_name != name and self.engines is not None):
            self._keyed_meta_action(
                (kind, old_name), seq,
                lambda: self.engines.undeploy(old_name))
        elif (kind == "taskDef" and new is not None and old_name
                and old_name != name and self.task_deployer is not None):
            # Same rename rule for taskDef workers (ADVICE r11): the
            # old name's undeploy runs under the OLD name's seq gate,
            # so a late-arriving rename cannot undeploy a worker a
            # newer, higher-seq event just recreated under that name.
            self._keyed_meta_action(
                (kind, old_name), seq,
                lambda: self.task_deployer.undeploy_task_def(old))
        self._keyed_meta_action(
            (kind, name), seq,
            lambda: self._meta_change_locked(kind, new, old))

    def _keyed_meta_action(self, key: tuple[str, str | None], seq: int,
                           action) -> None:
        with self._meta_change_lock:
            lock = self._meta_change_locks.setdefault(key, threading.Lock())
        with lock:
            if seq:
                if seq < self._meta_change_seq.get(key, 0):
                    return  # a newer mutation for this name already applied
                self._meta_change_seq[key] = seq
            action()

    def _meta_change_locked(self, kind: str, new: dict | None,
                            old: dict | None):
        if kind == "taskDef" and self.task_deployer is not None:
            # TaskDef.processChange/remove (TaskDef.java:95-129):
            # first POST deploys the worker; a re-POST redeploys only
            # if the doc actually changed; DELETE undeploys.  A RENAME
            # skips the old undeploy here — the caller (_meta_change)
            # ran it under the OLD name's own seq gate.
            if new is not None:
                if (old is not None and old != new
                        and old.get("name") == new.get("name")):
                    self.task_deployer.undeploy_task_def(old)
                if old is None or old != new:
                    self.task_deployer.deploy_task_def(new)
            elif old is not None:
                self.task_deployer.undeploy_task_def(old)
            return
        if kind != "wfSpec" or self.engines is None:
            return
        name = (new or old or {}).get("name")
        if new is not None:
            # A re-POST that RENAMES the spec (same id, new name)
            # deploys under the new name; the old name's engine is
            # undeployed by the caller (_meta_change) under the OLD
            # name's own seq gate, so a newer recreate of that name
            # cannot be clobbered by this late rename.
            self.engines.deploy(new)
        elif old is not None:
            self.engines.undeploy(old["name"])
        # Drop run→engine cache entries that pointed at the replaced
        # (now stopped) handle; _engine_for_run re-resolves them
        # against the new deployment's serving store.
        affected = {name, (old or {}).get("name")} - {None}
        with self._run_engine_lock:
            stale = list(self._run_engine.items())
        for rid, h in stale:
            h_name = (h.spec or {}).get("name")
            if h_name in affected and h is not self.engines.get(h_name):
                # pop-with-default: handler threads evict concurrently
                # (ThreadingHTTPServer), and a raced del would turn a
                # valid POST /wfSpec into a KeyError 500.
                with self._run_engine_lock:
                    self._run_engine.pop(rid, None)

    # -- command path (POSTApi.java:40-58) --------------------------------

    def _produce_to(self, events_dir: str, checkpoint_dir: str | None,
                    row: dict) -> None:
        from ..cli import _write_event

        path = _write_event(self.spark, events_dir, row)
        if checkpoint_dir is not None:
            from ..streaming.engine import await_read_your_writes

            await_read_your_writes(checkpoint_dir, path,
                                   timeout=self.barrier_timeout)

    # Bound on the run->engine cache: completed runs are never evicted
    # by the engine-replacement hook, so a long-lived server would
    # otherwise grow one entry per run forever.  Insertion-ordered
    # eviction (python dicts) approximates LRU well enough here — an
    # evicted entry only costs one serving point-lookup to re-resolve.
    _RUN_CACHE_MAX = 4096

    def _cache_run_engine(self, run_id: str, handle) -> None:
        with self._run_engine_lock:
            while len(self._run_engine) >= self._RUN_CACHE_MAX:
                oldest = next(iter(self._run_engine), None)
                if oldest is None:
                    break
                self._run_engine.pop(oldest, None)
            self._run_engine[run_id] = handle

    def _engine_for_run(self, run_id: str):
        handle, _ = self._resolve_run(run_id)
        return handle

    def _resolve_run(self, run_id: str):
        """Owning engine of a run (and, when the resolution had to
        probe serving stores, the snapshot rows it found — so the GET
        path does not immediately re-run the same point lookup): the
        POST-time record, else a serving point-lookup per engine
        (covers runs created before a server restart)."""
        handle = self._run_engine.get(run_id)
        if handle is not None:
            # A spec re-POST (deploy() replaces the handle and stops
            # the old query) or DELETE leaves this cache entry pointing
            # at a stopped engine: no query may fold its events dir,
            # and the read-your-writes barrier would wait out its full
            # timeout.  Only trust the cache if it is
            # still the current handle for its spec.
            name = (handle.spec or {}).get("name")
            if self.engines.get(name) is handle:
                return handle, None
            with self._run_engine_lock:
                self._run_engine.pop(run_id, None)
        from ..sinks.serving import has_snapshots, read_snapshot_rows

        for h in self.engines.handles():
            # 'No store yet' (engine has folded nothing) is the only
            # quiet skip; a read error on an existing store must
            # surface as a 500, not masquerade as a 404.
            if not has_snapshots(h.serving_dir):
                continue
            rows = read_snapshot_rows(h.serving_dir, run_id)
            if rows:
                self._cache_run_engine(run_id, h)
                return h, rows
        raise ApiError(404, f"WFRun {run_id} not found")

    def _produce(self, row: dict, run_id: str | None = None) -> None:
        if self.engines is not None:
            handle = self._engine_for_run(run_id or row["wf_run_id"])
            self._produce_to(handle.events_dir, handle.checkpoint_dir, row)
        else:
            self._produce_to(self.events_dir, self.checkpoint_dir, row)

    def post_wfrun(self, body: dict) -> dict:
        run_id = body.get("run_id") or uuid.uuid4().hex
        row = {
            "wf_run_id": run_id,
            "wf_spec_id": body.get("wf_spec_id"),
            "wf_spec_name": body.get("wf_spec_name"),
            "event_type": "WF_RUN_STARTED",
            "content": json.dumps({"variables": body.get("variables") or {}}),
        }
        if self.engines is not None:
            # Route to the named spec's own engine (per-spec topic).
            name = body.get("wf_spec_name")
            if self.metadata is not None:
                from .metadata import MetadataError

                try:
                    spec = self.metadata.get("wfSpec", name or "")
                except MetadataError as e:
                    raise ApiError(e.status, str(e)) from e
                name, row["wf_spec_id"] = spec["name"], spec["id"]
            handle = self.engines.get(name)
            if handle is None:
                raise ApiError(404, f"WFSpec {name!r} is not deployed")
            self._cache_run_engine(run_id, handle)
            self._produce_to(handle.events_dir, handle.checkpoint_dir, row)
        else:
            self._produce_to(self.events_dir, self.checkpoint_dir, row)
        return {"id": run_id}

    def post_stop_resume(self, run_id: str, verb: str, thread_id: int) -> dict:
        self._produce({
            "wf_run_id": run_id,
            "event_type": ("WF_RUN_STOP_REQUEST" if verb == "stop"
                           else "WF_RUN_RESUME_REQUEST"),
            "thread_id": thread_id,
            "content": "{}",
        }, run_id=run_id)
        return {"id": run_id, "status": "ok"}

    def post_external_event(self, run_id: str, event_def: str,
                            payload) -> dict:
        self._produce({
            "wf_run_id": run_id,
            "event_type": "EXTERNAL_EVENT",
            "thread_id": -1,
            "content": json.dumps({
                "external_event_def_name": event_def,
                "content": payload,
                "timestamp": int(time.time() * 1000),
            }),
        }, run_id=run_id)
        return {"id": run_id, "event": event_def, "status": "ok"}

    # -- metadata CRUD (POSTApi.java:40-58, GETApi.java:26-40) -------------

    def _meta(self):
        if self.metadata is None:
            raise ApiError(404, "metadata API not configured")
        return self.metadata

    def post_metadata(self, kind: str, body: dict) -> dict:
        from .metadata import MetadataError

        try:
            return self._meta().post(kind, body)
        except MetadataError as e:
            raise ApiError(e.status, str(e)) from e

    def get_metadata(self, kind: str, id_or_name: str) -> dict:
        from .metadata import MetadataError

        try:
            return self._meta().get(kind, id_or_name)
        except MetadataError as e:
            raise ApiError(e.status, str(e)) from e

    def delete_metadata(self, kind: str, obj_id: str) -> dict:
        from .metadata import MetadataError

        try:
            return self._meta().delete(kind, obj_id)
        except MetadataError as e:
            raise ApiError(e.status, str(e)) from e

    def metadata_alias(self, kind: str, key: str, value: str) -> list[dict]:
        return self._meta().get_alias(kind, key, value)

    def metadata_all(self, kind: str) -> list[dict]:
        from .metadata import MetadataError

        try:
            return self._meta().get_all(kind)
        except MetadataError as e:
            raise ApiError(e.status, str(e)) from e

    # -- query path (GETApi.java:87-183) ----------------------------------

    def _latest(self):
        from ..cli import _snapshots

        return _snapshots(self.spark, self.snapshots_dir)

    def _wfrun_doc(self, run_id: str) -> dict:
        # Point GETs read the store driver-side (pyarrow over ONE
        # immutable bucket dir) — the reference's store.get() is a
        # local storage read, never a cluster job.
        if self.engines is not None:
            from ..sinks.serving import read_snapshot_rows

            handle, rows = self._resolve_run(run_id)
            if rows is None:  # cache hit: one point lookup, not two
                rows = read_snapshot_rows(handle.serving_dir, run_id)
        elif self.serving_dir is not None:
            from ..sinks.serving import read_snapshot_rows

            rows = read_snapshot_rows(self.serving_dir, run_id)
        else:
            snaps = self._latest()
            rows = snaps.where(snaps.wf_run_id == run_id).collect()
        if not rows:
            raise ApiError(404, f"WFRun {run_id} not found")
        return json.loads(rows[0]["state_json"])

    def get_wfrun(self, run_id: str) -> dict:
        return self._wfrun_doc(run_id)

    def get_thread_run(self, run_id: str, n: int) -> dict:
        doc = self._wfrun_doc(run_id)
        if n >= len(doc["thread_runs"]):
            raise ApiError(404, f"threadRun {n} not found")
        return doc["thread_runs"][n]

    def get_task_run(self, run_id: str, thread: int, pos: int) -> dict:
        tr = self.get_thread_run(run_id, thread)
        if pos >= len(tr["task_runs"]):
            raise ApiError(404, f"taskRun {thread}/{pos} not found")
        return tr["task_runs"][pos]

    def get_variable(self, run_id: str, name: str, thread: int = 0) -> dict:
        # Lexical scope of the requested thread: that thread, then its
        # parent chain (GETApi.getVariable resolves the same way) —
        # NOT a scan over all threads, which would leak child-thread
        # variables into thread-0 lookups in creation order.
        doc = self._wfrun_doc(run_id)
        trs = doc["thread_runs"]
        n: int | None = thread
        while n is not None and 0 <= n < len(trs):
            tr = trs[n]
            if name in (tr.get("variables") or {}):
                return {"name": name, "value": tr["variables"][name]}
            n = tr.get("parent_thread_id")
        raise ApiError(404, f"variable {name} not found")

    def _serving_dirs(self) -> list[str] | None:
        if self.engines is not None:
            return [h.serving_dir for h in self.engines.handles()]
        if self.serving_dir is not None:
            return [self.serving_dir]
        return None

    def _serving_dir_items(self) -> list[tuple[str, str]] | None:
        """(stable key, serving dir) pairs for the paged list, sorted
        by key.  Keyed by SPEC NAME, not list position: handles()
        order changes on redeploy/undeploy, and a positional cursor
        would silently skip or repeat whole stores between pages."""
        if self.engines is not None:
            return sorted((h.spec["name"], h.serving_dir)
                          for h in self.engines.handles())
        if self.serving_dir is not None:
            return [("0", self.serving_dir)]
        return None

    def list_wfruns(self, limit: int | None = None,
                    cursor: str | None = None):
        """Without `limit`: the legacy full list.  With `limit`: a
        bounded page plus a next-page cursor — the serving path reads
        only the bucket directories the page needs
        (`read_snapshot_rows_page`), never the whole store (VERDICT
        r8 item 3)."""
        dirs = self._serving_dirs()
        if limit is None:
            if dirs is None:
                rows = self._latest().select("wf_run_id",
                                             "status").collect()
            else:
                from ..sinks.serving import read_all_snapshot_rows

                rows = []
                for d in dirs:
                    rows.extend(read_all_snapshot_rows(d))
            return [{"id": r["wf_run_id"], "status": r["status"]}
                    for r in rows]
        if limit < 1:
            raise ApiError(400, f"limit must be >= 1, got {limit}")
        if dirs is None:
            # Batch-mode fallback: keyset pagination pushed into the
            # plan (filter + TakeOrderedAndProject, no full collect).
            import pyspark.sql.functions as F

            df = self._latest().select("wf_run_id", "status")
            if cursor:
                df = df.where(F.col("wf_run_id") > cursor)
            rows = df.orderBy("wf_run_id").limit(limit).collect()
            nc = rows[-1]["wf_run_id"] if len(rows) == limit else None
            return ([{"id": r["wf_run_id"], "status": r["status"]}
                     for r in rows], nc)
        from ..sinks.serving import read_snapshot_rows_page

        items = self._serving_dir_items()
        start_key, inner = None, None
        if cursor:
            start_key, _, inner = cursor.partition("|")
            inner = inner or None
        out: list[dict] = []
        next_cur = None
        for key, d in items:
            if start_key is not None:
                if key < start_key:
                    continue
                # An undeployed cursor key resumes at the next store.
                use_inner = inner if key == start_key else None
            else:
                use_inner = None
            try:
                page, nc = read_snapshot_rows_page(
                    d, limit - len(out), use_inner)
            except ValueError as e:
                raise ApiError(400, str(e)) from e
            out.extend({"id": r["wf_run_id"], "status": r["status"]}
                       for r in page)
            if len(out) >= limit:
                if nc is not None:
                    next_cur = f"{key}|{nc}"
                else:
                    later = [k for k, _ in items if k > key]
                    if later:
                        next_cur = f"{later[0]}|"
                break
        return out, next_cur

    def search(self, key: str, value: str) -> list[str]:
        dirs = self._serving_dirs()
        if dirs is None:
            from ..operators.run_index import search

            return [r["wf_run_id"]
                    for r in search(self._latest(), key, value).collect()]
        from ..sinks.serving import search_alias_ids

        out: list[str] = []
        for d in dirs:
            out.extend(search_alias_ids(d, key, value))
        return sorted(out)


_KIND = r"(wfSpec|taskDef|externalEventDef)"

_ROUTES: list[tuple[str, re.Pattern, str]] = [
    ("POST", re.compile(r"^/wfrun$"), "r_post_wfrun"),
    ("POST", re.compile(r"^/wfrun/([^/]+)/(stop|resume)$"), "r_stop_resume"),
    ("POST", re.compile(r"^/externalEvent/([^/]+)/([^/]+)$"), "r_external"),
    ("GET", re.compile(r"^/wfrun/([^/]+)$"), "r_get_wfrun"),
    ("GET", re.compile(r"^/wfrun/([^/]+)/threadRun/(\d+)$"), "r_thread"),
    ("GET", re.compile(r"^/wfrun/([^/]+)/taskRun/(\d+)/(\d+)$"), "r_task"),
    ("GET", re.compile(r"^/wfrun/([^/]+)/variable/([^/]+)$"), "r_variable"),
    ("GET", re.compile(r"^/wfruns$"), "r_list"),
    ("GET", re.compile(r"^/search/([^/]+)/([^/]+)$"), "r_search"),
    # Metadata CRUD — the more-specific All/Alias routes precede /{id}.
    ("POST", re.compile(rf"^/{_KIND}$"), "r_meta_post"),
    ("GET", re.compile(rf"^/{_KIND}All$"), "r_meta_all"),
    ("GET", re.compile(rf"^/{_KIND}Alias/([^/]+)/([^/]+)$"), "r_meta_alias"),
    ("GET", re.compile(rf"^/{_KIND}/([^/]+)$"), "r_meta_get"),
    ("DELETE", re.compile(rf"^/{_KIND}/([^/]+)$"), "r_meta_delete"),
]


def _make_handler(api: LittleHorseAPI):
    class Handler(BaseHTTPRequestHandler):
        # Silence per-request stderr logging.
        def log_message(self, *_args):  # noqa: D102
            pass

        def _respond(self, status: int, obj) -> None:
            body = json.dumps(obj).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _dispatch(self, method: str) -> None:
            url = urlparse(self.path)
            q = parse_qs(url.query)
            try:
                for m, pat, fn in _ROUTES:
                    if m != method:
                        continue
                    match = pat.match(url.path)
                    if match:
                        # Percent-decode path params the way the query
                        # string already is (parse_qs): a run id or
                        # alias value with an encoded space/slash must
                        # compare equal to its stored form.
                        getattr(self, fn)(
                            q, *(unquote(g) for g in match.groups()))
                        return
                raise ApiError(404, f"no route {method} {url.path}")
            except ApiError as e:
                self._respond(e.status, {"error": str(e)})
            except Exception as e:  # noqa: BLE001 — surface as 500
                self._respond(500, {"error": str(e)})

        def do_GET(self):  # noqa: N802
            self._dispatch("GET")

        def do_POST(self):  # noqa: N802
            self._dispatch("POST")

        def do_DELETE(self):  # noqa: N802
            self._dispatch("DELETE")

        def _body(self):
            n = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(n) if n else b""
            if not raw:
                return {}
            try:
                return json.loads(raw)
            except json.JSONDecodeError as e:
                raise ApiError(400, f"invalid JSON body: {e}") from e

        def _body_dict(self):
            body = self._body()
            if not isinstance(body, dict):
                # valid JSON of the wrong shape is a CLIENT error; the
                # AttributeError it would cause downstream is a 500
                raise ApiError(400, "JSON body must be an object")
            return body

        # -- route impls --------------------------------------------------
        def r_post_wfrun(self, _q):
            self._respond(201, api.post_wfrun(self._body_dict()))

        def r_stop_resume(self, q, run_id, verb):
            try:
                thread = int(q.get("thread", ["0"])[0])
            except ValueError as e:
                raise ApiError(400, f"bad thread param: {e}") from e
            self._respond(200, api.post_stop_resume(run_id, verb, thread))

        def r_external(self, _q, run_id, event_def):
            self._respond(200, api.post_external_event(
                run_id, event_def, self._body()))

        def r_get_wfrun(self, _q, run_id):
            self._respond(200, api.get_wfrun(run_id))

        def r_thread(self, _q, run_id, n):
            self._respond(200, api.get_thread_run(run_id, int(n)))

        def r_task(self, _q, run_id, t, n):
            self._respond(200, api.get_task_run(run_id, int(t), int(n)))

        def r_variable(self, _q, run_id, name):
            self._respond(200, api.get_variable(run_id, name))

        def r_list(self, q):
            raw = q.get("limit", [None])[0]
            if raw is None:
                self._respond(200, api.list_wfruns())
                return
            try:
                limit = int(raw)
            except ValueError as e:
                raise ApiError(400, f"bad limit param: {e}") from e
            rows, nc = api.list_wfruns(
                limit=limit, cursor=q.get("cursor", [None])[0])
            self._respond(200, {"results": rows, "next_cursor": nc})

        def r_search(self, _q, key, value):
            self._respond(200, api.search(key, value))

        def r_meta_post(self, _q, kind):
            self._respond(201, api.post_metadata(kind, self._body_dict()))

        def r_meta_get(self, _q, kind, id_or_name):
            self._respond(200, api.get_metadata(kind, id_or_name))

        def r_meta_delete(self, _q, kind, obj_id):
            self._respond(200, api.delete_metadata(kind, obj_id))

        def r_meta_alias(self, _q, kind, key, value):
            self._respond(200, api.metadata_alias(kind, key, value))

        def r_meta_all(self, _q, kind):
            self._respond(200, api.metadata_all(kind))

    return Handler


class LittleHorseHTTPServer:
    """Threaded HTTP server wrapping a `LittleHorseAPI`.

    `port=0` binds an ephemeral port (read it back from `.port`) —
    the test/integration default, mirroring how the reference's
    Javalin app is given its port by the deployer.
    """

    def __init__(self, api: LittleHorseAPI, host: str = "127.0.0.1",
                 port: int = 0):
        self._httpd = ThreadingHTTPServer((host, port), _make_handler(api))
        self._httpd.daemon_threads = True
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "LittleHorseHTTPServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, kwargs={"poll_interval": 0.1},
            daemon=True, name="lh-http")
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._thread is not None:
            # shutdown() waits on an event only serve_forever() sets —
            # calling it before start() would block forever.
            self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
