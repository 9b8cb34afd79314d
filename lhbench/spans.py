"""In-memory spans for the traced runs.

A span has a name, a start and an end (`time.monotonic()`, which is
one clock for every process on the host), the span that was open on
the same thread when it began (its parent) and an op id, the id of the
outermost span of that thread.  Spans are kept in memory and written
out once, when the traced process ends.

`install_live` wraps the public functions of `api`, `streaming` and
`sinks` that the live engine calls, by rebinding the module or class
attribute: every call site named below looks the attribute up at call
time, so the program's own files stay untouched.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import threading
import time

PKG = "old_original_java_little_horse_spark"

# (module, attribute path, span name)
LIVE_SPANS = [
    ("api.http_server", "LittleHorseAPI.post_wfrun", "api.post_wfrun"),
    ("api.http_server", "LittleHorseAPI.get_wfrun", "api.get_wfrun"),
    ("api.http_server", "LittleHorseAPI.search", "api.search"),
    ("api.http_server", "LittleHorseAPI.list_wfruns", "api.list_page"),
    ("cli", "_write_event", "api.event_append"),
    ("streaming.engine", "await_read_your_writes", "api.barrier_wait"),
    ("streaming.engine", "_append_output_arrow", "sinks.output_append"),
    ("sinks.serving", "upsert_serving_stores_arrow", "sinks.upsert_small"),
    ("sinks.serving", "upsert_serving_stores", "sinks.upsert_bulk"),
    ("sinks.serving", "read_snapshot_rows", "sinks.read_point"),
    ("sinks.serving", "search_alias_ids", "sinks.search"),
    ("sinks.serving", "read_snapshot_rows_page", "sinks.page"),
]


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self.progress: list[dict] = []
        self.jobs: dict[str, set] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            sid = next(tracer._ids)
            parent = stack[-1] if stack else None
            op = tracer._local.op if stack else sid
            if not stack:
                tracer._local.op = sid
            stack.append(sid)
            t0 = time.monotonic()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.monotonic()
                stack.pop()
                with tracer._lock:
                    tracer.spans.append((sid, name, t0, t1, parent, op))
        return traced

    def record_jobs(self, group: str, job_ids) -> int:
        """Add `job_ids` to the group's set; return the set's size."""
        with self._lock:
            seen = self.jobs.setdefault(group, set())
            seen.update(job_ids)
            return len(seen)

    def dump(self, path: str) -> None:
        with self._lock:
            doc = {
                "spans": [dict(zip(("id", "name", "start", "end", "parent", "op"), s))
                          for s in self.spans],
                "progress": list(self.progress),
                "jobs": {k: sorted(v) for k, v in self.jobs.items()},
            }
        with open(path + ".tmp", "w") as f:
            json.dump(doc, f)
        os.replace(path + ".tmp", path)


def _rebind(tracer: Tracer, module: str, attr: str, name: str) -> None:
    owner = importlib.import_module(f"{PKG}.{module}")
    *path, leaf = attr.split(".")
    for p in path:
        owner = getattr(owner, p)
    setattr(owner, leaf, tracer.wrap(getattr(owner, leaf), name))


def install_live(tracer: Tracer) -> None:
    """Span the live engine's layer boundaries and record every
    micro-batch's progress and Spark job ids through a streaming
    listener added to the session `cli serve` creates."""
    for module, attr, name in LIVE_SPANS:
        _rebind(tracer, module, attr, name)
    session = importlib.import_module(f"{PKG}.session")
    get_spark = session.get_spark

    @functools.wraps(get_spark)
    def get_spark_traced(*args, **kwargs):
        spark = get_spark(*args, **kwargs)
        spark.streams.addListener(_progress_listener(tracer, spark))
        return spark

    session.get_spark = get_spark_traced


def _progress_listener(tracer: Tracer, spark):
    from pyspark.sql.streaming import StreamingQueryListener

    status = spark.sparkContext.statusTracker()

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            p["_recorded_at"] = time.monotonic()
            run_id = p.get("runId")
            if run_id:
                p["_jobs_seen"] = tracer.record_jobs(run_id, status.getJobIdsForGroup(run_id))
            with tracer._lock:
                tracer.progress.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()
