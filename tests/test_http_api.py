"""HTTP API integration (S8): client → HTTP → command events → live
engine → snapshot/index queries, with the read-your-writes barrier on
every POST (reference `LittleHorseAPI.java:58-122`,
`POSTApi.java:40-58`, `GETApi.java:87-183`)."""

from __future__ import annotations

import json
import shutil
import tempfile
import urllib.request
from pathlib import Path

from old_original_java_little_horse_spark.api.http_server import (
    LittleHorseAPI, LittleHorseHTTPServer,
)
from old_original_java_little_horse_spark.sdk.builder import Workflow, var


def _req(port: int, method: str, path: str, body: dict | None = None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=data, method=method,
        headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_http_roundtrip_full_lifecycle(spark):
    """POST /wfrun → GET sees it (read-your-writes); externalEvent
    unblocks the waiting node; threadRun/taskRun/variable/search/
    stop/resume verbs all resolve against live snapshots."""
    wf = Workflow("approval-flow")
    t = wf.thread("entrypoint")
    t.add_variable("who", "STRING")
    t.execute("greet", name=var("who"))
    t.wait_for_event("approval")
    spec = wf.build()

    def greet(task, subs):
        return {"stdout": f"hi {subs['name']}", "success": True,
                "returncode": 0}

    workdir = Path(tempfile.mkdtemp(prefix="http-api-"))
    events_dir = workdir / "events"
    events_dir.mkdir()
    out_dir = str(workdir / "out")

    from old_original_java_little_horse_spark.streaming.engine import (
        start_continuous,
    )

    serving_dir = str(workdir / "serving")
    q = start_continuous(
        spark, str(events_dir) + "/*", spec,
        checkpoint_dir=str(workdir / "ckpt"), output_dir=out_dir,
        executor=greet, trigger_seconds=0.2, serving_dir=serving_dir,
    )
    # GETs are served from the compacted bucket-partitioned stores
    # (sinks/serving.py), never by re-windowing the raw changelog.
    srv = LittleHorseHTTPServer(
        LittleHorseAPI(spark, str(events_dir), out_dir,
                       checkpoint_dir=str(workdir / "ckpt"),
                       serving_dir=serving_dir)).start()
    try:
        port = srv.port
        # POST /wfrun — and the response's id is immediately GETtable.
        st, created = _req(port, "POST", "/wfrun", {
            "wf_spec_name": "approval-flow",
            "variables": {"who": "ada"}})
        assert st == 201
        run_id = created["id"]

        st, doc = _req(port, "GET", f"/wfrun/{run_id}")
        assert st == 200
        assert doc["status"] == "RUNNING"  # waiting on the event
        st, tr0 = _req(port, "GET", f"/wfrun/{run_id}/threadRun/0")
        assert st == 200 and tr0["variables"]["who"] == "ada"
        st, task0 = _req(port, "GET", f"/wfrun/{run_id}/taskRun/0/0")
        assert st == 200 and task0["status"] == "COMPLETED"
        assert task0["stdout"] == "hi ada"
        st, v = _req(port, "GET", f"/wfrun/{run_id}/variable/who")
        assert st == 200 and v["value"] == "ada"

        # Index search by the declared STRING variable.
        st, hits = _req(port, "GET", "/search/who/ada")
        assert st == 200 and hits == [run_id]

        # stop → HALTED, resume → RUNNING (ST3 command events).
        st, _ = _req(port, "POST", f"/wfrun/{run_id}/stop")
        assert st == 200
        st, doc = _req(port, "GET", f"/wfrun/{run_id}")
        assert doc["status"] in ("HALTED", "HALTING")
        st, _ = _req(port, "POST", f"/wfrun/{run_id}/resume")
        assert st == 200
        st, doc = _req(port, "GET", f"/wfrun/{run_id}")
        assert doc["status"] == "RUNNING"

        # The external event completes the run.
        st, _ = _req(port, "POST",
                     f"/externalEvent/{run_id}/approval", {"ok": True})
        assert st == 200
        st, doc = _req(port, "GET", f"/wfrun/{run_id}")
        assert st == 200 and doc["status"] == "COMPLETED"

        st, runs = _req(port, "GET", "/wfruns")
        assert st == 200
        assert {r["id"]: r["status"] for r in runs} == {run_id: "COMPLETED"}

        # 404s are JSON errors, not stack traces.
        st, err = _req(port, "GET", "/wfrun/nope")
        assert st == 404 and "not found" in err["error"]
        st, err = _req(port, "GET", f"/wfrun/{run_id}/threadRun/9")
        assert st == 404
    finally:
        srv.stop()
        q.stop()
        shutil.rmtree(workdir, ignore_errors=True)


def test_wfruns_list_pagination(spark):
    """GET /wfruns?limit=N pages the serving store with a cursor and
    reads only the needed bucket directories (VERDICT r8 item 3);
    without limit the legacy full list is unchanged."""
    from old_original_java_little_horse_spark.sinks.serving import (
        upsert_serving_stores)
    from old_original_java_little_horse_spark.streaming.engine import (
        OUTPUT_SCHEMA)

    workdir = Path(tempfile.mkdtemp(prefix="http-page-"))
    serving_dir = str(workdir / "serving")
    rows = [(f"run-{i:03d}", "snapshot", "COMPLETED", None, None, None,
             None, i, json.dumps({"status": "COMPLETED", "seq": i}))
            for i in range(23)]
    upsert_serving_stores(
        spark.createDataFrame(rows, schema=OUTPUT_SCHEMA), serving_dir)
    srv = LittleHorseHTTPServer(
        LittleHorseAPI(spark, serving_dir=serving_dir)).start()
    try:
        port = srv.port
        st, full = _req(port, "GET", "/wfruns")
        assert st == 200 and len(full) == 23

        seen, cursor, pages = [], None, 0
        while True:
            path = "/wfruns?limit=5"
            if cursor:
                from urllib.parse import quote
                path += f"&cursor={quote(cursor)}"
            st, page = _req(port, "GET", path)
            assert st == 200
            assert len(page["results"]) <= 5
            seen.extend(r["id"] for r in page["results"])
            cursor = page["next_cursor"]
            pages += 1
            assert pages < 50
            if cursor is None:
                break
        assert sorted(seen) == sorted(r["id"] for r in full)
        assert len(seen) == len(set(seen))

        st, err = _req(port, "GET", "/wfruns?limit=nope")
        assert st == 400
        st, err = _req(port, "GET", "/wfruns?limit=0")
        assert st == 400
        st, err = _req(port, "GET", "/wfruns?limit=5&cursor=0|garbage")
        assert st == 400
    finally:
        srv.stop()
        shutil.rmtree(workdir, ignore_errors=True)


def test_list_cursor_survives_handle_reorder(spark):
    """The multi-spec list cursor is keyed by SPEC NAME, not list
    position: a redeploy/undeploy between pages reorders
    engines.handles(), and a positional cursor would silently skip or
    repeat whole stores (round-9 review finding)."""
    import tempfile
    from types import SimpleNamespace

    from old_original_java_little_horse_spark.sinks.serving import (
        upsert_serving_stores)
    from old_original_java_little_horse_spark.streaming.engine import (
        OUTPUT_SCHEMA)

    workdir = Path(tempfile.mkdtemp(prefix="http-reorder-"))
    try:
        handles = []
        want = set()
        for spec_name, n in (("alpha", 7), ("beta", 9)):
            d = str(workdir / spec_name)
            rows = [(f"{spec_name}-{i:02d}", "snapshot", "COMPLETED",
                     None, None, None, None, i,
                     json.dumps({"status": "COMPLETED"}))
                    for i in range(n)]
            upsert_serving_stores(
                spark.createDataFrame(rows, schema=OUTPUT_SCHEMA), d)
            handles.append(SimpleNamespace(spec={"name": spec_name},
                                           serving_dir=d))
            want.update(r[0] for r in rows)

        engines = SimpleNamespace(handles=lambda: list(handles))
        api = LittleHorseAPI(spark, engines=engines)

        seen, cursor = [], None
        first = True
        while True:
            rows, cursor = api.list_wfruns(limit=4, cursor=cursor)
            seen.extend(r["id"] for r in rows)
            if first:
                handles.reverse()  # the redeploy reorder, mid-pagination
                first = False
            if cursor is None:
                break
            assert len(seen) < 100
        assert sorted(seen) == sorted(want)
        assert len(seen) == len(set(seen))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
