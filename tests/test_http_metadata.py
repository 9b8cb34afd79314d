"""Metadata CRUD over HTTP + per-spec engine deployment (reference
`POSTApi.java:40-58` validate→store→index, `LittleHorseAPI.java:58-66`
resource registration, `GETApi.java:26-40` id/alias/all routes) and
the harness deploy→run→query flow (`lh_test_harness/harness/logic.py`)
executed HTTP-only, with every GET served from the compacted
bucket-partitioned stores (`sinks/serving.py`)."""

from __future__ import annotations

import json
import shutil
import tempfile
import urllib.request
from pathlib import Path

import pytest

from old_original_java_little_horse_spark.api.engines import SparkEngineManager
from old_original_java_little_horse_spark.api.http_server import (
    LittleHorseAPI, LittleHorseHTTPServer,
)
from old_original_java_little_horse_spark.api.metadata import (
    MetadataError, MetadataStore,
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


def _executor(task_def_name: str, subs: dict) -> dict:
    if task_def_name == "greet":
        return {"stdout": f"hi {subs['name']}", "success": True,
                "returncode": 0}
    if task_def_name == "double":
        return {"stdout": str(int(subs["x"]) * 2), "success": True,
                "returncode": 0}
    return {"stdout": "", "success": False, "returncode": 1,
            "stderr": f"unknown task {task_def_name}"}


def _greet_spec() -> dict:
    wf = Workflow("greeter")
    t = wf.thread("entrypoint")
    t.add_variable("who", "STRING")
    t.execute("greet", name=var("who"))
    return wf.build()


def _double_spec() -> dict:
    wf = Workflow("doubler")
    t = wf.thread("entrypoint")
    t.add_variable("x", "INT", default=0)
    n = t.execute("double", x=var("x"))
    t.mutate(n, "x", "ASSIGN")
    return wf.build()


def test_metadata_store_lifecycle_and_replay():
    """Unit surface: validate→store→index, name alias, conflict,
    delete, and changelog replay on reopen."""
    d = tempfile.mkdtemp(prefix="meta-")
    try:
        store = MetadataStore(d)
        td = store.post("taskDef", {"name": "greet"})
        assert td["id"] == "greet"  # TaskDef.objectId == name
        store.post("externalEventDef", {"name": "approval"})
        spec = store.post("wfSpec", _greet_spec())
        assert spec["id"].startswith("greeter-")

        # id and by-name resolution (LHDatabaseClient.getByNameOrId)
        assert store.get("wfSpec", spec["id"])["name"] == "greeter"
        assert store.get("wfSpec", "greeter")["id"] == spec["id"]
        assert [d_["name"] for d_ in store.get_all("taskDef")] == ["greet"]
        assert store.get_alias("wfSpec", "name", "greeter") == [spec]

        # same name, different id → 409
        clash = dict(_greet_spec(), id="other-id")
        with pytest.raises(MetadataError) as e:
            store.post("wfSpec", clash)
        assert e.value.status == 409

        # invalid spec → 400 (validate runs before store)
        bad = _greet_spec()
        bad["entrypoint_thread_name"] = "nope"
        with pytest.raises(MetadataError) as e:
            store.post("wfSpec", bad)
        assert e.value.status == 400

        # reopen replays the changelog to the same state
        store2 = MetadataStore(d)
        assert store2.get("wfSpec", "greeter")["id"] == spec["id"]
        store2.delete("taskDef", "greet")
        with pytest.raises(MetadataError):
            store2.get("taskDef", "greet")
        assert MetadataStore(d).get_all("taskDef") == []
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_on_change_seq_reaches_4arg_callbacks_only():
    """The store passes its lock-captured mutation seq to callbacks
    that accept it (strictly increasing across post AND delete) and
    keeps calling legacy 3-arg callbacks without it."""
    d = tempfile.mkdtemp(prefix="meta-seq-")
    try:
        got4, got3 = [], []
        store = MetadataStore(d)
        store.on_change = lambda kind, new, old, seq: got4.append(seq)
        store.post("taskDef", {"name": "a"})
        store.post("taskDef", {"name": "b"})
        store.delete("taskDef", "a")
        assert got4 == sorted(got4) and len(set(got4)) == 3
        store.on_change = lambda kind, new, old: got3.append(kind)
        store.post("taskDef", {"name": "c"})
        assert got3 == ["taskDef"]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_meta_change_drops_stale_out_of_order_event():
    """ADVICE r9: on_change fires outside the store lock, so two
    concurrent re-POSTs of one wfSpec name can reach _meta_change in
    the opposite order from the changelog.  The seq gate must apply
    the newer event and DROP the stale one — never leave the engine
    serving the older spec while metadata holds the newer."""
    class FakeEngines:
        def __init__(self):
            self.deploys, self.undeploys = [], []

        def deploy(self, spec):
            self.deploys.append(spec["id"])

        def deploy_many(self, specs):
            return [self.deploy(s) for s in specs]

        def undeploy(self, name, purge=False):
            self.undeploys.append(name)

        def get(self, name):
            return None

    eng = FakeEngines()
    api = LittleHorseAPI(None, engines=eng)
    v1 = dict(_greet_spec(), id="greeter-v1")
    v2 = dict(_greet_spec(), id="greeter-v2")
    # changelog order: v1 (seq 1) then v2 (seq 2); delivery inverted
    api._meta_change("wfSpec", v2, v1, seq=2)
    api._meta_change("wfSpec", v1, None, seq=1)   # stale — must drop
    assert eng.deploys == ["greeter-v2"]
    # a genuinely newer event for the same name still applies
    v3 = dict(_greet_spec(), id="greeter-v3")
    api._meta_change("wfSpec", v3, v2, seq=3)
    assert eng.deploys == ["greeter-v2", "greeter-v3"]
    # seq-less calls (legacy/direct) bypass the gate unchanged
    api._meta_change("wfSpec", v1, None)
    assert eng.deploys[-1] == "greeter-v1"


def test_late_rename_cannot_clobber_recreated_old_name():
    """A rename mutates TWO names' timelines.  If the rename (seq 5,
    A->B) is delivered AFTER a newer event recreating name A (seq 6),
    its undeploy of A must be dropped by A's own seq gate — otherwise
    metadata says A exists while its engine is stopped."""
    class FakeEngines:
        def __init__(self):
            self.deploys, self.undeploys = [], []

        def deploy(self, spec):
            self.deploys.append((spec["name"], spec["id"]))

        def deploy_many(self, specs):
            return []

        def undeploy(self, name, purge=False):
            self.undeploys.append(name)

        def get(self, name):
            return None

    eng = FakeEngines()
    api = LittleHorseAPI(None, engines=eng)
    a1 = dict(_greet_spec(), id="id-1", name="A")
    renamed = dict(_greet_spec(), id="id-1", name="B")
    a2 = dict(_greet_spec(), id="id-2", name="A")
    # changelog order: rename A->B (seq 5), then recreate A (seq 6);
    # delivery inverted.
    api._meta_change("wfSpec", a2, None, seq=6)       # recreate A first
    api._meta_change("wfSpec", renamed, a1, seq=5)    # late rename
    assert ("A", "id-2") in eng.deploys               # recreate applied
    assert ("B", "id-1") in eng.deploys               # rename's deploy applied
    assert eng.undeploys == []                        # A's undeploy DROPPED
    # in changelog order the undeploy does run
    eng2 = FakeEngines()
    api2 = LittleHorseAPI(None, engines=eng2)
    api2._meta_change("wfSpec", renamed, a1, seq=5)
    assert eng2.undeploys == ["A"]


def test_late_taskdef_rename_cannot_clobber_recreated_old_name():
    """ADVICE r11: the wfSpec rename rule applies to taskDef workers
    too.  A late-arriving taskDef rename (seq 5, A->B) delivered after
    a newer event recreating A (seq 6) must have its undeploy of A
    dropped by A's own seq gate — otherwise a worker metadata says
    exists is stopped."""
    class FakeTaskDeployer:
        def __init__(self):
            self.deploys, self.undeploys = [], []

        def deploy_task_def(self, doc):
            self.deploys.append((doc["name"], doc.get("id")))

        def undeploy_task_def(self, doc):
            self.undeploys.append(doc["name"])

    td = FakeTaskDeployer()
    api = LittleHorseAPI(None, task_deployer=td)
    a1 = {"name": "A", "id": "id-1"}
    renamed = {"name": "B", "id": "id-1"}
    a2 = {"name": "A", "id": "id-2"}
    # changelog order: rename A->B (seq 5), then recreate A (seq 6);
    # delivery inverted.
    api._meta_change("taskDef", a2, None, seq=6)      # recreate A first
    api._meta_change("taskDef", renamed, a1, seq=5)   # late rename
    assert ("A", "id-2") in td.deploys                # recreate applied
    assert ("B", "id-1") in td.deploys                # rename's deploy applied
    assert td.undeploys == []                         # A's undeploy DROPPED
    # in changelog order the undeploy does run, exactly once
    td2 = FakeTaskDeployer()
    api2 = LittleHorseAPI(None, task_deployer=td2)
    api2._meta_change("taskDef", a1, None, seq=1)
    api2._meta_change("taskDef", renamed, a1, seq=2)
    assert td2.undeploys == ["A"]
    assert td2.deploys == [("A", "id-1"), ("B", "id-1")]
    # a same-name doc change still undeploys the old worker inline
    td3 = FakeTaskDeployer()
    api3 = LittleHorseAPI(None, task_deployer=td3)
    v1 = {"name": "A", "id": "id-1"}
    v2 = {"name": "A", "id": "id-2"}
    api3._meta_change("taskDef", v1, None, seq=1)
    api3._meta_change("taskDef", v2, v1, seq=2)
    assert td3.undeploys == ["A"]
    assert td3.deploys == [("A", "id-1"), ("A", "id-2")]


def test_meta_change_does_not_serialize_across_names():
    """ADVICE r10: the stale-event gate is scoped per (kind, name) —
    a taskDef deploy must not wait out another name's long engine
    restart behind one global lock."""
    import threading

    deploy_started = threading.Event()
    release_deploy = threading.Event()

    class SlowEngines:
        def deploy(self, spec):
            deploy_started.set()
            assert release_deploy.wait(10), "test deadlock"

        def deploy_many(self, specs):
            return []

        def undeploy(self, name, purge=False):
            pass

        def get(self, name):
            return None

    class FakeTaskDeployer:
        def __init__(self):
            self.deployed = []

        def deploy_task_def(self, doc):
            self.deployed.append(doc["name"])

        def undeploy_task_def(self, doc):
            pass

    td = FakeTaskDeployer()
    api = LittleHorseAPI(None, engines=SlowEngines(), task_deployer=td)
    t = threading.Thread(
        target=api._meta_change,
        args=("wfSpec", dict(_greet_spec(), id="g1"), None),
        kwargs={"seq": 1}, daemon=True)
    t.start()
    assert deploy_started.wait(10)
    # While the greeter engine restart is in flight, an unrelated
    # taskDef event must complete immediately.
    done = threading.Event()

    def taskdef_event():
        api._meta_change("taskDef", {"name": "other-task"}, None, seq=1)
        done.set()

    t2 = threading.Thread(target=taskdef_event, daemon=True)
    t2.start()
    finished = done.wait(5)
    release_deploy.set()
    t.join(10)
    t2.join(10)
    assert finished, "taskDef event serialized behind the engine restart"
    assert td.deployed == ["other-task"]


def _greet_task(subs: dict) -> dict:
    """Worker-contract executor (fn(subs) -> result) for `cli work`."""
    return {"stdout": f"hi {subs['name']}", "success": True, "returncode": 0}


def test_cli_work_out_of_process_worker(spark):
    """The DockerTaskDeployer contract end-to-end in file mode: an
    engine deployed WITHOUT an inline executor emits task_schedule
    rows; a standalone `lhctl-spark work` loop polls them, executes,
    and appends TASK_EVENTs the continuous query folds — the run
    completes with the worker's stdout, asynchronously."""
    import threading
    import time as _time

    from old_original_java_little_horse_spark.cli import main as cli_main

    workdir = Path(tempfile.mkdtemp(prefix="cli-work-"))
    store = MetadataStore(str(workdir / "meta"))
    mgr = SparkEngineManager(spark, str(workdir / "engines"),
                             executor=None, trigger_seconds=0.2)
    api = LittleHorseAPI(spark, metadata=store, engines=mgr)
    srv = LittleHorseHTTPServer(api).start()
    try:
        port = srv.port
        _req(port, "POST", "/taskDef", {"name": "greet"})
        st, _ = _req(port, "POST", "/wfSpec", _greet_spec())
        assert st == 201
        st, r1 = _req(port, "POST", "/wfrun",
                      {"wf_spec_name": "greeter", "variables": {"who": "ada"}})
        assert st == 201

        stop_file = workdir / "worker.stop"
        t = threading.Thread(target=cli_main, args=([
            "work", "--base-dir", str(workdir), "--spec", "greeter",
            "--task-def", "greet",
            "--executor", "tests.test_http_metadata:_greet_task",
            "--poll", "0.3", "--max-seconds", "45",
            "--stop-file", str(stop_file)],), daemon=True)
        t.start()

        doc = None
        for _ in range(150):
            st, doc = _req(port, "GET", f"/wfrun/{r1['id']}")
            if st == 200 and doc.get("status") == "COMPLETED":
                break
            _time.sleep(0.3)
        assert doc is not None and doc["status"] == "COMPLETED", doc
        assert doc["thread_runs"][0]["task_runs"][0]["stdout"] == "hi ada"
        # Drain the worker BEFORE teardown: an abandoned daemon thread
        # would die mid-availableNow-batch when the session/workdir
        # goes away (the suite runs with
        # -W error::PytestUnhandledThreadExceptionWarning).
        stop_file.write_text("")
        t.join(30)
        assert not t.is_alive(), "worker did not honor the stop file"
    finally:
        srv.stop()
        mgr.stop_all()
        shutil.rmtree(workdir, ignore_errors=True)


def test_metadata_rename_frees_old_alias():
    """A re-POST keeping the id but changing the name must retire the
    old name: GET by old name 404s, a new resource may legitimately
    reuse it (no phantom 409), and changelog replay agrees."""
    d = tempfile.mkdtemp(prefix="meta-rename-")
    try:
        store = MetadataStore(d)
        spec = store.post("wfSpec", _greet_spec())
        renamed = dict(_greet_spec(), id=spec["id"], name="greeter-v2")
        store.post("wfSpec", renamed)
        assert store.get("wfSpec", "greeter-v2")["id"] == spec["id"]
        with pytest.raises(MetadataError) as e:
            store.get("wfSpec", "greeter")
        assert e.value.status == 404
        # the old name is genuinely free for a different id
        fresh = store.post("wfSpec", dict(_greet_spec(), id="greeter-ng"))
        assert fresh["id"] != spec["id"]
        assert store.get("wfSpec", "greeter")["id"] == fresh["id"]
        # replay reproduces the post-rename state, not the stale alias
        store2 = MetadataStore(d)
        assert store2.get("wfSpec", "greeter")["id"] == fresh["id"]
        assert store2.get("wfSpec", "greeter-v2")["id"] == spec["id"]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_spec_redeploy_invalidates_run_engine_cache(spark):
    """Re-POSTing a WFSpec stops the old continuous query and starts a
    new one.  Commands against a run created BEFORE the redeploy must
    route to the live replacement query — not hang the read-your-writes
    barrier against the stopped one's frozen progress."""
    workdir = Path(tempfile.mkdtemp(prefix="http-redeploy-"))
    store = MetadataStore(str(workdir / "meta"))
    mgr = SparkEngineManager(spark, str(workdir / "engines"),
                             executor=_executor, trigger_seconds=0.2)
    api = LittleHorseAPI(spark, metadata=store, engines=mgr,
                         barrier_timeout=60.0)
    srv = LittleHorseHTTPServer(api).start()
    try:
        port = srv.port
        _req(port, "POST", "/taskDef", {"name": "greet"})
        st, spec = _req(port, "POST", "/wfSpec", _greet_spec())
        assert st == 201
        old_handle = mgr.get("greeter")
        st, r1 = _req(port, "POST", "/wfrun",
                      {"wf_spec_name": "greeter", "variables": {"who": "ada"}})
        assert st == 201

        # spec update → redeploy (same id and name keeps the run's dirs)
        st, _ = _req(port, "POST", "/wfSpec", dict(_greet_spec(),
                                                   id=spec["id"]))
        assert st == 201
        assert mgr.get("greeter") is not old_handle

        # command against the pre-redeploy run folds on the NEW query
        # (would 500 after a 60 s barrier timeout with a stale handle)
        st, _ = _req(port, "POST", f"/wfrun/{r1['id']}/stop")
        assert st == 200
        st, doc = _req(port, "GET", f"/wfrun/{r1['id']}")
        assert st == 200 and doc["status"] == "COMPLETED"
    finally:
        srv.stop()
        mgr.stop_all()
        shutil.rmtree(workdir, ignore_errors=True)


def test_http_metadata_deploy_run_query(spark):
    """The harness flow HTTP-only: POST taskDef/externalEventDef/wfSpec
    (deploying two specs, each with its own engine) → POST /wfrun on
    both → GETs resolve from the compacted serving stores; DELETE
    undeploys."""
    workdir = Path(tempfile.mkdtemp(prefix="http-meta-"))
    store = MetadataStore(str(workdir / "meta"))
    mgr = SparkEngineManager(spark, str(workdir / "engines"),
                             executor=_executor, trigger_seconds=0.2)
    api = LittleHorseAPI(spark, metadata=store, engines=mgr)
    srv = LittleHorseHTTPServer(api).start()
    try:
        port = srv.port
        st, td = _req(port, "POST", "/taskDef", {"name": "greet"})
        assert st == 201 and td["id"] == "greet"
        st, _ = _req(port, "POST", "/taskDef", {"name": "double"})
        assert st == 201
        st, _ = _req(port, "POST", "/externalEventDef", {"name": "approval"})
        assert st == 201

        st, spec1 = _req(port, "POST", "/wfSpec", _greet_spec())
        assert st == 201
        st, spec2 = _req(port, "POST", "/wfSpec", _double_spec())
        assert st == 201
        assert mgr.get("greeter") is not None and mgr.get("doubler") is not None

        # metadata GET routes
        st, got = _req(port, "GET", f"/wfSpec/{spec1['id']}")
        assert st == 200 and got["name"] == "greeter"
        st, got = _req(port, "GET", "/wfSpec/doubler")  # by-name fallback
        assert st == 200 and got["id"] == spec2["id"]
        st, alles = _req(port, "GET", "/wfSpecAll")
        assert st == 200 and {d["name"] for d in alles} == {"greeter", "doubler"}
        st, hits = _req(port, "GET", "/wfSpecAlias/name/greeter")
        assert st == 200 and hits[0]["id"] == spec1["id"]
        st, _ = _req(port, "GET", "/wfSpec/nope")
        assert st == 404
        st, _ = _req(port, "POST", "/wfSpec", {"name": "bad", "thread_specs": {},
                                               "entrypoint_thread_name": "x"})
        assert st == 400  # validation failure → no store, no deploy
        assert mgr.get("bad") is None

        # runs route to their spec's own engine
        st, r1 = _req(port, "POST", "/wfrun",
                      {"wf_spec_name": "greeter", "variables": {"who": "ada"}})
        assert st == 201
        st, r2 = _req(port, "POST", "/wfrun",
                      {"wf_spec_name": "doubler", "variables": {"x": 21}})
        assert st == 201
        st, _ = _req(port, "POST", "/wfrun", {"wf_spec_name": "nope"})
        assert st == 404

        st, doc = _req(port, "GET", f"/wfrun/{r1['id']}")
        assert st == 200 and doc["status"] == "COMPLETED"
        st, task0 = _req(port, "GET", f"/wfrun/{r1['id']}/taskRun/0/0")
        assert st == 200 and task0["stdout"] == "hi ada"
        st, v = _req(port, "GET", f"/wfrun/{r2['id']}/variable/x")
        assert st == 200 and v["value"] == 42

        # serving-store search + cross-engine listing
        st, hits = _req(port, "GET", "/search/who/ada")
        assert st == 200 and hits == [r1["id"]]
        st, runs = _req(port, "GET", "/wfruns")
        assert st == 200
        assert {r["id"]: r["status"] for r in runs} == {
            r1["id"]: "COMPLETED", r2["id"]: "COMPLETED"}

        # DELETE undeploys: new runs 404, metadata gone
        st, _ = _req(port, "DELETE", f"/wfSpec/{spec2['id']}")
        assert st == 200
        assert mgr.get("doubler") is None
        st, _ = _req(port, "POST", "/wfrun", {"wf_spec_name": "doubler"})
        assert st == 404
    finally:
        srv.stop()
        mgr.stop_all()
        shutil.rmtree(workdir, ignore_errors=True)


def test_server_restart_recovers_specs_and_runs(spark):
    """Process restart: a fresh MetadataStore replays the changelog, the
    API redeploys every stored WFSpec (checkpoints + serving stores
    resume), old runs stay GETtable, and new runs fold — the reference's
    restart-topologies-from-store behavior.  The resumed checkpoint
    must replay RocksDB state, native timers, and the changelog."""
    workdir = Path(tempfile.mkdtemp(prefix="http-restart-"))
    try:
        # -- process 1: deploy + run ----------------------------------
        store = MetadataStore(str(workdir / "meta"))
        mgr = SparkEngineManager(spark, str(workdir / "engines"),
                                 executor=_executor, trigger_seconds=0.2,
                                 state_partitions=4)
        api = LittleHorseAPI(spark, metadata=store, engines=mgr)
        srv = LittleHorseHTTPServer(api).start()
        try:
            _req(srv.port, "POST", "/taskDef", {"name": "greet"})
            st, _ = _req(srv.port, "POST", "/wfSpec", _greet_spec())
            assert st == 201
            st, r1 = _req(srv.port, "POST", "/wfrun",
                          {"wf_spec_name": "greeter",
                           "variables": {"who": "lin"}})
            assert st == 201
            st, doc = _req(srv.port, "GET", f"/wfrun/{r1['id']}")
            assert st == 200 and doc["status"] == "COMPLETED"
        finally:
            srv.stop()
            mgr.stop_all()

        # -- process 2: same dirs, fresh objects ----------------------
        store2 = MetadataStore(str(workdir / "meta"))
        mgr2 = SparkEngineManager(spark, str(workdir / "engines"),
                                  executor=_executor, trigger_seconds=0.2,
                                  state_partitions=4)
        api2 = LittleHorseAPI(spark, metadata=store2, engines=mgr2)
        srv2 = LittleHorseHTTPServer(api2).start()
        try:
            assert mgr2.get("greeter") is not None  # boot redeploy
            # Pre-restart run still served (compacted store survived).
            st, doc = _req(srv2.port, "GET", f"/wfrun/{r1['id']}")
            assert st == 200 and doc["status"] == "COMPLETED"
            # New runs fold on the resumed checkpoint.
            st, r2 = _req(srv2.port, "POST", "/wfrun",
                          {"wf_spec_name": "greeter",
                           "variables": {"who": "rey"}})
            assert st == 201
            st, task0 = _req(srv2.port, "GET", f"/wfrun/{r2['id']}/taskRun/0/0")
            assert st == 200 and task0["stdout"] == "hi rey"
            st, runs = _req(srv2.port, "GET", "/wfruns")
            assert {r["id"] for r in runs} == {r1["id"], r2["id"]}
        finally:
            srv2.stop()
            mgr2.stop_all()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_cli_serve_smoke(spark):
    """`lhctl-spark serve` boots metadata + engines + HTTP and, with a
    pre-stored spec, redeploys it at startup (the reference's API
    container boot)."""
    from old_original_java_little_horse_spark.cli import main as cli_main

    workdir = Path(tempfile.mkdtemp(prefix="cli-serve-"))
    try:
        # Pre-store a spec via the metadata changelog (as a prior
        # server run would have).
        MetadataStore(str(workdir / "meta")).post("wfSpec", _greet_spec())
        rc = cli_main(["serve", "--base-dir", str(workdir), "--smoke",
                       "--executor",
                       "tests.test_http_metadata:_executor"])
        assert rc == 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_cli_http_client_mode(spark, capsys):
    """lhctl parity: the CLI as an HTTP client (`lh_lib/client.py`
    shape) — compile / deploy / run / get / search / list / delete all
    against a live served API."""
    import json as _json

    from old_original_java_little_horse_spark.cli import main as cli_main

    workdir = Path(tempfile.mkdtemp(prefix="cli-http-"))
    store = MetadataStore(str(workdir / "meta"))
    mgr = SparkEngineManager(spark, str(workdir / "engines"),
                             executor=_executor, trigger_seconds=0.2)
    srv = LittleHorseHTTPServer(
        LittleHorseAPI(spark, metadata=store, engines=mgr)).start()
    api = f"http://127.0.0.1:{srv.port}"
    try:
        # compile: SDK function -> JSON spec on stdout
        rc = cli_main(["compile", "tests.test_http_metadata:_greet_spec"])
        assert rc == 0
        spec = _json.loads(capsys.readouterr().out)
        spec_file = workdir / "greeter.json"
        spec_file.write_text(_json.dumps(spec))

        assert cli_main(["deploy", str(spec_file), "--api", api]) == 0
        capsys.readouterr()
        assert mgr.get("greeter") is not None

        rc = cli_main(["run", "greeter", "--api", api,
                       "--var", "who=grace"])
        assert rc == 0
        run_id = capsys.readouterr().out.strip()

        assert cli_main(["get", run_id, "--api", api]) == 0
        doc = _json.loads(capsys.readouterr().out)
        assert doc["status"] == "COMPLETED"
        assert doc["thread_runs"][0]["variables"]["who"] == "grace"

        assert cli_main(["search", "who", "grace", "--api", api]) == 0
        assert capsys.readouterr().out.split() == [run_id]

        assert cli_main(["list", "--api", api]) == 0
        assert run_id in capsys.readouterr().out

        assert cli_main(["delete", "wfSpec", spec["id"], "--api", api]) == 0
        capsys.readouterr()
        assert mgr.get("greeter") is None
    finally:
        srv.stop()
        mgr.stop_all()
        shutil.rmtree(workdir, ignore_errors=True)


def test_shared_engine_two_specs(spark):
    """SURVEY §7 consolidated ops profile: TWO specs deployed into ONE
    shared engine (`SparkEngineManager(shared=True)`) — a single
    streaming query + checkpoint serves both, with per-spec serving
    stores, entirely through the HTTP deploy path.  The deploys run
    under a caller's own scoped shuffle-partition conf, which the
    engine's scoped start confs (RocksDB provider, state partitions)
    must compose with.  Undeploying one spec leaves the other's runs
    GETtable and foldable."""
    from old_original_java_little_horse_spark.session import scoped_conf

    workdir = Path(tempfile.mkdtemp(prefix="http-shared-"))
    store = MetadataStore(str(workdir / "meta"))
    mgr = SparkEngineManager(spark, str(workdir / "engines"),
                             executor=_executor, trigger_seconds=0.2,
                             shared=True)
    api = LittleHorseAPI(spark, metadata=store, engines=mgr)
    srv = LittleHorseHTTPServer(api).start()
    try:
        port = srv.port
        _req(port, "POST", "/taskDef", {"name": "greet"})
        _req(port, "POST", "/taskDef", {"name": "double"})
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
            st, _ = _req(port, "POST", "/wfSpec", _greet_spec())
            assert st == 201
            st, spec2 = _req(port, "POST", "/wfSpec", _double_spec())
            assert st == 201
            # the engine's start restored the caller's scope, not the
            # session default
            assert spark.conf.get("spark.sql.shuffle.partitions") == "8"

        # ONE query object behind both handles; one shared events dir
        g, d = mgr.get("greeter"), mgr.get("doubler")
        assert g.query is d.query
        assert g.events_dir == d.events_dir
        # ... but per-spec serving stores
        assert g.serving_dir != d.serving_dir

        st, r1 = _req(port, "POST", "/wfrun",
                      {"wf_spec_name": "greeter", "variables": {"who": "ada"}})
        assert st == 201
        st, r2 = _req(port, "POST", "/wfrun",
                      {"wf_spec_name": "doubler", "variables": {"x": 21}})
        assert st == 201

        st, doc = _req(port, "GET", f"/wfrun/{r1['id']}")
        assert st == 200 and doc["status"] == "COMPLETED"
        st, v = _req(port, "GET", f"/wfrun/{r2['id']}/variable/x")
        assert st == 200 and v["value"] == 42

        # serving rows routed to the right spec's store: greeter's
        # alias search hits only its own run
        st, hits = _req(port, "GET", "/search/who/ada")
        assert st == 200 and hits == [r1["id"]]

        # Undeploy one spec: the shared query restarts over the same
        # checkpoint; the survivor's old runs resolve and new runs fold
        st, _ = _req(port, "DELETE", f"/wfSpec/{spec2['id']}")
        assert st == 200
        assert mgr.get("doubler") is None and mgr.get("greeter") is not None
        st, _ = _req(port, "POST", "/wfrun", {"wf_spec_name": "doubler"})
        assert st == 404
        st, doc = _req(port, "GET", f"/wfrun/{r1['id']}")
        assert st == 200 and doc["status"] == "COMPLETED"
        st, r3 = _req(port, "POST", "/wfrun",
                      {"wf_spec_name": "greeter", "variables": {"who": "lin"}})
        assert st == 201
        st, doc = _req(port, "GET", f"/wfrun/{r3['id']}")
        assert st == 200 and doc["status"] == "COMPLETED"
    finally:
        srv.stop()
        mgr.stop_all()
        shutil.rmtree(workdir, ignore_errors=True)


def test_shared_deploy_many_single_restart(spark):
    """Boot recovery in shared mode: deploy_many starts ONE query for
    the whole batch (not N sequential restarts), and direct callers'
    specs without a metadata id get one defaulted."""
    workdir = Path(tempfile.mkdtemp(prefix="shared-many-"))
    mgr = SparkEngineManager(spark, str(workdir), executor=_executor,
                             trigger_seconds=0.2, shared=True)
    try:
        s1, s2 = _greet_spec(), _double_spec()
        s1.pop("id", None)  # direct caller: no metadata-stamped id
        handles = mgr.deploy_many([s1, s2])
        assert len(handles) == 2
        assert handles[0].query is handles[1].query
        assert mgr.get("greeter").spec["id"] == "greeter"  # defaulted
    finally:
        mgr.stop_all()
        shutil.rmtree(workdir, ignore_errors=True)


def test_spec_rename_undeploys_old_engine(spark):
    """A re-POST that keeps the id but changes the name must stop the
    engine registered under the OLD name — otherwise its continuous
    query runs (and serves list/search) forever for a spec name that
    404s in metadata, leaking one live query per rename."""
    workdir = Path(tempfile.mkdtemp(prefix="http-rename-"))
    store = MetadataStore(str(workdir / "meta"))
    mgr = SparkEngineManager(spark, str(workdir / "engines"),
                             executor=_executor, trigger_seconds=0.2)
    api = LittleHorseAPI(spark, metadata=store, engines=mgr,
                         barrier_timeout=60.0)
    srv = LittleHorseHTTPServer(api).start()
    try:
        port = srv.port
        _req(port, "POST", "/taskDef", {"name": "greet"})
        st, spec = _req(port, "POST", "/wfSpec", _greet_spec())
        assert st == 201
        assert mgr.get("greeter") is not None

        renamed = dict(_greet_spec(), id=spec["id"], name="welcomer")
        st, _ = _req(port, "POST", "/wfSpec", renamed)
        assert st == 201
        assert mgr.get("welcomer") is not None
        assert mgr.get("greeter") is None, \
            "old-name engine leaked after rename"
        st, _ = _req(port, "GET", "/wfSpec/greeter")
        assert st == 404

        # The renamed deployment is live end-to-end.
        st, r1 = _req(port, "POST", "/wfrun",
                      {"wf_spec_name": "welcomer", "variables": {"who": "bo"}})
        assert st == 201
        st, doc = _req(port, "GET", f"/wfrun/{r1['id']}")
        assert st == 200
    finally:
        srv.stop()
        mgr.stop_all()
        shutil.rmtree(workdir, ignore_errors=True)


def test_http_client_error_edges(spark):
    """Round-7 review: malformed client input must be 400s, path
    params must be percent-decoded, and stop() before start() must not
    deadlock."""
    workdir = Path(tempfile.mkdtemp(prefix="http-edges-"))
    try:
        store = MetadataStore(str(workdir / "meta"))
        mgr = SparkEngineManager(spark, str(workdir / "engines"),
                                 executor=_executor, trigger_seconds=0.2)
        api = LittleHorseAPI(spark, metadata=store, engines=mgr)
        srv = LittleHorseHTTPServer(api).start()
        try:
            port = srv.port
            # non-dict JSON bodies are client errors, not 500s
            st, body = _req(port, "POST", "/wfSpec", [1, 2])
            assert st == 400, body
            st, body = _req(port, "POST", "/wfrun", [1, 2])
            assert st == 400, body
            # malformed int query param is a 400, not a 500
            _req(port, "POST", "/taskDef", {"name": "greet"})
            st, _ = _req(port, "POST", "/wfSpec", _greet_spec())
            assert st == 201
            st, r = _req(port, "POST", "/wfrun",
                         {"wf_spec_name": "greeter",
                          "variables": {"who": "ada"}})
            assert st == 201
            st, body = _req(port, "POST",
                            f"/wfrun/{r['id']}/stop?thread=abc")
            assert st == 400, body
            # percent-encoded path params reach the API decoded: the
            # metadata GET for the spec works with an encoded char
            st, body = _req(port, "GET", "/wfSpec/gre%65ter")  # 'e'
            assert st == 200 and body["name"] == "greeter", body
        finally:
            srv.stop()
            mgr.stop_all()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    # stop() before start(): must return, not deadlock on shutdown()
    api2 = LittleHorseAPI(spark)
    srv2 = LittleHorseHTTPServer(api2)
    srv2.stop()  # no start() — a hang here fails the test by timeout


def test_run_engine_cache_is_bounded(spark):
    """The run->engine cache must not grow one entry per run forever:
    older entries are evicted past the cap and re-resolve via the
    serving store."""
    api = LittleHorseAPI(spark)
    api._RUN_CACHE_MAX = 8
    api.engines = object()  # never consulted by _cache_run_engine
    for i in range(50):
        api._cache_run_engine(f"r{i}", handle=object())
    assert len(api._run_engine) == 8
    assert "r49" in api._run_engine and "r0" not in api._run_engine


def test_metadata_replay_skips_torn_trailing_line():
    """A crash mid-append leaves a torn final line WITHOUT its newline;
    that record was never acknowledged (post() fsyncs before
    returning), so boot must skip it — not refuse to start.  Earlier
    newline-terminated corruption is real log damage and still
    raises (silently skipping could resurrect a deleted spec)."""
    import json
    import tempfile
    from pathlib import Path

    with tempfile.TemporaryDirectory() as d:
        store = MetadataStore(d)
        store.post("taskDef", {"name": "t1"})
        store.post("taskDef", {"name": "t2"})
        log = Path(d) / "metadata.jsonl"
        base = log.read_bytes()
        # Torn tail: half of a third record, no newline.
        log.write_bytes(base + b'{"op":"PUT","kind":"taskDef","doc":{"na')
        s2 = MetadataStore(d)
        assert [t["name"] for t in s2.get_all("taskDef")] == ["t1", "t2"]
        # Recovery must also REPAIR the log (truncate the torn tail):
        # the file is append-only, so a later post() would otherwise
        # merge with the leftover fragment into one malformed line
        # that bricks the NEXT boot.
        assert log.read_bytes() == base
        s2.post("taskDef", {"name": "t3"})
        s3 = MetadataStore(d)
        assert [t["name"] for t in s3.get_all("taskDef")] == [
            "t1", "t2", "t3"]


def test_metadata_replay_raises_on_complete_corrupt_line():
    import json
    import tempfile
    from pathlib import Path

    with tempfile.TemporaryDirectory() as d:
        store = MetadataStore(d)
        store.post("taskDef", {"name": "t1"})
        log = Path(d) / "metadata.jsonl"
        log.write_bytes(log.read_bytes() + b"not json at all\n")
        try:
            MetadataStore(d)
            raised = False
        except json.JSONDecodeError:
            raised = True
        assert raised


def test_concurrent_deploys_are_serialized(monkeypatch):
    """MetadataStore.post() fires on_change OUTSIDE its lock, so two
    concurrent POST /wfSpec handler threads reach deploy() together.
    Un-serialized, shared mode would start TWO streaming queries over
    the ONE shared checkpoint (forbidden by Structured Streaming).
    The manager's lock must keep (stop old → start new) atomic: at
    most one start_continuous in flight, and every spec's handle
    points at the LAST started query."""
    import tempfile
    import threading
    import time as _time

    from old_original_java_little_horse_spark.streaming import engine as se

    active = {"n": 0, "max": 0, "starts": 0}
    gate = threading.Lock()

    class FakeQuery:
        def stop(self):
            pass

    def fake_start(*a, **k):
        with gate:
            active["n"] += 1
            active["starts"] += 1
            active["max"] = max(active["max"], active["n"])
        _time.sleep(0.05)  # widen the overlap window
        with gate:
            active["n"] -= 1
        return FakeQuery()

    monkeypatch.setattr(se, "start_continuous", fake_start)
    with tempfile.TemporaryDirectory() as d:
        mgr = SparkEngineManager(spark=None, base_dir=d, shared=True)
        specs = [{"name": f"wf{i}", "entrypoint": "e",
                  "thread_specs": {"e": {"nodes": {}}}} for i in range(4)]
        threads = [threading.Thread(target=mgr.deploy, args=(s,))
                   for s in specs]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert active["max"] == 1, "two shared queries ran concurrently"
        assert active["starts"] == 4
        handles = {h.spec["name"]: h for h in mgr.handles()}
        assert set(handles) == {s["name"] for s in specs}
        # All specs share the one (last-started) query object.
        assert len({id(h.query) for h in handles.values()}) == 1


def test_validate_rejects_unknown_named_exception_handler():
    """Named exception_handlers targets are validated like the base
    handler: a typo'd handler thread must 400 at POST time, not fail
    at runtime when the exception finally fires."""
    wf = Workflow("typo-handler")
    t = wf.thread("entrypoint")
    t.execute("work").catch_exception("no-such-thread", "my-exc")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown handler"):
        wf.build()
    # and over HTTP metadata: 400, not 500
    d = tempfile.mkdtemp(prefix="meta-vh-")
    try:
        spec = {
            "name": "typo-handler",
            "entrypoint_thread_name": "entrypoint",
            "thread_specs": {"entrypoint": {
                "entrypoint_node_name": "work",
                "nodes": {"work": {"node_type": "TASK", "name": "work",
                                   "task_def_name": "work",
                                   "variable_mutations": {},
                                   "exception_handlers":
                                       {"my-exc": "no-such-thread"}}},
                "edges": [], "variable_defs": {}, "interrupt_defs": {},
            }},
        }
        with pytest.raises(MetadataError) as e:
            MetadataStore(d).post("wfSpec", spec)
        assert e.value.status == 400
    finally:
        shutil.rmtree(d, ignore_errors=True)
