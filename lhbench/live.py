"""The live workload: `cli serve` driven over HTTP from outside, plus
`cli import` for the catch-up backlog.  After set-up, three phases:

ingest    a seeded backlog handed to `cli import`, served under its
          catch-up admission; ends when the last run is served.
commands  NCLIENTS closed-loop clients: POST /wfrun, then GET
          /wfrun/{id} until COMPLETED.  One op is one run.
reads     with no writer running, one closed-loop reader issuing a
          seeded sequence of rounds of point GETs, selective searches
          and page steps.

Once the server has stopped, `check_store` reads the committed
snapshot store and checks the document of every run the benchmark
started, the backlog included.
"""

from __future__ import annotations

import bisect
import importlib
import json
import random
import re
import sys
import threading
import time
from pathlib import Path

import common
import wf

NCLIENTS = min(4, common.NCPU)
# One catch-up batch: 1400 runs give ~5600 output rows, above the
# engine's small-batch cut (5000 rows), so it takes the bulk sink path.
BACKLOG_RUNS = 1400
ROWS_PER_TRIGGER = 1400
PAGE_LIMIT = 100
# One read round: 7 point GETs, 2 searches, 1 page step, GETs over ids
# drawn with a Zipf-like skew of exponent ZIPF_S.  Both are assumptions
# (no published LittleHorse read trace); see README.md.
ROUND = "GGGSGGGPGS"
ZIPF_S = 0.9
SERVE_ARGS = ["--executor", wf.EXECUTOR]
STARTUP_TIMEOUT = 150.0
RUN_TIMEOUT = 60.0


class Server:
    """One `cli serve` process (in its own session) and its base dir."""

    def __init__(self, run_dir: Path, mon: common.SutMonitor, trace_out: Path | None):
        self.run_dir = run_dir
        self.base = run_dir / "state"
        self.t_launch = time.monotonic()
        env = {"LHBENCH_TRACE_OUT": str(trace_out)} if trace_out else {}
        self.proc = common.spawn(
            [sys.executable, str(common.HERE / "serve_boot.py"),
             "--base-dir", str(self.base), "--port", "0", *SERVE_ARGS],
            run_dir, "serve.log", mon, env)
        try:
            self.url = self._await_listening()
        except BaseException:
            common.end_session(self.proc)
            raise
        self.t_listening = time.monotonic()

    def _await_listening(self) -> str:
        log = self.run_dir / "serve.log"
        deadline = time.monotonic() + STARTUP_TIMEOUT
        while time.monotonic() < deadline:
            m = re.search(r"listening on ([\d.]+):(\d+)", log.read_text(errors="replace"))
            if m:
                return f"http://{m.group(1)}:{m.group(2)}"
            if self.proc.poll() is not None:
                raise RuntimeError(f"cli serve exited {self.proc.returncode}: "
                                   + log.read_text(errors="replace")[-2000:])
            time.sleep(0.05)
        raise RuntimeError("cli serve did not start listening")

    @property
    def engine_dir(self) -> Path:
        return self.base / "engines" / wf.SPEC_NAME

    def call(self, method: str, path: str, body=None):
        return common.http(self.url, method, path, body)

    def stop(self) -> list[dict]:
        return common.end_session(self.proc)


def run_one(srv: Server, run: dict) -> tuple[float, str | None]:
    """POST one run and GET it until COMPLETED; (latency s, error)."""
    t0 = time.monotonic()
    st, body = srv.call("POST", "/wfrun", {"wf_spec_name": wf.SPEC_NAME,
                                          "run_id": run["id"],
                                          "variables": wf.variables(run)})
    if st != 201 or body.get("id") != run["id"]:
        return time.monotonic() - t0, f"POST /wfrun -> {st} {body}"
    while True:
        st, doc = srv.call("GET", f"/wfrun/{run['id']}")
        if st == 200 and doc.get("status") == "COMPLETED":
            return time.monotonic() - t0, wf.check_doc(doc, run)
        if st not in (200, 404):
            return time.monotonic() - t0, f"GET /wfrun -> {st} {doc}"
        if time.monotonic() - t0 > RUN_TIMEOUT:
            return time.monotonic() - t0, f"{run['id']} not COMPLETED after {RUN_TIMEOUT}s"
        time.sleep(0.02)


def setup(run_dir: Path, mon: common.SutMonitor, seed: int, trace_out: Path | None):
    """Launch, deploy, and serve the first run: the `setup_s` span.  On
    failure the server is stopped before the error propagates."""
    win = common.Window(mon)
    srv = Server(run_dir, mon, trace_out)
    try:
        t_dep = time.monotonic()
        st, body = srv.call("POST", "/wfSpec", wf.spec())
        if st != 201:
            raise RuntimeError(f"POST /wfSpec -> {st} {body}")
        t_first = time.monotonic()
        first = wf.make_runs(seed, 1, "w")[0]
        _lat, err = run_one(srv, first)
        if err:
            raise RuntimeError(f"first run: {err}")
    except BaseException:
        srv.stop()
        raise
    t_end = time.monotonic()
    timing = {"setup_s": t_end - srv.t_launch,
              "process_start_s": srv.t_listening - srv.t_launch,
              "deploy_s": t_first - t_dep,
              "warmup_s": t_end - t_first,
              "window": win.close()}
    return srv, first, timing


# -- the phases ----------------------------------------------------------------

def commands(srv: Server, seed: int, seconds: float, mon) -> dict:
    """NCLIENTS closed-loop clients, each op one run: POST /wfrun, then
    GET /wfrun/{id} until COMPLETED, checked against the closed form.
    A client starts its next run only before the deadline, and every
    run started completes."""
    runs = wf.make_runs(seed, 100_000, "c")
    it = iter(runs)
    lock = threading.Lock()
    res: list[tuple] = []
    failures: list[BaseException] = []
    deadline = time.monotonic() + seconds

    def client() -> None:
        try:
            while time.monotonic() < deadline:
                with lock:
                    run = next(it)
                lat, err = run_one(srv, run)
                with lock:
                    res.append((lat, err))
        except BaseException as e:  # re-raised below, after the join
            failures.append(e)

    win = common.Window(mon)
    threads = [threading.Thread(target=client) for _ in range(NCLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    w = win.close()
    if failures:
        raise failures[0]
    return {"window": w, "ops": len(res), "runs": runs[:len(res)],
            "errors": [r[1] for r in res if r[1] is not None],
            "latencies_s": [r[0] for r in res if r[1] is None]}


def write_backlog(path: Path, runs: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [wf.started_event(r, i + 1) for i, r in enumerate(runs)]
    cols = {k: [r[k] for r in rows] for k in rows[0]}
    types = {"thread_id": pa.int32(), "timestamp": pa.int64(), "offset": pa.int64()}
    pq.write_table(pa.table({k: pa.array(v, types.get(k, pa.string()))
                             for k, v in cols.items()}), path)


def walk_all(srv: Server) -> tuple[list[str], list[str]]:
    """Every (id, status) of the paged list, one full walk."""
    ids, statuses, cursor = [], [], None
    while True:
        q = f"/wfruns?limit={PAGE_LIMIT}" + (f"&cursor={cursor}" if cursor else "")
        st, body = srv.call("GET", q)
        if st != 200:
            raise RuntimeError(f"GET {q} -> {st} {body}")
        ids += [r["id"] for r in body["results"]]
        statuses += [r["status"] for r in body["results"]]
        cursor = body["next_cursor"]
        if cursor is None:
            return ids, statuses


def ingest(srv: Server, run_dir: Path, mon, backlog: list[dict]) -> dict:
    """`cli import` the backlog and wait until its last run (in offset
    order, so released last) is served.  Polls that one run every
    0.25 s, so the check takes no CPU from the engine."""
    path = run_dir / "backlog.parquet"
    write_backlog(path, backlog)
    win = common.Window(mon)
    t0 = time.monotonic()
    imp = common.spawn(
        [sys.executable, "-m", f"{common.PACKAGE}.cli", "import", "--file", str(path),
         "--events-dir", str(srv.engine_dir / "events"),
         "--checkpoint-dir", str(srv.engine_dir / "ckpt"),
         "--rows-per-trigger", str(ROWS_PER_TRIGGER), "--timeout", "150"],
        run_dir, "import.log", mon)
    try:
        rc = imp.wait(timeout=170)
    finally:
        common.end_session(imp, grace=5)
    t_released = time.monotonic()
    if rc != 0:
        raise RuntimeError(f"cli import exited {rc}")
    # Served means GETtable as COMPLETED and found by its alias: the
    # sink commits the snapshot store before the alias store.
    last = backlog[-1]
    cohort = sorted(r["id"] for r in backlog if r["cohort"] == last["cohort"])
    deadline = time.monotonic() + 120
    while True:
        st, doc = srv.call("GET", f"/wfrun/{last['id']}")
        if st == 200 and doc.get("status") == "COMPLETED" and \
                srv.call("GET", f"/search/cohort/{last['cohort']}") == (200, cohort):
            break
        if time.monotonic() > deadline:
            raise RuntimeError(f"backlog not served: last run {st}")
        time.sleep(0.25)
    t_served = time.monotonic()
    return {"release_s": t_released - t0, "ingest_s": t_served - t0,
            "ingest_window": (t0, t_served), "window": win.close()}


def read_ops(seed: int, runs: list[dict]):
    """Endless seeded read rounds: point GETs over ids drawn with a
    Zipf-like skew, searches on uniformly drawn cohorts and page steps."""
    rng = random.Random(f"{seed}:reads")
    order = list(range(len(runs)))
    random.Random(f"{seed}:hot").shuffle(order)
    cum, acc = [], 0.0
    for r in range(len(runs)):
        acc += 1.0 / (r + 1) ** ZIPF_S
        cum.append(acc)
    cohorts = sorted({r["cohort"] for r in runs})
    while True:
        rnd = []
        for kind in ROUND:
            if kind == "G":
                rnd.append(("G", runs[order[bisect.bisect(cum, rng.random() * acc)]]))
            elif kind == "S":
                rnd.append(("S", cohorts[rng.randrange(len(cohorts))]))
            else:
                rnd.append(("P", None))
        yield rnd


def reads(srv: Server, seed: int, seconds: float, mon, backlog: list[dict],
          expected_ids: set) -> dict:
    """One closed-loop reader, no writer running: whole seeded rounds of
    point GETs, selective searches and page steps of a continuing walk
    until `seconds` have passed.  Every answer is kept and checked after
    the window."""
    answers = []  # (kind, arg, status, body, latency s)
    cursor = None
    ops = read_ops(seed, backlog)
    win = common.Window(mon)
    deadline = time.monotonic() + seconds
    while time.monotonic() < deadline:
        for kind, arg in next(ops):
            if kind == "G":
                path = f"/wfrun/{arg['id']}"
            elif kind == "S":
                path = f"/search/cohort/{arg}"
            else:
                path = f"/wfruns?limit={PAGE_LIMIT}" + (f"&cursor={cursor}" if cursor else "")
            t0 = time.monotonic()
            st, body = srv.call("GET", path)
            lat = time.monotonic() - t0
            if kind == "P" and st == 200:
                cursor = body["next_cursor"]
            answers.append((kind, arg, st, body, lat))
    w = win.close()

    by_cohort: dict[str, set] = {}
    for r in backlog:
        by_cohort.setdefault(r["cohort"], set()).add(r["id"])
    seen, walks, res = [], 0, []
    for kind, arg, st, body, lat in answers:
        err = None
        if st != 200:
            err = f"{kind} -> {st} {body}"
        elif kind == "G":
            err = wf.check_doc(body, arg)
        elif kind == "S":
            if len(body) != len(set(body)) or set(body) != by_cohort[arg]:
                err = f"search {arg}: {body}"
        else:
            seen += [r["id"] for r in body["results"]]
            if any(r["status"] != "COMPLETED" for r in body["results"]):
                err = "page holds a run that is not COMPLETED"
            elif body["next_cursor"] is None:
                walks += 1
                if len(seen) != len(set(seen)) or set(seen) != expected_ids:
                    err = (f"page walk: {len(seen)} ids, {len(set(seen))} distinct, "
                           f"want {len(expected_ids)}")
                seen = []
        res.append((lat, {"G": "get", "S": "search", "P": "page"}[kind], err))
    return {"window": w, "ops": len(res),
            "errors": [r[2] for r in res if r[2] is not None],
            "latencies_s": [r[0] for r in res if r[2] is None],
            "by_kind_s": {k: [r[0] for r in res if r[1] == k and r[2] is None]
                          for k in ("get", "search", "page")},
            "walks": walks}


def check_store(serving_dir: Path, runs: list[dict]) -> list[str]:
    """Read the committed snapshot store once the server has stopped and
    check that it holds exactly one document per run in `runs`, each as
    the closed form predicts.  One error per run missing or wrong, and
    per stored document that no run accounts for."""
    serving = importlib.import_module(f"{common.PACKAGE}.sinks.serving")
    by_id = {r["id"]: r for r in runs}
    seen, errors = set(), []
    for row in serving.read_all_snapshot_rows(str(serving_dir)):
        rid = row["wf_run_id"]
        if rid not in by_id or rid in seen:
            errors.append(f"store: unexpected or repeated document {rid}")
            continue
        seen.add(rid)
        err = wf.check_doc(json.loads(row["state_json"]), by_id[rid])
        if err:
            errors.append(f"store: {err}")
    errors += [f"store: no document for {rid}" for rid in sorted(by_id.keys() - seen)]
    return errors


def wf_live(srv: Server, seed: int, seconds: float, mon, first: dict, run_dir: Path) -> dict:
    """The catch-up backlog, then commands for `seconds`, then reads for
    `seconds` with no writer running.  Catch-up comes first so the
    command window meets an engine past its JIT warm-up."""
    backlog = wf.make_runs(seed, BACKLOG_RUNS, "b")
    ing = ingest(srv, run_dir, mon, backlog)
    cmd = commands(srv, seed, seconds, mon)
    expected_ids = {first["id"]} | {r["id"] for r in cmd["runs"]} | {r["id"] for r in backlog}
    ids, statuses = walk_all(srv)
    errors = []
    if len(ids) != len(set(ids)) or set(ids) != expected_ids or set(statuses) != {"COMPLETED"}:
        errors.append(f"before reads: {len(ids)} listed ({len(set(ids))} distinct) "
                      f"of {len(expected_ids)}, statuses {set(statuses)}")
    rd = reads(srv, seed, seconds, mon, backlog, expected_ids)
    return {"commands": cmd, "ingest": ing, "reads": rd, "backlog": backlog,
            "served_runs": [first, *cmd["runs"], *backlog],
            "errors": errors + cmd["errors"] + rd["errors"],
            "attempted": cmd["ops"] + rd["ops"] + 1}
