"""HTTP driver for the harness cases — `lh_test_harness/harness/
logic.py`'s launch/check loop over our API routes.

Everything goes through plain HTTP (the same routes a user hits):
POST taskDef/externalEventDef/wfSpec to deploy, POST /wfrun per
request, POST /externalEvent/{id}/{name} for the case's events, poll
GET /wfrun/{id} to a terminal status, then run the case's check
against the served document.  The reference records per-test rows in
a Postgres harness DB; here the summary is the return value (and the
CLI's exit code)."""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

from .cases import Case

TERMINAL = ("COMPLETED", "HALTED")


def _req(api: str, method: str, path: str, body=None, timeout: int = 120):
    data = None if body is None else json.dumps(body).encode()
    req = urllib.request.Request(
        api.rstrip("/") + path, data=data, method=method,
        headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            raw = resp.read()
            return resp.status, (json.loads(raw) if raw else None)
    except urllib.error.HTTPError as e:
        raw = e.read()
        try:
            return e.code, json.loads(raw)
        except Exception:
            return e.code, {"error": raw.decode(errors="replace")}


@dataclass
class CaseResult:
    name: str
    passed: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)  # (run_id | None, message)


def deploy_case(api: str, case: Case) -> str:
    """taskDefs + externalEventDefs + the WFSpec (POST /wfSpec also
    deploys the spec's engine, `K8sWorkflowDeployer`-equivalently).
    Returns the stored spec's id for teardown."""
    for td in case.task_defs:
        st, body = _req(api, "POST", "/taskDef", {"name": td})
        if st not in (200, 201):
            raise RuntimeError(f"taskDef {td}: HTTP {st} {body}")
    for ev in case.event_defs:
        st, body = _req(api, "POST", "/externalEventDef", {"name": ev})
        if st not in (200, 201):
            raise RuntimeError(f"externalEventDef {ev}: HTTP {st} {body}")
    st, body = _req(api, "POST", "/wfSpec", case.spec)
    if st not in (200, 201):
        raise RuntimeError(f"wfSpec {case.spec['name']}: HTTP {st} {body}")
    return (body or {}).get("id") or case.spec["name"]


def run_case(api: str, case: Case, requests: int = 1,
             poll_timeout: float = 30.0, poll_every: float = 0.2,
             log=print, cleanup: bool = True) -> CaseResult:
    res = CaseResult(case.name)
    spec_id = deploy_case(api, case)
    try:
        for launch in case.launches:
            for i in range(requests):
                run_id = None
                try:
                    variables = (launch.variables(i)
                                 if callable(launch.variables)
                                 else dict(launch.variables))
                    st, run = _req(api, "POST", "/wfrun", {
                        "wf_spec_name": case.spec["name"],
                        "variables": variables})
                    assert st == 201, f"POST /wfrun: HTTP {st} {run}"
                    run_id = run["id"]
                    actions = launch.actions or [
                        ("event", n, p) for n, p in launch.events]
                    for act in actions:
                        _apply_action(api, run_id, act,
                                      poll_timeout, poll_every)
                    doc = _poll(api, run_id, poll_timeout, poll_every)
                    launch.check(doc)
                    _smoke_subresources(api, run_id, doc)
                    res.passed += 1
                except Exception as e:  # noqa: BLE001 — a failed check IS the result
                    res.failed += 1
                    res.errors.append((run_id, f"{type(e).__name__}: {e}"))
    finally:
        if cleanup:
            # DELETE /wfSpec undeploys the case's engine through the
            # metadata change hook (the reference's WFSpec.remove() →
            # deployer.undeploy, WFSpec.java:275-278).  Without this
            # every finished case leaves a live continuous query
            # behind, and by the Nth case the accumulated micro-batch
            # load starves the active engine's read-your-writes
            # barrier (observed: the sweep failing from case 11 on).
            _req(api, "DELETE", f"/wfSpec/{spec_id}")
    status = "PASS" if not res.failed else "FAIL"
    log(f"{status} {case.name}: {res.passed} ok, {res.failed} failed")
    for run_id, msg in res.errors:
        log(f"  {run_id}: {msg}")
    return res


def _apply_action(api: str, run_id: str, act: tuple,
                  timeout: float, every: float) -> None:
    verb = act[0]
    if verb == "event":
        _, name, payload = act
        st, body = _req(api, "POST",
                        f"/externalEvent/{run_id}/{name}", payload)
        assert st in (200, 201), f"POST event {name}: HTTP {st} {body}"
    elif verb in ("stop", "resume"):
        st, body = _req(api, "POST",
                        f"/wfrun/{run_id}/{verb}?thread={act[1]}", {})
        assert st == 200, f"POST {verb}: HTTP {st} {body}"
    elif verb == "await":
        want = act[1]
        deadline = time.monotonic() + timeout
        got = None
        while time.monotonic() < deadline:
            st, doc = _req(api, "GET", f"/wfrun/{run_id}")
            got = doc.get("status") if st == 200 else None
            if got == want:
                return
            time.sleep(every)
        raise TimeoutError(f"run {run_id} never reached {want} "
                           f"(last: {got})")
    else:
        raise ValueError(f"unknown harness action {act!r}")


def _smoke_subresources(api: str, run_id: str, doc: dict) -> None:
    """Every checked run also smokes the GET subresource routes the
    reference's GETApi serves (threadRun / taskRun / variable) — the
    answers must agree with the full document."""
    st, th = _req(api, "GET", f"/wfrun/{run_id}/threadRun/0")
    assert st == 200 and th["id"] == 0, (st, th)
    trs = doc["thread_runs"][0]["task_runs"]
    if trs:
        st, tr = _req(api, "GET", f"/wfrun/{run_id}/taskRun/0/0")
        assert st == 200 and tr["position"] == trs[0]["position"], (st, tr)
    for name, value in (doc["thread_runs"][0].get("variables") or {}).items():
        st, v = _req(api, "GET", f"/wfrun/{run_id}/variable/{name}")
        assert st == 200 and v["value"] == value, (name, st, v)
        break  # one variable is enough per run


def _poll(api: str, run_id: str, timeout: float, every: float) -> dict:
    deadline = time.monotonic() + timeout
    doc = None
    while time.monotonic() < deadline:
        st, doc = _req(api, "GET", f"/wfrun/{run_id}")
        if st == 200 and doc.get("status") in TERMINAL:
            return doc
        time.sleep(every)
    raise TimeoutError(
        f"run {run_id} not terminal after {timeout}s "
        f"(last: {None if doc is None else doc.get('status')})")


def run_all(api: str, cases: dict[str, Case], names=None,
            requests: int = 1, log=print) -> list[CaseResult]:
    chosen = ([cases[n] for n in names] if names
              else list(cases.values()))
    results = [run_case(api, c, requests=requests, log=log) for c in chosen]
    total_ok = sum(r.passed for r in results)
    total_bad = sum(r.failed for r in results)
    log(f"\n{len(results)} cases: {total_ok} runs ok, {total_bad} failed")
    return results
