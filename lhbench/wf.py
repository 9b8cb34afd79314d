"""The live workloads' workflow, their seeded inputs and the closed-form
check of every served WFRun document.

The workflow is the shape of `engine/batch_queries.pipeline_spec`
(7 inline tasks, 2 threads, a branch and mutations) plus one STRING
input variable, `cohort`, that a few runs share, so the alias index
holds a selective `cohort=<value>` entry per group of runs.
"""

from __future__ import annotations

import hashlib
import json
import random

SPEC_NAME = "bench-pipeline"
EXECUTOR = "old_original_java_little_horse_spark.engine.batch_queries:pipeline_executor"
RUNS_PER_COHORT = 4
N_TASK_RUNS = 7
N_THREAD_RUNS = 2


def spec() -> dict:
    from old_original_java_little_horse_spark.engine.batch_queries import pipeline_spec

    s = pipeline_spec()
    s["name"], s["id"] = SPEC_NAME, f"{SPEC_NAME}-spec"
    entry = s["thread_specs"][s["entrypoint_thread_name"]]
    entry["variable_defs"]["cohort"] = {"type": "STRING", "default_value": ""}
    return s


def _rng(seed: int, stream: str) -> random.Random:
    return random.Random(int.from_bytes(
        hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little"))


def make_runs(seed: int, n: int, stream: str) -> list[dict]:
    """`n` runs: a run id, the two counters and a cohort shared by
    `RUNS_PER_COHORT` consecutive runs (ids sort in generation order)."""
    rng = _rng(seed, stream)
    return [{"id": f"{stream}-{i:06d}",
             "n_purch": rng.randrange(0, 20),
             "n_click": rng.randrange(0, 20),
             "cohort": f"{stream}-c{i // RUNS_PER_COHORT:05d}"}
            for i in range(n)]


def expected(run: dict) -> dict:
    """The workflow's closed form: classify doubles n_purch, the child
    thread adds n_click, finalize adds 7; the branch picks the tier."""
    return {
        "score": 2 * run["n_purch"] + run["n_click"] + 7,
        "tier": "clicky" if run["n_click"] > run["n_purch"] else "buyy",
    }


def check_doc(doc: dict, run: dict) -> str | None:
    """None if `doc` is the COMPLETED WFRun the closed form predicts
    for `run`, else a one-line reason."""
    if doc.get("id") != run["id"]:
        return f"id {doc.get('id')!r} != {run['id']!r}"
    if doc.get("status") != "COMPLETED":
        return f"{run['id']}: status {doc.get('status')}"
    trs = doc.get("thread_runs") or []
    if len(trs) != N_THREAD_RUNS:
        return f"{run['id']}: {len(trs)} thread runs"
    tasks = [t for tr in trs for t in tr.get("task_runs") or []]
    if len(tasks) != N_TASK_RUNS or any(t.get("status") != "COMPLETED" for t in tasks):
        return f"{run['id']}: task runs {[t.get('status') for t in tasks]}"
    v = trs[0].get("variables") or {}
    want = {**expected(run), "n_purch": run["n_purch"], "n_click": run["n_click"],
            "cohort": run["cohort"]}
    got = {k: v.get(k) for k in want}
    if got != want:
        return f"{run['id']}: variables {got} != {want}"
    return None


def started_event(run: dict, offset: int) -> dict:
    """The WF_RUN_STARTED event `POST /wfrun` would produce for `run`."""
    return {
        "wf_run_id": run["id"], "wf_spec_id": f"{SPEC_NAME}-spec",
        "wf_spec_name": SPEC_NAME, "event_type": "WF_RUN_STARTED",
        "thread_id": 0, "timestamp": 1_700_000_000_000 + offset,
        "offset": offset,
        "content": json.dumps({"variables": variables(run)}),
    }


def variables(run: dict) -> dict:
    return {"n_purch": run["n_purch"], "n_click": run["n_click"],
            "cohort": run["cohort"]}
