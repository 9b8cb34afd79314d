"""Per-layer metrics of a traced run.

Live workloads: from the spans `spans.install_live` records inside
`cli serve`, the micro-batch progress of the spec's streaming query,
the system-under-test CPU by process kind and a single-thread fold of
the workload's own runs in this process.  Batch workload: from the
per-query timers and job/stage/task counts `batch_sut.py` records.

Every traced run reports every name in `PER_LAYER`; a layer the
workload leaves idle reads 0.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import batch
import common
import wf

PER_LAYER: list[tuple[str, str, str]] = [
    ("api.post_wfrun_ms", "ms", "lower"),
    ("api.event_append_ms", "ms", "lower"),
    ("api.barrier_wait_ms", "ms", "lower"),
    ("api.get_wfrun_ms", "ms", "lower"),
    ("api.search_ms", "ms", "lower"),
    ("api.list_page_ms", "ms", "lower"),
    ("api.http_overhead_ms", "ms", "lower"),
    ("api.read_p99_ms", "ms", "lower"),
    ("streaming.batches_per_op", "count", "lower"),
    ("streaming.batch_ms", "ms", "lower"),
    ("streaming.idle_batch_ms", "ms", "lower"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.query_planning_ms", "ms", "lower"),
    ("streaming.wal_commit_ms", "ms", "lower"),
    ("streaming.commit_offsets_ms", "ms", "lower"),
    ("streaming.latest_offset_ms", "ms", "lower"),
    ("streaming.get_batch_ms", "ms", "lower"),
    ("streaming.ingest_batch_ms", "ms", "lower"),
    ("streaming.rows_per_batch", "count", "higher"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mem_mb", "MB", "lower"),
    ("streaming.state_commit_ms", "ms", "lower"),
    ("streaming.admission_release_s", "s", "lower"),
    ("engine.fold_runs_per_s", "1/s", "higher"),
    ("engine.fold_share", "ratio", "higher"),
    ("sinks.upsert_ms", "ms", "lower"),
    ("sinks.bulk_upsert_ms", "ms", "lower"),
    ("sinks.output_append_ms", "ms", "lower"),
    ("sinks.read_point_ms", "ms", "lower"),
    ("sinks.search_ms", "ms", "lower"),
    ("sinks.page_ms", "ms", "lower"),
    ("sinks.bytes_per_get", "bytes", "lower"),
    *[(f"{m}_s", "s", "lower") for m in batch.MIX],
    *[(f"query.{q}_s", "s", "lower") for q in batch.mix_names()],
    ("spark.jobs_per_query", "count", "lower"),
    ("spark.stages_per_query", "count", "lower"),
    ("spark.tasks_per_query", "count", "lower"),
    ("spark.single_task_stages_per_query", "count", "lower"),
    ("spark.jobs_per_batch", "count", "lower"),
    ("cpu.jvm_ms_per_op", "ms", "lower"),
    ("cpu.driver_py_ms_per_op", "ms", "lower"),
    ("cpu.workers_py_ms_per_op", "ms", "lower"),
    ("setup.process_start_s", "s", "lower"),
    ("setup.deploy_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("mem.rss_peak_mb", "MB", "lower"),
]
UNITS = {n: u for n, u, _b in PER_LAYER}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _out(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    unknown = set(values) - set(UNITS)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics {sorted(unknown)}")
    return {n: (float(values.get(n, 0.0)), u) for n, u in UNITS.items()}


def _common(r: dict) -> dict[str, float]:
    ops = r["ops"]
    cpu = r["window"]["sut_cpu_by_kind_ms"]
    s = r["setup"]
    return {
        "cpu.jvm_ms_per_op": cpu["jvm"] / ops,
        "cpu.driver_py_ms_per_op": cpu["driver_py"] / ops,
        "cpu.workers_py_ms_per_op": cpu["workers_py"] / ops,
        "setup.process_start_s": s["process_start_s"],
        "setup.deploy_s": s["deploy_s"],
        "setup.warmup_s": s["warmup_s"],
        "mem.rss_peak_mb": r["rss_peak_mb"],
    }


def fold_rate(runs: list[dict]) -> float:
    """Runs per second of one thread folding WF_RUN_STARTED for each
    run through `engine.fold.process_event` with the inline tasks —
    the single-thread baseline of the engine fold.  Checks each final
    state against the closed form on the way."""
    from old_original_java_little_horse_spark.engine.batch_queries import pipeline_executor
    from old_original_java_little_horse_spark.engine.fold import process_event

    spec = wf.spec()
    events = [wf.started_event(r, i + 1) for i, r in enumerate(runs)]
    t0 = time.perf_counter()
    states = [process_event(spec, None, e, executor=pipeline_executor)[0] for e in events]
    dt = time.perf_counter() - t0
    for st, run in zip(states, runs):
        err = wf.check_doc(st, run)
        if err:
            raise AssertionError(f"fold baseline: {err}")
    return len(runs) / dt


def _bucket_bytes(serving_dir: Path, run_ids: list[str]) -> float:
    from old_original_java_little_horse_spark.sinks.serving import _point_dir, snapshots_dir

    sizes = []
    for rid in run_ids:
        d = _point_dir(snapshots_dir(str(serving_dir)), rid)
        if d is None:
            continue
        sizes.append(sum(f.stat().st_size for f in Path(d).rglob("*") if f.is_file()))
    return _mean(sizes)


def live_layers(r: dict) -> dict:
    """Command-path metrics from the commands window, ingest metrics
    from the catch-up window, read-path metrics from the reads window."""
    tr = json.loads(Path(r["trace_out"]).read_text())
    spans, progress = tr["spans"], tr["progress"]
    cmd, rd = r["commands"], r["reads"]
    cw = (cmd["window"]["t0"], cmd["window"]["t1"])
    # Ingest runs until the commands start: the progress event of the
    # batch that served the last backlog run is posted after it is served.
    iw = (r["ingest"]["ingest_window"][0], cw[0])
    rw = (rd["window"]["t0"], rd["window"]["t1"])

    def sel(name, win):
        return [s for s in spans if s["name"] == name and win[0] <= s["start"] <= win[1]]

    def durs(name, win):
        return [(s["end"] - s["start"]) * 1000.0 for s in sel(name, win)]

    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    post_self = [(s["end"] - s["start"] - child_s.get(s["id"], 0.0)) * 1000.0
                 for s in sel("api.post_wfrun", cw)]
    read_roots = [s for s in spans if s["parent"] is None and s["name"] in
                  ("api.get_wfrun", "api.search", "api.list_page")
                  and rw[0] <= s["start"] <= rw[1]]
    api_ms = sum((s["end"] - s["start"]) * 1000.0 for s in read_roots)

    def batches(win):
        ps = [p for p in progress if win[0] <= p["_recorded_at"] <= win[1]]
        return ps, [p for p in ps if p.get("numInputRows", 0) > 0]

    def dm(ps, key):
        return _mean(p["durationMs"].get(key, 0) for p in ps)

    def state(ps, key):
        return [sum(o.get(key, 0) for o in p.get("stateOperators") or []) for p in ps]

    def jobs(win):
        before = [p["_jobs_seen"] for p in progress if p["_recorded_at"] < win[0]
                  and "_jobs_seen" in p]
        upto = [p["_jobs_seen"] for p in progress if p["_recorded_at"] <= win[1]
                and "_jobs_seen" in p]
        return (upto[-1] if upto else 0) - (before[-1] if before else 0)

    c_all, c_busy = batches(cw)
    c_idle = [p for p in c_all if p.get("numInputRows", 0) == 0]
    i_all, i_busy = batches(iw)
    backlog = r["backlog"]
    rate = fold_rate(backlog)
    ingest_add_s = sum(p["durationMs"].get("addBatch", 0) for p in i_busy) / 1000.0
    v = {
        "api.post_wfrun_ms": _mean(post_self),
        "api.event_append_ms": _mean(durs("api.event_append", cw)),
        "api.barrier_wait_ms": _mean(durs("api.barrier_wait", cw)),
        "api.get_wfrun_ms": _mean(durs("api.get_wfrun", rw)),
        "api.search_ms": _mean(durs("api.search", rw)),
        "api.list_page_ms": _mean(durs("api.list_page", rw)),
        "api.http_overhead_ms": (sum(rd["latencies_s"]) * 1000.0 - api_ms)
        / max(1, len(read_roots)),
        "api.read_p99_ms": common.percentile(rd["latencies_s"], 99) * 1000.0,
        "streaming.batches_per_op": len(c_busy) / max(1, cmd["ops"]),
        "streaming.batch_ms": dm(c_busy, "triggerExecution"),
        "streaming.idle_batch_ms": dm(c_idle, "triggerExecution"),
        "streaming.add_batch_ms": dm(c_busy, "addBatch"),
        "streaming.query_planning_ms": dm(c_busy, "queryPlanning"),
        "streaming.wal_commit_ms": dm(c_busy, "walCommit"),
        "streaming.commit_offsets_ms": dm(c_busy, "commitOffsets"),
        "streaming.latest_offset_ms": dm(c_busy, "latestOffset"),
        "streaming.get_batch_ms": dm(c_busy, "getBatch"),
        "streaming.ingest_batch_ms": dm(i_busy, "triggerExecution"),
        "streaming.rows_per_batch": _mean(p["numInputRows"] for p in i_busy),
        "streaming.state_rows": max(state(i_all, "numRowsTotal") or [0]),
        "streaming.state_mem_mb": max(state(i_all, "memoryUsedBytes") or [0]) / 2**20,
        "streaming.state_commit_ms": _mean(state(i_busy, "commitTimeMs")),
        "streaming.admission_release_s": r["ingest"]["release_s"],
        "engine.fold_runs_per_s": rate,
        "engine.fold_share": (len(backlog) / rate) / ingest_add_s if ingest_add_s else 0.0,
        "sinks.upsert_ms": _mean(durs("sinks.upsert_small", cw)),
        "sinks.bulk_upsert_ms": _mean(durs("sinks.upsert_bulk", iw)),
        "sinks.output_append_ms": _mean(durs("sinks.output_append", cw)),
        "sinks.read_point_ms": _mean(durs("sinks.read_point", rw)),
        "sinks.search_ms": _mean(durs("sinks.search", rw)),
        "sinks.page_ms": _mean(durs("sinks.page", rw)),
        "sinks.bytes_per_get": _bucket_bytes(r["serving_dir"], [x["id"] for x in backlog[:50]]),
        "spark.jobs_per_batch": jobs(cw) / max(1, len(c_all)),
        **_common(r),
    }
    r["trace_counts"] = {"spans": len(spans), "progress": len(progress),
                         "command_batches": [len(c_busy), len(c_idle)],
                         "ingest_batches": len(i_busy), "jobs_in_commands": jobs(cw)}
    return _out(v)


def batch_layers(r: dict) -> dict:
    passes = r["sut"]["passes"]
    n = len(passes)
    v: dict[str, float] = {}
    for q in batch.mix_names():
        v[f"query.{q}_s"] = _mean(p["times_s"][q] for p in passes)
        m = f"{batch.module_of(q)}_s"
        v[m] = v.get(m, 0.0) + v[f"query.{q}_s"]
    counts = [c for p in passes for c in p["jobs"].values()]
    for key in ("jobs", "stages", "tasks", "single_task_stages"):
        v[f"spark.{key}_per_query"] = _mean(c[key] for c in counts)
    v.update(_common(r))
    r["trace_counts"] = {"passes": n, "queries": len(counts)}
    return _out(v)


def per_layer_declaration() -> list[dict]:
    return [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER]


if __name__ == "__main__":
    print(json.dumps(per_layer_declaration(), indent=1))
