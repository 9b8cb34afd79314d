"""Stateful-engine decade probe (VERDICT r8 item 6).

The 62-query analytic probe (`tools/scale_probe.py`) covers the
DataFrame surface; this one measures the CONTINUOUS ENGINE's scaling
in concurrent runs: N WF_RUN_STARTED commands bulk-produced into a
shared-mode engine (`start_continuous` over a one-spec
`make_spec_registry`, with `serving_dirs` attribution: one checkpoint,
one state store, per-spec serving), folded to COMPLETED through the real
task-execute → task_result → fold loop.  Recorded per decade step
(default N = 100 → 1000):

- wall to all-N-COMPLETED (serving-store poll, paged read)
- fold events/s = folded input rows / summed trigger-execution time
- per-batch durations (median + max over the run's progress entries)
- read-your-writes barrier latency with N runs of retained state
  (5 single-event probes after the backlog drains)

Sub-linear batch-duration growth for the 10× step is the pass
criterion: per-trigger overhead should dominate at small N, so 10×
keys must NOT cost 10× batch time.

    python tools/engine_scale_probe.py [--ns 100 1000] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bulk_produce(events_dir: str, spec_name: str, n: int,
                  prefix: str = "run"):
    """N run_request commands as ONE parquet file (the Kafka-produce
    stand-in, driver-side like cli._write_event; one file ⇒ the next
    trigger sees the whole backlog at once — the stress shape).
    Returns the file's directory."""
    import pyarrow as pa

    from old_original_java_little_horse_spark.streaming.admission import (
        write_event_file)

    base = time.time_ns() // 1000
    now_ms = int(time.time() * 1000)
    tbl = pa.table({
        "wf_run_id": pa.array([f"{prefix}-{i:05d}-{uuid.uuid4().hex[:6]}"
                               for i in range(n)], pa.string()),
        "wf_spec_id": pa.array([None] * n, pa.string()),
        "wf_spec_name": pa.array([spec_name] * n, pa.string()),
        "event_type": pa.array(["WF_RUN_STARTED"] * n, pa.string()),
        "thread_id": pa.array([0] * n, pa.int32()),
        "timestamp": pa.array([now_ms] * n, pa.int64()),
        "offset": pa.array([base + i for i in range(n)], pa.int64()),
        "content": pa.array([json.dumps({"variables": {}})] * n,
                            pa.string()),
    })
    return write_event_file(events_dir, tbl).parent


def probe(spark, n: int, trigger_seconds: float = 0.5,
          state_partitions: int = 8) -> dict:
    from old_original_java_little_horse_spark.engine.fold import make_spec_registry
    from old_original_java_little_horse_spark.harness.cases import all_cases
    from old_original_java_little_horse_spark.harness.executor import execute
    from old_original_java_little_horse_spark.sinks.serving import (
        read_snapshot_rows_page)
    from old_original_java_little_horse_spark.streaming.engine import (
        await_read_your_writes, start_continuous)

    spec = all_cases()["basic"].spec
    workdir = tempfile.mkdtemp(prefix=f"engine-scale-{n}-")
    events_dir = os.path.join(workdir, "events")
    serving_dir = os.path.join(workdir, "serving")
    os.makedirs(events_dir, exist_ok=True)
    ckpt = os.path.join(workdir, "ckpt")
    q = start_continuous(
        spark, events_dir + "/*", make_spec_registry([spec]),
        checkpoint_dir=ckpt,
        output_dir=os.path.join(workdir, "out"),
        serving_dirs={spec["name"]: serving_dir},
        executor=execute,
        trigger_seconds=trigger_seconds,
        state_partitions=state_partitions)
    try:
        # Warm up (codegen + Python workers + batch-0 schema stamp)
        # with one throwaway run, then barrier on it.
        await_read_your_writes(
            ckpt, _bulk_produce(events_dir, spec["name"], 1, prefix="warm"),
            timeout=120)
        base_batch = (q.lastProgress or {}).get("batchId", -1)
        t0 = time.perf_counter()
        _bulk_produce(events_dir, spec["name"], n)
        deadline = time.monotonic() + max(120, n * 0.5)
        while time.monotonic() < deadline:
            rows, _ = read_snapshot_rows_page(serving_dir, n + 8)
            done = sum(r["status"] == "COMPLETED" for r in rows
                       if r["wf_run_id"].startswith("run-"))
            if done >= n:
                break
            # the paged serving read scans ~n rows per poll; at 50k
            # keys a 50 ms cadence would spend more time polling than
            # folding, so back the poll off with n
            time.sleep(0.05 if n <= 5000 else (0.5 if n <= 100_000 else 2.0))
        else:
            raise TimeoutError(f"only {done}/{n} runs completed")
        wall = time.perf_counter() - t0

        # The completing batch's progress entry posts AFTER its sink
        # returns — and the serving store shows COMPLETED rows while
        # the trigger is still committing (bucket writes land before
        # the batch commit), so a fold can drain the poll loop seconds
        # before its progress posts.  Wait (bounded) until the busy
        # entries account for the WHOLE backlog — a multi-batch fold's
        # final (typically largest) batch must not be missed just
        # because earlier batches already posted — then exclude the
        # warm-up batches (codegen) so the ratio compares steady state.
        # The backlog is n run-starts plus the task events each run's
        # fold re-ingests, so >= n is the conservative floor.
        harvest_deadline = time.monotonic() + max(30.0, n / 10_000)
        while True:
            progress = [p for p in (q.recentProgress or [])
                        if p and p.get("batchId", -1) > base_batch]
            folded_so_far = sum(p.get("numInputRows", 0) for p in progress)
            if time.monotonic() > harvest_deadline:
                break
            if folded_so_far >= n:
                # >= n is a conservative FLOOR, not the backlog (each
                # run's fold re-ingests its task events), so the final
                # — typically largest — batch may still be committing.
                # Wait one extra trigger and only stop once the busy
                # batches are quiescent: no new input-carrying batchId
                # and an unchanged row total (ADVICE r11).  Quiesce
                # on BUSY entries only (a timer wake is a batch with
                # no input); the deadline stays the bound.
                def _busy_max(entries):
                    return max((p.get("batchId", -1) for p in entries
                                if p.get("numInputRows", 0) > 0),
                               default=-1)
                last_busy = _busy_max(progress)
                time.sleep(max(trigger_seconds, 1.0))
                again = [p for p in (q.recentProgress or [])
                         if p and p.get("batchId", -1) > base_batch]
                if (_busy_max(again) == last_busy
                        and sum(p.get("numInputRows", 0) for p in again)
                        == folded_so_far):
                    progress = again
                    break
                continue
            time.sleep(trigger_seconds)
        folded = sum(p.get("numInputRows", 0) for p in progress)
        durs = sorted(
            p["durationMs"]["triggerExecution"] / 1000.0
            for p in progress
            if p.get("numInputRows", 0) > 0 and "durationMs" in p)
        fold_s = sum(durs)

        # Barrier latency with N runs of retained state.
        barrier: list[float] = []
        for _ in range(5):
            b0 = time.perf_counter()
            await_read_your_writes(
                ckpt, _bulk_produce(events_dir, spec["name"], 1), timeout=60)
            barrier.append((time.perf_counter() - b0) * 1000.0)
        barrier.sort()

        # State-store footprint with all N runs retained — the 100 TB
        # deployment-sizing row (VERDICT r10 item 5): executor memory
        # held by the store (progress stateOperators) and the durable
        # checkpoint bytes on disk.
        state_rows = state_mem = None
        last = q.lastProgress or (progress[-1] if progress else None)
        for p in [last] + list(reversed(progress)):
            ops = (p or {}).get("stateOperators") or []
            if ops and ops[0].get("numRowsTotal"):
                state_rows = ops[0].get("numRowsTotal")
                state_mem = ops[0].get("memoryUsedBytes")
                break
        state_disk = 0
        state_dir = os.path.join(workdir, "ckpt", "state")
        for root_, _dirs, files in os.walk(state_dir):
            for fn in files:
                try:
                    state_disk += os.path.getsize(os.path.join(root_, fn))
                except OSError:
                    pass
        return {
            "n_runs": n,
            "trigger_ms": int(trigger_seconds * 1000),
            "state_partitions": state_partitions,
            "wall_s": round(wall, 2),
            "events_folded": int(folded),
            "fold_ev_per_s": int(folded / fold_s) if fold_s else None,
            "busy_batches": len(durs),
            "batch_s_median": round(durs[len(durs) // 2], 3) if durs else None,
            "batch_s_max": round(durs[-1], 3) if durs else None,
            "barrier_ms_p50": round(barrier[len(barrier) // 2], 1),
            "state_rows": state_rows,
            "state_mem_mb": round(state_mem / 2**20, 1) if state_mem else None,
            "state_disk_mb": round(state_disk / 2**20, 1),
            "state_mem_mb_per_100k": (
                round(state_mem / 2**20 / (n / 100_000), 1)
                if state_mem else None),
        }
    finally:
        q.stop()
        shutil.rmtree(workdir, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ns", type=int, nargs="+", default=[100, 1000])
    ap.add_argument("--cells", type=int, nargs="*", default=[],
                    help="extra state_partitions cells probed at the "
                         "largest N (the sizing-table knob sweep)")
    ap.add_argument("--parts", type=int, default=8,
                    help="state_partitions for the --ns step runs")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from old_original_java_little_horse_spark.session import get_spark

    spark = get_spark("engine-scale-probe")

    def run_one(n: int, parts: int | None = None) -> dict:
        parts = args.parts if parts is None else parts
        r = probe(spark, n, state_partitions=parts)
        print(f"  N={n} parts={parts}: wall {r['wall_s']}s, "
              f"{r['fold_ev_per_s']} ev/s, "
              f"batch med/max {r['batch_s_median']}/{r['batch_s_max']}s, "
              f"barrier p50 {r['barrier_ms_p50']}ms, "
              f"state {r['state_mem_mb']}MB mem / {r['state_disk_mb']}MB disk",
              file=sys.stderr)
        return r

    steps = [run_one(n) for n in args.ns]
    cells = [run_one(args.ns[-1], parts) for parts in args.cells]

    print("\n| N runs | wall (s) | fold ev/s | batch median (s) "
          "| batch max (s) | barrier p50 (ms) |")
    print("|---|---|---|---|---|---|")
    for r in steps:
        print(f"| {r['n_runs']} | {r['wall_s']} | {r['fold_ev_per_s']} "
              f"| {r['batch_s_median']} | {r['batch_s_max']} "
              f"| {r['barrier_ms_p50']} |")
    out = {"metric": "engine_scale_probe", "steps": steps}
    if cells:
        out[f"state_partition_cells_n{args.ns[-1]}"] = cells
    if len(steps) >= 2 and steps[0]["batch_s_max"] and steps[-1]["batch_s_max"]:
        ratio = steps[-1]["batch_s_max"] / steps[0]["batch_s_max"]
        nratio = steps[-1]["n_runs"] / steps[0]["n_runs"]
        out["batch_max_ratio"] = round(ratio, 2)
        out["sub_linear"] = ratio < nratio
    print(json.dumps(out))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
