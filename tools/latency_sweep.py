"""Serving-deployment latency-knob sweep (VERDICT r8 item 5).

The task round-trip floor is micro-batch quantization, so the two
knobs that set it are the engine trigger interval and the state-store
fanout (every state partition costs a store commit + Arrow round-trip
per micro-batch — `SparkEngineManager.state_partitions`).
This tool measures end-to-end POST→COMPLETED-served p50/p95 over the
grid trigger {100, 200, 500} ms × state_partitions {4, 8, 32}, through
the exact production path `bench.task_roundtrip` drives (HTTP command →
event append → barrier → streaming fold → serving snapshot → HTTP GET),
so the manager defaults are a measured trade, not a point sample.

    python tools/latency_sweep.py [--runs 8] [--out LATENCY_SWEEP.json]

Prints a markdown table (paste into COVERAGE.md) and one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TRIGGERS_MS = (100, 200, 500)
STATE_PARTITIONS = (4, 8, 32)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=8,
                    help="measured round-trips per cell (plus 2 warmup)")
    ap.add_argument("--out", default=None, help="write full JSON here too")
    args = ap.parse_args()

    import bench
    from old_original_java_little_horse_spark.session import get_spark

    spark = get_spark("latency-sweep")
    cells = []
    t_start = time.time()
    for trig in TRIGGERS_MS:
        for parts in STATE_PARTITIONS:
            t0 = time.time()
            try:
                r = bench.task_roundtrip(
                    spark, runs=args.runs,
                    trigger_seconds=trig / 1000.0,
                    state_partitions=parts)
            except Exception as e:  # noqa: BLE001 — record, keep sweeping
                r = {"error": f"{type(e).__name__}: {e}"[:200],
                     "trigger_ms": trig, "state_partitions": parts}
            r["cell_wall_s"] = round(time.time() - t0, 1)
            cells.append(r)
            print(f"  trigger={trig}ms parts={parts}: "
                  f"{r.get('p50_ms', r.get('error'))} "
                  f"(p95 {r.get('p95_ms', '-')}) "
                  f"[{r['cell_wall_s']}s]", file=sys.stderr)

    print("\n| trigger (ms) | state_partitions | p50 (ms) | p95 (ms) |")
    print("|---|---|---|---|")
    for r in cells:
        print(f"| {r['trigger_ms']} | {r['state_partitions']} "
              f"| {r.get('p50_ms', 'ERR')} | {r.get('p95_ms', 'ERR')} |")

    out = {"metric": "task_roundtrip_sweep", "runs_per_cell": args.runs,
           "wall_s": round(time.time() - t_start, 1), "cells": cells}
    print(json.dumps(out))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
