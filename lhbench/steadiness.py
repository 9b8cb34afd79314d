"""Steadiness of the end-to-end metrics: run each workload as one or
two sets of runs of the same tree, one seed per run, and print each
set's median, quartiles and spread (quartile distance over the median)
per metric, and the drift between the two sets' medians, against the
metric's bound from BENCHMARK.json.

    python3 lhbench/steadiness.py --runs 10 --sets 2 [--workload wf_live]

Run from the repository root.  Each run is `lhbench/run.py` with
`--trace 0` and BENCHMARK.json's `run_seconds`; seeds are 1..runs in
the first set and 101..100+runs in the second.  Raw results are kept
in .lhbench/steadiness.json so a report can be reprinted with
--report-only.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

OUT = Path(".lhbench") / "steadiness.json"


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / abs(med) if med else float("inf")}


def drift(m1: float, m2: float, better: str) -> float:
    """How much worse the second median is than the first, as a share
    of the first (negative when it is better)."""
    worse = m2 - m1 if better == "lower" else m1 - m2
    return worse / abs(m1) if m1 else float("inf")


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "lhbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    elapsed = time.monotonic() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    return {"seed": seed, "correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "elapsed_s": elapsed,
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def report(data: dict, bench: dict) -> bool:
    ok = True
    for wl, sets in data.items():
        print(f"\n== {wl}")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cols = []
            meds = []
            for runs in sets:
                vals = [r["metrics"][name] for r in runs]
                if len(vals) < 2:
                    continue
                s = spread(vals)
                meds.append(s["median"])
                flag = "" if name == "setup_s" or s["spread"] <= bound else " OVER"
                ok &= not flag
                cols.append(f"med {s['median']:.4g} q1 {s['q1']:.4g} q3 {s['q3']:.4g} "
                            f"spread {s['spread']:.3f}{flag}")
            line = f"  {name:18s} bound {bound:.2f} | " + " | ".join(cols)
            if len(meds) == 2:
                d = drift(meds[0], meds[1], m["better"])
                line += f" | drift {d:+.3f}" + (" OVER" if d > bound else "")
                ok &= d <= bound
            print(line)
        for i, runs in enumerate(sets):
            att = sum(r["attempted"] for r in runs)
            fail = sum(r["failed"] for r in runs)
            secs = [r["elapsed_s"] for r in runs if "elapsed_s" in r]
            took = f", {statistics.mean(secs):.0f} s per run" if secs else ""
            print(f"  set {i + 1}: {len(runs)} runs, all correct: "
                  f"{all(r['correct'] for r in runs)}, failed {fail}/{att}{took}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--report-only", action="store_true")
    args = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    if args.report_only:
        return 0 if report(json.loads(OUT.read_text()), bench) else 1
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    data = json.loads(OUT.read_text()) if OUT.exists() else {}
    for wl in workloads:
        data[wl] = []
        for k in range(args.sets):
            runs = []
            for i in range(1, args.runs + 1):
                runs.append(run_once(wl, 100 * k + i, bench["run_seconds"]))
                print(f"{wl} set {k + 1} seed {100 * k + i}: {runs[-1]['metrics']}",
                      flush=True)
            data[wl].append(runs)
            OUT.parent.mkdir(exist_ok=True)
            OUT.write_text(json.dumps(data, indent=1))
    return 0 if report({wl: data[wl] for wl in workloads}, bench) else 1


if __name__ == "__main__":
    sys.exit(main())
