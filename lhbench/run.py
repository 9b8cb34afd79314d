"""Run one benchmark workload and print its result line.

    python3 lhbench/run.py --workload wf_live --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads: wf_live (the live engine
behind `cli serve`: commands, a catch-up backlog, then served reads)
and batch_queries (`__spark_entry__.queries()`).  With --trace 0 the
result carries the end-to-end metrics; with --trace 1 the per-layer
metrics from the benchmark's spans.  Every run writes a detail file
under .lhbench/ with the host-load sentinel, sample counts and, for a
traced run, its end-to-end values and their overhead against the last
untraced run of the same workload.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import common  # noqa: E402

WORKLOADS = ("wf_live", "batch_queries")
OUT = Path(".lhbench")
END_TO_END = [  # name, unit, better
    ("setup_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("op_p50_ms", "ms", "lower"),
    ("run_p50_ms", "ms", "lower"),
    ("ingest_runs_per_s", "1/s", "higher"),
    ("cpu_ms_per_op", "ms", "lower"),
]


def end_to_end(r: dict) -> dict[str, tuple[float, str]]:
    """`r` names the workload's ops (served reads, or queries), their
    timed window and latencies, the latencies of its units of work to
    completion (command runs, or whole passes), and the runs ingested
    in `ingest_s`."""
    ops, w = r["ops"], r["window"]
    lat_ms = [x * 1000.0 for x in r["latencies_s"]]
    v = {
        "setup_s": r["setup"]["setup_s"],
        "ops_per_s": ops / (w["wall_ms"] / 1000.0),
        "op_p50_ms": common.median(lat_ms),
        "run_p50_ms": common.median(r["run_latencies_s"]) * 1000.0,
        "ingest_runs_per_s": r["ingest_runs"] / r["ingest_s"],
        "cpu_ms_per_op": w["sut_cpu_ms"] / ops,
    }
    return {n: (v[n], u) for n, u, _b in END_TO_END}


def steal_scale(r: dict, windows: dict[str, dict]) -> None:
    """Scale the end-to-end times of `r` by one minus the steal share of
    the window each was measured in (README.md, "Steal scaling"):
    `setup` scales `setup_s`, `ops` the ops' window and latencies,
    `runs` the run latencies, `ingest` the ingest time.  CPU is not
    scaled: stolen time is not charged to a process.  The unscaled
    values and the shares are kept in r["steal_scaling"]."""
    f = {k: 1.0 - common.steal_share(w["sentinel"]) for k, w in windows.items()}
    r["steal_scaling"] = {
        "steal_share": {k: 1.0 - v for k, v in f.items()},
        "unscaled": {k: v for k, (v, _u) in end_to_end(r).items()},
    }
    r["setup"] = {**r["setup"], "setup_s": r["setup"]["setup_s"] * f["setup"]}
    r["window"] = {**r["window"], "wall_ms": r["window"]["wall_ms"] * f["ops"]}
    r["latencies_s"] = [t * f["ops"] for t in r["latencies_s"]]
    r["run_latencies_s"] = [t * f["runs"] for t in r["run_latencies_s"]]
    r["ingest_s"] *= f["ingest"]


def run_live(seed: int, seconds: float, trace: bool, run_dir: Path,
             mon: common.SutMonitor) -> dict:
    import live

    trace_out = run_dir / "trace.json" if trace else None
    srv, first, setup = live.setup(run_dir, mon, seed, trace_out)
    setup_win = setup.pop("window")
    try:
        r = live.wf_live(srv, seed, seconds, mon, first, run_dir)
    finally:
        killed = srv.stop()
    # One more op per served run: its document in the committed store.
    r["errors"] += live.check_store(srv.engine_dir / "serving", r["served_runs"])
    r["attempted"] += len(r["served_runs"])
    rd, cmd, ing = r["reads"], r["commands"], r["ingest"]
    r.update({
        "setup": setup, "ops": rd["ops"], "window": rd["window"],
        "latencies_s": rd["latencies_s"], "run_latencies_s": cmd["latencies_s"],
        "ingest_runs": len(r["backlog"]), "ingest_s": ing["ingest_s"],
        "killed_at_stop": [k["comm"] for k in killed],
        "samples": {"reads": rd["ops"], "runs": cmd["ops"], "walks": rd["walks"]},
        "phases": {"commands_window": {k: v for k, v in cmd["window"].items()
                                       if k != "sentinel"},
                   "commands_sentinel": cmd["window"]["sentinel"],
                   "ingest": ing,
                   "read_mean_ms": {k: 1000 * sum(v) / max(1, len(v))
                                    for k, v in rd["by_kind_s"].items()}},
    })
    r["trace_out"], r["serving_dir"] = trace_out, srv.engine_dir / "serving"
    steal_scale(r, {"setup": setup_win, "ops": rd["window"], "runs": cmd["window"],
                    "ingest": ing["window"]})
    return r


def run_batch(seed: int, trace: bool, run_dir: Path,
              mon: common.SutMonitor) -> dict:
    import batch

    r = batch.run(run_dir, seed, mon, trace)
    passes = r["sut"]["passes"]
    fold = [p["times_s"][batch.FOLD_QUERY] for p in passes]
    r["window"]["wall_ms"] = r["window_s"] * 1000.0
    r["latencies_s"] = [t for p in passes for t in p["times_s"].values()]
    r["run_latencies_s"] = [sum(p["times_s"].values()) for p in passes]
    r["ingest_runs"] = sum(p["rows"][batch.FOLD_QUERY] for p in passes)
    r["ingest_s"] = sum(fold)
    r["attempted"] = r["ops"]
    r["setup"] = {k: r[k] for k in ("setup_s", "process_start_s", "warmup_s")}
    r["setup"]["deploy_s"] = 0.0
    r["samples"] = {"queries": r["ops"], "passes": len(passes)}
    w = r["window"]
    steal_scale(r, {"setup": r["setup_window"], "ops": w, "runs": w, "ingest": w})
    return r


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (Path(common.PACKAGE) / "cli.py").is_file() or not Path("__spark_entry__.py").is_file():
        print(f"no {common.PACKAGE}/ or __spark_entry__.py under {Path.cwd()}: "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, str(Path.cwd()))
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = common.fresh_dir(OUT / "runs" / name)
    mon = common.SutMonitor().start()
    try:
        if args.workload == "batch_queries":
            r = run_batch(args.seed, bool(args.trace), run_dir, mon)
        else:
            r = run_live(args.seed, args.seconds, bool(args.trace), run_dir, mon)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        mon.stop()
    left = common.session_procs(mon.sids)
    if left:
        print(f"processes left behind: {[(p['pid'], p['comm']) for p in left]}",
              file=sys.stderr)
        return 1

    r["rss_peak_mb"] = mon.rss_peak_mb
    e2e = end_to_end(r)
    if args.trace:
        import layers

        metrics = layers.live_layers(r) if args.workload == "wf_live" else layers.batch_layers(r)
    else:
        metrics = e2e
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sentinel": r["window"]["sentinel"],
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "samples": r["samples"], "rss_peak_mb": r["rss_peak_mb"],
        "window": {k: v for k, v in r["window"].items() if k != "sentinel"},
        "setup": r["setup"], "errors": r["errors"][:5],
        **{k: r[k] for k in ("phases", "killed_at_stop", "killed_after_exit",
                             "gen_s", "check_s", "trace_counts", "steal_scaling") if k in r},
    }
    if args.trace:
        base = OUT / "detail" / f"{args.workload}-t0-last.json"
        if base.exists():
            untraced = json.loads(base.read_text())["end_to_end"]
            detail["tracing_overhead"] = {
                k: detail["end_to_end"][k] / untraced[k] - 1.0 for k in untraced
                if untraced[k]}
    detail_path = OUT / "detail" / f"{name}.json"
    common.emit(not r["errors"], r["attempted"], len(r["errors"]), metrics, detail,
                detail_path)
    if not args.trace:
        (OUT / "detail" / f"{args.workload}-t0-last.json").write_text(detail_path.read_text())
    return 0


if __name__ == "__main__":
    t = time.monotonic()
    rc = main()
    sys.stderr.write(f"lhbench: exit {rc} after {time.monotonic() - t:.1f}s\n")
    sys.exit(rc)
