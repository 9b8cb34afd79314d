#!/usr/bin/env python
"""Targeted interleaved A/B: HEAD vs an arbitrary commit, restricted to
a named query set (VERDICT r11 item 1).

The per-round bench already interleaves HEAD with the previous
round-end tree, but its verdict spreads 3 passes over ~60 queries; a
suspected per-query regression deserves more passes over just the
movers so the median is load-proof.  This drives the SAME ReplayPeer
protocol (bench.py) with the peer pinned via $SPARK_GRAFT_REPLAY_COMMIT
and N interleaved passes (default 7) over only the queries under test:
within every (pass, query) cell HEAD and the peer run back-to-back with
alternating order, so host weather cancels in the per-query ratio
exactly like the round bench.

Each timed run consumes every output column through Spark's no-op
sink, as the round bench does (`bench.consume`).

Usage:
  python tools/ab_movers.py --commit ad2b7a7^ \
      --queries sim_semantic_decontaminate,sim_topk_bruteforce \
      [--passes 7] [--sf-dir /root/testdata/sf0.1] [--out AB.json]

Prints one JSON line: per-query medians on both sides, ratios, and the
sample arrays (the evidence the medians are stall-free).
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from old_original_java_little_horse_spark.registry import all_queries  # noqa: E402
from old_original_java_little_horse_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--commit", required=True,
                    help="peer rev (e.g. ad2b7a7^) checked out as a worktree")
    ap.add_argument("--queries", required=True,
                    help="comma-separated registry query names")
    ap.add_argument("--passes", type=int, default=7)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=None, help="also write JSON here")
    args = ap.parse_args()

    names = [n.strip() for n in args.queries.split(",") if n.strip()]
    os.environ["SPARK_GRAFT_REPLAY_COMMIT"] = args.commit
    os.environ.pop("SPARK_GRAFT_NO_REPLAY", None)

    peer = bench.ReplayPeer(args.sf_dir)
    peer.wait_fold()  # the runner measures fold first; drain the message
    spark = get_spark("ab-movers")
    specs = all_queries()
    missing = [n for n in names if n not in specs]
    if missing:
        sys.exit(f"unknown queries: {missing}")

    peer.send_warm(names)
    for name in names:  # same one-time-codegen warm as bench.py
        try:
            bench.consume(specs[name].fn(spark, "/root/testdata/sf0.001"))
        except Exception:
            pass
    peer.wait_warm()

    head: dict[str, list[float]] = {n: [] for n in names}
    repl: dict[str, list[float]] = {n: [] for n in names}
    errors: dict[str, str] = {}

    def time_head(name: str) -> float | None:
        try:
            t0 = time.perf_counter()
            bench.consume(specs[name].fn(spark, args.sf_dir))
            return time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001
            errors.setdefault(name, f"{type(e).__name__}: {e}"[:200])
            return None

    for pass_no in range(args.passes):
        for name in names:
            if pass_no % 2 == 0:
                h, r = time_head(name), peer.time_query(name)
            else:
                r, h = peer.time_query(name), time_head(name)
            if h is not None:
                head[name].append(h)
            if r is not None:
                repl[name].append(r)

    def med(xs: list[float]) -> float | None:
        return round(sorted(xs)[len(xs) // 2], 3) if xs else None

    head_med = {n: med(s) for n, s in head.items()}
    repl_med = {n: med(s) for n, s in repl.items()}
    out = {
        "tool": "ab_movers",
        "peer_commit": peer.commit[:12],
        "peer_rev": args.commit,
        "passes": args.passes,
        "sf_dir": args.sf_dir,
        "head_median_s": head_med,
        "peer_median_s": repl_med,
        "ratio_head_over_peer": {
            n: round(head_med[n] / repl_med[n], 3)
            for n in names if head_med.get(n) and repl_med.get(n)},
        "head_samples": {n: [round(x, 3) for x in s] for n, s in head.items()},
        "peer_samples": {n: [round(x, 3) for x in s] for n, s in repl.items()},
    }
    if errors:
        out["head_errors"] = errors
    if peer.error:
        out["peer_error"] = peer.error
    peer.finish(repl, {n: v for n, v in head_med.items() if v})
    line = json.dumps(out)
    if args.out:
        Path(args.out).write_text(json.dumps(out, indent=1))
    print(line)


if __name__ == "__main__":
    main()
