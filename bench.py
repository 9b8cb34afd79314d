#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "samples": {name: [sec, ...]},
"replay_prev": {...}, "sf": ...}.

Self-calibration (VERDICT r6 item 2, drift-proofed per VERDICT r9
item 2): this sandbox shows minutes-long host stalls — the same commit
read 39-51 s across one morning, and BENCH_r09 recorded a x1.24
"regression" that three clean windows (two builder, one judge) refuted
at x0.86.  The r9 design ran HEAD and the replay as two sequential
~80 s blocks, so one loaded half-window inverted the verdict.  Three
keys make each round's artifact separable from host weather WITHOUT
judge-side re-runs:

- ``samples``: all N_TIMED_RUNS per-query wall times (the published
  ``queries`` value is their median) — a stall poisons one interleaved
  sample, and the spread exposes it;
- ``replay_prev``: the previous round's end-of-round tree, checked out
  into a throwaway ``git worktree`` and driven as a PEER PROCESS whose
  query executions INTERLEAVE with HEAD's per query (HEAD q, replay q,
  HEAD q', replay q', ... with the order within each pair alternating
  per timed pass).  Any load burst therefore hits HEAD and replay
  samples alike and cancels in the per-query ratio — a burst can no
  longer land entirely inside one side's block.  Skipped when
  $SPARK_GRAFT_NO_REPLAY is set.
- ``per_query_ratio`` (its own stdout line): median-of-passes
  HEAD/replay ratio per query, so the artifact itself carries the
  per-query round-over-round verdict, not just the totals.  Since
  round 14 the FINAL summary line carries the per-query seconds dict
  (2-decimal) and takes tail-capture priority — the driver's PERF
  per_query/scaling blocks come from it (VERDICT r13 item 2) — and
  the full artifact is ALSO written core-count-suffixed
  (``BENCH_LASTRUN_c{N}.json``) so a scaling re-run at another core
  count cannot clobber the committed window.

Timing counts full execution (every output column consumed through
Spark's no-op sink, see `consume`) but not session startup.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from old_original_java_little_horse_spark.registry import all_queries
from old_original_java_little_horse_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q4_priority_semi",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q11_important_parts",
    "q12_shipping_delay",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "sk_hll_registers",
    "sk_cms_point_queries",
    "idx_tfidf_topk",
    "d_winnow_fingerprint_pairs",
    "g_pagerank_purchases",
    "q22_idle_customers_anti",
    "a7_event_rate_windows",
    "j7_interval_overlap",
    "d_url_dedup",
    "t_decontaminate_bloom",
    "t_stratified_sample",
    "t_source_overlap",
    "dq_check_suite",
    "j4_fifo_correlation",
    "a1_index_posting",
    "w1_position_numbering",
    "w4_sessionize",
    "j5_asof_join",
    "d_exact_dedup",
    "d_minhash_lsh_pairs",
    "d_ngram_jaccard_pairs",
    "d_dup_clusters",
    "d_dedup_canonical",
    "sim_topk_bruteforce",
    "sim_label_blocked_neardup",
    "sim_ivf_ann",
    "sim_pq_adc_topk",
    "sim_semantic_decontaminate",
    "t_quality_score",
    "t_token_count",
    "t_segment_dedup",
    "t_lm_score",
    "mm_metadata_extract",
    "engine_pipeline_fold",
    "engine_run_index",
    "stream_doc_dedup",
    "g_triangle_count",
    "a9_markov_transitions",
    "w9_sliding_windows",
    "agg_pivot_matrix",
    "sk_kmv_set_ops",
    "j9_salted_skew_join",
    "a10_top_paths",
    "idx_bm25_topk",
    "a11_rfm_segments",
    "mm_shard_assign",
]

N_TIMED_RUNS = 3  # median-of-3: one timed run was observed to mis-read
                  # the first query by 4x (warm-up/page-cache noise).
                  # The rounds are INTERLEAVED (every query once, then
                  # repeat) rather than back-to-back: the sandbox shows
                  # minutes-long host stalls (same-commit totals read
                  # 39-51 s across one morning), and three consecutive
                  # samples all land inside such a window — tripling a
                  # query's median — while interleaved samples sit
                  # minutes apart, so a stall poisons at most one of
                  # the three and the median holds.


def consume(df) -> None:
    """Execute `df` in full: every output column through Spark's no-op
    sink.  Under `.count()` Catalyst prunes a per-row projection or a
    left-joined column away (t_lm_score, t_dsir_weights, t_fingerprint
    and t_repetition_score reduce to a document-count scan), so a
    counted query times a plan the query's own work is not in."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Measure single-threaded fold throughput BEFORE the Spark JVM exists:
    # measuring it after 18 queries on local[32] races against executor
    # threads and GC, and was observed to read up to 3.6x low.
    fold_eps = fold_throughput()
    # Spawn the replay peer BEFORE HEAD's JVM: the peer measures ITS
    # fold throughput first, while this process blocks waiting — so
    # both fold numbers are taken with no JVM alive.
    peer = ReplayPeer(sf_dir)
    peer.wait_fold()
    spark = get_spark("bench")
    specs = all_queries()
    names = [n for n in HEADLINE if n in specs]

    # Warm each headline plan once at sf0.001 (60x smaller): the first
    # execution of a plan shape pays one-time whole-stage-codegen
    # compilation, Arrow serializer setup, and Python-worker spawn —
    # ~1-2 s per distinct plan regardless of data size (measured ~40%
    # of the cold sf0.1 total).  Warming makes the timed runs measure
    # data-proportional work, which is what extrapolates to cluster
    # scale; the warm pass itself runs the real queries end-to-end.
    # The peer warms concurrently (untimed on both sides).
    peer.send_warm(names)
    for name in names:
        try:
            consume(specs[name].fn(spark, "/root/testdata/sf0.001"))
        except Exception:
            pass  # a query that only works at larger SF still times below
    peer.wait_warm()

    head_errors: dict[str, str] = {}

    def time_head(name: str) -> float | None:
        """One timed HEAD execution; None on failure — a single broken
        query must cost its own row, never the whole artifact."""
        try:
            t0 = time.perf_counter()
            consume(specs[name].fn(spark, sf_dir))
            return time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001
            head_errors.setdefault(name, f"{type(e).__name__}: {e}"[:200])
            return None

    # Interleaved timed passes: within every (pass, query) cell HEAD
    # and the replay peer run back-to-back, with the order alternating
    # per pass so neither side systematically enjoys a warmer page
    # cache.  While one side runs, the other idles on a pipe read.
    samples: dict[str, list[float]] = {name: [] for name in names}
    replay_samples: dict[str, list[float]] = {name: [] for name in names}
    for pass_no in range(N_TIMED_RUNS):
        for name in names:
            if pass_no % 2 == 0:
                h = time_head(name)
                r = peer.time_query(name)
            else:
                r = peer.time_query(name)
                h = time_head(name)
            if h is not None:
                samples[name].append(h)
            if r is not None:
                replay_samples[name].append(r)
    timings = {name: round(sorted(runs)[len(runs) // 2], 3)
               for name, runs in samples.items() if runs}
    total = round(sum(timings.values()), 3)
    replay = peer.finish(replay_samples, timings)
    # From here on, NOTHING may prevent the JSON line: a dying JVM
    # costs its own feature, never the measurements.
    try:
        roundtrip = task_roundtrip(spark)
    except Exception as e:  # noqa: BLE001 — latency is additive evidence
        roundtrip = {"error": f"{type(e).__name__}: {e}"[:200]}
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "samples": {n: [round(s, 3) for s in runs]
                    for n, runs in samples.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "engine_fold_events_per_sec": fold_eps,
        "task_roundtrip_ms": roundtrip,
    }
    if head_errors:
        out["head_errors"] = head_errors
    if replay is not None:
        out["replay_prev"] = replay
    try:  # full artifact to disk too — immune to stdout tail capture.
        # Written BOTH to the legacy fixed name AND a core-count-
        # suffixed one (VERDICT r13 item 2): the driver re-runs the
        # bench at a lower core count for its scaling measurement, and
        # the fixed name self-overwrote — the committed 32-core window
        # was clobbered by the 8-core run.
        full = json.dumps(out, indent=1)
        here = Path(__file__).resolve().parent
        here.joinpath("BENCH_LASTRUN_FULL.json").write_text(full)
        from old_original_java_little_horse_spark.session import (
            default_parallelism)
        here.joinpath(
            f"BENCH_LASTRUN_c{default_parallelism()}.json").write_text(full)
    except Exception:
        pass
    print(json.dumps(out))
    ratio_line = per_query_ratio_line(out)
    if ratio_line is not None:
        print(ratio_line)
    print(summary_line(out))


def per_query_ratio_line(out: dict) -> str | None:
    """Own stdout line with the per-query HEAD/replay ratio dict
    (VERDICT r9 item 2).  Since round 14 the FINAL summary line carries
    the per-query seconds dict (VERDICT r13 item 2) and takes priority
    in the driver's ~2000-char stdout tail, so this line may be sliced
    by the capture window; it stays for humans reading full logs, and
    the authoritative per-query replay data is in the committed
    ``BENCH_LASTRUN_c{N}.json`` artifact (``queries`` +
    ``replay_prev.queries``), from which these ratios are exactly
    reconstructible."""
    replay = out.get("replay_prev") or {}
    rq = replay.get("queries") or {}
    hq = out.get("queries") or {}
    ratios = {n: round(hq[n] / rq[n], 2) for n in hq if rq.get(n)}
    if not ratios:
        return None
    return json.dumps({"per_query_ratio": ratios}, separators=(",", ":"))


def summary_line(out: dict) -> str:
    """Compact FINAL stdout line (VERDICT r7 item 1): the driver
    captures only a ~2000-char tail of stdout, and the full artifact
    grew past it in round 7 (samples + replay_prev ≈ 7 KB), slicing
    the headline `value` off the FRONT of the single line →
    BENCH_r07 "parsed": null.  The last line printed must therefore
    always be a self-contained summary under the capture window; the
    full line above it stays for humans/the judge.

    Since round 14 the summary INCLUDES the per-query seconds dict at
    2 decimals (VERDICT r13 item 2: the r13 compact line dropped it
    and the driver's PERF artifact lost all per-query and scaling
    evidence — `per_query: {}`).  Measured worst case: 62 queries ≈
    1.9 KB total, still inside the tail; the <1990 assertion below
    guards the budget the way <500 did before."""
    summary = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "engine_fold_events_per_sec": out["engine_fold_events_per_sec"],
    }
    rt = out.get("task_roundtrip_ms") or {}
    if "p50_ms" in rt:
        summary["task_roundtrip_p50_ms"] = rt["p50_ms"]
        summary["task_roundtrip_p95_ms"] = rt["p95_ms"]
    elif "error" in rt:
        summary["task_roundtrip_error"] = str(rt["error"])[:80]
    replay = out.get("replay_prev")
    if replay is not None:
        if "error" in replay:
            summary["replay_prev_error"] = str(replay["error"])[:120]
        else:
            summary["replay_prev_value"] = replay.get("value")
            # The drift-proof round-over-round verdict (VERDICT r9
            # item 2): HEAD vs replay over the COMMON queries, both
            # sides measured interleaved in the same window.
            if replay.get("ratio") is not None:
                summary["head_vs_replay_ratio"] = replay["ratio"]
                summary["head_value_common"] = replay.get("head_value_common")
                summary["n_common"] = replay.get("n_common")
    if out.get("queries"):
        summary["queries"] = {n: round(v, 2)
                              for n, v in out["queries"].items()}
    line = json.dumps(summary, separators=(",", ":"))
    assert len(line) < 1990, f"summary line grew to {len(line)} bytes"
    return line


# Protocol script driven inside the previous round's worktree: it
# imports the SNAPSHOT's registry/session (sys.path[0] = worktree),
# measures the snapshot's fold throughput (while the parent blocks,
# so no JVM competes), then serves timed query requests line-by-line
# over stdin/stdout.  The script itself is generated by the CURRENT
# bench.py, so old snapshots need no protocol support of their own.
_RUNNER_SRC = r'''
import json, sys, time
wt = sys.argv[1]
sys.path.insert(0, wt)

def emit(obj):
    sys.stdout.write(json.dumps(obj, separators=(",", ":")) + "\n")
    sys.stdout.flush()

try:
    import bench as old_bench
    emit({"type": "fold", "eps": old_bench.fold_throughput()})
except Exception as e:
    emit({"type": "fold", "eps": None, "error": str(e)[:200]})

from old_original_java_little_horse_spark.registry import all_queries
from old_original_java_little_horse_spark.session import get_spark

spark = get_spark("bench-replay")
specs = all_queries()
emit({"type": "ready", "have": sorted(specs)})

for line in sys.stdin:
    try:
        req = json.loads(line)
    except ValueError:
        continue
    cmd = req.get("cmd")
    if cmd == "quit":
        break
    if cmd == "warm":
        n = 0
        for name in req["queries"]:
            if name not in specs:
                continue
            try:
                specs[name].fn(spark, req["sf_dir"]).write.format(
                    "noop").mode("overwrite").save()
                n += 1
            except Exception:
                pass
        emit({"type": "warmed", "n": n})
    elif cmd == "time":
        name = req["query"]
        if name not in specs:
            emit({"type": "timing", "query": name, "sec": None,
                  "error": "missing"})
            continue
        try:
            t0 = time.perf_counter()
            specs[name].fn(spark, req["sf_dir"]).write.format(
                "noop").mode("overwrite").save()  # bench.consume
            emit({"type": "timing", "query": name,
                  "sec": time.perf_counter() - t0})
        except Exception as e:
            emit({"type": "timing", "query": name, "sec": None,
                  "error": str(e)[:200]})
try:
    spark.stop()
except Exception:
    pass
'''


class ReplayPeer:
    """The previous round's tree as an interleaved peer process.

    Checks out the most recent prior round-end commit into a throwaway
    ``git worktree`` and drives the SNAPSHOT's own registry through the
    generated protocol runner, one timed query per request, so HEAD and
    replay samples for the same query land seconds apart under the same
    host weather.  Every method is failure-proof: any spawn/IO error
    marks the peer dead and the bench degrades to HEAD-only, never
    sinking the artifact.  Suppressed via $SPARK_GRAFT_NO_REPLAY."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.repo = Path(__file__).resolve().parent
        self.error: str | None = None
        self.commit = self.subject = ""
        self.fold_eps: int | None = None
        self.have: set[str] = set()
        self._proc = None
        self._queue = None
        self._wt: Path | None = None
        self._warm_pending = False
        self._stale: set[str] = set()  # timed-out queries whose late
        # timing messages must be dropped, not attributed to a later one
        self._consecutive_timeouts = 0  # 2 in a row == a wedged peer,
        # not a slow query: the serial runner is still stuck, so every
        # further send would burn its full timeout too — die instead
        if os.environ.get("SPARK_GRAFT_NO_REPLAY"):
            self.error = "disabled"
            return
        try:
            self._spawn()
        except Exception as e:  # noqa: BLE001 — replay is best-effort
            self._die(f"{type(e).__name__}: {e}")

    def _spawn(self) -> None:
        import queue
        import threading

        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=self.repo,
            capture_output=True, text=True, timeout=60).stdout.strip()
        if not head:
            head = "<unknown-head>"  # keep the HEAD-skip filter a no-op
        # $SPARK_GRAFT_REPLAY_COMMIT pins the peer to an arbitrary rev
        # (tools/ab_movers.py uses this for targeted regression A/Bs);
        # otherwise pick the previous round's final tree, marked either
        # by the driver's early "end-of-round snapshot" commits (rounds
        # 2-6) or, since round 7, by its "round N:
        # verdict/advice/correctness/bench" commit — prefer the most
        # recent so the replay measures the PREVIOUS round, not a
        # fossil.  Skip HEAD itself: the driver may run bench at a
        # fresh round-end commit.
        import re
        pinned = os.environ.get("SPARK_GRAFT_REPLAY_COMMIT")
        if pinned:
            # --verify + ^{commit}: a bare `rev-parse <bogus>` echoes the
            # argument to stdout (exit 128), which would slip the bogus
            # string past the empty-check and blow up later in
            # `git worktree add` (ADVICE r12).
            rev = subprocess.run(
                ["git", "rev-parse", "--verify", f"{pinned}^{{commit}}"],
                cwd=self.repo, capture_output=True, text=True, timeout=60)
            self.commit = rev.stdout.strip()
            if rev.returncode != 0 or not self.commit:
                self.error = f"unresolvable replay commit: {pinned}"
                return
            self.subject = f"(pinned: {pinned})"
        else:
            log = subprocess.run(
                ["git", "log", "-E", "--grep",
                 r"^round [0-9]+: (end-of-round snapshot|verdict/advice)",
                 "-n", "20", "--format=%H %s"],
                cwd=self.repo, capture_output=True, text=True, timeout=60)
            pat = re.compile(
                r"^[0-9a-f]{40} round \d+: "
                r"(end-of-round snapshot|verdict/advice/correctness/bench)")
            lines = [ln for ln in log.stdout.splitlines()
                     if pat.match(ln) and not ln.startswith(head)]
            if not lines:
                self.error = "no prior round-end commit"
                return
            self.commit, _, self.subject = lines[0].partition(" ")
        tmp = Path(tempfile.mkdtemp(prefix="bench-replay-"))
        self._wt = tmp / "wt"
        subprocess.run(
            ["git", "worktree", "add", "--detach", str(self._wt),
             self.commit],
            cwd=self.repo, check=True, capture_output=True, timeout=300)
        runner = tmp / "runner.py"
        runner.write_text(_RUNNER_SRC)
        self._stderr = open(tmp / "stderr.log", "w")
        self._proc = subprocess.Popen(
            [sys.executable, str(runner), str(self._wt)],
            cwd=self._wt, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._stderr, text=True,
            env=dict(os.environ, SPARK_GRAFT_NO_REPLAY="1"))
        self._queue = queue.Queue()

        def pump(proc=self._proc, q=self._queue):
            for ln in proc.stdout:
                if ln.startswith("{"):
                    try:
                        q.put(json.loads(ln))
                    except ValueError:
                        pass
            q.put(None)  # EOF sentinel

        threading.Thread(target=pump, daemon=True).start()

    def _die(self, why: str) -> None:
        self.error = self.error or why[:300]
        if self._proc is not None:
            try:
                self._proc.kill()
            except Exception:
                pass
            self._proc = None

    def _recv(self, want_type: str, timeout: float) -> dict | None:
        import queue as _q
        if self._proc is None:
            return None
        deadline = time.monotonic() + timeout
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                self._die(f"timeout waiting for {want_type}")
                return None
            try:
                msg = self._queue.get(timeout=min(left, 5.0))
            except _q.Empty:
                continue
            if msg is None:
                self._die(f"peer exited before {want_type}")
                return None
            if msg.get("type") == want_type:
                return msg
            # unexpected message type: drop and keep waiting

    def _send(self, obj: dict) -> bool:
        if self._proc is None:
            return False
        try:
            self._proc.stdin.write(json.dumps(obj) + "\n")
            self._proc.stdin.flush()
            return True
        except Exception as e:  # noqa: BLE001
            self._die(f"send failed: {e}")
            return False

    def wait_fold(self) -> None:
        """Block until the peer's pre-JVM fold measurement lands (the
        parent idles meanwhile, so the measurement window is clean)."""
        msg = self._recv("fold", timeout=120)
        if msg is not None:
            self.fold_eps = msg.get("eps")

    def send_warm(self, names: list[str]) -> None:
        msg = self._recv("ready", timeout=300)
        if msg is None:
            return
        self.have = set(msg.get("have") or [])
        if self._send({"cmd": "warm", "sf_dir": "/root/testdata/sf0.001",
                       "queries": [n for n in names if n in self.have]}):
            self._warm_pending = True

    def wait_warm(self) -> None:
        if self._warm_pending:
            self._recv("warmed", timeout=900)
            self._warm_pending = False

    def time_query(self, name: str) -> float | None:
        """One timed execution of `name` in the snapshot tree, consumed
        as `consume` does; None on any failure (missing query, dead
        peer, per-query timeout).

        A per-query TIMEOUT does not kill the peer (ADVICE r10): one
        host stall inside one replay query used to degrade the whole
        round-over-round verdict to partial by losing every remaining
        sample.  The query is skipped, its name remembered so a late
        timing message is dropped instead of mis-attributed to the
        next query (the runner processes commands serially, so replies
        stay in send order).  `_die` is reserved for pipe/EOF/send
        failures — and for TWO timeouts in a row, which means the
        serial runner is wedged (a stall much longer than the
        timeout): without that bound every subsequent query would burn
        its full timeout against the stuck runner too."""
        import queue as _q

        if self._proc is None or name not in self.have:
            return None
        if not self._send({"cmd": "time", "query": name,
                           "sf_dir": self.sf_dir}):
            return None
        timeout = float(os.environ.get("SPARK_GRAFT_REPLAY_QUERY_TIMEOUT", "300"))
        deadline = time.monotonic() + timeout
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                self._consecutive_timeouts += 1
                if self._consecutive_timeouts >= 2:
                    self._die(f"peer wedged: consecutive timeouts at {name}")
                    return None
                self._stale.add(name)
                self.error = self.error or f"query timeout: {name}"
                return None
            try:
                msg = self._queue.get(timeout=min(left, 5.0))
            except _q.Empty:
                continue
            if msg is None:
                self._die(f"peer exited during {name}")
                return None
            if msg.get("type") != "timing":
                continue  # unrelated message: drop and keep waiting
            q = msg.get("query")
            if q in self._stale:
                self._stale.discard(q)  # straggler from a skipped query
                continue
            if q == name:
                self._consecutive_timeouts = 0
                return msg.get("sec")

    def finish(self, replay_samples: dict[str, list[float]],
               head_timings: dict[str, float]) -> dict | None:
        """Shut the peer down and build the replay_prev artifact block:
        per-query medians, the common-query totals on BOTH sides, and
        their ratio (the round-over-round verdict)."""
        if self._proc is not None:
            self._send({"cmd": "quit"})
            try:
                self._proc.wait(timeout=60)
            except Exception:
                self._die("quit timeout")
        self._cleanup()
        if self.error == "disabled":
            return None
        rq = {n: round(sorted(s)[len(s) // 2], 3)
              for n, s in replay_samples.items() if s}
        if not rq:
            return {"error": self.error or "no replay timings"}
        common = [n for n in head_timings if n in rq]
        head_common = round(sum(head_timings[n] for n in common), 3)
        replay_common = round(sum(rq[n] for n in common), 3)
        out = {
            "commit": self.commit[:9], "subject": self.subject,
            "interleaved": True,
            "value": replay_common,
            "head_value_common": head_common,
            "ratio": round(head_common / replay_common, 3)
            if replay_common else None,
            "n_common": len(common),
            "queries": rq,
            "engine_fold_events_per_sec": self.fold_eps,
        }
        missing = sorted(set(head_timings) - set(rq))
        if missing:
            out["missing_in_replay"] = missing
        if self.error:
            out["partial_error"] = self.error
        return out

    def _cleanup(self) -> None:
        # Best-effort only: a cleanup failure must never escape — the
        # worktree is throwaway, the artifact is not.
        try:
            self._stderr.close()
        except Exception:
            pass
        if self._wt is not None:
            try:
                subprocess.run(
                    ["git", "worktree", "remove", "--force", str(self._wt)],
                    cwd=self.repo, capture_output=True, timeout=120)
                import shutil
                shutil.rmtree(self._wt.parent, ignore_errors=True)
            except Exception:
                pass
            self._wt = None


def task_roundtrip(spark, runs: int = 20, trigger_seconds: float = 0.2,
                   state_partitions: int = 4) -> dict | None:
    """End-to-end task round-trip latency, the last BASELINE.md part-B
    row without a number (VERDICT r7 item 5): POST /wfrun of the
    one-task harness `basic` case → COMPLETED folded document visible
    over GET /wfrun, measured over `runs` sequential runs against the
    in-process server.  This traverses the exact production path —
    HTTP command → event append → read-your-writes barrier →
    streaming fold → serving snapshot → HTTP read — with a 2 ms GET
    poll so the measurement resolves the engine, not the poll.  The
    reference envelope is its 10 ms worker poll + 50 ms barrier
    granularity per hop (BASELINE.md part A rows 1-2); ours is
    micro-batch-quantized by the 200 ms engine trigger, so the
    comparable is p50 ≈ a small integer multiple of the trigger."""
    import shutil

    from old_original_java_little_horse_spark.api.engines import (
        SparkEngineManager)
    from old_original_java_little_horse_spark.api.http_server import (
        LittleHorseAPI, LittleHorseHTTPServer)
    from old_original_java_little_horse_spark.api.metadata import MetadataStore
    from old_original_java_little_horse_spark.harness.cases import all_cases
    from old_original_java_little_horse_spark.harness.executor import execute
    from old_original_java_little_horse_spark.harness.runner import (
        _req, deploy_case)

    case = all_cases()["basic"]
    workdir = tempfile.mkdtemp(prefix="lh-bench-lat-")
    mgr = SparkEngineManager(spark, os.path.join(workdir, "engines"),
                             executor=execute,
                             trigger_seconds=trigger_seconds,
                             state_partitions=state_partitions)
    api_obj = LittleHorseAPI(
        spark, metadata=MetadataStore(os.path.join(workdir, "meta")),
        engines=mgr)
    srv = LittleHorseHTTPServer(api_obj).start()
    api = f"http://127.0.0.1:{srv.port}"
    warmup = 2  # first runs pay codegen + Python-worker spawn
    lat: list[float] = []
    try:
        spec_id = deploy_case(api, case)
        for i in range(runs + warmup):
            t0 = time.perf_counter()
            st, run = _req(api, "POST", "/wfrun",
                           {"wf_spec_name": case.spec["name"],
                            "variables": {}})
            assert st == 201, (st, run)
            rid = run["id"]
            deadline = time.monotonic() + 120
            while time.monotonic() < deadline:
                st, doc = _req(api, "GET", f"/wfrun/{rid}")
                if st == 200 and doc.get("status") == "COMPLETED":
                    break
                time.sleep(0.002)
            else:
                raise TimeoutError(f"run {rid} never completed")
            if i >= warmup:
                lat.append((time.perf_counter() - t0) * 1000.0)
        _req(api, "DELETE", f"/wfSpec/{spec_id}")
    finally:
        srv.stop()
        # DELETE /wfSpec already undeployed the engine on the happy
        # path; stop_all() covers a probe that died mid-loop, so no
        # orphaned continuous query keeps triggering against the
        # removed workdir for the rest of the bench.
        mgr.stop_all()
        shutil.rmtree(workdir, ignore_errors=True)
    lat.sort()
    return {"p50_ms": round(lat[len(lat) // 2], 1),
            "p95_ms": round(lat[min(len(lat) - 1, int(len(lat) * 0.95))], 1),
            "runs": len(lat),
            "trigger_ms": int(trigger_seconds * 1000),
            "state_partitions": state_partitions}


def fold_throughput(min_seconds: float = 2.0) -> int:
    """Single-threaded engine-fold throughput (events/sec), the
    comparable for the reference's per-event cost model
    (BASELINE.md part A: full WFRun JSON deser → fixpoint → reser per
    event).  Measures the async 5-event lifecycle of a 2-task run;
    Spark parallelism multiplies this per core.

    Median of 3 measurement windows — the same noise policy as the
    query timings above: a single window was observed to read ~20% low
    under concurrent sandbox load (r4: 18,051 vs 21.8k-26.5k measured
    idle), which says nothing about the engine."""
    return int(sorted(_fold_window(min_seconds) for _ in range(3))[1])


def _fold_window(min_seconds: float) -> float:
    """One timed fold window (events/sec)."""
    import json as _json

    from old_original_java_little_horse_spark.engine.fold import process_event
    from old_original_java_little_horse_spark.sdk.builder import Workflow, var

    wf = Workflow("bench-wf")
    t = wf.thread("entrypoint")
    t.add_variable("n", "INT", default=0)
    n1 = t.execute("t1", x=var("n"))
    t.mutate(n1, "n", "ADD", literal=1)
    n2 = t.execute("t2", x=var("n"))
    t.mutate(n2, "n", "ADD", literal=1)
    spec = wf.build()

    def task_ev(rid: str, offset: int, position: int, sub: dict) -> dict:
        return {"wf_run_id": rid, "event_type": "TASK_EVENT", "thread_id": 0,
                "timestamp": 1000, "offset": offset,
                "content": {"thread_id": 0, "task_run_position": position, **sub}}

    ok = {"ended_event": {"result": {"stdout": "1", "success": True, "returncode": 0}}}
    started = {"started_event": {"worker_id": "w"}}

    def run_events(i: int):
        rid = f"r{i}"
        return [
            {"wf_run_id": rid, "wf_spec_id": "s", "wf_spec_name": "s",
             "event_type": "WF_RUN_STARTED", "thread_id": 0, "timestamp": 1000,
             "offset": 0, "content": {"variables": {"n": i}}},
            task_ev(rid, 1, 0, started),
            task_ev(rid, 2, 0, ok),
            task_ev(rid, 3, 1, started),
            task_ev(rid, 4, 1, ok),
        ]

    n_events = 0
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < min_seconds:
        state = None
        for ev in run_events(i):
            # Round-trip the state through JSON like the streaming
            # engine does per micro-batch (the honest comparable).
            if state is not None:
                state = _json.loads(_json.dumps(state))
            state, _ = process_event(spec, state, ev)
            n_events += 1
        assert state["status"] == "COMPLETED"
        i += 1
    return n_events / (time.perf_counter() - t0)


if __name__ == "__main__":
    main()
