"""The batch workload: seeded input sets, the system-under-test process
(`batch_sut.py`) and the check of every result against its
`oracle_sql()` on DuckDB over the same inputs, outside the timed
window."""

from __future__ import annotations

import datetime as dt
import json
import math
import sys
import time
from collections import Counter
from decimal import Decimal
from pathlib import Path

import common
import datagen

# The query mix, by module.  Every query has a DuckDB oracle.
MIX = {
    "operators.relational": ["q1_pricing_summary"],
    "operators.tpch": ["q10_returned_items"],
    "operators.analytics": ["w4_sessionize"],
    "functions.dedup": ["d_exact_dedup", "d_winnow_fingerprint_pairs"],
    "functions.curation": ["t_repetition_score"],
    "functions.corpus": ["t_top_ngrams"],
    "functions.similarity": ["sim_topk_bruteforce"],
    "engine.batch_queries": ["engine_pipeline_fold"],
}
FOLD_QUERY = "engine_pipeline_fold"
# Timed passes per run, whatever `--seconds` says.  One: a second pass
# steadied no metric across runs (the host's speed moves over minutes,
# not within a run) and cost ~16 s of every run's budget (README.md).
TIMED_PASSES = 1
WARMUP_SHARE = 4
SUT_TIMEOUT = 170.0


def mix_names() -> list[str]:
    return [q for qs in MIX.values() for q in qs]


def module_of(name: str) -> str:
    return next(m for m, qs in MIX.items() if name in qs)


# -- oracle comparison --------------------------------------------------------

def norm(v):
    """One value in a form both engines agree on: numbers compare by
    value to 12 significant digits (the two engines sum floats in
    different orders), integral numbers as integers, nested lists
    element-wise, times as ISO strings."""
    if type(v) is str:
        return v
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f == int(f) and abs(f) < 1e15:
            return str(int(f))
        return f"{f:.12g}"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    return str(v)


def row_multiset(rows, cols: list[str]) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm(r[i]) for i in order) for r in rows)


def compare(got_rows, got_cols, want_rows, want_cols) -> str | None:
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)}"
    g, w = row_multiset(got_rows, got_cols), row_multiset(want_rows, want_cols)
    if g != w:
        diff = list((g - w).items())[:2]
        return f"values differ, e.g. {diff}"
    return None


def check_results(res_dir: Path, passes: list[dict], oracles: dict[str, str]) -> list[str]:
    """Every result of every pass against its oracle on DuckDB over the
    pass's own input set; the passes are checked side by side."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb
    import pyarrow.parquet as pq

    def check_pass(k: int, p: dict) -> list[str]:
        errors = []
        con = duckdb.connect()
        try:
            for t in datagen.SIZES.keys() | {"region", "nation"}:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p['set']}/{t}.parquet'")
            for name in p["times_s"]:
                tbl = pq.read_table(res_dir / str(k) / f"{name}.parquet")
                cur = con.execute(oracles[name])
                err = compare([tuple(r.values()) for r in tbl.to_pylist()], tbl.column_names,
                              cur.fetchall(), [d[0] for d in cur.description])
                if err:
                    errors.append(f"pass {k} {name}: {err}")
        finally:
            con.close()
        return errors

    with ThreadPoolExecutor(len(passes)) as ex:
        found = list(ex.map(check_pass, range(1, len(passes) + 1), passes))
    return [e for errs in found for e in errs]


# -- the workload ---------------------------------------------------------------

def make_sets(run_dir: Path, seed: int, n_timed: int) -> list[str]:
    """One warm-up set and `n_timed` timed sets of the same make-up,
    each from its own seed.  The warm-up set has 1/WARMUP_SHARE of the
    rows, to fit the run budget: the session is not fully warm after it
    (a first timed pass ran ~15% slower than a second), which costs
    every run the same share."""
    small = {t: n // WARMUP_SHARE for t, n in datagen.SIZES.items()}
    dirs = []
    for i in range(1 + n_timed):
        d = run_dir / f"input-{i}"
        datagen.write_tables(datagen.make_tables(seed * 100 + i, None if i else small), str(d))
        dirs.append(str(d))
    return dirs


def run(run_dir: Path, seed: int, mon: common.SutMonitor, trace: bool) -> dict:
    t_gen = time.monotonic()
    sets = make_sets(run_dir, seed, TIMED_PASSES)
    gen_s = time.monotonic() - t_gen
    res_dir = run_dir / "results"
    argv = [sys.executable, str(common.HERE / "batch_sut.py"), "--sets", ",".join(sets),
            "--mix", ",".join(mix_names()), "--out", str(res_dir)]
    if trace:
        argv.append("--trace")
    t_launch = time.monotonic()
    setup_win = common.Window(mon)
    proc = common.spawn(argv, run_dir, "sut.log", mon)
    log = run_dir / "sut.log"
    win = None
    w = ws = None
    try:
        deadline = t_launch + SUT_TIMEOUT
        while proc.poll() is None and time.monotonic() < deadline:
            text = log.read_text(errors="replace")
            if win is None and "LHBENCH window start" in text:
                ws = setup_win.close()
                win = common.Window(mon)
            if win is not None and w is None and "LHBENCH window end" in text:
                w = win.close()
            time.sleep(0.02)
        if proc.poll() is None:
            raise RuntimeError("batch system under test timed out")
    finally:
        killed = common.end_session(proc, grace=5)
    if proc.returncode != 0 or w is None:
        raise RuntimeError(f"batch system under test exited {proc.returncode}: "
                           + log.read_text(errors="replace")[-3000:])
    sut = json.loads((res_dir / "sut.json").read_text())
    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    t_chk = time.monotonic()
    errors = check_results(res_dir, sut["passes"], oracles)
    ops = sum(len(p["times_s"]) for p in sut["passes"])
    return {
        "window": w, "setup_window": ws, "sut": sut, "ops": ops, "errors": errors,
        "setup_s": sut["t_warm_end"] - t_launch,
        "process_start_s": sut["t_session"] - t_launch,
        "warmup_s": sut["t_warm_end"] - sut["t_session"],
        "window_s": sut["t_window"][1] - sut["t_window"][0],
        "gen_s": gen_s, "check_s": time.monotonic() - t_chk,
        "killed_after_exit": [k["comm"] for k in killed],
    }

