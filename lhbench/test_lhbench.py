"""Unit tests of the benchmark's own logic; none starts Spark.

    python3 -m pytest lhbench/test_lhbench.py -q
"""

from __future__ import annotations

import datetime as dt
import json
import statistics
import sys
from decimal import Decimal
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import batch  # noqa: E402
import common  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import steadiness  # noqa: E402
import wf  # noqa: E402


# -- percentiles ---------------------------------------------------------------

def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert common.percentile(xs, 0) == 1.0
    assert common.percentile(xs, 100) == 5.0
    assert common.median(xs) == 3.0
    assert common.percentile(xs, 25) == 2.0
    assert common.percentile([1.0, 2.0], 50) == 1.5
    assert common.percentile(list(range(101)), 99) == pytest.approx(99.0)
    assert common.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        common.percentile([], 50)


def test_spread_uses_statistics_quartiles():
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, _q2, q3 = statistics.quantiles(vals, n=4)
    s = steadiness.spread(vals)
    assert s["spread"] == pytest.approx((q3 - q1) / statistics.median(vals))
    assert steadiness.drift(100.0, 110.0, "lower") == pytest.approx(0.10)
    assert steadiness.drift(100.0, 110.0, "higher") == pytest.approx(-0.10)


def test_steal_share_is_steal_over_busy_time():
    assert common.steal_share({"steal_ms": 250.0, "busy_ms": 1000.0}) == pytest.approx(0.25)
    assert common.steal_share({"steal_ms": 0.0, "busy_ms": 0.0}) == 0.0


# -- the workflow's closed form ------------------------------------------------

def _doc(run_: dict, **over) -> dict:
    e = wf.expected(run_)
    doc = {
        "id": run_["id"], "status": "COMPLETED",
        "thread_runs": [
            {"variables": {"n_purch": run_["n_purch"], "n_click": run_["n_click"],
                           "cohort": run_["cohort"], "score": e["score"],
                           "tier": e["tier"]},
             "task_runs": [{"status": "COMPLETED"}] * 6},
            {"variables": {}, "task_runs": [{"status": "COMPLETED"}]},
        ],
    }
    doc.update(over)
    return doc


def test_closed_form():
    assert wf.expected({"n_purch": 3, "n_click": 5}) == {"score": 18, "tier": "clicky"}
    assert wf.expected({"n_purch": 5, "n_click": 5}) == {"score": 22, "tier": "buyy"}
    assert wf.expected({"n_purch": 0, "n_click": 0}) == {"score": 7, "tier": "buyy"}


def test_check_doc_accepts_the_closed_form_and_rejects_deviations():
    r = wf.make_runs(1, 1, "t")[0]
    assert wf.check_doc(_doc(r), r) is None
    assert "status" in wf.check_doc(_doc(r, status="RUNNING"), r)
    bad = _doc(r)
    bad["thread_runs"][0]["variables"]["score"] += 1
    assert "variables" in wf.check_doc(bad, r)
    short = _doc(r)
    short["thread_runs"] = short["thread_runs"][:1]
    assert "thread runs" in wf.check_doc(short, r)
    failed = _doc(r)
    failed["thread_runs"][1]["task_runs"] = [{"status": "ERROR"}]
    assert "task runs" in wf.check_doc(failed, r)


def test_engine_fold_matches_the_closed_form():
    runs = wf.make_runs(3, 40, "f")
    assert layers.fold_rate(runs) > 0  # raises if any state deviates


def test_spec_adds_one_string_variable_to_the_pipeline():
    from old_original_java_little_horse_spark.engine.batch_queries import pipeline_spec

    base, s = pipeline_spec(), wf.spec()
    assert s["name"] == wf.SPEC_NAME
    entry = s["thread_specs"][s["entrypoint_thread_name"]]["variable_defs"]
    assert entry["cohort"]["type"] == "STRING"
    assert set(entry) - set(base["thread_specs"]["entrypoint"]["variable_defs"]) == {"cohort"}


def test_started_event_carries_the_variables():
    r = wf.make_runs(1, 1, "t")[0]
    e = wf.started_event(r, 7)
    assert e["offset"] == 7 and e["event_type"] == "WF_RUN_STARTED"
    assert json.loads(e["content"])["variables"] == wf.variables(r)


# -- input generation ------------------------------------------------------------

def _bytes(runs: list[dict]) -> bytes:
    return json.dumps(runs, sort_keys=True).encode()


def test_runs_are_byte_stable_per_seed():
    a, b = wf.make_runs(5, 200, "b"), wf.make_runs(5, 200, "b")
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(wf.make_runs(6, 200, "b"))
    assert _bytes(a) != _bytes(wf.make_runs(5, 200, "c"))
    cohorts = {}
    for r in a:
        cohorts.setdefault(r["cohort"], []).append(r["id"])
    assert {len(v) for v in cohorts.values()} == {wf.RUNS_PER_COHORT}
    assert [r["id"] for r in a] == sorted(r["id"] for r in a)


SMALL = {t: 50 for t in datagen.SIZES}


def test_tables_are_byte_stable_per_seed(tmp_path):
    for name, seed in (("x", 11), ("y", 11), ("z", 12)):
        datagen.write_tables(datagen.make_tables(seed, SMALL), str(tmp_path / name))

    def files(name):
        return {t: (tmp_path / name / f"{t}.parquet").read_bytes() for t in datagen.SIZES}

    assert files("x") == files("y")
    assert files("x")["lineitem"] != files("z")["lineitem"]


def test_tables_have_the_fixture_schemas():
    t = datagen.make_tables(1, SMALL)
    assert set(t) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(t["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert t["lineitem"].num_rows == 50


def test_read_rounds_are_seeded():
    import live

    runs = wf.make_runs(1, 100, "b")
    g1, g2 = live.read_ops(4, runs), live.read_ops(4, runs)
    rounds = [next(g1) for _ in range(5)]
    assert rounds == [next(g2) for _ in range(5)]
    assert [k for k, _ in rounds[0]] == list(live.ROUND)


# -- oracle normalisation --------------------------------------------------------

def test_norm_equates_what_both_engines_mean_alike():
    assert batch.norm(3) == batch.norm(3.0) == batch.norm(Decimal("3.00")) == "3"
    assert batch.norm(0.1 + 0.2) == batch.norm(0.3)
    assert batch.norm(1.5) != batch.norm(1.5000001)
    assert batch.norm(None) == "NULL"
    assert batch.norm(True) == "true"
    assert batch.norm(dt.date(2024, 1, 2)) == "2024-01-02"
    assert batch.norm([1.0, None]) == ("1", "NULL")
    assert batch.norm(float("nan")) == "NaN"


def test_compare_is_order_and_column_order_insensitive():
    got = [(1, "a"), (2, "b")]
    want = [("b", 2.0), ("a", 1.0)]
    assert batch.compare(got, ["n", "s"], want, ["s", "n"]) is None
    assert "rows" in batch.compare(got[:1], ["n", "s"], want, ["s", "n"])
    assert "columns" in batch.compare(got, ["n", "t"], want, ["s", "n"])
    assert "values" in batch.compare([(1, "a"), (1, "a")], ["n", "s"],
                                     [(1, "a"), (2, "b")], ["n", "s"])


# -- declarations ----------------------------------------------------------------

def test_benchmark_json_declares_what_the_runs_report():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [m["name"] for m in bench["end_to_end"]] == [n for n, _u, _b in run.END_TO_END]
    assert bench["per_layer"] == layers.per_layer_declaration()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
