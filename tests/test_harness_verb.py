"""`cli test` (the reference's `lhctl test` verb) — smoke a subset of
the harness cases end-to-end through the embedded server path.

The full 15-case sweep (~10 min: each case deploys its own spec
engine) is the CLI verb's job; this pins the verb's plumbing —
case registry, HTTP deploy/launch/poll/check loop, exit code — on
three representative cases: a plain task chain, an interrupt mid-run,
and a retry with a first-attempt failure."""

from __future__ import annotations

from old_original_java_little_horse_spark.cli import main


def test_harness_subset_passes(spark):
    rc = main(["test", "basic", "interrupts", "retries_task"])
    assert rc == 0


def test_unknown_case_rejected():
    assert main(["test", "not-a-case"]) == 2
