"""The batch workload's system under test: one process that builds a
plain local SparkSession, runs the query mix through
`__spark_entry__.queries()` once untimed over the warm-up input set,
then once per remaining input set, timed.  Every result is collected in full (`toArrow`) inside the
timer and written out afterwards for the oracle check.

Prints `LHBENCH window start` / `LHBENCH window end` so the benchmark
can bracket the timed passes with its CPU samples.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]


def job_counts(sc, group: str) -> dict:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [s for j in jobs if (ji := st.getJobInfo(j)) is not None for s in ji.stageIds]
    tasks = [si.numTasks for s in stages if (si := st.getStageInfo(s)) is not None]
    return {"jobs": len(jobs), "stages": len(stages), "tasks": sum(tasks),
            "single_task_stages": sum(1 for t in tasks if t == 1)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", required=True, help="comma-separated input dirs; the first warms up")
    ap.add_argument("--mix", required=True, help="comma-separated query names")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    sets, mix, out = args.sets.split(","), args.mix.split(","), Path(args.out)

    from pyspark.sql import SparkSession

    cpus = str(len(os.sched_getaffinity(0)))
    spark = (SparkSession.builder.master(f"local[{cpus}]").appName("lhbench-batch")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext
    t_session = time.monotonic()

    import __spark_entry__ as entry

    queries = entry.queries()
    for name in mix:
        queries[name](spark, sets[0]).toArrow()
    t_warm = time.monotonic()

    print("LHBENCH window start", flush=True)
    t0 = time.monotonic()
    passes, results = [], []
    for k, set_dir in enumerate(sets[1:], start=1):
        times, rows, counts = {}, {}, {}
        for name in mix:
            if args.trace:
                sc.setJobGroup(f"{name}#{k}", name)
            q0 = time.monotonic()
            tbl = queries[name](spark, set_dir).toArrow()
            times[name] = time.monotonic() - q0
            rows[name] = tbl.num_rows
            results.append((k, name, tbl))
            if args.trace:
                counts[name] = job_counts(sc, f"{name}#{k}")
        passes.append({"set": set_dir, "times_s": times, "rows": rows, "jobs": counts})
    t1 = time.monotonic()
    print("LHBENCH window end", flush=True)
    import pyarrow.parquet as pq

    for k, name, tbl in results:
        (out / str(k)).mkdir(parents=True, exist_ok=True)
        pq.write_table(tbl, out / str(k) / f"{name}.parquet")
    (out / "sut.json").write_text(json.dumps({
        "t_session": t_session, "t_warm_end": t_warm, "t_window": [t0, t1],
        "passes": passes}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
