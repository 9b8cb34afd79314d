"""lhctl-equivalent CLI (reference: `lhctl/lh_cli/` + `lh_lib/client.py`).

Commands mirror the reference's user surface, in two modes:

**HTTP-client mode** (`--api http://host:port`, the reference's
`LHClient` shape — lhctl is an HTTP client): `run`/`event`/`get`/
`search`/`list`/`deploy`/`delete` become requests against a `serve`d
API process.

**File mode** (the default, against the Spark engine's on-disk layout
— an events dir the engine consumes and a snapshots/serving dir it
writes; Kafka topics/Delta tables in production):

    run <spec.json> --events-dir D [--var k=v ...] [--run-id id]
    apply <spec.json>                 # validate + store a spec
    compile <module:function>         # SDK workflow -> JSON spec
    get <run_id>      --serving-dir D | --snapshots-dir D
    search <key> <value> --serving-dir D | --snapshots-dir D
    list              --serving-dir D | --snapshots-dir D
    event <run_id> <event_name> <payload> --events-dir D
    process <spec.json> ...           # fold pending events once
    serve --base-dir D                # boot the API server

`run`/`event` are the POST command path (§3.1/§3.2 step 1: HTTP →
event produce); `get`/`search`/`list` are the §3.3 query path over
the materialized snapshot store; name-resolution fallback (id miss →
search by name) matches `lh_lib/client.py:62-85`.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import uuid
from pathlib import Path


def _spark():
    from .session import get_spark

    return get_spark("lhctl-spark")


def _api_call(api: str, method: str, path: str, body=None):
    """Minimal LHClient: JSON in/out against a `serve`d API."""
    import urllib.error
    import urllib.request

    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(api.rstrip("/") + path, data=data,
                                 method=method,
                                 headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _write_event(spark, events_dir: str, row: dict) -> Path:
    """Append one command event as its own parquet file and return its
    `cmd-*` directory (what `await_read_your_writes` waits for).

    This is the file-backed stand-in for a Kafka produce, and a
    produce is a ~1 ms client write — so the event is written
    DRIVER-SIDE with pyarrow, never as a Spark job (a 1-row
    createDataFrame().write was measured at 0.5-2 s under a live
    engine's micro-batch job train, and it sits on the POST latency
    path in front of the read-your-writes barrier).  The engine's
    stream source reads with an explicit schema, so writer parity is
    just type parity, pinned by tests/test_streaming.py
    (test_driver_side_event_write_matches_engine_schema).  The write
    is the durable write-then-rename of
    `streaming.admission.write_event_file`.

    Offset = produce-time µs: the engine folds events in per-key
    offset order and snapshots version by max offset (`seq`), so the
    file-command producer must hand out monotone offsets exactly as
    a Kafka partition would — offset 0 for every command would leave
    later commands' snapshots tied with (not superseding) earlier
    ones in latest-wins selection."""
    from .streaming.admission import event_table, write_event_file

    return write_event_file(events_dir, event_table(row)).parent


def _snapshots(spark, snapshots_dir: str):
    import pyspark.sql.functions as F

    df = spark.read.parquet(snapshots_dir)
    order_col = None
    if "kind" in df.columns:  # tagged streaming output
        df = df.where(F.col("kind") == "snapshot")
        # `seq` (max folded event offset) is the engine's monotonic
        # per-run version: file-scan order is NOT write order (Spark
        # bin-packs input files largest-first), so ordering by
        # monotonically_increasing_id() would return stale snapshots
        # after multi-batch append output.
        if "seq" in df.columns:
            order_col = F.col("seq").desc_nulls_last()
        df = df.select("wf_run_id", "status",
                       F.col("payload").alias("state_json"),
                       *( [F.col("seq")] if order_col is not None else [] ))
    # Latest snapshot per run (W2 latest-entry selection).
    from pyspark.sql import Window

    if order_col is None:
        # Batch SNAPSHOT_SCHEMA output: one final row per run; the
        # window is a no-op and any ordering works.
        order_col = F.monotonically_increasing_id().desc()
    w = Window.partitionBy("wf_run_id").orderBy(order_col)
    return (df.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1).drop("_rn", "seq"))


def _parse_vars(pairs) -> dict:
    variables = {}
    for kv in pairs or []:
        k, _, v = kv.partition("=")
        try:
            variables[k] = json.loads(v)
        except json.JSONDecodeError:
            variables[k] = v
    return variables


def cmd_run(args) -> int:
    variables = _parse_vars(args.var)
    if getattr(args, "api", None):
        # HTTP-client mode: positional arg is the spec NAME (or a spec
        # file whose name is used); the server resolves + routes.
        name = args.spec
        if Path(args.spec).exists():
            name = json.loads(Path(args.spec).read_text())["name"]
        body = {"wf_spec_name": name, "variables": variables}
        if args.run_id:
            body["run_id"] = args.run_id
        st, resp = _api_call(args.api, "POST", "/wfrun", body)
        print(resp.get("id") or json.dumps(resp))
        return 0 if st < 400 else 1
    if not args.events_dir:
        raise ValueError("file mode requires --events-dir (or use --api)")
    spec = json.loads(Path(args.spec).read_text())
    from .sdk.builder import validate_spec

    validate_spec(spec)
    run_id = args.run_id or uuid.uuid4().hex
    spark = _spark()
    _write_event(spark, args.events_dir, {
        "wf_run_id": run_id,
        "wf_spec_id": spec.get("id"),
        "wf_spec_name": spec.get("name"),
        "event_type": "WF_RUN_STARTED",
        "content": json.dumps({"variables": variables}),
    })
    print(run_id)
    return 0


def cmd_apply(args) -> int:
    spec = json.loads(Path(args.spec).read_text())
    from .sdk.builder import validate_spec

    validate_spec(spec)
    out = Path(args.store_dir) / f"{spec['name']}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(spec, indent=2))
    print(f"{spec['name']} valid → {out}")
    return 0


def cmd_event(args) -> int:
    try:
        content = json.loads(args.payload)
    except json.JSONDecodeError:
        content = args.payload
    if getattr(args, "api", None):
        st, resp = _api_call(
            args.api, "POST",
            f"/externalEvent/{args.run_id}/{args.event_name}", content)
        print(resp.get("status") or json.dumps(resp))
        return 0 if st < 400 else 1
    if not args.events_dir:
        raise ValueError("file mode requires --events-dir (or use --api)")
    spark = _spark()
    _write_event(spark, args.events_dir, {
        "wf_run_id": args.run_id,
        "event_type": "EXTERNAL_EVENT",
        "thread_id": -1,
        "content": json.dumps({
            "external_event_def_name": args.event_name,
            "content": content,
            "timestamp": int(time.time() * 1000),
        }),
    })
    print("ok")
    return 0


def _require_store(args) -> None:
    if not getattr(args, "serving_dir", None) and \
            not getattr(args, "snapshots_dir", None):
        raise ValueError("one of --serving-dir / --snapshots-dir is required")


def cmd_get(args) -> int:
    if getattr(args, "api", None):
        st, resp = _api_call(args.api, "GET", f"/wfrun/{args.run_id}")
        print(json.dumps(resp, indent=2))
        return 0 if st < 400 else 1
    _require_store(args)
    if getattr(args, "serving_dir", None):
        # Compacted point lookup, driver-side: one pyarrow bucket-dir
        # read, O(1) in run count and NO Spark session at all — the
        # reference's `lhctl get` is a point read against the API's
        # RocksDB (APIStreamsContext.java:62-83), not a cluster job,
        # and booting a JVM to read one row cost ~8 s per CLI call.
        from .sinks.serving import read_snapshot_rows

        rows = read_snapshot_rows(args.serving_dir, args.run_id)
    else:
        spark = _spark()
        snaps = _snapshots(spark, args.snapshots_dir)
        rows = snaps.where(snaps.wf_run_id == args.run_id).collect()
    # (No name-resolution fallback: the `name` alias IS the run id, so
    # a second lookup by name could never resolve anything the direct
    # id lookup missed.  The reference's client.py:62-85 fallback
    # resolves *WfSpec* names, which `apply` handles via the spec
    # store, not the run index.)
    if not rows:
        print(f"not found: {args.run_id}", file=sys.stderr)
        return 1
    print(json.dumps(json.loads(rows[0]["state_json"]), indent=2))
    return 0


def cmd_search(args) -> int:
    if getattr(args, "api", None):
        st, resp = _api_call(args.api, "GET",
                             f"/search/{args.key}/{args.value}")
        for rid in (resp if isinstance(resp, list) else []):
            print(rid)
        return 0 if st < 400 else 1
    _require_store(args)
    if getattr(args, "serving_dir", None):
        # Driver-side alias-bucket read — no Spark session (see
        # cmd_get).
        from .sinks.serving import search_alias_ids

        for rid in search_alias_ids(args.serving_dir, args.key, args.value):
            print(rid)
        return 0
    spark = _spark()
    from .operators.run_index import search

    hits = search(_snapshots(spark, args.snapshots_dir),
                  args.key, args.value)
    for r in hits.collect():
        print(r["wf_run_id"])
    return 0


def cmd_list(args) -> int:
    limit = getattr(args, "limit", None)
    cursor = getattr(args, "cursor", None)
    if limit is not None and limit < 1:
        print(f"--limit must be >= 1, got {limit}", file=sys.stderr)
        return 2
    if getattr(args, "api", None):
        if limit is None:
            st, resp = _api_call(args.api, "GET", "/wfruns")
            for r in (resp if isinstance(resp, list) else []):
                print(f"{r['id']}\t{r['status']}")
            return 0 if st < 400 else 1
        from urllib.parse import quote as _quote

        path = f"/wfruns?limit={limit}"
        if cursor:
            path += f"&cursor={_quote(cursor)}"
        st, resp = _api_call(args.api, "GET", path)
        for r in (resp.get("results", []) if isinstance(resp, dict) else []):
            print(f"{r['id']}\t{r['status']}")
        nc = resp.get("next_cursor") if isinstance(resp, dict) else None
        if nc:
            print(f"next-cursor\t{nc}", file=sys.stderr)
        return 0 if st < 400 else 1
    _require_store(args)
    if getattr(args, "serving_dir", None):
        # Driver-side read — no Spark session (see cmd_get).  With
        # --limit only the page's bucket directories are read; without
        # it the full store (the command prints every row anyway).
        if limit is not None:
            from .sinks.serving import read_snapshot_rows_page

            try:
                rows, nc = read_snapshot_rows_page(args.serving_dir,
                                                   limit, cursor)
            except ValueError as e:
                print(str(e), file=sys.stderr)
                return 2
            for r in rows:
                print(f"{r['wf_run_id']}\t{r['status']}")
            if nc:
                print(f"next-cursor\t{nc}", file=sys.stderr)
            return 0
        from .sinks.serving import read_all_snapshot_rows

        for r in read_all_snapshot_rows(args.serving_dir):
            print(f"{r['wf_run_id']}\t{r['status']}")
        return 0
    spark = _spark()
    snaps = _snapshots(spark, args.snapshots_dir)
    df = snaps.select("wf_run_id", "status")
    if limit is not None:
        # Keyset pagination pushed into the plan: filter + ordered
        # limit (TakeOrderedAndProject), no full collect.
        import pyspark.sql.functions as F

        if cursor:
            df = df.where(F.col("wf_run_id") > cursor)
        rows = df.orderBy("wf_run_id").limit(limit).collect()
        for r in rows:
            print(f"{r['wf_run_id']}\t{r['status']}")
        if len(rows) == limit:
            print(f"next-cursor\t{rows[-1]['wf_run_id']}", file=sys.stderr)
        return 0
    for r in df.collect():
        print(f"{r['wf_run_id']}\t{r['status']}")
    return 0


def cmd_process(args) -> int:
    """Run the engine once (availableNow) over the events dir: fold all
    pending events into snapshots — the micro-batch equivalent of the
    scheduler container processing its backlog."""
    spec = json.loads(Path(args.spec).read_text())
    from .streaming.engine import run_streaming_availablenow

    executor = None
    if args.executor:
        # "module.path:function" — the deployed task implementations
        # (reference: task deployer plugins, LHUtil.java:238-262).
        import importlib

        mod_name, _, attr = args.executor.partition(":")
        executor = getattr(importlib.import_module(mod_name), attr)

    # A checkpoint of a removed engine (applyInPandasWithState, or
    # the pandas-API processor) is refused before the query starts
    # (StaleCheckpointError).
    spark = _spark()
    out = Path(args.snapshots_dir)
    before = set(out.glob("*.parquet"))
    run_streaming_availablenow(
        spark, str(Path(args.events_dir)) + "/*", spec,
        checkpoint_dir=args.checkpoint_dir,
        output_dir=args.snapshots_dir,
        executor=executor,
    )
    # Count what THIS invocation folded: the changelog files it added,
    # not the whole --snapshots-dir an earlier run also appended to.
    added = sorted(str(p) for p in set(out.glob("*.parquet")) - before)
    runs = tasks = 0
    if added:
        import pyspark.sql.functions as F

        kind = F.col("kind")
        runs, tasks = spark.read.parquet(*added).agg(
            F.countDistinct(F.when(kind == "snapshot", F.col("wf_run_id"))),
            F.count(F.when(kind == "task_schedule", 1))).first()
    print(f"processed: {runs} runs, {tasks} pending task schedules")
    return 0


def cmd_import(args) -> int:
    """Bulk-import an event backlog (a topic dump, a restart backlog)
    into a LIVE engine's events dir with catch-up admission control:
    the backlog is spooled, segmented in offset order, and released at
    most `--rows-per-trigger` rows ahead of what the engine has
    committed — read from the engine checkpoint's own `commits/` +
    `sources/0/` write-ahead record, so this works from a separate
    process with no query handle.  Freshly POSTed runs keep idle-grade
    latency instead of waiting behind one giant catch-up batch
    (`streaming/admission.py`; the reference's per-record scheduler
    never queues new work behind a batch,
    scheduler/SchedulerProcessor.java:63-86)."""
    import pyarrow.parquet as pq

    from .streaming.admission import CatchUpAdmission

    tbl = pq.read_table(args.file)
    adm = CatchUpAdmission(
        args.events_dir,
        checkpoint_dir=args.checkpoint_dir,
        max_rows_per_trigger=args.rows_per_trigger)
    try:
        n_seg = adm.spool_bulk(tbl)
        print(f"spooled {tbl.num_rows} events in {n_seg} segments")
        if not adm.drain(timeout=args.timeout):
            print(f"timed out with {adm.pending_rows()} rows still "
                  "spooled (engine stalled or stopped?)")
            return 1
        print("released; engine will fold the tail in-flight")
        return 0
    finally:
        adm.close()


def cmd_compile(args) -> int:
    """SDK workflow → JSON spec (reference `handle_compile.py:26-38`):
    import `module.path:function`, call it (it returns a built spec
    dict or a `Workflow` to build), validate, print the spec JSON."""
    import importlib

    from .sdk.builder import Workflow, validate_spec

    mod_name, _, attr = args.wf_func.replace(":", ".").rpartition(".")
    fn = getattr(importlib.import_module(mod_name), attr)
    spec = fn()
    if isinstance(spec, Workflow):
        spec = spec.build()
    validate_spec(spec)
    print(json.dumps(spec, indent=2))
    return 0


def cmd_deploy(args) -> int:
    """Validate + POST a spec to a running API (reference
    `handle_deploy.py` → POST /wfSpec, which deploys the topology)."""
    spec = json.loads(Path(args.spec).read_text())
    from .sdk.builder import validate_spec

    validate_spec(spec)
    st, resp = _api_call(args.api, "POST", "/wfSpec", spec)
    print(json.dumps(resp))
    return 0 if st < 400 else 1


def cmd_delete(args) -> int:
    """DELETE a metadata resource by type + id (reference
    `handle_delete.py` → DELETE /{type}/{id})."""
    st, resp = _api_call(args.api, "DELETE",
                         f"/{args.kind}/{args.object_id}")
    print(json.dumps(resp))
    return 0 if st < 400 else 1


def cmd_work(args) -> int:
    """Standalone per-TaskDef worker (the reference's
    DockerTaskDeployer contract, `DockerTaskDeployer.java:40-88`: one
    worker deployment per TaskDef consuming that TaskDef's own request
    topic).  File mode: polls the spec engine's tagged output for this
    TaskDef's `task_schedule` rows, executes them through the
    idempotent `TaskWorker` (duplicate schedule deliveries across
    polls are skipped on the task-run attempt key), and appends the
    started/ended TASK_EVENTs to the engine's event-topic dir, where
    the continuous query folds them.  With a Kafka transport the same
    loop consumes the TaskDef topic instead (`sources/kafka.py`).

    Against `serve --shared` the engine dirs collapse to
    engines/_shared (auto-detected); run ONE worker per TaskDef
    total — the worker serves that TaskDef for every spec, and a
    second worker on the same TaskDef would contend for the shared
    work checkpoint."""
    import importlib

    import pyspark.sql.functions as F

    from .engine.worker import TaskWorker

    from .streaming.engine import OUTPUT_SCHEMA

    mod_name, _, attr = args.executor.partition(":")
    fn = getattr(importlib.import_module(mod_name), attr)
    spark = _spark()
    # `serve --shared` runs ONE engine for all specs: the tagged output
    # and event topic live under engines/_shared.  Poll EVERY root that
    # exists — not per-spec-else-shared — so a deployment migrated from
    # per-spec to --shared (the stale per-spec dir still on disk) does
    # not leave the worker tailing a dir the live engine never writes.
    # Existence is re-checked each poll: either shape may appear later.
    # The TaskDef filter below scopes this worker's rows, and posted
    # TASK_EVENTs resolve their spec through the run's pinned id — so
    # per root the only difference is the directory.
    candidate_roots = [Path(args.base_dir) / "engines" / args.spec,
                       Path(args.base_dir) / "engines" / "_shared"]
    # The idempotency ledger is durable and SHARED ACROSS ROOTS (one
    # file per TaskDef): after a per-spec → --shared migration the
    # shared engine replays schedule rows the per-spec deployment
    # already executed, and a fresh worker process would otherwise
    # re-run them once per root.  Residual contract: at-least-once
    # per attempt key — duplicate windows are (a) a crash between
    # user-function return and the ledger append, and (b) while TWO
    # worker processes overlap (old per-spec + new --shared), up to
    # one poll interval between reload_seen() calls.
    seen_dir = Path(args.base_dir) / "engines" / "worker-seen"
    seen_dir.mkdir(parents=True, exist_ok=True)
    worker = TaskWorker({args.task_def: fn},
                        worker_id=f"worker-{args.task_def}",
                        seen_path=str(seen_dir / f"{args.task_def}.jsonl"))
    deadline = (time.time() + args.max_seconds) if args.max_seconds else None
    n_done = 0

    def make_batch_fn(events_dir: Path):
        def execute_batch(batch_df, _batch_id):
            nonlocal n_done
            rows = (batch_df
                    .where((F.col("kind") == "task_schedule")
                           & (F.col("task_def_name") == args.task_def))
                    .select("payload").collect())
            def publish(evs):
                # Inside handle(): events reach the event topic BEFORE
                # the "done" ledger append, so "done" implies the
                # engine can fold the result.  A crash mid-write
                # leaves the attempt in-doubt → re-executed.
                for ev in evs:
                    _write_event(spark, str(events_dir), ev)

            for r in rows:
                tsr = json.loads(r["payload"])
                evs = worker.handle(tsr, int(time.time() * 1000),
                                    time.time_ns() // 1000, publish=publish)
                if evs:
                    n_done += 1
                    print(f"executed {tsr['task_def_name']} for "
                          f"{tsr['wf_run_id']} pos {tsr['task_run_position']}")
        return execute_batch

    while True:
        # Pick up attempt keys another worker process appended since
        # our last poll (migration overlap, multi-root tailing) —
        # narrows the cross-process duplicate window to one poll.
        worker.reload_seen()
        if worker.detected_in_doubt:
            # Surface possible double-executions (a predecessor wrote
            # the "started" intent, crashed before "done", and this
            # process re-ran the attempt) — the operator's signal to
            # check idempotency of the affected task's side effects.
            for key in worker.detected_in_doubt:
                print(f"WARNING: re-executed in-doubt attempt {key} "
                      "(predecessor crashed mid-attempt; at-least-once "
                      "fallback)", file=sys.stderr)
            worker.detected_in_doubt.clear()
        for root in candidate_roots:
            out_dir = root / "out"
            if not any(out_dir.rglob("*.parquet")):
                continue
            # The worker keeps its OWN streaming checkpoint (per root)
            # over the engine's tagged output: each poll is an
            # availableNow run that reads only files not yet consumed —
            # O(new schedule rows) per poll, never a rescan of the
            # engine's full history (the consumer-group offset of the
            # Kafka variant, in file-source form).
            (spark.readStream.schema(OUTPUT_SCHEMA).parquet(str(out_dir))
             .writeStream.foreachBatch(make_batch_fn(root / "events"))
             .option("checkpointLocation",
                     str(root / "work-ckpt" / args.task_def))
             .trigger(availableNow=True).start().awaitTermination())
        if deadline is not None and time.time() >= deadline:
            print(f"worker exiting: {n_done} task(s) executed")
            return 0
        # Graceful drain: touch the stop file and the worker exits at
        # the next poll boundary — no schedule row is abandoned
        # mid-batch (the availableNow drain above always completes).
        # This is how a deployer retires a worker without SIGKILLing
        # an in-flight attempt into the in-doubt ledger.
        if getattr(args, "stop_file", None) and Path(args.stop_file).exists():
            print(f"worker stopping (stop file): {n_done} task(s) executed")
            return 0
        time.sleep(args.poll)


def cmd_serve(args) -> int:
    """Boot the full API server (the reference's `LittleHorseAPI`
    process): metadata store + per-spec engine manager + HTTP front
    door.  Specs POSTed earlier redeploy from the metadata changelog;
    ctrl-C stops the queries cleanly."""
    from .api.engines import SparkEngineManager
    from .api.http_server import LittleHorseAPI, LittleHorseHTTPServer
    from .api.metadata import MetadataStore

    executor = None
    if args.executor:
        import importlib

        mod_name, _, attr = args.executor.partition(":")
        executor = getattr(importlib.import_module(mod_name), attr)

    # Unset flags leave the manager's measured defaults (200 ms x 4
    # state partitions, the serving optimum of tools/latency_sweep.py).
    knobs = {}
    if args.trigger_ms is not None:
        knobs["trigger_seconds"] = args.trigger_ms / 1000.0
    if args.state_partitions is not None:
        knobs["state_partitions"] = args.state_partitions

    spark = _spark()
    base = Path(args.base_dir)
    mgr = SparkEngineManager(spark, str(base / "engines"), executor=executor,
                             shared=bool(getattr(args, "shared", False)),
                             **knobs)
    api = LittleHorseAPI(spark, metadata=MetadataStore(str(base / "meta")),
                         engines=mgr)
    srv = LittleHorseHTTPServer(api, host=args.host, port=args.port).start()
    print(f"listening on {args.host}:{srv.port} "
          f"({len(mgr.handles())} spec engine(s) deployed)")
    try:
        if args.smoke:  # start/stop round-trip for tests
            return 0
        while True:
            time.sleep(3600)
    except KeyboardInterrupt:
        return 0
    finally:
        srv.stop()
        mgr.stop_all()


def cmd_test(args) -> int:
    """Integration-test harness (the reference's `lhctl test` verb,
    `handle_test.py` + `lh_test_harness/`): deploy the built-in test
    workflows, launch `--requests` runs per case over plain HTTP,
    poll each to a terminal status, run the case's checks against the
    served WFRun document, print a summary.

    With `--api` it drives an already-running server (whose executor
    or workers must serve the harness TaskDefs — bind
    `...harness.executor:execute`).  Without it, a self-contained
    server is booted in-process on a temp state root, exercising the
    exact serve path end-to-end (deploy → engine → HTTP reads), then
    torn down.  Exit code = number of failed runs."""
    import shutil
    import tempfile

    from .harness.cases import all_cases
    from .harness.runner import run_all

    cases = all_cases()
    unknown = [n for n in (args.cases or []) if n not in cases]
    if unknown:
        print(f"error: unknown case(s) {unknown}; have {sorted(cases)}",
              file=sys.stderr)
        return 2

    if args.api:
        results = run_all(args.api, cases, names=args.cases or None,
                          requests=args.requests)
        return sum(r.failed for r in results)

    from .api.engines import SparkEngineManager
    from .api.http_server import LittleHorseAPI, LittleHorseHTTPServer
    from .api.metadata import MetadataStore
    from .harness.executor import execute

    spark = _spark()
    workdir = Path(tempfile.mkdtemp(prefix="lh-harness-"))
    mgr = SparkEngineManager(spark, str(workdir / "engines"),
                             executor=execute, trigger_seconds=0.2)
    api = LittleHorseAPI(spark, metadata=MetadataStore(str(workdir / "meta")),
                         engines=mgr)
    srv = LittleHorseHTTPServer(api).start()
    try:
        results = run_all(f"http://127.0.0.1:{srv.port}", cases,
                          names=args.cases or None,
                          requests=args.requests)
        return sum(r.failed for r in results)
    finally:
        srv.stop()
        mgr.stop_all()
        shutil.rmtree(workdir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="lhctl-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("run", help="start a workflow run (POST /WFRun)")
    r.add_argument("spec", help="spec.json (file mode) or spec name (--api)")
    r.add_argument("--events-dir")
    r.add_argument("--api", help="API base URL (HTTP-client mode)")
    r.add_argument("--var", action="append")
    r.add_argument("--run-id")
    r.set_defaults(fn=cmd_run)

    a = sub.add_parser("apply", help="validate + store a WFSpec")
    a.add_argument("spec")
    a.add_argument("--store-dir", required=True)
    a.set_defaults(fn=cmd_apply)

    e = sub.add_parser("event", help="send an external event")
    e.add_argument("run_id")
    e.add_argument("event_name")
    e.add_argument("payload")
    e.add_argument("--events-dir")
    e.add_argument("--api", help="API base URL (HTTP-client mode)")
    e.set_defaults(fn=cmd_event)

    im = sub.add_parser("import", help="bulk-import an event backlog "
                        "with catch-up admission control")
    im.add_argument("--file", required=True,
                    help="parquet file of WF events (the topic dump)")
    im.add_argument("--events-dir", required=True)
    im.add_argument("--checkpoint-dir", required=True,
                    help="the live engine's checkpoint (paces the "
                         "release off its commits/sources record)")
    im.add_argument("--rows-per-trigger", type=int, default=25_000)
    im.add_argument("--timeout", type=float, default=3600.0)
    im.set_defaults(fn=cmd_import)

    cp = sub.add_parser("compile", help="SDK workflow -> JSON spec")
    cp.add_argument("wf_func", help="module.path:function returning a "
                                    "Workflow or spec dict")
    cp.set_defaults(fn=cmd_compile)

    dp = sub.add_parser("deploy", help="validate + POST a spec to a "
                                       "running API (deploys it)")
    dp.add_argument("spec")
    dp.add_argument("--api", required=True)
    dp.set_defaults(fn=cmd_deploy)

    dl = sub.add_parser("delete", help="DELETE a metadata resource")
    dl.add_argument("kind", choices=["wfSpec", "taskDef", "externalEventDef"])
    dl.add_argument("object_id")
    dl.add_argument("--api", required=True)
    dl.set_defaults(fn=cmd_delete)

    g = sub.add_parser("get", help="GET /WFRun/{id}")
    g.add_argument("run_id")
    g.add_argument("--snapshots-dir")
    g.add_argument("--serving-dir", help="compacted store (preferred)")
    g.add_argument("--api", help="API base URL (HTTP-client mode)")
    g.set_defaults(fn=cmd_get)

    s = sub.add_parser("search", help="search index by (key, value)")
    s.add_argument("key")
    s.add_argument("value")
    s.add_argument("--snapshots-dir")
    s.add_argument("--serving-dir", help="compacted store (preferred)")
    s.add_argument("--api", help="API base URL (HTTP-client mode)")
    s.set_defaults(fn=cmd_search)

    ls = sub.add_parser("list", help="all run ids + statuses")
    ls.add_argument("--snapshots-dir")
    ls.add_argument("--serving-dir", help="compacted store (preferred)")
    ls.add_argument("--api", help="API base URL (HTTP-client mode)")
    ls.add_argument("--limit", type=int,
                    help="page size (bounded read; prints a "
                         "next-cursor line on stderr when more remain)")
    ls.add_argument("--cursor", help="cursor from a previous --limit page")
    ls.set_defaults(fn=cmd_list)

    pr = sub.add_parser("process", help="fold pending events (availableNow)")
    pr.add_argument("spec")
    pr.add_argument("--events-dir", required=True)
    pr.add_argument("--snapshots-dir", required=True)
    pr.add_argument("--checkpoint-dir", required=True)
    pr.add_argument("--executor", help="module.path:function for inline tasks")
    pr.set_defaults(fn=cmd_process)

    wk = sub.add_parser("work", help="standalone per-TaskDef worker "
                                     "(DockerTaskDeployer contract)")
    wk.add_argument("--base-dir", required=True,
                    help="serve state root (engines/ lives here)")
    wk.add_argument("--spec", required=True, help="WFSpec name (engine dir)")
    wk.add_argument("--task-def", required=True)
    wk.add_argument("--executor", required=True,
                    help="module.path:function(subs) -> result dict")
    wk.add_argument("--poll", type=float, default=0.5)
    wk.add_argument("--max-seconds", type=float, default=0,
                    help="exit after this long (0 = run forever)")
    wk.add_argument("--stop-file",
                    help="exit cleanly at the next poll once this file "
                         "exists (graceful drain for deployers)")
    wk.set_defaults(fn=cmd_work)

    sv = sub.add_parser("serve", help="boot the HTTP API server "
                                      "(metadata + per-spec engines)")
    sv.add_argument("--base-dir", required=True,
                    help="state root (meta/ + engines/ live here)")
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=0)
    sv.add_argument("--executor", help="module.path:function for inline tasks")
    sv.add_argument("--shared", action="store_true",
                    help="one shared engine for all specs (one checkpoint/"
                         "state store; per-spec serving stores)")
    sv.add_argument("--trigger-ms", type=int, default=None,
                    help="micro-batch trigger interval (default 200; "
                         "100 trades ~2x idle checkpoint commits for "
                         "~150 ms better task round-trip p50)")
    sv.add_argument("--state-partitions", type=int, default=None,
                    help="state-store shuffle partitions (default 4 = "
                         "serving optimum; 32 drains big backlogs "
                         "~4x faster at +0.8 s barrier)")
    sv.add_argument("--smoke", action="store_true", help=argparse.SUPPRESS)
    sv.set_defaults(fn=cmd_serve)

    ts = sub.add_parser("test", help="run the built-in integration cases "
                                     "(the reference's `lhctl test`)")
    ts.add_argument("cases", nargs="*",
                    help="case names (default: all)")
    ts.add_argument("--requests", "-r", type=int, default=1,
                    help="runs per case launch")
    ts.add_argument("--api", help="drive an already-running API "
                                  "(default: boot an embedded one)")
    ts.set_defaults(fn=cmd_test)

    args = p.parse_args(argv)
    from .streaming.checkpoint import StaleCheckpointError

    try:
        return args.fn(args)
    except (ValueError, StaleCheckpointError) as e:
        # spec validation failures and checkpoints that must be
        # rebuilt by replay → clean error
        print(f"error: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
