"""Compacted serving stores (`sinks/serving.py`): latest-wins upsert,
bucket-partition pruning on point reads, tombstones that cannot be
resurrected by replayed CREATEs, and partial (changed-bucket-only)
rewrites."""

from __future__ import annotations

import json
import shutil
import tempfile
from pathlib import Path

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from old_original_java_little_horse_spark.sinks.serving import (
    _point_dir, read_all_snapshots, read_snapshot_rows, search_alias_ids,
    snapshots_dir, upsert_serving_stores,
)
from old_original_java_little_horse_spark.streaming.engine import OUTPUT_SCHEMA


def _batch(spark, rows):
    def row(kind, run_id, seq, payload, status=None):
        return (run_id, kind, status, None, None, None, None, seq, payload)

    return spark.createDataFrame(
        [row(*r) for r in rows], schema=OUTPUT_SCHEMA)


def _snap(run_id, seq, status="RUNNING"):
    return ("snapshot", run_id, seq,
            json.dumps({"status": status, "seq": seq}), status)


def _idx(run_id, seq, op, key, value):
    return ("index", run_id, seq,
            json.dumps({"op": op, "key": key, "value": value}))


@pytest.fixture()
def store(spark):
    d = Path(tempfile.mkdtemp(prefix="serving-")) / "store"
    yield spark, str(d)
    shutil.rmtree(d.parent, ignore_errors=True)


def test_latest_wins_across_batches(store):
    spark, d = store
    upsert_serving_stores(_batch(spark, [_snap("r1", 1), _snap("r2", 1)]), d)
    upsert_serving_stores(
        _batch(spark, [_snap("r1", 5, "COMPLETED")]), d)
    got = {r["wf_run_id"]: r["status"]
           for r in read_all_snapshots(spark, d).collect()}
    assert got == {"r1": "COMPLETED", "r2": "RUNNING"}
    one = read_snapshot_rows(d, "r1")
    assert len(one) == 1 and json.loads(one[0]["state_json"])["seq"] == 5


def test_point_read_scans_one_bucket_directory(store):
    """The 100 TB contract: a GET touches ONE immutable bucket
    directory — the manifest lookup IS the partition pruning, so the
    point read's directory is a single bucket=N dir holding the key
    (and the driver-side bucket hash must agree with the write
    path's)."""
    spark, d = store
    upsert_serving_stores(
        _batch(spark, [_snap(f"r{i}", 1) for i in range(40)]), d)
    path = _point_dir(snapshots_dir(d), "r7")
    assert path is not None, "point read resolved no directory"
    # and the other 15 buckets' directories are NOT read
    from old_original_java_little_horse_spark.sinks import serving
    n = serving._store_nbuckets(snapshots_dir(d))
    b = serving._bucket_of("r7", n)
    assert Path(path).name == f"bucket={b}"
    ids = set(pq.read_table(path, columns=["wf_run_id"])
              .column("wf_run_id").to_pylist())
    assert "r7" in ids and len(ids) < 40
    assert [r["status"] for r in read_snapshot_rows(d, "r7")] == ["RUNNING"]


def test_tombstoned_alias_not_resurrected_by_replay(store):
    spark, d = store
    upsert_serving_stores(
        _batch(spark, [_idx("r1", 1, "CREATE", "who", "ada")]), d)
    assert search_alias_ids(d, "who", "ada") == ["r1"]
    upsert_serving_stores(
        _batch(spark, [_idx("r1", 2, "DELETE", "who", "ada")]), d)
    assert search_alias_ids(d, "who", "ada") == []
    # At-least-once replay of the OLD create (stale seq) — the DELETE
    # tombstone is retained in the store and still wins.
    upsert_serving_stores(
        _batch(spark, [_idx("r1", 1, "CREATE", "who", "ada")]), d)
    assert search_alias_ids(d, "who", "ada") == []


@pytest.mark.parametrize("entry", ["dataframe", "arrow"])
def test_alias_store_commits_before_snapshot_store(store, monkeypatch, entry):
    """Anything GETtable is already searchable: both upsert entries
    commit the alias store first, so a failure before the snapshot
    commit leaves the run found by `/search` but not yet GETtable —
    never COMPLETED on GET while its search still returns []."""
    from old_original_java_little_horse_spark.sinks import serving

    spark, d = store
    real_commit = serving._commit

    def commit(store_dir, *a, **k):
        if store_dir == snapshots_dir(d):
            raise OSError("simulated crash before the snapshot commit")
        return real_commit(store_dir, *a, **k)

    monkeypatch.setattr(serving, "_commit", commit)
    batch = _batch(spark, [_snap("r1", 1, "COMPLETED"),
                           _idx("r1", 1, "CREATE", "who", "ada")])
    with pytest.raises(OSError):
        if entry == "arrow":
            serving.upsert_serving_stores_arrow(batch.toArrow(), d)
        else:
            upsert_serving_stores(batch, d)
    assert search_alias_ids(d, "who", "ada") == ["r1"]
    assert read_snapshot_rows(d, "r1") == []


def test_upsert_rewrites_only_touched_buckets(store):
    """Dynamic partition overwrite: an upsert for one run must leave
    every other bucket's files untouched (O(changed buckets) work)."""
    spark, d = store
    upsert_serving_stores(
        _batch(spark, [_snap(f"r{i}", 1) for i in range(40)]), d)
    sd = Path(snapshots_dir(d))
    before = {p: p.stat().st_mtime_ns
              for p in sd.glob("data/*/bucket=*/*.parquet")}
    from old_original_java_little_horse_spark.sinks import serving
    r7_bucket = serving._bucket_of(
        "r7", serving._store_nbuckets(str(sd)))
    upsert_serving_stores(_batch(spark, [_snap("r7", 9, "COMPLETED")]), d)
    after = {p: p.stat().st_mtime_ns
             for p in sd.glob("data/*/bucket=*/*.parquet")}
    # every untouched bucket's files still exist, byte-untouched
    untouched = {p for p in before
                 if not p.parent.name.endswith(f"={r7_bucket}")}
    for p in untouched:
        assert after.get(p) == before[p], f"{p} was rewritten"
    # r7's old generation dir ALSO still exists (one commit of reader
    # grace before GC), while the manifest already points at the new
    touched_old = set(before) - untouched
    for p in touched_old:
        assert p.exists(), "grace period violated: old gen deleted at commit"
    assert json.loads(read_snapshot_rows(d, "r7")[0]["state_json"])["seq"] == 9


def test_nbuckets_pinned_at_creation(store, monkeypatch):
    """Bucket fanout is a creation-time property: later writers and
    readers must keep the original hash→bucket mapping even if the
    process-wide default changes (otherwise pruned point reads look in
    the wrong partition and miss live keys)."""
    from old_original_java_little_horse_spark.sinks import serving

    spark, d = store
    upsert_serving_stores(
        _batch(spark, [_snap(f"r{i}", 1) for i in range(20)]), d, n_buckets=4)
    sd = Path(snapshots_dir(d))
    assert (sd / ".nbuckets").read_text() == "4"
    assert {p.name for p in sd.glob("bucket=*")} <= {
        f"bucket={i}" for i in range(4)}
    # Default changes (new deploy, env override) — store keeps N=4.
    monkeypatch.setattr(serving, "N_BUCKETS", 64)
    upsert_serving_stores(_batch(spark, [_snap("r3", 9, "COMPLETED")]), d)
    assert {p.name for p in sd.glob("bucket=*")} <= {
        f"bucket={i}" for i in range(4)}
    for rid, want in [("r3", "COMPLETED"), ("r11", "RUNNING")]:
        rows = read_snapshot_rows(d, rid)
        assert len(rows) == 1 and rows[0]["status"] == want


def test_corrupt_store_read_raises_not_lossy(store):
    """A real read failure on an existing store must propagate (so the
    micro-batch retries) — NOT silently degrade to a batch-only
    overwrite that drops previously-stored keys in touched buckets."""
    spark, d = store
    upsert_serving_stores(
        _batch(spark, [_snap(f"r{i}", 1) for i in range(20)]), d)
    for p in Path(snapshots_dir(d)).glob("data/*/bucket=*/*.parquet"):
        p.write_bytes(b"not a parquet footer")
    with pytest.raises(Exception):
        upsert_serving_stores(_batch(spark, [_snap("r1", 2)]), d)


def test_randomized_upserts_equal_global_compaction(store):
    """Equivalence property: any partition of a changelog into upsert
    batches must produce the same store as one global latest-wins
    compaction of the concatenated changelog (seeded random ops)."""
    import random

    spark, d = store
    rng = random.Random(42)
    runs = [f"r{i}" for i in range(12)]
    seq = 0
    log: list[tuple] = []
    for _ in range(3):  # 3 upsert batches
        batch = []
        for _ in range(rng.randint(3, 10)):
            seq += 1
            r = rng.choice(runs)
            status = rng.choice(["RUNNING", "COMPLETED", "HALTED"])
            batch.append(_snap(r, seq, status))
        log.extend(batch)
        upsert_serving_stores(_batch(spark, batch), d)

    # Brute-force: latest seq per run over the whole log.
    expect = {}
    for kind, run_id, s, payload, status in log:
        if run_id not in expect or s > expect[run_id][0]:
            expect[run_id] = (s, status)
    got = {r["wf_run_id"]: (json.loads(r["state_json"])["seq"], r["status"])
           for r in read_all_snapshots(spark, d).collect()}
    assert got == {k: v for k, v in expect.items()}


def test_premarker_store_stamped_with_legacy_fanout(store, monkeypatch):
    """A populated store written before the .nbuckets marker existed
    was hashed with the old hard-coded N=16.  On the first
    post-upgrade write it must be stamped with THAT legacy constant —
    not the env-configured current default, which would silently
    re-bucket the store and orphan every existing key's partition."""
    from old_original_java_little_horse_spark.sinks import serving

    spark, d = store
    # A faithful pre-marker store: legacy hive layout (root-level
    # bucket=N dirs, no CURRENT manifest) and no .nbuckets marker.
    # (A manifest-era store can never legitimately lose only its
    # marker — that case raises; see test_current_without_marker.)
    sd = Path(snapshots_dir(d))
    rows = [(f"r{i}", "RUNNING", 1,
             json.dumps({"seq": 1, "status": "RUNNING"})) for i in range(20)]
    (spark.createDataFrame(
        rows, "wf_run_id string, status string, seq long, state_json string")
     .withColumn("bucket", serving._bucket(F.col("wf_run_id"), 16))
     .write.mode("overwrite").partitionBy("bucket").parquet(str(sd)))
    # Operator upgrades with a bigger configured fanout.
    monkeypatch.setattr(serving, "N_BUCKETS", 64)
    upsert_serving_stores(_batch(spark, [_snap("r3", 9, "COMPLETED")]), d)
    assert (sd / ".nbuckets").read_text() == "16"
    assert {p.name for p in sd.glob("bucket=*")} <= {
        f"bucket={i}" for i in range(16)}
    for rid, want in [("r3", "COMPLETED"), ("r11", "RUNNING")]:
        rows = read_snapshot_rows(d, rid)
        assert len(rows) == 1 and rows[0]["status"] == want


def test_corrupt_nbuckets_marker_raises(store):
    """An unparseable marker on an existing store is an integrity
    error: guessing (or re-stamping) the fanout could re-bucket a live
    store, so the write must refuse instead."""
    spark, d = store
    upsert_serving_stores(_batch(spark, [_snap("r1", 1)]), d)
    sd = Path(snapshots_dir(d))
    (sd / ".nbuckets").write_text("not-a-number")
    with pytest.raises(Exception, match="corrupt"):
        upsert_serving_stores(_batch(spark, [_snap("r1", 2)]), d)


def test_upsert_retry_is_idempotent(store):
    """foreachBatch delivers AT-LEAST-ONCE: a micro-batch whose commit
    raced a crash is re-delivered with the same rows.  Re-applying a
    batch (any number of times, in any interleaving with later
    batches) must leave the store byte-for-byte as if applied once —
    the property that turns retry into exactly-once at the store."""
    spark, d = store
    b1 = [_snap("r1", 1), _snap("r2", 1), _snap("r3", 1)]
    b2 = [_snap("r1", 2, "COMPLETED"), _snap("r4", 2)]
    upsert_serving_stores(_batch(spark, b1), d)
    upsert_serving_stores(_batch(spark, b1), d)      # immediate redelivery
    upsert_serving_stores(_batch(spark, b2), d)
    upsert_serving_stores(_batch(spark, b1), d)      # late redelivery of b1
    upsert_serving_stores(_batch(spark, b2), d)      # and of b2
    got = {r["wf_run_id"]: (json.loads(r["state_json"])["seq"], r["status"])
           for r in read_all_snapshots(spark, d).collect()}
    assert got == {"r1": (2, "COMPLETED"), "r2": (1, "RUNNING"),
                   "r3": (1, "RUNNING"), "r4": (2, "RUNNING")}


def test_crash_before_manifest_commit_loses_nothing(store, monkeypatch):
    """Round-7 review finding: dynamic partition overwrite deleted the
    old bucket files before the new ones landed, so a crash mid-commit
    permanently lost previously-stored keys.  The manifest store must
    be crash-ATOMIC: a crash anywhere before the CURRENT replace
    leaves the previous commit fully readable, and the redelivered
    batch converges."""
    from old_original_java_little_horse_spark.sinks import serving

    spark, d = store
    b1 = [_snap(f"r{i}", 1) for i in range(20)]
    upsert_serving_stores(_batch(spark, b1), d)

    real_replace = serving.os.replace

    def crash(*a, **k):
        raise OSError("simulated crash during manifest commit")

    monkeypatch.setattr(serving.os, "replace", crash)
    with pytest.raises(OSError):
        upsert_serving_stores(
            _batch(spark, [_snap("r7", 9, "COMPLETED")]), d)
    monkeypatch.setattr(serving.os, "replace", real_replace)
    # the store still serves the PRE-crash state for every key
    got = {r["wf_run_id"]: json.loads(r["state_json"])["seq"]
           for r in read_all_snapshots(spark, d).collect()}
    assert got == {f"r{i}": 1 for i in range(20)}
    # foreachBatch redelivery converges
    upsert_serving_stores(_batch(spark, [_snap("r7", 9, "COMPLETED")]), d)
    rows = read_snapshot_rows(d, "r7")
    assert len(rows) == 1 and rows[0]["status"] == "COMPLETED"
    got = {r["wf_run_id"]: json.loads(r["state_json"])["seq"]
           for r in read_all_snapshots(spark, d).collect()}
    assert got == {**{f"r{i}": 1 for i in range(20)}, "r7": 9}


def test_reader_isolation_one_commit_grace(store, monkeypatch):
    """A read planned against the current manifest must survive the
    commit that dereferences its directories: GC happens at a LATER
    commit, never the dereferencing one.  (Grace forced to 0 so the
    very next commit is the sweeper; the time-based retention window
    itself is pinned by test_gc_grace_protects_inflight_readers.)"""
    from old_original_java_little_horse_spark.sinks import serving

    monkeypatch.setattr(serving, "_GC_GRACE_S", 0.0)
    spark, d = store
    upsert_serving_stores(_batch(spark, [_snap("r1", 1)]), d)
    stale = _point_dir(snapshots_dir(d), "r1")  # resolved against gen 1
    upsert_serving_stores(_batch(spark, [_snap("r1", 2, "COMPLETED")]), d)
    # gen-1 files still on disk -> the stale read still succeeds
    assert json.loads(pq.read_table(stale).to_pylist()[0]["state_json"]
                      )["seq"] == 1
    # a THIRD commit to the same bucket GCs gen 1
    upsert_serving_stores(_batch(spark, [_snap("r1", 3)]), d)
    assert not Path(stale).exists(), "superseded gen never GC'd"
    # fresh reads always see the latest commit
    assert json.loads(read_snapshot_rows(d, "r1")[0]["state_json"])["seq"] == 3


def test_legacy_hive_store_migrates_in_place(store):
    """A pre-manifest store (hive bucket=N layout, no CURRENT) stays
    readable, and the first upsert migrates touched buckets into
    generation directories without losing untouched keys."""
    import os as _os

    from old_original_java_little_horse_spark.sinks import serving

    spark, d = store
    # build a store the OLD way: write hive-partitioned parquet + marker
    sd = snapshots_dir(d)
    rows = [("r%d" % i, "RUNNING", i,
             json.dumps({"seq": 1, "status": "RUNNING"})) for i in range(10)]
    df = spark.createDataFrame(
        rows, "wf_run_id string, status string, seq long, state_json string"
    ).withColumn("bucket", serving._bucket(F.col("wf_run_id"), 16))
    df.write.mode("overwrite").partitionBy("bucket").parquet(sd)
    _os.makedirs(sd, exist_ok=True)
    with open(_os.path.join(sd, ".nbuckets"), "w") as f:
        f.write("16")
    # no CURRENT manifest: reads fall back to the synthesized one
    assert json.loads(read_snapshot_rows(d, "r3")[0]["state_json"])["seq"] == 1
    # first post-upgrade upsert: touched bucket migrates, rest readable
    upsert_serving_stores(_batch(spark, [_snap("r3", 9, "COMPLETED")]), d)
    assert (Path(sd) / "CURRENT").exists()
    got = {r["wf_run_id"]: json.loads(r["state_json"])["seq"]
           for r in read_all_snapshots(spark, d).collect()}
    assert got == {**{f"r{i}": 1 for i in range(10)}, "r3": 9}


def test_driver_side_xxh64_matches_spark():
    """The point-GET bucket hash is computed driver-side (no Spark job
    per GET); it must be bit-identical to the write path's
    pmod(xxhash64(key), n) column for any key."""
    import random
    import string

    from old_original_java_little_horse_spark.session import get_spark
    from old_original_java_little_horse_spark.sinks.serving import (
        _bucket_of,
        _xxh64,
    )

    spark = get_spark("xxh-pin")
    rng = random.Random(11)
    keys = ["", "a", "r7", "who\x1fada", "x" * 31, "y" * 32, "z" * 100] + [
        "".join(rng.choices(string.printable, k=rng.randint(0, 120)))
        for _ in range(80)]
    df = spark.createDataFrame([(k,) for k in keys], "k string").select(
        "k", F.xxhash64("k").alias("h"),
        F.pmod(F.xxhash64("k"), F.lit(16)).cast("int").alias("b"))
    for r in df.collect():
        assert _xxh64(r["k"].encode()) == r["h"], repr(r["k"])
        assert _bucket_of(r["k"], 16) == r["b"], repr(r["k"])


def test_orphaned_first_commit_is_not_committed_state(store):
    """ADVICE r7: a crashed FIRST commit leaves parquet under
    data/g000001 but no CURRENT.  That orphan must not make the store
    look populated (`has_snapshots()` must stay False, reads must plan
    empty without guessing), and the redelivered batch must converge
    into a real first commit."""
    from old_original_java_little_horse_spark.sinks import serving

    spark, d = store
    sd = Path(snapshots_dir(d))
    gen = sd / "data" / "g000001" / "bucket=3"
    gen.mkdir(parents=True)
    # a real parquet file in the orphan dir (content is irrelevant —
    # it must never be read)
    spark.createDataFrame(
        [("rX", "RUNNING", 1, "{}")],
        "wf_run_id string, status string, seq long, state_json string"
    ).coalesce(1).write.mode("overwrite").parquet(str(gen))
    (sd / ".nbuckets").write_text("16")  # marker lands before data

    assert serving.has_snapshots(d) is False
    assert read_snapshot_rows(d, "rX") == []
    assert read_all_snapshots(spark, d).collect() == []

    # foreachBatch redelivery: the orphan generation is overwritten
    # and the store commits for real.
    upsert_serving_stores(_batch(spark, [_snap("r1", 1)]), d)
    assert serving.has_snapshots(d) is True
    assert [r["wf_run_id"] for r in
            read_all_snapshots(spark, d).collect()] == ["r1"]


def test_generation_shells_are_garbage_collected(store, monkeypatch):
    """ADVICE r7: GC removed only the superseded bucket= dirs, leaving
    one empty data/gNNNNNN shell (plus _SUCCESS) per batch per store,
    unbounded for a long-lived continuous query.  A fully-superseded
    generation's parent dir must disappear with its last bucket.
    (Grace forced to 0 so every commit is immediately eligible —
    grace retention itself is pinned by
    test_gc_grace_protects_inflight_readers.)"""
    from old_original_java_little_horse_spark.sinks import serving

    monkeypatch.setattr(serving, "_GC_GRACE_S", 0.0)
    spark, d = store
    for seq in range(1, 7):
        upsert_serving_stores(_batch(spark, [_snap("r1", seq)]), d)
    sd = Path(snapshots_dir(d))
    gens = sorted(p.name for p in sd.glob("data/g*"))
    # current gen + one grace gen, never a trail of empty shells
    assert len(gens) <= 2, gens
    for g in sd.glob("data/g*"):
        assert any(c.name.startswith("bucket=") for c in g.iterdir()), (
            f"{g} is an empty generation shell")
    assert json.loads(read_snapshot_rows(d, "r1")[0]["state_json"])["seq"] == 6


def test_gc_grace_protects_inflight_readers(store, monkeypatch):
    """Superseded generation dirs survive at least _GC_GRACE_S before
    GC: at a 200 ms trigger, the NEXT commit lands while a GET is
    still mid-scan of the previous generation, so one-commit grace
    would delete files under a live reader (round-9 review).  Old
    manifests' bare-string pending entries stay immediately eligible
    (their historical semantics)."""
    from old_original_java_little_horse_spark.sinks import serving

    spark, d = store
    monkeypatch.setattr(serving, "_GC_GRACE_S", 3600.0)
    for seq in range(1, 5):
        upsert_serving_stores(_batch(spark, [_snap("r1", seq)]), d)
    sd = Path(snapshots_dir(d))
    # Every superseded generation is still on disk (pending, in grace)
    gens = sorted(p.name for p in sd.glob("data/g*"))
    assert len(gens) == 4, gens
    m = json.loads((sd / "CURRENT").read_text())
    assert all(isinstance(e, dict) and {"rel", "ts"} <= set(e)
               for e in m["pending_delete"])
    # A reader holding the gen-3 manifest can still scan its dir.
    assert (sd / m["pending_delete"][-1]["rel"]).exists()

    # Grace elapses → the next commit sweeps them (legacy bare-string
    # entries are treated as ts=0, i.e. already expired).
    m["pending_delete"] = [e["rel"] for e in m["pending_delete"]]
    (sd / "CURRENT").write_text(json.dumps(m))
    monkeypatch.setattr(serving, "_GC_GRACE_S", 0.0)
    upsert_serving_stores(_batch(spark, [_snap("r1", 9)]), d)
    gens = sorted(p.name for p in sd.glob("data/g*"))
    assert len(gens) <= 2, gens
    assert json.loads(read_snapshot_rows(d, "r1")[0]["state_json"])["seq"] == 9


def test_current_without_marker_raises(store):
    """A committed manifest with no .nbuckets beside it means the
    marker was lost externally (manifest-era stores stamp the marker
    before their first data commit).  Guessing a fanout could
    re-bucket live rows, so the write must refuse."""
    spark, d = store
    upsert_serving_stores(_batch(spark, [_snap("r1", 1)]), d)
    sd = Path(snapshots_dir(d))
    (sd / ".nbuckets").unlink()
    with pytest.raises(Exception, match="refusing to guess"):
        upsert_serving_stores(_batch(spark, [_snap("r1", 2)]), d)


def _apply_log(spark, d, monkeypatch, fastpath_rows):
    """Apply a fixed snapshot+alias changelog in 3 batches under the
    given fast-path threshold (0 = force the distributed path)."""
    from old_original_java_little_horse_spark.sinks import serving

    monkeypatch.setattr(serving, "_FASTPATH_MAX_ROWS", fastpath_rows)
    batches = [
        [_snap("r1", 1), _snap("r2", 1),
         _idx("r1", 1, "CREATE", "who", "ada")],
        [_snap("r1", 3, "COMPLETED"), _snap("r3", 2),
         _idx("r1", 3, "DELETE", "who", "ada"),
         _idx("r3", 2, "CREATE", "who", "bob")],
        [_snap("r2", 4, "HALTED"), _snap("r4", 4),
         _idx("r1", 2, "CREATE", "who", "ada")],  # late replay, stays dead
    ]
    for b in batches:
        upsert_serving_stores(_batch(spark, b), d)


def _observe(spark, d):
    from old_original_java_little_horse_spark.sinks.serving import (
        read_all_snapshot_rows, read_snapshot_rows, search_alias_ids)

    snaps = sorted((r["wf_run_id"], r["status"],
                    json.loads(r["state_json"])["seq"])
                   for r in read_all_snapshots(spark, d).collect())
    point = read_snapshot_rows(d, "r1")
    ada = search_alias_ids(d, "who", "ada")
    bob = search_alias_ids(d, "who", "bob")
    rows_all = sorted((r["wf_run_id"], r["status"])
                      for r in read_all_snapshot_rows(d))
    return snaps, point, ada, bob, rows_all


def test_fast_and_slow_upsert_paths_produce_identical_stores(
        spark, monkeypatch):
    """The driver-side (pyarrow) small-batch upsert and the
    distributed upsert are twins: same changelog → same visible
    store through every read API (DataFrame and driver-side), same
    tombstone semantics, same generation/manifest shape."""
    import json as _json

    base = Path(tempfile.mkdtemp(prefix="serving-parity-"))
    try:
        fast, slow = str(base / "fast"), str(base / "slow")
        _apply_log(spark, fast, monkeypatch, fastpath_rows=5000)
        _apply_log(spark, slow, monkeypatch, fastpath_rows=0)
        assert _observe(spark, fast) == _observe(spark, slow)
        for store in (fast, slow):
            m = _json.loads((Path(snapshots_dir(store)) / "CURRENT")
                            .read_text())
            assert m["gen"] == 3  # one generation per batch, both paths
        # Tombstone semantics survived both paths.
        assert _observe(spark, fast)[2] == []   # ada deleted
        assert _observe(spark, fast)[3] == ["r3"]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_fast_and_slow_paths_interoperate_on_one_store(spark, monkeypatch):
    """A real deployment crosses the threshold both ways (live serving
    → backfill → live serving); each path must read and extend the
    other's generations."""
    from old_original_java_little_horse_spark.sinks import serving

    spark_, d = spark, str(Path(tempfile.mkdtemp(prefix="serving-mix-"))
                           / "store")
    try:
        monkeypatch.setattr(serving, "_FASTPATH_MAX_ROWS", 5000)
        upsert_serving_stores(_batch(spark_, [_snap("r1", 1)]), d)
        monkeypatch.setattr(serving, "_FASTPATH_MAX_ROWS", 0)  # slow
        upsert_serving_stores(
            _batch(spark_, [_snap("r1", 2), _snap("r2", 2)]), d)
        monkeypatch.setattr(serving, "_FASTPATH_MAX_ROWS", 5000)  # fast
        upsert_serving_stores(_batch(spark_, [_snap("r2", 5, "COMPLETED")]),
                              d)
        got = {r["wf_run_id"]: (r["status"],
                                json.loads(r["state_json"])["seq"])
               for r in read_all_snapshots(spark_, d).collect()}
        assert got == {"r1": ("RUNNING", 2), "r2": ("COMPLETED", 5)}
        from old_original_java_little_horse_spark.sinks.serving import (
            read_snapshot_rows)

        assert read_snapshot_rows(d, "r2")[0]["status"] == "COMPLETED"
    finally:
        shutil.rmtree(Path(d).parent, ignore_errors=True)


def test_cli_point_commands_run_sparkless(spark, capsys, monkeypatch):
    """`lhctl get/search/list --serving-dir` are driver-side pyarrow
    reads — they must never boot a Spark session (the reference's
    lhctl point reads hit the API's RocksDB, not a cluster; a JVM
    boot per CLI call cost ~8 s)."""
    from old_original_java_little_horse_spark import cli as climod

    d = str(Path(tempfile.mkdtemp(prefix="serving-cli-")) / "store")
    try:
        upsert_serving_stores(_batch(spark, [
            _snap("r1", 1), _snap("r2", 3, "COMPLETED"),
            _idx("r2", 3, "CREATE", "status", "COMPLETED")]), d)

        def boom():
            raise AssertionError("CLI point command booted Spark")
        monkeypatch.setattr(climod, "_spark", boom)

        assert climod.main(["get", "r2", "--serving-dir", d]) == 0
        assert json.loads(capsys.readouterr().out)["seq"] == 3
        assert climod.main(["search", "status", "COMPLETED",
                            "--serving-dir", d]) == 0
        assert capsys.readouterr().out.split() == ["r2"]
        assert climod.main(["list", "--serving-dir", d]) == 0
        assert sorted(capsys.readouterr().out.splitlines()) == [
            "r1\tRUNNING", "r2\tCOMPLETED"]
        assert climod.main(["get", "missing", "--serving-dir", d]) == 1
        capsys.readouterr()
    finally:
        shutil.rmtree(Path(d).parent, ignore_errors=True)


def test_arrow_and_dataframe_upsert_entries_are_twins(spark):
    """`upsert_serving_stores_arrow` (the continuous sink's collected
    small-batch path) must produce the same store as the DataFrame
    entry point from the same tagged batch — including the alias
    payload parse and concat_ws-style kv semantics."""
    from old_original_java_little_horse_spark.sinks.serving import (
        search_alias_ids, upsert_serving_stores_arrow)

    base = Path(tempfile.mkdtemp(prefix="serving-arrowtwin-"))
    try:
        df_store, ar_store = str(base / "df"), str(base / "ar")
        batches = [
            [_snap("r1", 1), _idx("r1", 1, "CREATE", "who", "ada")],
            [_snap("r1", 3, "COMPLETED"), _snap("r2", 2),
             _idx("r1", 3, "DELETE", "who", "ada"),
             _idx("r2", 2, "CREATE", "who", "bob")],
        ]
        for b in batches:
            df_batch = _batch(spark, b)
            upsert_serving_stores(df_batch, df_store)
            upsert_serving_stores_arrow(df_batch.toArrow(), ar_store)

        def observe(d):
            snaps = sorted(
                (r["wf_run_id"], r["status"],
                 json.loads(r["state_json"])["seq"])
                for r in read_all_snapshots(spark, d).collect())
            return (snaps, search_alias_ids(d, "who", "ada"),
                    search_alias_ids(d, "who", "bob"))

        assert observe(df_store) == observe(ar_store)
        assert observe(ar_store)[1] == []      # tombstone held
        assert observe(ar_store)[2] == ["r2"]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_driver_side_output_append_is_spark_readable(spark):
    """The sink's small-batch changelog append (_append_output_arrow)
    must interleave with Spark-written appends: same schema, both
    readable in one spark.read.parquet scan."""
    from old_original_java_little_horse_spark.streaming.engine import (
        OUTPUT_SCHEMA, _append_output_arrow)

    out = tempfile.mkdtemp(prefix="drv-append-")
    try:
        spark_batch = _batch(spark, [_snap("r1", 1)])
        spark_batch.write.mode("append").parquet(out)
        _append_output_arrow(_batch(spark, [_snap("r2", 2)]).toArrow(), out)
        df = spark.read.parquet(out)
        assert df.schema == OUTPUT_SCHEMA
        got = {(r["wf_run_id"], r["seq"]) for r in df.collect()}
        assert got == {("r1", 1), ("r2", 2)}
        assert not [f for f in Path(out).iterdir()
                    if f.name.endswith(".tmp")]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_byte_gate_keeps_big_buckets_off_the_driver(spark, monkeypatch):
    """The fast path gates on the COMMITTED bytes of the touched
    buckets, not just batch rows: a 1-row command against a store
    whose buckets have accumulated must merge distributed (executors
    own the per-bucket work), never load the bucket on the driver
    (ADVICE r8)."""
    from old_original_java_little_horse_spark.sinks import serving

    d = str(Path(tempfile.mkdtemp(prefix="serving-bytegate-")) / "store")
    try:
        # Batch 1: fresh store, no committed buckets → bytes 0 → the
        # arrow path is fine even under a zero-byte gate.
        monkeypatch.setattr(serving, "_FASTPATH_MAX_BYTES", 0)
        calls = {"arrow": 0, "spark": 0}
        real_arrow, real_spark = serving._upsert_arrow, serving._upsert_spark

        def spy_arrow(*a, **k):
            calls["arrow"] += 1
            return real_arrow(*a, **k)

        def spy_spark(*a, **k):
            calls["spark"] += 1
            return real_spark(*a, **k)

        monkeypatch.setattr(serving, "_upsert_arrow", spy_arrow)
        monkeypatch.setattr(serving, "_upsert_spark", spy_spark)
        upsert_serving_stores(_batch(spark, [_snap("r1", 1)]), d)
        assert calls == {"arrow": 1, "spark": 0}
        # Batch 2 touches a committed bucket → over the (zero) byte
        # budget → distributed, despite being 1 row.
        upsert_serving_stores(
            _batch(spark, [_snap("r1", 5, "COMPLETED")]), d)
        assert calls["spark"] >= 1
        got = {r["wf_run_id"]: r["status"]
               for r in read_all_snapshots(spark, d).collect()}
        assert got == {"r1": "COMPLETED"}
    finally:
        shutil.rmtree(str(Path(d).parent), ignore_errors=True)


def test_byte_gate_arrow_entry_falls_back_to_spark(spark, monkeypatch):
    """`upsert_serving_stores_arrow` (zero-Spark-job sink path) honors
    the same byte gate by routing oversized merges through the ACTIVE
    session; with no session it accepts the driver merge rather than
    boot a JVM."""
    from old_original_java_little_horse_spark.sinks import serving
    from old_original_java_little_horse_spark.sinks.serving import (
        upsert_serving_stores_arrow)

    d = str(Path(tempfile.mkdtemp(prefix="serving-bytegate2-")) / "store")
    try:
        monkeypatch.setattr(serving, "_FASTPATH_MAX_BYTES", 0)
        calls = {"spark": 0}
        real_spark = serving._upsert_spark

        def spy_spark(*a, **k):
            calls["spark"] += 1
            return real_spark(*a, **k)

        monkeypatch.setattr(serving, "_upsert_spark", spy_spark)
        upsert_serving_stores_arrow(
            _batch(spark, [_snap("r1", 1)]).toArrow(), d)
        assert calls["spark"] == 0  # fresh store: nothing committed yet
        upsert_serving_stores_arrow(
            _batch(spark, [_snap("r1", 7, "COMPLETED")]).toArrow(), d)
        assert calls["spark"] == 1  # gate tripped → distributed merge
        # Sparkless caller (CLI): gate trips but there is no session —
        # the driver merge proceeds and stays correct.
        from pyspark.sql import SparkSession

        tbl = _batch(spark, [_snap("r2", 2)]).toArrow()
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(SparkSession, "getActiveSession",
                       classmethod(lambda cls: None))
            upsert_serving_stores_arrow(tbl, d)
        got = {r["wf_run_id"]: r["status"]
               for r in read_all_snapshots(spark, d).collect()}
        assert got == {"r1": "COMPLETED", "r2": "RUNNING"}
    finally:
        shutil.rmtree(str(Path(d).parent), ignore_errors=True)


def test_paged_list_reads_only_needed_buckets(spark, monkeypatch):
    """`read_snapshot_rows_page` must (a) page through the exact full
    contents with no duplicates or gaps, and (b) read only the bucket
    directories a page needs — the whole point of bounding the list
    route (VERDICT r8 item 3)."""
    import pyarrow.parquet as pq

    from old_original_java_little_horse_spark.sinks.serving import (
        read_all_snapshot_rows, read_snapshot_rows_page)

    d = str(Path(tempfile.mkdtemp(prefix="serving-page-")) / "store")
    try:
        runs = [_snap(f"run-{i:03d}", i) for i in range(48)]
        upsert_serving_stores(_batch(spark, runs), d)
        full = sorted(r["wf_run_id"] for r in read_all_snapshot_rows(d))
        assert len(full) == 48

        reads = {"n": 0}
        real_read = pq.read_table

        def counting_read(*a, **k):
            reads["n"] += 1
            return real_read(*a, **k)

        monkeypatch.setattr(pq, "read_table", counting_read)
        page1, cur = read_snapshot_rows_page(d, 3)
        assert len(page1) == 3 and cur is not None
        first_page_reads = reads["n"]
        # 3 rows need only the first few buckets (~3 rows/bucket at
        # this fanout), never the whole 16-bucket store.
        assert first_page_reads <= 6

        # Full pagination: exact content, no dups, terminates.
        seen, cur, pages = [], None, 0
        while True:
            page, cur = read_snapshot_rows_page(d, 7, cur)
            seen.extend(r["wf_run_id"] for r in page)
            pages += 1
            if cur is None:
                break
            assert pages < 100
        assert len(seen) == len(set(seen))  # no duplicates across pages
        assert sorted(seen) == full          # no gaps either
        # The (bucket, id) order is stable: one unpaged sweep agrees.
        whole, _ = read_snapshot_rows_page(d, 1000)
        assert [r["wf_run_id"] for r in whole] == seen
        # Middle pages each read O(page) buckets, not O(store).
        assert reads["n"] <= first_page_reads + pages * 8
    finally:
        shutil.rmtree(str(Path(d).parent), ignore_errors=True)


def test_cli_list_paginates_sparkless(spark, capsys, monkeypatch):
    """`lhctl list --serving-dir --limit` pages with a cursor (printed
    on stderr) and never boots Spark; paging through yields exactly
    the unpaged listing."""
    from old_original_java_little_horse_spark import cli as climod

    d = str(Path(tempfile.mkdtemp(prefix="serving-cli-page-")) / "store")
    try:
        upsert_serving_stores(_batch(spark, [
            _snap(f"run-{i:02d}", i) for i in range(17)]), d)

        def boom():
            raise AssertionError("CLI list booted Spark")
        monkeypatch.setattr(climod, "_spark", boom)

        assert climod.main(["list", "--serving-dir", d]) == 0
        full = sorted(capsys.readouterr().out.splitlines())

        seen, cursor, pages = [], None, 0
        while True:
            argv = ["list", "--serving-dir", d, "--limit", "6"]
            if cursor:
                argv += ["--cursor", cursor]
            assert climod.main(argv) == 0
            out, err = capsys.readouterr()
            seen.extend(out.splitlines())
            pages += 1
            assert pages < 20
            nc = [ln for ln in err.splitlines()
                  if ln.startswith("next-cursor\t")]
            if not nc:
                break
            cursor = nc[-1].split("\t", 1)[1]
        assert sorted(seen) == full and len(seen) == len(set(seen))
    finally:
        shutil.rmtree(Path(d).parent, ignore_errors=True)
