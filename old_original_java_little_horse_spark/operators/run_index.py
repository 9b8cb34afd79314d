"""Engine-native query/index layer (SURVEY.md §3.3, §7 step 8).

The reference materializes every WFRun into an id store plus a
secondary index of (aliasKey, aliasValue) → posting list
(`ApiTopologyBuilder.java:40-116`, `ResourceIndexProcessor.java:41-131`),
with alias extraction `name` + every *string-valued* thread variable
(`WFRun.java:320-338`, the `instanceof String` filter at 328-330).

Spark-first: the snapshot stream IS the id table; alias extraction is
a JVM-side lateral view over the variables map; the index is a
groupBy posting list.  `GET /WFRun/{id}` → filter on wf_run_id;
search → filter on (key, value) + broadcast join back; getAll →
distinct projection.  In production these are `foreachBatch` MERGEs
into Delta tables; here they run over the batch snapshots (identical
plan shapes).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType, IntegerType, MapType, StringType, StructField, StructType,
)

from ..registry import query

# variables maps are heterogeneous; values parse as strings and the
# declared-type map (written by the fold at thread creation) selects
# which are STRING variables.
_PARSE = StructType([
    StructField("id", StringType()),
    StructField("thread_runs", ArrayType(StructType([
        StructField("id", IntegerType()),
        StructField("variables", MapType(StringType(), StringType())),
        StructField("var_types", MapType(StringType(), StringType())),
    ]))),
])


def doc_aliases(doc: dict | None) -> set[tuple[str, str]]:
    """Python twin of `alias_rows` for the engine's incremental index
    path: the alias set of ONE WFRun document — 'name' plus every
    non-null STRING-typed thread variable (WFRun.java:320-338).

    Must stay in lockstep with `alias_rows` (the SQL extraction): the
    incremental changelog this feeds is asserted equal to the batch
    recompute by the `engine_index_incremental` driver query.
    """
    if doc is None:
        return set()
    out = {("name", doc["id"])}
    for tr in doc.get("thread_runs") or []:
        types = tr.get("var_types") or {}
        for k, v in (tr.get("variables") or {}).items():
            if v is not None and types.get(k) == "STRING":
                out.add((k, v if isinstance(v, str) else str(v)))
    return out


def alias_rows(snapshots: DataFrame) -> DataFrame:
    """(object_id, key, value) alias pairs per WFRun snapshot:
    'name' plus every string-valued thread variable.

    Single pass over `snapshots`: the name alias and the variable
    aliases are assembled into ONE per-row array (higher-order
    map_entries/filter/transform — all JVM-side) and exploded once.
    The earlier union-of-two-branches formulation scanned `snapshots`
    twice — and when the input is an unmaterialized fold pipeline
    (engine_run_index's shape), that meant running the entire fold
    per branch."""
    _KV = "array<struct<key:string,value:string>>"
    parsed = snapshots.select(
        "wf_run_id", F.from_json("state_json", _PARSE).alias("st")
    )
    name_pair = F.array(F.struct(
        F.lit("name").alias("key"), F.col("wf_run_id").alias("value")))
    # The reference indexes only `instanceof String` variable values
    # (WFRun.java:328-330).  The declared type travels in the
    # document (fold.create_thread), so a STRING variable whose
    # *content* renders numeric/boolean/JSON ("42", "true") is still
    # indexed — value-shape sniffing would drop it.  Duplicate
    # (key, value) pairs across threads are KEPT, exactly like the
    # union formulation this replaces.
    var_pairs = F.flatten(F.coalesce(F.transform(
        F.col("st.thread_runs"),
        lambda tr: F.coalesce(F.transform(
            F.filter(
                F.map_entries(tr["variables"]),
                lambda e: e["value"].isNotNull()
                & (F.element_at(tr["var_types"], e["key"]) == "STRING")),
            lambda e: F.struct(e["key"].alias("key"),
                               e["value"].alias("value"))),
            F.array().cast(_KV))),
        F.array().cast(f"array<{_KV}>")))
    return (parsed.select(
        F.col("wf_run_id").alias("object_id"),
        F.explode(F.concat(name_pair, var_pairs)).alias("kv"))
        .select("object_id", "kv.key", "kv.value"))


def run_index(snapshots: DataFrame) -> DataFrame:
    """Posting lists per (key, value) over run snapshots (A1)."""
    return alias_rows(snapshots).groupBy("key", "value").agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.concat_ws(",", F.sort_array(F.collect_list("object_id"))).alias("posting_list"),
    )


def search(snapshots: DataFrame, key: str, value: str) -> DataFrame:
    """`lhctl search <key> <value>` → full objects (index hit ⋈ id store)."""
    ids = alias_rows(snapshots).where(
        (F.col("key") == key) & (F.col("value") == value)
    ).select("object_id")
    return F.broadcast(ids).join(
        snapshots, ids.object_id == snapshots.wf_run_id
    ).select("wf_run_id", "status", "state_json")


@query(
    "engine_run_index",
    oracle="""
WITH agg AS (
  SELECT user_id,
         COUNT(*) FILTER (event_type = 'purchase') AS n_purch,
         COUNT(*) FILTER (event_type = 'click')    AS n_click
  FROM events GROUP BY user_id
), tiers AS (
  SELECT 'user-' || CAST(user_id AS VARCHAR) AS run_id,
         CASE WHEN n_click > n_purch THEN 'clicky' ELSE 'buyy' END AS tier
  FROM agg
)
SELECT 'tier' AS key, tier AS value,
       COUNT(*) AS n_entries,
       STRING_AGG(run_id, ',' ORDER BY run_id) AS posting_list
FROM tiers GROUP BY tier
UNION ALL
SELECT 'name', run_id, 1, run_id FROM tiers
""",
)
def engine_run_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's search index built from live engine output:
    fold runs → extract string-valued aliases → posting lists.  The
    oracle derives the same index from the workflow's closed form
    (tier is the only string-valued user variable)."""
    from ..engine.batch import run_events_batch
    from ..engine.batch_queries import (
        _wf_events_from_users, pipeline_executor, pipeline_spec,
    )

    events = _wf_events_from_users(spark, sf_dir)
    snaps = run_events_batch(events, pipeline_spec(), executor=pipeline_executor)
    return run_index(snaps)
