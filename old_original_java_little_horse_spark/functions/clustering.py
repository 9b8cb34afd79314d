"""Duplicate-cluster resolution: pairs → connected components → one
canonical document per cluster.

Pair generation (`dedup.py`) finds *edges*; a real dedup pipeline must
then resolve *clusters* — duplicate relations are transitive only
through connectivity (A≈B, B≈C ⇒ {A,B,C} is one group even when A and
C share no band).  This module closes that gap:

- `connected_components` — generic iterative hash-min label
  propagation over an edge DataFrame (the standard Spark-scale CC
  formulation: each round every node takes the min label among itself
  and its neighbors; converges in O(max component diameter) rounds).
  Duplicate clusters are near-cliques, so diameters are tiny (2-4
  rounds in practice) — the large-star/small-star variant is only
  needed for long-chain graphs, which dedup graphs are not.
- `d_dup_clusters` — every document labeled with its cluster id
  (min doc_id of its component) over the union of exact-duplicate
  edges and MinHash-LSH verified near-duplicate pairs.
- `d_dedup_canonical` — per-cluster keep-decision: canonical doc =
  longest text (ties → smallest doc_id), plus member count and the
  characters a keep-canonical pass would delete.

Scale design: each round is one shuffle join (edges ⋈ labels on node)
plus one partial-agg groupBy — both on the node key, so AQE coalesces
and the hot keys are bounded by cluster degree, not corpus size.
`localCheckpoint` truncates the per-round lineage (on a real cluster,
use a reliable `checkpoint` dir instead); the convergence probe is
fused into the round itself — the old label rides the min-aggregate
and the action that materializes the round's (lazy) checkpoint is a
count of changed labels, so each round costs exactly one Spark job.
Nothing is ever collected to the driver (the count is a scalar).

Reference anchor: the reference engine has no corpus operators — this
family extends it for training-data pipelines (BASELINE.json north
star), mirroring the exact/fuzzy dedup split of `dedup.py`.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..registry import query
from ..sources.parquet import load_table
from .dedup import _MINHASH_ORACLE_SIGS, d_minhash_lsh_pairs
from .text import normalized_text

MAX_CC_ROUNDS = 25  # backstop only; dedup graphs converge in 2-4


def connected_components(edges: DataFrame,
                         max_rounds: int = MAX_CC_ROUNDS,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """(node, label) for every node in `edges` (columns src, dst);
    label = min node id reachable in the undirected graph.

    Hash-min propagation: labels(v) ← min(labels(v), min labels of
    neighbors), iterated to fixpoint.  Each round shuffles the edge
    list once on src; rounds needed = max component diameter.

    Lineage is truncated per round: with `checkpoint_dir` set the
    rounds use reliable `checkpoint()` (survives executor loss on a
    real cluster — pass an HDFS/S3 dir there); without one,
    `localCheckpoint()` is the local-mode fallback (executor-local
    blocks: fine on local[n], lossy under executor death).

    Raises RuntimeError if `max_rounds` is exhausted before fixpoint —
    unconverged labels are silently *wrong* (a component with diameter
    > max_rounds would be split), so this never returns them.
    """
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint()

        lazy_ckpt = ckpt  # reliable path stays eager (cluster-loss safety)
    else:
        def ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint()

        def lazy_ckpt(df: DataFrame) -> DataFrame:
            # materialized by the round's own count() action — one
            # Spark job per round instead of ckpt-job + probe-job
            return df.localCheckpoint(eager=False)

    both = ckpt(edges.select("src", "dst")
                .union(edges.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst")))
                .distinct())
    # Each round fuses label propagation, the new-label aggregate AND
    # the convergence probe into ONE job: the old label rides the
    # groupBy as `max(when(is_old, label))` (labels holds exactly one
    # row per node, so the conditional max recovers it), the round's
    # frame is lazily checkpointed, and the materializing action IS the
    # changed-label count — where the previous shape paid an eager-
    # checkpoint job plus a separate join+isEmpty probe job per round
    # (plus an up-front identity-labels checkpoint, folded into round 1
    # below: `both` is symmetric, so every node appears as src and
    # (src → label src) is the identity labeling).
    labels = None
    converged = False
    for _ in range(max_rounds):
        if labels is None:  # round 1: labels(v) = v, no join needed
            cand = (both.select(F.col("src").alias("node"),
                                F.col("src").alias("label"),
                                F.lit(1).alias("is_old"))
                    .union(both.select(F.col("dst").alias("node"),
                                       F.col("src").alias("label"),
                                       F.lit(0).alias("is_old"))))
        else:
            prop = (both.join(labels, both.src == labels.node)
                    .select(F.col("dst").alias("node"), "label",
                            F.lit(0).alias("is_old")))
            cand = labels.withColumn("is_old", F.lit(1)).union(prop)
        new = lazy_ckpt(
            cand.groupBy("node")
            .agg(F.min("label").alias("label"),
                 F.max(F.when(F.col("is_old") == 1, F.col("label")))
                 .alias("old_label")))
        converged = (new.where(F.col("label") != F.col("old_label"))
                     .count() == 0)
        labels = new.select("node", "label")
        if converged:
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} "
            "rounds; component diameter exceeds the bound — raise max_rounds")
    return labels


def connected_components_star(edges: DataFrame,
                              max_rounds: int = 30,
                              checkpoint_dir: str | None = None) -> DataFrame:
    """(node, label) via alternating large-star/small-star — the
    O(log n)-round connected components of Kiveris et al. ("Connected
    Components in MapReduce and Beyond", SoCC'14; public algorithm).

    Hash-min (`connected_components` above) pays one round per unit of
    component DIAMETER — fine for dedup near-cliques, quadratic-ish
    wall time on long-chain graphs (reply threads, citation chains,
    temporal linkage).  The star operations instead contract each
    component toward its minimum in O(log n) rounds regardless of
    diameter, at the same per-round shuffle shape (groupBy node +
    join on node — two exchanges on one key):

    - large-star: every node connects its LARGER neighbors to the
      smallest node it can see (``m = min(Γ(u) ∪ {u})``);
    - small-star: every node connects its smaller-or-equal neighbors
      (and itself) to that minimum.

    Both emit canonical ``(lo, hi)`` edges, so fixpoint detection is
    set equality (count + one-sided anti-join).  Per-key cost is a
    min-aggregate (map-side combined), never a neighbor-list
    materialization, so a 100 TB edge set with a power-law hub still
    aggregates in O(degree) partial states.  Node ids may be any
    orderable type (strings included), matching hash-min.

    Sets ``connected_components_star.last_rounds`` for observability.
    """
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint()

        lazy_ckpt = ckpt  # reliable path stays eager (cluster-loss safety)
    else:
        def ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint()

        def lazy_ckpt(df: DataFrame) -> DataFrame:
            # materialized by the round's own count() action — one
            # job per round instead of ckpt-job + count-job
            return df.localCheckpoint(eager=False)

    # nodes is consumed exactly once (the final left join) — a
    # checkpoint would be a pure extra materialization job
    nodes = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node")))
             .distinct())
    # canonical (lo, hi), self-loops dropped
    e = lazy_ckpt(edges.select(F.least("src", "dst").alias("lo"),
                               F.greatest("src", "dst").alias("hi"))
                  .where(F.col("lo") != F.col("hi"))
                  .distinct())

    # Each round's count() both materializes the lazy checkpoint and
    # feeds the set-equality test; the previous round's count is
    # remembered, so cardinality comparison costs no extra job and the
    # anti-join probe only runs on candidate-fixpoint rounds (equal
    # counts).
    e_cnt = e.count()
    converged = e_cnt == 0
    rounds = 0
    while not converged and rounds < max_rounds:
        rounds += 1
        # -- large-star: center u over BOTH directions ------------------
        b = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
        m = (b.groupBy("u").agg(F.min("v").alias("mn"))
             .select("u", F.least("mn", "u").alias("m")))
        large = (b.join(m, "u")
                 .where(F.col("v") > F.col("u"))
                 .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
                 .where(F.col("lo") != F.col("hi"))
                 .distinct())
        # -- small-star: center hi over its smaller neighbors -----------
        sm = (large.groupBy("hi").agg(F.min("lo").alias("m")))
        small = (large.join(sm, "hi")
                 .select(F.col("m").alias("lo"),
                         F.col("lo").alias("hi"))  # (m, each smaller nbr)
                 .union(large.join(sm, "hi")
                        .select(F.col("m").alias("lo"), F.col("hi")))
                 .where(F.col("lo") != F.col("hi"))
                 .distinct())
        new = lazy_ckpt(small)
        # set equality: same cardinality + nothing in new missing from e
        new_cnt = new.count()
        converged = (new_cnt == e_cnt
                     and new.join(e, ["lo", "hi"], "left_anti").isEmpty())
        e, e_cnt = new, new_cnt
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"{max_rounds} rounds")
    connected_components_star.last_rounds = rounds
    # final edge set is a union of stars rooted at component minima
    return (nodes.join(e.select(F.col("hi").alias("node"),
                                F.col("lo").alias("label")),
                       "node", "left")
            .select("node", F.coalesce("label", F.col("node")).alias("label")))


# Materialized dup-edge memo: the edge pipeline (shingles → signatures →
# grid band join → Jaccard verify) is the expensive prefix shared by
# `d_dup_clusters` and `d_dedup_canonical` (and consumed twice more by
# the CC loop's union).  At 100 TB a dedup pipeline writes the edge set
# once and every consumer reads that table; the in-session equivalent is
# persist() behind a (session, sf_dir) memo.  The edge set itself is
# tiny (pairs, not documents), but a long-lived multi-tenant session
# could still touch many sf_dirs — so the memo is a bounded LRU: when
# it overflows, the oldest entry is evicted and its blocks unpersisted.
_EDGE_MEMO: dict[tuple[str, str], DataFrame] = {}
_EDGE_MEMO_CAP = 2


def _dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of exact-duplicate edges (doc → its content-group min) and
    LSH-verified near-duplicate pairs (jaccard ≥ 0.5); persisted once
    per (session, sf_dir) — see `_EDGE_MEMO`."""
    key = (spark.sparkContext.applicationId, sf_dir)
    memo = _EDGE_MEMO.get(key)
    if memo is not None:
        _EDGE_MEMO[key] = _EDGE_MEMO.pop(key)  # refresh LRU position
        return memo
    edges = _build_dup_edges(spark, sf_dir).persist()
    while len(_EDGE_MEMO) >= _EDGE_MEMO_CAP:
        old = _EDGE_MEMO.pop(next(iter(_EDGE_MEMO)))
        try:
            old.unpersist()
        except Exception:
            pass  # a dead session's blocks are already gone
    _EDGE_MEMO[key] = edges
    return edges


def _build_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select("doc_id", F.md5(normalized_text(F.col("text"))).alias("k"))
    gmin = keyed.groupBy("k").agg(F.min("doc_id").alias("m"))
    exact = (keyed.join(gmin, "k")
             .where(F.col("doc_id") != F.col("m"))
             .select(F.col("doc_id").alias("src"), F.col("m").alias("dst")))
    near = d_minhash_lsh_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return exact.union(near)


# The near-duplicate pair CTEs, verbatim twins of MINHASH_PAIRS_ORACLE
# (dedup.py) but exposed as a composable `near` CTE.
_NEAR_CTE = """
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
), ds AS (
  SELECT doc_id, list_distinct(list_transform(shingles, v -> substr(md5(v), 1, 8))) AS sh FROM s
), near AS (
  SELECT c.doc_a AS src, c.doc_b AS dst
  FROM cand c JOIN ds x ON c.doc_a = x.doc_id JOIN ds y ON c.doc_b = y.doc_id
  WHERE len(list_filter(x.sh, v -> list_contains(y.sh, v))) * 1.0 /
        NULLIF(len(x.sh) + len(y.sh) - len(list_filter(x.sh, v -> list_contains(y.sh, v))), 0) >= 0.5
)
"""

_EXACT_E_CTE = """
, exact_g AS (
  SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS k,
         MIN(doc_id) AS m
  FROM documents GROUP BY 1
), exact_e AS (
  SELECT d.doc_id AS src, g.m AS dst
  FROM documents d
  JOIN exact_g g ON md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) = g.k
  WHERE d.doc_id <> g.m
)"""

_EDGES_CTE = _NEAR_CTE + _EXACT_E_CTE + """
, edges AS (
  SELECT src, dst FROM exact_e UNION SELECT dst, src FROM exact_e
  UNION SELECT src, dst FROM near UNION SELECT dst, src FROM near
), lab(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, l.label FROM lab l JOIN edges e ON e.src = l.node
), comp AS (
  SELECT node, MIN(label) AS cluster_id FROM lab GROUP BY node
)
"""

# WITH RECURSIVE must lead the statement; the minhash CTE chain is
# otherwise unchanged.
_CLUSTERS_WITH = _MINHASH_ORACLE_SIGS.replace(
    "WITH t AS", "WITH RECURSIVE t AS", 1) + _EDGES_CTE

DUP_CLUSTERS_ORACLE = _CLUSTERS_WITH + """
SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
"""


@query("d_dup_clusters", oracle=DUP_CLUSTERS_ORACLE)
def d_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document labeled with its duplicate-cluster id (min doc_id
    of its exact∪near connected component; singletons label
    themselves).  The iterative CC loop only touches documents that
    appear in at least one pair — the (overwhelming) singleton
    majority joins in once at the end, so round cost scales with the
    duplicate subgraph, not the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    comp = connected_components(_dup_edges(spark, sf_dir))
    return (d.select("doc_id")
            .join(comp, d.doc_id == comp.node, "left")
            .select("doc_id",
                    F.coalesce("label", F.col("doc_id")).alias("cluster_id")))


DEDUP_CANONICAL_ORACLE = _CLUSTERS_WITH + """
, clustered AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         length(d.text) AS n_chars
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
), ranked AS (
  SELECT cluster_id, doc_id, n_chars,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
         SUM(n_chars) OVER (PARTITION BY cluster_id) AS total_chars,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM clustered
)
SELECT cluster_id, doc_id AS canonical_doc_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(total_chars - n_chars AS BIGINT) AS chars_removed
FROM ranked WHERE rn = 1
"""


@query("d_dedup_canonical", oracle=DEDUP_CANONICAL_ORACLE)
def d_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-decision per duplicate cluster: canonical = longest text
    (ties → smallest doc_id); `chars_removed` = characters deleted by
    keeping only the canonical member.  One window partition per
    cluster — the partition key is the cluster id, so skew is bounded
    by the largest duplicate cluster, and the two window functions
    share a single exchange+sort.
    """
    d = load_table(spark, sf_dir, "documents")
    comp = connected_components(_dup_edges(spark, sf_dir))
    clustered = (d.select("doc_id", F.length("text").alias("n_chars"))
                 .join(comp, d.doc_id == comp.node, "left")
                 .select("doc_id", "n_chars",
                         F.coalesce("label", F.col("doc_id")).alias("cluster_id")))
    part = Window.partitionBy("cluster_id")
    order = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    return (clustered
            .withColumn("n_members", F.count(F.lit(1)).over(part))
            .withColumn("total_chars", F.sum("n_chars").over(part))
            .withColumn("rn", F.row_number().over(order))
            .where(F.col("rn") == 1)
            .select("cluster_id",
                    F.col("doc_id").alias("canonical_doc_id"),
                    F.col("n_members").cast("long").alias("n_members"),
                    (F.col("total_chars") - F.col("n_chars"))
                    .cast("long").alias("chars_removed")))


DUP_STATS_ORACLE = _CLUSTERS_WITH + """
, clustered AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
), sizes AS (
  SELECT cluster_id, COUNT(*) AS sz FROM clustered GROUP BY cluster_id
)
SELECT CAST(sz AS BIGINT)       AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT)  AS n_docs,
       CAST(SUM(sz - 1) AS BIGINT) AS n_removable
FROM sizes GROUP BY sz
"""


@query("d_dup_cluster_stats", oracle=DUP_STATS_ORACLE)
def d_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: how many clusters of each
    size, how many documents they hold, and how many a keep-one pass
    would remove — the dedup-audit table every corpus report leads
    with (duplication factor, removable fraction) before anyone
    commits to deleting data.

    Two map-side-combined rollups on top of the shared memoized edge
    set + CC labels (`_dup_edges`): cluster sizes (exchange on
    cluster_id — key count = number of clusters), then the histogram
    (exchange on size — key count = distinct sizes, tiny).  Cost
    beyond `d_dup_clusters` is two small aggregations."""
    stats = (d_dup_clusters(spark, sf_dir)
             .groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz")))
    return (stats.groupBy(F.col("sz").cast("long").alias("cluster_size"))
            .agg(F.count(F.lit(1)).alias("n_clusters"),
                 F.sum("sz").cast("long").alias("n_docs"),
                 F.sum(F.col("sz") - 1).cast("long").alias("n_removable")))


@query("g_cc_star_clusters", oracle=DUP_CLUSTERS_ORACLE)
def g_cc_star_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`d_dup_clusters` recomputed with the large-star/small-star
    algorithm (`connected_components_star`) instead of hash-min — two
    independent distributed CC implementations against ONE oracle.

    Why it earns a registry row: hash-min's round count is the
    component DIAMETER; the star contraction's is O(log n).  On dedup
    near-cliques both take 2-4 rounds, but on chain-shaped linkage
    graphs (citation chains, reply threads, temporal stitching) the
    star variant is the only one that terminates in sane wall time at
    100 TB — `tests/test_cc_star.py` pins a 61-node path converging in
    ≤8 star rounds where hash-min needs 60.  Shuffle shape per round
    is identical (min-aggregate + join on the node key, map-side
    combined), so cost per round matches and the round count is the
    whole story."""
    d = load_table(spark, sf_dir, "documents")
    comp = connected_components_star(_dup_edges(spark, sf_dir))
    return (d.select("doc_id")
            .join(comp, d.doc_id == comp.node, "left")
            .select("doc_id",
                    F.coalesce("label", F.col("doc_id")).alias("cluster_id")))


# --------------------------------------------------------------------------
# PageRank over the purchase graph — iterative matrix-vector on Spark
# --------------------------------------------------------------------------

PR_ITERS = 5
PR_SCALE = 1_000_000_000_000  # e12 fixed-point
_PR_PINNED: list = []  # previous invocation's persisted edge/node DFs


def _pagerank_oracle() -> str:
    """Unrolled fixed-point PageRank in DuckDB SQL: every quantity is
    integer (e12 scale, floor division), so each iteration is
    bit-identical to the Spark loop."""
    base = f"(SELECT 15 * ({PR_SCALE} // COUNT(*)) // 100 FROM nodes)"
    its = []
    for i in range(1, PR_ITERS + 1):
        its.append(f"""
pr{i} AS (
  SELECT n.node,
         {base} + 85 * COALESCE(s.m, 0) // 100 AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(p.pr // e.outdeg) AS m
    FROM edges e JOIN pr{i - 1} p ON p.node = e.src
    GROUP BY e.dst) s ON s.node = n.node
)""")
    return f"""
WITH pairs AS (
  SELECT DISTINCT 'c:' || o.o_custkey AS c, 's:' || l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), raw AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
), deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM raw GROUP BY src
), edges AS (
  SELECT r.src, r.dst, d.outdeg FROM raw r JOIN deg d ON d.src = r.src
), nodes AS (
  SELECT DISTINCT src AS node FROM raw
), pr0 AS (
  SELECT node, {PR_SCALE} // (SELECT COUNT(*) FROM nodes) AS pr FROM nodes
),{",".join(its)}
SELECT node, CAST(pr AS BIGINT) AS pr_e12 FROM pr{PR_ITERS}
"""


@query("g_pagerank_purchases", oracle=_pagerank_oracle())
def g_pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite customer↔supplier purchase graph
    (edges: a customer bought from a supplier, both directions so the
    chain is irreducible) — the canonical ITERATIVE algorithm on
    Spark, complementing the hash-min connected components already in
    this module.

    Exact fixed-point arithmetic: ranks are e12-scaled BIGINTs,
    contributions are floor divisions, and the damping mix is integer
    — {iters} iterations replay bit-identically on DuckDB via an
    unrolled CTE chain, so an ITERATIVE float algorithm sits under
    the hash gate (float PageRank would drift across engines by
    summation order).

    Scale shape: the edge list (with out-degrees attached ONCE) is
    persisted and reused every iteration; each iteration is
    join-on-src → groupBy-dst — two exchanges on the same keys, the
    exact shuffle pattern of Pregel/GraphX's message passing, with
    map-side combine on the contribution sum.  Ranks stay (node, pr)
    rows; nothing ever collects to the driver.  At real scale you
    would also `localCheckpoint` every few iterations to truncate
    lineage — bounded here at {iters} plans."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (o.join(li, li.l_orderkey == o.o_orderkey)
             .select(F.concat(F.lit("c:"), "o_custkey").alias("c"),
                     F.concat(F.lit("s:"), "l_suppkey").alias("s"))
             .distinct())
    # Both directions via a row-local explode, not a self-union: the
    # union form evaluated the `pairs` subtree (orders⋈lineitem +
    # distinct) once per branch — and `raw` feeds two consumers (deg,
    # edges), so the persist-materialization job paid the join+distinct
    # up to 4x.  Explode emits both directions from ONE evaluation;
    # same rows out (r13, sim_neardup_topk precedent).
    raw = (pairs.select(F.explode(F.array(
        F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
        F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
    )).alias("_e")).select("_e.src", "_e.dst"))
    deg = raw.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Same convention as the dup-edge memo above: repeated invocations
    # (driver gate, sweeps, bench) must not accumulate pinned cache —
    # evict the PREVIOUS call's edge/node blocks.  Evict BEFORE
    # persisting the new ones: both calls produce the same analyzed
    # plan, and CacheManager uncaches by plan equality, so the other
    # order would silently un-cache this call's registration too.
    # (The cache earns its keep within one invocation: the
    # 5-iteration lineage references edges 5× in the final job.)
    # r13 NOTE (measured, kept as-is): attaching outdeg with a window
    # over src — to pin the cached edges to the per-round join layout —
    # A/B'd 1.56x SLOWER locally (plans/r13/ab_change6.json): the
    # window pays a full raw exchange + sort where this groupBy is
    # map-side combined and its join-back broadcasts.  At SMJ scale the
    # shape below is already layout-optimal with no further work: the
    # raw⋈deg join exchanges raw on src and emits it SORTED on src, so
    # the cache enters every Pregel round satisfying both the
    # distribution and the ordering of the round's edges⋈pr sort-merge
    # join — each round shuffles only rank rows and partial-agg
    # contributions, never the edge list.
    while _PR_PINNED:
        try:
            _PR_PINNED.pop().unpersist()
        except Exception:
            pass  # a dead session's blocks are already gone
    edges = raw.join(deg, "src").persist()
    nodes = raw.select(F.col("src").alias("node")).distinct().persist()
    _PR_PINNED.extend([edges, nodes])
    n_nodes = nodes.count()  # driver scalar: one small agg, reused in
    # every iteration's literal (the oracle's scalar subquery)
    base = 15 * (PR_SCALE // n_nodes) // 100
    pr = nodes.select("node", F.lit(PR_SCALE // n_nodes).alias("pr"))
    for _ in range(PR_ITERS):
        contrib = (edges.join(pr, edges.src == pr.node)
                   .select(F.col("dst").alias("node"),
                           F.expr("pr div outdeg").alias("m"))
                   .groupBy("node").agg(F.sum("m").alias("m")))
        pr = (nodes.join(contrib, "node", "left")
              .select("node",
                      (F.lit(base)
                       + F.expr(f"85 * coalesce(m, 0L) div 100"))
                      .alias("pr")))
    out = pr.select("node", F.col("pr").cast("long").alias("pr_e12"))
    return out


g_pagerank_purchases.__doc__ = g_pagerank_purchases.__doc__.format(
    iters=PR_ITERS)


# --------------------------------------------------------------------------
# Triangle counting over the duplicate graph (degree-ordered wedge join)
# --------------------------------------------------------------------------

_TRIANGLE_ORACLE = _MINHASH_ORACLE_SIGS + _NEAR_CTE + _EXACT_E_CTE + """
, und AS (
  SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM exact_e
  UNION
  SELECT src, dst FROM near
), degt AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY 1
), dirt AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v)
              THEN und.u ELSE und.v END AS a,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v)
              THEN und.v ELSE und.u END AS b
  FROM und JOIN degt du ON du.node = und.u JOIN degt dv ON dv.node = und.v
), cand_w AS (
  SELECT e1.b AS x, e2.b AS y
  FROM dirt e1 JOIN dirt e2 ON e1.a = e2.a AND e1.b < e2.b
), tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM cand_w w JOIN und
    ON und.u = LEAST(w.x, w.y) AND und.v = GREATEST(w.x, w.y)
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM degt) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
       (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM degt) AS n_wedges,
       n_triangles,
       -- CAST pins BIGINT: DuckDB SUM(BIGINT) is HUGEINT and would
       -- otherwise leak through // into the driver's value hash.
       CAST(CASE WHEN (SELECT SUM(d * (d - 1) // 2) FROM degt) = 0 THEN 0
            ELSE 3 * n_triangles * 1000000
                 // (SELECT SUM(d * (d - 1) // 2) FROM degt) END
         AS BIGINT) AS global_cc_e6
FROM tri
"""


@query("g_triangle_count", oracle=_TRIANGLE_ORACLE)
def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the
    exact∪near duplicate graph — the third graph algorithm family
    beside the CC pair and PageRank: triangles measure how CLIQUE-like
    the duplicate neighborhoods are (transitive near-dups ⇒ safe to
    collapse whole clusters; low closure ⇒ chained false merges), and
    the wedge/triangle ratio is the standard graph-health diagnostic.

    Algorithm: Cohen's degree-ordered wedge join (MapReduce triangle
    counting) — orient every undirected edge from its lower-ranked
    endpoint under the total order (degree, id); each triangle then
    has EXACTLY ONE vertex with out-edges to the other two, so
    counting = self-join the oriented adjacency on the pivot +
    closure probe against the edge set.  The orientation bounds every
    out-degree by O(√m) regardless of hubs — the wedge join over a
    star of a million exact dups generates pairs from its ROOT's
    out-list (bounded), not the million-wide in-list, which is why
    this beats the naive neighbor join at 100 TB.

    Spark-first: three exchanges total — degree count (map-side
    combined), wedge self-join on the pivot key, closure hash-join on
    the canonical (u, v) — all equi-joins Catalyst plans shuffled-hash
    /broadcast as sizes dictate.  Counts and the e6 clustering
    coefficient are exact integers on both engines."""
    return triangle_stats(_dup_edges(spark, sf_dir))


_TRI_PINNED: list = []  # previous invocation's persisted und/deg


def triangle_stats(edges: DataFrame) -> DataFrame:
    """One-row (n_nodes, n_edges, n_wedges, n_triangles, global_cc_e6)
    for the undirected graph under `edges` (src/dst, any direction,
    duplicates/self-loops tolerated) — the degree-ordered wedge-join
    core of `g_triangle_count`, exposed for unit graphs.

    The canonical edge set and the degree table each feed several
    plan branches (orientation join ×2, wedge join, closure probe,
    the count aggregates); without pinning, each branch replays the
    distinct/groupBy exchange chain (~5×).  Persist both — the memo
    evicts the PREVIOUS invocation's blocks, same convention as
    `_EDGE_MEMO`/`_PR_PINNED`.

    The ORIENTED edge list (`dirt`) is deliberately NOT pinned
    (r13, measured): both wedge-join branches are projections of it,
    but AQE's runtime exchange reuse already dedups the orientation
    chain's identical shuffle stages across the branches, so the only
    duplicated work is post-shuffle merge CPU — and pinning it
    (plain persist: A/B ratio 1.09; repartition+sort on the pivot:
    1.31, plans/r13/ab_change6*.json) pays cache materialization that
    exceeds the saved recompute at every measured point."""
    und = (edges.select(F.least("src", "dst").alias("u"),
                        F.greatest("src", "dst").alias("v"))
           .where(F.col("u") != F.col("v")).distinct())
    deg = (und.select(F.col("u").alias("node"))
           .unionByName(und.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("d")))
    while _TRI_PINNED:
        try:
            _TRI_PINNED.pop().unpersist()
        except Exception:
            pass  # a dead session's blocks are already gone
    und, deg = und.persist(), deg.persist()
    _TRI_PINNED.extend([und, deg])
    du, dv = deg.alias("du"), deg.alias("dv")
    lower = (F.col("du.d") < F.col("dv.d")) | (
        (F.col("du.d") == F.col("dv.d")) & (F.col("u") < F.col("v")))
    dirt = (und.join(du, F.col("du.node") == F.col("u"))
            .join(dv, F.col("dv.node") == F.col("v"))
            .select(F.when(lower, F.col("u")).otherwise(F.col("v")).alias("a"),
                    F.when(lower, F.col("v")).otherwise(F.col("u")).alias("b")))
    e1 = dirt.select(F.col("a").alias("p"), F.col("b").alias("x"))
    e2 = dirt.select(F.col("a").alias("p"), F.col("b").alias("y"))
    wedges = (e1.join(e2, "p").where(F.col("x") < F.col("y"))
              .select("x", "y"))
    tri = (wedges.join(und, (F.col("u") == F.col("x"))
                       & (F.col("v") == F.col("y")))
           .agg(F.count(F.lit(1)).alias("n_triangles")))
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"))
    ne = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return (nn.crossJoin(ne).crossJoin(tri)
            .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
                    F.expr("CASE WHEN n_wedges = 0 THEN 0 "
                           "ELSE 3 * n_triangles * 1000000 div n_wedges END")
                     .alias("global_cc_e6")))
