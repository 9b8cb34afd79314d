"""Similarity search over embedding columns (`array<float>`).

Baseline: brute-force cosine top-k (broadcast the query set, one pass
over the corpus, per-query top-k via window).  Scale path: LSH /
label-blocked candidate pruning so the pair space stays linear.

Determinism contract: embeddings are quantized to integers
(round(x*1000)) before any arithmetic, so dot products and norms are
*exact* in both engines; the only float ops are one sqrt + one divide
on identical inputs → identical IEEE doubles → stable ranking with a
vec_id tie-break.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from ..registry import query
from ..sources.parquet import load_table

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors


def quantized(c: Column) -> Column:
    """array<float> → array<long> of round(x*1000): exact integer space.

    Domain contract: |x| <= ~3e5 keeps a single 64-dim int64 dot
    product from overflowing (sum of 64 squares of |q| <= 3.8e8 stays
    under 2^63) — but the bound is PER-EXPRESSION, and consumers that
    multiply dots again tighten it: `sim_semantic_decontaminate`'s
    cross-multiplied compare (25·dot² vs 4·n2·n2) documents |x| <= ~2
    at its site.  Real embedding pipelines are unit-normalized
    (|x| <= 1), far inside every bound; a component beyond one
    overflows the BIGINT arithmetic on BOTH engines (Spark ANSI long
    overflow, DuckDB BIGINT overflow) rather than silently wrapping."""
    return F.transform(c, lambda x: F.round(x.cast("double") * 1000, 0).cast("long"))


def dot_q(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def directed_vectors(spark: SparkSession, sf_dir: str,
                     with_label: bool = False) -> DataFrame:
    """The cosine family's vector universe: quantized embeddings with
    a usable DIRECTION — NULL embeddings excluded (no vector at all;
    Arrow UDF batches cannot hold them and the oracles' list
    comprehension yields NULL), zero-norm vectors excluded (cosine
    against them is an ANSI division by zero).  Mirrors the shared
    `_QUANT_ORACLE` CTE chain exactly; the distance family (IVF /
    k-means / PQ) keeps zero vectors and filters only NULLs
    (`_QUANT_POS_ORACLE`)."""
    cols = ["vec_id", "label"] if with_label else ["vec_id"]
    # ONE interpreted array-dot per row: n2 (exact long, what the
    # cross-multiplied integer compares consume) is computed once and
    # norm2 is its double cast for the cosine denominators — dot_q is
    # an interpreted HOF with no CSE across projections (the r10
    # lesson), so computing it twice would double the hot path.
    return (load_table(spark, sf_dir, "embeddings")
            .where(F.col("embedding").isNotNull())
            .select(*cols, quantized(F.col("embedding")).alias("v"))
            .withColumn("n2", dot_q(F.col("v"), F.col("v")))
            .where(F.col("n2") > 0)
            .withColumn("norm2", F.col("n2").cast("double")))


def positional_vectors(spark: SparkSession, sf_dir: str,
                       with_label: bool = False) -> DataFrame:
    """The distance family's vector universe (IVF / k-means / PQ /
    centroids): only NULL embeddings are excluded — a zero vector has
    a POSITION even without a direction, so it clusters and encodes
    normally.  Mirrors `_QUANT_POS_ORACLE`."""
    cols = ["vec_id", "label"] if with_label else ["vec_id"]
    return (load_table(spark, sf_dir, "embeddings")
            .where(F.col("embedding").isNotNull())
            .select(*cols, quantized(F.col("embedding")).alias("v")))


# Vector-universe rule (r11, pinned by the embeddings edge corpus):
# a row with a NULL embedding has no usable vector on either engine
# (Spark's Arrow UDFs cannot batch it; SQL list comprehension yields
# NULL) and is excluded EVERYWHERE.  The cosine family additionally
# excludes zero-norm vectors — cosine against the zero vector is
# undefined (ANSI division by zero), so "no direction" rows cannot be
# queried or matched.  The distance family (IVF/k-means/PQ) keeps
# zero vectors: they have a position even without a direction.
_QUANT_POS_ORACLE = """
WITH q AS (
  SELECT vec_id, [CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT) for x in embedding] AS v
  FROM embeddings
  WHERE embedding IS NOT NULL
)
"""

_QUANT_ORACLE = """
WITH q0 AS (
  SELECT vec_id, [CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT) for x in embedding] AS v
  FROM embeddings
  WHERE embedding IS NOT NULL
), q AS (
  SELECT vec_id, v FROM q0
  WHERE list_sum([v[i] * v[i] for i in generate_series(1, len(v))]) > 0
)
"""


@query(
    "sim_topk_bruteforce",
    oracle=_QUANT_ORACLE + f"""
, pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) * 1.0 /
         sqrt(CAST(list_sum([a.v[i] * a.v[i] for i in generate_series(1, len(a.v))]) AS DOUBLE)
              * CAST(list_sum([b.v[i] * b.v[i] for i in generate_series(1, len(b.v))]) AS DOUBLE))
           AS cosine
  FROM q a JOIN q b ON a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM pairs
)
SELECT query_id, neighbor_id, rnk, CAST(ROUND(cosine, 4) AS DOUBLE) AS cosine
FROM ranked WHERE rnk <= {TOP_K}
""",
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set
    against the corpus, rank per query.

    Scale notes: the corpus side is never shuffled — queries are
    broadcast, the dot product is a per-row map, and top-k per query
    is a window over a tiny (|Q|·n) intermediate that AQE coalesces.
    At 100 TB you first block candidates (see `sim_lsh_bucketed`),
    then run exactly this verification kernel on the survivors.
    """
    e = directed_vectors(spark, sf_dir)
    qs = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm2").alias("qnorm2"),
    )
    pairs = (
        F.broadcast(qs)
        .join(e, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            # JVM dot here, NOT _cos_pairs_udf: the NLJ emits |Q|·n pairs
            # each carrying two 64-long arrays, and Arrow-shipping both
            # arrays per pair measured 2.3x slower than the interpreted
            # in-JVM dot.  The UDF wins only after LSH blocking prunes
            # the pair space (see the bucketed queries).
            (dot_q(F.col("qv"), F.col("v"))
             / F.sqrt(F.col("qnorm2") * F.col("norm2"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "rnk", F.round("cosine", 4).cast("double").alias("cosine"))
    )


def _label_lsh_oracle() -> str:
    # Defined after the LSH helpers below; assembled lazily at module
    # import (the @query decorator evaluates it once).
    return _QUANT_ORACLE + f"""
, lab AS (
  SELECT q.vec_id, q.v, e.label FROM q JOIN embeddings e ON q.vec_id = e.vec_id
), sigs AS (
  SELECT vec_id, label, unnest({_tables_array_sql('v', one_based=True)}) AS bucket
  FROM lab
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label
  FROM sigs a JOIN sigs b
    ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b, c.label,
       CAST(ROUND(
         list_sum([x.v[i] * y.v[i] for i in generate_series(1, len(x.v))]) * 1.0 /
         sqrt(CAST(list_sum([x.v[i] * x.v[i] for i in generate_series(1, len(x.v))]) AS DOUBLE)
              * CAST(list_sum([y.v[i] * y.v[i] for i in generate_series(1, len(y.v))]) AS DOUBLE)),
         4) AS DOUBLE) AS cosine
FROM cand c JOIN q x ON c.vec_a = x.vec_id JOIN q y ON c.vec_b = y.vec_id
WHERE list_sum([x.v[i] * y.v[i] for i in generate_series(1, len(x.v))]) * 1.0 /
      sqrt(CAST(list_sum([x.v[i] * x.v[i] for i in generate_series(1, len(x.v))]) AS DOUBLE)
           * CAST(list_sum([y.v[i] * y.v[i] for i in generate_series(1, len(y.v))]) AS DOUBLE)) >= 0.3
"""


def neardup_block_sigs(e: DataFrame) -> DataFrame:
    """(vec_id, label, bucket) blocking rows over a directed-vectors
    frame — the self-join input of `sim_label_blocked_neardup`, shared
    with its candidate counter (`enum_candidates.py`) so the counted
    work can never drift from the executed plan.  One row per
    (vector, LSH table): N_TABLES buckets per vector."""
    return e.select(
        "vec_id", "label",
        F.explode(_bucket_ids_udf(N_TABLES, BITS_PER_TABLE)(F.col("v"))).alias("bucket"),
    )


def sim_label_blocked_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates share BOTH
    the label and a hyperplane-LSH bucket (any of the OR'd tables),
    then exact cosine >= 0.3 verifies.

    Round 1 blocked on `label` alone; the composite (label, table,
    bucket) key cuts each label block 16-ways per table, and the
    candidate self-join is grid-sub-bucketed (`grid_self_pairs`) so a
    dense cell spreads over P² reducers instead of pinning one.

    Scale posture: this query ENUMERATES near-dup pairs, and on
    clustered data that workload is inherently quadratic within each
    dense neighborhood — so wall-ratio against a x10 data step is the
    WRONG unit; per-candidate cost is the honest one.  Since r12 the
    decade probe MEASURES that adjudication instead of re-arguing it:
    `tools/scale_probe.py` counts this query's candidate pairs at both
    scales via `enum_candidates.py` (the counter shares this module's
    `neardup_block_sigs`, so the counted work cannot drift from the
    executed plan) and records `candidates_small/big` and
    `us_per_candidate_*` next to the wall columns; the audit bound for
    enumerate-contract queries trips on per-candidate GROWTH, not wall
    ratio.  r11 reference point: x10 vectors → candidates x102,
    verified output x125, wall-per-candidate falling 40 → 3 µs, spill
    0, and the grid spreads every dense cell (no reducer hot-spot).
    The (table, bucket) fanout is FIXED (BITS_PER_TABLE), so it
    divides constants, not asymptotics — by design, because the
    oracle inlines the same constants and candidate recall must match
    it exactly.  At corpus scale you do not materialize all pairs: the
    linear paths are `sim_neardup_topk` (per-vector top-K, linear
    candidate cap), `d_dup_clusters`/`d_dedup_canonical` (LSH pairs →
    hash-min connected components → one canonical row per cluster),
    and ANN lookups via `sim_lsh_bucketed_ann`/`sim_ivf_ann`.
    Recall per pair at angle θ is 1-(1-(1-θ/π)^BITS)^TABLES — the
    oracle mirrors the same candidate rule, so results match exactly.
    """
    from .dedup import grid_self_pairs

    # directed_vectors precomputes norms once per vector (not per
    # pair): the pair expression then evaluates ONE interpreted
    # array-dot instead of three — measured ~3x on the bucketed join.
    e = directed_vectors(spark, sf_dir, with_label=True)
    sigs = neardup_block_sigs(e)
    cand = grid_self_pairs(sigs, ["label", "bucket"], id_col="vec_id").select(
        F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"))
    x = e.select(F.col("vec_id").alias("xid"), F.col("label").alias("label"),
                 F.col("v").alias("xv"), F.col("norm2").alias("xn"))
    y = e.select(F.col("vec_id").alias("yid"),
                 F.col("v").alias("yv"), F.col("norm2").alias("yn"))
    cos = _cos_pairs_udf()(F.col("xv"), F.col("yv"), F.col("xn"), F.col("yn"))
    return (
        cand.join(x, cand.vec_a == F.col("xid"))
        .join(y, cand.vec_b == F.col("yid"))
        .select("vec_a", "vec_b", "label", cos.alias("cos"))
        .where(F.col("cos") >= 0.3)
        .select("vec_a", "vec_b", "label",
                F.round("cos", 4).cast("double").alias("cosine"))
    )


# --------------------------------------------------------------------------
# LSH-bucketed ANN — the scale path: random-hyperplane signatures bucket
# the corpus; search only touches the query's bucket.
# --------------------------------------------------------------------------

# Pair-blocking config (sim_label_blocked_neardup): few wide tables —
# the verify threshold (cosine >= 0.3) is loose, so modest recall per
# pair suffices and each extra table multiplies the exploded rows.
N_PLANES = 16
N_TABLES = 4          # OR over tables: candidate iff ANY table's bucket matches
BITS_PER_TABLE = N_PLANES // N_TABLES
# ANN config (sim_lsh_bucketed_ann): many narrow tables.  Tuned by
# measurement against exact brute-force top-3 on the test corpora
# (see sim_lsh_bucketed_ann docstring): 15 x 6-bit tables = 80%
# recall@3 at 23% of brute-force candidate work on the 2,000-vector
# corpus — vs 53% recall at 24% work for the round-1 4 x 4-bit.
ANN_TABLES = 15
ANN_BITS = 6
DIM = 64


def _plane_signs(n_planes: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes: sign(p,d) from md5(f"{p}-{d}").
    Computed host-side once; identical constants are inlined into both
    the Spark plan and the DuckDB oracle, so signatures match exactly
    (integer arithmetic on quantized vectors)."""
    import hashlib

    return [
        [1 if int(hashlib.md5(f"{p}-{d}".encode()).hexdigest()[0], 16) >= 8 else -1
         for d in range(DIM)]
        for p in range(n_planes)
    ]


def _bucket_ids_udf(n_tables: int, bits: int):
    """LSH bucket ids as ONE Arrow-batched integer matrix multiply.

    The generated per-plane CASE-WHEN expression (still used verbatim
    in the DuckDB oracles, `_tables_array_sql`) blows past Spark's
    codegen method-size limit at ANN width (15x6 tables over 64 dims ≈
    5,800 terms) and silently falls back to *interpreted* evaluation —
    measured ~6 s per pass over just 2,000 vectors, recomputed on both
    sides of the candidate self-join.  `V @ S.T >= 0` in numpy int64
    computes the identical plane sums exactly (quantized vectors,
    exact integer arithmetic), so candidates are unchanged.

    Bucket id = (table << bits) | bit-string-value — a bijection of
    the oracle's 't:bitstring' key, so the grouping (the only thing a
    bucket is used for) is identical; buckets never appear in output.
    """
    import numpy as np

    signs = np.array(_plane_signs(n_tables * bits), dtype=np.int64)  # (P, DIM)
    pow2 = np.array([1 << (bits - 1 - b) for b in range(bits)], dtype=np.int64)
    offsets = np.arange(n_tables, dtype=np.int64) << bits

    @F.pandas_udf("array<bigint>")
    def buckets(v):
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack(v.to_numpy()).astype(np.int64)          # (n, DIM)
        bits_mat = (V @ signs.T >= 0).astype(np.int64)        # (n, P)
        per_table = bits_mat.reshape(len(V), n_tables, bits) @ pow2
        return pd.Series((per_table + offsets).tolist())

    return buckets


def _cos_pairs_udf():
    """Exact cosine over candidate pairs, Arrow-batched.

    `dot_q` (aggregate∘zip_with) is an interpreted higher-order
    function — ~1.3 s for 46k pairs at sf0.1, and the per-pair hot
    path of every verify join.  The numpy version is bit-identical:
    int64 dot products are exact, and float64 divide/sqrt on the same
    inputs produce the same IEEE doubles Spark's long→double cast
    path does (rounding to 4 decimals stays Spark-side either way).

    Returned `.asNondeterministic()` — a pure function, marked ND only
    as the guide-§4.4 optimizer fence (the `_ivf_cells_udf` precedent,
    r13 change 5): the verify queries filter on `cos >= 0.3`, and the
    pushed-down filter otherwise re-evaluates the matmul below the
    projection that produces the column (measured plans: 2 back-to-back
    ArrowEvalPython nodes in `sim_label_blocked_neardup` and BOTH union
    branches of `sim_neardup_topk`).  The unfiltered consumers
    (`sim_lsh_bucketed_ann`, `sim_ivf_ann` — window-ranked, no
    predicate on the column) plan identically either way.
    """
    @F.pandas_udf("double")
    def cos(xv, yv, xn, yn):
        import numpy as np
        import pandas as pd

        if len(xv) == 0:
            return pd.Series([], dtype=float)
        X = np.vstack(xv.to_numpy()).astype(np.int64)
        Y = np.vstack(yv.to_numpy()).astype(np.int64)
        dot = np.einsum("ij,ij->i", X, Y).astype(np.float64)
        return pd.Series(dot / np.sqrt(xn.to_numpy() * yn.to_numpy()))

    return cos.asNondeterministic()


def _table_sig_sql(col: str, table: int, one_based: bool, bits: int,
                   signs_all: list[list[int]]) -> str:
    """One table's bucket: `bits` hyperplane sign bits — plain
    generated arithmetic, fully inside whole-stage codegen (no HOFs)."""
    parts = []
    for b in range(bits):
        signs = signs_all[table * bits + b]
        terms = []
        for d, sgn in enumerate(signs):
            idx = d + 1 if one_based else d
            terms.append(f"{'+' if sgn > 0 else '-'}{col}[{idx}]")
        parts.append(f"(CASE WHEN ({' '.join(terms)}) >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(parts)


def _tables_array_sql(col: str, one_based: bool, n_tables: int = N_TABLES,
                      bits: int = BITS_PER_TABLE) -> str:
    """array of (table_id || ':' || bucket) strings, one per table."""
    signs_all = _plane_signs(n_tables * bits)
    entries = [
        f"'{t}:' || {_table_sig_sql(col, t, one_based, bits, signs_all)}"
        for t in range(n_tables)
    ]
    return f"array({', '.join(entries)})" if not one_based else f"[{', '.join(entries)}]"


_ANN_ORACLE = _QUANT_ORACLE + f"""
, sigs AS (
  SELECT vec_id, v,
         unnest({_tables_array_sql('v', one_based=True, n_tables=ANN_TABLES, bits=ANN_BITS)}) AS bucket
  FROM q
), cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
  WHERE a.vec_id < {N_QUERIES}
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_sum([x.v[i] * y.v[i] for i in generate_series(1, len(x.v))]) * 1.0 /
         sqrt(CAST(list_sum([x.v[i] * x.v[i] for i in generate_series(1, len(x.v))]) AS DOUBLE)
              * CAST(list_sum([y.v[i] * y.v[i] for i in generate_series(1, len(y.v))]) AS DOUBLE))
           AS cosine
  FROM cand c JOIN q x ON c.query_id = x.vec_id JOIN q y ON c.neighbor_id = y.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, rnk, CAST(ROUND(cosine, 4) AS DOUBLE) AS cosine
FROM ranked WHERE rnk <= 3
"""


@query("sim_lsh_bucketed_ann", oracle=_ANN_ORACLE)
def sim_lsh_bucketed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH (15 tables x 6
    bits, candidate iff ANY table's bucket matches) → exact cosine
    rank over the candidate union.

    Config by measurement against exact brute-force top-3 (numpy
    twin of this exact signature scheme): on the 2,000-vector corpus
    15x6 = 80% recall@3 touching 23% of brute-force candidates; the
    round-1 4x4 = 53% at 24%.  (On the 500-vector corpus: 60% vs
    40% — tiny corpora have wide-angle nearest neighbors, the known
    hyperplane-LSH regime.)  Many narrow tables beat few wide ones at
    equal candidate work because per-table collision falls
    geometrically with bits but the OR over tables restores recall.

    Scale notes: the corpus is scanned once; candidates shuffle on
    the (table, bucket) key; signature arithmetic is generated
    per-plane sums — pure codegen, exact integers, so the DuckDB
    oracle reproduces the ranking bit-for-bit.
    """
    e = directed_vectors(spark, sf_dir)
    sigs = e.select(
        "vec_id", "v", "norm2",
        F.explode(_bucket_ids_udf(ANN_TABLES, ANN_BITS)(F.col("v"))).alias("bucket"),
    )
    qsigs = sigs.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm2").alias("qnorm2"), "bucket",
    )
    cand = (
        F.broadcast(qsigs)
        .join(sigs, (qsigs.bucket == sigs.bucket) & (F.col("query_id") != F.col("vec_id")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "qv", "qnorm2", "v", "norm2")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cos = _cos_pairs_udf()(F.col("qv"), F.col("v"), F.col("qnorm2"), F.col("norm2"))
    scored = cand.select("query_id", "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "rnk",
                F.round("cosine", 4).cast("double").alias("cosine"))
    )


# sim_label_blocked_neardup's oracle embeds the hyperplane-table SQL,
# so registration happens here — after the LSH helpers are defined.
query("sim_label_blocked_neardup", oracle=_label_lsh_oracle())(sim_label_blocked_neardup)


NEARDUP_TOPK = 5     # partners kept per vector in the capped variant
# Sorted-neighborhood candidate cap (round 11, VERDICT r10 item 2):
# inside each (label, table-bucket) a vector is only paired with its
# NEARDUP_WINDOW vec_id-successors, so the candidate count is
# N x N_TABLES x NEARDUP_WINDOW — linear BY CONSTRUCTION, the
# `_SEG_MAX_DF` precedent.  Recall effect: a pair sharing a bucket but
# sitting > NEARDUP_WINDOW apart in vec_id order inside EVERY shared
# bucket is missed; a dup cluster of <= NEARDUP_WINDOW+1 members is
# fully covered.  Measured against the uncapped variant (exhaustive
# pair set -> per-vector top-K) in tests/test_neardup_topk_recall.py:
# top-K recall 1.000 at sf0.001 and sf0.01, 0.992 at sf0.1.
NEARDUP_WINDOW = 16


def _neardup_topk_oracle() -> str:
    # Mirrors the Spark plan rule-for-rule: same hyperplane tables,
    # same per-bucket ROW_NUMBER neighbor window, same cosine >= 0.3
    # verify, both-ways direction, per-vector top-K.  cosine ships as
    # e4 fixed-point BIGINT — the repo-wide output-type contract bans
    # new DOUBLE columns (oracle_compare.SPARK_ALLOWED_DTYPES), and
    # the integer doubles as the deterministic rank key.
    cos = ("list_sum([x.v[i] * y.v[i] for i in generate_series(1, len(x.v))]) * 1.0 /"
           " sqrt(CAST(list_sum([x.v[i] * x.v[i] for i in generate_series(1, len(x.v))]) AS DOUBLE)"
           " * CAST(list_sum([y.v[i] * y.v[i] for i in generate_series(1, len(y.v))]) AS DOUBLE))")
    return _QUANT_ORACLE + f"""
, lab AS (
  SELECT q.vec_id, q.v, e.label FROM q JOIN embeddings e ON q.vec_id = e.vec_id
), sigs AS (
  SELECT vec_id, label,
         unnest({_tables_array_sql('v', one_based=True)}) AS bucket
  FROM lab
), pos AS (
  SELECT vec_id, label, bucket,
         ROW_NUMBER() OVER (PARTITION BY label, bucket ORDER BY vec_id) AS pos
  FROM sigs
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label
  FROM pos a JOIN pos b
    ON a.label = b.label AND a.bucket = b.bucket
   AND b.pos BETWEEN a.pos + 1 AND a.pos + {NEARDUP_WINDOW}
), verified AS (
  SELECT c.vec_a, c.vec_b, c.label,
         CAST(ROUND({cos} * 10000) AS BIGINT) AS cosine_e4
  FROM cand c JOIN q x ON c.vec_a = x.vec_id JOIN q y ON c.vec_b = y.vec_id
  WHERE {cos} >= 0.3
)
SELECT vec_id, partner_id, label, rnk, cosine_e4
FROM (
  SELECT d.*, ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY cosine_e4 DESC, partner_id) AS rnk
  FROM (
    SELECT vec_a AS vec_id, vec_b AS partner_id, label, cosine_e4 FROM verified
    UNION ALL
    SELECT vec_b, vec_a, label, cosine_e4 FROM verified
  ) d
) r
WHERE rnk <= {NEARDUP_TOPK}
"""


@query("sim_neardup_topk", oracle=_neardup_topk_oracle())
def sim_neardup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector TOP-K near-duplicate partners with a LINEAR pair
    intermediate — the bounded companion to `sim_label_blocked_neardup`
    (VERDICT r9 item 7; candidate cap added r11 per VERDICT r10 item 2).

    The exhaustive pair query ENUMERATES every qualifying pair, and on
    clustered data that output is inherently quadratic per dense
    neighborhood (measured x100 pairs for x10 vectors at the sf0.1→sf1
    decade).  The round-10 form of this query windowed that full pair
    set down to top-K — output was K*N but the INTERMEDIATE was still
    the parent's quadratic (decade row x11.8 against the x12 bound).
    This form bounds the intermediate itself, sorted-neighborhood
    style: inside each (label, bucket) partition (one row per vector
    per hyperplane table), a vector pairs only with its NEARDUP_WINDOW
    vec_id-successors, found via a window frame — no self-join at all,
    so candidates are N x N_TABLES x NEARDUP_WINDOW rows, linear by
    construction (the `_SEG_MAX_DF` precedent from the edit-distance
    blocker).  Verification is the parent's exact contract (same
    quantized cosine >= 0.3); each surviving pair is directed both
    ways and only the NEARDUP_TOPK strongest partners per vector kept.
    Recall effect of the cap: a qualifying pair > NEARDUP_WINDOW apart
    in vec_id order inside every shared bucket is missed — dup
    clusters up to NEARDUP_WINDOW+1 members are fully covered; the
    measured top-K recall vs the uncapped variant is 1.000 at
    sf0.001/sf0.01 and 0.992 at sf0.1
    (tests/test_neardup_topk_recall.py).  The DuckDB oracle
    mirrors the identical neighbor-window rule, so results match
    exactly.  `cosine_e4` ships as fixed-point BIGINT (the repo-wide
    output-type contract bans new DOUBLE columns) and doubles as the
    deterministic rank key with a partner-id tie-break.

    Scale notes: the only shuffles are the window partition on
    (label, bucket) (sigs are id+bucket rows, vectors NOT carried),
    one dedup on the linear candidate set, two hash joins to fetch
    the vectors, and the final per-vector rank — every intermediate
    is O(N); a degenerate bucket costs W*m on one reducer, linear.
    """
    # label.isNotNull: the window PARTITION below groups NULL labels
    # together, but the oracle's candidate join `a.label = b.label`
    # never matches NULL — two NULL-label near-identical vectors must
    # produce no pair on either engine (the j5/j7 lesson, same round).
    e = (directed_vectors(spark, sf_dir, with_label=True)
         .where(F.col("label").isNotNull()))
    sigs = e.select(
        "vec_id", "label",
        F.explode(_bucket_ids_udf(N_TABLES, BITS_PER_TABLE)(F.col("v"))).alias("bucket"),
    )
    nbr_w = (Window.partitionBy("label", "bucket").orderBy("vec_id")
             .rowsBetween(1, NEARDUP_WINDOW))
    cand = (sigs
            .withColumn("_nbrs", F.collect_list("vec_id").over(nbr_w))
            .select(F.col("vec_id").alias("vec_a"), "label",
                    F.explode("_nbrs").alias("vec_b"))
            .dropDuplicates(["vec_a", "vec_b"]))
    x = e.select(F.col("vec_id").alias("xid"), F.col("v").alias("xv"),
                 F.col("norm2").alias("xn"))
    y = e.select(F.col("vec_id").alias("yid"), F.col("v").alias("yv"),
                 F.col("norm2").alias("yn"))
    cos = _cos_pairs_udf()(F.col("xv"), F.col("yv"), F.col("xn"), F.col("yn"))
    verified = (cand
                .join(x, cand.vec_a == F.col("xid"))
                .join(y, cand.vec_b == F.col("yid"))
                .select("vec_a", "vec_b", "label", cos.alias("cos"))
                .where(F.col("cos") >= 0.3)
                .select("vec_a", "vec_b", "label",
                        F.round(F.col("cos") * 10000).cast("long").alias("cosine_e4")))
    # Direct each surviving pair both ways by EXPLODING two structs per
    # row instead of a self-union: a union duplicates the whole verify
    # subtree (bucket UDF + neighbor window + candidate dedup + both
    # hash joins + the cosine matmul ran ONCE PER BRANCH — measured
    # plan: 6 ArrowEvalPython / 5 Window nodes), while the explode is a
    # row-local generator over the single evaluation.  Same rows out.
    directed = verified.select(
        F.explode(F.array(
            F.struct(F.col("vec_a").alias("vec_id"),
                     F.col("vec_b").alias("partner_id")),
            F.struct(F.col("vec_b").alias("vec_id"),
                     F.col("vec_a").alias("partner_id")),
        )).alias("_d"), "label", "cosine_e4",
    ).select("_d.vec_id", "_d.partner_id", "label", "cosine_e4")
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine_e4").desc(), F.col("partner_id"))
    return (directed
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= NEARDUP_TOPK)
            .select("vec_id", "partner_id", "label", "rnk", "cosine_e4"))


# --------------------------------------------------------------------------
# IVF ANN — the other classic scale path: coarse-quantize the corpus into
# cells (inverted file), probe only the query's nearest cells.
# --------------------------------------------------------------------------

IVF_C = 64        # centroid count
IVF_NPROBE = 16   # cells probed per query
IVF_SEED_LO = N_QUERIES                 # seed centroids = the quantized vectors
IVF_SEED_HI = N_QUERIES + IVF_C - 1     # of vec_ids 10..73 (deterministic sample)
IVF_LLOYD_ROUNDS = 1  # k-means refinement passes over the seeds (measured below)

_IVF_DIST2 = ("list_sum([(x.v[i] - c.c[i]) * (x.v[i] - c.c[i])"
              " for i in generate_series(1, len(x.v))])")

# One Lloyd round in exact integer arithmetic: assign to the nearest
# seed, recompute each cell's centroid as the component-wise
# floor(sum/n) (floor division keeps everything in int64 — Python's
# `//` and SQL FLOOR(s/n) agree, and with |s| < 2^53 the double
# division inside FLOOR is exact enough that both engines floor the
# same value).  Empty cells keep their seed vector.
_IVF_ASSIGN_CTES = _QUANT_POS_ORACLE + f"""
, cent0 AS (
  SELECT vec_id - {IVF_SEED_LO} AS cid, v AS c FROM q
  WHERE vec_id BETWEEN {IVF_SEED_LO} AND {IVF_SEED_HI}
), s0 AS (
  SELECT x.vec_id, x.v, c.cid, {_IVF_DIST2} AS d2
  FROM q x, cent0 c
), a0 AS (
  SELECT vec_id, v, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM s0) WHERE rn = 1
), sums AS (
  SELECT cid, i, SUM(v[i]) AS s, COUNT(*) AS n
  FROM a0, unnest(generate_series(1, len(v))) AS u(i)
  GROUP BY cid, i
), cent1 AS (
  SELECT cid, list(CAST(FLOOR(s * 1.0 / n) AS BIGINT) ORDER BY i) AS c
  FROM sums GROUP BY cid
), cent AS (
  SELECT c0.cid, COALESCE(c1.c, c0.c) AS c
  FROM cent0 c0 LEFT JOIN cent1 c1 ON c0.cid = c1.cid
), scored AS (
  SELECT x.vec_id, x.v, c.cid, {_IVF_DIST2} AS d2
  FROM q x, cent c
), assign AS (
  SELECT vec_id, v, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM scored) WHERE rn = 1
)"""

_IVF_ORACLE = _IVF_ASSIGN_CTES + f"""
, probe AS (
  SELECT vec_id AS query_id, v AS qv, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM scored WHERE vec_id < {N_QUERIES}) WHERE rn <= {IVF_NPROBE}
), cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probe p JOIN assign a ON p.cid = a.cid AND a.vec_id <> p.query_id
), rescored AS (
  SELECT c.query_id, c.neighbor_id,
         list_sum([x.v[i] * y.v[i] for i in generate_series(1, len(x.v))]) * 1.0 /
         sqrt(CAST(list_sum([x.v[i] * x.v[i] for i in generate_series(1, len(x.v))]) AS DOUBLE)
              * CAST(list_sum([y.v[i] * y.v[i] for i in generate_series(1, len(y.v))]) AS DOUBLE))
           AS cosine
  FROM cand c JOIN q x ON c.query_id = x.vec_id JOIN q y ON c.neighbor_id = y.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM rescored
)
SELECT query_id, neighbor_id, rnk, CAST(ROUND(cosine, 4) AS DOUBLE) AS cosine
FROM ranked WHERE rnk <= 3
"""


def _ivf_cells_udf(centroids, nprobe: int):
    """array<bigint> of the `nprobe` nearest cell ids, nearest first.

    `centroids` is a sorted list of (cid, vector) pairs — REAL cell
    ids, not list positions, so a seed row missing from the universe
    (NULL embedding) leaves a gap exactly like the oracle's sparse
    `vec_id - IVF_SEED_LO` cids instead of silently shifting every
    later cell (r11 self-review).  One numpy pass: d² = |v|² − 2·V@C.T
    + |c|² in exact int64 (the quantized space), stable argsort over
    cid-ascending rows so distance ties break on the lower cell id —
    the same (d2, cid) order the oracle's window uses.  nprobe=1 gives
    the corpus-side cell assignment.
    """
    import numpy as np

    cids, C, cnorm = _ivf_consts(centroids)

    @F.pandas_udf("array<bigint>")
    def cells(v):
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack(v.to_numpy()).astype(np.int64)   # (n, DIM)
        order = _ivf_cells_batch(V, C, cnorm, nprobe)
        return pd.Series(cids[order].tolist())

    # The function is pure, but marked non-deterministic as an
    # optimizer fence (guide §4.4): the consumers join on cells(v)[0],
    # and the join's isnotnull null-rejection filter pushed BELOW the
    # projection re-evaluates the UDF — the corpus assignment matmul
    # ran 2x in sim_ivf_ann and 4x in sim_kmeans_assign (plan nodes
    # duplicated around the pushed filter, plans/r13/*_before.txt).
    return cells.asNondeterministic()


def _ivf_consts(centroids):
    import numpy as np

    cids = np.array([c for c, _ in centroids], dtype=np.int64)   # (C,)
    C = np.array([v for _, v in centroids], dtype=np.int64)      # (C, DIM)
    return cids, C, np.einsum("ij,ij->i", C, C)                  # + (C,)


def _ivf_cells_batch(V, C, cnorm, nprobe):
    """Positions (not cids) of the `nprobe` nearest centroids per row
    — the shared assignment kernel of `_ivf_cells_udf` and
    `_ivf_lloyd_sums`: d² = |v|² − 2·V@C.T + |c|² in exact int64,
    stable argsort over cid-ascending rows so ties break on the lower
    cell id, the oracle's (d2, cid) window order."""
    import numpy as np

    d2 = (np.einsum("ij,ij->i", V, V)[:, None]
          - 2 * (V @ C.T) + cnorm[None, :])            # (n, C) exact int64
    return np.argsort(d2, axis=1, kind="stable")[:, :nprobe]


def _ivf_scores_udf(centroids, queries, nprobe: int = IVF_NPROBE):
    """Fused corpus-side IVF scorer: ONE Arrow pass from vector to
    per-query candidate cosines (VERDICT r13 item 3; guide §4.1/§4.2).

    The r13 plan spent three ArrowEvalPython stages on this query —
    probe-cell explode (query side), corpus cell assignment, and the
    pair cosine — plus a pair-level SortAggregate dedup whose exchange
    carried BOTH 64-long vectors per candidate pair.  All of it is one
    numpy pass per batch once the probe sets live driver-side: assign
    the corpus row to its cell (shared `_ivf_cells_batch` kernel, same
    tie rule), look the cell up in the (|Q| × IVF_NPROBE)-cell probe
    table — `queries` and `centroids` are both bounded driver
    artifacts already, the PQ query's precedent — and emit the exact
    cosine against every query probing that cell.

    The emitted pair set is identical to the old probes⋈corpus
    broadcast join: a corpus vector has exactly ONE cell, so each
    (query, neighbor) pair matched at most once and the old
    dropDuplicates was a no-op that still planned a SortAggregate +
    Exchange over vector payloads.  Cosine is bit-identical to
    `_cos_pairs_udf`: the same exact-int64 dot and norms, the same
    float64 sqrt/divide (IEEE multiplication commutes, and int64 →
    float64 rounds identically to Spark's long→double cast)."""
    import numpy as np

    cids, C, cnorm = _ivf_consts(centroids)
    qids = np.array([q for q, _ in queries], dtype=np.int64)
    Q = (np.array([v for _, v in queries], dtype=np.int64)
         if queries else np.zeros((0, DIM), dtype=np.int64))
    qn2 = np.einsum("ij,ij->i", Q, Q).astype(np.float64)
    probed = np.zeros((max(len(cids), 1), len(qids)), dtype=bool)
    if len(cids) and len(qids):
        # nprobe nearest cells per query, computed ONCE on the driver
        # with the shared kernel — positions index `probed` directly.
        probe_pos = _ivf_cells_batch(Q, C, cnorm, nprobe)   # (|Q|, nprobe)
        probed[probe_pos, np.arange(len(qids))[:, None]] = True

    @F.pandas_udf("array<struct<query_id:bigint,cosine:double>>")
    def scores(v):
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack(v.to_numpy()).astype(np.int64)
        if not (len(cids) and len(qids)):
            return pd.Series([[] for _ in range(len(V))])
        near = _ivf_cells_batch(V, C, cnorm, 1)[:, 0]        # positions
        match = probed[near]                                 # (n, |Q|)
        dot = (V @ Q.T).astype(np.float64)                   # exact int64
        n2 = np.einsum("ij,ij->i", V, V).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            # zero-norm corpus rows divide by zero exactly like the
            # old pair UDF did (positional family keeps zero vectors)
            cos = dot / np.sqrt(qn2[None, :] * n2[:, None])
        out = [[{"query_id": int(qids[j]), "cosine": float(cos[i, j])}
                for j in np.nonzero(match[i])[0]]
               for i in range(len(V))]
        return pd.Series(out)

    return scores


def _ivf_lloyd_sums(e, centroids):
    """One Lloyd round's (cid, pos) component sums/counts as a single
    `mapInPandas` pass — assignment and accumulation fused per Arrow
    batch (`np.add.at` over the nearest-cell positions), emitting the
    bounded C·DIM partial grid instead of posexploding every vector
    to DIM rows through codegen (the same §2.3 partial-aggregation
    rewrite as `_pq_lloyd_sums`; exact int64 both ways, so the
    collected totals — and the oracle's FLOOR(s/n) replay — are
    bit-identical)."""
    import numpy as np

    cids, C, cnorm = _ivf_consts(centroids)

    def partials(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf["v"].to_numpy()).astype(np.int64)
            near = _ivf_cells_batch(V, C, cnorm, 1)[:, 0]    # positions
            S = np.zeros((len(cids), V.shape[1]), dtype=np.int64)
            N = np.zeros(len(cids), dtype=np.int64)
            np.add.at(S, near, V)
            np.add.at(N, near, 1)
            live = np.nonzero(N)[0]
            dim = V.shape[1]
            yield pd.DataFrame({
                "cid": np.repeat(cids[live], dim),
                "pos": np.tile(np.arange(dim), len(live)),
                "s": S[live].reshape(-1),
                "n": np.repeat(N[live], dim)})
    return (e.select("v")
            .mapInPandas(partials, "cid long, pos int, s long, n long")
            .groupBy("cid", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n")))


def _ivf_train(e) -> list:
    """Seed centroids (quantized vectors vec_id 10..73) refined by
    IVF_LLOYD_ROUNDS exact-integer Lloyd rounds — the shared trainer
    behind `sim_ivf_ann` (index build) and `sim_kmeans_assign`
    (cluster table).  Returns sorted (cid, vector) pairs keyed by the
    oracle's cid = vec_id - IVF_SEED_LO, so a missing seed (NULL
    embedding) is a GAP on both engines, never an off-by-one.  Per
    round: one Arrow-batched assignment pass, one (cid, pos)
    partial-agg shuffle whose output is C*DIM rows — corpus-size
    independent — and a bounded driver fetch; floor division matches
    the oracle's FLOOR(s/n)."""
    from ..session import ship_package

    ship_package(e.sparkSession)  # Arrow stages unpickle module kernels
    cent_rows = (e.where(F.col("vec_id").between(IVF_SEED_LO, IVF_SEED_HI))
                  .select("vec_id", "v").collect())
    cents = {int(r.vec_id) - IVF_SEED_LO: list(r.v) for r in cent_rows}
    for _ in range(IVF_LLOYD_ROUNDS):
        sums = _ivf_lloyd_sums(e, sorted(cents.items())).collect()
        for r in sums:  # floor division == the oracle's FLOOR(s/n)
            cents[r.cid][r.pos] = r.s // r.n
    return sorted(cents.items())


@query("sim_ivf_ann", oracle=_IVF_ORACLE)
def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via an inverted-file (IVF) index: seed 64
    coarse centroids from a deterministic corpus sample (vec_ids
    10..73), refine with {IVF_LLOYD_ROUNDS} Lloyd round(s), assign
    every vector to its nearest cell, probe the 16 cells nearest each
    query, exact-cosine re-rank.

    The Lloyd round is the `sim_label_centroids` aggregation shape
    run on cell labels: one Arrow matmul assignment pass, posexplode →
    (cid, pos) partial-agg shuffle whose volume is |cells|×dims
    (map-side combined, independent of corpus size), and a 4096-row
    driver fetch — centroids are a broadcast-dim training artifact.
    New centroid = component-wise floor(sum/n) so everything stays
    exact int64 and the DuckDB oracle replays training bit-for-bit.
    Measured (numpy twin): recall@3 57% → **77%** on the 2,000-vector
    corpus (73% on 20k) at ~25-28% of brute-force candidate work; a
    second round adds nothing here, so IVF_LLOYD_ROUNDS=1.  The
    hyperplane-LSH variant (`sim_lsh_bucketed_ann`, 80% @ 23%) stays
    the better fit for very uniform data; both scale paths are
    provided because at 100 TB the choice is data-dependent.

    Scale notes (r14 form, VERDICT r13 item 3): the corpus is scanned
    ONCE by a single fused Arrow stage (`_ivf_scores_udf`) that
    assigns each vector to its cell, membership-tests the cell against
    the driver-computed probe sets (|Q| queries × IVF_NPROBE cells —
    queries and centroids are bounded training artifacts, collected
    exactly like the PQ codebook), and emits the exact cosine per
    probing query — so the only shuffle left is the final top-k
    window on (query_id, neighbor_id, cosine) rows of 3 scalars.  The
    r13 plan ran THREE Arrow stages and deduped candidate pairs
    through a SortAggregate whose exchange carried both 64-long
    vectors per pair; the dedup was provably a no-op (one cell per
    corpus vector ⇒ each pair matched once).  At 100 TB you raise
    IVF_C so cells stay executor-sized and persist the assignment as
    the index.  All arithmetic is exact int64, so the DuckDB oracle
    reproduces assignment, training, probing, and ranking
    bit-for-bit.
    """
    e = positional_vectors(spark, sf_dir)
    centroids = _ivf_train(e)
    queries = sorted(
        (int(r.vec_id), list(r.v))
        for r in e.where(F.col("vec_id") < N_QUERIES)
                  .select("vec_id", "v").collect())
    scored = (
        e.select(
            "vec_id",
            F.explode(_ivf_scores_udf(centroids, queries)(F.col("v")))
            .alias("_s"))
        .select(F.col("_s.query_id").alias("query_id"),
                F.col("vec_id").alias("neighbor_id"),
                F.col("_s.cosine").alias("cosine"))
        .where(F.col("query_id") != F.col("neighbor_id")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "rnk",
                F.round("cosine", 4).cast("double").alias("cosine"))
    )


# --------------------------------------------------------------------------
# Per-label centroids (the aggregation under IVF training / clustering)
# --------------------------------------------------------------------------

@query(
    "sim_label_centroids",
    oracle=_QUANT_POS_ORACLE.replace("vec_id,", "vec_id, label,") + """
SELECT label, i - 1 AS pos,
       CAST(SUM(v[i]) AS BIGINT) AS sum_q,
       CAST(COUNT(*) AS BIGINT)  AS n_vecs
FROM q, unnest(generate_series(1, len(v))) AS u(i)
GROUP BY label, i
""",
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label component sums of the quantized embeddings — the
    exact-integer form of a centroid (mean = sum_q / n_vecs, left to
    the consumer so no float division enters the hashed output).
    posexplode → one partial-agg shuffle on (label, pos): map-side
    combine collapses each partition to |labels|×dims rows before the
    exchange, so shuffle volume is independent of corpus size — the
    same shape a distributed k-means/IVF trainer uses per iteration.
    """
    e = positional_vectors(spark, sf_dir, with_label=True)
    parts = e.select("label", F.posexplode("v").alias("pos", "xq"))
    return parts.groupBy("label", "pos").agg(
        F.sum("xq").alias("sum_q"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


# --------------------------------------------------------------------------
# Embedding-level duplicate clusters: CC over the verified cosine pairs
# --------------------------------------------------------------------------

_SIM_CLUSTERS_ORACLE = _label_lsh_oracle().replace(
    "WITH q0 AS", "WITH RECURSIVE q0 AS", 1).replace(
    """SELECT c.vec_a, c.vec_b, c.label,
       CAST(ROUND(
         list_sum([x.v[i] * y.v[i] for i in generate_series(1, len(x.v))]) * 1.0 /
         sqrt(CAST(list_sum([x.v[i] * x.v[i] for i in generate_series(1, len(x.v))]) AS DOUBLE)
              * CAST(list_sum([y.v[i] * y.v[i] for i in generate_series(1, len(y.v))]) AS DOUBLE)),
         4) AS DOUBLE) AS cosine
FROM cand c JOIN q x ON c.vec_a = x.vec_id JOIN q y ON c.vec_b = y.vec_id
WHERE list_sum([x.v[i] * y.v[i] for i in generate_series(1, len(x.v))]) * 1.0 /
      sqrt(CAST(list_sum([x.v[i] * x.v[i] for i in generate_series(1, len(x.v))]) AS DOUBLE)
           * CAST(list_sum([y.v[i] * y.v[i] for i in generate_series(1, len(y.v))]) AS DOUBLE)) >= 0.3
""",
    """, pairs AS (
  SELECT c.vec_a, c.vec_b
  FROM cand c JOIN q x ON c.vec_a = x.vec_id JOIN q y ON c.vec_b = y.vec_id
  WHERE list_sum([x.v[i] * y.v[i] for i in generate_series(1, len(x.v))]) * 1.0 /
        sqrt(CAST(list_sum([x.v[i] * x.v[i] for i in generate_series(1, len(x.v))]) AS DOUBLE)
             * CAST(list_sum([y.v[i] * y.v[i] for i in generate_series(1, len(y.v))]) AS DOUBLE)) >= 0.3
), edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION SELECT vec_b, vec_a FROM pairs
), cc(node, lbl) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, l.lbl FROM cc l JOIN edges e ON e.src = l.node
), comp AS (
  SELECT node, MIN(lbl) AS cluster_id FROM cc GROUP BY node
)
SELECT e.vec_id, COALESCE(c.cluster_id, e.vec_id) AS cluster_id
FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
""")
# String-surgery guard: both .replace anchors must have matched — a
# silent no-match (e.g. after a parent-CTE rename) ships an oracle
# DuckDB rejects only at run time (found when the r11 q0 chain landed).
assert _SIM_CLUSTERS_ORACLE.lstrip().startswith("WITH RECURSIVE")
assert ", pairs AS (" in _SIM_CLUSTERS_ORACLE


@query("sim_dup_clusters", oracle=_SIM_CLUSTERS_ORACLE)
def sim_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level duplicate clusters: connected components over
    the verified cosine near-dup pairs (`sim_label_blocked_neardup` —
    label+LSH blocked, cosine >= 0.3), every vector labeled with the
    min vec_id of its component (singletons self-label).  The
    embedding twin of `d_dup_clusters`: near-duplicate relations are
    transitive only through connectivity, so a keep-one-per-cluster
    pass needs components, not pairs.

    Scale shape: pair generation is the already-bucketed blocked join;
    the CC iteration (`clustering.connected_components`) shuffles only
    the pair subgraph per round — the (overwhelming) singleton majority
    joins in once at the end.
    """
    from .clustering import connected_components

    e = load_table(spark, sf_dir, "embeddings").select("vec_id")
    pairs = sim_label_blocked_neardup(spark, sf_dir).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    comp = connected_components(pairs)
    return (e.join(comp, e.vec_id == comp.node, "left")
            .select("vec_id",
                    F.coalesce("label", F.col("vec_id")).alias("cluster_id")))


_KMEANS_ORACLE = _IVF_ASSIGN_CTES + """
, szs AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM assign GROUP BY cid
)
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster_id, s.cluster_size
FROM assign a JOIN szs s ON a.cid = s.cid
"""


@query("sim_kmeans_assign", oracle=_KMEANS_ORACLE)
def sim_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every embedding labeled with its k-means cluster (nearest of
    the 64 Lloyd-refined centroids, exact-int d² with the (d2, cid)
    tie rule) plus the cluster's size — the CLUSTERING surface of the
    shared `_ivf_train` trainer: `sim_ivf_ann` uses these cells as an
    ANN index, this query exposes them as the corpus-organization
    artifact (topic bucketing, diversity sampling, per-cluster
    curation quotas all start from exactly this table).

    Scale shape: training is corpus-size independent beyond one
    Arrow-batched assignment pass per round (the (cid, pos) rollup
    ships C·DIM partial sums); the final labeling is a second
    map-only pass, and cluster sizes are a C-row aggregate joined
    back broadcast.  The oracle replays seeding, the Lloyd round and
    the assignment bit-for-bit (the `assign` CTE shared with
    `sim_ivf_ann`'s oracle)."""
    e = positional_vectors(spark, sf_dir)
    centroids = _ivf_train(e)
    assign = e.select(
        "vec_id",
        _ivf_cells_udf(centroids, 1)(F.col("v"))[0].alias("cluster_id"))
    szs = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return assign.join(F.broadcast(szs), "cluster_id").select(
        "vec_id", "cluster_id", "cluster_size")


# --------------------------------------------------------------------------
# Product quantization (PQ) ANN — the third ANN family beside
# hyperplane-LSH and IVF: compress each vector to M small codes,
# answer queries by table lookups over the code stream (ADC).
# --------------------------------------------------------------------------

PQ_M = 32       # subspaces
PQ_SUB = 2      # dims per subspace (PQ_M * PQ_SUB = 64 = DIM)
PQ_K = 128      # codewords per subspace
PQ_SEED_LO, PQ_SEED_HI = 10, 137  # 128 deterministic codebook seeds
PQ_TOP_K = 3
PQ_LLOYD_ROUNDS = 1

_PQ_ORACLE = _QUANT_POS_ORACLE + f"""
, cb0 AS (
  SELECT (vec_id - {PQ_SEED_LO}) AS k, t.m,
         [v[t.m * {PQ_SUB} + j] for j in generate_series(1, {PQ_SUB})] AS cw
  FROM q, generate_series(0, {PQ_M - 1}) t(m)
  WHERE vec_id BETWEEN {PQ_SEED_LO} AND {PQ_SEED_HI}
), sub AS (
  SELECT vec_id, t.m,
         [v[t.m * {PQ_SUB} + j] for j in generate_series(1, {PQ_SUB})] AS sv
  FROM q, generate_series(0, {PQ_M - 1}) t(m)
), enc0 AS (
  SELECT vec_id, m, k FROM (
    SELECT sub.vec_id, sub.m, cb0.k,
           ROW_NUMBER() OVER (
             PARTITION BY sub.vec_id, sub.m
             ORDER BY list_sum([(sub.sv[j] - cb0.cw[j]) * (sub.sv[j] - cb0.cw[j])
                                for j in generate_series(1, {PQ_SUB})]), cb0.k
           ) AS rn
    FROM sub JOIN cb0 ON cb0.m = sub.m
  ) WHERE rn = 1
), cb AS (
  -- one Lloyd round: cell mean with floor division, exact ints;
  -- empty cells keep their seed codeword
  SELECT cb0.m, cb0.k,
         CASE WHEN agg.n IS NULL THEN cb0.cw
              ELSE [CAST(floor(agg.s1 * 1.0 / agg.n) AS BIGINT),
                    CAST(floor(agg.s2 * 1.0 / agg.n) AS BIGINT)] END AS cw
  FROM cb0 LEFT JOIN (
    SELECT enc0.m, enc0.k, COUNT(*) AS n,
           SUM(sub.sv[1]) AS s1, SUM(sub.sv[2]) AS s2
    FROM enc0 JOIN sub ON sub.vec_id = enc0.vec_id AND sub.m = enc0.m
    GROUP BY enc0.m, enc0.k
  ) agg ON agg.m = cb0.m AND agg.k = cb0.k
), enc AS (
  SELECT vec_id, m, k FROM (
    SELECT sub.vec_id, sub.m, cb.k,
           ROW_NUMBER() OVER (
             PARTITION BY sub.vec_id, sub.m
             ORDER BY list_sum([(sub.sv[j] - cb.cw[j]) * (sub.sv[j] - cb.cw[j])
                                for j in generate_series(1, {PQ_SUB})]), cb.k
           ) AS rn
    FROM sub JOIN cb ON cb.m = sub.m
  ) WHERE rn = 1
), dists AS (
  SELECT qs.vec_id AS query_id, enc.vec_id AS neighbor_id,
         CAST(SUM(list_sum([(qs.sv[j] - cb.cw[j]) * (qs.sv[j] - cb.cw[j])
                            for j in generate_series(1, {PQ_SUB})])) AS BIGINT)
           AS adc_d2
  FROM sub qs
  JOIN enc ON enc.m = qs.m AND enc.vec_id <> qs.vec_id
  JOIN cb  ON cb.m = enc.m AND cb.k = enc.k
  WHERE qs.vec_id < {N_QUERIES}
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, rnk, adc_d2 FROM (
  SELECT query_id, neighbor_id, adc_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_d2, neighbor_id) AS rnk
  FROM dists
) WHERE rnk <= {PQ_TOP_K}
"""


def _pq_encode_batch(V, CBf, cnorm):
    """codes (n, M) = per-subspace argmin over the codebook for a
    batch of quantized vectors V (n, DIM) — the shared encode kernel
    of `_pq_encode_udf`, `_pq_lloyd_partials` and `_pq_adc_udf`
    (first-min tie = lowest code, matching the oracle's
    ORDER BY d2, k).

    argmin_k |v - c_k|² = argmin_k (|c_k|² - 2 v·c_k): the expansion
    drops the per-row constant |v|², turns the kernel into one
    BLAS-path einsum over (n,M,SUB)×(M,K,SUB) instead of
    materializing the (n, M, K, SUB) difference tensor — measured 5×
    faster per Arrow batch at identical output.  float64 is EXACT
    here, not approximate: quantized components are |x| ≤ ~2000, so
    every product, 2-term subspace sum, and codeword norm is an
    integer well under 2^53 — ties compare exactly and np.argmin's
    first-minimum rule still selects the lowest code."""
    import numpy as np

    Vr = V.astype(np.float64).reshape(len(V), PQ_M, PQ_SUB)  # (n, M, SUB)
    dot = np.einsum("nms,mks->nmk", Vr, CBf, optimize=True)
    return np.argmin(cnorm[None, :, :] - 2.0 * dot, axis=2)  # (n, M)


def _pq_consts(cb):
    import numpy as np

    CBf = np.array(cb, dtype=np.int64).astype(np.float64)  # (M, K, SUB)
    return CBf, (CBf ** 2).sum(axis=2)                      # + (M, K)


def _pq_encode_udf(cb):
    """Arrow-batched `_pq_encode_batch` as a column UDF."""
    CBf, cnorm = _pq_consts(cb)

    @F.pandas_udf("array<int>")
    def encode(v):
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack(v.to_numpy())
        return pd.Series(_pq_encode_batch(V, CBf, cnorm).tolist())

    return encode


def _pq_lloyd_sums(e, cb):
    """The Lloyd-round cell statistics — per-(m, k, j) component sums
    and counts over the corpus encoded under `cb` — as ONE
    `mapInPandas` pass emitting M·K·SUB partial rows per Arrow batch.

    The r12 form encoded with `_pq_encode_udf`, posexploded every
    vector to DIM rows and partial-aggregated (m, k, j) — profiled as
    the query's single biggest job (1.7 s of a 3.8 s warm run at
    sf0.1: a second Python boundary plus a DIM× row explode through
    codegen just to regroup what numpy can accumulate in-batch).
    Here encode and accumulate happen in the SAME batch loop
    (`np.add.at` over the codes), so the per-batch output is the
    bounded (m, k, j) grid — corpus-size independent, exactly the
    partial-aggregation the guide's §2.3 "aggregate before you
    shuffle" asks for, with the explode gone entirely.  Sums and
    counts are exact int64 either way, so the collected totals are
    bit-identical to the r12 plan and to the oracle's FLOOR(s/n)
    replay."""
    import numpy as np

    CBf, cnorm = _pq_consts(cb)

    def partials(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf["v"].to_numpy()).astype(np.int64)
            codes = _pq_encode_batch(V, CBf, cnorm)          # (n, M)
            Vr = V.reshape(len(V), PQ_M, PQ_SUB)             # (n, M, SUB)
            S = np.zeros((PQ_M, PQ_K, PQ_SUB), dtype=np.int64)
            N = np.zeros((PQ_M, PQ_K), dtype=np.int64)
            for m in range(PQ_M):
                np.add.at(S[m], codes[:, m], Vr[:, m, :])
                np.add.at(N[m], codes[:, m], 1)
            m_idx, k_idx = np.nonzero(N)
            rows = {"m": np.repeat(m_idx, PQ_SUB),
                    "k": np.repeat(k_idx, PQ_SUB),
                    "j": np.tile(np.arange(PQ_SUB), len(m_idx)),
                    "s": S[m_idx, k_idx].reshape(-1),
                    "n": np.repeat(N[m_idx, k_idx], PQ_SUB)}
            yield pd.DataFrame(rows)

    return (e.select("v")
            .mapInPandas(partials, "m int, k int, j int, s long, n long")
            .groupBy("m", "k", "j")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n")))


def _pq_adc_udf(cb, lut, nq):
    """Fused encode + ADC lookup: ONE Arrow pass computes each
    vector's codes (shared kernel) and immediately sums the per-query
    LUT entries — the r12 plan chained two ArrowEvalPython nodes
    (encode → adc), shipping the (n, M) code arrays across the Python
    boundary twice for no reason (plan `sim_pq_adc_topk_before.txt`
    nodes (3)+(5)); one node does both at identical output (exact
    int64 LUT sums)."""
    import numpy as np

    CBf, cnorm = _pq_consts(cb)

    @F.pandas_udf("array<bigint>")
    def adc_from_v(v):
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack(v.to_numpy())
        C = _pq_encode_batch(V, CBf, cnorm)                  # (n, M)
        marange = np.arange(PQ_M)
        out = np.stack([lut[qi][marange, C].sum(axis=1)
                        for qi in range(nq)], axis=1)        # (n, |Q|)
        return pd.Series(out.tolist())

    return adc_from_v


@query("sim_pq_adc_topk", oracle=_PQ_ORACLE)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via product quantization with asymmetric
    distance computation (ADC): split each 64-dim vector into 32
    2-dim subvectors, encode each as its nearest of 128 codewords
    (seed vectors 10..137 refined by one exact-int Lloyd round), and
    answer queries by summing 32 lookup-table entries per candidate —
    the memory-compression ANN family (Jégou et al., "Product
    Quantization for Nearest Neighbor Search"), beside hyperplane-LSH
    (`sim_lsh_bucketed_ann`, pruning) and IVF (`sim_ivf_ann`,
    partitioning).  Measured recall@3 vs exact cosine: **73%** on
    this corpus (50% seeded-only; the Lloyd round buys 23 points) at
    8x memory compression (32 one-byte codes vs 64 float32s).

    Scale shape: the code table is what scans at query time — a
    100 TB float corpus becomes ~12 TB of codes; encoding is ONE
    Arrow-batched einsum pass (no shuffle); the Lloyd round is the
    IVF trainer shape (posexplode → (m,k,dim) partial-agg shuffle
    whose volume is M·K·SUB rows — independent of corpus size — then
    a bounded 8,192-row driver fetch); per-query 32x128 lookup
    tables are built driver-side from the 10 query vectors and
    broadcast; the ADC scan maps once over the codes and finishes
    with a top-k window on a |Q|·n intermediate of 3 ints per row.
    In production PQ composes with IVF (scan only probed cells'
    codes); this kernel is exactly that inner loop.  All distances
    are exact int64 (quantized inputs; cell means use floor division
    like the IVF trainer), ties break on lower code / lower neighbor
    id, so the DuckDB oracle replays codebook, Lloyd round, encoding
    and ADC bit-for-bit."""
    import numpy as np

    from ..session import ship_package

    ship_package(spark)  # the Arrow stages unpickle module kernels
    e = positional_vectors(spark, sf_dir)
    # ONE bounded collect for both driver artifacts (seeds + queries)
    art_rows = sorted(
        e.where((F.col("vec_id").between(PQ_SEED_LO, PQ_SEED_HI))
                | (F.col("vec_id") < N_QUERIES))
         .select("vec_id", "v").collect(),
        key=lambda r: r.vec_id)
    seed_rows = [r for r in art_rows
                 if PQ_SEED_LO <= r.vec_id <= PQ_SEED_HI]
    if len(seed_rows) != PQ_K:
        # Loud data contract, not a silent desync: the codebook keys
        # codewords by vec_id - PQ_SEED_LO, so a seed row missing from
        # the vector universe (NULL embedding) would shift every later
        # codeword against the oracle's sparse k (r11 self-review; the
        # IVF trainer handles gaps sparsely, PQ's dense (K, M, SUB)
        # reshape cannot).
        raise ValueError(
            f"PQ codebook needs all {PQ_K} seed vectors (vec_id "
            f"{PQ_SEED_LO}..{PQ_SEED_HI}) with non-NULL embeddings; "
            f"found {len(seed_rows)}")
    q_rows = [r for r in art_rows if r.vec_id < N_QUERIES]
    cb = np.array([list(r.v) for r in seed_rows], dtype=np.int64)
    cb = cb.reshape(PQ_K, PQ_M, PQ_SUB).transpose(1, 0, 2)  # (M, K, SUB)

    for _ in range(PQ_LLOYD_ROUNDS):
        # (m, k, j) partial sums in the encode pass itself
        # (`_pq_lloyd_sums`): M*K*SUB rows out of the shuffle,
        # corpus-size independent; floor division == oracle FLOOR(s/n)
        sums = _pq_lloyd_sums(e, cb).collect()        # M*K*SUB rows, bounded
        for r in sums:
            cb[r.m][r.k][r.j] = r.s // r.n

    qids = [int(r.vec_id) for r in q_rows]
    Qm = np.array([list(r.v) for r in q_rows],
                  dtype=np.int64).reshape(len(qids), PQ_M, PQ_SUB)
    # lut[q, m, k] = d2(query q's subvector m, codeword k of subspace m)
    lut = ((Qm[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
    nq = len(qids)

    qid_arr = F.array(*[F.lit(q) for q in qids])
    scored = (e.select("vec_id",
                       F.posexplode(_pq_adc_udf(cb, lut, nq)(F.col("v")))
                       .alias("qpos", "adc_d2"))
              .select(F.element_at(qid_arr, F.col("qpos") + 1)
                      .alias("query_id"),
                      F.col("vec_id").alias("neighbor_id"), "adc_d2")
              .where(F.col("query_id") != F.col("neighbor_id")))
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= PQ_TOP_K)
            .select("query_id", "neighbor_id", "rnk", "adc_d2"))


# --------------------------------------------------------------------------
# Semantic decontamination: flag training vectors whose embedding is
# near an eval-set vector (the embedding twin of t_decontaminate).
# --------------------------------------------------------------------------

SEMDECON_EVAL_MAX = 25        # vec_id < 25 form the held-out eval set
# cos >= 0.4  ⟺  dot >= 0  ∧  25·dot² >= 4·|a|²·|b|²   (exact int64:
# |dot| <= 64·(2000·2000) ≈ 2.6e8 here, so 25·dot² <= 1.7e18 < 2^63)
SEMDECON_NUM, SEMDECON_DEN = 25, 4

_SEMDECON_ORACLE = _QUANT_ORACLE + f"""
, n AS (
  SELECT vec_id, v,
         list_sum([v[i] * v[i] for i in generate_series(1, len(v))]) AS n2
  FROM q
), pairs AS (
  SELECT t.vec_id,
         list_sum([ev.v[i] * t.v[i]
                   for i in generate_series(1, len(ev.v))]) AS dot,
         ev.n2 AS en2, t.n2 AS tn2
  FROM n ev JOIN n t
    ON ev.vec_id < {SEMDECON_EVAL_MAX} AND t.vec_id >= {SEMDECON_EVAL_MAX}
)
SELECT vec_id,
       CAST(SUM(CASE WHEN dot >= 0
                      AND {SEMDECON_NUM} * dot * dot
                          >= {SEMDECON_DEN} * en2 * tn2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_matches,
       CAST(MAX(CASE WHEN dot >= 0
                      AND {SEMDECON_NUM} * dot * dot
                          >= {SEMDECON_DEN} * en2 * tn2
                     THEN 1 ELSE 0 END) AS INTEGER) AS is_contaminated
FROM pairs
GROUP BY vec_id
"""


@query("sim_semantic_decontaminate", oracle=_SEMDECON_ORACLE)
def sim_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: every TRAINING vector
    (vec_id >= 25) labeled with how many EVAL vectors (vec_id < 25)
    it is cosine-similar to (>= 0.4) and a keep/drop flag — the
    semantic counterpart of `t_decontaminate`'s exact 8-gram screen,
    catching paraphrased benchmark leakage that n-gram matching
    misses.

    The threshold compare is cross-multiplied to exact int64
    (25·dot² >= 4·|a|²·|b|², plus a dot >= 0 guard since squaring
    loses the sign), so no float epsilon can flip a boundary row and
    the DuckDB oracle matches bit-for-bit.

    Scale shape: the eval set is small by definition — it BROADCASTS;
    the training corpus is scanned ONCE, never shuffled (the rollup
    groups on the probe side's own key, so the partial aggregate
    collapses each training row's |eval| comparisons map-side).  The
    dot product stays JVM-side (the brute-force lesson: Arrow-
    shipping two 64-long arrays per pair costs more than the
    interpreted dot).  At 100 TB you pre-block with LSH
    (`sim_label_blocked_neardup`'s grid) and run this kernel on the
    survivors; the full-scan form here is the correctness oracle of
    that composition."""
    e = directed_vectors(spark, sf_dir).drop("norm2")  # n2: exact long
    ev = (e.where(F.col("vec_id") < SEMDECON_EVAL_MAX)
          .select(F.col("v").alias("ev"), F.col("n2").alias("en2")))
    tr = e.where(F.col("vec_id") >= SEMDECON_EVAL_MAX)
    dot = dot_q(F.col("ev"), F.col("v"))
    hit = (dot >= 0) & (F.lit(SEMDECON_NUM) * dot * dot
                        >= F.lit(SEMDECON_DEN) * F.col("en2") * F.col("n2"))
    return (tr.crossJoin(F.broadcast(ev))
            .groupBy("vec_id")
            .agg(F.sum(F.when(hit, 1).otherwise(0)).alias("n_eval_matches"),
                 F.max(F.when(hit, 1).otherwise(0)).cast("int")
                 .alias("is_contaminated")))
