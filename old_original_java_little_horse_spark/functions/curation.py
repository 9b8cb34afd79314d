"""Corpus-curation operators downstream of dedup/quality: the steps
between a cleaned corpus and a training run.

- decontamination: flag train-split documents sharing any k-word
  shingle with the held-out (val/test) splits — the standard
  "n-gram overlap with eval" check run before every pretraining job;
- balanced mixing: deterministically downsample every source to the
  smallest source's size (equal-proportion corpus mixing without a
  config file — the target calibrates from the data);
- repetition score: intra-document duplicate-trigram fraction, the
  cheap boilerplate/spam signal;
- global shuffle: a deterministic pseudo-random permutation expressed
  as (shard, pos) — the form a distributed dataloader actually wants;
- sequence packing: assign chunked documents to fixed-token-budget
  packs, the plan a training dataloader executes.

Scale design: decontamination joins train shingles against the
DISTINCT eval shingle set — a hash join whose key cardinality grows
with the data (never a cross join; the eval side is the small split
by construction).  The mixing/shuffle/packing operators deliberately
avoid any GLOBAL row_number: a window ordered without a partition key
collapses onto one reducer at 100 TB, so every rank here is
partitioned by a hash-derived shard/source key and the "global" order
is the pair (shard, pos) — same permutation semantics, fully
distributed sort.  All ranks/keys derive from md5(doc_id), never
rand(): re-runs, repartitions, and appends cannot reorder the split.

Determinism: md5 is bit-identical on both engines; ratio scores use
exact integer arithmetic (`x * 1_000_000 div y`), never floats.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from ..registry import query
from ..sources.parquet import load_table
from .corpus import CHUNK_SIZE, CHUNK_STRIDE, SPLIT_TRAIN
from .dedup import SHINGLE_K, shingle_rows_df
from .text import (QUALITY_STOPWORDS, kgram_text, kgrams, normalized_text,
                   normalized_words)

N_SHARDS = 16       # dataloader shards of the global shuffle
PACK_TOKENS = 256   # token budget per training pack


def _md5_bucket(doc_id: Column, mod: int) -> Column:
    """Deterministic bucket in [0, mod): first 8 md5 hex chars of the
    id rendered as a string — the same recipe as t_hash_split, so
    split membership agrees across operators."""
    return (F.conv(F.substring(F.md5(doc_id.cast("string")), 1, 8), 16, 10)
             .cast("long") % mod)


_BUCKET_SQL = ("CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
               "AS BIGINT)")


# --------------------------------------------------------------------------
# Decontamination: train ∩ eval shingle overlap
# --------------------------------------------------------------------------

@query(
    "t_decontaminate",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), srows AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(w) >= {SHINGLE_K}
             THEN list_transform(generate_series(1, len(w) - {SHINGLE_K - 1}),
                                 i -> array_to_string(w[i:i+{SHINGLE_K - 1}], ' '))
             ELSE [] END)) AS s
  FROM t
), tr AS (
  SELECT doc_id, s FROM srows WHERE {_BUCKET_SQL} % 100 < {SPLIT_TRAIN}
), ev AS (
  SELECT DISTINCT s FROM srows WHERE {_BUCKET_SQL} % 100 >= {SPLIT_TRAIN}
), n AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id
), h AS (
  SELECT tr.doc_id, COUNT(*) AS n_hits FROM tr JOIN ev USING (s) GROUP BY tr.doc_id
)
SELECT h.doc_id,
       CAST(n_hits AS BIGINT)     AS n_hits,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_hits * 1000000 // n_shingles AS BIGINT) AS contam_x1m
FROM h JOIN n USING (doc_id)
""",
)
def t_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-split documents contaminated by the held-out splits: any
    {SHINGLE_K}-word shingle shared with a val/test document, with the
    contaminated-shingle fraction (exact-integer ppm).

    The check every pretraining pipeline runs against its eval sets
    before training.  Scale shape: the dedup family's shingle rows,
    split by the deterministic md5 bucket, distinct per train doc (the
    oracle's `list_distinct`); the train side hash-joins the
    DISTINCT eval shingle set on the shingle string — key cardinality
    grows with data (no fixed-width blocking), the eval side is the
    small split by construction, and both groupBys partial-aggregate
    map-side.  No cross join anywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    # Split BEFORE shingling: the md5-bucket predicate evaluates on
    # doc_id at the scan, so each branch shingles only its own split
    # (train 80% / eval 20%) instead of shingling the full corpus
    # twice and filtering after the explode.
    bucket = _md5_bucket(F.col("doc_id"), 100)
    # Per-doc distinct before dropping `source` (doc_id fixes it): the
    # same set, but the wider aggregate's size estimate keeps n_hits,
    # not the per-train-doc totals, as the final join's broadcast side.
    train = (shingle_rows_df(d.where(bucket < SPLIT_TRAIN), SHINGLE_K)
             .distinct().select("doc_id", "s"))
    ev = (shingle_rows_df(d.where(bucket >= SPLIT_TRAIN), SHINGLE_K)
          .select("s").distinct())
    n = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    h = (train.join(ev, "s")
              .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits")))
    return (h.join(n, "doc_id")
             .select("doc_id",
                     F.col("n_hits").cast("long").alias("n_hits"),
                     F.col("n_shingles").cast("long").alias("n_shingles"),
                     F.expr("n_hits * 1000000L div n_shingles")
                      .alias("contam_x1m")))


# --------------------------------------------------------------------------
# Balanced corpus mixing: downsample every source to the smallest
# --------------------------------------------------------------------------

@query(
    "t_balanced_mix",
    oracle="""
WITH c AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
), m AS (
  SELECT MIN(n) AS mn FROM c
), r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
FROM r, m WHERE rk <= mn
""",
)
def t_balanced_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-proportion corpus mix: keep the md5-rank-first `min
    source size` documents of every source.  The target calibrates
    from the data (no external mixing config) and the hash rank makes
    the sample deterministic under re-runs and appends — rand()-based
    samplers re-deal the corpus every run.

    Scale shape: per-source window rank (hash exchange on source —
    for a skewed mega-source, the rank-then-filter still beats a
    global sort because each source sorts independently), and the
    1-row min() joins in as a broadcast.  No global window.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    mn = counts.agg(F.min("n").alias("mn"))
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    ranked = d.select("doc_id", "source").withColumn(
        "rk", F.row_number().over(w).cast("long"))
    return (ranked.join(F.broadcast(mn), ranked.rk <= mn.mn)
                  .select("doc_id", "source", "rk"))


# --------------------------------------------------------------------------
# Intra-document repetition (boilerplate) score
# --------------------------------------------------------------------------

@query(
    "t_repetition_score",
    oracle="""
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), g AS (
  SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS nd_words,
         CASE WHEN len(w) >= 3
              THEN list_transform(generate_series(1, len(w) - 2),
                                  i -> array_to_string(w[i:i+2], ' '))
              ELSE [] END AS tri
  FROM t
)
SELECT doc_id,
       CAST(n_words AS BIGINT)  AS n_words,
       CAST(nd_words AS BIGINT) AS nd_words,
       CAST(len(tri) AS BIGINT) AS n_trigrams,
       CAST(len(list_distinct(tri)) AS BIGINT) AS nd_trigrams,
       CAST(CASE WHEN len(tri) = 0 THEN 0
            ELSE (len(tri) - len(list_distinct(tri))) * 1000000 // len(tri)
            END AS BIGINT) AS rep_x1m
FROM g
""",
)
def t_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-trigram fraction per document (exact-integer ppm) —
    the cheap boilerplate/template/spam signal a quality filter
    thresholds on.  Array expressions only, no shuffle at all — at
    100 TB this is a single scan whose per-document cost is bounded
    by doc length, not corpus size.

    Evaluation shape matters here because the trigram `transform` is
    a higher-order function: it forces the projection off whole-stage
    codegen onto the interpreted path, which does NO common-
    subexpression elimination — the r9 formulation re-evaluated the
    split inside every reference and the trigram array twice, and the
    r10 decade probe clocked it at 115 s/sf1, the most expensive row
    in the registry.  So the projection is LAYERED (each non-cheap
    alias, `w` then `tri`, is produced once per row: CollapseProject
    keeps multi-referenced non-cheap aliases in their own projection),
    `n_trigrams` is arithmetic (n_words - 2, floored at 0), and the
    trigram strings are one `transform` lambda per element over
    `kgrams`.  Distinct trigrams are counted on those strings, not on
    the `kgrams` structs: Spark's `array_distinct` has no hash-set
    path for struct elements (measured 1.16x on this query)."""
    d = load_table(spark, sf_dir, "documents")
    s1 = d.select("doc_id", normalized_words(F.col("text")).alias("w"))
    tri = F.transform(kgrams(F.col("w"), 3), lambda t: kgram_text(t, 3))
    s2 = s1.select(
        "doc_id",
        F.size("w").cast("long").alias("n_words"),
        F.size(F.array_distinct("w")).cast("long").alias("nd_words"),
        tri.alias("tri"),
    )
    return s2.select(
        "doc_id", "n_words", "nd_words",
        F.greatest(F.col("n_words") - 2, F.lit(0).cast("long"))
        .alias("n_trigrams"),
        # A NULL text has no trigram array; the oracle counts 0.
        F.coalesce(F.size(F.array_distinct("tri")), F.lit(0))
        .cast("long").alias("nd_trigrams"),
    ).withColumn(
        "rep_x1m",
        F.when(F.col("n_trigrams") == 0, F.lit(0).cast("long"))
         .otherwise(F.expr(
             "(n_trigrams - nd_trigrams) * 1000000L div n_trigrams")),
    )


# --------------------------------------------------------------------------
# Global deterministic shuffle → (shard, pos)
# --------------------------------------------------------------------------

@query(
    "t_global_shuffle",
    oracle=f"""
SELECT doc_id,
       {_BUCKET_SQL} % {N_SHARDS} AS shard,
       CAST(ROW_NUMBER() OVER (
              PARTITION BY {_BUCKET_SQL} % {N_SHARDS}
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
FROM documents
""",
)
def t_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo-random permutation of the corpus as
    (shard, pos) — the layout a distributed dataloader consumes
    (worker k reads shard k in pos order).

    Deliberately NOT a global ROW_NUMBER: an unpartitioned window is
    a single-reducer sort at 100 TB.  Sharding on an md5 bucket and
    ranking within the shard is the same permutation (md5 order is
    uncorrelated with any data attribute) with a {N_SHARDS}-way
    distributed sort; raise N_SHARDS with cluster size.
    """
    d = load_table(spark, sf_dir, "documents")
    shard = _md5_bucket(F.col("doc_id"), N_SHARDS)
    w = Window.partitionBy("shard").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (d.select("doc_id", shard.alias("shard"))
             .withColumn("pos", F.row_number().over(w).cast("long")))


# --------------------------------------------------------------------------
# Sequence packing: chunks → fixed-token-budget packs
# --------------------------------------------------------------------------

@query(
    "t_pack_sequences",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), chunks AS (
  SELECT doc_id,
         start // {CHUNK_STRIDE}                  AS chunk_idx,
         len(w[start + 1 : start + {CHUNK_SIZE}]) AS n_tokens
  FROM t, unnest(generate_series(0, len(w) - 1, {CHUNK_STRIDE})) AS u(start)
), keyed AS (
  SELECT doc_id, chunk_idx, n_tokens,
         CASE WHEN {_BUCKET_SQL} % 100 < {SPLIT_TRAIN} THEN 'train' ELSE 'heldout' END AS split,
         {_BUCKET_SQL} % {N_SHARDS} AS shard
  FROM chunks
)
SELECT split, shard, doc_id, chunk_idx,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(SUM(n_tokens) OVER (
              PARTITION BY split, shard
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id, chunk_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // {PACK_TOKENS} AS BIGINT) AS pack_id
FROM keyed
""",
)
def t_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every training chunk to a pack targeting {PACK_TOKENS}
    tokens: pack_id = floor(prior-running-token-count / budget) in the
    shuffled order — the greedy packing plan a dataloader executes to
    minimize padding.  The budget is a *target*, not a hard cap: a
    chunk whose start falls inside a pack stays in that pack, so a
    pack can overflow by up to one chunk (< {CHUNK_SIZE} tokens); a
    dataloader wanting exact fixed-length rows truncates or pads the
    final chunk of each pack.

    One window per (split, shard): the cumulative sum is distributed
    across {N_SHARDS} shards per split (never a global window), and
    the order key is the same md5 permutation as t_global_shuffle, so
    packing and shuffling agree.  Chunk rows come from the same
    stride arithmetic as t_doc_chunks (raw-text split, matching its
    published chunk_idx/n_tokens).
    """
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    chunks = d.select(
        "doc_id", w.alias("w"),
        F.explode(F.sequence(F.lit(0), F.size(w) - 1,
                             F.lit(CHUNK_STRIDE))).alias("start"),
    ).select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.size(F.slice(F.col("w"), F.col("start") + 1, CHUNK_SIZE))
         .cast("long").alias("n_tokens"),
    )
    keyed = chunks.select(
        F.when(_md5_bucket(F.col("doc_id"), 100) < SPLIT_TRAIN, "train")
         .otherwise("heldout").alias("split"),
        _md5_bucket(F.col("doc_id"), N_SHARDS).alias("shard"),
        "doc_id", "chunk_idx", "n_tokens",
    )
    win = (Window.partitionBy("split", "shard")
                 .orderBy(F.md5(F.col("doc_id").cast("string")),
                          "doc_id", "chunk_idx")
                 .rowsBetween(Window.unboundedPreceding, -1))
    return keyed.withColumn(
        "pack_id",
        (F.coalesce(F.sum("n_tokens").over(win), F.lit(0))
         / PACK_TOKENS).cast("long"),
    )


# --------------------------------------------------------------------------
# End-to-end curation decision table
# --------------------------------------------------------------------------

CONTAM_MAX_X1M = 100_000  # drop a train doc when >=10% of its shingles are eval


@query(
    "t_curated_corpus",
    oracle=f"""
WITH norm AS (
  SELECT doc_id, text,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS k
  FROM documents
), gmin AS (
  SELECT k, MIN(doc_id) AS m FROM norm GROUP BY k
), qual AS (
  SELECT doc_id,
         length(text) BETWEEN 100 AND 500
           AND len(list_filter(string_split(text, ' '),
                 x -> list_contains({list(QUALITY_STOPWORDS)!r}, x))) * 1.0
               / len(string_split(text, ' ')) > 0.05 AS passes_quality
  FROM documents
), t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), srows AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(w) >= {{K}}
             THEN list_transform(generate_series(1, len(w) - {{K1}}),
                                 i -> array_to_string(w[i:i+{{K1}}], ' '))
             ELSE [] END)) AS s
  FROM t
), tr AS (
  SELECT doc_id, s FROM srows WHERE {{B}} % 100 < {{TRAIN}}
), ev AS (
  SELECT DISTINCT s FROM srows WHERE {{B}} % 100 >= {{TRAIN}}
), n AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id
), h AS (
  SELECT tr.doc_id, COUNT(*) AS n_hits FROM tr JOIN ev USING (s) GROUP BY tr.doc_id
), contam AS (
  SELECT h.doc_id, n_hits * 1000000 // n_shingles AS contam_x1m
  FROM h JOIN n USING (doc_id)
)
SELECT nm.doc_id,
       {{B}} % 100 < {{TRAIN}}                             AS in_train,
       nm.doc_id <> g.m                                    AS is_dup,
       q.passes_quality                                    AS passes_quality,
       COALESCE(c.contam_x1m >= {CONTAM_MAX_X1M}, FALSE)   AS is_contaminated,
       {{B}} % 100 < {{TRAIN}} AND nm.doc_id = g.m AND q.passes_quality
         AND NOT COALESCE(c.contam_x1m >= {CONTAM_MAX_X1M}, FALSE) AS keep
FROM norm nm
JOIN gmin g USING (k)
JOIN qual q USING (doc_id)
LEFT JOIN contam c USING (doc_id)
""".replace("{B}", "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)")
   .replace("{TRAIN}", str(SPLIT_TRAIN))
   .replace("{K}", str(SHINGLE_K)).replace("{K1}", str(SHINGLE_K - 1)),
)
def t_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end keep/drop decision a training-corpus build makes
    per document, composing the independently-oracle-checked stages:
    train-split membership (t_hash_split rule), exact-dup canonical
    selection (keep the content group's min doc_id), the C4-style
    quality gate (t_quality_score's passes_filter), and eval-set
    decontamination (t_decontaminate's overlap ratio, dropped at
    >= {CONTAM_MAX_X1M}/1e6).  `keep` is the conjunction; the flags
    are materialized so a pipeline can audit WHY a document dropped.

    Scale shape: one groupBy on the content hash (dup groups), one
    per-row quality projection, the decontaminate shingle join, then
    key-aligned joins back on doc_id — every stage is an operator
    already proven at scale; the composition adds only doc_id-keyed
    joins (co-partitioned under AQE).
    """
    from .corpus import t_pii_redact  # noqa: F401 — family anchor
    from .text import t_quality_score

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select("doc_id",
                     F.md5(normalized_text(F.col("text"))).alias("k"))
    gmin = keyed.groupBy("k").agg(F.min("doc_id").alias("m"))
    dup = (keyed.join(gmin, "k")
           .select("doc_id", (F.col("doc_id") != F.col("m")).alias("is_dup")))
    qual = t_quality_score(spark, sf_dir).select(
        "doc_id", F.col("passes_filter").alias("passes_quality"))
    contam = t_decontaminate(spark, sf_dir).select(
        "doc_id", (F.col("contam_x1m") >= CONTAM_MAX_X1M).alias("contaminated"))
    in_train = (_md5_bucket(F.col("doc_id"), 100) < SPLIT_TRAIN)
    return (
        d.select("doc_id", in_train.alias("in_train"))
        .join(dup, "doc_id")
        .join(qual, "doc_id")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id", "in_train", "is_dup", "passes_quality",
            F.coalesce("contaminated", F.lit(False)).alias("is_contaminated"),
            (F.col("in_train") & ~F.col("is_dup") & F.col("passes_quality")
             & ~F.coalesce("contaminated", F.lit(False))).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination (the at-scale variant of t_decontaminate)
# --------------------------------------------------------------------------

BLOOM_M = 1 << 20   # bits in the filter
BLOOM_K = 3         # hash functions (md5 hex substrings 1-8, 9-16, 17-24)

_BLOOM_POS_SQL = [
    f"CAST(('0x' || substr(md5(s), {1 + 8 * i}, 8)) AS BIGINT) % {BLOOM_M}"
    for i in range(BLOOM_K)
]


def _bloom_pos(col: Column, i: int) -> Column:
    return (F.conv(F.substring(F.md5(col), 1 + 8 * i, 8), 16, 10)
             .cast("long") % BLOOM_M)


@query(
    "t_decontaminate_bloom",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), srows AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(w) >= {SHINGLE_K}
             THEN list_transform(generate_series(1, len(w) - {SHINGLE_K - 1}),
                                 i -> array_to_string(w[i:i+{SHINGLE_K - 1}], ' '))
             ELSE [] END)) AS s
  FROM t
), ev AS (
  SELECT DISTINCT s FROM srows WHERE {_BUCKET_SQL} % 100 >= {SPLIT_TRAIN}
), bits AS (
  SELECT DISTINCT p FROM (
    SELECT {_BLOOM_POS_SQL[0]} AS p FROM ev
    UNION ALL SELECT {_BLOOM_POS_SQL[1]} FROM ev
    UNION ALL SELECT {_BLOOM_POS_SQL[2]} FROM ev
  )
), tr AS (
  SELECT doc_id, s FROM srows WHERE {_BUCKET_SQL} % 100 < {SPLIT_TRAIN}
), hit AS (
  SELECT doc_id, s FROM tr
  WHERE {_BLOOM_POS_SQL[0]} IN (SELECT p FROM bits)
    AND {_BLOOM_POS_SQL[1]} IN (SELECT p FROM bits)
    AND {_BLOOM_POS_SQL[2]} IN (SELECT p FROM bits)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged
FROM hit GROUP BY doc_id
""",
)
def t_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination by Bloom-filter probe: train docs whose shingles
    hit a {BLOOM_M}-bit / {BLOOM_K}-hash filter built from the eval
    splits' shingles, with the flagged-shingle count per doc.

    The at-scale shape of `t_decontaminate`: the exact variant ships
    the full DISTINCT eval-shingle set through a string-keyed join —
    at 100 TB the eval STRING payload is what hurts, not the row
    count.  The Bloom probe replaces it with membership against a
    fixed {BLOOM_M}-bit position set: the filter side shrinks to at
    most 3x|eval shingles| deduped BIGINTs (bounded by the bit-array
    size — a broadcast-sized artifact by construction, which is the
    whole point of a Bloom filter), and the probe is {BLOOM_K} chained
    broadcast LEFT SEMI hash joins on a long key — all JVM-side, no
    strings shuffled, map-side only (zero exchange on the train side).
    False-positive rate ~ (3|ev|/m)^3; deterministic (md5-derived
    positions), so the oracle reproduces the same filter bit-for-bit.
    A doc's n_flagged >= its true n_hits: this op is the cheap
    OVER-approximating screen you run first, `t_decontaminate` the
    exact confirm on the survivors."""
    d = load_table(spark, sf_dir, "documents")
    # Split before shingling (same scan-level pruning as
    # t_decontaminate): each branch shingles only its split.
    bucket = _md5_bucket(F.col("doc_id"), 100)
    ev = (shingle_rows_df(d.where(bucket >= SPLIT_TRAIN), SHINGLE_K)
          .select("s").distinct())
    bits = (ev.select(F.explode(F.array(*[
                _bloom_pos(F.col("s"), i) for i in range(BLOOM_K)
            ])).alias("p")).distinct())
    tr = (shingle_rows_df(d.where(bucket < SPLIT_TRAIN), SHINGLE_K)
          .distinct().select("doc_id", "s"))
    probe = tr.select(
        "doc_id", *[_bloom_pos(F.col("s"), i).alias(f"p{i}")
                    for i in range(BLOOM_K)])
    for i in range(BLOOM_K):
        probe = probe.join(
            F.broadcast(bits.withColumnRenamed("p", f"p{i}")),
            f"p{i}", "left_semi")
    return probe.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_flagged"))


# --------------------------------------------------------------------------
# Stratified sampling with proportional allocation
# --------------------------------------------------------------------------

SAMPLE_TOTAL = 200  # target corpus-wide sample size


@query(
    "t_stratified_sample",
    oracle=f"""
WITH c AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
), t AS (
  SELECT SUM(n) AS total FROM c
), k AS (
  SELECT lang, CAST((n * {SAMPLE_TOTAL} + total - 1) // total AS BIGINT) AS quota
  FROM c, t
), r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT doc_id, r.lang, CAST(rk AS BIGINT) AS rk, quota
FROM r JOIN k ON r.lang = k.lang WHERE rk <= quota
""",
)
def t_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: ~{SAMPLE_TOTAL} docs allocated
    to language strata proportionally to stratum size (exact-integer
    ceil division — no float quotas), each stratum sampled by md5-rank
    (a uniform pseudo-random order that any re-run, any engine, and
    the oracle reproduce exactly).

    The eval-set / ablation-corpus builder: unlike `t_balanced_mix`
    (equal quotas at the smallest stratum), allocation preserves the
    corpus distribution.  Scale shape: stratum counts are one
    map-side-combined groupBy; the quota table (|langs| rows) and the
    single-row total BROADCAST back onto the rank window — the only
    real exchange is the per-stratum sort, partitioned by lang.  Skew
    note: a dominant stratum (en at ~44%) concentrates one partition's
    sort; at 100 TB swap the row_number for the md5-threshold filter
    (keep if md5 < quota/n scaled), which is exchange-free at the cost
    of approximate quota sizes."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    # The corpus total is a 1-row aggregate attached by broadcast;
    # Catalyst plans a scalar cross join as a BroadcastNestedLoopJoin
    # whose build side is that single row — constant work per stratum
    # row, nothing like a data-sized nested loop (plan-pinned).
    total = c.agg(F.sum("n").alias("total"))
    k = (c.crossJoin(F.broadcast(total))
          .select("lang", F.expr(
              f"CAST((n * {SAMPLE_TOTAL} + total - 1) div total AS BIGINT)")
              .alias("quota")))
    r = d.select(
        "doc_id", "lang",
        F.row_number().over(
            Window.partitionBy("lang")
            .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
         .alias("rk"))
    return (r.join(F.broadcast(k), "lang")
            .where(F.col("rk") <= F.col("quota"))
            .select("doc_id", "lang", F.col("rk").cast("long").alias("rk"),
                    "quota"))
