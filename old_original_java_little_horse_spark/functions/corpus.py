"""Corpus-preparation operators: the transforms between raw documents
and training shards — PII redaction, fixed-size chunking with overlap,
deterministic train/val/test splitting, per-language n-gram profiles,
and per-document distinctive terms.

Everything is JVM-side Catalyst expressions (regexp / split /
higher-order array functions / window) — no Python UDFs — so at
100 TB they run inside whole-stage codegen on the parquet scan.
Per-row maps (redact / chunk / split) are shuffle-free; the profile
queries shuffle once on their group key with map-side partial
aggregation.

Determinism: regex patterns are restricted to constructs Java regex
and RE2 evaluate identically (char classes, bounded repeats — no
backreferences, no lookaround); scores use exact integer arithmetic
(`tf*1_000_000 div df`) instead of floating-point tf-idf so the
cross-engine hash can never drift.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..registry import query
from ..sources.parquet import load_table
from .text import kgram_rows, words_col

# Redaction patterns — deliberately simple, identical under Java regex
# (Spark) and RE2 (DuckDB): no lookaround, no backreferences.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
PII_PHONE = r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"

CHUNK_SIZE = 64   # words per training chunk
CHUNK_STRIDE = 48  # 16-word overlap between consecutive chunks

SPLIT_TRAIN, SPLIT_VAL = 80, 90  # bucket thresholds of 100


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

@query(
    "t_pii_redact",
    oracle=f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(text, '{PII_IP}'))    AS n_ips,
       len(regexp_extract_all(text, '{PII_PHONE}')) AS n_phones,
       regexp_replace(regexp_replace(regexp_replace(text,
         '{PII_EMAIL}', '<EMAIL>', 'g'),
         '{PII_IP}', '<IP>', 'g'),
         '{PII_PHONE}', '<PHONE>', 'g')             AS clean_text
FROM documents
""",
)
def t_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails / IPv4 addresses / phone numbers to typed tokens,
    reporting per-document match counts (counted on the original
    text).  Order matters and is fixed: email → IP → phone, so a
    dotted phone can never be half-eaten by the IP pass (an IPv4 needs
    three dots; the email TLD is alphabetic) and replacement tokens
    contain no digits to re-match.  Pure per-row codegen — the 100 TB
    cost is one scan.

    The email passes are gated behind `instr(text, '@') > 0`: the
    pattern REQUIRES an '@', so @-free docs provably have zero
    matches, and the substring probe is ~free next to the regex.  The
    email pattern's `[...]+@` prefix makes it the expensive one —
    every alnum run is scanned and backtracked at every start offset
    when no '@' follows (measured 1.4 s count + 1.5 s replace of the
    4.1 s sf1 wall, vs 0.35 s for the IP pass; the gate reads 1.2 s
    total).  Semantics are untouched, so the ungated oracle matches.
    The residual decade ratio is linear-in-chars: map-only (shuffle
    amp 0), corpus chars scale exactly x10 sf0.1→sf1, wall below x10
    = per-char regex cost plus a fixed JVM floor."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    has_at = F.instr(t, "@") > 0
    clean = F.regexp_replace(
        F.regexp_replace(
            F.when(has_at, F.regexp_replace(t, PII_EMAIL, "<EMAIL>"))
             .otherwise(t),
            PII_IP, "<IP>"),
        PII_PHONE, "<PHONE>")
    return d.select(
        "doc_id",
        # NULL text must stay NULL (the oracle's len(regexp_extract_all
        # (NULL)) is NULL) — only a non-null @-free doc short-circuits.
        F.when(t.isNotNull() & ~has_at, F.lit(0))
         .otherwise(F.regexp_count(t, F.lit(PII_EMAIL))).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IP)).alias("n_ips"),
        F.regexp_count(t, F.lit(PII_PHONE)).alias("n_phones"),
        clean.alias("clean_text"),
    )


# --------------------------------------------------------------------------
# Fixed-size chunking with overlap (1 document → N training chunks)
# --------------------------------------------------------------------------

@query(
    "t_doc_chunks",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
)
SELECT doc_id,
       start // {CHUNK_STRIDE}                       AS chunk_idx,
       array_to_string(w[start + 1 : start + {CHUNK_SIZE}], ' ') AS chunk_text,
       len(w[start + 1 : start + {CHUNK_SIZE}])      AS n_tokens
FROM t, unnest(generate_series(0, len(w) - 1, {CHUNK_STRIDE})) AS u(start)
""",
)
def t_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into {CHUNK_SIZE}-word chunks on a
    {CHUNK_STRIDE}-word stride (16-word overlap) — the 1→N explode
    that turns documents into training sequences.  The explode is
    per-row (no shuffle); chunk_idx = start/stride is derived, not
    positional, so both engines agree without ordinality plumbing."""
    d = load_table(spark, sf_dir, "documents")
    w = words_col(F.col("text"))
    chunks = d.select(
        "doc_id", w.alias("w"),
        F.explode(
            F.sequence(F.lit(0), F.size(w) - 1, F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    piece = F.slice(F.col("w"), F.col("start") + 1, CHUNK_SIZE)
    return chunks.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split
# --------------------------------------------------------------------------

@query(
    "t_hash_split",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < {SPLIT_TRAIN} THEN 'train'
            WHEN bucket < {SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split
FROM t
""",
)
def t_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by md5(doc_id) bucket —
    deterministic and stable under re-runs / repartitioning /
    appends, unlike `rand()`-based splits.  Per-row codegen; the
    bucket is also the natural shard key for a partitioned export."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                     16, 10).cast("long") % 100)
    return d.select(
        "doc_id", bucket.alias("bucket"),
        F.when(bucket < SPLIT_TRAIN, "train")
         .when(bucket < SPLIT_VAL, "val")
         .otherwise("test").alias("split"),
    )


# --------------------------------------------------------------------------
# Per-language n-gram profile (top bigrams)
# --------------------------------------------------------------------------

@query(
    "t_top_ngrams",
    oracle="""
WITH t AS (
  SELECT lang, string_split(text, ' ') AS w FROM documents
), b AS (
  SELECT lang, unnest(CASE WHEN len(w) >= 2
           THEN list_transform(generate_series(1, len(w) - 1),
                               i -> array_to_string(w[i:i+1], ' '))
           ELSE [] END) AS bigram
  FROM t
), c AS (
  SELECT lang, bigram, COUNT(*) AS cnt FROM b GROUP BY lang, bigram
)
SELECT lang, bigram, CAST(cnt AS BIGINT) AS cnt, rn
FROM (SELECT lang, bigram, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, bigram) AS rn
      FROM c)
WHERE rn <= 10
""",
)
def t_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 bigrams per language — the corpus-profile query behind
    contamination and boilerplate checks.  Explode → one partial-agg
    shuffle on (lang, bigram) → per-lang top-10: Spark plans the
    window as WindowGroupLimit, so only each partition's top rows
    survive the final exchange; ties break on the bigram itself for
    a total, engine-independent order."""
    d = load_table(spark, sf_dir, "documents")
    b = kgram_rows(d, ["lang"], words_col(F.col("text")), 2, "bigram")
    c = b.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), "bigram")
    return (c.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 10)
            .select("lang", "bigram", "cnt", "rn"))


# --------------------------------------------------------------------------
# Distinctive terms (exact-integer tf/df score)
# --------------------------------------------------------------------------

@query(
    "t_distinctive_terms",
    oracle="""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY term
), scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
         CAST(tf.tf * 1000000 // df.df AS BIGINT) AS score_x1m
  FROM tf JOIN df USING (term)
)
SELECT doc_id, term, tf, df, score_x1m
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score_x1m DESC, term) AS rn
      FROM scored)
WHERE rn <= 5
""",
)
def t_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive terms per document, scored by the exact
    integer `tf * 1_000_000 div df` (frequent here, rare elsewhere).
    Deliberately NOT float tf-idf: ln() is not bit-identical across
    libm implementations, and monotone(1/df) preserves the idf
    ranking within a document — so the score is hash-stable across
    engines.  Two shuffles (doc-term tf, term df) + a broadcast-sized
    df join; the window is per-doc top-5 via WindowGroupLimit."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(words_col(F.col("text"))).alias("term"))
    tf = w.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = w.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (tf.join(df, "term")
              .select("doc_id", "term", "tf", "df",
                      F.expr("tf * 1000000L div df").alias("score_x1m")))
    win = Window.partitionBy("doc_id").orderBy(F.desc("score_x1m"), "term")
    return (scored.withColumn("rn", F.row_number().over(win))
            .where(F.col("rn") <= 5)
            .select("doc_id", "term", "tf", "df", "score_x1m"))


# --------------------------------------------------------------------------
# Segment-level dedup (the C4/RefinedWeb line-dedup shape)
# --------------------------------------------------------------------------

SEG_WORDS = 16  # non-overlapping segment width (the "line" analogue)


@query(
    "t_segment_dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), segs AS (
  SELECT doc_id,
         start // {SEG_WORDS} AS seg_idx,
         array_to_string(w[start + 1 : start + {SEG_WORDS}], ' ') AS seg
  FROM t, unnest(generate_series(0, len(w) - 1, {SEG_WORDS})) AS u(start)
), ranked AS (
  SELECT doc_id, seg_idx, seg,
         ROW_NUMBER() OVER (PARTITION BY md5(seg)
                            ORDER BY doc_id, seg_idx) AS rn
  FROM segs
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT)                                  AS n_segs,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)   AS n_dup_segs,
       md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END,
                               ' ' ORDER BY seg_idx), ''))        AS clean_md5
FROM ranked GROUP BY doc_id
""",
)
def t_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide segment-level dedup — the fixed-width analogue of
    C4/RefinedWeb *line* dedup (the synthetic text has no newlines):
    split every document into non-overlapping {SEG_WORDS}-word
    segments, keep only each distinct segment's FIRST occurrence
    (lexicographic (doc_id, seg_idx) — a total, engine-independent
    rule), and report per document the dropped-segment count plus the
    md5 of the text reassembled from surviving segments.

    Scale shape: explode (per-row, no shuffle) → ONE hash exchange on
    the segment digest (uniform 128-bit key — no skew) for the
    first-occurrence window → one groupBy back on doc_id.  This is
    exactly the two-exchange plan a 100 TB line-dedup runs; the
    reassembly stays per-doc (collect_list bounded by document size).
    """
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    segs = d.select(
        "doc_id", w.alias("w"),
        F.explode(F.sequence(F.lit(0), F.size(w) - 1,
                             F.lit(SEG_WORDS))).alias("start"),
    ).select(
        "doc_id",
        (F.col("start") / SEG_WORDS).cast("long").alias("seg_idx"),
        F.concat_ws(" ", F.slice(F.col("w"), F.col("start") + 1,
                                 SEG_WORDS)).alias("seg"),
    )
    first = Window.partitionBy(F.md5("seg")).orderBy("doc_id", "seg_idx")
    ranked = segs.withColumn("rn", F.row_number().over(first))
    kept_sorted = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.when(F.col("rn") == 1, F.struct("seg_idx", "seg")))),
            lambda s: s["seg"],
        ), " ")
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum((F.col("rn") > 1).cast("long")).alias("n_dup_segs"),
        F.md5(kept_sorted).alias("clean_md5"),
    )


# --------------------------------------------------------------------------
# Bigram-LM quality score (the CCNet LM-filter shape, exact-integer)
# --------------------------------------------------------------------------

@query(
    "t_lm_score",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), bg AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= 2
           THEN list_transform(generate_series(1, len(w) - 1),
                               i -> array_to_string(w[i:i+1], ' '))
           ELSE [] END) AS bigram
  FROM t
), cb AS (
  SELECT bigram, COUNT(*) AS cb FROM bg GROUP BY bigram
), cp AS (
  SELECT string_split(bigram, ' ')[1] AS prefix, COUNT(*) AS cp
  FROM bg GROUP BY 1
), sc AS (
  SELECT g.doc_id, COUNT(*) AS n_bigrams,
         SUM(cb.cb * 1000000 // cp.cp) AS total
  FROM bg g
  JOIN cb USING (bigram)
  JOIN cp ON string_split(g.bigram, ' ')[1] = cp.prefix
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT)           AS n_bigrams,
       CAST(COALESCE(sc.total // sc.n_bigrams, 0) AS BIGINT) AS lm_score_x1m
FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
""",
)
def t_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram language-model score per document — the CCNet-style
    LM quality filter: train P(w2|w1) = count(w1 w2)/count(w1·) on the
    corpus itself, score each document by the mean transition
    probability of its bigrams.  All arithmetic is exact integer
    (probabilities scaled ×1e6 with integral division, mean likewise)
    so the oracle hash-matches — a float log-likelihood would drift
    across libm implementations.

    Scale shape: the model IS two aggregations (bigram counts, prefix
    counts) — map-side combined, one exchange each.  The per-bigram
    probability is attached model-side FIRST (cb ⋈ cp is
    vocabulary-sized — Zipf-bounded, tiny next to the corpus), so the
    exploded corpus bigrams shuffle exactly ONCE, on the bigram key,
    not once per model table.  Nothing is ever collected — the same
    plan an n-gram LM trainer runs.
    """
    d = load_table(spark, sf_dir, "documents")
    bg = kgram_rows(d, ["doc_id"], words_col(F.col("text")), 2, "bigram")
    cb = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("cb"))
    cp = (bg.select(F.substring_index("bigram", " ", 1).alias("prefix"))
          .groupBy("prefix").agg(F.count(F.lit(1)).alias("cp")))
    model = (cb.withColumn("prefix", F.substring_index("bigram", " ", 1))
             .join(cp, "prefix")
             .select("bigram", F.expr("cb * 1000000L div cp").alias("p_x1m")))
    sc = (
        bg.join(model, "bigram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nb"), F.sum("p_x1m").alias("total"))
    )
    return (
        d.select("doc_id").join(sc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("nb", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.expr("total div nb"), F.lit(0))
             .cast("long").alias("lm_score_x1m"),
        )
    )


# --------------------------------------------------------------------------
# DSIR-shape importance weights (target-vs-background n-gram models)
# --------------------------------------------------------------------------

_DSIR_CTES = """
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
), bg AS (
  SELECT doc_id, lang, unnest(CASE WHEN len(w) >= 2
           THEN list_transform(generate_series(1, len(w) - 1),
                               i -> array_to_string(w[i:i+1], ' '))
           ELSE [] END) AS bigram
  FROM t
), mb AS (  -- background model: whole corpus
  SELECT bigram, COUNT(*) * 1000000 //
         SUM(COUNT(*)) OVER (PARTITION BY string_split(bigram, ' ')[1])
           AS pb_x1m
  FROM bg GROUP BY bigram
), mt AS (  -- target model: English documents only
  SELECT bigram, COUNT(*) * 1000000 //
         SUM(COUNT(*)) OVER (PARTITION BY string_split(bigram, ' ')[1])
           AS pt_x1m
  FROM bg WHERE lang = 'en' GROUP BY bigram
), model AS (
  SELECT mb.bigram, COALESCE(mt.pt_x1m, 0) - mb.pb_x1m AS diff_x1m
  FROM mb LEFT JOIN mt ON mb.bigram = mt.bigram
), sc AS (
  SELECT g.doc_id, COUNT(*) AS nb, SUM(m.diff_x1m) AS total
  FROM bg g JOIN model m ON g.bigram = m.bigram
  GROUP BY g.doc_id
)
"""

@query(
    "t_dsir_weights",
    oracle=_DSIR_CTES + """
SELECT d.doc_id,
       CAST(COALESCE(sc.nb, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(CASE WHEN sc.total >= 0 THEN sc.total // sc.nb
                          ELSE -((-sc.total) // sc.nb) END, 0) AS BIGINT)
         AS dsir_x1m,
       CAST(CASE WHEN COALESCE(sc.total, 0) > 0 THEN 1 ELSE 0 END
            AS INTEGER) AS selected
FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
""",
)
def t_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shape data selection (Xie et al., "Data Selection for
    Language Models via Importance Resampling"): weight every document
    by how much more likely its bigrams are under a TARGET-domain
    model (here: the English subset) than under the BACKGROUND model
    (the whole corpus), and flag the target-like documents for
    selection.  The exact-integer surrogate sums per-bigram
    probability differences (×1e6, integral division, truncate-toward-
    zero for the per-doc mean) instead of log-ratios — float logs
    would drift across libm implementations and break the hash gate;
    the ranking behavior (target-like up, background-typical down) is
    the same.

    Scale shape — identical to `t_lm_score`'s trainer, run twice and
    diffed MODEL-SIDE: both models are vocabulary-sized aggregations
    (map-side combined; the conditional-probability denominator is a
    prefix-partition window over the grouped bigram table, NOT a
    second corpus pass), their LEFT-JOIN diff is Zipf-bounded and
    tiny next to the corpus, so the exploded corpus bigrams shuffle
    exactly ONCE, on the bigram key.  Nothing is collected; the
    target set rides the same scan behind a filter (in production the
    target is a separate small table — same plan, broadcast model)."""
    d = load_table(spark, sf_dir, "documents")
    bg = kgram_rows(d, ["doc_id", "lang"], words_col(F.col("text")), 2,
                    "bigram")

    def model_of(src: DataFrame, p_name: str) -> DataFrame:
        # P(w2|w1) ×1e6 with exact integer division (`div` == the
        # oracle's `//` on positives); the denominator is a prefix-
        # partition window over the GROUPED bigram table — vocabulary-
        # sized, never a second corpus pass.
        cnt = src.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
        wp = Window.partitionBy(F.substring_index("bigram", " ", 1))
        return (cnt.withColumn("den", F.sum("c").over(wp))
                .withColumn("num", (F.col("c") * F.lit(1000000))
                            .cast("long"))
                .select("bigram",
                        F.expr("num div den").cast("long").alias(p_name)))

    mb = model_of(bg, "pb_x1m")
    mt = model_of(bg.where(F.col("lang") == "en"), "pt_x1m")
    model = (mb.join(mt, "bigram", "left")
             .select("bigram",
                     (F.coalesce("pt_x1m", F.lit(0)) - F.col("pb_x1m"))
                     .alias("diff_x1m")))
    sc = (bg.join(model, "bigram")
          .groupBy("doc_id")
          .agg(F.count(F.lit(1)).alias("nb"),
               F.sum("diff_x1m").alias("total")))
    return (d.select("doc_id").join(sc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("nb", F.lit(0)).cast("long").alias("n_bigrams"),
                F.coalesce(F.expr("total div nb"), F.lit(0))
                 .cast("long").alias("dsir_x1m"),
                F.when(F.coalesce("total", F.lit(0)) > 0, 1).otherwise(0)
                 .cast("int").alias("selected")))


@query(
    "t_dsir_resample",
    oracle=_DSIR_CTES + """
, wt AS (
  SELECT d.doc_id,
         COALESCE(CASE WHEN sc.total >= 0 THEN sc.total // sc.nb
                       ELSE -((-sc.total) // sc.nb) END, 0) AS dsir_x1m
  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
)
SELECT doc_id,
       CAST(dsir_x1m AS BIGINT) AS dsir_x1m,
       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         % 1000000 AS draw_x1m,
       CAST(CASE WHEN dsir_x1m > 0 AND
                      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                           AS BIGINT) % 1000000
                      < LEAST(dsir_x1m, 1000000)
                 THEN 1 ELSE 0 END AS INTEGER) AS accepted
FROM wt
""",
)
def t_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESAMPLING half of DSIR (`t_dsir_weights` computes the
    importance weights; Xie et al.'s pipeline then samples documents
    with probability proportional to them): a deterministic Bernoulli
    draw per document — accept iff md5(doc_id)-derived uniform draw
    (×1e6) falls below the weight clamped to [0, 1e6] — so the
    selected subset's composition converges to the importance-tilted
    target distribution while remaining a pure function of the corpus
    (re-runs, retries and both engines agree row for row; a rand()
    draw would be none of those).

    Scale shape: everything over the weight table — the corpus
    bigrams still shuffle exactly once inside the weights build; the
    draw and the accept flag are per-row codegen on top.  Emits every
    document with its weight, draw and accepted flag (the export
    pipeline filters `accepted = 1`; keeping rejects visible is what
    makes selection rates auditable)."""
    w = t_dsir_weights(spark, sf_dir).select(
        "doc_id",
        F.col("dsir_x1m").cast("long").alias("dsir_x1m"))
    draw = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                   16, 10).cast("long") % 1000000)
    return w.select(
        "doc_id", "dsir_x1m",
        draw.alias("draw_x1m"),
        F.when((F.col("dsir_x1m") > 0)
               & (draw < F.least("dsir_x1m", F.lit(1000000))), 1)
         .otherwise(0).cast("int").alias("accepted"))


# --------------------------------------------------------------------------
# BPE merge training (the tokenizer-trainer inner loop)
# --------------------------------------------------------------------------

BPE_ROUNDS = 3

_BPE_PAIRS_SQL = """
  SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
    SELECT n, unnest(CASE WHEN len(t) >= 2
             THEN list_transform(generate_series(1, len(t) - 1),
                                 i -> array_to_string(t[i:i+1], ' '))
             ELSE [] END) AS pair
    FROM (SELECT string_split(seq, ' ') AS t, n FROM {src})
  ) GROUP BY pair
"""

_BPE_MERGE_SQL = """
  SELECT trim(replace(' ' || seq || ' ',
                      ' ' || (SELECT pair FROM {m}) || ' ',
                      ' ' || (SELECT replace(pair, ' ', '') FROM {m}) || ' '))
           AS seq, n
  FROM {src}
"""

_BPE_ORACLE = (
    """
WITH w0 AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
  ) WHERE regexp_matches(word, '^[a-z]+$')
  GROUP BY word
), s0 AS (
  SELECT array_to_string(string_split(word, ''), ' ') AS seq, n FROM w0
)"""
    + f""", p1 AS MATERIALIZED ({_BPE_PAIRS_SQL.format(src='s0')})
, m1 AS MATERIALIZED (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1)
, s1 AS MATERIALIZED ({_BPE_MERGE_SQL.format(src='s0', m='m1')})
, p2 AS MATERIALIZED ({_BPE_PAIRS_SQL.format(src='s1')})
, m2 AS MATERIALIZED (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1)
, s2 AS MATERIALIZED ({_BPE_MERGE_SQL.format(src='s1', m='m2')})
, p3 AS MATERIALIZED ({_BPE_PAIRS_SQL.format(src='s2')})
, m3 AS MATERIALIZED (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS round, pair, cnt FROM m1
  UNION ALL SELECT 2, pair, cnt FROM m2
  UNION ALL SELECT 3, pair, cnt FROM m3
)
""")


@query("t_bpe_merges", oracle=_BPE_ORACLE)
def t_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first {BPE_ROUNDS} byte-pair-encoding merges learned from
    the corpus — the tokenizer-trainer inner loop (Sennrich et al.,
    "Neural Machine Translation of Rare Words with Subword Units"):
    represent each distinct word as a space-separated symbol sequence,
    repeatedly count adjacent symbol pairs weighted by word frequency,
    merge the most frequent pair corpus-wide, repeat.  Ties break
    lexicographically so training is a pure function of the corpus.

    Scale shape — the reason real BPE trainers scale at all is that
    they run on the WORD-FREQUENCY table, not the corpus, and this
    plan does exactly that: one corpus pass builds the Zipf-bounded
    (word, count) rollup (map-side combined), then every round is
    vocabulary-sized — pair explode → one partial-agg exchange on the
    pair key → a driver fetch of ONE row (the winning merge, the
    trainer artifact) → a map-only `replace` rewriting the symbol
    sequences.  The space-padded replace (' l l ' in ' '||seq||' ')
    is boundary-safe and both engines scan left-to-right
    non-overlapping, so merge application is deterministic and the
    DuckDB oracle replays all rounds bit-for-bit.

    Merge-application caveat: a single padded replace consumes the
    shared separator, so in a run of ≥4 repeats of the winning pair's
    symbol (' a a a a ') it merges alternating occurrences where
    Sennrich's scanner merges strictly left-to-right — deterministic
    and engine-identical either way, but the residual pair survives
    into later rounds there.  No word in the test corpora hits the
    case: `tests/test_bpe_exact.py` replays the full trainer against
    a pure-Python exact-greedy Sennrich implementation and pins
    round-for-round equality of the merge trace.  Words are
    restricted to ^[a-z]+$ on both sides: Spark splits strings into
    UTF-16 code units while DuckDB splits into codepoints, so CJK
    text would desync the symbol alphabet (a real implementation
    operates on bytes, as GPT-2's does)."""
    d = load_table(spark, sf_dir, "documents")
    # ONE corpus scan builds the word-frequency base; persist it so
    # each round's collect() replays the (growing) replace chain from
    # the cached vocab table, never from the corpus — the same pin as
    # t_bpe_encode's `base` (and evicted by the same convention).
    wf = (d.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
          .where(F.col("word").rlike("^[a-z]+$"))
          .groupBy("word").agg(F.count(F.lit(1)).alias("n"))
          .select(F.concat_ws(" ", F.split("word", "")).alias("seq"), "n")
          .persist())
    base = wf

    merges = []
    for rnd in range(1, BPE_ROUNDS + 1):
        top = (kgram_rows(wf, ["n"], F.split("seq", " "), 2, "pair")
               .groupBy("pair").agg(F.sum("n").alias("cnt"))
               .orderBy(F.col("cnt").desc(), "pair")
               .limit(1).collect()[0])                # ONE row: the merge
        merges.append((rnd, top.pair, int(top.cnt)))
        merged_tok = top.pair.replace(" ", "")
        wf = wf.select(
            F.trim(F.replace(
                F.concat(F.lit(" "), F.col("seq"), F.lit(" ")),
                F.lit(f" {top.pair} "), F.lit(f" {merged_tok} ")))
            .alias("seq"), "n")

    # Unlike t_bpe_encode, the result below is already materialized
    # (every round collect()ed), so the cache has no lazy consumer and
    # can be dropped immediately.
    base.unpersist()

    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    schema = StructType([
        StructField("round", LongType()),
        StructField("pair", StringType()),
        StructField("cnt", LongType()),
    ])
    return spark.createDataFrame(
        [(r, p, c) for r, p, c in merges], schema)


# --------------------------------------------------------------------------
# BPE encoding (applying the trained merges — the tokenizer hot path)
# --------------------------------------------------------------------------

BPE_ENC_ROUNDS = 6
_BPE_PINNED: list = []  # previous invocation's persisted vocab base


def _bpe_encode_oracle() -> str:
    """Trainer chain extended to {BPE_ENC_ROUNDS} rounds WITH the word
    key carried through, then the vocabulary encoding joined back to
    the corpus — generated from the same loop count as the Spark
    side."""
    parts = ["""
WITH w0 AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
  ) WHERE regexp_matches(word, '^[a-z]+$')
  GROUP BY word
), v0 AS (
  SELECT word, array_to_string(string_split(word, ''), ' ') AS seq, n
  FROM w0
)"""]
    for r in range(1, BPE_ENC_ROUNDS + 1):
        prev = f"v{r - 1}"
        # MATERIALIZED: each v{r} is consumed twice (p{r+1} and
        # v{r+1}); default CTE inlining would re-expand the whole
        # chain per consumer — exponential in rounds.
        parts.append(f""", p{r} AS MATERIALIZED (
  SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
    SELECT n, unnest(CASE WHEN len(t) >= 2
             THEN list_transform(generate_series(1, len(t) - 1),
                                 i -> array_to_string(t[i:i+1], ' '))
             ELSE [] END) AS pair
    FROM (SELECT string_split(seq, ' ') AS t, n FROM {prev})
  ) GROUP BY pair
), m{r} AS MATERIALIZED (
  SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT 1)
, v{r} AS MATERIALIZED (
  SELECT word,
         trim(replace(' ' || seq || ' ',
                      ' ' || (SELECT pair FROM m{r}) || ' ',
                      ' ' || (SELECT replace(pair, ' ', '') FROM m{r})
                          || ' ')) AS seq,
         n
  FROM {prev}
)""")
    parts.append(f"""
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(string_split(v.seq, ' '))) AS BIGINT) AS n_tokens
FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      FROM documents) d
JOIN v{BPE_ENC_ROUNDS} v ON v.word = d.word
GROUP BY d.doc_id
""")
    return "".join(parts)


@query("t_bpe_encode", oracle=_bpe_encode_oracle())
def t_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE token counts after applying the first
    {BPE_ENC_ROUNDS} learned merges — the tokenizer HOT PATH
    (`t_bpe_merges` is the trainer; every pretraining pipeline then
    encodes the whole corpus with the learned table, and token counts
    drive packing, pricing, and mixture weights).

    The scale trick is the same one that makes real tokenizers fast:
    encode the VOCABULARY, not the corpus.  Merges apply to the
    distinct-word table (Zipf-bounded) via the boundary-safe
    space-padded replace; the corpus pass is then a broadcast join
    word → token-count and one map-side-combined rollup per doc.  The
    corpus is never re-scanned per merge round — rounds cost
    vocabulary size, encoding costs one join.

    Applying merges in learned order to whole-word symbol sequences
    follows greedy BPE encoding (Sennrich et al.) under the same
    padded-replace semantics as the trainer (see `t_bpe_merges` for
    the ≥4-repeat-run caveat — absent from these corpora and pinned
    so by `tests/test_bpe_exact.py`, which checks every word's
    segmentation against an exact-greedy encoder); both engines scan
    replaces left-to-right non-overlapping, so the encoding — and
    therefore every count — is deterministic.  Docs with no
    ^[a-z]+$ word drop out (inner join), same as the oracle."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word"))
    # ONE corpus scan builds the word-frequency vocab; persist it so
    # the merge rounds (whose lineage replays from here) never touch
    # the corpus again — without this, every round's collect() and the
    # final join would each re-scan the documents table.
    base = (words.where(F.col("word").rlike("^[a-z]+$"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("n"))
            .select("word",
                    F.concat_ws(" ", F.split("word", "")).alias("seq"),
                    "n")
            .persist())
    vocab = base
    for _ in range(BPE_ENC_ROUNDS):
        top = (kgram_rows(vocab, ["n"], F.split("seq", " "), 2, "pair")
               .groupBy("pair").agg(F.sum("n").alias("cnt"))
               .orderBy(F.col("cnt").desc(), "pair")
               .limit(1).collect()[0])
        merged_tok = top.pair.replace(" ", "")
        vocab = vocab.select(
            "word",
            F.trim(F.replace(
                F.concat(F.lit(" "), F.col("seq"), F.lit(" ")),
                F.lit(f" {top.pair} "), F.lit(f" {merged_tok} ")))
            .alias("seq"), "n")
    enc = vocab.select("word", F.size(F.split("seq", " ")).alias("tok"))
    out = (words.join(F.broadcast(enc), "word")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_words"),
                F.sum("tok").cast("long").alias("n_tokens")))
    # The returned DataFrame is lazy and its lineage replays the
    # replace chain from `base`, so unpersisting here would drop the
    # cache before the consumer ever runs (unpersist is immediate,
    # not deferred).  Same convention as clustering._EDGE_MEMO /
    # _PR_PINNED: keep this invocation's block pinned, evict the
    # PREVIOUS one.
    while _BPE_PINNED:
        try:
            _BPE_PINNED.pop().unpersist()
        except Exception:
            pass  # a dead session's blocks are already gone
    _BPE_PINNED.append(base)
    return out


t_bpe_merges.__doc__ = t_bpe_merges.__doc__.format(BPE_ROUNDS=BPE_ROUNDS)
t_bpe_encode.__doc__ = t_bpe_encode.__doc__.format(
    BPE_ENC_ROUNDS=BPE_ENC_ROUNDS)


# --------------------------------------------------------------------------
# Cross-source overlap matrix (between-snapshot duplication measurement)
# --------------------------------------------------------------------------

from .dedup import SHINGLE_K as _OVERLAP_K

@query(
    "t_source_overlap",
    oracle=f"""
WITH t AS (
  SELECT source,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), srows AS (
  SELECT source,
         unnest(list_distinct(CASE WHEN len(w) >= {_OVERLAP_K}
             THEN list_transform(generate_series(1, len(w) - {_OVERLAP_K - 1}),
                                 i -> array_to_string(w[i:i+{_OVERLAP_K - 1}], ' '))
             ELSE [] END)) AS s
  FROM t
), ss AS (
  SELECT DISTINCT source, s FROM srows
), c AS (
  SELECT source, COUNT(*) AS n FROM ss GROUP BY source
), p AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared,
       CAST(ca.n AS BIGINT) AS n_a,
       CAST(cb.n AS BIGINT) AS n_b,
       CAST(n_shared * 1000000 // (ca.n + cb.n - n_shared) AS BIGINT)
         AS jaccard_x1m
FROM p JOIN c ca ON p.source_a = ca.source
       JOIN c cb ON p.source_b = cb.source
""",
)
def t_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shingle overlap between sources — the duplication
    matrix a corpus team runs between crawl snapshots / dataset
    components before mixing them (how much of source B is already in
    source A), with exact-integer Jaccard (ppm).

    Scale shape: distinct (source, shingle) first — that rolls the
    corpus down to its vocabulary BEFORE any join — then a self-join
    on the shingle string whose per-key fanout is bounded by the
    number of SOURCES carrying that shingle (≤ |sources| per key, a
    few dozen — never corpus-sized; with thousands of sources you'd
    grid the per-shingle source lists like `grid_self_pairs`).  The
    per-source totals re-attach by BROADCAST (|sources| rows).  One
    content-keyed exchange for the distinct, one for the pair join,
    map-side partial aggregation on both."""
    from .dedup import shingle_rows_df

    d = load_table(spark, sf_dir, "documents")
    ss = (shingle_rows_df(d, _OVERLAP_K)
          .select("source", "s").distinct())
    c = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = ss.alias("a"), ss.alias("b")
    p = (a.join(b, (F.col("a.s") == F.col("b.s"))
                & (F.col("a.source") < F.col("b.source")))
         .groupBy(F.col("a.source").alias("source_a"),
                  F.col("b.source").alias("source_b"))
         .agg(F.count(F.lit(1)).alias("n_shared")))
    ca = F.broadcast(c.select(F.col("source").alias("source_a"),
                              F.col("n").alias("n_a")))
    cb = F.broadcast(c.select(F.col("source").alias("source_b"),
                              F.col("n").alias("n_b")))
    return (p.join(ca, "source_a").join(cb, "source_b")
            .select("source_a", "source_b",
                    F.col("n_shared").cast("long").alias("n_shared"),
                    F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                    F.expr("n_shared * 1000000L div (n_a + n_b - n_shared)")
                     .alias("jaccard_x1m")))


# --------------------------------------------------------------------------
# Token-span dedup (ExactSubstr shape: duplicated token windows)
# --------------------------------------------------------------------------

SPAN_TOKENS = 16  # window length (tokens)
SPAN_STRIDE = 8   # window stride — 50% overlap, no span escapes unseen


@query(
    "t_span_dedup",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
s AS (
  SELECT doc_id, w,
         unnest(generate_series(
           1, greatest(len(w) - {SPAN_TOKENS - 1}, 0), {SPAN_STRIDE})) AS i
  FROM t
),
h AS (
  SELECT doc_id,
         md5(array_to_string(w[i:i+{SPAN_TOKENS - 1}], ' ')) AS hx
  FROM s
),
d AS (SELECT hx FROM h GROUP BY hx HAVING COUNT(DISTINCT doc_id) >= 2),
per AS (
  SELECT h.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN d.hx IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_spans
  FROM h LEFT JOIN d ON h.hx = d.hx
  GROUP BY h.doc_id
)
SELECT doc_id,
       COALESCE(n_spans, 0) AS n_spans,
       COALESCE(dup_spans, 0) AS dup_spans,
       CAST(COALESCE(dup_spans, 0) * 1000000
            // greatest(COALESCE(n_spans, 0), 1) AS BIGINT) AS dup_ppm
FROM documents LEFT JOIN per USING (doc_id)
""",
)
def t_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span load: how many of its 16-token
    windows (stride 8) also appear verbatim in ANOTHER document — the
    span-level dedup signal of "Deduplicating Training Data Makes
    Language Models Better" (ExactSubstr), sitting between
    `t_segment_dedup` (line-level) and `d_exact_dedup` (document
    level).  The 50% stride overlap guarantees every 24-token
    duplicated passage covers at least one shared window, so
    cross-doc boilerplate cannot straddle its way past detection.

    Scale shape: suffix arrays (the paper's exact tool) are
    single-machine; the distributed equivalent is this window-hash
    motion — per-row JVM-side array ops (split → sequence → slice →
    md5, zero Python), explode to one row per window, ONE exchange on
    the window hash for the cross-doc distinct count, and a second on
    doc_id for the rollup.  md5 keys are uniform, so neither exchange
    can skew; candidate volume is len/stride per doc, linear in
    corpus size.  The final LEFT JOIN back to documents keeps
    zero-span short docs in the report (exactly-one-row-per-doc is
    the contract a downstream filter stage needs)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    starts = F.when(
        F.size(w) >= SPAN_TOKENS,
        F.sequence(F.lit(1), F.size(w) - SPAN_TOKENS + 1,
                   F.lit(SPAN_STRIDE))).otherwise(
        F.array().cast("array<int>"))
    spans = (docs.select("doc_id", w.alias("w"),
                         F.explode(starts).alias("i"))
             .select("doc_id",
                     F.md5(F.concat_ws(
                         " ", F.slice(F.col("w"), F.col("i"),
                                      SPAN_TOKENS))).alias("hx")))
    dup = (spans.groupBy("hx")
           .agg(F.count_distinct("doc_id").alias("nd"))
           .where(F.col("nd") >= 2).select("hx"))
    per = (spans.join(dup.withColumn("is_dup", F.lit(1)), "hx", "left")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_spans"),
                F.coalesce(F.sum("is_dup"), F.lit(0)).alias("dup_spans")))
    return (docs.select("doc_id").join(per, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
                    F.coalesce("dup_spans", F.lit(0)).alias("dup_spans"),
                    (F.coalesce("dup_spans", F.lit(0)) * 1_000_000
                     / F.greatest(F.coalesce("n_spans", F.lit(0)), F.lit(1)))
                    .cast("long").alias("dup_ppm")))
