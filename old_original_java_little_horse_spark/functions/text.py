"""Text-analysis operators for large-scale training-data pipelines.

Language ID (n-gram/stopword heuristic), quality scoring, token
counting, and document fingerprinting over the `documents` table,
plus the tokenizers and the one k-gram builder (`kgrams`) that every
shingle, n-gram and stride-1 window in the registry is made from
(strided chunk windows explode a `sequence` of start offsets instead).
Everything is JVM-side Catalyst expressions (split / slice /
arrays_zip / md5, with a higher-order function only where a per-
element map or filter has no built-in form) — no Python UDFs — so at
100 TB these run on the parquet scan, shuffle-free (they are all
per-row maps followed by nothing).

Determinism: word tokenization is a plain single-space split on both
engines; scores are rounded before output.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ..registry import query
from ..sources.parquet import load_table

# Tiny per-language stopword lists (public, common words).  The corpus
# is synthetic so the interesting property is determinism, not recall.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
    "zh": ("de", "shi", "le", "zai", "he"),
}

QUALITY_STOPWORDS = ("the", "a", "of", "and", "to", "is", "in", "it")


def words_col(text: Column) -> Column:
    return F.split(text, " ")


def normalized_text(c: Column) -> Column:
    """Dedup normalization: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def normalized_words(text: Column) -> Column:
    """The dedup family's tokenizer: `normalized_text` split on spaces."""
    return words_col(normalized_text(text))


def kgrams(arr: Column, k: int) -> Column:
    """Every run of k consecutive elements of `arr`, in order, as
    `array<struct<0, .., k-1>>`: `arrays_zip` of the k aligned slices
    `arr[1..]`, `arr[2..]`, .., all cut to one length so position i
    zips elements i..i+k-1.  Empty when `arr` has fewer than k
    elements, NULL when `arr` is NULL.  No lambda: slice and
    arrays_zip stay inside whole-stage codegen.

    Rejected shapes, all measured:

    - `transform(sequence(1, n-k+1), i -> concat_ws(slice(w, i, k)))`
      (r9): a higher-order function runs interpreted with one lambda
      and one slice gather per window — ~25x slower.
    - posexplode(words) + window `lead` (r10-r12): codegen-fast, but
      the window hash-partitions and sorts the EXPLODED TOKEN STREAM
      (several times the text bytes) — a full-corpus shuffle that
      exists only to see each word's k-1 successors, which are
      row-local to begin with.  The per-row form here gives byte-
      identical output with one Exchange + one Sort fewer per
      consumer.
    - `arr` inlined as an expression (e.g. `kgrams(split(..), k)`
      under an explode): it is re-evaluated once per slice reference
      (11x per row at k=5 — measured 2.4x slower).  Pass a column
      materialized by an earlier projection, as `kgram_rows` does.
    """
    n = F.greatest(F.size(arr) - F.lit(k - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(arr, j + 1, n) for j in range(k)])


def kgram_text(t: Column, k: int) -> Column:
    """One `kgrams` element's k words joined by single spaces."""
    return F.concat_ws(" ", *[t.getField(str(j)) for j in range(k)])


def kgram_rows(d: DataFrame, keep: list[str], words: Column, k: int,
               name: str) -> DataFrame:
    """One row per k-gram of `words` (duplicates kept), carrying the
    `keep` columns, with the k-gram's text as `name`.  The word array
    gets its own projection before the explode (see `kgrams`)."""
    base = d.select(*keep, words.alias("_w"))
    return (base.select(*keep, F.explode(kgrams(F.col("_w"), k)).alias("_t"))
            .select(*keep, kgram_text(F.col("_t"), k).alias(name)))


def _count_in(words: Column, vocab: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in vocab])
    return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))


# --------------------------------------------------------------------------
# Language identification (stopword-hit heuristic, deterministic argmax)
# --------------------------------------------------------------------------

def _lang_oracle() -> str:
    score = {
        lang: " + ".join(
            f"len(list_filter(string_split(text,' '), w -> w = '{w}'))" for w in ws
        )
        for lang, ws in LANG_STOPWORDS.items()
    }
    greatest = ", ".join(f"({s})" for s in score.values())
    langs = list(LANG_STOPWORDS)
    case = "CASE " + " ".join(
        f"WHEN ({score[lang]}) = GREATEST({greatest}) THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
SELECT doc_id, {case} AS predicted_lang,
       GREATEST({greatest}) AS best_score
FROM documents
"""


@query("t_lang_id", oracle=_lang_oracle())
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: argmax over per-language hit
    counts, ties broken by fixed language order (en,de,fr,es,zh)."""
    d = load_table(spark, sf_dir, "documents")
    w = words_col(F.col("text"))
    scores = {lang: _count_in(w, ws) for lang, ws in LANG_STOPWORDS.items()}
    best = F.greatest(*scores.values())
    pred = F.when(scores["en"] == best, "en")
    for lang in ("de", "fr", "es", "zh"):
        pred = pred.when(scores[lang] == best, lang)
    return d.select("doc_id", pred.alias("predicted_lang"), best.alias("best_score"))


# --------------------------------------------------------------------------
# Quality scoring: length / word stats / stopword ratio
# --------------------------------------------------------------------------

@query(
    "t_quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
)
SELECT doc_id,
       length(text)                                   AS n_chars,
       len(w)                                         AS n_words,
       CAST(ROUND((length(text) - len(w) + 1.0) / len(w), 4) AS DOUBLE) AS avg_word_len,
       CAST(ROUND(len(list_filter(w, x -> list_contains({list(QUALITY_STOPWORDS)!r}, x))) * 1.0 / len(w), 4) AS DOUBLE) AS stopword_ratio,
       len(list_filter(w, x -> length(x) >= 6))       AS n_long_words,
       length(text) BETWEEN 100 AND 500
         AND len(list_filter(w, x -> list_contains({list(QUALITY_STOPWORDS)!r}, x))) * 1.0 / len(w) > 0.05
                                                      AS passes_filter
FROM t
""",
)
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / word-shape / stopword-ratio quality signals + a
    composite keep/drop filter — the C4-style quality gate."""
    d = load_table(spark, sf_dir, "documents")
    w = words_col(F.col("text"))
    n_chars = F.length("text")
    n_words = F.size(w)
    stop_hits = _count_in(w, QUALITY_STOPWORDS)
    stop_ratio = F.round(stop_hits * F.lit(1.0) / n_words, 4).cast("double")
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round((n_chars - n_words + F.lit(1.0)) / n_words, 4).cast("double").alias("avg_word_len"),
        stop_ratio.alias("stopword_ratio"),
        F.size(F.filter(w, lambda x: F.length(x) >= 6)).alias("n_long_words"),
        (n_chars.between(100, 500) & (stop_hits * F.lit(1.0) / n_words > 0.05)).alias("passes_filter"),
    )


# --------------------------------------------------------------------------
# Token counting: whitespace tokens + a BPE-ish regex token stream
# --------------------------------------------------------------------------

@query(
    "t_token_count",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' '))                       AS ws_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS bpe_ish_tokens,
       CAST(CEIL(length(text) / 4.0) AS BIGINT)           AS byte_pair_estimate
FROM documents
""",
)
def t_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens, regex token stream (letters|digits|symbol),
    and the chars/4 BPE heuristic estimate."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(words_col(F.col("text"))).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), F.lit(0))).alias("bpe_ish_tokens"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("byte_pair_estimate"),
    )


# --------------------------------------------------------------------------
# Document fingerprinting: content hash + min-shingle rolling fingerprint
# --------------------------------------------------------------------------

@query(
    "t_fingerprint",
    oracle="""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
), s AS (
  SELECT doc_id, text,
         CASE WHEN len(w) >= 3
              THEN list_transform(generate_series(1, len(w) - 2),
                                  i -> array_to_string(w[i:i+2], ' '))
              ELSE [] END AS shingles
  FROM t
)
SELECT doc_id,
       md5(text)                                          AS content_md5,
       list_aggregate(list_transform(shingles, s -> md5(s)), 'min') AS min_shingle_hash,
       len(list_distinct(shingles))                       AS n_distinct_shingles
FROM s
""",
)
def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content md5 + rolling min-hash fingerprint over 3-word shingles
    (the 1-permutation MinHash used by the dedup family).

    Layered projection: the shingle array is interpreted-HOF work (one
    `transform` lambda per shingle over `kgrams`) and is referenced
    twice below, so it gets its own select — CollapseProject keeps
    multi-referenced non-cheap aliases materialized, evaluating the
    split and the shingle build once per row instead of once per
    reference (see t_repetition_score for the measured cost).
    Distinct shingles are counted on the joined strings, not on the
    `kgrams` structs: Spark's `array_distinct` has no hash-set path
    for struct elements (measured 2.18x on this query)."""
    d = load_table(spark, sf_dir, "documents")
    s1 = d.select("doc_id", "text", words_col(F.col("text")).alias("w"))
    s2 = s1.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        F.transform(kgrams(F.col("w"), 3), lambda t: kgram_text(t, 3))
         .alias("sh"),
    )
    return s2.select(
        "doc_id", "content_md5",
        F.array_min(F.transform("sh", F.md5)).alias("min_shingle_hash"),
        # A NULL text has no shingle array; the oracle counts 0.
        F.coalesce(F.size(F.array_distinct("sh")), F.lit(0))
         .alias("n_distinct_shingles"),
    )


# --------------------------------------------------------------------------
# Corpus rollup: per-source quality/coverage stats (the reporting query
# a curation pipeline runs after every filter pass)
# --------------------------------------------------------------------------

@query(
    "t_corpus_stats",
    oracle=f"""
WITH t AS (
  SELECT source, lang, length(text) AS n_chars_txt,
         len(string_split(text, ' ')) AS n_words
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(FLOOR(SUM(n_chars_txt) * 10000.0 / COUNT(*)) AS BIGINT) AS avg_chars_x10k,
       MIN(n_words) AS min_words,
       MAX(n_words) AS max_words
FROM t GROUP BY source
""",
)
def t_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus statistics: one partial-aggregated groupBy —
    the post-filter reporting rollup of a curation pipeline.

    Cross-engine determinism: DuckDB SUM(INTEGER) yields HUGEINT, so the
    oracle casts to BIGINT; the average is integer-quantized (x10k,
    floored) instead of trusting double serialization on both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(words_col(F.col("text")))
    n_chars = F.length("text")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(n_words).alias("total_words"),
        F.floor(F.sum(n_chars) * F.lit(10000.0) / F.count(F.lit(1)))
         .cast("bigint").alias("avg_chars_x10k"),
        F.min(n_words).alias("min_words"),
        F.max(n_words).alias("max_words"),
    )
