"""Deduplication operators for training-data pipelines.

- exact dedup: hash-groupBy on normalized content;
- MinHash + LSH: shingle → per-band salted min-hash signature →
  band-bucket join for candidate pairs → exact-Jaccard verification;
- SimHash: bit-majority signature over token hashes;
- n-gram Jaccard: verified pair similarity within blocking buckets.

Scale design: every family is expressed as explode → shuffle-on-hash
→ per-bucket pair generation, never an O(n²) cross join.  Candidate
generation shuffles on (band, signature) — at 100 TB the bucket key
is the only wide exchange and AQE splits skewed buckets.  MinHash
uses md5 (identical on both engines) so the DuckDB oracle reproduces
signatures bit-for-bit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from ..registry import query
from ..sources.parquet import load_table
from .text import (kgram_rows, kgram_text, kgrams, normalized_text,
                   normalized_words)

N_BANDS = 8
SHINGLE_K = 5  # 5-word shingles: the corpus vocabulary is tiny, so
               # shorter shingles collide constantly and LSH buckets blow up
P_GRID = 4     # fragment-replicate grid width for skewed-bucket self-joins

# Universal-hash band mixing: ONE md5 per shingle (60 bits of it → a
# long), then per-band (a*h + b) mod p with p = 2^31-1.  Round 1
# hashed md5(f"{band}|{shingle}") per band — 8 full md5s of the
# shingle string per shingle row; that was the dominant cost of
# signature building (~60% of d_ngram_jaccard_pairs).  The linear mix
# stays in whole-stage codegen on Spark and plain BIGINT arithmetic in
# DuckDB; (h%p)*a + b peaks below 2^62, so int64 never overflows.
MH_P = (1 << 31) - 1


def _mix_consts(n_bands: int) -> list[tuple[int, int]]:
    """Deterministic per-band (a, b): derived from md5 of the band tag
    host-side and inlined as literals into BOTH engines' plans."""
    import hashlib

    def _h(tag: str) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)

    return [((_h(f"A{b}") % (MH_P - 1)) + 1, _h(f"B{b}") % MH_P)
            for b in range(n_bands)]


def _mix_values_sql(n_bands: int) -> str:
    """The same (band, a, c) constants as a DuckDB VALUES table."""
    rows = ", ".join(f"({i}, {a}, {c})"
                     for i, (a, c) in enumerate(_mix_consts(n_bands)))
    return f"(VALUES {rows}) AS b(band, a, c)"


# DuckDB twin of the Spark-side shingle hash + band mix in minhash_sigs.
_MIX_SIG_LAMBDA = (
    f"s -> ((CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {MH_P})"
    f" * b.a + b.c) % {MH_P}"
)


def grid_self_pairs(sigs: DataFrame, bucket_cols: list[str],
                    id_col: str = "doc_id",
                    carry_cols: tuple[str, ...] = (),
                    dedup: bool = True) -> DataFrame:
    """Distinct candidate (id_a, id_b) pairs within each bucket, with
    fragment-replicate sub-bucketing to bound shuffle-partition width.

    A plain self-join on the bucket key puts an m-row bucket on ONE
    reducer and emits m² join rows there — the skew bomb at 100 TB
    when a degenerate signature (empty docs, boilerplate) collects
    millions of rows.  Here pair (x, y) is matched in exactly one grid
    cell (hash(x)%P, hash(y)%P): the left side carries its own row
    cell and replicates across the P column cells, the right side the
    transpose, and the join key gains (_rx, _ry) — so the hottest
    bucket spreads over P² shuffle cells and each cell joins ~m/P ×
    m/P rows.  Recall is exactly 100%: this changes WHERE a pair is
    produced, never WHETHER (the DuckDB oracles need no mirroring).

    The cost is P× replication of the (tiny) signature rows — the
    classic fragment-replicate skew-join trade.

    `carry_cols` are per-id columns (functionally dependent on the id,
    e.g. the full signature) forwarded through the join as
    `{col}_a`/`{col}_b`, so verification needs no lookup joins.

    `dedup=False` skips the `dropDuplicates` — the duplicate factor
    is the number of shared bucket values per pair, and a caller that
    can decide "is this the pair's FIRST shared bucket?" from carried
    columns alone (e.g. simhash band tables, where the bands are
    slices of the carried signatures) replaces the full-pair-stream
    shuffle+sort with a map-side filter.  The bucket columns are then
    included in the output (equal on both sides, emitted once) so the
    caller can identify which bucket produced each row.  Grid cells
    never duplicate: a pair meets in exactly one (_rx, _ry) cell.
    """
    cells = F.array(*[F.lit(i) for i in range(P_GRID)])
    a = (sigs.withColumn("_rx", F.pmod(F.hash(id_col), F.lit(P_GRID)))
             .withColumn("_ry", F.explode(cells)).alias("a"))
    b = (sigs.withColumn("_ry", F.pmod(F.hash(id_col), F.lit(P_GRID)))
             .withColumn("_rx", F.explode(cells)).alias("b"))
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in bucket_cols + ["_rx", "_ry"]:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    sel = [F.col(f"a.{id_col}").alias("id_a"),
           F.col(f"b.{id_col}").alias("id_b")]
    if not dedup:
        sel += [F.col(f"a.{c}") for c in bucket_cols]
    for c in carry_cols:
        sel += [F.col(f"a.{c}").alias(f"{c}_a"), F.col(f"b.{c}").alias(f"{c}_b")]
    out = a.join(b, cond).select(*sel)
    return out.dropDuplicates(["id_a", "id_b"]) if dedup else out


def shingle_rows_df(d: DataFrame, k: int) -> DataFrame:
    """(doc_id, source, s): one row per k-word shingle of each doc's
    `normalized_words`, duplicates kept — the dedup family's ONE
    shingle source (`kgram_rows` over `kgrams`).

    Never deduplicated here: every consumer dedups at its own grain —
    `sigs_from_md5` takes a min, `sets_from_md5` a collect_set,
    t_source_overlap a (source, s) distinct, the decontamination eval
    sides an `s` distinct, and the train sides that count per-doc
    distinct shingles write their own `.distinct()`.  So rows flow
    from the explode straight into each consumer's map-side partial
    aggregate; tokenization never leaves the scan task."""
    return kgram_rows(d, ["doc_id", "source"],
                      normalized_words(F.col("text")), k, "s")


def _hashed_shingle_sets(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """(doc_id, source, sh) with sh = set of 32-bit shingle hashes.

    Verification jaccard runs array_intersect per candidate pair —
    interpreted, so cost scales with per-element comparison work.
    Each shingle becomes the first 8 md5 hex chars parsed to a LONG:
    long-array intersection beats string arrays on both compare cost
    and shuffle bytes.  The mapping hex→long is a bijection, so
    intersection/union COUNTS (all the oracle checks) are unchanged —
    the DuckDB side keeps the hex-string form.  32-bit collisions
    among ~100 shingles/doc are negligible (and identical on both
    engines either way).
    """
    return hashed_shingle_sets_df(
        load_table(spark, sf_dir, "documents"), k)


def shingle_md5_rows_df(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, source, h): ONE md5 per distinct shingle — the shared
    prefix of both the minhash signatures (15 hex chars) and the
    verification shingle sets (8 hex chars).  A consumer that needs
    both (the streaming incremental index) computes this once,
    persists it, and derives each, instead of re-shingling the corpus
    twice.  Both derivations dedup after hashing, so a string-level
    distinct would add a full shingle-string exchange that buys
    nothing."""
    return (shingle_rows_df(docs, k)
            .withColumn("h", F.md5("s")).drop("s"))


def sets_from_md5(rows: DataFrame) -> DataFrame:
    """(doc_id, source, sh) shingle-hash sets from `shingle_md5_rows_df`."""
    return (rows.withColumn(
                "s32", F.conv(F.substring("h", 1, 8), 16, 10).cast("long"))
            .groupBy("doc_id", "source")
            .agg(F.collect_set("s32").alias("sh")))


def sigs_from_md5(rows: DataFrame, n_bands: int = N_BANDS,
                  with_source: bool = False) -> DataFrame:
    """(doc_id[, source], band, sig) from `shingle_md5_rows_df`."""
    group = ["doc_id", "source"] if with_source else ["doc_id"]
    exploded = rows.select(
        *group,
        (F.conv(F.substring("h", 1, 15), 16, 10).cast("long")
         % MH_P).alias("hm"),
    )
    aggs = [
        F.min((F.col("hm") * a + b) % MH_P).alias(f"b{i}")
        for i, (a, b) in enumerate(_mix_consts(n_bands))
    ]
    wide = exploded.groupBy(*group).agg(*aggs)
    stack = ", ".join(f"{b}, b{b}" for b in range(n_bands))
    return wide.select(
        *group, F.expr(f"stack({n_bands}, {stack}) as (band, sig)")
    )


def hashed_shingle_sets_df(docs: DataFrame, k: int) -> DataFrame:
    return sets_from_md5(shingle_md5_rows_df(docs, k))


def minhash_sigs(spark: SparkSession, sf_dir: str, k: int = SHINGLE_K,
                 n_bands: int = N_BANDS, with_source: bool = False) -> DataFrame:
    return minhash_sigs_df(load_table(spark, sf_dir, "documents"), k=k,
                           n_bands=n_bands, with_source=with_source)


def minhash_sigs_df(docs: DataFrame, k: int = SHINGLE_K,
                    n_bands: int = N_BANDS, with_source: bool = False) -> DataFrame:
    """(doc_id[, source], band, sig) LSH signatures: shingle rows →
    one md5 → per-band universal-hash min (see `_mix_consts`) in a
    partial-aggregated groupBy (map-side combine collapses shingles
    before the exchange — the scale path).  Long sigs also shuffle and
    compare cheaper than the round-1 32-char digest strings."""
    return sigs_from_md5(shingle_md5_rows_df(docs, k), n_bands=n_bands,
                         with_source=with_source)


# --------------------------------------------------------------------------
# Exact dedup — hash groupBy on normalized content
# --------------------------------------------------------------------------

EXACT_DEDUP_ORACLE = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_key,
       COUNT(*)    AS n_copies,
       MIN(doc_id) AS canonical_doc_id
FROM documents
GROUP BY 1
"""


@query("d_exact_dedup", oracle=EXACT_DEDUP_ORACLE)
def d_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: map-side partial-agg on the content
    hash; keep min doc_id as canonical.  One shuffle on a uniform
    128-bit key — the cheapest possible dedup at any scale."""
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(normalized_text(F.col("text")))
    return d.groupBy(key.alias("content_key")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("canonical_doc_id"),
    )


# --------------------------------------------------------------------------
# MinHash signatures — per-band salted 1-perm min-hash
# (Spark-side plan built by `minhash_sigs` above)
# --------------------------------------------------------------------------

_MINHASH_ORACLE_SHINGLES = f"""
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), s AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= {SHINGLE_K}
              THEN list_transform(generate_series(1, len(w) - {SHINGLE_K - 1}),
                                  i -> array_to_string(w[i:i+{SHINGLE_K - 1}], ' '))
              ELSE [] END) AS shingles
  FROM t
)
"""

_MINHASH_ORACLE_SIGS = _MINHASH_ORACLE_SHINGLES + f"""
, sigs AS (
  SELECT doc_id, b.band,
         list_aggregate(
           list_transform(shingles, {_MIX_SIG_LAMBDA}),
           'min') AS sig
  FROM s, {_mix_values_sql(N_BANDS)}
  WHERE len(shingles) > 0
)
"""


@query(
    "d_minhash_signatures",
    oracle=_MINHASH_ORACLE_SIGS + "SELECT doc_id, band, sig FROM sigs",
)
def d_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LSH band signatures (the shuffle key of the dedup
    join)."""
    return minhash_sigs(spark, sf_dir)


# --------------------------------------------------------------------------
# MinHash LSH candidate pairs + exact-Jaccard verification
# --------------------------------------------------------------------------

MINHASH_PAIRS_ORACLE = _MINHASH_ORACLE_SIGS + """
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
), ds AS (
  SELECT doc_id, list_distinct(list_transform(shingles, v -> substr(md5(v), 1, 8))) AS sh FROM s
)
SELECT c.doc_a, c.doc_b,
       CAST(ROUND(
         len(list_filter(x.sh, v -> list_contains(y.sh, v))) * 1.0 /
         NULLIF(len(x.sh) + len(y.sh) - len(list_filter(x.sh, v -> list_contains(y.sh, v))), 0),
         4) AS DOUBLE) AS jaccard
FROM cand c JOIN ds x ON c.doc_a = x.doc_id JOIN ds y ON c.doc_b = y.doc_id
WHERE len(list_filter(x.sh, v -> list_contains(y.sh, v))) * 1.0 /
      NULLIF(len(x.sh) + len(y.sh) - len(list_filter(x.sh, v -> list_contains(y.sh, v))), 0) >= 0.5
"""


@query("d_minhash_lsh_pairs", oracle=MINHASH_PAIRS_ORACLE)
def d_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs: band-bucket join → candidate pairs →
    exact Jaccard on distinct shingle sets, keep >= 0.5.

    Scale notes: the candidate join shuffles on (band, sig, _rx, _ry)
    via `grid_self_pairs` — a degenerate signature bucket spreads over
    P² cells instead of landing m² rows on one reducer, with zero
    recall loss (the oracle is unchanged).  The verify join ships each
    doc's shingle set once per candidate pair, never a cross join.
    inter/union are computed in one projection so the (interpreted)
    array_intersect runs once per pair, and the filter compares
    integers, not a recomputed ratio.
    """
    # The candidate self-join evaluates the shingle→signature subtree
    # on both sides (a/b differ in grid-cell columns, so Spark can't
    # reuse the exchange).  Deliberately NOT persisted: at bench scale
    # the recompute pipelines inside one job and beats the extra
    # materialization jobs (measured both ways); at 100 TB a dedup
    # pipeline writes the signature table between passes anyway.
    sigs = minhash_sigs(spark, sf_dir)
    cand = grid_self_pairs(sigs, ["band", "sig"]).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    shset = _hashed_shingle_sets(spark, sf_dir, SHINGLE_K).drop("source")
    x = shset.alias("x")
    y = shset.alias("y")
    pairs = (
        cand.join(x, cand.doc_a == F.col("x.doc_id"))
        .join(y, cand.doc_b == F.col("y.doc_id"))
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect(F.col("x.sh"), F.col("y.sh"))).alias("inter"),
            (F.size(F.col("x.sh")) + F.size(F.col("y.sh"))).alias("sz_sum"),
        )
        .select(
            "doc_a", "doc_b",
            (F.col("inter") * F.lit(1.0)
             / F.nullif((F.col("sz_sum") - F.col("inter")).cast("long"), F.lit(0))).alias("jac"),
        )
    )
    return pairs.where(F.col("jac") >= 0.5).select(
        "doc_a", "doc_b", F.round("jac", 4).cast("double").alias("jaccard")
    )


# --------------------------------------------------------------------------
# SimHash — 16-bit bit-majority signature (hex-nibble top bit of md5)
# --------------------------------------------------------------------------

@query(
    "d_simhash",
    oracle="""
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
)
SELECT doc_id,
       array_to_string(
         list_transform(generate_series(1, 16),
           i -> CASE WHEN 2 * len(list_filter(w,
                        x -> strpos('89abcdef', substr(md5(x), i, 1)) > 0))
                     > len(w)
                THEN '1' ELSE '0' END),
         '') AS simhash16
FROM t
""",
)
def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash: bit i is the majority of md5(token) hex nibble
    i's top bit across tokens.  Near-dups differ in few bits; bucket
    by signature (or by bit-bands) for candidate generation.

    Same execution shape as `simhash64_sigs` below (see its docstring
    for the measurements): explode(tokens) → ONE md5 per token →
    decode the first 16 hex chars into two ints → 16 bit indicators
    packed into 32-bit lanes of 8 longs → one partial-aggregated
    groupBy — everything whole-stage codegen.  The r9 form was the
    `transform(sequence(1,16), i -> filter(split(...)))` array
    expression that the 64-bit variant's notes call out as ~25×
    slower: interpreted, re-splitting the text and re-hashing every
    token PER BIT (the r10 decade probe clocked it at 36.8 s/sf1,
    map-only; this form reads ~3 s).  32-bit lanes mean no token-
    count cap is needed (overflow would take 2^32 tokens per doc),
    so unlike the 64-bit signature no doc is excluded — matching
    this query's oracle, which has no length guard."""
    d = load_table(spark, sf_dir, "documents")
    # explode_outer, not explode: a NULL-text doc must still emit a
    # signature row.  Its one NULL token hashes to NULL, the packed
    # lane sums stay NULL, and every bit's `2*cnt > n` comparison is
    # NULL -> otherwise('0') — exactly the oracle's NULL semantics
    # (string_split(NULL) -> NULL list -> every CASE arm NULL -> '0'),
    # which emits '0000000000000000' for such docs.  A plain explode
    # dropped the row entirely (ADVICE r10).
    toks = d.select(
        "doc_id",
        F.explode_outer(normalized_words(F.col("text"))).alias("tok"))
    hashed = toks.select("doc_id", F.md5("tok").alias("hh"))
    ints = hashed.select(
        "doc_id",
        F.conv(F.substring("hh", 1, 8), 16, 10).cast("long").alias("c0"),
        F.conv(F.substring("hh", 9, 8), 16, 10).cast("long").alias("c1"))

    def _bit(i: int):
        # 1-based hex char i of the digest; its nibble's top bit.
        chunk, k = ("c0", i - 1) if i <= 8 else ("c1", i - 9)
        return (F.shiftright(F.col(chunk), 4 * (7 - k) + 3)
                .bitwiseAND(F.lit(1)))

    packed_cols = []
    for blk in range(8):
        packed = (_bit(2 * blk + 1).cast("long")
                  + F.shiftleft(_bit(2 * blk + 2).cast("long"), 32))
        packed_cols.append(packed.alias(f"pk{blk}"))
    counts = (ints.select("doc_id", *packed_cols)
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n"),
                   *[F.sum(f"pk{b}").alias(f"p{b}") for b in range(8)]))
    chars = []
    for i in range(1, 17):
        blk, lane = (i - 1) // 2, (i - 1) % 2
        cnt = (F.shiftrightunsigned(F.col(f"p{blk}"), 32 * lane)
               .bitwiseAND(F.lit(0xFFFFFFFF)))
        chars.append(F.when(2 * cnt > F.col("n"), "1").otherwise("0"))
    return counts.select("doc_id", F.concat(*chars).alias("simhash16"))


# --------------------------------------------------------------------------
# n-gram Jaccard — shingle-band LSH candidates within source, exact verify
# --------------------------------------------------------------------------

NGRAM_BANDS = 8
NGRAM_T = 0.25

_NGRAM_ORACLE = f"""
WITH w0 AS (
  SELECT doc_id, source,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), t AS (
  SELECT doc_id, source,
         list_distinct(CASE WHEN len(w) >= 3
              THEN list_transform(generate_series(1, len(w) - 2),
                                  i -> array_to_string(w[i:i+2], ' '))
              ELSE [] END) AS shingles
  FROM w0
), sigs AS (
  SELECT doc_id, source, b.band,
         list_aggregate(
           list_transform(shingles, {_MIX_SIG_LAMBDA}),
           'min') AS sig
  FROM t, {_mix_values_sql(NGRAM_BANDS)}
  WHERE len(shingles) > 0
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b
    ON a.source = b.source AND a.band = b.band AND a.sig = b.sig
   AND a.doc_id < b.doc_id
), ds AS (
  SELECT doc_id, list_distinct(list_transform(shingles, v -> substr(md5(v), 1, 8))) AS sh
  FROM t
)
SELECT c.doc_a, c.doc_b,
       CAST(ROUND(
         len(list_filter(x.sh, v -> list_contains(y.sh, v))) * 1.0 /
         NULLIF(len(x.sh) + len(y.sh) - len(list_filter(x.sh, v -> list_contains(y.sh, v))), 0),
         4) AS DOUBLE) AS jaccard
FROM cand c JOIN ds x ON c.doc_a = x.doc_id JOIN ds y ON c.doc_b = y.doc_id
WHERE len(list_filter(x.sh, v -> list_contains(y.sh, v))) * 1.0 /
      NULLIF(len(x.sh) + len(y.sh) - len(list_filter(x.sh, v -> list_contains(y.sh, v))), 0) >= {NGRAM_T}
"""


@query("d_ngram_jaccard_pairs", oracle=_NGRAM_ORACLE)
def d_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs; candidates from shingle-band LSH
    *within* source, verified by exact Jaccard >= 0.25.

    Round 1 blocked on `source` alone — a fixed-cardinality key (~20
    values), so the pair space grew O(n²/20): quadratic at scale.  The
    candidate key is now (source, band, minhash-sig): its cardinality
    grows with the data, bucket width is bounded by actual near-dup
    density, and the candidate join is grid-sub-bucketed on top
    (`grid_self_pairs`) so even a boilerplate-heavy signature cannot
    concentrate a shuffle partition.  Recall for a pair at Jaccard J
    is 1-(1-J)^8 per the 8 one-perm bands (J=0.25 → 90%, J=0.5 →
    99.6%) — the standard LSH trade, mirrored exactly by the oracle.
    """
    sigs = minhash_sigs(spark, sf_dir, k=3, n_bands=NGRAM_BANDS,
                        with_source=True)
    cand = grid_self_pairs(sigs, ["source", "band", "sig"]).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    shset = _hashed_shingle_sets(spark, sf_dir, k=3).drop("source")
    x, y = shset.alias("x"), shset.alias("y")
    pairs = (
        cand.join(x, cand.doc_a == F.col("x.doc_id"))
        .join(y, cand.doc_b == F.col("y.doc_id"))
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect(F.col("x.sh"), F.col("y.sh"))).alias("inter"),
            (F.size(F.col("x.sh")) + F.size(F.col("y.sh"))).alias("sz_sum"),
        )
        .select(
            "doc_a", "doc_b",
            (F.col("inter") * F.lit(1.0)
             / F.nullif((F.col("sz_sum") - F.col("inter")).cast("long"), F.lit(0))).alias("jac"),
        )
    )
    return pairs.where(F.col("jac") >= NGRAM_T).select(
        "doc_a", "doc_b", F.round("jac", 4).cast("double").alias("jaccard")
    )


# --------------------------------------------------------------------------
# SimHash near-dup pairs — 64-bit signature, 4 x 16-bit band tables
# --------------------------------------------------------------------------

SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_BAND_W = SIMHASH_BITS // SIMHASH_BANDS
SIMHASH_HAMMING_T = 3


def simhash64_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig) with sig the 64-bit signature packed in ONE long.

    Bit j (MSB-first) is the token-majority of one md5 bit: bits 0-31
    read hex nibble top bits of md5(token), bits 32-63 of
    md5('r|' || token) (a second salted hash — md5 only exposes 32
    nibbles).  Packing into a long makes Hamming verification a
    single `bit_count(a ^ b)` codegen op per candidate pair instead
    of 64 interpreted per-char comparisons (measured ~2x end-to-end).

    Built as explode(words) → 64 conditional SUMs + COUNT in ONE
    partial-aggregated groupBy — everything in whole-stage codegen.
    The equivalent `transform(sequence(1,64), i -> ...filter(words))`
    array expression is interpreted AND rescans the token array per
    bit: measured ~25x slower on the round-1 16-bit variant.  The only
    exchange is the hash partition on doc_id, map-side combined.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        F.explode(normalized_words(F.col("text"))).alias("w"),
    ).select(
        "doc_id",
        F.md5("w").alias("h1"),
        F.md5(F.concat(F.lit("r|"), F.col("w"))).alias("h2"),
    )
    # Decode each 32-hex digest into 4 x 32-bit ints once per row;
    # each bit indicator is then a shift+mask on an int — far cheaper
    # than 64 substring+instr string ops per row (measured ~3x on the
    # whole aggregation).  Hex char k of a chunk is its (8-k)'th
    # nibble; the nibble's top bit (`>= 8`) sits at 4*(8-k)+3.
    chunks = []
    for h in ("h1", "h2"):
        for c in range(4):
            chunks.append(
                F.conv(F.substring(F.col(h), 1 + 8 * c, 8), 16, 10)
                 .cast("long").alias(f"{h}_{c}"))
    w = w.select("doc_id", *chunks)

    def _bit(j: int):
        h = "h1" if j < 32 else "h2"
        pos = j if j < 32 else j - 32          # 0-based hex char within digest
        chunk, k = pos // 8, pos % 8           # chunk int, 0-based char in chunk
        shift = 4 * (7 - k) + 3
        return F.shiftright(F.col(f"{h}_{chunk}"), shift).bitwiseAND(F.lit(1))

    # 65 independent SUM buffers push the aggregate out of whole-stage
    # codegen (generated update method too large) — measured ~10s for
    # 1M rows.  Packing 4 counters into 16-bit lanes of one long cuts
    # it to 17 buffers (codegen'd, ~3x faster); lane sums cannot cross
    # lanes while every doc stays under 65,536 tokens (split longer
    # docs upstream — at 2^16 tokens a "document" is a concatenation
    # bug, not data).
    packed_cols = []
    for blk in range(SIMHASH_BITS // 4):
        packed = F.lit(0).cast("long")
        for lane in range(4):
            packed = packed + F.shiftleft(_bit(4 * blk + lane).cast("long"), 16 * lane)
        packed_cols.append(packed.alias(f"pk{blk}"))
    # Pack in a standalone projection: the aggregate then SUMs bare
    # column refs, keeping the 64 shift/mask expressions in the
    # projection stage rather than inside 16 aggregate buffers.
    w = w.select("doc_id", *packed_cols)
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(f"pk{blk}").alias(f"p{blk}") for blk in range(SIMHASH_BITS // 4)]
    # ENFORCE the lane-width contract instead of assuming it: a doc
    # over 65,535 tokens would carry a packed counter into the next
    # lane and silently corrupt its signature (diverging from the
    # oracle, which computes true majorities).  Such docs are excluded
    # here AND in the oracle — at 2^16 tokens a "document" is a
    # concatenation bug; a real pipeline splits it upstream.
    counts = w.groupBy("doc_id").agg(*aggs).where(F.col("n") <= 0xFFFF)
    sig = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        blk, lane = j // 4, j % 4
        cnt = F.shiftrightunsigned(F.col(f"p{blk}"), 16 * lane).bitwiseAND(F.lit(0xFFFF))
        v = 1 << (63 - j)
        if v >= 2 ** 63:
            v -= 2 ** 64  # bit 63 is the long's sign bit
        sig = sig.bitwiseOR(
            F.when(2 * cnt > F.col("n"), F.lit(v).cast("long"))
             .otherwise(F.lit(0).cast("long")))
    return counts.select("doc_id", sig.alias("sig"))


_SIMHASH64_ORACLE_SIGS = """
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), sh AS (
  SELECT doc_id,
       array_to_string(
         list_transform(generate_series(1, 32),
           i -> CASE WHEN 2 * len(list_filter(w,
                        x -> strpos('89abcdef', substr(md5(x), i, 1)) > 0))
                     > len(w)
                THEN '1' ELSE '0' END),
         '') ||
       array_to_string(
         list_transform(generate_series(1, 32),
           i -> CASE WHEN 2 * len(list_filter(w,
                        x -> strpos('89abcdef', substr(md5('r|' || x), i, 1)) > 0))
                     > len(w)
                THEN '1' ELSE '0' END),
         '') AS sig
  FROM t
  WHERE len(w) <= 65535
)
"""


def simhash_band_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig, bkey) band rows — the self-join input of
    `d_simhash_pairs`, shared with its candidate counter
    (`enum_candidates.py`) so the counted work can never drift from
    the executed plan.  Band key: table id in the high bits, the
    table's 16 signature bits in the low — one long, no string
    building."""
    sigs = simhash64_sigs(spark, sf_dir)
    return sigs.select(
        "doc_id", "sig",
        F.explode(F.array(*[
            F.shiftrightunsigned(F.col("sig"), 48 - SIMHASH_BAND_W * t)
             .bitwiseAND(F.lit((1 << SIMHASH_BAND_W) - 1))
             .bitwiseOR(F.lit(t << 60))
            for t in range(SIMHASH_BANDS)
        ])).alias("bkey"),
    )


@query(
    "d_simhash_pairs",
    oracle=_SIMHASH64_ORACLE_SIGS + f"""
, bands AS (
  SELECT doc_id, sig, b.band, substr(sig, 1 + {SIMHASH_BAND_W} * b.band, {SIMHASH_BAND_W}) AS bkey
  FROM sh, (SELECT unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS band) b
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       len(list_filter(generate_series(1, {SIMHASH_BITS}),
           i -> substr(x.sig, i, 1) <> substr(y.sig, i, 1))) AS hamming
FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id
WHERE len(list_filter(generate_series(1, {SIMHASH_BITS}),
          i -> substr(x.sig, i, 1) <> substr(y.sig, i, 1))) <= {SIMHASH_HAMMING_T}
""",
)
def d_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: 64-bit signature, candidates from
    4 x 16-bit band tables, verified by full Hamming distance <= 3.

    Round 1 used a 16-bit signature bucketed on its first 8 bits —
    at most 256 buckets TOTAL, so the pair count grew O(n²/256).  A
    16-bit band over a 64-bit signature has 65,536 values per table
    and bucket population tracks actual near-dup density, not corpus
    size.  Recall is exactly 100% for the advertised threshold: a
    pair at Hamming <= 3 differs in at most 3 of the 4 bands, so by
    pigeonhole at least one band matches — the band tables are a
    lossless candidate filter, unlike probabilistic minhash bands.
    Candidate generation is grid-sub-bucketed (`grid_self_pairs`);
    the interpreted per-bit Hamming scan runs per candidate pair
    only, never per n² pair.
    """
    # Not persisted: the self-join recomputes the signature subtree on
    # both sides inside one pipelined job, which measured faster at
    # bench scale than extra materialization jobs (and a .persist()
    # here would pin cache for the session — the query function can't
    # unpersist after returning its lazy DataFrame).  At 100 TB a
    # dedup pipeline writes the signature table between passes anyway.
    bands = simhash_band_keys(spark, sf_dir)
    # Both sigs ride through the candidate join (`carry_cols`) so
    # verification needs no lookup joins.  dedup=False: a pair whose
    # signatures agree in m bands met the join m times, and the old
    # dropDuplicates deduped that by shuffling + sorting the ENTIRE
    # candidate-pair stream — measured as the repo's only decade-probe
    # spill (19.6 GiB at sf1, where the low-entropy synthetic vocab
    # makes band collisions dense).  First-matching-band wins instead:
    # the pair's bands are slices of the carried sigs, so "is this row
    # the pair's FIRST agreeing band?" is a map-side expression — each
    # pair survives on exactly one band (and exactly one grid cell),
    # no dedup exchange at all.
    cand = grid_self_pairs(bands, ["bkey"], carry_cols=("sig",),
                           dedup=False).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
        F.shiftrightunsigned(F.col("bkey"), 60).cast("int").alias("t"),
        F.col("sig_a").alias("xsig"), F.col("sig_b").alias("ysig"))
    xor = F.col("xsig").bitwiseXOR(F.col("ysig"))

    def _lane(t: int):  # the t-th 16-bit band of the XOR; 0 == bands agree
        return (F.shiftrightunsigned(xor, 48 - SIMHASH_BAND_W * t)
                .bitwiseAND(F.lit((1 << SIMHASH_BAND_W) - 1)))

    first_t = F.when(_lane(0) == 0, 0).when(_lane(1) == 0, 1) \
               .when(_lane(2) == 0, 2).otherwise(3)
    hamming = F.bit_count(xor)
    return (
        cand.where(F.col("t") == first_t)
        .select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
        .where(F.col("hamming") <= SIMHASH_HAMMING_T)
    )


# --------------------------------------------------------------------------
# URL-normalized dedup (the CommonCrawl-style fetch-dedup pass)
# --------------------------------------------------------------------------

# The corpus has no URL column, so a crawl-shaped URL is DERIVED
# deterministically per document (same expression in the oracle):
# host from `source`, page slot from doc_id mod 240 (collisions = the
# same page fetched more than once), and an md5-picked messy variant —
# plain http, uppercased host, trailing slash, or tracking query —
# exactly the noise URL normalization exists to cancel.
_URL_PAGE_MOD = 240

_URL_SQL = """
CASE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS BIGINT) % 4
  WHEN 0 THEN 'https://' || source || '.example.com/doc/' || (doc_id % 240)
  WHEN 1 THEN 'https://' || upper(source) || '.EXAMPLE.COM/doc/' || (doc_id % 240)
  WHEN 2 THEN 'https://' || source || '.example.com/doc/' || (doc_id % 240) || '/'
  ELSE 'http://' || source || '.example.com/doc/' || (doc_id % 240) || '?utm_source=feed&ref=rss'
END
"""


def _url_col() -> Column:
    variant = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2),
                      16, 10).cast("long") % 4)
    host = F.concat(F.col("source"), F.lit(".example.com"))
    page = F.concat(F.lit("/doc/"),
                    (F.col("doc_id") % _URL_PAGE_MOD).cast("string"))
    base = F.concat(F.lit("https://"), host, page)
    return (F.when(variant == 0, base)
             .when(variant == 1, F.concat(F.lit("https://"), F.upper(host),
                                          page))
             .when(variant == 2, F.concat(base, F.lit("/")))
             .otherwise(F.concat(F.lit("http://"), host, page,
                                 F.lit("?utm_source=feed&ref=rss"))))


@query(
    "d_url_dedup",
    oracle=f"""
WITH u AS (
  SELECT doc_id, n_chars, {_URL_SQL} AS url FROM documents
), n AS (
  SELECT doc_id, n_chars,
         lower(regexp_replace(regexp_replace(regexp_replace(url,
               '^http://', 'https://'), '\\?.*$', ''), '/$', '')) AS url_norm
  FROM u
), r AS (
  SELECT url_norm, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY url_norm
                            ORDER BY n_chars DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY url_norm) AS n_dups
  FROM n
)
SELECT url_norm,
       doc_id            AS canonical_doc_id,
       CAST(n_dups AS BIGINT) AS n_dups
FROM r WHERE rk = 1
""",
)
def d_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One canonical document per normalized URL — the fetch-level
    dedup every crawl corpus runs before any content dedup (the same
    page arrives as http/https, cased hosts, trailing slashes, and
    tracking-parameter variants).

    Normalization = scheme unification + query-string strip + trailing
    slash strip + lowercase, all JVM-side `regexp_replace`/`lower`
    (no UDF).  Canonical pick: longest text wins, doc_id tiebreak.
    Scale shape: stateless normalize, then ONE exchange on the
    normalized URL (uniform keys — URL hash has no skew) with a
    window rank; identical motion to `d_exact_dedup`'s hash-groupBy,
    keyed on the normalized URL instead of the content hash."""
    d = load_table(spark, sf_dir, "documents")
    u = d.select("doc_id", "n_chars", _url_col().alias("url"))
    norm = F.lower(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("url"), "^http://", "https://"),
                r"\?.*$", ""),
            "/$", ""))
    n = u.select("doc_id", "n_chars", norm.alias("url_norm"))
    from pyspark.sql import Window as W
    win = W.partitionBy("url_norm")
    r = n.select(
        "url_norm", "doc_id",
        F.row_number().over(win.orderBy(F.col("n_chars").desc(), "doc_id"))
         .alias("rk"),
        F.count(F.lit(1)).over(win).alias("n_dups"),
    )
    return (r.where(F.col("rk") == 1)
            .select("url_norm", F.col("doc_id").alias("canonical_doc_id"),
                    F.col("n_dups").cast("long").alias("n_dups")))


# --------------------------------------------------------------------------
# Winnowing fingerprints (MOSS) — robust local near-dup detection
# --------------------------------------------------------------------------

WINNOW_K = 5      # k-gram width (words)
WINNOW_W = 4      # winnowing window (hashes per window)
WINNOW_MAX_DF = 50   # stop-fingerprint cap: drop h shared by more docs
WINNOW_MIN_SHARED = 2

_WINNOW_ORACLE = f"""
WITH w0 AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(w) >= {WINNOW_K}
              THEN list_transform(generate_series(1, len(w) - {WINNOW_K - 1}),
                     i -> CAST(('0x' || substr(md5(array_to_string(
                            w[i:i+{WINNOW_K - 1}], ' ')), 1, 14)) AS BIGINT))
              ELSE [] END AS hs
  FROM w0
), fps AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(hs) >= {WINNOW_W}
              THEN list_transform(generate_series(1, len(hs) - {WINNOW_W - 1}),
                     i -> list_aggregate(hs[i:i+{WINNOW_W - 1}], 'min'))
              ELSE [] END) AS fp
  FROM g
), fp AS (
  SELECT doc_id, unnest(fp) AS h FROM fps
), live AS (
  SELECT * FROM fp
  QUALIFY COUNT(*) OVER (PARTITION BY h) <= {WINNOW_MAX_DF}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM live a JOIN live b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
"""


def winnow_live_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Df-capped winnowing fingerprint postings (doc_id, h) — the
    self-join input of `d_winnow_fingerprint_pairs`, shared with its
    candidate counter (`enum_candidates.py`) so the counted work can
    never drift from the executed plan.  One row per (doc, distinct
    fingerprint); postings wider than WINNOW_MAX_DF are dropped."""
    d = load_table(spark, sf_dir, "documents")
    k, w = WINNOW_K, WINNOW_W
    doc = d.select("doc_id", normalized_words(F.col("text")).alias("w"))
    hashed = doc.select("doc_id", F.transform(
        kgrams(F.col("w"), k),
        lambda t: F.conv(F.substring(F.md5(kgram_text(t, k)), 1, 14), 16, 10)
                   .cast("bigint")).alias("hs"))
    fp = F.array_distinct(F.transform(
        kgrams(F.col("hs"), w),
        lambda t: F.least(*[t.getField(str(j)) for j in range(w)])))
    posting = hashed.select("doc_id", F.explode(fp).alias("h"))
    return (posting
            .withColumn("_df", F.count(F.lit(1)).over(
                Window.partitionBy("h")))
            .where(F.col("_df") <= WINNOW_MAX_DF).drop("_df"))


@query("d_winnow_fingerprint_pairs", oracle=_WINNOW_ORACLE)
def d_winnow_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS, Schleimer/Wilkerson/Aiken SIGMOD 2003)
    near-dup pairs: hash every {k}-gram, keep the MINIMUM of each
    window of {w} consecutive hashes — the selected fingerprints are
    position-robust (any shared substring of length ≥ k+w−1
    guarantees a shared fingerprint), which is what plain n-gram
    sampling lacks.  Pairs sharing ≥ {t} fingerprints are emitted
    with their overlap count.

    Spark-first shape: the per-doc pipeline (k-grams → hashes →
    window minima → distinct) is ALL JVM-side array expressions — the
    k-grams and the hash windows are both `kgrams`, each mapped by one
    `transform` lambda (md5 of the joined words; `least` of the
    window's hashes) — zero explode until the final fingerprint
    table, so tokenization never shuffles.  The posting join then
    exchanges ONCE on the fingerprint value; a window count caps
    posting-list length at {df} first (stop-fingerprint rule —
    boilerplate grams would otherwise emit O(df²) pairs at 100 TB),
    reusing the same hash partitioning, and the pair rollup is the
    one remaining exchange.
    """
    live = winnow_live_postings(spark, sf_dir)
    a, b = live.alias("a"), live.alias("b")
    return (a.join(b, (F.col("a.h") == F.col("b.h"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .where(F.col("n_shared") >= WINNOW_MIN_SHARED))


d_winnow_fingerprint_pairs.__doc__ = d_winnow_fingerprint_pairs.__doc__.format(
    k=WINNOW_K, w=WINNOW_W, t=WINNOW_MIN_SHARED, df=WINNOW_MAX_DF)


# --------------------------------------------------------------------------
# Edit-distance near-duplicate pairs — bounded Levenshtein with
# length/language blocking (OCR noise, typo variants)
# --------------------------------------------------------------------------

_EDIT_PREFIX = 64   # compare the first 64 chars (normalized)
_EDIT_MAX = 8       # keep pairs with distance <= 8
_SEG_LEN = _EDIT_PREFIX // (_EDIT_MAX + 1)   # 9 segments of 7 chars
_SEG_MAX_DF = 64                             # stop-segment cap

# d_edit_distance_pairs (length-bucket blocked exhaustive variant)
# retired in round 10 (VERDICT r9 item 3): its (lang, length-bucket)
# blocking key had FIXED cardinality, so candidate pairs grew
# quadratically with the corpus — the full-registry decade probe
# measured x58 wall for x10 data even after the r9 constant-factor
# fixes.  Its contract is covered from both sides by the successors:
# `d_edit_segment_pairs` (aligned-segment blocking, substitution-noise
# family) and `d_edit_shift_pairs` below (shifted-substring PassJoin
# matching, which ALSO catches the indel-heavy pairs the aligned
# variant documents missing — strictly more recall than the retired
# query, at data-cardinality-bounded candidate cost).

_SHIFT_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang,
         substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                1, {_EDIT_PREFIX}) AS p
  FROM documents
), segs AS (
  SELECT doc_id, lang, i, substr(p, 1 + {_SEG_LEN} * i, {_SEG_LEN}) AS s, p
  FROM d, range({_EDIT_MAX + 1}) t(i)
  WHERE substr(p, 1 + {_SEG_LEN} * i, {_SEG_LEN}) <> ''
), live AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY lang, i, s) AS df FROM segs)
  WHERE df <= {_SEG_MAX_DF}
), subs AS (
  SELECT DISTINCT doc_id, lang, i,
         substr(p, 1 + {_SEG_LEN} * i + dlt, {_SEG_LEN}) AS s, p
  FROM d, range({_EDIT_MAX + 1}) t(i),
       range(-{_EDIT_MAX}, {_EDIT_MAX + 1}) u(dlt)
  WHERE dlt >= -least({_SEG_LEN} * i, {_EDIT_MAX})
    AND substr(p, 1 + {_SEG_LEN} * i + dlt, {_SEG_LEN}) <> ''
), cand AS (
  SELECT DISTINCT
    least(a.doc_id, b.doc_id) AS doc_a,
    greatest(a.doc_id, b.doc_id) AS doc_b,
    CASE WHEN a.doc_id < b.doc_id THEN a.p ELSE b.p END AS pa,
    CASE WHEN a.doc_id < b.doc_id THEN b.p ELSE a.p END AS pb
  FROM live a JOIN subs b
    ON a.lang = b.lang AND a.i = b.i AND a.s = b.s
   AND a.doc_id <> b.doc_id
)
SELECT doc_a, doc_b, CAST(levenshtein(pa, pb) AS BIGINT) AS edit_dist
FROM cand WHERE levenshtein(pa, pb) <= {_EDIT_MAX}
"""


def edit_prefix_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, p) normalized {pre}-char prefixes — the shared
    root of both edit-pair queries and their candidate counters
    (`enum_candidates.py`)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang",
        F.substring(normalized_text(F.col("text")), 1, _EDIT_PREFIX)
        .alias("p"))


def edit_aligned_live(base: DataFrame) -> DataFrame:
    """Df-capped aligned segments (doc_id, lang, p, i, s) — the
    posting side of both edit-pair self-joins.  At most one row per
    (doc, i): a doc has one segment per aligned position."""
    segs = (base.select(
        "doc_id", "lang", "p",
        F.posexplode(F.expr(
            f"transform(sequence(0, {_EDIT_MAX}), "
            f"i -> substring(p, 1 + {_SEG_LEN} * int(i), {_SEG_LEN}))"
        )).alias("i", "s"))
        .where(F.col("s") != ""))
    return (segs.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("lang", "i", "s")))
        .where(F.col("_df") <= _SEG_MAX_DF).drop("_df"))


def edit_shift_substrings(base: DataFrame) -> DataFrame:
    """Shifted-substring side of `d_edit_shift_pairs`: admissible
    shifts dlt of each segment start, -min(SEG_LEN*i, k) <= dlt <= +k;
    duplicates within one position collapse JVM-side (array_distinct)
    before the explode, so at most one row per (doc, i, s)."""
    return (base.select(
        "doc_id", "lang", "p",
        F.posexplode(F.expr(
            f"transform(sequence(0, {_EDIT_MAX}), i -> array_distinct("
            f"  filter(transform("
            f"    sequence(-least({_SEG_LEN} * int(i), {_EDIT_MAX}),"
            f"             {_EDIT_MAX}),"
            f"    dlt -> substring(p, 1 + {_SEG_LEN} * int(i) + int(dlt),"
            f"                     {_SEG_LEN})),"
            f"  s -> s <> '')))"
        )).alias("i", "arr"))
        .select("doc_id", "lang", "p", "i",
                F.explode("arr").alias("s")))


edit_prefix_base.__doc__ = edit_prefix_base.__doc__.format(pre=_EDIT_PREFIX)


@query("d_edit_shift_pairs", oracle=_SHIFT_ORACLE)
def d_edit_shift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL pairs within bounded edit distance on the normalized
    {pre}-char prefix, via shifted-substring PassJoin matching — the
    round-10 swap-in that retires the quadratic length-bucket blocker
    (ref semantics family: OCR noise / typo variants; see the retired
    block comment above).

    Pigeonhole, now with indels: partition pa into {segs} aligned
    segments of {sl} chars; {k} edits touch at most {k} of them, so
    at least one segment survives UNTOUCHED and appears in pb
    verbatim, shifted by the net indel balance of the edits before it
    — at most +{k} (insertions) and at least -min({sl}*i, {k})
    (deletions cannot remove more characters than precede position
    {sl}*i).  So the SEGMENT side emits each doc's {segs} aligned
    segments, the SUBSTRING side emits each doc's substrings at every
    admissible shift of every segment position (<= ~{segs}*(2*{k}+1)
    per doc, `array_distinct`-ed per position), and an equi-join on
    (lang, position, text) meets EVERY true pair — 100% recall
    against an exhaustive bounded-levenshtein scan, with the single
    documented exception that a pair whose every untouched segment is
    stop-capped is dropped.

    The stop-segment cap (df <= {df} per (lang, i, s) aligned-posting
    key, the winnowing MAX_DF precedent) is also what bounds the
    work: per-key candidates are df_seg * df_sub <= {df} * df_sub,
    so total candidates <= {df} * |substring postings| — LINEAR in
    the corpus, against the retired blocker's quadratic growth.  Keys
    are data-cardinality bounded (segment text space grows with the
    corpus), so density never concentrates on a fixed key set.

    Compared to `d_edit_segment_pairs` (aligned x aligned): that
    variant is the cheaper corpus-scale default for substitution
    noise; this one additionally catches indel-heavy pairs (aligned
    positions shift) and near-dups whose FULL lengths differ by more
    than a length bucket — both documented misses of the retired
    query or the aligned variant.  Plan: one exchange on the
    (lang, i, s) key family for the df-cap window + equi-join,
    `distinct()` on normalized pair ids, then one threshold-banded
    JVM `levenshtein` per surviving candidate.  No Python anywhere.
    """
    base = edit_prefix_base(spark, sf_dir)
    live = edit_aligned_live(base)
    subs = edit_shift_substrings(base)
    a_lt = F.col("a.doc_id") < F.col("b.doc_id")
    cand = (live.alias("a")
            .join(subs.alias("b"),
                  (F.col("a.lang") == F.col("b.lang"))
                  & (F.col("a.i") == F.col("b.i"))
                  & (F.col("a.s") == F.col("b.s"))
                  & (F.col("a.doc_id") != F.col("b.doc_id")))
            .select(F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                    F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
                    F.when(a_lt, F.col("a.p")).otherwise(F.col("b.p"))
                    .alias("pa"),
                    F.when(a_lt, F.col("b.p")).otherwise(F.col("a.p"))
                    .alias("pb"))
            .distinct())
    return (cand.select(
        "doc_a", "doc_b",
        F.levenshtein(F.col("pa"), F.col("pb"), _EDIT_MAX)
        .cast("long").alias("edit_dist"))
        .where(F.col("edit_dist") >= 0))  # threshold form: -1 = above


d_edit_shift_pairs.__doc__ = d_edit_shift_pairs.__doc__.format(
    pre=_EDIT_PREFIX, segs=_EDIT_MAX + 1, sl=_SEG_LEN, k=_EDIT_MAX,
    df=_SEG_MAX_DF)


# --------------------------------------------------------------------------
# Aligned-segment (PassJoin-style) edit-distance pairs — the
# corpus-scale blocking for the same bounded-Levenshtein contract
# --------------------------------------------------------------------------

_SEG_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang,
         substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                1, {_EDIT_PREFIX}) AS p
  FROM documents
), segs AS (
  SELECT doc_id, lang, i, substr(p, 1 + {_SEG_LEN} * i, {_SEG_LEN}) AS s, p
  FROM d, range({_EDIT_MAX + 1}) t(i)
  WHERE substr(p, 1 + {_SEG_LEN} * i, {_SEG_LEN}) <> ''
), live AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY lang, i, s) AS df FROM segs)
  WHERE df <= {_SEG_MAX_DF}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, b.p AS pb
  FROM live a JOIN live b
    ON a.lang = b.lang AND a.i = b.i AND a.s = b.s AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(levenshtein(pa, pb) AS BIGINT) AS edit_dist
FROM cand WHERE levenshtein(pa, pb) <= {_EDIT_MAX}
"""


@query("d_edit_segment_pairs", oracle=_SEG_ORACLE)
def d_edit_segment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded edit-distance pairs via ALIGNED-SEGMENT blocking — the
    100 TB path for `d_edit_distance_pairs`' distance contract.

    Pigeonhole (PassJoin-lite): split the normalized {pre}-char prefix
    into {segs} aligned segments of {sl} chars; {k} substitutions can
    touch at most {k} segments, so two prefixes within distance {k}
    under substitution noise (OCR, typos — the family this operator
    hunts) share at least one segment EXACTLY, at the SAME position.
    Blocking key (lang, segment_idx, segment_text) is therefore
    data-cardinality bounded — the key space grows with the corpus
    (~|alphabet|^{sl} texts), unlike the length-bucket blocker whose
    fixed key count makes block density (and candidate pairs) grow
    quadratically.  A stop-segment rule caps posting lists at
    {df} (the winnowing MAX_DF precedent): boilerplate segments that
    half the corpus shares are dropped rather than allowed to emit
    df² candidates; a pair survives if ANY of its shared segments
    stays under the cap.

    Documented recall deltas vs the exhaustive variant: (1) INDELS
    shift every later segment, so indel-heavy variants are caught
    only if an aligned segment survives upstream of the shift;
    (2) pairs whose every shared segment is stop-capped are dropped.
    Measured at sf1 (synthetic corpus, 50k docs): 29/29 of the
    exhaustive query's pairs found, candidates 30M → 1.7M (~18×), and
    the tiny 31-word vocabulary makes this corpus the ADVERSARIAL
    case for segment keys — natural text spreads far thinner.

    Plan: one exchange on the (lang, i, s) key family for the window
    df-cap and the self-join (the equi-join reuses the window's hash
    partitioning), `distinct()` on the candidate ids (a pair sharing
    m segments meets m times), then the threshold-banded
    `levenshtein` projection.  No Python anywhere.
    """
    live = edit_aligned_live(edit_prefix_base(spark, sf_dir))
    cand = (live.alias("a")
            .join(live.alias("r"),
                  (F.col("a.lang") == F.col("r.lang"))
                  & (F.col("a.i") == F.col("r.i"))
                  & (F.col("a.s") == F.col("r.s"))
                  & (F.col("a.doc_id") < F.col("r.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("r.doc_id").alias("doc_b"),
                    F.col("a.p").alias("pa"), F.col("r.p").alias("pb"))
            .distinct())
    return (cand.select(
        "doc_a", "doc_b",
        F.levenshtein(F.col("pa"), F.col("pb"), _EDIT_MAX)
        .cast("long").alias("edit_dist"))
        .where(F.col("edit_dist") >= 0))


d_edit_segment_pairs.__doc__ = d_edit_segment_pairs.__doc__.format(
    pre=_EDIT_PREFIX, segs=_EDIT_MAX + 1, sl=_SEG_LEN, k=_EDIT_MAX,
    df=_SEG_MAX_DF)
