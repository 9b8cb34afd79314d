"""`kgrams` — the one sliding-window builder behind every shingle and
n-gram — against a pure-Python reference, `[w[i:i+k] for i in
range(len(w)-k+1)]`, in both forms its consumers use: exploded into
rows (`kgram_rows`, `shingle_rows_df`) and mapped per element
(`transform(kgrams(w, k), kgram_text)`).  The edge arrays are the ones
a split can hand it: NULL, empty, shorter than k, exactly k, an empty
word from a double space, and unicode.  An off-by-one copy of the
builder must fail the same comparisons, so they can see a slip."""

from __future__ import annotations

import re
from collections import Counter

import pyspark.sql.functions as F

from old_original_java_little_horse_spark.functions import text as text_mod
from old_original_java_little_horse_spark.functions.dedup import shingle_rows_df

KS = (2, 3, 5)
_WORDS = ["héllo", "wörld", "中文", "テスト", "ñiño", "x"]
ARRAYS = (
    [None, [], "a  b c".split(" "), "two  spaces  here x".split(" ")]
    + [_WORDS[:n] for n in range(1, len(_WORDS) + 1)]  # < k, == k, > k
)
DOCS = [  # (doc_id, source, text)
    (0, "s0", None), (1, "s0", ""), (2, "s0", "   "), (3, "s0", "word"),
    (4, "s0", "one two"), (5, "s1", "one two three four five"),
    (6, "s1", "a\t b\n\nc   d\te f"),
    (7, "s1", "Héllo Wörld ñiño 中文 テスト"),
    (8, "s1", "the the the the the the"), (9, "s1", "  x  Y z  "),
]


def _ref(w, k):
    if w is None:
        return None
    return [" ".join(w[i:i + k]) for i in range(len(w) - k + 1)]


def _kgrams_short(arr, k):
    """A copy of `kgrams` with the slice length off by one."""
    n = F.greatest(F.size(arr) - F.lit(k), F.lit(0))
    return F.arrays_zip(*[F.slice(arr, j + 1, n) for j in range(k)])


def _mismatches(spark, build) -> list:
    """(k, form, row id, got, want) for every disagreement of `build`
    (a `kgrams` implementation) with the reference."""
    df = spark.createDataFrame([(i, w) for i, w in enumerate(ARRAYS)],
                               "id int, w array<string>")
    out = []
    for k in KS:
        per_row = {r["id"]: r["g"] for r in df.select(
            "id", F.transform(build(F.col("w"), k),
                              lambda t: text_mod.kgram_text(t, k)).alias("g")
        ).collect()}
        exploded = Counter(
            (r["id"], r["g"]) for r in df.select(
                "id", F.explode(build(F.col("w"), k)).alias("t")
            ).select("id", text_mod.kgram_text(F.col("t"), k).alias("g"))
            .collect())
        want_rows = Counter((i, g) for i, w in enumerate(ARRAYS)
                            for g in (_ref(w, k) or []))
        for i, w in enumerate(ARRAYS):
            if per_row[i] != _ref(w, k):
                out.append((k, "transform", i, per_row[i], _ref(w, k)))
        if exploded != want_rows:
            out.append((k, "explode", None, exploded - want_rows,
                        want_rows - exploded))
    return out


def _shingle_mismatches(spark) -> list:
    docs = spark.createDataFrame(
        DOCS, "doc_id long, source string, text string")
    out = []
    for k in KS:
        got = Counter(tuple(r) for r in shingle_rows_df(docs, k).collect())
        want = Counter()
        for doc_id, source, t in DOCS:
            if t is not None:
                w = re.sub(r"\s+", " ", t.lower()).strip().split(" ")
                want.update((doc_id, source, s) for s in _ref(w, k))
        if got != want:
            out.append((k, got - want, want - got))
    return out


def test_kgrams_match_reference(spark):
    assert _mismatches(spark, text_mod.kgrams) == []


def test_shingle_rows_match_reference(spark):
    assert _shingle_mismatches(spark) == []


def test_off_by_one_kgrams_are_caught(spark, monkeypatch):
    assert _mismatches(spark, _kgrams_short)
    monkeypatch.setattr(text_mod, "kgrams", _kgrams_short)
    assert _shingle_mismatches(spark)
