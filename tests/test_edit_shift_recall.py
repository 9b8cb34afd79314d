"""d_edit_shift_pairs recall guarantee: against an exhaustive
driver-side bounded-Levenshtein scan, the shifted-substring PassJoin
blocking must find EVERY pair (pigeonhole: <=8 edits over 9 aligned
segments leave one segment untouched, matching verbatim at a shift
within the admissible window) and nothing extra (the final
levenshtein filter is exact).  The retired quadratic
`d_edit_distance_pairs` had only partial recall here — its
|Δlength-bucket| <= 1 blocking on FULL doc length could miss pairs
whose prefixes are close but lengths differ; the swap-in must not.

Corpora are sized so no (lang, i, s) stop-segment posting exceeds
_SEG_MAX_DF=64 — the cap is the one documented recall exception and
is pinned separately below.
"""

from __future__ import annotations

import random
import re

import pytest

from old_original_java_little_horse_spark.functions.dedup import (
    _EDIT_MAX,
    _EDIT_PREFIX,
    _SEG_MAX_DF,
    d_edit_shift_pairs,
)

from .conftest import SF_SMOKE


def _normalize(text: str) -> str:
    # mirror functions.text.normalized_text + the 64-char prefix
    return re.sub(r"\s+", " ", text.lower()).strip()[:_EDIT_PREFIX]


def _levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _exhaustive_pairs(docs: list[tuple[int, str, str]]) -> set[tuple]:
    out = set()
    for x in range(len(docs)):
        for y in range(x + 1, len(docs)):
            ia, ta, la = docs[x]
            ib, tb, lb = docs[y]
            if la != lb:
                continue
            dist = _levenshtein(_normalize(ta), _normalize(tb))
            if dist <= _EDIT_MAX:
                a, b = sorted((ia, ib))
                out.add((a, b, dist))
    return out


def _corpus_dir(spark, docs, tmp_path):
    """documents.parquet holding `docs`, other tables from SF_SMOKE."""
    import shutil
    from pathlib import Path

    from old_original_java_little_horse_spark.sources.parquet import TABLES

    for t in TABLES:
        src = Path(SF_SMOKE) / f"{t}.parquet"
        if t != "documents" and src.exists():
            shutil.copy(src, tmp_path / f"{t}.parquet")
    df = spark.createDataFrame(
        [(i, txt, lang, "s0", len(txt)) for i, txt, lang in docs],
        schema="doc_id long, text string, lang string, source string,"
               " n_chars long")
    df.toPandas().to_parquet(tmp_path / "documents.parquet")
    return str(tmp_path)


def _spark_pairs(spark, sf_dir) -> set[tuple]:
    return {(r["doc_a"], r["doc_b"], r["edit_dist"])
            for r in d_edit_shift_pairs(spark, sf_dir).collect()}


ALPHA = "abcdefghij klmnopqrst"


def _mutate(rng: random.Random, s: str, n_edits: int) -> str:
    chars = list(s)
    for _ in range(n_edits):
        op = rng.choice(("sub", "ins", "del"))
        if op == "sub" and chars:
            i = rng.randrange(len(chars))
            chars[i] = rng.choice(ALPHA)
        elif op == "ins":
            i = rng.randrange(len(chars) + 1)
            chars.insert(i, rng.choice(ALPHA))
        elif chars:
            del chars[rng.randrange(len(chars))]
    return "".join(chars)


def test_shift_pairs_match_exhaustive_on_random_edit_corpus(
        spark, tmp_path):
    """Randomized (fixed-seed) end-to-end equality with the exhaustive
    scan: clusters of docs derived by 0-10 random edits (subs AND
    indels — indels are exactly what aligned-segment blocking drops),
    plus unrelated docs.  Every pair within distance 8 must surface
    with the exact distance; nothing else may."""
    rng = random.Random(42)
    docs: list[tuple[int, str, str]] = []
    doc_id = 0
    for c in range(6):
        base = "".join(rng.choice(ALPHA) for _ in range(80))
        for _ in range(4):
            lang = "en" if c % 2 == 0 else "de"
            docs.append((doc_id, _mutate(rng, base, rng.randrange(11)),
                         lang))
            doc_id += 1
    for _ in range(8):  # unrelated background docs
        docs.append((doc_id,
                     "".join(rng.choice(ALPHA) for _ in range(70)), "en"))
        doc_id += 1

    expected = _exhaustive_pairs(docs)
    assert expected, "seed must plant at least one true pair"
    sf_dir = _corpus_dir(spark, docs, tmp_path)
    assert _spark_pairs(spark, sf_dir) == expected


def test_shift_pairs_catch_front_indels_segment_blocking_misses(
        spark, tmp_path):
    """The contract the swap-in adds over d_edit_segment_pairs: chars
    INSERTED AT THE FRONT shift every aligned segment, so aligned x
    aligned matching loses the pair while shifted-substring matching
    keeps it (the untouched segments match at shift +3)."""
    from old_original_java_little_horse_spark.functions.dedup import (
        d_edit_segment_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog today"  # 50 ch
    docs = [(0, base, "en"), (1, "zq " + base, "en")]
    # both fit the 64-char prefix, so the distance is exactly the
    # 3 front insertions — no truncation interplay
    dist = _levenshtein(_normalize(base), _normalize("zq " + base))
    assert dist == 3
    sf_dir = _corpus_dir(spark, docs, tmp_path)
    assert _spark_pairs(spark, sf_dir) == {(0, 1, 3)}
    seg = {(r["doc_a"], r["doc_b"])
           for r in d_edit_segment_pairs(spark, sf_dir).collect()}
    assert (0, 1) not in seg  # documented aligned-variant miss


def test_shift_pairs_stop_cap_drops_boilerplate_only(spark, tmp_path):
    """The one documented recall exception: a pair whose EVERY shared
    segment posting exceeds _SEG_MAX_DF is dropped.  70 identical
    docs (> 64) saturate every aligned posting -> no pairs; the same
    corpus with population 60 (< cap) yields all C(60,2) pairs."""
    text = "exact duplicate boilerplate line that repeats in every doc"
    for n, want_pairs in ((_SEG_MAX_DF + 6, 0),
                          (_SEG_MAX_DF - 4, (_SEG_MAX_DF - 4)
                           * (_SEG_MAX_DF - 5) // 2)):
        d = tmp_path / f"n{n}"
        d.mkdir()
        docs = [(i, text, "en") for i in range(n)]
        sf_dir = _corpus_dir(spark, docs, d)
        got = _spark_pairs(spark, sf_dir)
        assert len(got) == want_pairs, (n, len(got))


@pytest.mark.parametrize("delta", [-8, -3, 3, 8])
def test_shift_pairs_survive_max_window_shifts(spark, tmp_path, delta):
    """Edits pinned at the extreme admissible shifts: |delta| = k = 8
    front indels still leave untouched segments matching inside the
    [-min(7i,8), +8] window, so the pair must survive."""
    # 47 chars: even +8 front insertions stay inside the 64-char
    # prefix, so truncation never adds edits on top of the shift
    base = "abcdefg hijklmn opqrstu vwxyzab cdefghi jklmnop"
    if delta > 0:
        other = "z" * delta + base          # insertions at the front
    else:
        other = base[-delta:]               # deletions from the front
    dist = _levenshtein(_normalize(base), _normalize(other))
    assert dist == abs(delta)
    docs = [(0, base, "en"), (1, other, "en")]
    d = tmp_path / f"d{delta}"
    d.mkdir()
    sf_dir = _corpus_dir(spark, docs, d)
    assert _spark_pairs(spark, sf_dir) == {(0, 1, dist)}
