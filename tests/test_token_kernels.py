"""The curation queries' token kernels against a pure-Python reference.

``tokens_col``, ``shingles(k=3)``, ``_window_occurrences(k=5)`` and the
bigram LM's pairs are checked on named edge cases (runs of spaces,
leading and trailing spaces, tabs and newlines inside tokens, fewer
than and exactly k tokens, ``""``, null text, repeated shingles,
non-ASCII text) plus seeded random documents over an alphabet heavy in
those characters.  The reference is the token contract itself: tokens
are the non-empty pieces of splitting ``text`` on single spaces; the LM
pairs up the pieces, empty ones included.
"""

import hashlib
import random
from collections import Counter

import pytest

from scones import textops

EDGE = [
    "a  b c d",  # a run of spaces
    " a b c d",  # leading space
    "a b c d ",  # trailing space
    "   ",  # spaces only
    "x\ty z\nw q r\t s",  # tabs and newlines inside tokens
    "a b",  # fewer than 3 tokens
    "a b c",  # exactly 3 tokens
    "a b c d e",  # exactly 5 tokens
    "  a   b  c   d  e  ",  # 5 tokens among runs of spaces
    "",
    None,
    "a b c a b c a b c a b c d",  # repeated shingles and windows
    "日本 語 テキスト über straße 😀 ü é   x　y z",  # non-ASCII
]
ALPHABET = ["a", "b", "c", " ", " ", " ", "\t", "\n", "é", "語", "😀", " "]


def _random_docs(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    return [
        "".join(rng.choice(ALPHABET) for _ in range(rng.randrange(0, 40)))
        for _ in range(n)
    ]


def _tokens(text):
    return None if text is None else [t for t in text.split(" ") if t]


def _windows(toks, k):
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def _wh(window: str) -> bytes:
    return bytes.fromhex(hashlib.md5(window.encode()).hexdigest()[:16])


@pytest.fixture(scope="module")
def docs(spark):
    texts = EDGE + _random_docs(300, seed=16)
    rows = list(enumerate(texts))
    return dict(rows), spark.createDataFrame(rows, "doc_id long, text string")


def test_tokens_col_matches_reference(docs):
    texts, df = docs
    got = {
        r.doc_id: r.t
        for r in df.select("doc_id", textops.tokens_col().alias("t")).collect()
    }
    assert got == {i: _tokens(t) for i, t in texts.items()}


def test_shingles_match_reference(docs):
    texts, df = docs
    got = {(r.doc_id, r.shingle) for r in textops.shingles(df, k=3).collect()}
    want = {
        (i, s)
        for i, t in texts.items()
        if t is not None
        for s in _windows(_tokens(t), 3)
    }
    assert got == want
    # distinct per doc: a repeated shingle is one row
    assert textops.shingles(df, k=3).count() == len(want)


def test_window_occurrences_match_reference(docs):
    texts, df = docs
    got = sorted(
        (r.doc_id, r.pos, bytes(r.wh))
        for r in textops._window_occurrences(df, 5, "doc_id", "text").collect()
    )
    want = sorted(
        (i, p + 1, _wh(w))
        for i, t in texts.items()
        if t is not None
        for p, w in enumerate(_windows(_tokens(t), 5))
    )
    assert got == want


def test_lm_bigrams_match_reference(docs):
    texts, df = docs
    pairs = {
        i: list(zip(t.split(" "), t.split(" ")[1:]))
        for i, t in texts.items()
        if t is not None
    }
    model = textops.train_lm(df)
    got = {(r.w1, r.w2): r.c_bigram for r in model.bigrams.collect()}
    assert got == Counter(p for ps in pairs.values() for p in ps)
    scored = {r.doc_id: r.n_bigrams for r in textops.lm_perplexity(df).collect()}
    assert scored == {i: len(pairs.get(i, ())) for i in texts}
