"""Exact substring-level dedup (functions/substring.py) vs a sequential
brute-force reference implementing the paper semantics directly: count
every L-token window (as the literal token tuple — no hashing), mark tokens
covered by any window occurring >= min_count times, drop them."""

from __future__ import annotations

import random
import re

import pytest

from bifrost_spark.functions.substring import _toks_py, exact_substring_scrub

L = 5


def ref_scrub(texts: list[str | None], min_tokens: int = L, min_count: int = 2):
    toks = [_toks_py(t) for t in texts]
    counts: dict[tuple, int] = {}
    for tk in toks:
        for i in range(max(len(tk) - min_tokens + 1, 0)):
            w = tuple(tk[i:i + min_tokens])
            counts[w] = counts.get(w, 0) + 1
    out = []
    for tk in toks:
        mask = [False] * len(tk)
        for i in range(max(len(tk) - min_tokens + 1, 0)):
            if counts[tuple(tk[i:i + min_tokens])] >= min_count:
                for j in range(i, i + min_tokens):
                    mask[j] = True
        clean = " ".join(t for t, m in zip(tk, mask) if not m)
        removed = sum(mask)
        spans = sum(1 for j, m in enumerate(mask) if m and (j == 0 or not mask[j - 1]))
        out.append((clean, len(tk), removed, spans))
    return out


CRAFTED = [
    # docs 0 & 1 share a 7-token span (covers 7 tokens each at L=5);
    # doc 2 repeats a 6-token span INTERNALLY; doc 3 is clean; doc 4 is
    # shorter than L; doc 5 is empty; doc 6 punctuation-only.
    "alpha beta gamma delta epsilon zeta eta unique0 tail0 end0",
    "head1 alpha beta gamma delta epsilon zeta eta tail1 end1",
    "one two three four five six filler one two three four five six",
    "totally distinct words nothing repeated here at all folks",
    "tiny doc",
    "",
    "!!! ??? ...",
]


def _run(spark, texts, hash_fn, min_tokens=L):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = exact_substring_scrub(
        df, min_tokens=min_tokens, hash_fn=hash_fn
    ).collect()
    return {r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"], r["n_spans"])
            for r in rows}


@pytest.mark.parametrize("hash_fn", ["poly", "xxhash64"])
def test_crafted_corpus(spark, hash_fn):
    got = _run(spark, CRAFTED, hash_fn)
    want = ref_scrub(CRAFTED)
    assert len(got) == len(CRAFTED)
    for i, w in enumerate(want):
        assert got[i] == w, f"doc {i}: {got[i]} != {w}"
    # sanity on the interesting rows: the shared span was scrubbed ...
    assert got[0][2] >= 7 and got[1][2] >= 7
    # ... the internal repeat too, and the clean/short/empty docs untouched
    assert got[2][2] > 0
    assert got[3] == ("totally distinct words nothing repeated here at all folks", 9, 0, 0)
    assert got[4] == ("tiny doc", 2, 0, 0)
    assert got[5] == ("", 0, 0, 0)
    assert got[6] == ("", 0, 0, 0)


@pytest.mark.parametrize("hash_fn", ["poly", "xxhash64"])
def test_random_corpus_parity(spark, hash_fn):
    """Small-vocab random docs force organic window repeats; engine must
    equal the hash-free sequential reference exactly (both modes)."""
    rng = random.Random(7)
    vocab = [f"w{k}" for k in range(12)]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40)))
             for _ in range(60)]
    # splice a literal long repeat across two docs
    span = " ".join(rng.choice(vocab) for _ in range(9))
    texts[3] += " " + span
    texts[17] = span + " " + texts[17]
    got = _run(spark, texts, hash_fn)
    want = ref_scrub(texts)
    for i, w in enumerate(want):
        assert got[i] == w, f"doc {i}: {got[i]} != {w}"
    assert sum(w[2] for w in want) > 0  # the corpus actually had repeats


def test_min_count_threshold(spark):
    """min_count=3: a span shared by only two docs survives."""
    texts = ["a b c d e f g x1", "y1 a b c d e f g", "z1 z2 z3 z4 z5 z6"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = exact_substring_scrub(df, min_tokens=5, min_count=3).collect()
    assert all(r["n_removed"] == 0 for r in rows)


def test_tokenizer_twin_matches_engine_tokens():
    """_toks_py must match dedup._tokens_ascii semantics on ASCII."""
    s = "Hello, WORLD!! 42 foo_bar baz-qux  "
    assert _toks_py(s) == [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]
    assert _toks_py(None) == []


def test_non_ascii_positions_align(spark):
    """Regression: the xx window pass must tokenize exactly like the scrub
    kernel's Python twin.  Non-ASCII chars shift token indices under a
    Unicode tokenizer ("café" = 1 token) vs the ASCII twin ("caf","e" —
    with é dropped), so a Unicode window pass would emit start positions
    into the wrong token sequence and scrub the wrong tokens."""
    shared = "alpha beta gamma delta epsilon zeta eta"
    texts = [
        f"café déjà naïve {shared} coda0",           # non-ASCII prefix shifts indices
        f"intro1 {shared} œuf garçon",
        "unrelated wörds häre nothing répeated at all today folks",
    ]
    expected = ref_scrub(texts)
    for hash_fn in ("poly", "xxhash64"):
        got = _run(spark, texts, hash_fn)
        for i, exp in enumerate(expected):
            assert got[i] == exp, (hash_fn, i, got[i], exp)


def test_id_col_named_id(spark):
    """A corpus whose id column is literally ``id`` scrubs exactly like one
    keyed by ``doc_id`` (the internal starts key no longer shadows it)."""
    texts = ["a b c d e f g x1", "y1 a b c d e f g", "z1 z2 z3 z4 z5 z6"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = {r["id"]: (r["clean_text"], r["n_removed"])
           for r in exact_substring_scrub(df, id_col="id", min_tokens=5).collect()}
    want = ref_scrub(texts, min_tokens=5)
    assert got == {i: (w[0], w[2]) for i, w in enumerate(want)}
    assert got[0][1] > 0
