"""Exact substring-level deduplication — the Lee et al. 2021 ExactSubstr
dedup ("Deduplicating Training Data Makes Language Models Better"),
re-expressed Spark-first without a global suffix array.

The paper removes every substring of >= L tokens that occurs more than once
in the corpus.  The suffix-array construction it uses is a single-machine
algorithm; the distributed equivalent rests on a window identity:

    token j lies in some repeated substring of length >= L
        <=>  some L-token window containing j occurs >= min_count times
             in the corpus (over all (doc, position) occurrences).

(=>: a repeated substring of length m >= L containing j contains a repeated
L-window containing j.  <=: a repeated L-window IS a repeated substring of
length L.)  So the covered-token set — exactly what ExactSubstr scrubs — is
computable with two narrow shuffles and no pairwise comparison:

    1. per doc, hash every L-token window  (Arrow kernel, one pass)
    2. groupBy(window_key).count()         (map-side combined, 8-byte keys)
    3. join window occurrences to the duplicated keys -> covered positions
    4. groupBy(doc).collect_list(pos)      (bounded by doc token count)
    5. rebuild each doc dropping covered tokens (Arrow kernel)

100 TB scale judgment: window rows are (id, pos, key) — fixed-width, one
per token — so stage 2 is a linear map-side-combined count, the canonical
shape for corpus-frequency jobs; stage 3's duplicated-key side is a small
fraction of the corpus (AQE converts the join to broadcast when it fits);
nothing is ever quadratic.  The shuffled volume (~16 B/token) is the floor
for any exact global duplicate count.

Hash modes mirror functions/dedup.py: ``hash_fn="poly"`` is the
cross-engine-portable mode (two independent 31-bit polynomial folds over
per-token polynomial char hashes, combined into one 62-bit key) that the
DuckDB oracle recomputes bit-identically — collisions, if any, reproduce
identically on both sides, so the oracle check is exact.  ``xxhash64`` is
the throughput default (single JVM intrinsic per window, no Python in the
window pass).

False positives: both modes take window-key equality as window equality,
unverified.  With N distinct L-token windows and a b-bit key, about
N^2 / 2^(b+1) window pairs collide.  For xxhash64 (b = 64) that is ~0.03
pairs at N = 10^9 and ~2.7 million at N = 10^13 (~100 TB of text), i.e.
~5e-7 of the windows, each collision scrubbing up to 2L tokens of text
that only shares a key; the 62-bit poly key collides 4x as often.  Where
that loss matters, verify the duplicated keys against the raw window
strings (a join over the duplicated keys only) or widen the key to 128
bits.

Output is the cleaned TOKEN sequence (single-space joined): this operator
normalizes away punctuation/casing like every token-level op in this
package (reference scope: Bifrost has no analogue; this is part of the
beyond-reference training-data surface).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from bifrost_spark.functions.cache import register_cache
from bifrost_spark.functions.dedup import _MERSENNE, _tokens_ascii
from bifrost_spark.functions.spread import spread_for_compute

# window-fold bases for the two independent key halves (mod _MERSENNE)
_B1 = 1_000_003
_B2 = 92_821
_TOKEN_RE = re.compile(r"[^a-z0-9]+")


def _toks_py(text) -> list[str]:
    """Python twin of dedup._tokens_ascii — identical on ASCII corpora."""
    if text is None:
        return []
    return [t for t in _TOKEN_RE.split(text.lower()) if t]


def _char_poly_batch(tokens: list[str]):
    """Per-token polynomial char hash, vectorized over a whole batch:
    h = fold(acc*31 + ord(c)) mod M == sum(ord(c_j) * 31^(len-1-j)) mod M
    (Horner-by-powers + reduceat, same trick as dedup._minhash_poly_arrow;
    terms < 2^38, per-token sums < 2^48 for tokens up to 1k chars — exact
    in int64)."""
    import numpy as np

    M = np.int64(_MERSENNE)
    if not tokens:
        return np.empty(0, dtype=np.int64)
    lens = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=len(tokens))
    buf = np.frombuffer("".join(tokens).encode(), dtype=np.uint8).astype(np.int64)
    starts = np.zeros(len(tokens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    tok_of = np.repeat(np.arange(len(tokens), dtype=np.int64), lens)
    off = np.arange(buf.shape[0], dtype=np.int64) - starts[tok_of]
    exp = lens[tok_of] - 1 - off
    maxlen = int(lens.max())
    pow31 = np.empty(maxlen, dtype=np.int64)
    p = 1
    for i in range(maxlen):
        pow31[i] = p
        p = (p * 31) % _MERSENNE
    terms = (buf * pow31[exp]) % M
    return np.add.reduceat(terms, starts) % M


def _window_keys_poly(min_tokens: int):
    """pandas_udf: text -> array<long> of combined 62-bit window keys, one
    per window start position (empty when the doc has < min_tokens)."""
    L = min_tokens

    @pandas_udf("array<long>")
    def kern(texts):
        import numpy as np
        import pandas as pd

        M = np.int64(_MERSENNE)
        toks_per_doc = [_toks_py(t) for t in texts]
        flat = [t for toks in toks_per_doc for t in toks]
        th_all = _char_poly_batch(flat)
        out = []
        i = 0
        for toks in toks_per_doc:
            n = len(toks)
            th = th_all[i:i + n]
            i += n
            if n < L:
                out.append(np.empty(0, dtype=np.int64))
                continue
            w = n - L + 1
            k1 = np.zeros(w, dtype=np.int64)
            k2 = np.zeros(w, dtype=np.int64)
            for t in range(L):  # L vector passes; acc*B < 2^51, exact
                seg = th[t:t + w]
                k1 = (k1 * _B1 + seg) % M
                k2 = (k2 * _B2 + seg) % M
            out.append(k1 * np.int64(1 << 31) + k2)
        return pd.Series(out)

    return kern


def _window_keys_xx(text_col: Column, min_tokens: int) -> Column:
    """Expression twin for the xxhash64 throughput mode: window key = JVM
    xxhash64 over the space-joined window — no Python in the window pass.

    Tokenizer MUST be ``_tokens_ascii``, not the Unicode ``_tokens``: the
    scrub kernel retokenizes with the Python ASCII twin (``_toks_py``), and
    window START POSITIONS are token indices — a Unicode window pass over a
    non-ASCII doc would yield indices into a different token sequence and
    silently scrub the wrong tokens."""
    L = min_tokens
    toks = _tokens_ascii(text_col)
    idx = F.when(
        F.size(toks) >= L,
        F.sequence(F.lit(0), F.size(toks) - L),
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, L))))


def _scrub_kernel(min_tokens: int):
    """pandas_udf: (text, covered window starts) -> cleaned doc + stats.
    Retokenizes with the SAME tokenizer as the window pass, drops every
    token covered by a duplicated window, restitches with single spaces."""
    L = min_tokens

    @pandas_udf(
        "struct<clean_text: string, n_tokens: long, n_removed: long, n_spans: long>"
    )
    def kern(texts, starts):
        import numpy as np
        import pandas as pd

        clean, n_tok, n_rem, n_sp = [], [], [], []
        for text, st in zip(texts, starts):
            toks = _toks_py(text)
            n = len(toks)
            mask = np.zeros(n, dtype=bool)
            if st is not None:
                for s in st:
                    mask[int(s):int(s) + L] = True
            removed = int(mask.sum())
            spans = int((mask & ~np.concatenate(([False], mask[:-1]))).sum())
            clean.append(" ".join(t for t, m in zip(toks, mask) if not m))
            n_tok.append(n)
            n_rem.append(removed)
            n_sp.append(spans)
        return pd.DataFrame(
            {"clean_text": clean, "n_tokens": n_tok, "n_removed": n_rem, "n_spans": n_sp}
        )

    return kern


# the doc-id key of the internal (id, pos, key) rows: a reserved name, so the
# join back to ``docs`` stays unambiguous whatever ``id_col`` is called
_COV_ID = "__cov_id"


def exact_substring_scrub(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 10,
    min_count: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Scrub every repeated substring of >= ``min_tokens`` tokens occurring
    >= ``min_count`` times in the corpus (within- and cross-document).

    Returns one row per input doc:
    (id_col, clean_text, n_tokens, n_removed, n_spans) where n_spans is the
    number of maximal removed runs.  See module docstring for semantics,
    scale shape, and hash modes.
    """
    docs = spread_for_compute(docs)
    if hash_fn == "poly":
        kern = _window_keys_poly(min_tokens)
        keyed = docs.select(F.col(id_col).alias(_COV_ID), kern(F.col(text_col)).alias("wk"))
    else:
        keyed = docs.select(
            F.col(id_col).alias(_COV_ID),
            _window_keys_xx(F.col(text_col), min_tokens).alias("wk"),
        )
    # narrow (id, pos, key) rows — consumed twice (global count + cover
    # join); callers release via functions.cache.release_caches.
    # posexplode_OUTER + null-filter, not plain posexplode: Catalyst guards
    # a non-outer Generate with an inferred size(wk)>0 pre-filter that
    # re-evaluates the kernel, doubling the window pass (plan-audited).
    wins = register_cache(
        keyed.select(_COV_ID, F.posexplode_outer("wk").alias("pos", "key"))
        .filter(F.col("key").isNotNull())
    )
    dup = (
        wins.groupBy("key").count()
        .filter(F.col("count") >= min_count)
        .select("key")
    )
    covered = wins.join(dup, "key").select(_COV_ID, "pos")
    starts = covered.groupBy(_COV_ID).agg(F.collect_list("pos").alias("starts"))
    scrub = _scrub_kernel(min_tokens)
    out = (
        docs.join(starts, docs[id_col] == starts[_COV_ID], "left")
        .select(F.col(id_col), scrub(F.col(text_col), F.col("starts")).alias("r"))
        .select(
            id_col,
            F.col("r.clean_text").alias("clean_text"),
            F.col("r.n_tokens").alias("n_tokens"),
            F.col("r.n_removed").alias("n_removed"),
            F.col("r.n_spans").alias("n_spans"),
        )
    )
    return out
