"""Text analytics for training-data curation: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

Everything is JVM built-ins (split/regexp/array ops under codegen) —
these run at scan speed and are the filters you put *before* expensive
stages in a 100 TB curation pipeline.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "token_count",
    "word_windows",
    "bpe_ish_token_count",
    "punct_ratio",
    "stopword_ratio",
    "quality_score",
    "lang_scores",
    "fingerprint",
    "chunk_words",
    "scrub_pii",
    "STOPWORDS",
]

#: Tiny per-language stopword lists for the n-gram/stopword heuristic.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es"],
    "de": ["der", "die", "das", "und", "zu", "in", "ist", "ein"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "est"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不"],
}


#: THE whitespace class (explicit, not \s: Java \s adds \x0b over
#: RE2's [ \t\n\f\r], so DuckDB '\s+' oracles would diverge on a
#: vertical tab). The one definition for every Spark-side tokenizer
#: and whitespace replace in the package (tokens, word_windows,
#: fingerprint) — tests/test_whitespace_class.py fails on any other
#: string literal that holds it.
_WS_CLASS = r"[ \t\n\r\f]+"

#: The same class for the winnowing kernel's Python-side
#: canonicalization: Python \s is Unicode-aware and includes \v, so
#: only the explicit class keeps kernel and oracle equal for ARBITRARY
#: input (pinned by the differential hypothesis test), with Unicode
#: case-folding exotica (lower() on e.g. 'İ') the only remaining
#: documented boundary.
_WS_RUN = re.compile(_WS_CLASS)


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the cheap default).

    Empty-boundary quirk, shared by the DuckDB oracles so it is the
    CONTRACT, not a bug to fix one-sided: split keeps boundary
    empties, so empty/whitespace-only text counts 1 token and
    tab/newline padding adds phantom boundary tokens (F.trim strips
    spaces only). bpe_ish_token_count filters empties; flipping
    tokens() to match would change ~10 oracle expressions in lockstep
    — documented here instead (round-9 review)."""
    return F.split(F.trim(text), _WS_CLASS)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def word_windows(words: Column, k: int) -> Column:
    """Sliding ``k``-word windows of a token array, each joined by one
    space, in position order. An array shorter than ``k`` words yields
    its one short window; a caller that wants none (a bigram count
    over a one-word document) guards on ``F.size(words)``."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(words) - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, k)))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored proxy: count word pieces after splitting on
    whitespace and punctuation boundaries — a deterministic stand-in
    for a real tokenizer's token count (RE2-safe pattern, no lookahead,
    so the same regex runs in the DuckDB oracle)."""
    pieces = F.split(
        F.trim(text), _WS_CLASS[:-2] + r"\.,;:!\?\(\)\[\]\{\}\"']+"
    )
    return F.size(F.filter(pieces, lambda p: p != ""))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation.

    The denominator is ``greatest(length, 1)`` so an empty document
    scores 0.0 instead of NULL (Spark) / NaN (DuckDB double 0/0) — the
    two engines disagree on 0/0, so guarding both sides identically is
    what keeps quality_score oracle-stable on length-0 rows."""
    punct = F.length(F.regexp_replace(text, r"[^\.,;:!\?'\"]", ""))
    return punct.cast("double") / F.greatest(
        F.length(text), F.lit(1)
    ).cast("double")


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Fraction of tokens that are (lang) stopwords."""
    toks = tokens(F.lower(text))
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS[lang]))
    )
    return hits.cast("double") / F.size(toks).cast("double")


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation
    + some stopwords — the classic cheap pre-filter."""
    n = F.length(text)
    length_ok = (n >= 50) & (n <= 10000)
    punct_ok = punct_ratio(text) < 0.1
    stop_ok = stopword_ratio(text) > 0.01
    return (
        length_ok.cast("double") * 0.4
        + punct_ok.cast("double") * 0.3
        + stop_ok.cast("double") * 0.3
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts (distinct tokens)."""
    toks = F.array_distinct(tokens(F.lower(text)))
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in STOPWORDS.items()
    }


def fingerprint(text: Column) -> Column:
    """Canonical-form content fingerprint: lowercase, collapse
    whitespace, strip punctuation, md5. Survives trivial reformatting —
    the first-stage near-dup key."""
    canonical = F.lower(
        F.regexp_replace(
            F.regexp_replace(text, r"[\.,;:!\?'\"]", ""), _WS_CLASS, " "
        )
    )
    return F.md5(F.trim(canonical))


def chunk_words(text: Column, chunk_size: int, overlap: int = 0) -> Column:
    """Split a document into word chunks of ``chunk_size`` with
    ``overlap`` words shared between consecutive chunks — the context-
    window chunking step of an embedding/training pipeline, built from
    sequence + slice + concat_ws entirely inside codegen.

    Chunk i covers words [i*step, i*step + chunk_size), step =
    chunk_size - overlap; the last chunk may be short; a document
    shorter than one chunk yields exactly one chunk.
    """
    if chunk_size <= 0:
        raise ValueError("chunk_size must be positive")
    if not 0 <= overlap < chunk_size:
        # a NEGATIVE overlap would silently skip words between chunks
        # (step > chunk_size) — content loss, not an option (round-9)
        raise ValueError("overlap must be in [0, chunk_size)")
    step = chunk_size - overlap
    words = tokens(text)
    n = F.size(words)
    n_chunks = F.when(n <= chunk_size, F.lit(1)).otherwise(
        1 + F.floor((n - chunk_size + step - 1) / F.lit(step)).cast("int")
    )
    idx = F.sequence(F.lit(0), n_chunks - 1)
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i * step + 1, chunk_size))
    )


#: RE2-safe PII patterns (run identically in Spark/Java and DuckDB).
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"[0-9]{4,}", "<NUM>"),
]


def scrub_pii(text: Column) -> Column:
    """Redact email addresses and long digit runs — the deterministic
    regex tier of PII scrubbing (an NER model tier would follow as a
    pandas-UDF stage on the rows this tier flags)."""
    out = text
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def winnow_fingerprints(
    df,
    text_col: str = "text",
    keep: tuple[str, ...] = ("doc_id",),
    k: int = 8,
    w: int = 4,
    base: int = 257,
    mod: int = 1_000_000_007,
):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003): hash every ``k``-char gram of the canonicalized text
    with a polynomial rolling hash mod a prime, then keep the minimum
    hash of each window of ``w`` consecutive grams. The selected set is
    position-robust — any shared substring of length >= k + w - 1
    guarantees a shared fingerprint — which is what makes it the
    standard plagiarism/near-dup *localization* primitive (MinHash says
    "these docs overlap"; winnowing says "at these spots").

    Returns ``keep`` columns + an ``fps`` array<bigint> column.

    Implementation is a vectorized Arrow pandas UDF, NOT column HOFs,
    on measurement: Spark's HigherOrderFunction family (transform /
    aggregate) is CodegenFallback, so the nested hash-then-window
    pipeline evaluates interpreted at ~6 ms/doc (189 s for 20 docs
    one-expression; ~250 ms/doc staged) — the numpy kernel does the
    same arithmetic in 8 vectorized ops per doc. The kernel is
    row-local (scalar UDF, no grouping), so the operator stays
    ZERO-shuffle and embarrassingly parallel at any scale; Arrow
    batches bound the Python-boundary cost.

    Engine-portable by construction: canonicalization is
    lower -> collapse \\s+ -> trim, the hash is
    (acc*257 + codepoint) % 1e9+7 in int64 (every intermediate
    < 2^63), so a DuckDB oracle replays the selection exactly
    (unlike xxhash64-based MinHash, which is rows-only for that
    reason). Docs shorter than ``k`` canonical chars yield an empty
    set; with fewer than ``w`` grams the single window covers all
    grams.
    """
    import numpy as np
    import pandas as pd  # deferred like numpy: the module itself must
    # import without pandas (catalog.load_all pulls this file in for
    # every query, UDF or not)

    def _winnow_kernel(texts):
        out = []
        for t in texts:
            canon = _WS_RUN.sub(" ", (t or "").lower()).strip(" ")
            n = len(canon) - k + 1
            if n < 1:
                out.append([])
                continue
            codes = np.fromiter(map(ord, canon), dtype=np.int64, count=len(canon))
            h = np.zeros(n, dtype=np.int64)
            for o in range(k):
                h = (h * base + codes[o : o + n]) % mod
            if n >= w:
                mins = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
            else:
                mins = h.min(keepdims=True)
            out.append(np.unique(mins).tolist())
        return pd.Series(out)

    # real-type annotations set AFTER definition: the module uses
    # `from __future__ import annotations`, so inline hints would be
    # strings that pandas_udf resolves against module globals (where
    # pandas deliberately is not imported)
    _winnow_kernel.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    _winnow = F.pandas_udf("array<long>")(_winnow_kernel)

    return df.select(*keep, _winnow(F.col(text_col)).alias("fps"))
