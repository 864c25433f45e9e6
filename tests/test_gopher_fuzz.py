"""Differential fuzz for text_gopher_rules against an INDEPENDENT
pure-Python reference implementation.

The planted fixture (test_llm_operators) flips each rule both ways and
the registered oracle pins Spark == DuckDB; this module adds the third
leg: a from-the-docstring Python implementation evaluated over a
seeded random corpus drawn from an adversarial alphabet (whitespace
variants incl. vertical tab, '#', dotted runs, unicode ellipsis,
bullet glyphs, CRLF, accents, emoji). If Spark and DuckDB ever agree
with each other but both drift from the written rule semantics, this
is the test that catches it.

Reference semantics being pinned (llm.py _GOPHER_DOC):
- tokens: trim SPACES only, split on the explicit [ \\t\\n\\r\\f]+
  class, drop empty strings (leading-separator artifact);
- lines: split on \\r?\\n (CRLF must not leave a trailing \\r);
- hash_cnt: '#' occurrences; ell_cnt: non-overlapping '...' count;
- bullet line: trimmed line starts with -, * or •;
- ellipsis line: trimmed line ENDS with '...' or '…' (absolute end);
- alpha word: contains an ASCII letter;
- stop rule: >= 2 distinct stopwords present (lowercased containment);
- every threshold is exact integer arithmetic.
"""

from __future__ import annotations

import random
import re

import pytest

from rabbithole_spark.queries.llm.text import _CORPUS_STOPWORDS, text_gopher_rules

_WS = " \t\n\r\f"


def _py_gopher(text: str, stopwords=_CORPUS_STOPWORDS) -> dict:
    words = [w for w in re.split(f"[{_WS}]+", text.strip(" ")) if w != ""]
    lines = re.split(r"\r?\n", text)
    n_words, n_lines = len(words), len(lines)
    sum_len = sum(len(w) for w in words)
    hash_cnt = text.count("#")
    ell_cnt = text.count("...")
    alpha_words = sum(1 for w in words if re.search("[a-zA-Z]", w))
    bullet_lines = sum(
        1 for li in lines if re.match(r"^[-*•]", li.strip(" "))
    )
    ell_lines = sum(
        1
        for li in lines
        if li.strip(" ").endswith("...") or li.strip(" ").endswith("…")
    )
    lowered = {w.lower() for w in words}
    n_stop = sum(1 for sw in stopwords if sw in lowered)
    r = {
        "n_words": n_words,
        "n_lines": n_lines,
        "mean_word_len": (
            round(sum_len / n_words, 6) if n_words > 0 else None
        ),
        "r_word_count": 50 <= n_words <= 100000,
        "r_mean_len": n_words > 0
        and 3 * n_words <= sum_len <= 10 * n_words,
        "r_symbol_ratio": 10 * (hash_cnt + ell_cnt) <= n_words,
        "r_bullet_lines": 10 * bullet_lines <= 9 * n_lines,
        "r_ellipsis_lines": 10 * ell_lines <= 3 * n_lines,
        "r_alpha_words": 10 * alpha_words >= 8 * n_words,
        "r_stopwords": n_stop >= 2,
    }
    r["keep"] = all(
        r[k]
        for k in (
            "r_word_count",
            "r_mean_len",
            "r_symbol_ratio",
            "r_bullet_lines",
            "r_ellipsis_lines",
            "r_alpha_words",
            "r_stopwords",
        )
    )
    return r


#: adversarial vocabulary: every branch of every rule is reachable
_ATOMS = [
    "the", "a", "The", "A", "THE",
    "spark", "join", "distributed", "query", "engine", "data",
    "x" * 12, "y" * 15,  # long words push mean length
    "123", "456", "!!!", "???",  # non-alpha words
    "#", "##", "#tag", "...", "....", "…", "a...b",
    "- item", "* item", "• item", "-dash", "*star",
    "café", "naïve", "中文", "🙂", "ünïcödé",
]
_SEPS = [" ", "  ", "\t", "\n", "\r\n", "\f", " \n ", "\r\n\r\n", "\x0b"]
# \x0b (vertical tab) is deliberately NOT in the token class: it glues
# atoms into one token on both engines and the Python reference


def _gen_corpus(seed: int, n_docs: int) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    docs = []
    for i in range(n_docs):
        n = rng.choice([0, 1, 3, 12, 45, 55, 80, 150])
        parts = []
        for _ in range(n):
            parts.append(rng.choice(_ATOMS))
            parts.append(rng.choice(_SEPS))
        # edge dressing: leading/trailing separators, lone spaces
        prefix = rng.choice(["", " ", "\t", "\n", "- "])
        suffix = rng.choice(["", " ", "...", "…", "\n", "\r\n"])
        docs.append((i, prefix + "".join(parts) + suffix))
    return docs


@pytest.mark.parametrize("seed", [0xA11CE, 0xB0B, 0xC0FFEE])
def test_gopher_rules_match_python_reference_on_fuzzed_corpus(
    spark, tmp_path, seed
):
    docs = _gen_corpus(seed, 120)
    spark.createDataFrame(
        [(i, t, "en", "fuzz", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r.doc_id: r.asDict()
        for r in text_gopher_rules(spark, str(tmp_path)).collect()
    }
    assert set(got) == {i for i, _ in docs}
    bad = []
    for i, text in docs:
        want = _py_gopher(text)
        have = got[i]
        for k, v in want.items():
            hv = have[k]
            if isinstance(v, float):
                ok = hv is not None and abs(hv - v) < 1e-9
            else:
                ok = hv == v
            if not ok:
                bad.append((i, k, hv, v, repr(text[:60])))
    assert not bad, bad[:5]
