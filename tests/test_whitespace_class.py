"""Whitespace-class regression pins (round 6).

Java's ``\\s`` is ``[ \\t\\n\\x0b\\f\\r]`` while RE2/DuckDB's is
``[ \\t\\n\\f\\r]`` — a vertical tab (\\x0b) tokenizes differently, so
any Spark-side ``\\s`` regex against a DuckDB ``\\s`` oracle is a
latent hash mismatch. Round 5 aligned most tokenization to the
explicit ``[ \\t\\n\\r\\f]+`` class but missed four sites
(tfidf/bm25/repetition/curation — VERDICT r5 "What's wrong" #2).
These tests (a) grep the package so the Java class can't reappear in
Spark-side raw strings, and (b) drive the four previously-missed
REGISTERED queries end to end against their DuckDB oracles on a
corpus where the two definitions disagree.
"""

from __future__ import annotations

import math
import pathlib
import re

import duckdb
import pytest

from rabbithole_spark.catalog import load_all

_PKG = pathlib.Path(__file__).resolve().parents[1] / "rabbithole_spark"

def _single_line_literals(source: str):
    """Yield (lineno, literal_source, content) for every string literal
    that is not triple-quoted (triple-quoted strings are oracle SQL
    blocks: the DuckDB side of the contract, exempt by design).

    Tokenizes real Python, so a pattern mid-literal is seen too.
    ``content`` is the evaluated string; f-strings cannot be evaluated
    statically, so theirs is the raw body text.
    """
    import ast
    import io
    import tokenize

    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type != tokenize.STRING:
            continue
        lit = tok.string
        body = lit.lstrip("rRbBuUfF")
        if body.startswith(('"""', "'''")):
            continue  # oracle SQL block
        if "f" in lit[: len(lit) - len(body)].lower():
            content = body.strip("\"'")
        else:
            try:
                content = ast.literal_eval(lit)
            except Exception:
                content = body.strip("\"'")
        if isinstance(content, str):
            yield tok.start[0], lit, content


def _flagged_string_literals(source: str):
    """Yield (lineno, literal_source) for every single-line string
    literal whose content carries a ``\\s`` regex escape that is not
    inside an embedded SQL single-quoted literal: a ``'`` before the
    ``\\s`` marks a fragment like
    ``"...string_split_regex(text, '\\\\s+')..."``, where DuckDB's RE2
    ``\\s`` is the correct class.
    """
    for lineno, lit, content in _single_line_literals(source):
        idx = content.find("\\s")
        if idx >= 0 and "'" not in content[:idx]:
            yield lineno, lit


def test_no_java_whitespace_class_in_spark_side_regexes():
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        for lineno, lit in _flagged_string_literals(path.read_text()):
            offenders.append(f"{path}:{lineno}: {lit[:80]}")
    assert not offenders, (
        "Java \\s regex (includes \\x0b, diverges from RE2/DuckDB) found "
        "in Spark-side string literals — use the explicit [ \\t\\n\\r\\f]+ "
        "class (operators/text_analysis.tokens):\n" + "\n".join(offenders)
    )


_WS_MEMBERS = {" ", "\\t", "\\n", "\\r", "\\f"}


def _holds_whitespace_class(content: str) -> bool:
    """True when ``content`` holds the bracket class of exactly the
    five tokenizer whitespace characters, in any order and under any
    number of escape layers: a raw regex (``[ \\t...]``), real control
    characters, or the doubled backslashes of a SQL string inside an
    f-string all count."""
    norm = re.sub(r"\\+", r"\\", content)
    for char, esc in (("\t", "\\t"), ("\n", "\\n"), ("\r", "\\r"), ("\f", "\\f")):
        norm = norm.replace(char, esc)
    return any(
        set(re.findall(r"\\[tnrf]| ", m.group(1))) == _WS_MEMBERS
        for m in re.finditer(r"\[((?:\\[tnrf]| )+)\]", norm)
    )


def test_whitespace_class_is_defined_once():
    """The tokenization contract has one Spark-side owner:
    ``text_analysis._WS_CLASS``. Any other non-triple-quoted literal
    holding the class is a copy that a later edit can put out of step
    with the tokenizer (``tokens``, ``word_windows``, ``fingerprint``
    and every query built on them)."""
    owner = _PKG / "operators" / "text_analysis.py"
    hits = [
        (path, lineno, lit)
        for path in sorted(_PKG.rglob("*.py"))
        for lineno, lit, content in _single_line_literals(path.read_text())
        if _holds_whitespace_class(content)
    ]
    owner_lines = owner.read_text().splitlines()
    copies = [
        f"{path}:{lineno}: {lit[:80]}"
        for path, lineno, lit in hits
        if not (path == owner and owner_lines[lineno - 1].startswith("_WS_CLASS = "))
    ]
    assert len(hits) - len(copies) == 1, "text_analysis._WS_CLASS not found"
    assert not copies, (
        "whitespace class written out again; use text_analysis.tokens "
        "(or _WS_CLASS) instead:\n" + "\n".join(copies)
    )


#: Texts where Java-\s and RE2-\s tokenize DIFFERENTLY: vertical tabs
#: glue tokens under the explicit class ("a\x0bb" is ONE token) but
#: split them under Java \s. Repeated words + quality-band spread so
#: repetition/curation branches all activate.
_ADVERSARIAL_DOCS = [
    # (doc_id, text, lang, source)
    (1, "spark join vector spark join vector spark", "en", "web"),
    (2, "spark\x0bjoin\x0bvector glued by vertical tabs", "en", "web"),
    (3, "the the the the the the the the the the", "en", "forum"),
    (4, "mixed \t tabs\nnewlines\r\fand formfeeds here", "en", "books"),
    (5, "\x0b\x0b leading glue\x0btoken and spark join", "en", "books"),
    (6, "a genuinely varied sentence about distributed query engines", "en", "wiki"),
    (7, "vector vector spark spark join join done ok", "es", "wiki"),
    (8, "", "en", "forum"),
    (9, "   ", "en", "forum"),
    (10, "spark\x0b spark\x0b spark\x0b spark repeated glue", "en", "web"),
    # unicode probes (round 6): multi-byte hashing (md5/xxh64 over
    # UTF-8), case folding (lower over accented/uppercase), and the
    # non-ASCII whitespace-lookalikes (nbsp  , ideographic space
    # 　) that are NOT whitespace to either engine's class — all
    # 50 queries matched their oracles on this corpus when pinned
    (11, "中文文本 没有空格的长句子 分词 测试 中文文本", "zh", "wiki"),
    (12, "emoji 🙂 and 🚀🚀 rockets 🙂 repeated emoji 🙂", "en", "web"),
    (13, "nbsp separated tokens plus ideographic　space", "en", "web"),
    (14, "combining é accents and café naïve ﬁ ligature", "fr", "books"),
    (15, "ÀàÉéÎîÕõÜü MiXeD cAsE ünïcödé CASE folding test", "de", "forum"),
    # punctuation-class probe (round 9): the fingerprint canonical form
    # strips the DOUBLE QUOTE too — the oracle class silently omitted
    # it ('he said "hi"' fingerprinted differently per engine) while
    # the punct_ratio twin always had it; these two must fingerprint
    # EQUAL (same text modulo quotes/punct) on both engines
    (16, 'he said "hi there" and left! ok?', "en", "web"),
    (17, "he said hi there and left ok", "en", "web"),
    # NULL probes (round 6): NULL text must never cluster as duplicate
    # content, count toward corpus stats the oracle derives from the
    # tokenized relation, or flip conditional counts to NULL — the
    # probe that found 11 divergences (NOTES round-6 session log)
    (98, None, "en", "web"),
    (99, None, None, None),
]

_QUERIES = [
    "text_tfidf_top_terms",
    "text_bm25_ranking",
    "text_repetition_filter",
    "pipeline_curation_full",
    # round-6 tokenizer: top-20 bigram PMI (the repeated-word docs give
    # it >= 5-count bigrams even on this tiny corpus)
    "text_collocation_pmi",
]


def _rows_key(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c] if not isinstance(r, tuple) else r[cols.index(c)]
            if isinstance(v, float):
                v = math.nan if v != v else round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


#: Every oracle-backed query that reads ONLY the documents table (so it
#: can run on the crafted corpus). Swept at round 6: all 50 MATCH their
#: oracles on the vertical-tab corpus. The list is pinned so a renamed/
#: removed query fails loudly instead of silently shrinking coverage;
#: new documents-only queries should be added here.
_DOCUMENTS_ONLY_QUERIES = [
    "contamination_ngram_overlap",
    "contamination_winnow_overlap",
    "corpus_snapshot_diff",
    "curriculum_phase_stats",
    "dedup_canonical_survivors",
    "dedup_components",
    "dedup_duplicate_ngram_spans",
    "dedup_exact_documents",
    "dedup_fingerprint",
    "dedup_incremental_new_docs",
    "dedup_jaccard_prefix_filter",
    "dedup_minhash_incremental",
    "dedup_minhash_lsh",
    "dedup_repeated_span_coverage",
    "dedup_minhash_recall_audit",
    "dedup_simhash",
    # round-9 census: these four documents-only queries were missing
    # from the sweep (stream_ingest_dedup_against_corpus is also
    # documents-only but needs the streaming harness, not this one)
    "stats_mad_outliers",
    "text_ngram_novelty",
    "text_vocab_oov_rate",
    "mixture_dsir_importance",
    "mixture_js_divergence_by_source",
    "mixture_resample_by_lang",
    "mixture_temperature_weights",
    "mixture_token_budget",
    "multimodal_binary_stats",
    "multimodal_feature_extract",
    "multimodal_frame_sample",
    "multimodal_resize_pipeline",
    "pack_length_buckets",
    "pack_padding_efficiency",
    "pack_sequences_by_source",
    "pii_redaction",
    "pipeline_clean_corpus",
    "pipeline_curation_full",
    "sample_fixed_k_per_source",
    "sample_quality_weighted",
    "sample_stratified_by_lang",
    "sample_uniform_documents",
    # round-10 registrations (built r9): both documents-only
    "sample_weighted_no_replacement",
    "text_gopher_rules",
    "scalar_array_funcs",
    "shard_shuffle_assignment",
    "source_overlap_matrix",
    "source_quality_rollup",
    "split_train_val_test",
    "text_bm25_ranking",
    "text_chunk_documents",
    "text_collocation_pmi",
    "text_lang_id",
    "text_lm_cross_entropy",
    "text_pii_scrub",
    "text_quality_classifier",
    "text_quality_stats",
    "text_readability_scores",
    "text_remove_boilerplate",
    "text_repetition_filter",
    "text_segment_dedup_rate",
    "text_tfidf_top_terms",
    "text_token_counts",
    "text_top_ngrams",
    "text_vocab_coverage_curve",
    "text_winnow_fingerprints",
]


def test_all_documents_only_queries_match_oracle_on_adversarial_corpus(
    spark, tmp_path
):
    """Registry-wide tokenizer/canonicalization conformance: EVERY
    oracle-backed query that runs on documents alone must match its
    DuckDB oracle on the crafted corpus where Java-\\s and RE2-\\s
    disagree (vertical tabs), plus empty/whitespace-only/duplicate
    texts. One loop, one corpus — a new tokenization divergence
    anywhere in the registry fails here before the driver sees it."""
    df = spark.createDataFrame(
        [
            (i, t, lang, src, len(t) if t is not None else None)
            for i, t, lang, src in _ADVERSARIAL_DOCS
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    tbl = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(tbl)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tbl}/*.parquet'")

    specs = load_all()
    missing = [n for n in _DOCUMENTS_ONLY_QUERIES if n not in specs]
    assert not missing, f"pinned queries no longer registered: {missing}"
    bad = []
    for name in _DOCUMENTS_ONLY_QUERIES:
        spec = specs[name]
        got_df = spec.fn(spark, str(tmp_path))
        cols = sorted(got_df.columns)
        got = _rows_key([r.asDict() for r in got_df.collect()], cols)
        cur = con.execute(spec.oracle)
        ocols = [d[0] for d in cur.description]
        want = _rows_key(
            [dict(zip(ocols, r)) for r in cur.fetchall()], cols
        )
        if sorted(ocols) != cols or got != want:
            bad.append(name)
    assert not bad, f"adversarial-corpus mismatches: {bad}"


@pytest.mark.parametrize("qname", _QUERIES)
def test_tokenizing_query_matches_oracle_on_vertical_tab_corpus(
    spark, tmp_path, qname
):
    df = spark.createDataFrame(
        [
            (i, t, lang, src, len(t) if t is not None else None)
            for i, t, lang, src in _ADVERSARIAL_DOCS
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    tbl = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(tbl)

    spec = load_all()[qname]
    got_df = spec.fn(spark, str(tmp_path))
    cols = sorted(got_df.columns)
    got = _rows_key(
        [r.asDict() for r in got_df.collect()], cols
    )

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tbl}/*.parquet'")
    cur = con.execute(spec.oracle)
    ocols = [d[0] for d in cur.description]
    fetched = cur.fetchall()
    want = _rows_key(
        [dict(zip(ocols, r)) for r in fetched], cols
    )
    assert sorted(ocols) == cols, (ocols, cols)
    assert got == want, f"{qname}: spark={got}\noracle={want}"


def test_fingerprint_strips_double_quotes_both_engines(spark, tmp_path):
    """Round-9 review: fingerprint() strips '\"' but the oracle class
    silently omitted it — docs 16/17 (same text modulo punctuation,
    incl. double quotes) must collapse to ONE canonical fingerprint,
    and the oracle must agree. Pinned explicitly so removing the quote
    from BOTH sides (parity-green but semantically regressed) still
    fails here."""
    df = spark.createDataFrame(
        [
            (i, t, lang, src, len(t) if t is not None else None)
            for i, t, lang, src in _ADVERSARIAL_DOCS
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    tbl = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(tbl)
    spec = load_all()["dedup_fingerprint"]
    fps = {r.doc_id: r.fp for r in spec.fn(spark, str(tmp_path)).collect()}
    assert fps[16] == fps[17], "double quote must not survive into the fp"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tbl}/*.parquet'")
    want = {r[0]: r[1] for r in con.execute(spec.oracle).fetchall()}
    assert want[16] == want[17]
    assert fps[16] == want[16]
