"""Text analysis queries: quality (Gopher/C4/CCNet), readability,
lang-ID, tokens/n-grams, TF-IDF/BM25/PMI, LM cross-entropy, fingerprints.
"""

from __future__ import annotations

from pyspark.sql import (
    DataFrame,
    SparkSession,
)
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType
from rabbithole_spark.catalog import register
from rabbithole_spark.operators.dedup import (
    spread,
    word_shingles,
)
from rabbithole_spark.operators.text_analysis import (
    STOPWORDS,
    winnow_fingerprints,
    bpe_ish_token_count,
    chunk_words,
    lang_scores,
    punct_ratio,
    quality_score,
    scrub_pii,
    stopword_ratio,
    token_count,
    tokens,
    word_windows,
)
from rabbithole_spark.session import table
from rabbithole_spark.queries.llm._common import (
    _QUALITY_CASE_SQL,
    _SEG_WORDS,
    _WINNOW_ORACLE,
    _bm25_scores,
    segments,
)


#: the Flesch blend's DuckDB transliteration, defined ONCE (the
#: _QUALITY_CASE_SQL pattern) — substituted into the readability oracle
#: AND the round-9 quality-classifier oracle so the coefficients cannot
#: diverge between queries. Rounded to 6dp: the classifier consumes the
#: ROUNDED feature so both engines blend identical doubles.
_FLESCH_SQL = """round(206.835
             - 1.015 * (CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                        / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE))
             - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
                       / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)),
             6)"""

_READABILITY_ORACLE = f"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
       CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
         AS n_sentences,
       CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
         AS n_syllables,
       {_FLESCH_SQL} AS flesch
FROM documents
WHERE text IS NOT NULL
"""

@register(
    "text_readability_scores",
    oracle=_READABILITY_ORACLE,
    doc="Flesch-reading-ease quality feature per document: word count "
    "(the repo's explicit whitespace class), sentence count "
    "(punctuation runs, floored at 1 — the synthetic corpus has no "
    "sentence punctuation, so the floor branch is the live one), and "
    "a vowel-group syllable heuristic, blended with the classic "
    "206.835/1.015/84.6 coefficients (identical literals on both "
    "engines). Entirely JVM-side regex counting — row-local, zero "
    "shuffle; the scale shape of every per-doc quality featurizer.",
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no spread(): three regex counts over ~300-char text are too cheap
    # to amortize a text-bytes shuffle (measured 0.14s vs 0.25s warm at
    # sf0.1 — NOTES lesson 8's bm25 case, not the 3-gram case)
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words, sentences, syllables, flesch = _flesch_cols()
    return d.select(
        "doc_id",
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
        flesch.alias("flesch"),
    )

def _flesch_cols():
    """Shared Flesch feature expressions (oracle twin: _FLESCH_SQL) —
    token_count carries the shared explicit-whitespace-class invariant
    (Java \\s adds \\x0b over RE2's class — operators/text_analysis.py).
    Returns (words, sentences, syllables, rounded-flesch) columns."""
    words = token_count(F.col("text")).cast("long")
    sentences = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    ).cast("long")
    syllables = F.regexp_count(
        F.lower(F.col("text")), F.lit("[aeiouy]+")
    ).cast("long")
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double")),
        6,
    )
    return words, sentences, syllables, flesch

_TOKENS_ORACLE = """
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
       CAST(len(list_filter(string_split_regex(trim(text),
            '[\\s\\.,;:!\\?\\(\\)\\[\\]\\{\\}"'']+'), p -> p != '')) AS INTEGER) AS n_pieces,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents
"""

@register(
    "text_token_counts",
    oracle=_TOKENS_ORACLE,
    doc="Whitespace + BPE-ish (punctuation-boundary) token counting.",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("int").alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).cast("int").alias("n_pieces"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )

_QUALITY_ORACLE = f"""
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS text_len,
       round(CAST(length(regexp_replace(text, '[^\\.,;:!\\?''"]', '', 'g')) AS DOUBLE)
             / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio,
       round(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS DOUBLE)
             / CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS DOUBLE), 6) AS stopword_ratio,
       round({_QUALITY_CASE_SQL}, 6) AS quality
FROM documents
"""

@register(
    "text_quality_stats",
    oracle=_QUALITY_ORACLE,
    doc="Quality scoring: length band, punctuation ratio, stopword ratio "
    "-> composite score (the cheap 100 TB pre-filter).",
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    t = F.col("text")
    return d.select(
        "doc_id",
        F.length(t).cast("int").alias("text_len"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(quality_score(t), 6).alias("quality"),
    )

def _lang_case_sql() -> str:
    scores = {
        lang: (
            "len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\\s+')), "
            f"[{', '.join(repr(w) for w in words)}]))"
        )
        for lang, words in STOPWORDS.items()
    }
    mx = "greatest(" + ", ".join(scores.values()) + ")"
    case = "CASE " + " ".join(
        f"WHEN {scores[lang]} = {mx} THEN '{lang}'" for lang in STOPWORDS
    ) + " END"
    cols = ",\n       ".join(
        f"CAST({expr} AS INTEGER) AS score_{lang}" for lang, expr in scores.items()
    )
    return f"""
SELECT doc_id, lang,
       {cols},
       {case} AS predicted_lang
FROM documents
"""

@register(
    "text_lang_id",
    oracle=_lang_case_sql(),
    doc="Stopword-hit language ID heuristic with deterministic argmax "
    "tie-break (first language in registry order).",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    scores = lang_scores(F.col("text"))
    mx = F.greatest(*scores.values())
    predicted = F.when(F.lit(False), None)
    for lang in STOPWORDS:
        predicted = predicted.when(scores[lang] == mx, lang)
    return d.select(
        "doc_id",
        "lang",
        *[scores[lang].cast("int").alias(f"score_{lang}") for lang in STOPWORDS],
        predicted.alias("predicted_lang"),
    )

_CHUNK_ORACLE = """
SELECT doc_id, u.chunk_idx, u.chunk_text
FROM (
  SELECT doc_id,
         unnest(list_transform(
           range(0, CASE WHEN len(string_split_regex(trim(text), '\\s+')) <= 64 THEN 1
                 ELSE 1 + CAST(floor((len(string_split_regex(trim(text), '\\s+')) - 64 + 47) / 48.0) AS INTEGER) END),
           i -> {'chunk_idx': CAST(i AS INTEGER),
                 'chunk_text': array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), i * 48 + 1, i * 48 + 64), ' ')}
         )) AS u
  FROM documents
)
"""

@register(
    "text_chunk_documents",
    oracle=_CHUNK_ORACLE,
    doc="Context-window chunking: 64-word chunks with 16-word overlap, "
    "one row per chunk (sequence/slice/concat_ws inside codegen + "
    "posexplode) — the fan-out stage ahead of embedding.",
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.posexplode(chunk_words(F.col("text"), chunk_size=64, overlap=16)).alias(
            "chunk_idx", "chunk_text"
        ),
    )

_PII_ORACLE = """
SELECT doc_id,
       regexp_replace(regexp_replace(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '[0-9]{4,}', '<NUM>', 'g') AS scrubbed,
       CAST(length(text) - length(regexp_replace(regexp_replace(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '[0-9]{4,}', '<NUM>', 'g')) AS INTEGER) AS chars_removed
FROM documents
"""

@register(
    "text_pii_scrub",
    oracle=_PII_ORACLE,
    doc="Regex-tier PII redaction (emails, long digit runs) at scan "
    "speed; rows this tier flags would feed an NER-model pandas-UDF "
    "tier at 100 TB.",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    scrubbed = scrub_pii(F.col("text"))
    return d.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        (F.length("text") - F.length(scrubbed)).cast("int").alias("chars_removed"),
    )

_SEG_DEDUP_ORACLE = f"""
WITH segs AS (
  SELECT doc_id, unnest(
    list_transform(
      range(1, CAST((len(w) + {_SEG_WORDS - 1}) // {_SEG_WORDS} AS BIGINT) + 1),
      i -> array_to_string(list_slice(w, (i - 1) * {_SEG_WORDS} + 1, i * {_SEG_WORDS}), ' ')
    )
  ) AS seg
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents)
), counted AS (
  SELECT doc_id, seg, count(*) OVER (PARTITION BY seg) AS n_occ FROM segs
)
SELECT doc_id,
       count(*) AS n_segments,
       CAST(count_if(n_occ > 1) AS BIGINT) AS n_dup_segments,
       ROUND(CAST(count_if(n_occ > 1) AS DOUBLE) / count(*), 6) AS dup_rate
FROM counted
GROUP BY doc_id
"""

@register(
    "text_segment_dedup_rate",
    oracle=_SEG_DEDUP_ORACLE,
    doc="Segment-level duplication audit (the C4/RefinedWeb line-dedup "
    "primitive on token windows): each document splits into fixed "
    "8-word segments; a segment occurring more than once corpus-wide "
    "is boilerplate, and each doc reports its duplicated-segment "
    "count and rate. One shuffle partitions segments by content for "
    "the occurrence count (window, no join-back), one more rolls up "
    "per doc — linear at any scale, and the per-segment rows are "
    "what a removal pass would act on.",
)
def text_segment_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # NULL text segments to a single NULL row via explode_outer over a
    # NULL transform; the oracle's unnest-based relation never sees the
    # doc — filter to align (round-6 NULL-text probe pin)
    d = spread(table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    segs = d.select(
        "doc_id", F.explode_outer(segments(tokens(F.col("text")))).alias("seg")
    )
    counted = segs.withColumn(
        "n_occ", F.count(F.lit(1)).over(Window.partitionBy("seg"))
    )
    return counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).alias(
            "n_dup_segments"
        ),
        F.round(
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("dup_rate"),
    )

_BOILERPLATE_ORACLE = f"""
WITH segs AS (
  SELECT doc_id, i AS pos,
         array_to_string(list_slice(w, (i - 1) * {_SEG_WORDS} + 1, i * {_SEG_WORDS}), ' ') AS seg
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
       unnest(range(1, CAST((len(w) + {_SEG_WORDS - 1}) // {_SEG_WORDS} AS BIGINT) + 1)) AS t(i)
), counted AS (
  SELECT doc_id, pos, seg, count(*) OVER (PARTITION BY seg) AS n_occ FROM segs
)
SELECT doc_id,
       COALESCE(array_to_string(list(seg ORDER BY pos) FILTER (n_occ = 1), ' '), '')
         AS clean_text,
       CAST(count_if(n_occ > 1) AS BIGINT) AS n_removed
FROM counted
GROUP BY doc_id
"""

@register(
    "text_remove_boilerplate",
    oracle=_BOILERPLATE_ORACLE,
    doc="The removal half of the segment-dedup pair: rebuild each "
    "document keeping only its globally-unique 8-word segments in "
    "original order (corpus-wide boilerplate drops out, as C4 drops "
    "repeated lines). Same two-shuffle shape as the audit — a "
    "content-partitioned window for occurrence counts, then an "
    "order-preserving per-doc reassembly via sort-by-position "
    "collect — and the output is the cleaned corpus a training run "
    "would actually consume.",
)
def text_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # same NULL-text pin as text_segment_dedup_rate: a NULL text has no
    # segments to clean and the oracle never emits it
    d = spread(table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    segs = d.select(
        "doc_id",
        F.posexplode_outer(segments(tokens(F.col("text")))).alias("pos", "seg"),
    )
    counted = segs.withColumn(
        "n_occ", F.count(F.lit(1)).over(Window.partitionBy("seg"))
    )
    kept = F.array_sort(
        F.collect_list(
            F.when(
                F.col("n_occ") == 1, F.struct("pos", "seg")
            )
        )
    )
    return counted.groupBy("doc_id").agg(
        F.concat_ws(
            " ", F.transform(kept, lambda s: s.seg)
        ).alias("clean_text"),
        F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).alias("n_removed"),
    )

_TOP_NGRAMS_ORACLE = r"""
WITH w AS (SELECT string_split_regex(trim(text), '\s+') AS words FROM documents),
b AS (SELECT unnest(list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i+1])) AS ngram
      FROM w WHERE len(words) >= 2)
SELECT ngram, CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20
"""

@register(
    "text_top_ngrams",
    oracle=_TOP_NGRAMS_ORACLE,
    doc="Corpus heavy hitters: top-20 word bigrams by frequency. "
    "Explode-then-count is one partially-aggregated shuffle on the "
    "ngram key; the deterministic (count desc, ngram) tiebreak makes "
    "the top-k boundary stable across engines. The vocabulary-stats "
    "primitive of a training-data pipeline.",
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    words = tokens(F.col("text"))
    return (
        d.filter(F.size(words) >= 2)
        .select(F.explode(word_windows(words, 2)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "ngram")
        .limit(20)
    )

_TFIDF_ORACLE = r"""
WITH tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        FROM documents)
  GROUP BY doc_id, word
), dfreq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word, tf.tf, dfreq.df, n.n_docs,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)), 6) AS tfidf
  FROM tf JOIN dfreq USING (word) CROSS JOIN n
)
SELECT doc_id, word, tfidf, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rank
      FROM scored)
WHERE rank <= 5
"""

@register(
    "text_tfidf_top_terms",
    oracle=_TFIDF_ORACLE,
    doc="TF-IDF: top-5 terms per document. One tokenization pass feeds "
    "both aggregates (document frequency is count-of-rows over the "
    "already-grouped tf relation, not a second corpus scan); the "
    "corpus size joins in as a broadcast scalar, and the vocabulary "
    "join shuffles on the word key. Rounding before the rank ORDER BY "
    "keeps the top-k boundary identical across engines.",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spread(table(spark, sf_dir, "documents"))
    words = d.select(
        "doc_id",
        F.explode(tokens(F.lower(F.col("text")))).alias("word"),
    )
    # localCheckpoint: dfreq and the scoring join both consume tf; an
    # un-materialized tf would re-run scan+explode+agg per branch
    # (NOTES.md lesson 9). Persisting the (doc, word, tf) relation is
    # the standard TF-IDF trade at any scale.
    tf = (
        words.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    ndocs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(ndocs)
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(
                    F.col("n_docs").cast("double") / F.col("df").cast("double")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "word", "tfidf", F.col("rank").cast("int").alias("rank"))
    )

_BM25_ORACLE = r"""
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
  FROM documents
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM words GROUP BY doc_id
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM words
  WHERE word IN ('spark', 'join', 'vector') GROUP BY doc_id, word
), dfreq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
), scored AS (
  SELECT tf.doc_id,
         sum(ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS score
  FROM tf JOIN dfreq USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, ROUND(score, 6) AS bm25
FROM scored
ORDER BY bm25 DESC, doc_id
LIMIT 10
"""

@register(
    "text_bm25_ranking",
    oracle=_BM25_ORACLE,
    doc="BM25 (k1=1.2, b=0.75, Lucene +1 idf) top-10 documents for the "
    "query {spark, join, vector}. One tokenization pass, one doc-keyed "
    "shuffle: per-term frequencies are conditional counts inside the "
    "doc-length aggregation (the query term set is small and fixed), "
    "unpivoted with stack(); corpus stats (N, avgdl) come from a "
    "row-local size(split()) — no explode, no shuffle. The tiny "
    "per-doc relation is localCheckpoint'd so the dfreq broadcast and "
    "the scoring join share one materialization instead of "
    "re-tokenizing the corpus per branch. Rounding before the final "
    "ORDER BY pins the top-k boundary across engines.",
)
def text_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _bm25_scores(spark, sf_dir, ["spark", "join", "vector"])
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )

_REPETITION_ORACLE = """
WITH wc AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents)
  GROUP BY doc_id, word
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS n_distinct,
       ROUND(CAST(count(*) AS DOUBLE) / sum(c), 6) AS distinct_ratio,
       ROUND(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_share,
       (CAST(count(*) AS DOUBLE) / sum(c)) < 0.25 AS repetitive
FROM wc
GROUP BY doc_id
"""

@register(
    "text_repetition_filter",
    oracle=_REPETITION_ORACLE,
    doc="Repetition-based quality scoring: per-document distinct-word "
    "ratio and top-word share (the cheap proxies for boilerplate / "
    "degenerate text that curation pipelines threshold on). One "
    "tokenize pass, two stacked aggregations with map-side combine; "
    "per-doc cardinality is bounded by vocabulary, so the shuffle "
    "carries (doc, word) counts, never raw tokens.",
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    wc = (
        d.select(
            "doc_id",
            F.explode(tokens(F.lower(F.col("text")))).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias("distinct_ratio"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_share"),
        ((F.count(F.lit(1)) / F.sum("c")) < 0.25).alias("repetitive"),
    )

@register(
    "text_winnow_fingerprints",
    oracle=_WINNOW_ORACLE,
    doc="Winnowing document fingerprints (Schleimer et al., SIGMOD'03: "
    "k=8-char grams, polynomial rolling hash mod 1e9+7, min-hash per "
    "window of w=4 grams, distinct). The position-robust near-dup "
    "LOCALIZATION primitive: any shared substring of length >= k+w-1 "
    "guarantees a shared fingerprint, so an equi-join on fp finds "
    "*where* two docs overlap, not just that they do (MinHash's "
    "whole-doc verdict). Vectorized Arrow kernel, row-local, ZERO "
    "shuffle (operators/text_analysis.py:winnow_fingerprints has the "
    "measured HOF-vs-pandas justification); the engine-portable "
    "arithmetic is replayed exactly by the DuckDB oracle — the "
    "hash-verifiable sibling of the xxhash64 MinHash/SimHash kernels.",
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no spread(): measured a wash at sf0.1 (warm 1.8 s either way,
    # round 12) — this query's cost is the exploded-fingerprint
    # output, not the per-row winnow window, so the round-robin
    # exchange would buy nothing (contamination_winnow_overlap, whose
    # fps relation feeds two join branches, DOES spread)
    d = table(spark, sf_dir, "documents")
    return winnow_fingerprints(d).select(
        "doc_id", F.explode("fps").alias("fp")
    )

_PMI_ORACLE = r"""
WITH words AS (
  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     w -> w <> '') AS wf
  FROM documents
), bg AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS c12
  FROM (
    SELECT unnest(CASE WHEN len(wf) >= 2
             THEN list_transform(range(1, len(wf)),
                                 i -> wf[i] || ' ' || wf[i+1])
             ELSE [] END) AS bigram
    FROM words
  ) GROUP BY bigram
), ug AS (
  SELECT word, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(wf) AS word FROM words) GROUP BY word
), tot AS (
  SELECT (SELECT CAST(sum(c12) AS BIGINT) FROM bg) AS nb,
         (SELECT CAST(sum(c) AS BIGINT) FROM ug) AS nw
)
SELECT bigram, c12,
       round(ln((c12 / nb) / ((u1.c / nw) * (u2.c / nw))) / ln(2), 6) AS pmi
FROM bg, tot
JOIN ug u1 ON u1.word = string_split(bigram, ' ')[1]
JOIN ug u2 ON u2.word = string_split(bigram, ' ')[2]
WHERE c12 >= 5
ORDER BY pmi DESC, bigram
LIMIT 20
"""

@register(
    "text_collocation_pmi",
    oracle=_PMI_ORACLE,
    doc="Collocation mining: top-20 bigrams by pointwise mutual "
    "information (bits) with a min-count-5 support floor — the "
    "phrase-detection primitive (word2phrase-style) a tokenizer/"
    "vocabulary pipeline runs before training. ONE tokenize pass is "
    "localCheckpointed and feeds both the bigram and unigram counts "
    "(re-scanning the corpus would double the dominant cost); the two "
    "unigram joins shuffle on the word key only over the support-"
    "filtered bigram set; totals come from the count relations (no "
    "extra scan) and broadcast as one row. Ordering on the ROUNDED "
    "pmi keeps the top-k boundary identical across engines.",
)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    wf = F.filter(tokens(F.lower(F.col("text"))), lambda w: w != "")
    words = d.select(wf.alias("wf")).localCheckpoint(eager=False)
    bigram_arr = F.when(
        F.size("wf") >= 2, word_windows(F.col("wf"), 2)
    ).otherwise(F.array().cast("array<string>"))
    bg = (
        words.select(F.explode(bigram_arr).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=False)
    )
    ug = (
        words.select(F.explode("wf").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = bg.agg(F.sum("c12").alias("nb")).crossJoin(
        ug.agg(F.sum("c").alias("nw"))
    )
    u1 = ug.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    u2 = ug.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log(
        (F.col("c12") / F.col("nb"))
        / ((F.col("c1") / F.col("nw")) * (F.col("c2") / F.col("nw")))
    ) / F.log(F.lit(2.0))
    return (
        bg.filter(F.col("c12") >= 5)
        .withColumn("w1", F.split("bigram", " ").getItem(0))
        .withColumn("w2", F.split("bigram", " ").getItem(1))
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(tot)
        .select("bigram", "c12", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(20)
    )

#: the Laplace-unigram-LM CTE chain + per-doc rollup, factored so the
#: round-9 quality classifier's oracle reuses the IDENTICAL expression
#: shapes (the DECIMAL log-term discipline must not diverge)
_LM_XENT_CTES = r"""words AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            w -> w <> '')) AS word
  FROM documents
), tf AS MATERIALIZED (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
  FROM words GROUP BY doc_id, word
), cnt AS MATERIALIZED (
  SELECT word, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY word
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_corpus,
         CAST(count(*) AS BIGINT) AS vocab
  FROM cnt
), terms AS (
  SELECT tf.doc_id, tf.tf,
         CAST(ln((cnt.c + 1) / CAST(tot.n_corpus + tot.vocab AS DOUBLE))
              AS DECIMAL(15,12)) AS lp
  FROM tf JOIN cnt USING (word), tot
)"""

_LM_XENT_SELECT = """SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       round(CAST(CAST(-sum(CAST(tf AS DECIMAL(18,0)) * lp) AS VARCHAR)
                  AS DOUBLE) / sum(tf) / ln(2), 6) AS cross_entropy
FROM terms GROUP BY doc_id"""

_LM_XENT_ORACLE = f"""
WITH {_LM_XENT_CTES}
{_LM_XENT_SELECT}
"""

@register(
    "text_lm_cross_entropy",
    oracle=_LM_XENT_ORACLE,
    doc="CCNet-style statistical-LM quality score (Wenzek et al. 2020 "
    "use a KenLM; the deterministic stand-in is a Laplace-smoothed "
    "corpus unigram LM): per-document cross-entropy in bits/token — "
    "low = stereotypical fluent text, high = rare-token noise; "
    "pipelines threshold or bucket on it for quality-based sampling. "
    "Plan: one tokenize pass feeds (doc,word) tf and corpus counts; "
    "the LM 'lookup' is a word-key shuffle join; per-doc totals "
    "reuse nothing larger than the doc key. Numeric discipline: each "
    "word's log-prob is deterministic, cast to DECIMAL(15,12) and "
    "weighted by an exact integer tf, so the per-doc sum is exact "
    "and ORDER-INSENSITIVE (a raw double sum over hundreds of "
    "variable-magnitude log terms is the classic cross-engine hash "
    "flake); one correctly-rounded double conversion per engine "
    "(numeric.py recipe), then bits via /ln(2).",
)
def text_lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lm_xent_per_doc(spark, sf_dir)

def _lm_xent_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared per-doc (doc_id, n_tokens, cross_entropy) relation — the
    registered text_lm_cross_entropy body, also the LM feature leg of
    text_quality_classifier (round 9). Docs with no tokens (NULL or
    whitespace-only text) have no rows in tf and drop out."""
    d = spread(table(spark, sf_dir, "documents"))
    wf = F.filter(tokens(F.lower(F.col("text"))), lambda w: w != "")
    words = d.select("doc_id", F.explode(wf).alias("word"))
    # counts and totals all derive from the (doc, word) tf relation, so
    # the corpus is tokenized and exploded exactly ONCE; tf is the
    # checkpoint boundary shared by the LM build and the scoring join
    tf = (
        words.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    cnt = (
        tf.groupBy("word")
        .agg(F.sum("tf").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = cnt.agg(
        F.sum("c").alias("n_corpus"), F.count(F.lit(1)).alias("vocab")
    )
    lp = F.log(
        (F.col("c") + 1)
        / (F.col("n_corpus") + F.col("vocab")).cast("double")
    ).cast(DecimalType(15, 12))
    terms = (
        tf.join(cnt, "word")
        .crossJoin(tot)
        .select("doc_id", "tf", lp.alias("lp"))
    )
    xent = (
        (-F.sum(F.col("tf").cast(DecimalType(18, 0)) * F.col("lp"))).cast(
            "double"
        )
        / F.sum("tf")
        / F.log(F.lit(2.0))
    )
    return terms.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.round(xent, 6).alias("cross_entropy"),
    )

#: fixed CCNet-style LM-perplexity bucket thresholds (bits/token).
#: CCNet (Wenzek et al. 2020) computes head/middle/tail cutoffs ONCE
#: offline and applies them row-locally in the pipeline — the same
#: shape here: these constants sit at the driver corpus's measured
#: terciles (~4.905 / ~4.911 at every SF), so all three buckets are
#: live, and bucket assignment is a row-local comparison (no global
#: ntile sort — curriculum_phase_stats' scale rule).
_QCLF_HEAD = 4.905

_QCLF_MID = 4.911

#: linear blend weights + feature normalizers (plan literals, replayed
#: verbatim in the oracle): score = 0.5*quality
#: + 0.3*clamp01(flesch/100) + 0.2*clamp01((5.1 - xent)/0.3)
_QCLF_KEEP = 0.65

_QCLF_SCORE_SQL = """0.5 * quality
         + 0.3 * greatest(0.0, least(1.0, flesch / 100.0))
         + 0.2 * greatest(0.0, least(1.0, (5.1 - cross_entropy) / 0.3))"""

_QCLF_ORACLE = f"""
WITH {_LM_XENT_CTES},
xent AS MATERIALIZED ({_LM_XENT_SELECT}),
feats AS (
  SELECT doc_id,
         round({_QUALITY_CASE_SQL}, 6) AS quality,
         {_FLESCH_SQL} AS flesch
  FROM documents WHERE text IS NOT NULL
), scored AS (
  SELECT f.doc_id, x.n_tokens, f.quality, f.flesch, x.cross_entropy,
         {_QCLF_SCORE_SQL} AS raw_score
  FROM feats f JOIN xent x USING (doc_id)
)
SELECT doc_id, n_tokens, quality, flesch, cross_entropy,
       CASE WHEN cross_entropy < {_QCLF_HEAD} THEN 'head'
            WHEN cross_entropy < {_QCLF_MID} THEN 'middle'
            ELSE 'tail' END AS lm_bucket,
       round(raw_score, 6) AS classifier_score,
       raw_score >= {_QCLF_KEEP} AS keep
FROM scored
"""

@register(
    "text_quality_classifier",
    oracle=_QCLF_ORACLE,
    doc="Document-level quality classifier — the curation stage that "
    "composes the repo's feature operators into one keep/drop + "
    "curriculum signal (the standard pretraining pipeline step between "
    "featurization and mixture/curriculum sampling): a linear scorer "
    "over the composite quality heuristic (text_quality_stats' "
    "quality_score), normalized Flesch readability "
    "(text_readability_scores' blend via the shared _flesch_cols), "
    "and the CCNet-style unigram-LM cross-entropy "
    "(text_lm_cross_entropy via the shared _lm_xent_per_doc), plus "
    "head/middle/tail LM buckets at FIXED thresholds (CCNet computes "
    "its perplexity cutoffs offline and applies them row-locally — no "
    "global ntile sort, per curriculum_phase_stats' scale rule). "
    "keep filters the RAW score (rounding only the output, the "
    "repo-wide boundary policy). All three features enter the blend "
    "ROUNDED to 6dp so both engines blend identical doubles. Plan: "
    "the LM leg's linear shuffles (tf, LM join, per-doc rollup) + one "
    "doc_id join back to the row-local feature scan; docs with no "
    "tokens drop with the LM leg (inner join). Composition is pinned "
    "by tests/test_llm_operators.py::"
    "test_quality_classifier_composes_feature_operators.",
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): regex feature scoring over a single-split scan —
    # round 12, guide §2.5, same fix as text_ngram_novelty
    d = spread(
        table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    _, _, _, flesch = _flesch_cols()
    feats = d.select(
        "doc_id",
        F.round(quality_score(F.col("text")), 6).alias("quality"),
        flesch.alias("flesch"),
    )
    xent = _lm_xent_per_doc(spark, sf_dir)
    clamp01 = lambda c: F.greatest(F.lit(0.0), F.least(F.lit(1.0), c))  # noqa: E731
    raw_score = (
        F.lit(0.5) * F.col("quality")
        + F.lit(0.3) * clamp01(F.col("flesch") / F.lit(100.0))
        + F.lit(0.2)
        * clamp01((F.lit(5.1) - F.col("cross_entropy")) / F.lit(0.3))
    )
    return (
        feats.join(xent, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "quality",
            "flesch",
            "cross_entropy",
            F.when(F.col("cross_entropy") < _QCLF_HEAD, "head")
            .when(F.col("cross_entropy") < _QCLF_MID, "middle")
            .otherwise("tail")
            .alias("lm_bucket"),
            F.round(raw_score, 6).alias("classifier_score"),
            (raw_score >= _QCLF_KEEP).alias("keep"),
        )
    )

_NOVELTY_ORACLE = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents
), grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(list_slice(w, i, i + 2), ' ')
         ))) AS g
  FROM words
), firsts AS (
  SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
), novel AS (
  SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
  FROM firsts GROUP BY first_doc
), tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
  FROM grams GROUP BY doc_id
)
SELECT tot.doc_id, n_grams,
       CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
       round(coalesce(n_novel, 0) / CAST(n_grams AS DOUBLE), 6)
         AS novelty_ratio
FROM tot LEFT JOIN novel ON novel.doc_id = tot.doc_id
"""

@register(
    "text_ngram_novelty",
    oracle=_NOVELTY_ORACLE,
    doc="N-gram novelty scoring: for every document, the fraction of "
    "its distinct word-3-grams whose FIRST corpus occurrence (minimum "
    "doc_id) is this document — the memorization/novelty signal a "
    "curation pipeline uses to down-weight documents that only repeat "
    "earlier text. Deliberately NOT a window over the gram key: "
    "min(doc_id) per gram is a partial-aggregable groupBy, so a "
    "mega-hot gram (boilerplate) collapses map-side instead of "
    "funneling every occurrence through one window partition; the "
    "novel-count then rolls up from the small (gram, first_doc) "
    "relation via a second groupBy, never joining back to the "
    "exploded grams. One tokenize/explode pass is localCheckpointed "
    "and shared by the totals and first-seen branches. Per-doc gram "
    "sets are distinct by construction (word_shingles ends in "
    "array_distinct), matching the oracle's list_distinct.",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL text: word_shingles squashes it to [''] (one phantom gram
    # shared by every NULL/whitespace doc) while the oracle's split
    # propagates NULL and drops the doc — filter identically (round-9
    # review; the round-6 class-11 pin, applied here).
    # spread() before the tokenize/explode (round 12, guide §2.5 input
    # skew): the single-split documents scan ran the whole
    # shingle+explode pass — the query's dominant compute — on one
    # core, and the localCheckpoint PINNED that layout for both
    # downstream aggregation branches (measured 4.5-6.5 s -> 1.0-2.4 s
    # at sf0.1). Same fix as the sibling gram queries.
    d = spread(
        table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    grams = d.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("g")
    ).localCheckpoint(eager=False)
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    tot = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return tot.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias("n_novel"),
        F.round(
            F.coalesce(F.col("n_novel"), F.lit(0).cast("long"))
            / F.col("n_grams").cast("double"),
            6,
        ).alias("novelty_ratio"),
    )

_VOCAB_K = 1000

_VOCAB_CURVE_TARGETS = (0.5, 0.9, 0.99)

_VOCAB_CURVE_ORACLE = rf"""
WITH wc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents WHERE text IS NOT NULL)
  GROUP BY w
), tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM wc),
ranked AS (
  SELECT w, cnt,
         row_number() OVER (ORDER BY cnt DESC, w) AS rnk,
         CAST(sum(cnt) OVER (ORDER BY cnt DESC, w
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS cum
  FROM wc
), targets(coverage_target) AS (
  VALUES {", ".join(f"(CAST({t} AS DOUBLE))" for t in _VOCAB_CURVE_TARGETS)}
)
SELECT t.coverage_target,
       CAST(min(r.rnk) AS BIGINT) AS vocab_size,
       round(min_by(r.cum, r.rnk) / min(tot.total), 6) AS actual_coverage
FROM targets t, ranked r, tot
WHERE r.cum >= t.coverage_target * tot.total
GROUP BY t.coverage_target
"""

@register(
    "text_vocab_coverage_curve",
    oracle=_VOCAB_CURVE_ORACLE,
    doc="Vocabulary coverage curve (the tokenizer-design question: how "
    "many vocabulary entries cover X% of the corpus token mass?): "
    "corpus word counts, words ranked by frequency (ties broken by "
    "word — same binary string order on both engines), running "
    "cumulative token mass, and for each coverage target (50/90/99%) "
    "the smallest vocabulary size reaching it plus the exact coverage "
    "achieved there. Scale shape: the corpus tokens collapse to one "
    "(word, count) relation via a single partial-aggregated shuffle; "
    "only the DISTINCT VOCABULARY (bounded by language, not corpus "
    "size) passes through the global rank/cumsum window, so the "
    "single-partition window is vocab-bounded, never corpus-bounded "
    "— at 100 TB cap it with a frequency floor before the window if "
    "the long tail matters.",
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    wc = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # consumed by BOTH the rank/cumsum window and the total-mass
        # aggregate — materialize the small vocab relation once instead
        # of re-executing the corpus token scan per branch (NOTES
        # lesson 9)
        .localCheckpoint(eager=False)
    )
    # global order over the (small) vocabulary relation — deliberately
    # unpartitioned, see docstring
    w = Window.orderBy(F.col("cnt").desc(), "w")
    ranked = wc.select(
        F.row_number().over(w).alias("rnk"),
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("cum"),
    )
    tot = wc.agg(F.sum("cnt").cast("double").alias("total"))
    targets = spark.createDataFrame(
        [(float(t),) for t in _VOCAB_CURVE_TARGETS],
        "coverage_target double",
    )
    return (
        ranked.crossJoin(tot)
        .join(
            F.broadcast(targets),
            F.col("cum") >= F.col("coverage_target") * F.col("total"),
        )
        .groupBy("coverage_target")
        .agg(
            F.min("rnk").cast("long").alias("vocab_size"),
            F.round(
                F.min_by("cum", "rnk") / F.min("total"), 6
            ).alias("actual_coverage"),
        )
    )

_OOV_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
  FROM documents
), counts AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w
), vocab AS (
  SELECT w FROM counts ORDER BY c DESC, w LIMIT {_VOCAB_K}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM toks LEFT JOIN vocab ON toks.w = vocab.w
GROUP BY doc_id
"""

@register(
    "text_vocab_oov_rate",
    oracle=_OOV_ORACLE,
    doc="Vocabulary coverage: build the corpus top-1000 word vocabulary "
    "(frequency desc, word asc — a total order, so the cut is "
    "identical on both engines) and score every document by its "
    "out-of-vocabulary token rate — the coverage check run before "
    "committing to a tokenizer vocab size. One tokenize/explode pass "
    "is localCheckpointed and shared by the count and scoring "
    "branches; the word count is one partial-aggregated shuffle; the "
    "1000-row vocab comes back via TakeOrderedAndProject and joins as "
    "a left join the planner broadcasts by size (the corpus-side "
    "relation never re-shuffles on the word key, so a mega-hot token "
    "costs nothing extra); the per-doc rollup is the one remaining doc_id exchange.",
)
def text_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        .localCheckpoint(eager=False)
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(_VOCAB_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(vocab, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov") / F.col("n_tokens").cast("double"), 6
            ).alias("oov_rate"),
        )
    )

#: the small high-frequency English word list Gopher's "stop word"
#: rule checks containment against (Rae et al. 2021, App. A1.1) — the
#: DEFAULT parameter; real pipelines configure the list per language/
#: domain (CCNet and Dolma both ship per-language lists)
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

#: the driver corpus's actual function words: its synthetic vocabulary
#: contains exactly two of English's closed-class words, so the
#: registered query runs the rule with the corpus-adapted list — the
#: faithful analogue of configuring a per-language list — keeping BOTH
#: branches of the stop-word rule and the keep conjunction live at
#: every SF (measured ~63% / ~47%); with the paper's English list the
#: rule is vacuously false on this corpus (at most 'the' appears)
_CORPUS_STOPWORDS = ("the", "a")

_GOPHER_ORACLE = rf"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     w -> w <> '') AS w,
         string_split_regex(text, '\r?\n') AS lines,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
           AS hash_cnt,
         CAST((length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS ell_cnt
  FROM documents
  WHERE text IS NOT NULL
), m AS (
  SELECT doc_id, hash_cnt, ell_cnt,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(list_sum(list_transform(w, x -> CAST(length(x) AS BIGINT)))
              AS BIGINT) AS sum_len,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
              AS BIGINT) AS alpha_words,
         CAST(len(list_filter(lines,
                l -> regexp_matches(trim(l), '^[-*•]')))
              AS BIGINT) AS bullet_lines,
         CAST(len(list_filter(lines,
                l -> regexp_matches(trim(l), '(\.\.\.|…)$')))
              AS BIGINT) AS ell_lines,
         ({" + ".join(f"CAST(list_contains(list_transform(w, x -> lower(x)), '{sw}') AS BIGINT)" for sw in _CORPUS_STOPWORDS)})
           AS n_stop
  FROM d
)
SELECT doc_id, n_words, n_lines,
       CASE WHEN n_words > 0
            THEN round(sum_len / CAST(n_words AS DOUBLE), 6) END
         AS mean_word_len,
       (n_words BETWEEN 50 AND 100000) AS r_word_count,
       (n_words > 0 AND 3 * n_words <= sum_len
        AND sum_len <= 10 * n_words) AS r_mean_len,
       (10 * (hash_cnt + ell_cnt) <= n_words) AS r_symbol_ratio,
       (10 * bullet_lines <= 9 * n_lines) AS r_bullet_lines,
       (10 * ell_lines <= 3 * n_lines) AS r_ellipsis_lines,
       (10 * alpha_words >= 8 * n_words) AS r_alpha_words,
       (n_stop >= 2) AS r_stopwords,
       ((n_words BETWEEN 50 AND 100000)
        AND (n_words > 0 AND 3 * n_words <= sum_len
             AND sum_len <= 10 * n_words)
        AND (10 * (hash_cnt + ell_cnt) <= n_words)
        AND (10 * bullet_lines <= 9 * n_lines)
        AND (10 * ell_lines <= 3 * n_lines)
        AND (10 * alpha_words >= 8 * n_words)
        AND (n_stop >= 2)) AS keep
FROM m
"""

# Registered round 10 (built + 3-SF oracle-verified round 9, NOTES r9
# part 5; registration was deferred one round purely for verification-
# window arithmetic — see the catalog.py window comment).
_GOPHER_DOC = (
    "Gopher rule-based quality filter (Rae et al. 2021, App. A — "
    "the rule set FineWeb/Dolma reimplement): word count in [50, "
    "100k], mean word length in [3, 10], symbol-to-word ratio "
    "(# + ellipsis) <= 0.1, <= 90% bullet-started lines, <= 30% "
    "ellipsis-ended lines, >= 80% words containing an alphabetic "
    "character, and >= 2 distinct stop words (list-parameterized: "
    "Gopher's 8 English words are the default; the registered query "
    "uses the corpus's two function words so the rule is live on the "
    "synthetic vocabulary — see _CORPUS_STOPWORDS) "
    "— per-rule booleans + the conjunction. Every threshold compare "
    "is EXACT INTEGER arithmetic (10*symbols <= words, 3n <= "
    "sum_len <= 10n, ...), so no cross-engine float boundary exists "
    "anywhere in the rule evaluation; the only double is the "
    "display-rounded mean word length. Scale shape: pure row-local "
    "scalar expressions over one scan — zero shuffles, zero joins, "
    "the cheapest possible 100 TB filter pass. Tokenization uses the "
    "shared explicit whitespace class (equals RE2 whitespace, "
    "test_whitespace_class.py); the stop-word count "
    "is a fixed-order sum of array_contains flags (distinct "
    "containment, not occurrences, per the Gopher wording)."
)

@register("text_gopher_rules", oracle=_GOPHER_ORACLE, doc=_GOPHER_DOC)
def text_gopher_rules(
    spark: SparkSession,
    sf_dir: str,
    stopwords: tuple[str, ...] = _CORPUS_STOPWORDS,
) -> DataFrame:
    """Rule filter over ``documents``; ``stopwords`` parameterizes the
    containment rule (Gopher's English list ``_GOPHER_STOPWORDS`` for
    natural-language corpora; the registered default is the driver
    corpus's function words so both rule branches stay live — the
    oracle replays the default)."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = F.filter(tokens(F.col("text")), lambda x: x != "")
    # \r?\n delimiter: CRLF text must not leave a trailing \r on the
    # line (Java's $ matches BEFORE a final line terminator where
    # RE2's does not — round-9 review, empirically confirmed)
    lines = F.split(F.col("text"), "\r?\n")
    hash_cnt = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    ).cast("long")
    ell_cnt = (
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("...")))
        )
        / F.lit(3)
    ).cast("long")
    m = d.select(
        "doc_id",
        w.alias("w"),
        lines.alias("lines"),
        hash_cnt.alias("hash_cnt"),
        ell_cnt.alias("ell_cnt"),
    ).select(
        "doc_id",
        "hash_cnt",
        "ell_cnt",
        F.size("w").cast("long").alias("n_words"),
        F.size("lines").cast("long").alias("n_lines"),
        F.aggregate(
            "w", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("sum_len"),
        F.size(
            F.filter(F.col("w"), lambda x: x.rlike("[a-zA-Z]"))
        ).cast("long").alias("alpha_words"),
        F.size(
            F.filter(
                F.col("lines"),
                lambda x: F.trim(x).rlike(r"^[-*•]"),
            )
        ).cast("long").alias("bullet_lines"),
        F.size(
            F.filter(
                F.col("lines"),
                # \z = absolute end (Java $ also matches before a
                # final \r/\n/\u2028..., RE2 $ does not)
                lambda x: F.trim(x).rlike("(\\.\\.\\.|…)\\z"),
            )
        ).cast("long").alias("ell_lines"),
        sum(
            [
                F.array_contains(
                    F.transform(F.col("w"), F.lower), F.lit(sw)
                ).cast("long")
                for sw in stopwords
            ],
            F.lit(0).cast("long"),
        ).alias("n_stop"),
    )
    r_word_count = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    r_mean_len = (
        (F.col("n_words") > 0)
        & (3 * F.col("n_words") <= F.col("sum_len"))
        & (F.col("sum_len") <= 10 * F.col("n_words"))
    )
    r_symbol = 10 * (F.col("hash_cnt") + F.col("ell_cnt")) <= F.col("n_words")
    r_bullet = 10 * F.col("bullet_lines") <= 9 * F.col("n_lines")
    r_ell = 10 * F.col("ell_lines") <= 3 * F.col("n_lines")
    r_alpha = 10 * F.col("alpha_words") >= 8 * F.col("n_words")
    r_stop = F.col("n_stop") >= 2
    return m.select(
        "doc_id",
        "n_words",
        "n_lines",
        F.when(
            F.col("n_words") > 0,
            F.round(F.col("sum_len") / F.col("n_words").cast("double"), 6),
        ).alias("mean_word_len"),
        r_word_count.alias("r_word_count"),
        r_mean_len.alias("r_mean_len"),
        r_symbol.alias("r_symbol_ratio"),
        r_bullet.alias("r_bullet_lines"),
        r_ell.alias("r_ellipsis_lines"),
        r_alpha.alias("r_alpha_words"),
        r_stop.alias("r_stopwords"),
        (
            r_word_count
            & r_mean_len
            & r_symbol
            & r_bullet
            & r_ell
            & r_alpha
            & r_stop
        ).alias("keep"),
    )
