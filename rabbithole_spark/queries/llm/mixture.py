"""Sampling, split, mixture-weighting, curriculum and DSIR queries."""

from __future__ import annotations

from pyspark.sql import (
    DataFrame,
    SparkSession,
)
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType
from rabbithole_spark.catalog import register
from rabbithole_spark.functions.xxh64_sql import xxh64_long_sql
from rabbithole_spark.operators.dedup import spread
from rabbithole_spark.operators.text_analysis import (
    quality_score,
    token_count,
    tokens,
)
from rabbithole_spark.session import table
from rabbithole_spark.queries.llm._common import _QUALITY_CASE_SQL


#: Deterministic per-row sampling bucket: Knuth multiplicative hash of
#: the id, folded to [0, 100). Plain 64-bit integer arithmetic, so the
#: EXACT same expression runs in Spark and DuckDB — unlike df.sample(),
#: whose selection depends on partition layout. Reproducible selection
#: is what a training-data pipeline needs anyway (re-running a 100 TB
#: sample must yield the same corpus). The id folds to 31 bits BEFORE
#: the multiply so the product peaks at 2^31 * 2654435761 ~ 5.7e18 <
#: 2^63 — no ANSI overflow for any BIGINT doc_id.
_SAMPLE_BUCKET_SQL = (
    "((doc_id % 2147483648) * 2654435761) % 4294967296 % 100"
)

_UNIFORM_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, n_chars
FROM documents
WHERE {_SAMPLE_BUCKET_SQL} < 20
"""

@register(
    "sample_uniform_documents",
    oracle=_UNIFORM_SAMPLE_ORACLE,
    doc="Uniform 20% sample via deterministic hash-mod selection "
    "(multiplicative hash of doc_id) — scan-local, no shuffle, and "
    "reproducible across runs/engines, which seeded Bernoulli "
    "sample() is not (it is partition-layout-dependent).",
)
def sample_uniform_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.filter(F.expr(f"{_SAMPLE_BUCKET_SQL} < 20")).select(
        "doc_id", "lang", "n_chars"
    )

_STRATIFIED_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, n_chars
FROM documents
WHERE {_SAMPLE_BUCKET_SQL} < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
"""

@register(
    "sample_stratified_by_lang",
    oracle=_STRATIFIED_SAMPLE_ORACLE,
    doc="Stratified sampling with per-stratum rates (downsample the "
    "dominant language to 10%, keep 50% elsewhere) via the same "
    "deterministic hash-mod bucket — the mixture-rebalancing stage "
    "of a curation pipeline, still scan-local.",
)
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.filter(
        F.expr(
            f"{_SAMPLE_BUCKET_SQL} < CASE WHEN lang = 'en' THEN 10 ELSE 50 END"
        )
    ).select("doc_id", "lang", "n_chars")

_KSAMPLE_K = 50

#: rank key for the fixed-k sampler: yet another odd multiplier — the
#: actual low 32 bits of the xxhash prime5 constant
#: (2870177450012600261 mod 2^32 = 374761413, odd as a multiplicative
#: hash requires). CAVEAT (round-9 measurement): distinct odd
#: multipliers decorrelate only the odd-modulus components — (d*a)
#: mod 2^k depends on d mod 2^k alone, so all multiplicative buckets
#: in this module remain correlated in their low bits; where full
#: independence is load-bearing (the decontamination split, the
#: training shuffle) a domain-tagged xxhash64 is used instead.
#: 2^31 * 374761413 ~ 8.0e17 < 2^63: overflow-safe.
_KSAMPLE_RANK_SQL = "((doc_id % 2147483648) * 374761413) % 4294967296"

_KSAMPLE_ORACLE = f"""
SELECT doc_id, source, lang FROM (
  SELECT doc_id, source, lang,
         row_number() OVER (PARTITION BY source
           ORDER BY {_KSAMPLE_RANK_SQL}, doc_id) AS rn
  FROM documents
) WHERE rn <= {_KSAMPLE_K}
"""

@register(
    "sample_fixed_k_per_source",
    oracle=_KSAMPLE_ORACLE,
    doc="Exactly-k-per-group deterministic sampling (balanced eval-set "
    "construction: k docs from EVERY source regardless of source "
    "size, where the fraction-based stratified sampler cannot bound "
    "group counts): rank docs within each source by a multiplicative "
    "hash of doc_id (ties broken by doc_id) and keep rank <= k. "
    "Replayable byte-for-byte like the other hash-mod samplers, and "
    "uncorrelated with them (distinct odd multiplier). Scale shape: "
    "ONE shuffle keys the window on source; at 100 TB pre-filter with "
    "a conservative hash-bucket threshold (rank is uniform, so "
    "bucket < c*k/n_source keeps all winners with near-certainty) so "
    "the window sorts a sliver, not the corpus.",
)
def sample_fixed_k_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.expr(_KSAMPLE_RANK_SQL), "doc_id"
    )
    return (
        d.select("doc_id", "source", "lang")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KSAMPLE_K)
        .drop("rn")
    )

#: Train/val/test assignment bucket: same 31-bit-fold hash-mod shape as
#: _SAMPLE_BUCKET_SQL but with a DIFFERENT odd multiplier (xxhash
#: prime2), decorrelating the odd-modulus components of split
#: membership from the sampling bucket (power-of-2 residues stay
#: correlated — the _KSAMPLE_RANK_SQL caveat; the 98/1/1 thresholds
#: read the full mod-100 value, so the residual mod-4 dependence
#: biases membership only mildly). 2^31 * 2246822519 ~ 4.8e18 < 2^63:
#: no overflow for any BIGINT doc_id.
_SPLIT_BUCKET_SQL = "((doc_id % 2147483648) * 2246822519) % 4294967296 % 100"

_SPLIT_CASE_SQL = (
    f"CASE WHEN {_SPLIT_BUCKET_SQL} < 98 THEN 'train' "
    f"WHEN {_SPLIT_BUCKET_SQL} < 99 THEN 'val' ELSE 'test' END"
)

_SPLIT_ORACLE = f"""
SELECT {_SPLIT_CASE_SQL} AS split,
       lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""

@register(
    "split_train_val_test",
    oracle=_SPLIT_ORACLE,
    doc="Deterministic 98/1/1 train/val/test split by hash-mod on "
    "doc_id, rolled up per (split, lang). Row-local assignment: no "
    "shuffle beyond the rollup, reproducible across runs and engines "
    "(re-materializing a 100 TB split MUST land every document in the "
    "same file), and leakage-free by construction — membership is a "
    "pure function of the id, so a document can never drift between "
    "splits across incremental ingestion runs. The independent "
    "multiplier keeps split choice uncorrelated with the sampling "
    "queries' hash bucket.",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.withColumn("split", F.expr(_SPLIT_CASE_SQL))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )

#: shard count for the deterministic training-shuffle assignment; a
#: production corpus picks this so each shard is loader-file sized
#: (e.g. ~1 GB), which also bounds the per-shard ordering window at
#: any corpus size — shard count, not corpus size, is the knob
_SHUFFLE_SHARDS = 64

#: Training-shuffle hash: a real avalanche hash (xxhash64 over the
#: domain-tagged id), NOT a multiplicative bucket — round-9
#: measurement showed the old shared-multiplier scheme made
#: shard % 4 EQUAL the quality-sample bucket % 4 for every document
#: (multiplicative hashes can never decorrelate power-of-2 residues;
#: see _WINNOW_SPLIT_BUCKET_SQL). Domain tag 2^45; doc ids below 2^44
#: keep tags disjoint. Spark evaluates F.xxhash64 natively; the
#: oracle replays the signed value via xxh64_long_sql (signedness
#: matters: shard = pmod and the position ORDER BY both read it).
_SHARD_HASH_OFFSET = 1 << 45

_SHARD_HASH_SQL = xxh64_long_sql(f"(doc_id + {_SHARD_HASH_OFFSET})")

_SHARD_SHUFFLE_ORACLE = f"""
WITH hashed AS MATERIALIZED (
  SELECT doc_id, {_SHARD_HASH_SQL} AS h FROM documents
)
SELECT doc_id,
       CAST(((h % {_SHUFFLE_SHARDS}) + {_SHUFFLE_SHARDS})
            % {_SHUFFLE_SHARDS} AS BIGINT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY ((h % {_SHUFFLE_SHARDS}) + {_SHUFFLE_SHARDS})
                      % {_SHUFFLE_SHARDS}
         ORDER BY h, doc_id) AS BIGINT) AS position
FROM hashed
"""

@register(
    "shard_shuffle_assignment",
    oracle=_SHARD_SHUFFLE_ORACLE,
    doc="Deterministic global training shuffle: every document gets a "
    "(shard, position) from a multiplicative hash of its id — the "
    "reproducible corpus permutation a data loader consumes, "
    "re-materializable byte-identically on any engine (same contract "
    "as split_train_val_test; a domain-tagged xxhash64, genuinely "
    "independent of every split/sample bucket — see _SHARD_HASH_SQL). "
    "Row-local "
    "shard assignment, then ONE "
    "shuffle for the within-shard ordering window; the shard count is "
    "chosen so a shard is loader-file sized, which bounds the window "
    "partition at any corpus scale (same argument as the packing "
    "shard key).",
)
def shard_shuffle_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    h = F.xxhash64(F.col("doc_id") + F.lit(_SHARD_HASH_OFFSET))
    shard = F.pmod(h, F.lit(_SHUFFLE_SHARDS)).cast("bigint")
    w = Window.partitionBy(shard).orderBy(h, F.col("doc_id"))
    return d.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(w).cast("bigint").alias("position"),
    )

_MIXTURE_ORACLE = """
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_lang FROM documents GROUP BY lang
), total AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents
), rates AS (
  SELECT lang, n_lang,
         least(1.0, 0.2 * n_total / n_lang) AS rate
  FROM counts CROSS JOIN total
)
SELECT d.lang,
       CAST(max(r.n_lang) AS BIGINT) AS n_lang,
       ROUND(max(r.rate), 6) AS rate,
       CAST(count(*) FILTER (WHERE d.doc_id % 10000
            < CAST(floor(r.rate * 10000) AS BIGINT)) AS BIGINT) AS n_kept
FROM documents d JOIN rates r USING (lang)
GROUP BY d.lang
"""

@register(
    "mixture_resample_by_lang",
    oracle=_MIXTURE_ORACLE,
    doc="Deterministic mixture rebalancing: compute per-language "
    "acceptance rates toward a uniform 20% target share, then select "
    "rows by a doc_id modulus (hash-free, replayable, no RNG state) "
    "— how a pipeline downsamples over-represented languages to hit "
    "a target training mixture. Rates derive from two tiny broadcast "
    "aggregates; the selection predicate is row-local.",
)
def mixture_resample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    total = d.agg(F.count(F.lit(1)).alias("n_total"))
    rates = counts.crossJoin(total).select(
        "lang",
        "n_lang",
        F.least(F.lit(1.0), 0.2 * F.col("n_total") / F.col("n_lang")).alias(
            "rate"
        ),
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.max("n_lang").alias("n_lang"),
            F.round(F.max("rate"), 6).alias("rate"),
            F.sum(
                F.when(
                    F.col("doc_id") % 10000
                    < F.floor(F.col("rate") * 10000).cast("bigint"),
                    1,
                ).otherwise(0)
            ).alias("n_kept"),
        )
    )

#: quality-weighted sampling bucket: a third odd multiplier (xxhash
#: prime3) decorrelating the odd-modulus components of acceptance from
#: both the uniform
#: sample bucket and the split bucket. 2^31 * 3266489917 ~ 7.0e18 < 2^63.
_QSAMPLE_BUCKET_SQL = "((doc_id % 2147483648) * 3266489917) % 4294967296 % 100"

_QUALITY_SAMPLE_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang, {_QUALITY_CASE_SQL} AS quality
  FROM documents
)
SELECT doc_id, lang, ROUND(quality, 6) AS quality
FROM scored
WHERE {_QSAMPLE_BUCKET_SQL} < CAST(floor(quality * 100) AS BIGINT)
"""

@register(
    "sample_quality_weighted",
    oracle=_QUALITY_SAMPLE_ORACLE,
    doc="Importance sampling by quality: each document keeps with "
    "probability equal to its quality score (P(keep) = quality, via "
    "deterministic hash-bucket < floor(quality*100)) — high-quality "
    "docs are retained, low-quality docs thinned proportionally, and "
    "the whole selection is replayable byte-for-byte like the other "
    "hash-mod samplers. Both engines evaluate the identical score "
    "expression left-to-right, so the acceptance threshold is the "
    "same double on both sides. Scan-local: no shuffle at all.",
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    q = quality_score(F.col("text"))
    return (
        d.withColumn("quality", q)
        .filter(
            F.expr(_QSAMPLE_BUCKET_SQL)
            < F.floor(F.col("quality") * 100).cast("bigint")
        )
        .select("doc_id", "lang", F.round("quality", 6).alias("quality"))
    )

_SOURCE_QUALITY_ORACLE = f"""
WITH scored AS (
  SELECT source,
         {_QUALITY_CASE_SQL} AS quality
  FROM documents
), rolled AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         ROUND(AVG(quality), 6) AS avg_quality
  FROM scored GROUP BY source
)
SELECT source, n_docs, avg_quality,
       CAST(ntile(4) OVER (ORDER BY avg_quality DESC, source) AS INTEGER)
           AS quality_quartile,
       ntile(4) OVER (ORDER BY avg_quality DESC, source) = 4 AS drop_source
FROM rolled
"""

@register(
    "source_quality_rollup",
    oracle=_SOURCE_QUALITY_ORACLE,
    doc="Source-level quality gate: per-source document count + mean "
    "quality score, quartiled; the bottom quartile is flagged for "
    "drop — curation pipelines prune whole sources/domains before "
    "per-document filtering because source reputation is the cheaper "
    "signal. Per-doc scoring is row-local; the rollup shuffles one "
    "row per source; the quartile window runs on the (tiny) source "
    "relation only.",
)
def source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spread(table(spark, sf_dir, "documents"))
    rolled = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(quality_score(F.col("text"))), 6).alias("avg_quality"),
    )
    w = Window.orderBy(F.col("avg_quality").desc(), "source")
    return rolled.select(
        "source",
        "n_docs",
        "avg_quality",
        F.ntile(4).over(w).cast("int").alias("quality_quartile"),
        (F.ntile(4).over(w) == 4).alias("drop_source"),
    )

_TOKEN_BUDGET_ORACLE = """
WITH avail AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS available_tokens
  FROM documents
  GROUP BY lang
), weighted AS (
  SELECT lang, n_docs, available_tokens,
         CASE WHEN lang = 'en' THEN 0.5
              ELSE 0.5 / greatest(
                     CAST((SELECT count(DISTINCT lang) FROM documents)
                          AS DOUBLE) - 1, 1)
         END AS target_weight
  FROM avail
)
SELECT lang, n_docs, available_tokens,
       ROUND(target_weight, 6) AS target_weight,
       CAST(floor(target_weight * 1000000) AS BIGINT) AS target_tokens,
       ROUND(target_weight * 1000000 / available_tokens, 6) AS epochs,
       ROUND(least(1.0, target_weight * 1000000 / available_tokens), 6)
         AS sample_rate
FROM weighted
"""

@register(
    "mixture_token_budget",
    oracle=_TOKEN_BUDGET_ORACLE,
    doc="Token-budget mixture planning: given per-language available "
    "token counts and a target mixture (50% en, rest uniform), derive "
    "each language's token budget, epoch count (repeat factor when "
    "under-resourced) and sampling rate (when over-resourced) for a "
    "1M-token training budget — the planning step that precedes "
    "mixture_resample_by_lang's execution step. One grouped agg over "
    "the corpus; the plan itself is a handful of rows.",
)
def mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    avail = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text")).cast("bigint")).alias(
            "available_tokens"
        ),
    )
    # max(..., 1) guards the single-language corpus: the eager Python
    # division must not raise even when the otherwise() branch is dead.
    # dropna first: SQL count(DISTINCT lang) never counts NULL, while
    # DataFrame distinct().count() does (round-6 NULL-fixture pin)
    n_langs = d.select("lang").na.drop().distinct().count()
    weight = F.when(F.col("lang") == "en", F.lit(0.5)).otherwise(
        F.lit(0.5 / max(n_langs - 1, 1))
    )
    budget = weight * 1_000_000
    return avail.select(
        "lang",
        "n_docs",
        "available_tokens",
        F.round(weight, 6).alias("target_weight"),
        F.floor(budget).cast("bigint").alias("target_tokens"),
        F.round(budget / F.col("available_tokens"), 6).alias("epochs"),
        F.round(
            F.least(F.lit(1.0), budget / F.col("available_tokens")), 6
        ).alias("sample_rate"),
    )

#: temperature for source-share flattening (w_i ~ p_i^alpha): <1 boosts
#: small sources, 1 is proportional sampling
_MIX_ALPHA = 0.7

_TEMPERATURE_MIX_ORACLE = f"""
WITH toks AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents
  GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM toks
), sh AS (
  SELECT source, n_docs, n_tokens,
         CAST(n_tokens AS DOUBLE) / total_tokens AS share,
         pow(CAST(n_tokens AS DOUBLE) / total_tokens, {_MIX_ALPHA}) AS w_raw
  FROM toks, tot
), z AS (
  SELECT sum(w_raw) AS z FROM sh
)
SELECT source, n_docs, n_tokens,
       ROUND(share, 6) AS raw_share,
       ROUND(w_raw / z, 6) AS weight,
       ROUND(w_raw / z * 1000000 / n_tokens, 6) AS epochs
FROM sh, z
"""

@register(
    "mixture_temperature_weights",
    oracle=_TEMPERATURE_MIX_ORACLE,
    doc="Temperature-based source mixing: each source's sampling weight "
    "is its token share raised to alpha=0.7 and renormalized — the "
    "standard flattening that up-weights small sources without "
    "letting any source dominate; epochs is the repeat factor at a "
    "1M-token budget. The corpus is scanned ONCE into a source-"
    "cardinality aggregate; the two normalization totals are global "
    "windows over those few rows (not scalar-subquery branches, which "
    "would re-execute the corpus aggregate per branch — NOTES.md "
    "lesson 9), so the single-partition window holds O(sources) rows "
    "at any corpus size.",
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy()
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w)
    sh = toks.select(
        "source",
        "n_docs",
        "n_tokens",
        share.alias("share"),
        F.pow(share, F.lit(_MIX_ALPHA)).alias("w_raw"),
    )
    weight = F.col("w_raw") / F.sum("w_raw").over(w)
    return sh.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("share"), 6).alias("raw_share"),
        F.round(weight, 6).alias("weight"),
        F.round(weight * 1000000 / F.col("n_tokens"), 6).alias("epochs"),
    )

_CURRICULUM_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         {_QUALITY_CASE_SQL} AS quality
  FROM documents
), phased AS (
  SELECT CASE WHEN quality >= 0.7 THEN 0
              WHEN quality >= 0.4 THEN 1
              ELSE 2 END AS phase,
         quality, n_tokens
  FROM scored
), rolled AS (
  SELECT phase,
         CAST(count(*) AS BIGINT) AS n_docs,
         ROUND(AVG(quality), 6) AS avg_quality,
         CAST(sum(n_tokens) AS BIGINT) AS phase_tokens
  FROM phased GROUP BY phase
)
SELECT phase, n_docs, avg_quality, phase_tokens,
       CAST(sum(phase_tokens) OVER (ORDER BY phase
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens
FROM rolled
"""

@register(
    "curriculum_phase_stats",
    oracle=_CURRICULUM_ORACLE,
    doc="Curriculum phasing: documents bin into training phases by "
    "FIXED quality thresholds (cleanest data first), with per-phase "
    "doc/token counts and the cumulative token schedule. Phase "
    "assignment is row-local (no global ntile sort — a global ranked "
    "window would be the scale-killer here), so the whole query is "
    "one scan + a 3-row aggregate; the cumulative window runs over "
    "phases, not documents.",
)
def curriculum_phase_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spread(table(spark, sf_dir, "documents"))
    scored = d.select(
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
    )
    phased = scored.withColumn(
        "phase",
        F.when(F.col("quality") >= 0.7, 0)
        .when(F.col("quality") >= 0.4, 1)
        .otherwise(2),
    )
    rolled = phased.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.sum("n_tokens").alias("phase_tokens"),
    )
    w = Window.orderBy("phase").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return rolled.select(
        "phase",
        "n_docs",
        "avg_quality",
        "phase_tokens",
        F.sum("phase_tokens").over(w).cast("bigint").alias("cum_tokens"),
    )

#: The corpus language domain is closed (documents.lang takes exactly
#: these five values at every SF); a FIXED per-lang expression keeps
#: the 5-term JS sums in one deterministic left-to-right IEEE order on
#: both engines — a groupBy over (source, lang) would sum the terms in
#: nondeterministic order and flake the hash at the last ulp.
_JS_LANGS = ("de", "en", "es", "fr", "zh")

def _js_sql_terms() -> tuple[str, str]:
    """DuckDB SQL for the two JS sums, mirroring the Spark expression
    structure token for token (same divisions, same ln ratio)."""
    p_terms, q_terms = [], []
    for lang in _JS_LANGS:
        p = f"(n_{lang} / n_docs)"
        q = f"(c_{lang} / n_corpus)"
        m = f"(({p} + {q}) / 2)"
        p_terms.append(
            f"CASE WHEN n_{lang} > 0 THEN {p} * ln({p} / {m}) ELSE 0.0 END"
        )
        q_terms.append(
            f"CASE WHEN c_{lang} > 0 THEN {q} * ln({q} / {m}) ELSE 0.0 END"
        )
    return " + ".join(p_terms), " + ".join(q_terms)

_JS_P, _JS_Q = _js_sql_terms()

_MIXTURE_JS_ORACLE = f"""
WITH per_source AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         {", ".join(
             f"CAST(sum(CASE WHEN lang = '{lang}' THEN 1 ELSE 0 END) AS BIGINT)"
             f" AS n_{lang}"
             for lang in _JS_LANGS
         )}
  FROM documents GROUP BY source
), corpus AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n_corpus,
         {", ".join(
             f"CAST(sum(n_{lang}) AS BIGINT) AS c_{lang}"
             for lang in _JS_LANGS
         )}
  FROM per_source
)
SELECT source, n_docs,
       round((0.5 * ({_JS_P}) + 0.5 * ({_JS_Q})) / ln(2), 6)
         AS js_divergence
FROM per_source, corpus
"""

@register(
    "mixture_js_divergence_by_source",
    oracle=_MIXTURE_JS_ORACLE,
    doc="Language-mixture drift per source: Jensen-Shannon divergence "
    "(bits) between each source's language distribution and the whole "
    "corpus's — the mixture-monitoring primitive that flags a source "
    "whose language makeup shifted between crawls. One grouped pass "
    "over documents (source key) emits per-lang conditional counts; "
    "the corpus marginal is summed from that 20-row result (NO second "
    "scan) and broadcast back as one row. The closed 5-lang domain is "
    "expanded to fixed columns so the JS sums run in one deterministic "
    "operand order — see _JS_LANGS.",
)
def mixture_js_divergence_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            # when/otherwise, not a bare boolean cast: (NULL == 'de')
            # is NULL, and a group whose every lang is NULL would sum
            # to NULL instead of 0 (round-6 NULL-text probe pin)
            F.sum(
                F.when(F.col("lang") == lang, 1).otherwise(0)
            ).alias(f"n_{lang}")
            for lang in _JS_LANGS
        ],
    )
    corpus = per_source.agg(
        F.sum("n_docs").alias("n_corpus"),
        *[F.sum(f"n_{lang}").alias(f"c_{lang}") for lang in _JS_LANGS],
    )
    joined = per_source.crossJoin(corpus)

    ln2 = F.log(F.lit(2.0))
    p_sum, q_sum = None, None
    for lang in _JS_LANGS:
        p = F.col(f"n_{lang}") / F.col("n_docs")
        q = F.col(f"c_{lang}") / F.col("n_corpus")
        m = (p + q) / 2
        tp = F.when(F.col(f"n_{lang}") > 0, p * F.log(p / m)).otherwise(0.0)
        tq = F.when(F.col(f"c_{lang}") > 0, q * F.log(q / m)).otherwise(0.0)
        p_sum = tp if p_sum is None else (p_sum + tp)
        q_sum = tq if q_sum is None else (q_sum + tq)
    js = (0.5 * p_sum + 0.5 * q_sum) / ln2
    return joined.select(
        "source", "n_docs", F.round(js, 6).alias("js_divergence")
    )

#: DSIR split: which docs act as the TARGET sample (pretend benchmark /
#: domain corpus) vs the RAW pool being scored. Domain-tagged xxhash64
#: bucket, same discipline as _WINNOW_SPLIT_OFFSET / _SHARD_HASH_OFFSET
#: (tags 2^44 / 2^45 / 2^46 stay disjoint for doc ids below 2^44).
_DSIR_SPLIT_OFFSET = 1 << 46

#: hashed n-gram feature space (Xie et al. 2023 use 10k buckets; 256
#: keeps the oracle's per-bucket replay readable while preserving the
#: shape — the bucket count is a CONSTANT, never corpus-sized)
_DSIR_BUCKETS = 256

_DSIR_SPLIT_SQL = (
    f"((({xxh64_long_sql(f'(doc_id + {_DSIR_SPLIT_OFFSET})')})"
    " % 10) + 10) % 10"
)

def _dsir_oracle() -> str:
    from rabbithole_spark.functions.xxh64_sql import xxh64_sql

    b = _DSIR_BUCKETS
    return rf"""
WITH tok AS MATERIALIZED (
  SELECT doc_id,
         {_DSIR_SPLIT_SQL} AS split,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     w -> w <> '') AS w
  FROM documents
  WHERE text IS NOT NULL
), grams AS MATERIALIZED (
  SELECT doc_id, split, gram FROM (
    SELECT doc_id, split, unnest(w) AS gram FROM tok
    UNION ALL
    SELECT t.doc_id, t.split, t.w[u.i] || ' ' || t.w[u.i + 1] AS gram
    FROM tok t, unnest(range(1, len(t.w))) AS u(i)
  )
), gcounts AS MATERIALIZED (
  SELECT doc_id, split, gram, CAST(count(*) AS BIGINT) AS n
  FROM grams GROUP BY doc_id, split, gram
), gdim AS MATERIALIZED (
  SELECT gram, ((({xxh64_sql('gram')}) % {b}) + {b}) % {b} AS bucket
  FROM (SELECT DISTINCT gram FROM gcounts)
), dcounts AS MATERIALIZED (
  SELECT doc_id, split, bucket, CAST(sum(n) AS BIGINT) AS n
  FROM gcounts JOIN gdim USING (gram)
  GROUP BY doc_id, split, bucket
), lm AS MATERIALIZED (
  SELECT s.bucket, coalesce(t.ct, 0) AS ct, coalesce(r.cr, 0) AS cr
  FROM (SELECT unnest(range(0, {b})) AS bucket) s
  LEFT JOIN (SELECT bucket, CAST(sum(n) AS BIGINT) AS ct
             FROM dcounts WHERE split = 0 GROUP BY bucket) t USING (bucket)
  LEFT JOIN (SELECT bucket, CAST(sum(n) AS BIGINT) AS cr
             FROM dcounts WHERE split <> 0 GROUP BY bucket) r USING (bucket)
), tot AS (
  SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM lm
), delta AS (
  SELECT bucket,
         CAST(ln((ct + 1) / CAST(nt + {b} AS DOUBLE)) AS DECIMAL(15,12))
       - CAST(ln((cr + 1) / CAST(nr + {b} AS DOUBLE)) AS DECIMAL(15,12)) AS d
  FROM lm, tot
), scored AS (
  SELECT doc_id,
         CAST(sum(n) AS BIGINT) AS n_feats,
         CAST(CAST(sum(CAST(n AS DECIMAL(18,0)) * d) AS VARCHAR)
              AS DOUBLE) AS lr
  FROM dcounts JOIN delta USING (bucket)
  WHERE split <> 0
  GROUP BY doc_id
)
SELECT doc_id, n_feats,
       round(lr, 6) AS dsir_logratio,
       lr > 0.0 AS selected
FROM scored
"""

@register(
    "mixture_dsir_importance",
    oracle=_dsir_oracle(),
    doc="DSIR targeted data selection (Xie et al. 2023, "
    "arXiv:2302.03169): score every raw-pool document by its "
    "importance log-ratio under two Laplace-smoothed bag-of-hashed-"
    "ngram models — one fit on a target sample (here a 10% domain-"
    "tagged xxhash64 split standing in for the benchmark/domain "
    "corpus), one on the raw pool — then select docs whose total "
    "log-ratio favors the target (sum over unigram+bigram feature "
    "instances of log p_target(bucket)/log p_raw(bucket); "
    "selected = lr > 0, a row-local fixed threshold like the CCNet "
    "classifier's, never a global ntile). Features are xxhash64-"
    "bucketed into a CONSTANT 256-bucket space, so both LM tables "
    "are 256 rows at any corpus size. Plan: one tokenize/explode "
    "pass feeds a localCheckpointed (doc, split, bucket) count "
    "relation consumed by the two LM fits and the scoring join "
    "(lesson 9); the LM/delta tables broadcast back; the only "
    "corpus-sized shuffles are the feature-count groupBy and the "
    "per-doc rollup. Numeric discipline: per-bucket log-prob deltas "
    "are DECIMAL(15,12) differences weighted by exact integer "
    "counts, so the per-doc sum is order-insensitive; one "
    "correctly-rounded decimal->double conversion per engine "
    "(numeric.py recipe). The oracle replays the split and the "
    "bucket hashing bit-exactly via xxh64_sql.",
)
def mixture_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _DSIR_BUCKETS
    d = spread(table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    w = F.filter(tokens(F.lower(F.col("text"))), lambda x: x != "")
    # unigrams + bigrams in one generator pass; the bigram zip is over
    # two equal-length slices, so zip_with never NULL-pads
    bigrams = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, x: F.concat(a, F.lit(" "), x),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = d.select(
        "doc_id",
        F.pmod(
            F.xxhash64(F.col("doc_id") + F.lit(_DSIR_SPLIT_OFFSET)),
            F.lit(10),
        ).alias("split"),
        F.explode(F.concat(w, bigrams)).alias("gram"),
    ).select(
        "doc_id",
        "split",
        F.pmod(F.xxhash64("gram"), F.lit(b)).alias("bucket"),
    )
    dcounts = (
        feats.groupBy("doc_id", "split", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    spine = spark.range(b).select(F.col("id").cast("int").alias("bucket"))
    ct = (
        dcounts.filter(F.col("split") == 0)
        .groupBy("bucket")
        .agg(F.sum("n").alias("ct"))
    )
    cr = (
        dcounts.filter(F.col("split") != 0)
        .groupBy("bucket")
        .agg(F.sum("n").alias("cr"))
    )
    lm = (
        spine.join(ct, "bucket", "left")
        .join(cr, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cr", F.lit(0)).alias("cr"),
        )
        .localCheckpoint(eager=False)
    )
    tot = lm.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    delta = (
        F.log((F.col("ct") + 1) / (F.col("nt") + b).cast("double")).cast(
            DecimalType(15, 12)
        )
        - F.log((F.col("cr") + 1) / (F.col("nr") + b).cast("double")).cast(
            DecimalType(15, 12)
        )
    )
    deltas = lm.crossJoin(tot).select("bucket", delta.alias("d"))
    scored = (
        dcounts.filter(F.col("split") != 0)
        .join(F.broadcast(deltas), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_feats"),
            F.sum(F.col("n").cast(DecimalType(18, 0)) * F.col("d"))
            .cast("double")
            .alias("lr"),
        )
    )
    return scored.select(
        "doc_id",
        "n_feats",
        F.round("lr", 6).alias("dsir_logratio"),
        (F.col("lr") > 0.0).alias("selected"),
    )

#: E-S sampler split tag: 2^47 stays disjoint from the winnow (2^44),
#: shard (2^45) and DSIR (2^46) domains for doc ids below 2^44
_ES_TAG = 1 << 47

#: fixed sample size (k < corpus size at every SF)
_ES_K = 100

#: Laplace-style weight floor: quality_score is a discrete {0, .3, .4,
#: .7, 1} heuristic and CAN be exactly 0; the floor keeps zero-score
#: docs sampleable (w > 0 is E-S's precondition) and avoids the
#: ln(u)/0 = -inf key edge entirely
_ES_W_FLOOR = 0.1

_ES_M = 1 << 53  # u = (h mod 2^53 + 1) / 2^53: exact double, in (0, 1]

_ES_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang,
         {{q}} AS quality,
         (((({{h}}) % {_ES_M}) + {_ES_M}) % {_ES_M} + 1)
           / CAST({_ES_M} AS DOUBLE) AS u
  FROM documents
  WHERE text IS NOT NULL
), keyed AS (
  SELECT doc_id, lang, quality,
         ln(u) / (quality + {_ES_W_FLOOR}) AS es_key
  FROM scored
), topk AS (
  -- ORDER BY/LIMIT on the UNROUNDED key, in a subquery: in the final
  -- SELECT DuckDB resolves `ORDER BY es_key` to the round(...) output
  -- alias, so a 6-dp rounded tie straddling the k boundary would pick
  -- different rows than Spark's unrounded ranking (round-9 advice)
  SELECT doc_id, lang, quality, es_key
  FROM keyed
  ORDER BY es_key DESC, doc_id
  LIMIT {_ES_K}
)
SELECT doc_id, lang, round(quality, 6) AS quality,
       round(es_key, 6) AS es_key
FROM topk
"""

def _es_oracle() -> str:
    return _ES_ORACLE.format(
        q=_QUALITY_CASE_SQL,
        h=xxh64_long_sql(f"(doc_id + {_ES_TAG})"),
    )

# Registered round 10 (built + 3-SF oracle-verified round 9; same
# one-round window-arithmetic deferral as text_gopher_rules).
_ES_DOC = (
    "Weighted sampling WITHOUT replacement, exactly k docs "
    "(Efraimidis & Spirakis 2006): each doc draws a deterministic "
    "uniform u from a domain-tagged xxhash64 (u = (h mod 2^53 + 1) / "
    "2^53, exact in double) and is ranked by ln(u)/w — the top-k by "
    "that key IS a weighted sample without replacement, where w = "
    "quality_score + 0.1 (floored: the discrete heuristic can be "
    "exactly 0 and E-S requires w > 0). Unlike "
    "sample_quality_weighted (independent Bernoulli keeps, "
    "variable-size output), this yields a FIXED-SIZE sample — the "
    "eval-set construction primitive. Deterministic end-to-end: no "
    "RNG state, replayable byte-for-byte, ties broken by doc_id. "
    "Scale shape: key assignment is scan-local; the only 'sort' is "
    "TakeOrderedAndProject bounded by k, never a global sort — at "
    "100 TB this is one map pass + a k-row reduction."
)

@register("sample_weighted_no_replacement", oracle=_es_oracle(), doc=_ES_DOC)
def sample_weighted_no_replacement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    q = quality_score(F.col("text"))
    u = (
        F.pmod(F.xxhash64(F.col("doc_id") + F.lit(_ES_TAG)), F.lit(_ES_M))
        + 1
    ) / F.lit(float(_ES_M))
    key = F.log(u) / (q + F.lit(_ES_W_FLOOR))
    return (
        d.select("doc_id", "lang", q.alias("quality"), key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), F.col("doc_id"))
        .limit(_ES_K)
        .select(
            "doc_id",
            "lang",
            F.round("quality", 6).alias("quality"),
            F.round("es_key", 6).alias("es_key"),
        )
    )
