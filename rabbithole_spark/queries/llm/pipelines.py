"""Composed curation pipelines and corpus diagnostics."""

from __future__ import annotations

from pyspark.sql import (
    DataFrame,
    SparkSession,
)
from pyspark.sql import functions as F
from rabbithole_spark.catalog import register
from rabbithole_spark.operators.dedup import spread
from rabbithole_spark.operators.text_analysis import (
    fingerprint,
    punct_ratio,
    quality_score,
    tokens,
)
from rabbithole_spark.session import table
from rabbithole_spark.queries.llm._common import _QUALITY_CASE_SQL


_CLEAN_ORACLE = """
WITH filtered AS (
  SELECT doc_id, lang, n_chars,
         md5(trim(lower(regexp_replace(regexp_replace(text, '[\\.,;:!\\?''"]', '', 'g'), '\\s+', ' ', 'g')))) AS fp
  FROM documents
  WHERE n_chars BETWEEN 50 AND 10000
    AND CAST(length(regexp_replace(text, '[^\\.,;:!\\?''"]', '', 'g')) AS DOUBLE)
        / CAST(greatest(length(text), 1) AS DOUBLE) < 0.1
)
SELECT min(doc_id) AS keep_id, fp,
       count(*) AS n_copies,
       min(lang) AS lang
FROM filtered
GROUP BY fp
"""

@register(
    "pipeline_clean_corpus",
    oracle=_CLEAN_ORACLE,
    doc="Composed curation pipeline: quality pre-filter (length band + "
    "punctuation ratio) -> canonical-fingerprint dedup keeping the "
    "smallest id — filters run at scan speed BEFORE the dedup shuffle "
    "(the ordering that matters at 100 TB).",
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    filtered = d.filter(
        F.col("n_chars").between(50, 10000) & (punct_ratio(F.col("text")) < 0.1)
    ).select("doc_id", "lang", fingerprint(F.col("text")).alias("fp"))
    return filtered.groupBy("fp").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("lang").alias("lang"),
    ).select("keep_id", "fp", "n_copies", "lang")

_CURATION_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source, lang, text,
         {_QUALITY_CASE_SQL} AS quality
  FROM documents
), rolled AS (
  SELECT source, ROUND(AVG(quality), 6) AS avg_quality
  FROM scored GROUP BY source
), kept_sources AS (
  SELECT source FROM (
    SELECT source, ntile(4) OVER (ORDER BY avg_quality DESC, source) AS qt
    FROM rolled) WHERE qt < 4
), wc AS (
  SELECT doc_id, word, count(*) AS c
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents)
  GROUP BY doc_id, word
), nonrep AS (
  SELECT doc_id FROM wc GROUP BY doc_id
  HAVING (CAST(count(*) AS DOUBLE) / sum(c)) >= 0.25
), filtered AS (
  SELECT s.doc_id, s.lang,
         md5(trim(lower(regexp_replace(regexp_replace(s.text,
             '[\\.,;:!\\?''"]', '', 'g'), '\\s+', ' ', 'g')))) AS fp
  FROM scored s
  JOIN kept_sources USING (source)
  JOIN nonrep USING (doc_id)
  WHERE s.quality >= 0.7
), survivors AS (
  SELECT min_by(lang, doc_id) AS lang FROM filtered GROUP BY fp
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
FROM survivors GROUP BY lang
"""

@register(
    "pipeline_curation_full",
    oracle=_CURATION_ORACLE,
    doc="Full curation DAG composed from the catalog's primitives: "
    "source-level quality gate (drop bottom quartile) -> per-document "
    "quality >= 0.7 -> repetition filter (distinct-word ratio >= 0.25) "
    "-> canonical-fingerprint dedup (min-doc_id keeper) -> per-lang "
    "survivor counts. One text scan feeds the scoring and fingerprint "
    "paths; the source gate and keeper joins broadcast; the word-count "
    "repetition pass is the only token-level shuffle. The shape every "
    "training-data pipeline runs end-to-end, oracle-checked as one "
    "plan.",
)
def pipeline_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spread(table(spark, sf_dir, "documents"))
    # one scoring pass emits quality AND the dedup digest, then
    # localCheckpoints the compact (no-text) per-doc rows: the quality
    # rollup branch and the filtered join both read the materialized
    # result instead of re-scanning + re-scoring the corpus (broadcast
    # subquery branches re-execute their upstream plan — NOTES.md
    # lesson 9). Digesting dropped docs too is the price, far below a
    # second full text scan.
    scored = d.select(
        "doc_id", "source", "lang",
        quality_score(F.col("text")).alias("quality"),
        fingerprint(F.col("text")).alias("fp"),
    ).localCheckpoint(eager=False)
    rolled = scored.groupBy("source").agg(
        F.round(F.avg("quality"), 6).alias("avg_quality")
    )
    w = Window.orderBy(F.col("avg_quality").desc(), "source")
    kept_sources = (
        rolled.select("source", F.ntile(4).over(w).alias("qt"))
        .filter(F.col("qt") < 4)
        .select("source")
    )
    wc = (
        d.select(
            "doc_id",
            F.explode(tokens(F.lower(F.col("text")))).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nonrep = (
        wc.groupBy("doc_id")
        .agg(
            (F.count(F.lit(1)) / F.sum("c")).alias("ratio")
        )
        .filter(F.col("ratio") >= 0.25)
        .select("doc_id")
    )
    filtered = (
        scored.join(kept_sources, "source")
        .join(nonrep, "doc_id")
        .filter(F.col("quality") >= 0.7)
        .select("doc_id", "lang", "fp")
    )
    survivors = filtered.groupBy("fp").agg(
        F.min_by("lang", "doc_id").alias("lang")
    )
    return survivors.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))

#: deterministic version membership for the snapshot-diff query: v1 =
#: hash buckets 0-89, v2 = buckets 10-99, so ~80% of docs overlap and
#: both added and removed sets are non-empty by construction
_DIFF_V1_SQL = "((doc_id % 2147483648) * 2654435761) % 4294967296 % 100 < 90"

_DIFF_V2_SQL = "((doc_id % 2147483648) * 2654435761) % 4294967296 % 100 >= 10"

_CORPUS_DIFF_ORACLE = f"""
WITH v1 AS (
  SELECT sha256(coalesce(text, '')) AS h
  FROM documents WHERE {_DIFF_V1_SQL}
), v2 AS (
  SELECT sha256(coalesce(text, '')) AS h
  FROM documents WHERE {_DIFF_V2_SQL}
)
SELECT status, n_docs FROM (
  SELECT 'added' AS status,
         CAST((SELECT count(*) FROM v2 WHERE h NOT IN (SELECT h FROM v1))
              AS BIGINT) AS n_docs
  UNION ALL
  SELECT 'removed',
         CAST((SELECT count(*) FROM v1 WHERE h NOT IN (SELECT h FROM v2))
              AS BIGINT)
  UNION ALL
  SELECT 'unchanged',
         CAST((SELECT count(*) FROM v1 WHERE h IN (SELECT h FROM v2))
              AS BIGINT)
)
"""

@register(
    "corpus_snapshot_diff",
    oracle=_CORPUS_DIFF_ORACLE,
    doc="Dataset-version diff by content digest: two corpus snapshots "
    "(deterministic overlapping hash-splits standing in for v1/v2) "
    "compare as added / removed / unchanged document counts via "
    "digest anti- and semi-joins — the audit that gates a training-"
    "data release against its predecessor. Only 32-byte digests move "
    "through the shuffles; the text is scanned once per side.",
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # coalesce BEFORE hashing: a NULL text would yield a NULL digest,
    # which left_anti KEEPS (null keys never match) while the oracle's
    # NOT IN drops — and one NULL in the v1 subquery would make NOT IN
    # reject every v2 row. Hashing '' keeps both engines agreeing for
    # any input, not just the non-null synthetic corpus.
    sha = F.sha2(F.coalesce(F.col("text"), F.lit("")).cast("binary"), 256)
    v1 = d.filter(F.expr(_DIFF_V1_SQL)).select(sha.alias("h"))
    v2 = d.filter(F.expr(_DIFF_V2_SQL)).select(sha.alias("h"))
    added = v2.join(v1, "h", "left_anti").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).select(F.lit("added").alias("status"), "n_docs")
    removed = v1.join(v2, "h", "left_anti").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).select(F.lit("removed").alias("status"), "n_docs")
    unchanged = v1.join(v2, "h", "left_semi").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).select(F.lit("unchanged").alias("status"), "n_docs")
    return added.unionByName(removed).unionByName(unchanged)

_SKEW_DIAG_ORACLE = """
WITH per_key AS (
  SELECT l_suppkey AS join_key, CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY l_suppkey
), tot AS (
  SELECT CAST(sum(n_rows) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM per_key
)
SELECT join_key, n_rows,
       round(n_rows / CAST(n_total AS DOUBLE), 6) AS share,
       round(n_rows / (n_total / CAST(n_keys AS DOUBLE)), 6)
         AS skew_factor,
       CAST(row_number() OVER (ORDER BY n_rows DESC, join_key)
            AS INTEGER) AS rank
FROM per_key, tot
ORDER BY n_rows DESC, join_key
LIMIT 10
"""

@register(
    "diagnostic_join_key_skew",
    oracle=_SKEW_DIAG_ORACLE,
    doc="Join-key skew diagnostic: the top-10 heaviest l_suppkey values "
    "with their row share and skew factor (count over the mean per-key "
    "count) — the MEASURE step that decides whether a fact-fact join "
    "needs salting (operators/skew.py) or can rely on AQE's skew-join "
    "split. One partially-aggregated shuffle on the key; totals derive "
    "from the 100-row per-key relation; TakeOrderedAndProject for the "
    "top-10 (no global sort). At 100 TB this is the cheap pre-flight "
    "you run before committing to a shuffle strategy; a skew_factor "
    "near 1.0 everywhere means salting would only add overhead.",
)
def diagnostic_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    per_key = (
        li.groupBy(F.col("l_suppkey").alias("join_key"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .localCheckpoint(eager=False)
    )
    tot = per_key.agg(
        F.sum("n_rows").alias("n_total"), F.count(F.lit(1)).alias("n_keys")
    )
    from pyspark.sql import Window

    # NULLS LAST explicitly: a NULL join key forms its own group, and
    # Spark's ascending default (NULLS FIRST) disagrees with DuckDB's
    # (NULLS LAST) in the rank tie-break — round-6 NULL-probe pin
    order = [F.col("n_rows").desc(), F.col("join_key").asc_nulls_last()]
    # rank AFTER the limit (the retrieval_hybrid_rrf pattern): the
    # top-10 cut is a TakeOrderedAndProject and the row_number window
    # sees only those 10 rows — ranking BEFORE the cut funneled every
    # per-key row through one single-partition window sort, exactly
    # the bottleneck this diagnostic exists to find (round-9 review);
    # ranks 1..10 over the same total order are identical either way
    return (
        per_key.crossJoin(tot)
        .select(
            "join_key",
            "n_rows",
            F.round(
                F.col("n_rows") / F.col("n_total").cast("double"), 6
            ).alias("share"),
            F.round(
                F.col("n_rows")
                / (F.col("n_total") / F.col("n_keys").cast("double")),
                6,
            ).alias("skew_factor"),
        )
        .orderBy(*order)
        .limit(10)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(*order)).cast("int")
        )
    )

#: Hour-of-day profile dimension — a closed 24-bucket domain, expanded
#: to fixed columns for the same reason as _JS_LANGS: the cosine's
#: 24-term dot product and norms evaluate in ONE deterministic
#: left-to-right IEEE order on both engines (integer counts make every
#: product exact, so the only rounding is the final sqrt/divide).
_TS_HOURS = tuple(range(24))

def _ts_fixed_sum(expr_fmt: str) -> str:
    return " + ".join(expr_fmt.format(h=h) for h in _TS_HOURS)

_TS_OUTLIER_ORACLE = f"""
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         {", ".join(
             f"CAST(sum(CASE WHEN CAST(hour(ts) AS INTEGER) = {h} "
             f"THEN 1 ELSE 0 END) AS BIGINT) AS b{h}"
             for h in _TS_HOURS
         )}
  FROM events GROUP BY user_id
), corpus AS (
  SELECT {", ".join(f"CAST(sum(b{h}) AS BIGINT) AS g{h}" for h in _TS_HOURS)}
  FROM per_user
)
SELECT user_id, n_events,
       round(({_ts_fixed_sum("(b{h} * g{h})")})
             / (sqrt({_ts_fixed_sum("(b{h} * b{h})")})
                * sqrt({_ts_fixed_sum("(g{h} * g{h})")})), 6)
         AS cosine_vs_corpus
FROM per_user, corpus
ORDER BY cosine_vs_corpus ASC, user_id
LIMIT 10
"""

@register(
    "timeseries_user_profile_outliers",
    oracle=_TS_OUTLIER_ORACLE,
    doc="Time-series profile similarity (the streaming-systems "
    "similarity-search pattern, batch form): each user's hour-of-day "
    "activity histogram as a 24-dim vector, cosine against the corpus "
    "profile, bottom-10 = the users whose daily rhythm least resembles "
    "the crowd — behavioral outlier mining over event streams. One "
    "partially-aggregated user-key shuffle emits the 24 conditional "
    "counts; the corpus vector sums from the per-user relation (no "
    "second scan) and broadcasts back as one row; "
    "TakeOrderedAndProject for the bottom-10. Integer counts keep "
    "every dot-product term exact; the fixed 24-column expansion "
    "(see _TS_HOURS) keeps the 24-term sums in one deterministic "
    "operand order on both engines.",
)
def timeseries_user_profile_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hour = F.hour("ts").cast("int")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        *[
            F.sum(F.when(hour == h, 1).otherwise(0)).alias(f"b{h}")
            for h in _TS_HOURS
        ],
    )
    corpus = per_user.agg(
        *[F.sum(f"b{h}").alias(f"g{h}") for h in _TS_HOURS]
    )
    dot = None
    nb = None
    ng = None
    for h in _TS_HOURS:
        td = F.col(f"b{h}") * F.col(f"g{h}")
        tb = F.col(f"b{h}") * F.col(f"b{h}")
        tg = F.col(f"g{h}") * F.col(f"g{h}")
        dot = td if dot is None else (dot + td)
        nb = tb if nb is None else (nb + tb)
        ng = tg if ng is None else (ng + tg)
    cos = dot / (F.sqrt(nb) * F.sqrt(ng))
    return (
        per_user.crossJoin(corpus)
        .select(
            "user_id",
            "n_events",
            F.round(cos, 6).alias("cosine_vs_corpus"),
        )
        .orderBy(F.col("cosine_vs_corpus").asc(), "user_id")
        .limit(10)
    )

_COHORT_ORACLE = """
WITH act AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
  FROM events
), tagged AS (
  SELECT user_id, wk,
         min(wk) OVER (PARTITION BY user_id) AS cohort_week
  FROM act
), cells AS (
  SELECT cohort_week,
         CAST(datediff('day', cohort_week, wk) // 7 AS INTEGER)
           AS weeks_since,
         CAST(count(*) AS BIGINT) AS n_active
  FROM tagged GROUP BY 1, 2
), sizes AS (
  SELECT cohort_week, n_active AS cohort_size
  FROM cells WHERE weeks_since = 0
)
SELECT c.cohort_week, c.weeks_since, c.n_active, s.cohort_size,
       round(c.n_active / CAST(s.cohort_size AS DOUBLE), 6)
         AS retention_rate
FROM cells c JOIN sizes s ON c.cohort_week = s.cohort_week
"""

@register(
    "cohort_weekly_retention",
    oracle=_COHORT_ORACLE,
    doc="Weekly cohort retention over the events stream: users grouped "
    "by first-activity week, then the fraction still active N weeks "
    "later — the canonical cohort triangle every product-analytics "
    "stack computes. Week buckets are Monday-truncated on both "
    "engines (DuckDB date_trunc returns DATE: cast to TIMESTAMP per "
    "the oracle-dialect pin); weeks_since is an exact integer "
    "day-diff over 7 (`div` vs `//` per the integer-division pin). "
    "Plan: distinct (user, week) activity, a user-partitioned window "
    "tags each row with its cohort (min week), one grouped pass "
    "emits the triangle, and cohort sizes are just the week-0 cells "
    "— derived, not re-aggregated, then broadcast back. Three "
    "compact shuffles total; every relation after the distinct is "
    "users x weeks, not events.",
)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    w = Window.partitionBy("user_id")
    tagged = act.withColumn("cohort_week", F.min("wk").over(w))
    cells = (
        tagged.groupBy(
            "cohort_week",
            F.expr("datediff(wk, cohort_week) div 7")
            .cast("int")
            .alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .localCheckpoint(eager=False)
    )
    sizes = cells.filter(F.col("weeks_since") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return cells.join(sizes, "cohort_week").select(
        "cohort_week",
        "weeks_since",
        "n_active",
        "cohort_size",
        F.round(
            F.col("n_active") / F.col("cohort_size").cast("double"), 6
        ).alias("retention_rate"),
    )
