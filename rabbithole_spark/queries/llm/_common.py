"""Shared helpers/constants for the LLM-pipeline query families."""

from __future__ import annotations

from pyspark.sql import (
    Column,
    DataFrame,
    SparkSession,
)
from pyspark.sql import functions as F
from rabbithole_spark.operators.text_analysis import token_count, tokens
from rabbithole_spark.session import table


def _valid_embedding_sql(col: str = "embedding", require_norm: bool = True) -> str:
    """DuckDB twin of operators.similarity.valid_embeddings — the
    round-7 malformed-vector exclusion as oracle SQL, in ONE place.
    Change BOTH or neither."""
    base = (
        f"{col} IS NOT NULL"
        f" AND len(list_filter({col}, x -> x IS NULL)) = 0"
    )
    if require_norm:
        base += (
            f" AND list_aggregate(list_transform({col},"
            f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0"
        )
    return base

def _dot_sql(a: str, b: str) -> str:
    """Sequential-fold double dot product — the oracle twin of
    operators.similarity.dot (list order == Spark's zip_with fold)."""
    return (
        f"list_aggregate(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
    )

def _sq_l2_sql(vec: str, cent: str) -> str:
    """Squared L2 between a (float) vector column and a double-list
    centroid column — same element fold as Spark's zip_with."""
    return (
        f"list_aggregate(list_transform(range(1, len({vec}) + 1), "
        f"i -> (CAST({vec}[i] AS DOUBLE) - {cent}[i]) "
        f"* (CAST({vec}[i] AS DOUBLE) - {cent}[i])), 'sum')"
    )

def _lloyd_replay_ctes(k: int, iters: int, fit_where: str | None) -> tuple[list[str], str]:
    """CTEs replaying the repo's deterministic Lloyd quantizer in
    DuckDB (similarity.py lloyd_init_first_k/lloyd_iterate):
    first-k-by-id seeding over ``fit`` (optionally a hash-mod sample),
    then ``iters`` unrolled updates — assign to the nearest centroid
    with ties to the lowest cell, per-position means, empty cells keep
    their previous centroid. Returns (ctes, final_centroid_cte)."""
    where = f" WHERE {fit_where}" if fit_where else ""
    ctes = [
        "fit AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e\n"
        f"  FROM embeddings{where})",
        f"c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster, e AS c\n"
        f"  FROM (SELECT vec_id, e FROM fit ORDER BY vec_id LIMIT {k}))",
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        ctes.append(
            f"a{it} AS (SELECT vec_id, e, cluster FROM (\n"
            f"  SELECT f.vec_id, f.e, c.cluster,\n"
            f"         row_number() OVER (PARTITION BY f.vec_id ORDER BY\n"
            f"           {_sq_l2_sql('f.e', 'c.c')}, c.cluster) AS rn\n"
            f"  FROM fit f CROSS JOIN {prev} c) WHERE rn = 1)"
        )
        ctes.append(
            # sorted sequential fold, mirroring lloyd_iterate's
            # array_sort+aggregate — plain avg() is merge-order-
            # dependent for doubles on both engines
            f"m{it} AS (SELECT cluster, pos,\n"
            f"  list_aggregate(list_sort(list(e[pos])), 'sum') / count(*) AS v FROM (\n"
            f"  SELECT cluster, e, unnest(generate_series(1, len(e))) AS pos FROM a{it})\n"
            f"  GROUP BY cluster, pos)"
        )
        ctes.append(
            f"c{it} AS (SELECT {prev}.cluster, coalesce(u.c, {prev}.c) AS c\n"
            f"  FROM {prev} LEFT JOIN (SELECT cluster, list(v ORDER BY pos) AS c\n"
            f"                         FROM m{it} GROUP BY cluster) u USING (cluster))"
        )
        prev = f"c{it}"
    return ctes, prev

#: the quality heuristic's DuckDB transliteration (quality_score's SQL
#: twin) — defined ONCE and substituted into every oracle that scores
#: quality, so a threshold tweak cannot diverge between queries
_QUALITY_CASE_SQL = """CAST(CASE WHEN text IS NULL THEN NULL ELSE
           CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 0.4 ELSE 0 END
         + CASE WHEN CAST(length(regexp_replace(text, '[^\\.,;:!\\?''"]', '', 'g')) AS DOUBLE)
                     / CAST(greatest(length(text), 1) AS DOUBLE) < 0.1 THEN 0.3 ELSE 0 END
         + CASE WHEN CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                  t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS DOUBLE)
                     / CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS DOUBLE) > 0.01
                THEN 0.3 ELSE 0 END END AS DOUBLE)"""

#: words per segment for the segment-level dedup rate
_SEG_WORDS = 8

def segments(words: Column) -> Column:
    """Consecutive ``_SEG_WORDS``-word segments of a token array, each
    joined by one space; the last may be short. One segment starts at
    every ``_SEG_WORDS``-th word, so an n-word array has
    ceil(n / _SEG_WORDS) segments, the count the oracles compute as
    ``(len(w) + _SEG_WORDS - 1) // _SEG_WORDS``. Callers drop NULL text
    first: the oracles' unnest never emits a row for it."""
    return F.transform(
        F.sequence(F.lit(1), F.size(words), F.lit(_SEG_WORDS)),
        lambda i: F.concat_ws(" ", F.slice(words, i, _SEG_WORDS)),
    )

def _bm25_scores(
    spark: SparkSession, sf_dir: str, terms: list[str]
) -> DataFrame:
    """(doc_id, bm25) for every document matching >=1 query term —
    the scoring core of text_bm25_ranking, shared with the hybrid
    RRF fusion query. bm25 is rounded to 6 BEFORE any ranking so
    rank boundaries replay identically across engines."""
    k1, b = 1.2, 0.75
    # no spread(): shuffling full text bytes costs ~3x the tokenize
    # (measured sf0.1); the parquet split already parallelizes the scan
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(tokens(F.lower(F.col("text")))).alias("word"),
    )
    per_doc = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum((F.col("word") == t).cast("long")).alias(f"__tf_{i}")
            for i, t in enumerate(terms)
        ],
    ).localCheckpoint(eager=False)
    stats = d.agg(
        # count(text), not count(*): the oracle's corpus stats derive
        # from the tokenized relation, which a NULL text never reaches
        # (round-6 NULL-text probe pin); avg already skips NULLs
        F.count("text").alias("n_docs"),
        F.avg(token_count(F.lower(F.col("text")))).alias("avgdl"),
    )
    tf = per_doc.select(
        "doc_id",
        "dl",
        F.stack(
            F.lit(len(terms)),
            *[
                x
                for i, t in enumerate(terms)
                for x in (F.lit(t), F.col(f"__tf_{i}"))
            ],
        ).alias("word", "tf"),
    ).filter(F.col("tf") > 0)
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "word")  # dl rides along in tf
        .crossJoin(stats)
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1.0)
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
    )
    return scored

def _bcast_sorted_struct_array(
    df: DataFrame, struct_col, alias: str, err_msg: str
) -> DataFrame:
    """ONE-row relation holding the sorted array-of-structs to be
    broadcast into a corpus scan — the shared scaffold of the round-9
    broadcast twins. collect_list over an empty relation is an empty
    array, which would silently yield NULL scores for every corpus
    row — raise at execution instead, matching the literal twins'
    empty-corpus contract (the broadcast build side always
    materializes, so the raise fires even when the probe side is also
    empty). sort_array makes the nondeterministic collect_list order
    deterministic (struct field 0 is a unique id on both callers)."""
    return df.agg(
        F.sort_array(F.collect_list(struct_col)).alias(alias)
    ).select(
        F.when(F.size(alias) > 0, F.col(alias))
        .otherwise(F.raise_error(F.lit(err_msg)))
        .alias(alias)
    )

_KMEANS_K = 10

_KMEANS_ITERS = 4

_WINNOW_ORACLE = """
WITH canon AS (
  SELECT doc_id,
         trim(regexp_replace(lower(coalesce(text, '')),
                             '[ \\t\\n\\r\\f]+', ' ', 'g')) AS c
  FROM documents
), grams AS (
  SELECT doc_id,
         CASE WHEN length(c) >= 8
              THEN list_transform(range(1, length(c) - 8 + 2),
                   i -> list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                            list_transform(range(0, 8),
                                o -> CAST(ascii(substring(c, i + o, 1)) AS BIGINT))),
                        (acc, ch) -> (acc * 257 + ch) % 1000000007))
              ELSE [] END AS h
  FROM canon
), winnowed AS (
  SELECT doc_id,
         CASE WHEN len(h) >= 1
              THEN list_distinct(list_transform(
                       range(1, greatest(len(h) - 4 + 1, 1) + 1),
                       j -> list_min(h[j:j + 3])))
              ELSE [] END AS fps
  FROM grams
)
SELECT doc_id, unnest(fps) AS fp FROM winnowed
"""
