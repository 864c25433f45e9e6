"""Sequence-packing queries (fixed windows, length buckets)."""

from __future__ import annotations

from pyspark.sql import (
    DataFrame,
    SparkSession,
)
from pyspark.sql import functions as F
from rabbithole_spark.catalog import register
from rabbithole_spark.operators.text_analysis import token_count
from rabbithole_spark.session import table


#: padded sequence-length grain for the padding-efficiency rollup —
#: 16 keeps several buckets populated on the synthetic 10-99-token
#: docs; a production corpus would use 256/512
_PAD_BUCKET = 16

_PAD_EFFICIENCY_ORACLE = f"""
WITH toks AS (
  SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), b AS (
  SELECT n_tokens,
         CAST((greatest(n_tokens, 1) - 1) // {_PAD_BUCKET} AS BIGINT) AS bucket
  FROM toks
)
SELECT bucket,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(count(*) * (bucket + 1) * {_PAD_BUCKET} AS BIGINT) AS padded_tokens,
       ROUND(CAST(sum(n_tokens) AS DOUBLE)
             / (count(*) * (bucket + 1) * {_PAD_BUCKET}), 6) AS efficiency
FROM b
GROUP BY bucket
"""

@register(
    "pack_padding_efficiency",
    oracle=_PAD_EFFICIENCY_ORACLE,
    doc="Length-bucketed padding-waste audit: group documents by "
    "token-length bucket (grain _PAD_BUCKET) and report, per bucket, "
    "how much of the padded batch (every doc padded to the bucket "
    "ceiling) is real tokens — the standard measurement behind "
    "length-bucketed batching (padding a 10-token doc to 2048 wastes "
    "99.5% of the batch). One scan + one grouped agg on an integer "
    "key: linear at any scale.",
)
def pack_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select(token_count(F.col("text")).cast("bigint").alias("n_tokens"))
    # exact multiples belong to the LOWER bucket: a 16-token doc pads
    # to 16 with zero waste, not to 32 — hence (n-1) div grain
    bucket = F.expr(
        f"(greatest(n_tokens, 1) - 1) div {_PAD_BUCKET}"
    ).alias("bucket")
    grouped = toks.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    padded = (
        (F.col("bucket") + 1) * _PAD_BUCKET * F.col("n_docs")
    ).cast("bigint")
    return grouped.select(
        "bucket",
        "n_docs",
        "total_tokens",
        padded.alias("padded_tokens"),
        F.round(
            F.col("total_tokens").cast("double") / padded, 6
        ).alias("efficiency"),
    )

#: target training-sequence length (tokens) for the packing query
_SEQ_LEN = 2048

#: docs per packing shard: the cumulative-sum window partitions on
#: (source, shard) instead of bare source, so no single task ever owns
#: one source's entire token stream. 128 keeps several shards per
#: source even at sf0.001; at 100 TB the same constant (or a date
#: bucket) bounds every window partition to a fixed document count.
_PACK_SHARD_DOCS = 128

_PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(doc_id // {_PACK_SHARD_DOCS} AS BIGINT) AS shard,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), placed AS (
  SELECT doc_id, source, shard, n_tokens,
         sum(n_tokens) OVER (
           PARTITION BY source, shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum_tokens
  FROM toks
)
SELECT doc_id, source, shard, n_tokens,
       CAST((cum_tokens - n_tokens) // {_SEQ_LEN} AS BIGINT) AS first_seq,
       CAST((cum_tokens - 1) // {_SEQ_LEN} AS BIGINT) AS last_seq,
       CAST((cum_tokens - n_tokens) % {_SEQ_LEN} AS BIGINT) AS start_offset
FROM placed
"""

@register(
    "pack_sequences_by_source",
    oracle=_PACK_ORACLE,
    doc="Concat-and-chunk sequence packing: documents concatenate in "
    "deterministic doc_id order within each (source, shard) and the "
    "token stream is cut every 2048 tokens — each doc's span of "
    "training sequences (first_seq..last_seq, start_offset) falls "
    "out of one windowed cumulative sum. The window partitions on "
    "the BOUNDED shard key (source, doc_id div 128), never bare "
    "source: at 100 TB a popular source would otherwise serialize "
    "its whole token stream through one task, while the shard key "
    "caps every window partition at a fixed document count and each "
    "shard packs (and would write) its sequences independently, "
    "addressed by (source, shard, seq).",
)
def pack_sequences_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.expr(f"doc_id div {_PACK_SHARD_DOCS}").alias("shard"),
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = toks.select(
        "doc_id",
        "source",
        "shard",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
    )
    # integer `div`: DuckDB CAST(double AS BIGINT) rounds while Spark
    # truncates, so both sides must divide in integer space
    return placed.select(
        "doc_id",
        "source",
        "shard",
        "n_tokens",
        F.expr(f"(cum_tokens - n_tokens) div {_SEQ_LEN}").alias("first_seq"),
        F.expr(f"(cum_tokens - 1) div {_SEQ_LEN}").alias("last_seq"),
        ((F.col("cum_tokens") - F.col("n_tokens")) % _SEQ_LEN)
        .cast("bigint")
        .alias("start_offset"),
    )

#: length-bucketed inference batching: bucket width (tokens), bucket
#: cap, docs per batch, docs per shard (same bounded-window-partition
#: rationale as _PACK_SHARD_DOCS, scaled up since rows here are two
#: ints, not text)
_LENBUCKET_WIDTH = 16

_LENBUCKET_CAP = 7

_LENBATCH_DOCS = 32

_LENBUCKET_SHARD_DOCS = 1024

_LENBUCKET_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(doc_id // {_LENBUCKET_SHARD_DOCS} AS BIGINT) AS shard,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
  WHERE text IS NOT NULL
), bucketed AS (
  SELECT doc_id, shard, n_tokens,
         CAST(least(n_tokens // {_LENBUCKET_WIDTH}, {_LENBUCKET_CAP})
              AS BIGINT) AS bucket
  FROM toks
), batched AS (
  SELECT bucket, shard, n_tokens,
         CAST((row_number() OVER (
            PARTITION BY bucket, shard ORDER BY doc_id
          ) - 1) // {_LENBATCH_DOCS} AS BIGINT) AS batch
  FROM bucketed
)
SELECT bucket, shard, batch,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(1.0 - CAST(sum(n_tokens) AS DOUBLE)
                   / (count(*) * max(n_tokens)), 6) AS padding_frac
FROM batched
GROUP BY bucket, shard, batch
"""

@register(
    "pack_length_buckets",
    oracle=_LENBUCKET_ORACLE,
    doc="Length-bucketed inference batching (the dynamic-batching "
    "shape serving stacks use): documents bucket by token-count band "
    f"(width {_LENBUCKET_WIDTH}, capped at {_LENBUCKET_CAP}), fill "
    f"deterministic {_LENBATCH_DOCS}-doc batches in doc_id order "
    "within each (bucket, shard), and each batch reports its padded "
    "waste — 1 - sum(tokens)/(n*max) — which is the quantity length "
    "bucketing exists to minimize (the training-side twin is "
    "pack_sequences_by_source; the padding audit over naive packing "
    "is pack_padding_efficiency). Scale shape: the batch-number "
    "window partitions on the BOUNDED (bucket, doc_id div "
    f"{_LENBUCKET_SHARD_DOCS}) key — never bare bucket, which would "
    "serialize a popular length band through one task — and the "
    "rollup groups on a superset of the window key, so the whole "
    "query is ONE shuffle; everything upstream is a scan-side map.",
)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    bucketed = d.select(
        "doc_id",
        F.expr(f"doc_id div {_LENBUCKET_SHARD_DOCS}").alias("shard"),
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    ).withColumn(
        "bucket",
        F.least(
            F.expr(f"n_tokens div {_LENBUCKET_WIDTH}"),
            F.lit(_LENBUCKET_CAP).cast("bigint"),
        ),
    )
    w = Window.partitionBy("bucket", "shard").orderBy("doc_id")
    batched = bucketed.withColumn("__rn", F.row_number().over(w)).withColumn(
        "batch", F.expr(f"(__rn - 1) div {_LENBATCH_DOCS}").cast("bigint")
    )
    return batched.groupBy("bucket", "shard", "batch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.lit(1.0)
            - F.sum("n_tokens").cast("double")
            / (F.count(F.lit(1)) * F.max("n_tokens")),
            6,
        ).alias("padding_frac"),
    )
