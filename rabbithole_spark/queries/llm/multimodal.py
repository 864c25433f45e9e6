"""Multimodal binary-column queries (decode/resize/frame plumbing)."""

from __future__ import annotations

from pyspark.sql import (
    DataFrame,
    SparkSession,
)
from pyspark.sql import functions as F
from rabbithole_spark.catalog import register
from rabbithole_spark.operators.dedup import spread
from rabbithole_spark.operators.multimodal import (
    attach_fake_media,
    extract_features,
    resize_media,
    sample_frames,
)
from rabbithole_spark.session import table


def _stringify_features(df: DataFrame) -> DataFrame:
    """Render the ``features array<float>`` column as a rounded CSV
    string: deterministic, hashable cells for the driver's pandas-based
    canonicalizer (same treatment as scalar_map_funcs's map rendering —
    raw array cells crash its sort with 'unhashable type: list').
    %.6f formatting (not double->string casting) keeps the rendering
    engine-neutral: Java would print small ratios as 1.0E-4 while SQL
    engines print 0.000100."""
    return df.select(
        "doc_id",
        "n_bytes",
        F.array_join(
            F.transform(
                "features",
                lambda v: F.format_string(
                    "%.6f", F.round(v.cast("double"), 6)
                ),
            ),
            ",",
        ).alias("features_csv"),
    )

_BINARY_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS content_sha,
       CAST(octet_length(encode(text)) % 512 + 1 AS BIGINT) AS width,
       CAST(octet_length(encode(text)) % 256 + 1 AS BIGINT) AS height
FROM documents
"""

@register(
    "multimodal_binary_stats",
    oracle=_BINARY_ORACLE,
    doc="Binary media column plumbing: payload bytes + digest + typed "
    "metadata (JVM-side; payload never leaves the executor).",
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_fake_media(table(spark, sf_dir, "documents"), "text", "doc_id")
    return media.select(
        "doc_id",
        F.octet_length("content").cast("bigint").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("content_sha"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
    )

_FEATURE_ORACLE = """
WITH ascii_docs AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n_bytes
  FROM documents WHERE octet_length(encode(text)) = length(text)
),
hist AS (
  SELECT doc_id, n_bytes,
         list_transform(range(0, 8),
           b -> len(list_filter(range(1, length(text) + 1),
                i -> ord(array_extract(text, i)) >= b * 32
                 AND ord(array_extract(text, i)) < (b + 1) * 32))) AS h
  FROM ascii_docs
)
SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
       array_to_string(list_transform(h,
         c -> printf('%.6f', round(CAST(CAST(
                CAST(c AS DOUBLE)
                / CAST(CASE WHEN n_bytes = 0 THEN 1 ELSE n_bytes END AS DOUBLE)
              AS REAL) AS DOUBLE), 6))), ',') AS features_csv
FROM hist
"""

@register(
    "multimodal_feature_extract",
    oracle=_FEATURE_ORACLE,
    doc="mapInPandas feature extraction over binary payloads (Arrow "
    "batches; deterministic byte-histogram stand-in for an encoder "
    "forward pass; real decoders plug into operators.multimodal."
    "decode_stub). ASCII-scoped registration (all docs here) so the "
    "SQL oracle can reproduce the byte histogram from codepoints, "
    "including the float32 ratio rounding (double divide -> REAL "
    "cast, matching numpy's float64-divide-then-float32-astype).",
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(
        F.octet_length(F.encode(F.col("text"), "utf-8")) == F.length("text")
    )
    media = attach_fake_media(docs, "text", "doc_id")
    return _stringify_features(extract_features(media, "doc_id"))

_RESIZE_ORACLE = """
WITH ascii_docs AS (
  SELECT doc_id, text, length(text) AS n
  FROM documents
  WHERE octet_length(encode(text)) = length(text) AND length(text) > 0
),
dims AS (
  SELECT doc_id, text, n, n % 512 + 1 AS w, n % 256 + 1 AS h FROM ascii_docs
),
resized AS (
  SELECT doc_id,
         list_transform(range(0, 512),
           i -> ord(array_extract(text,
                CAST((((i // 32) * h // 16) * w + ((i % 32) * w // 32)) % n
                     AS BIGINT) + 1))) AS rb
  FROM dims
),
hist AS (
  SELECT doc_id,
         list_transform(range(0, 8),
           b -> len(list_filter(rb, v -> v >= b * 32 AND v < (b + 1) * 32)))
           AS hh
  FROM resized
)
SELECT doc_id, CAST(512 AS BIGINT) AS n_bytes,
       array_to_string(list_transform(hh,
         c -> printf('%.6f', round(CAST(CAST(
                CAST(c AS DOUBLE) / 512.0
              AS REAL) AS DOUBLE), 6))), ',') AS features_csv
FROM hist
"""

@register(
    "multimodal_resize_pipeline",
    oracle=_RESIZE_ORACLE,
    doc="Composable resize stage (mapInPandas nearest-neighbor to 32x16) "
    "feeding feature extraction — the two-stage encoder-prep pipeline "
    "shape; a real PIL/opencv resizer drops into the same kernel. "
    "ASCII-scoped registration: the oracle replays the kernel's exact "
    "pixel selection (tile payload to metadata dims, pick the "
    "nearest-neighbor grid) and the downstream histogram from "
    "codepoints.",
)
def multimodal_resize_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents")).filter(
        (F.octet_length(F.encode(F.col("text"), "utf-8")) == F.length("text"))
        & (F.length("text") > 0)
    )
    media = attach_fake_media(docs, "text", "doc_id")
    return _stringify_features(
        extract_features(resize_media(media, width=32, height=16), "doc_id")
    )

_FRAME_ORACLE = """
WITH ascii_docs AS (
  SELECT doc_id, text,
         CAST(greatest(ceil(octet_length(encode(text)) / 256.0), 1) AS BIGINT)
           AS n_frames
  FROM documents
  WHERE octet_length(encode(text)) = length(text)
)
SELECT d.doc_id,
       gs.frame_idx,
       d.n_frames,
       CAST(octet_length(encode(substring(d.text, gs.frame_idx * 256 + 1, 256)))
            AS BIGINT) AS frame_bytes,
       sha256(substring(d.text, gs.frame_idx * 256 + 1, 256)) AS frame_sha
FROM ascii_docs d,
     LATERAL (SELECT unnest(range(0, d.n_frames, 4)) AS frame_idx) gs
"""

@register(
    "multimodal_frame_sample",
    oracle=_FRAME_ORACLE,
    doc="Video-style frame sampling: every 4th 256-byte frame per "
    "payload fans out to its own row with a per-frame digest "
    "(mapInPandas 1->N row multiplication). The registered scope "
    "filters to payloads whose byte and char lengths agree (all docs "
    "in this corpus) so the SQL oracle can slice frames with VARCHAR "
    "substring — the kernel itself is byte-general; its multibyte "
    "behavior is covered by the pytest stride/digest contract.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents")).filter(
        F.octet_length(F.encode(F.col("text"), "utf-8")) == F.length("text")
    )
    media = attach_fake_media(docs, "text", "doc_id")
    return sample_frames(media, frame_size=256, every_k=4, id_col="doc_id")
