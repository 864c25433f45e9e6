"""Benchmark-contamination screens and PII redaction."""

from __future__ import annotations

from pyspark.sql import (
    DataFrame,
    SparkSession,
)
from pyspark.sql import functions as F
from rabbithole_spark.catalog import register
from rabbithole_spark.functions.numeric import double_array_lit
from rabbithole_spark.functions.xxh64_sql import xxh64_long_sql
from rabbithole_spark.operators.dedup import (
    spread,
    word_shingles,
)
from rabbithole_spark.operators.similarity import valid_embeddings
from rabbithole_spark.operators.text_analysis import (
    tokens,
    winnow_fingerprints,
)
from rabbithole_spark.session import table
from rabbithole_spark.queries.llm._common import (
    _SEG_WORDS,
    _WINNOW_ORACLE,
    _bcast_sorted_struct_array,
    _valid_embedding_sql,
    segments,
)


_SOURCE_OVERLAP_ORACLE = f"""
WITH segs AS (
  SELECT source, unnest(
    list_transform(
      range(1, CAST((len(w) + {_SEG_WORDS - 1}) // {_SEG_WORDS} AS BIGINT) + 1),
      i -> array_to_string(list_slice(w, (i - 1) * {_SEG_WORDS} + 1, i * {_SEG_WORDS}), ' ')
    )
  ) AS seg
  FROM (SELECT source, string_split_regex(trim(text), '\\s+') AS w FROM documents)
), ds AS (SELECT DISTINCT seg, source FROM segs)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared_segments
FROM ds a JOIN ds b ON a.seg = b.seg AND a.source < b.source
GROUP BY a.source, b.source
"""

@register(
    "source_overlap_matrix",
    oracle=_SOURCE_OVERLAP_ORACLE,
    doc="Cross-source contamination matrix: for every source pair, the "
    "number of distinct 8-word segments both contain verbatim — the "
    "audit that catches one crawl replicating another (or shared "
    "boilerplate) BEFORE mixture weights treat them as independent. "
    "TWO shuffles total: one groupBy(segment) collects each segment's "
    "distinct source set (map-side partial agg; sources-per-segment "
    "is bounded by the source count, so the row stays tiny), the "
    "source pairs expand ROW-LOCALLY from that sorted set (no "
    "self-join — a seg-keyed self-join would re-shuffle both sides), "
    "and one rollup on the ~|sources|^2-bounded pair key. Linear at "
    "any corpus size.",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-text guard on BOTH sides: Spark's explode_outer would keep a
    # segment row for a NULL-text doc while the oracle's unnest emits
    # none — the same divergence class fixed in corpus_snapshot_diff
    d = spread(table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    segs = d.select(
        "source", F.explode_outer(segments(tokens(F.col("text")))).alias("seg")
    )
    per_seg = segs.groupBy("seg").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    )
    srcs = F.col("srcs")
    pairs = F.flatten(
        F.transform(
            srcs,
            lambda x, i: F.transform(
                F.slice(srcs, i + F.lit(2), F.size(srcs)),
                lambda y: F.struct(
                    x.alias("source_a"), y.alias("source_b")
                ),
            ),
        )
    )
    return (
        per_seg.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_segments"))
    )

_SEMCON_N_BENCH = 16

_SEMCON_TOPK = 20

_SEMCON_ORACLE = f"""
WITH b AS (
  SELECT vec_id AS bench_id, embedding AS be
  FROM embeddings
  WHERE vec_id < {_SEMCON_N_BENCH} AND {_valid_embedding_sql()}
), scored AS (
  SELECT e.vec_id, e.label, b.bench_id,
         round(
           list_aggregate(list_transform(range(1, len(e.embedding) + 1),
             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(b.be[i] AS DOUBLE)), 'sum')
           / (sqrt(list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), 'sum'))
              * sqrt(list_aggregate(list_transform(range(1, len(b.be) + 1),
                  i -> CAST(b.be[i] AS DOUBLE) * CAST(b.be[i] AS DOUBLE)), 'sum'))),
           6) AS sim
  FROM embeddings e, b
  WHERE e.vec_id >= {_SEMCON_N_BENCH} AND {_valid_embedding_sql("e.embedding")}
), nearest AS (
  SELECT vec_id, label, sim AS max_sim, bench_id AS nearest_bench
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY sim DESC, bench_id DESC
    ) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT vec_id, label, max_sim, nearest_bench
FROM nearest
ORDER BY max_sim DESC, vec_id
LIMIT {_SEMCON_TOPK}
"""

@register(
    "contamination_semantic_screen",
    oracle=_SEMCON_ORACLE,
    doc="Embedding-tier decontamination screening — the semantic tier "
    "above the n-gram (contamination_ngram_overlap) and fingerprint "
    "(contamination_winnow_overlap) tiers: against a held-out "
    f"benchmark set ({_SEMCON_N_BENCH} vectors), every corpus vector "
    "gets its max benchmark cosine and nearest benchmark id, and the "
    f"top-{_SEMCON_TOPK} closest matches surface for review (the "
    "triage list a decontamination pass acts on; paraphrased benchmark "
    "leakage has no n-gram overlap, which is why this tier exists). "
    "Scale shape: the benchmark set is a bounded driver collect "
    "embedded as plan literals (a broadcast join at real benchmark "
    "sizes); the per-vector argmax is a row-local array_max over "
    "(sim, bench_id) structs — lexicographic struct ordering IS the "
    "tie-break, replayed in the oracle as ORDER BY sim DESC, bench_id "
    "DESC — and the report is TakeOrderedAndProject: ZERO shuffles at "
    "any corpus size.",
)
def contamination_semantic_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from rabbithole_spark.operators.similarity import cosine

    e = valid_embeddings(table(spark, sf_dir, "embeddings"))
    bench = (
        e.filter(F.col("vec_id") < _SEMCON_N_BENCH)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    if not bench:
        raise ValueError(
            f"no valid benchmark vectors (vec_id < {_SEMCON_N_BENCH}) "
            "in embeddings — corpus empty or malformed"
        )
    candidates = F.array(
        *[
            F.struct(
                F.round(
                    cosine(
                        F.col("embedding"),
                        double_array_lit(b.embedding),
                    ),
                    6,
                ).alias("s"),
                F.lit(b.vec_id).cast("bigint").alias("b"),
            )
            for b in bench
        ]
    )
    best = F.array_max(candidates)
    return (
        e.filter(F.col("vec_id") >= _SEMCON_N_BENCH)
        .select(
            "vec_id",
            "label",
            best["s"].alias("max_sim"),
            best["b"].alias("nearest_bench"),
        )
        .orderBy(F.col("max_sim").desc(), "vec_id")
        .limit(_SEMCON_TOPK)
    )

@register(
    "contamination_semantic_screen_bcast",
    oracle=_SEMCON_ORACLE,
    doc="Broadcast-join twin of contamination_semantic_screen (VERDICT "
    "r8): identical semantics and oracle, but the benchmark set stays "
    "a DataFrame — collapsed to ONE row holding a sorted "
    "array<struct(bench_id, embedding)> and broadcast into the corpus "
    "scan (BroadcastNestedLoopJoin of a single row), so plan size is "
    "O(1) regardless of benchmark-set size where the literal variant "
    "grows the plan linearly (its plan-size bomb at real benchmark "
    "sizes). The per-vector argmax is the same row-local array_max "
    "over (sim, bench_id) structs, now via transform over the "
    "broadcast array; report is TakeOrderedAndProject. The corpus "
    "side still never shuffles; the only exchange is the 16-row "
    "benchmark aggregate's. Twin equality is pinned by "
    "tests/test_llm_operators.py::test_semantic_screen_bcast_twin. "
    "An empty/malformed benchmark set raises at execution "
    "(distributed raise_error branch — same contract as the literal "
    "variant's driver-side ValueError). MEASURED FASTER than the "
    "literal twin at sf0.1 (cold 2.3 s vs 10.2, warm 1.8 vs 3.1): one "
    "transform lambda codegens once where the 16 inlined cosine "
    "expressions each compile — prefer this formulation at any scale.",
)
def contamination_semantic_screen_bcast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from rabbithole_spark.operators.similarity import cosine

    e = valid_embeddings(table(spark, sf_dir, "embeddings"))
    bench = _bcast_sorted_struct_array(
        e.filter(F.col("vec_id") < _SEMCON_N_BENCH),
        F.struct(
            F.col("vec_id").cast("bigint").alias("b"),
            F.col("embedding").alias("be"),
        ),
        "bench",
        f"no valid benchmark vectors (vec_id < {_SEMCON_N_BENCH}) in "
        "embeddings — corpus empty or malformed",
    )
    cand = F.transform(
        F.col("bench"),
        lambda b: F.struct(
            F.round(cosine(F.col("embedding"), b["be"]), 6).alias("s"),
            b["b"].alias("b"),
        ),
    )
    best = F.array_max(cand)
    return (
        e.filter(F.col("vec_id") >= _SEMCON_N_BENCH)
        .join(bench)
        .select(
            "vec_id",
            "label",
            best["s"].alias("max_sim"),
            best["b"].alias("nearest_bench"),
        )
        .orderBy(F.col("max_sim").desc(), "vec_id")
        .limit(_SEMCON_TOPK)
    )

_PII_REDACTION_ORACLE = """
WITH pii AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text_pii
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text_pii,
            '[a-z0-9._]+@[a-z0-9-]+\\.[a-z]+')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(text_pii,
            '\\+1-555-[0-9]+')) AS INTEGER) AS n_phones,
       CAST(length(regexp_replace(regexp_replace(text_pii,
            '[a-z0-9._]+@[a-z0-9-]+\\.[a-z]+', '[EMAIL]', 'g'),
            '\\+1-555-[0-9]+', '[PHONE]', 'g')) AS INTEGER) AS redacted_len,
       NOT regexp_matches(regexp_replace(regexp_replace(text_pii,
            '[a-z0-9._]+@[a-z0-9-]+\\.[a-z]+', '[EMAIL]', 'g'),
            '\\+1-555-[0-9]+', '[PHONE]', 'g'), '@|\\+1-555') AS clean
FROM pii
"""

@register(
    "pii_redaction",
    oracle=_PII_REDACTION_ORACLE,
    doc="PII scrubbing (curation-pipeline parity): regexp redaction of "
    "email/phone patterns with match counts and a post-hoc 'clean' "
    "audit flag. The synthetic corpus carries no PII, so each doc is "
    "first suffixed with a deterministic fake email+phone derived "
    "from doc_id — the redaction path (regexp_count + chained "
    "regexp_replace, all JVM-side codegen, no UDF) is what scales to "
    "100 TB; patterns are row-local so the op is embarrassingly "
    "parallel with zero shuffle.",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    email = r"[a-z0-9._]+@[a-z0-9-]+\.[a-z]+"
    phone = r"\+1-555-[0-9]+"
    d = spread(table(spark, sf_dir, "documents"))
    text_pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(text_pii, email, "[EMAIL]"), phone, "[PHONE]"
    )
    return d.select(
        "doc_id",
        F.regexp_count(text_pii, F.lit(email)).cast("int").alias("n_emails"),
        F.regexp_count(text_pii, F.lit(phone)).cast("int").alias("n_phones"),
        F.length(redacted).cast("int").alias("redacted_len"),
        (~redacted.rlike(r"@|\+1-555")).alias("clean"),
    )

_CONTAMINATION_ORACLE = """
WITH words AS (
  SELECT doc_id, source,
         string_split_regex(trim(text), '\\s+') AS w
  FROM documents
), sh AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(w) - 2, 1) + 1),
           i -> array_to_string(list_slice(w, i, i + 2), ' ')
         ))) AS sh
  FROM words
), bench AS (
  SELECT DISTINCT sh FROM sh WHERE source = 'src0'
), corpus AS (
  SELECT doc_id, sh FROM sh WHERE source <> 'src0'
), tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
  FROM corpus GROUP BY doc_id
), hit AS (
  SELECT corpus.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
  FROM corpus JOIN bench USING (sh) GROUP BY corpus.doc_id
)
SELECT doc_id, n_shingles, n_overlap,
       ROUND(CAST(n_overlap AS DOUBLE) / n_shingles, 6) AS contamination
FROM tot JOIN hit USING (doc_id)
"""

@register(
    "contamination_ngram_overlap",
    oracle=_CONTAMINATION_ORACLE,
    doc="Benchmark-contamination detection: 3-gram shingle overlap of "
    "every corpus document against the held-out set (source=src0), "
    "reported as an overlap rate. The benchmark shingle set is tiny "
    "relative to the corpus, so it BROADCASTS — the corpus-side scan "
    "never shuffles on content, only the per-doc count aggregation "
    "moves data. This is the decontamination step every training "
    "pipeline runs against eval suites.",
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread() pays here (unlike text_bm25_ranking): the 3-gram window
    # concat is CPU-heavy enough that full-width parallelism beats the
    # one-time text-bytes shuffle (measured 3.1s -> 1.3s warm at sf0.1)
    d = spread(table(spark, sf_dir, "documents"))
    # benchmark side: the held-out source is selected AT THE SCAN
    # (predicate pushdown) before any shingling, and its distinct
    # shingle set is small, so the planner broadcasts it by size
    bench = (
        d.filter((F.col("source") == "src0") & F.col("text").isNotNull())
        .select(F.explode_outer(word_shingles(F.col("text"), 3)).alias("sh"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # corpus side: ONE shingling pass; overlap is a left-join marker
    # folded into the same per-doc aggregation as the total, so the
    # corpus is never scanned or exploded twice
    corpus = d.filter(
        (F.col("source") != "src0") & F.col("text").isNotNull()
    ).select(
        "doc_id", F.explode_outer(word_shingles(F.col("text"), 3)).alias("sh")
    )
    return (
        corpus.join(bench, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_overlap"),
        )
        .filter(F.col("n_overlap") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_shingles"), 6).alias(
                "contamination"
            ),
        )
    )

#: Hash-mod bucket for the winnow-contamination split. GENUINELY
#: independent of every multiplicative bucket in this module: round-9
#: measurement showed the old shared-multiplier scheme made this
#: bucket IDENTICAL to the quality-sampler's (the benchmark split was
#: fully dependent on sample membership), and swapping multipliers
#: cannot fix the power-of-2 residues — (d*a) mod 4 == (d mod 4 *
#: a mod 4) mod 4 for ANY odd a, so all multiplicative buckets agree
#: on low bits. A decontamination split must not correlate with
#: sampling, so this bucket is a real avalanche hash: xxhash64 over a
#: domain-tagged id (doc_id + 2^44; doc ids must stay below 2^44 —
#: ~1.7e13 documents — for tags to stay disjoint). Spark evaluates
#: F.xxhash64 natively; the oracle replays it via xxh64_long_sql.
_WINNOW_SPLIT_OFFSET = 1 << 44

_WINNOW_SPLIT_BUCKET_SQL = (
    f"((({xxh64_long_sql(f'(doc_id + {_WINNOW_SPLIT_OFFSET})')})"
    " % 100) + 100) % 100"
)

def _winnow_split_bucket() -> Column:
    """Spark twin of :data:`_WINNOW_SPLIT_BUCKET_SQL`."""
    return F.pmod(
        F.xxhash64(F.col("doc_id") + F.lit(_WINNOW_SPLIT_OFFSET)), F.lit(100)
    )

_WINNOW_CONTAMINATION_ORACLE = f"""
{_WINNOW_ORACLE.split("SELECT doc_id, unnest(fps) AS fp FROM winnowed")[0]}, fps AS MATERIALIZED (
  SELECT doc_id, unnest(fps) AS fp FROM winnowed
), val_fps AS (
  SELECT doc_id, fp FROM fps
  WHERE {_WINNOW_SPLIT_BUCKET_SQL} >= 90
), train_fp AS (
  SELECT DISTINCT fp FROM fps
  WHERE {_WINNOW_SPLIT_BUCKET_SQL} < 90
), per_doc AS (
  SELECT v.doc_id,
         CAST(count(*) AS BIGINT) AS n_fps,
         CAST(sum(CASE WHEN t.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared
  FROM val_fps v LEFT JOIN train_fp t ON v.fp = t.fp
  GROUP BY v.doc_id
)
SELECT doc_id, n_fps, n_shared,
       round(n_shared / n_fps, 6) AS overlap_ratio
FROM per_doc
"""

@register(
    "contamination_winnow_overlap",
    oracle=_WINNOW_CONTAMINATION_ORACLE,
    doc="Benchmark decontamination at FINGERPRINT granularity: a 90/10 "
    "train/benchmark split on a domain-tagged xxhash64 bucket "
    "(genuinely independent of the sampling buckets — see "
    "_WINNOW_SPLIT_BUCKET_SQL), "
    "then each benchmark doc's winnow-fingerprint overlap fraction "
    "against the union of train fingerprints. Because winnowing "
    "guarantees a shared fingerprint for any shared substring of "
    "length >= k+w-1 = 11 chars, a high overlap_ratio localizes "
    "verbatim leakage that n-gram-set contamination "
    "(contamination_ngram_overlap) can dilute on long docs. Plan: the "
    "zero-shuffle Arrow winnow kernel feeds ONE localCheckpointed fp "
    "relation consumed by both split sides; the semi-join shuffles on "
    "the fp key only (no text bytes move), and per-doc counts reuse "
    "the val side's partitioning. Row-local split assignment keeps "
    "membership reproducible at any scale.",
)
def contamination_winnow_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # spread(): single-split scan + per-row winnow rolling hash —
    # round 12, guide §2.5, same fix as text_winnow_fingerprints
    d = spread(table(spark, sf_dir, "documents"))
    fps = (
        winnow_fingerprints(d)
        .select("doc_id", F.explode("fps").alias("fp"))
        .localCheckpoint(eager=False)
    )
    bucket = _winnow_split_bucket()
    val_fps = fps.filter(bucket >= 90)
    train_fp = fps.filter(bucket < 90).select("fp").distinct()
    shared = (
        val_fps.join(train_fp, "fp", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    per_doc = val_fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps")
    )
    return (
        per_doc.join(shared, "doc_id", "left")
        .select(
            "doc_id",
            "n_fps",
            F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
            F.round(
                F.coalesce(F.col("n_shared"), F.lit(0)) / F.col("n_fps"), 6
            ).alias("overlap_ratio"),
        )
    )
