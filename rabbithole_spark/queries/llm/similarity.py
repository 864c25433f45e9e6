"""Similarity search & embedding queries: brute-force/filtered/range
top-k, LSH/IVF/quantized ANN, k-means, MMR, projections, hard negatives.
"""

from __future__ import annotations

from pyspark.sql import (
    DataFrame,
    SparkSession,
)
from pyspark.sql import functions as F
from rabbithole_spark.catalog import register
from rabbithole_spark.functions.numeric import double_array_lit
from rabbithole_spark.operators.similarity import (
    ann_topk,
    cosine_topk,
    valid_embeddings,
)
from rabbithole_spark.operators.text_analysis import fingerprint
from rabbithole_spark.session import table
from rabbithole_spark.queries.llm._common import (
    _KMEANS_ITERS,
    _KMEANS_K,
    _bcast_sorted_struct_array,
    _bm25_scores,
    _dot_sql,
    _lloyd_replay_ctes,
    _sq_l2_sql,
    _valid_embedding_sql,
)


#: Near-dup blocking planes: seeded, generated once at import so the
#: Spark expression and the DuckDB oracle embed the IDENTICAL literals.
_NEAR_DUP_THRESHOLD = 0.35

_NEAR_DUP_N_PLANES = 6

def _near_dup_planes() -> list[list[float]]:
    import numpy as np

    rng = np.random.RandomState(42)
    return rng.normal(size=(_NEAR_DUP_N_PLANES, 64)).tolist()

def _plane_sig_sql(col: str) -> str:
    """SQL for the 6-bit hyperplane signature of ``col`` — the same
    seeded planes as full-precision literals and the same sequential
    double fold Spark's hyperplane_signature uses."""

    def plane_dot(plane: list[float]) -> str:
        lits = ", ".join(repr(x) for x in plane)
        return (
            "list_aggregate(list_transform(range(1, 65), "
            f"i -> CAST({col}[i] AS DOUBLE) * ([{lits}])[i]), 'sum')"
        )

    return " + ".join(
        f"(CASE WHEN {plane_dot(p)} > 0 THEN 1 ELSE 0 END) * {2 ** i}"
        for i, p in enumerate(_near_dup_planes())
    )

def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    rows = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()
    )
    # clear error over a bare IndexError: an empty/missing query vector
    # means broken upstream data, and the message should say so
    # (round-6 empty-table probe)
    if not rows or rows[0]["embedding"] is None:
        raise ValueError(
            "query vector vec_id=0 not found in embeddings — corpus "
            "empty or malformed"
        )
    return [float(x) for x in rows[0]["embedding"]]

_TOPK_ORACLE = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id, label,
         round(
           list_aggregate(list_transform(range(1, len(embedding) + 1),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), 'sum')
           / (sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1),
                i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 'sum'))
              * sqrt(list_aggregate(list_transform(range(1, len(qe) + 1),
                  i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), 'sum'))),
           6) AS cosine_sim
  FROM embeddings, q
  -- malformed-vector exclusion (round-6 probe pin): list_aggregate
  -- SKIPS NULL elements where Spark's fold propagates NULL, so the
  -- no-NULL-element condition must be explicit; a zero-norm vector's
  -- 0/0 is NULL on both engines and falls to the IS NOT NULL check
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
)
SELECT vec_id, label, cosine_sim
FROM scored
WHERE cosine_sim IS NOT NULL
ORDER BY cosine_sim DESC, vec_id, label
LIMIT 10
"""

@register(
    "similarity_topk_bruteforce",
    oracle=_TOPK_ORACLE,
    doc="Exact top-10 cosine neighbors of vec_id=0 — JVM zip_with/"
    "aggregate dot product, TakeOrderedAndProject top-k; the ANN "
    "correctness baseline.",
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _query_vector(spark, sf_dir)
    return cosine_topk(
        table(spark, sf_dir, "embeddings"),
        "embedding",
        qv,
        k=10,
        id_cols=["vec_id", "label"],
    )

def _ann_lsh_oracle() -> str:
    """DuckDB twin of the LSH ANN search: the query vector's bucket and
    every row's bucket from the identical plane literals; exact cosine
    + deterministic top-10 within the query's bucket."""
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
qb AS (SELECT {_plane_sig_sql("qe")} AS qbucket FROM q),
b AS (SELECT vec_id, label, embedding,
             {_plane_sig_sql("embedding")} AS bucket
      FROM embeddings
      -- malformed-vector exclusion (round-7 pin): a NULL-element
      -- vector gets a REAL bucket here (list_aggregate skips NULLs)
      -- but a NULL one in Spark; a zero-norm vector's raw cosine is
      -- NaN here (ranks above reals) but NULL there
      WHERE {_valid_embedding_sql()})
SELECT b.vec_id, b.label,
       round(
         list_aggregate(list_transform(range(1, len(b.embedding) + 1),
           i -> CAST(b.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), 'sum')
         / (sqrt(list_aggregate(list_transform(range(1, len(b.embedding) + 1),
              i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum'))
            * sqrt(list_aggregate(list_transform(range(1, len(q.qe) + 1),
                i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), 'sum'))),
         6) AS cosine_sim
FROM b, q, qb
WHERE b.bucket = qb.qbucket
ORDER BY cosine_sim DESC, b.vec_id, b.label
LIMIT 10
"""

@register(
    "similarity_ann_lsh",
    oracle=_ann_lsh_oracle(),
    doc="Random-hyperplane LSH ANN: 6-bit signature buckets prune the "
    "scan; exact cosine within the query's bucket. The partition-"
    "pruned search path for 100 TB embedding stores. Fully "
    "deterministic (seeded planes as shared literals), so the "
    "bucket-pruned top-10 is oracle-checked, not just rows-counted.",
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:

    qv = _query_vector(spark, sf_dir)
    # same malformed-vector exclusion as the oracle's b CTE
    emb = valid_embeddings(table(spark, sf_dir, "embeddings"))
    return ann_topk(
        emb,
        "embedding",
        qv,
        _near_dup_planes(),
        k=10,
        id_cols=["vec_id", "label"],
    )

_RANGE_TAU = 0.25

_RANGE_SEARCH_ORACLE = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id, label,
         list_aggregate(list_transform(range(1, len(embedding) + 1),
           i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), 'sum')
         / (sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1),
              i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 'sum'))
            * sqrt(list_aggregate(list_transform(range(1, len(qe) + 1),
                i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), 'sum'))) AS raw
  FROM embeddings, q
  -- same malformed-vector exclusion as _TOPK_ORACLE (round-6 pin)
  WHERE vec_id <> 0
    AND embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
)
SELECT vec_id, label, round(raw, 6) AS cosine_sim
FROM scored WHERE raw >= {_RANGE_TAU}
"""

@register(
    "similarity_range_search",
    oracle=_RANGE_SEARCH_ORACLE,
    doc="Range (radius) similarity search: ALL vectors within cosine "
    ">= tau of the query, not a fixed top-k — the dedup-threshold / "
    "recall-sweep API a retrieval stack needs alongside top-k. Same "
    "codegen fold as the brute-force baseline; the predicate filters "
    "the RAW cosine (rounding only the output, the repo-wide boundary "
    "policy), and the scan is embarrassingly parallel — no shuffle at "
    "all, the filter rides the scan at 100 TB.",
)
def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbithole_spark.operators.similarity import cosine

    qv = _query_vector(spark, sf_dir)
    q = double_array_lit(qv)
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    raw = cosine(F.col("embedding"), q)
    return (
        emb.select("vec_id", "label", raw.alias("_raw"))
        .filter(F.col("_raw") >= _RANGE_TAU)
        .select("vec_id", "label", F.round("_raw", 6).alias("cosine_sim"))
    )

_MMR_LAMBDA = 0.7

_MMR_POOL = 32

_MMR_K = 10

def _mmr_oracle() -> str:
    """Greedy MMR replayed as {_MMR_K} unrolled CTE steps: the top-pool
    candidates by exact cosine, the pairwise candidate-cosine matrix,
    then step k picks argmax(lambda*rel - (1-lambda)*max-sim-to-
    selected) over the not-yet-selected pool, ties to the lowest
    vec_id. Every float op (sequential dot fold, sqrt, the lambda
    blend) has the identical expression shape on both engines, so the
    scores — and therefore the argmax choices — are bit-equal."""
    lam = _MMR_LAMBDA
    cos_ab = (
        f"{_dot_sql('a.e', 'b.e')} / "
        f"(sqrt({_dot_sql('a.e', 'a.e')}) * sqrt({_dot_sql('b.e', 'b.e')}))"
    )
    # MATERIALIZED: DuckDB inlines CTEs by default, so the k unrolled
    # steps would re-expand pair -> cand -> parquet scans exponentially
    # (the dedup_components oracle hit the same wall in round 5)
    ctes = [
        "q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)",
        f"""cand AS MATERIALIZED (
  SELECT vec_id, label, embedding AS e,
         {_dot_sql('embedding', 'q.qe')} /
         (sqrt({_dot_sql('embedding', 'embedding')}) * sqrt({_dot_sql('q.qe', 'q.qe')})) AS rel
  FROM embeddings, q
  WHERE vec_id <> 0
    -- malformed-vector exclusion (round-7 pin): a NULL-element vector
    -- gets a REAL rel here (list_aggregate skips NULLs) but a NULL one
    -- in Spark, and an underfull LIMIT would admit NULL-rel rows
    AND {_valid_embedding_sql()}
  ORDER BY rel DESC, vec_id
  LIMIT {_MMR_POOL})""",
        f"""pair AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib, {cos_ab} AS s
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id)""",
        f"""s1 AS (
  SELECT vec_id, {lam} * rel AS mmr, 1 AS rank
  FROM cand ORDER BY rel DESC, vec_id LIMIT 1)""",
        "a1 AS MATERIALIZED (SELECT * FROM s1)",
    ]
    for k in range(2, _MMR_K + 1):
        ctes.append(f"""s{k} AS (
  SELECT c.vec_id,
         {lam} * c.rel - {1 - lam} * (
           SELECT max(p.s) FROM pair p
           WHERE p.ia = c.vec_id
             AND p.ib IN (SELECT vec_id FROM a{k - 1})) AS mmr,
         {k} AS rank
  FROM cand c
  WHERE c.vec_id NOT IN (SELECT vec_id FROM a{k - 1})
  ORDER BY mmr DESC, c.vec_id
  LIMIT 1)""")
        ctes.append(
            f"a{k} AS MATERIALIZED "
            f"(SELECT * FROM a{k - 1} UNION ALL SELECT * FROM s{k})"
        )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT a.rank, a.vec_id, c.label, round(a.mmr, 6) AS mmr_score
FROM a{_MMR_K} a JOIN cand c ON c.vec_id = a.vec_id
"""

def _mmr_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed half of MMR: exact-cosine top-pool candidates.

    Kept as a separate DataFrame builder so its plan is auditable —
    the registered query collects it, so the SHUFFLE_BUDGETS entry
    only sees the driver-side result relation;
    test_mmr_pool_plan_is_shuffle_free pins THIS plan instead.
    """
    from rabbithole_spark.operators.similarity import cosine

    qv = _query_vector(spark, sf_dir)
    q = double_array_lit(qv)
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    return (
        emb.select(
            "vec_id",
            "label",
            "embedding",
            cosine(F.col("embedding"), q).alias("rel"),
        )
        # malformed vectors (NULL / NULL-element / zero-norm) fold to a
        # NULL rel — drop them so an underfull pool never admits a row
        # the driver fold cannot norm (round-7 NULL-probe pin; the
        # oracle's cand CTE excludes the same triple)
        .filter(F.col("rel").isNotNull())
        .orderBy(F.desc("rel"), "vec_id")
        .limit(_MMR_POOL)
    )

@register(
    "similarity_mmr_rerank",
    oracle=_mmr_oracle(),
    doc="Maximal-marginal-relevance re-ranking (the diversity pass a "
    "retrieval pipeline runs after ANN): distributed exact-cosine "
    "top-32 candidate pool (codegen fold + TakeOrderedAndProject — "
    "the 100 TB-scan part), then greedy selection of 10 results "
    "maximizing lambda*relevance - (1-lambda)*max-similarity-to-"
    "selected on the driver over the 32 collected vectors — the same "
    "bounded k x dim driver-fold class as the k-means centroid loop. "
    "Greedy is inherently sequential in k; the per-step argmax over a "
    "pool that stays distributed would shuffle 10 times for a 32-row "
    "decision. Oracle unrolls the greedy into 10 CTE steps with "
    "bit-equal float expressions, so selection ORDER (not just the "
    "set) is externally verified.",
)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    lam = _MMR_LAMBDA
    pool = _mmr_pool(spark, sf_dir).collect()

    def dot(a, b):  # same left-fold order as the codegen zip_with dot
        s = 0.0
        for x, y in zip(a, b):
            s += float(x) * float(y)
        return s

    import math

    norms = {r["vec_id"]: math.sqrt(dot(r["embedding"], r["embedding"])) for r in pool}

    def cos(ra, rb):
        return dot(ra["embedding"], rb["embedding"]) / (
            norms[ra["vec_id"]] * norms[rb["vec_id"]]
        )

    selected: list[tuple[int, int, int, float]] = []  # rank, vec_id, label, mmr
    chosen: list = []
    remaining = list(pool)
    for rank in range(1, _MMR_K + 1):
        if not remaining:  # pool smaller than k: oracle's step CTEs
            break          # come back empty past the pool, same result
        best = None
        best_score = None
        for c in remaining:
            pen = max((cos(c, s) for s in chosen), default=0.0)
            score = lam * c["rel"] - (1 - lam) * pen
            if (
                best is None
                or score > best_score
                or (score == best_score and c["vec_id"] < best["vec_id"])
            ):
                best, best_score = c, score
        selected.append((rank, best["vec_id"], best["label"], round(best_score, 6)))
        chosen.append(best)
        remaining = [c for c in remaining if c["vec_id"] != best["vec_id"]]
    return spark.createDataFrame(
        selected, "rank int, vec_id long, label int, mmr_score double"
    )

#: Deterministic hash-mod fit sample for the IVF coarse quantizer: the
#: same Knuth-multiplicative bucket used by the sampling queries, on
#: vec_id, keeping ~50% of vectors. 31-bit fold before the multiply
#: guards ANSI int64 overflow; the identical expression runs in DuckDB.
_IVF_FIT_BUCKET_SQL = "((vec_id % 2147483648) * 2654435761) % 4294967296 % 100 < 50"

#: malformed-vector exclusion for the IVF corpus (oracle dialect) — a
#: NULL / NULL-element vector can neither seed the quantizer (the
#: replay's first-k-by-id CTE would take it as a centroid where
#: lloyd_init_first_k skips None) nor live in a cell (its assignment
#: diverges: all-NULL distances order NULLS LAST in DuckDB -> cell 0,
#: but fold to a NULL cell in Spark) — the kmeans-family instance of
#: the round-7 SemDeDup advice pin. Spark twin: _ivf_corpus below.
_IVF_VALID_SQL = _valid_embedding_sql(require_norm=False)

_IVF_FIT_WHERE = f"{_IVF_FIT_BUCKET_SQL} AND {_IVF_VALID_SQL}"

def _ivf_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings corpus with the _IVF_VALID_SQL exclusion applied
    Spark-side — every IVF build/probe input goes through this."""

    return valid_embeddings(
        table(spark, sf_dir, "embeddings"), require_norm=False
    )

_IVF_N_CENTROIDS = 16

_IVF_NPROBE = 4

_IVF_ITERS = 2

def _ivf_cache_path_and_fingerprint(sf_dir: str) -> tuple[str, str]:
    """Shared by the single-query and batch IVF queries — they MUST
    agree byte-for-byte on both values or they stop sharing one index
    and thrash each other's cache on every alternation.

    Per-user private cache, keyed by a hash of the FULL dataset path
    (no cross-user predictable /tmp dir, no basename collisions); the
    fingerprint stamps the source parquet (path+size+mtime) plus the
    fit predicate, so editing the sample rule rebuilds the index
    instead of serving a stale layout the oracle no longer replays.
    """
    import hashlib
    import os

    base = os.path.join(os.path.expanduser("~"), ".cache", "rabbithole_spark")
    os.makedirs(base, mode=0o700, exist_ok=True)
    os.chmod(base, 0o700)
    cache_root = os.path.join(base, "ivf")
    os.makedirs(cache_root, exist_ok=True)
    key = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:16]
    index_path = os.path.join(cache_root, key)
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    fingerprint = (
        f"{src}:{st.st_size}:{st.st_mtime_ns}:{_IVF_FIT_WHERE}"
    )
    return index_path, fingerprint

def _ann_ivf_oracle() -> str:
    """DuckDB twin of the persisted-IVF search: replays the
    deterministic quantizer exactly (see _lloyd_replay_ctes), then the
    nprobe nearest cells and the exact cosine top-10 within them.
    Assignments/probes are integers with distance gaps vastly above
    cross-engine float noise, so the replay is stable."""
    k, iters, nprobe = _IVF_N_CENTROIDS, _IVF_ITERS, _IVF_NPROBE
    lloyd, prev = _lloyd_replay_ctes(k, iters, _IVF_FIT_WHERE)
    ctes = [
        "q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)",
        *lloyd,
    ]
    ctes.append(
        f"probes AS (SELECT cluster FROM (\n"
        f"  SELECT c.cluster, row_number() OVER (ORDER BY\n"
        f"    {_sq_l2_sql('q.qe', 'c.c')}, c.cluster) AS rn\n"
        f"  FROM {prev} c, q) WHERE rn <= {nprobe})"
    )
    ctes.append(
        f"cells AS (SELECT vec_id, label, embedding, cluster FROM (\n"
        f"  SELECT v.vec_id, v.label, v.embedding, c.cluster,\n"
        f"         row_number() OVER (PARTITION BY v.vec_id ORDER BY\n"
        f"           {_sq_l2_sql('v.embedding', 'c.c')}, c.cluster) AS rn\n"
        f"  FROM (SELECT * FROM embeddings WHERE {_IVF_VALID_SQL}) v\n"
        f"  CROSS JOIN {prev} c) WHERE rn = 1)"
    )
    with_sql = "WITH " + ",\n".join(ctes)
    return f"""{with_sql}
SELECT vec_id, label, cosine_sim FROM (
  SELECT b.vec_id, b.label,
         round(
           list_aggregate(list_transform(range(1, len(b.embedding) + 1),
             i -> CAST(b.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), 'sum')
           / (sqrt(list_aggregate(list_transform(range(1, len(b.embedding) + 1),
                i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum'))
              * sqrt(list_aggregate(list_transform(range(1, len(q.qe) + 1),
                  i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), 'sum'))),
           6) AS cosine_sim
  FROM cells b, q
  WHERE b.cluster IN (SELECT cluster FROM probes))
-- a zero-norm vector lives in a cell (L2 geometry is defined for it)
-- but has no direction to RANK: its 0/0 cosine is NULL on both
-- engines, and Spark's cosine_topk drops NULL similarities (round-7
-- NULL-probe pin)
WHERE cosine_sim IS NOT NULL
ORDER BY cosine_sim DESC, vec_id, label
LIMIT 10
"""

@register(
    "similarity_ann_ivf",
    oracle=_ann_ivf_oracle(),
    doc="IVF ANN against a PREBUILT cell-partitioned layout: the coarse "
    "quantizer is the repo's own deterministic Lloyd loop "
    "(first-k-by-id seeding over a hash-mod fit sample, fixed "
    "iterations — similarity.py lloyd_iterate), the corpus persists "
    "partitioned by cell id under a per-user private hash-keyed cache "
    "published by atomic rename, and the search probes the 4 nearest "
    "of 16 cells as a partition-pruned scan (PartitionFilters on "
    "cell), reading nprobe/n_centroids of the corpus — the 100 TB "
    "shape. Deterministic end to end, so the probe replay is "
    "oracle-checked rather than rows-counted.",
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbithole_spark.operators.similarity import ivf_topk_persisted

    qv = _query_vector(spark, sf_dir)
    index_path, fingerprint = _ivf_cache_path_and_fingerprint(sf_dir)
    return ivf_topk_persisted(
        spark,
        _ivf_corpus(spark, sf_dir),
        "embedding",
        qv,
        index_path,
        n_centroids=_IVF_N_CENTROIDS,
        nprobe=_IVF_NPROBE,
        k=10,
        id_cols=["vec_id", "label"],
        iters=_IVF_ITERS,
        fit_filter=F.expr(_IVF_FIT_BUCKET_SQL),
        fingerprint=fingerprint,
    )

#: query vec_ids for the batch IVF probe — deterministic, spread across
#: the id space so the probe sets (and hence the pruned cells) differ
_IVF_BATCH_QUERY_IDS = (0, 7, 19)

def _ann_ivf_batch_oracle() -> str:
    """DuckDB twin of the BATCH persisted-IVF search: the same Lloyd
    replay as _ann_ivf_oracle, then per-query probes (row_number over
    the query partition) and per-query exact cosine top-10 within the
    probed cells."""
    k, iters, nprobe = _IVF_N_CENTROIDS, _IVF_ITERS, _IVF_NPROBE
    ids = ", ".join(str(i) for i in _IVF_BATCH_QUERY_IDS)
    lloyd, prev = _lloyd_replay_ctes(k, iters, _IVF_FIT_WHERE)
    ctes = [
        f"q AS (SELECT vec_id AS query_id,\n"
        f"  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe\n"
        f"  FROM embeddings WHERE vec_id IN ({ids}))",
        *lloyd,
    ]
    ctes.append(
        f"probes AS (SELECT query_id, cluster FROM (\n"
        f"  SELECT q.query_id, c.cluster,\n"
        f"         row_number() OVER (PARTITION BY q.query_id ORDER BY\n"
        f"           {_sq_l2_sql('q.qe', 'c.c')}, c.cluster) AS rn\n"
        f"  FROM {prev} c, q) WHERE rn <= {nprobe})"
    )
    ctes.append(
        f"cells AS (SELECT vec_id, label, embedding, cluster FROM (\n"
        f"  SELECT v.vec_id, v.label, v.embedding, c.cluster,\n"
        f"         row_number() OVER (PARTITION BY v.vec_id ORDER BY\n"
        f"           {_sq_l2_sql('v.embedding', 'c.c')}, c.cluster) AS rn\n"
        f"  FROM (SELECT * FROM embeddings WHERE {_IVF_VALID_SQL}) v\n"
        f"  CROSS JOIN {prev} c) WHERE rn = 1)"
    )
    ctes.append(
        "scored AS (\n"
        "  SELECT q.query_id, b.vec_id, b.label,\n"
        "         round(\n"
        "           list_aggregate(list_transform(range(1, len(b.embedding) + 1),\n"
        "             i -> CAST(b.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), 'sum')\n"
        "           / (sqrt(list_aggregate(list_transform(range(1, len(b.embedding) + 1),\n"
        "                i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum'))\n"
        "              * sqrt(list_aggregate(list_transform(range(1, len(q.qe) + 1),\n"
        "                  i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), 'sum'))),\n"
        "           6) AS cosine_sim\n"
        "  FROM cells b JOIN probes p ON b.cluster = p.cluster\n"
        "  JOIN q ON q.query_id = p.query_id)"
    )
    with_sql = "WITH " + ",\n".join(ctes)
    return f"""{with_sql}
SELECT query_id, vec_id, label, cosine_sim FROM (
  SELECT query_id, vec_id, label, cosine_sim,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cosine_sim DESC, vec_id, label) AS rn
  -- NULL cosines (zero-norm vectors) cannot rank — see the
  -- single-query oracle
  FROM scored WHERE cosine_sim IS NOT NULL) WHERE rn <= 10
"""

@register(
    "similarity_ann_ivf_batch",
    oracle=_ann_ivf_batch_oracle(),
    doc="BATCH IVF ANN — the shape a retrieval pipeline actually runs "
    "at 100 TB: N query vectors resolve their nprobe cells driver-side "
    "(k x dim sidecar math), the persisted cell-partitioned layout is "
    "scanned ONCE with the probe-union as PartitionFilters, each row "
    "joins only the queries probing its cell (broadcast of the tiny "
    "query table, array_contains residual), and per-query top-10 is a "
    "single window over query_id. Plan-tested: one pruned scan for "
    "all N queries (tests/test_scale_plans.py). Same deterministic "
    "quantizer as similarity_ann_ivf, so the whole batch probe is "
    "oracle-replayed.",
)
def similarity_ann_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbithole_spark.operators.similarity import ivf_topk_persisted_batch

    rows = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isin(list(_IVF_BATCH_QUERY_IDS)))
        .select("vec_id", "embedding")
        .collect()
    )
    qvecs = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows
    )
    index_path, fingerprint = _ivf_cache_path_and_fingerprint(sf_dir)
    return ivf_topk_persisted_batch(
        spark,
        _ivf_corpus(spark, sf_dir),
        "embedding",
        qvecs,
        index_path,
        n_centroids=_IVF_N_CENTROIDS,
        nprobe=_IVF_NPROBE,
        k=10,
        id_cols=["vec_id", "label"],
        iters=_IVF_ITERS,
        fit_filter=F.expr(_IVF_FIT_BUCKET_SQL),
        fingerprint=fingerprint,
    )

def _near_dup_oracle() -> str:
    """DuckDB twin of the LSH-bucket-blocked near-dup query: identical
    plane literals, bucket-equality blocking, cosine threshold."""
    sig = _plane_sig_sql("embedding")
    return f"""
WITH v AS (SELECT vec_id, embedding, {sig} AS bucket FROM embeddings
           -- malformed-vector exclusion (round-9 review: this query
           -- missed the round-7 audit): a NULL-element vector gets a
           -- REAL bucket+cosine here via DuckDB's NULL-skipping list
           -- folds but NULL-sinks in Spark; zero-norm raw cosine is
           -- NaN here vs NULL there
           WHERE {_valid_embedding_sql()}),
pairs AS (
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(
         list_aggregate(list_transform(range(1, len(a.embedding) + 1),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')
         / (sqrt(list_aggregate(list_transform(range(1, len(a.embedding) + 1),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), 'sum'))
            * sqrt(list_aggregate(list_transform(range(1, len(b.embedding) + 1),
                i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum'))),
         6) AS cosine_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id AND a.bucket = b.bucket
)
SELECT id_a, id_b, cosine_sim FROM pairs WHERE cosine_sim >= {_NEAR_DUP_THRESHOLD}
"""

@register(
    "similarity_embedding_near_dup",
    oracle=_near_dup_oracle(),
    doc="Embedding-cosine near-dup pairs blocked by random-hyperplane "
    "LSH buckets (the 100 TB shape: bucket equality is one linear "
    "shuffle on a 64-bucket key and the quadratic compare is bounded "
    "per bucket, vs the label-blocked all-pairs join this replaced). "
    "Threshold 0.35 is calibrated to the synthetic embeddings "
    "(near-random vectors, max pairwise cosine ~0.51) so the check "
    "certifies real pairs at sf0.01 instead of an empty result.",
)
def similarity_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbithole_spark.operators.dedup import spread
    from rabbithole_spark.operators.similarity import (
        dot,
        hyperplane_signature,
        l2_norm,
    )

    # spread(): embeddings.parquet is one input split, so the
    # interpreted signature folds (6 planes x 64-dim zip_with per row)
    # otherwise run on ONE core per join side — measured 2.3 s per
    # side at sf0.1 (round 12, guide §2.5). Each side also carries its
    # own L2 norm so the per-pair expression is a single dot fold
    # instead of cosine()'s three (the item-8 semdedup device): the
    # denominator l2_norm(a)*l2_norm(b) is the identical double
    # computed once per VECTOR, and the threshold filter Catalyst
    # pushes into the join condition duplicates one fold, not three.
    e = valid_embeddings(
        spread(table(spark, sf_dir, "embeddings"))
    ).select(
        "vec_id",
        "embedding",
        hyperplane_signature(
            F.col("embedding"), _near_dup_planes()
        ).alias("bucket"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    a = e.alias("a")
    b = e.alias("b")
    denom = F.col("a.nrm") * F.col("b.nrm")
    sim = F.round(
        F.when(
            denom > 0,
            dot(F.col("a.embedding"), F.col("b.embedding")) / denom,
        ),
        6,
    )
    return (
        a.join(
            b,
            (F.col("a.vec_id") < F.col("b.vec_id"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= _NEAR_DUP_THRESHOLD)
    )

_CENTROIDS_ORACLE = """
SELECT label, pos, ROUND(AVG(val), 6) AS avg_val,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM (SELECT label, unnest(embedding) AS val,
             generate_subscripts(embedding, 1) - 1 AS pos FROM embeddings)
GROUP BY label, pos
"""

@register(
    "embedding_centroids",
    oracle=_CENTROIDS_ORACLE,
    doc="Per-label element-wise centroid of the embedding column "
    "(posexplode -> groupBy(label, pos) -> avg): the k-means update "
    "step IVF index training runs at scale. Partial aggregation "
    "shrinks the shuffle to labels x dims rows regardless of corpus "
    "size; n_vectors is carried for the weighted re-average a "
    "multi-round trainer needs.",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.round(F.avg("val"), 6).alias("avg_val"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .withColumn("pos", F.col("pos").cast("long"))
    )

#: RRF constant (Cormack et al. 2009's k=60) and per-leg pool depth
_RRF_K = 60

_RRF_POOL = 20

_RRF_ORACLE = rf"""
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
), lex_scored AS (
  SELECT tf.doc_id,
         round(sum(ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 6) AS bm25
  FROM tf JOIN dfreq USING (word) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
), lex_rank AS (
  SELECT doc_id, lex_rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
    FROM lex_scored
  ) WHERE lex_rank <= {_RRF_POOL}
), q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
vec_scored AS (
  SELECT vec_id,
         round(
           list_aggregate(list_transform(range(1, len(embedding) + 1),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), 'sum')
           / (sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1),
                i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 'sum'))
              * sqrt(list_aggregate(list_transform(range(1, len(qe) + 1),
                  i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), 'sum'))),
           6) AS cosine_sim
  FROM embeddings, q
  -- malformed-vector exclusion: same pin as similarity_topk_bruteforce
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
), vec_rank AS (
  SELECT doc_id, vec_rank FROM (
    SELECT vec_id AS doc_id,
           row_number() OVER (ORDER BY cosine_sim DESC, vec_id) AS vec_rank
    FROM vec_scored WHERE cosine_sim IS NOT NULL
  ) WHERE vec_rank <= {_RRF_POOL}
)
SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
       CAST(l.lex_rank AS BIGINT) AS lex_rank,
       CAST(v.vec_rank AS BIGINT) AS vec_rank,
       ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + l.lex_rank), 0.0)
             + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + v.vec_rank), 0.0),
             6) AS rrf_score
FROM lex_rank l FULL OUTER JOIN vec_rank v ON l.doc_id = v.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT 10
"""

@register(
    "retrieval_hybrid_rrf",
    oracle=_RRF_ORACLE,
    doc="Hybrid retrieval with reciprocal-rank fusion (Cormack et al. "
    "2009, k=60): the BM25 lexical leg (query {spark, join, vector}) "
    "and the cosine vector leg (query vec_id=0; doc_id = vec_id in "
    "this corpus) each produce a deterministic top-20, and the legs "
    "fuse on rank alone — 1/(60+r) per leg, score-scale-free, which "
    "is why RRF is the standard fusion for hybrid search. Scale "
    "shape: each leg ends in TakeOrderedAndProject (per-partition "
    "top-k, never a global sort of the corpus), so the only rows that "
    "reach the rank windows and the full-outer fusion join are the "
    "2x20 pooled rows — both windows and the join are bounded by the "
    "pool constant, not the corpus. Ranks round their leg scores to "
    "6dp first so the rank boundary replays identically in the "
    "oracle.",
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    lex_top = (
        _bm25_scores(spark, sf_dir, ["spark", "join", "vector"])
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_RRF_POOL)
    )
    # rank windows run AFTER the limit: ordering a <=20-row relation
    # on one task is the bounded-pool pattern (same as the MMR pool)
    lex_rank = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .cast("bigint")
        .alias("lex_rank"),
    )
    qv = _query_vector(spark, sf_dir)
    vec_top = cosine_topk(
        table(spark, sf_dir, "embeddings"),
        "embedding",
        qv,
        k=_RRF_POOL,
        id_cols=["vec_id"],
    )
    vec_rank = vec_top.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("cosine_sim").desc(), "vec_id"))
        .cast("bigint")
        .alias("vec_rank"),
    )
    fused = lex_rank.join(vec_rank, "doc_id", "full_outer")
    leg = lambda rank_col: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(_RRF_K) + F.col(rank_col)), F.lit(0.0)
    )
    return (
        fused.select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.round(leg("lex_rank") + leg("vec_rank"), 6).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(10)
    )

_PROJ_IN_DIM = 64

_PROJ_OUT_DIM = 16

def _proj_sign(i: int, j: int) -> float:
    """Deterministic ±1 for input dim i / output dim j: parity of a
    mid bit of a mixed multiplicative hash (Knuth × xxhash-prime2
    multipliers). Computed ONCE in Python and embedded as literals in
    BOTH the Spark plan and the oracle SQL — the engines never hash."""
    h = (i * 2654435761 + j * 2246822519) % 4294967296
    return 1.0 if (h >> 16) & 1 == 0 else -1.0

_PROJ_SIGNS = [
    [_proj_sign(i, j) for i in range(_PROJ_IN_DIM)]
    for j in range(_PROJ_OUT_DIM)
]

def _proj_oracle() -> str:
    dims = []
    for j, signs in enumerate(_PROJ_SIGNS):
        lits = ", ".join(str(s) for s in signs)
        # + 0.0 folds IEEE signed zeros: a tiny negative fold sum
        # rounds to -0.0 here where Spark's BigDecimal round yields
        # +0.0 (caught by the NULL-fixture probe on a planted vector)
        dims.append(
            f"round(list_aggregate(list_transform("
            f"range(1, {_PROJ_IN_DIM} + 1),"
            f" i -> CAST(embedding[i] AS DOUBLE) * ([{lits}])[i]),"
            f" 'sum') / {float(_PROJ_OUT_DIM) ** 0.5}, 6) + 0.0"
            f" AS p{j:02d}"
        )
    cols = ",\n       ".join(dims)
    return f"""
SELECT vec_id, label,
       {cols}
FROM embeddings
-- same malformed-vector pin as the other embedding oracles, plus the
-- dimensionality guard the sign matrix is sized for
WHERE {_valid_embedding_sql(require_norm=False)}
  AND len(embedding) = {_PROJ_IN_DIM}
"""

@register(
    "embedding_random_projection",
    oracle=_proj_oracle(),
    doc="Johnson-Lindenstrauss random projection 64d -> 16d with a "
    "deterministic ±1 sign matrix (Achlioptas 2003: sign matrices "
    "match Gaussian JL guarantees), scaled by 1/sqrt(16) so expected "
    "norms are preserved — the dim-reduction front end for LSH/IVF "
    "indexing at 100 TB. The sign matrix is generated once in Python; "
    "the oracle replays it term-for-term as literals. Scale shape: "
    "the matrix ships as a ONE-row broadcast array<array<double>> "
    "(BroadcastNestedLoopJoin of a single local row) and all 16 "
    "projections compute inside ONE transform lambda over it — O(1) "
    "plan size in the output dimension and a single codegen unit, "
    "where the earlier literal formulation inlined 16 independent "
    "fold expressions that each compiled (the same plan-size/codegen "
    "class the round-9 bcast screen twins measured 3-4x faster; the "
    "projection array is materialized in its own projection so the 16 "
    "column extracts reference it once — CollapseProject keeps "
    "non-cheap multi-referenced aliases in place, pinned by "
    "tests/test_scale_plans.py). Corpus side: a pure scan-side map, "
    "zero shuffles, one ordered fold per output dim over "
    "zip_with(embedding, signs); malformed vectors (NULL / NULL "
    "element) and off-dimension vectors are excluded by the shared "
    "valid_embeddings contract + an explicit length guard on both "
    "engines.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = valid_embeddings(
        table(spark, sf_dir, "embeddings"), require_norm=False
    ).filter(F.size("embedding") == _PROJ_IN_DIM)
    scale = float(_PROJ_OUT_DIM) ** 0.5
    signs = spark.createDataFrame(
        [(list(_PROJ_SIGNS),)], "signs array<array<double>>"
    )
    # One lambda computes every output dim; arithmetic is identical to
    # the oracle's per-dim fold (zip_with product, sequential sum fold,
    # round 6, + 0.0 signed-zero fold — see _proj_oracle).
    proj = F.transform(
        F.col("signs"),
        lambda srow: F.round(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    srow,
                    lambda x, s: x.cast("double") * s,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / scale,
            6,
        )
        + F.lit(0.0),
    )
    return (
        e.join(F.broadcast(signs))
        .select("vec_id", "label", proj.alias("proj"))
        .select(
            "vec_id",
            "label",
            *[
                F.col("proj")[j].alias(f"p{j:02d}")
                for j in range(_PROJ_OUT_DIM)
            ],
        )
    )

_HARDNEG_N_ANCHORS = 8

_HARDNEG_K = 5

_HARDNEG_SHARDS = 64

_HARDNEG_ORACLE = f"""
WITH a AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS ae
  FROM embeddings
  WHERE vec_id < {_HARDNEG_N_ANCHORS} AND {_valid_embedding_sql()}
), scored AS (
  SELECT a.anchor_id, a.anchor_label, e.vec_id, e.label,
         round(
           list_aggregate(list_transform(range(1, len(e.embedding) + 1),
             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(a.ae[i] AS DOUBLE)), 'sum')
           / (sqrt(list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), 'sum'))
              * sqrt(list_aggregate(list_transform(range(1, len(a.ae) + 1),
                  i -> CAST(a.ae[i] AS DOUBLE) * CAST(a.ae[i] AS DOUBLE)), 'sum'))),
           6) AS cosine_sim
  FROM embeddings e, a
  -- malformed-vector pin, as in the other cosine oracles; the anchor
  -- row itself carries the anchor's label and is excluded by <>
  WHERE {_valid_embedding_sql("e.embedding")}
    AND e.label <> a.anchor_label
), ranked AS (
  SELECT anchor_id, anchor_label, vec_id, label, cosine_sim,
         row_number() OVER (
           PARTITION BY anchor_id ORDER BY cosine_sim DESC, vec_id
         ) AS rank
  FROM scored WHERE cosine_sim IS NOT NULL
)
SELECT CAST(anchor_id AS BIGINT) AS anchor_id, anchor_label,
       vec_id, label, cosine_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_HARDNEG_K}
"""

@register(
    "similarity_hard_negatives",
    oracle=_HARDNEG_ORACLE,
    doc="Hard-negative mining for contrastive training: for each of "
    f"{_HARDNEG_N_ANCHORS} anchor vectors, the top-{_HARDNEG_K} most "
    "cosine-similar corpus vectors with a DIFFERENT label — similar "
    "enough to be hard, labeled differently so they are negatives "
    "(the batch construction behind dense retrievers / SimCLR-style "
    "objectives). Scale shape: anchors are a bounded driver collect "
    "(N×dim floats) embedded as plan literals; the corpus scan emits "
    "N rows per vector via stack (a scan-side map, bounded ×N "
    "multiplier, no join); then EXACT distributed top-k in two "
    "phases — shard-local top-k per (anchor, pmod(vec_id, "
    f"{_HARDNEG_SHARDS})) bounds every sort partition, and the "
    "global re-rank per anchor sees only N×shards×k pre-filtered "
    "rows. Two-phase equals single-phase exactly (any global top-k "
    "row is in its shard's top-k), which is what the single-window "
    "oracle replays.",
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbithole_spark.operators.similarity import cosine

    e = valid_embeddings(table(spark, sf_dir, "embeddings"))
    anchors = (
        e.filter(F.col("vec_id") < _HARDNEG_N_ANCHORS)
        .select("vec_id", "label", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    if not anchors:
        raise ValueError(
            "no valid anchor vectors (vec_id < "
            f"{_HARDNEG_N_ANCHORS}) in embeddings — corpus empty or "
            "malformed"
        )
    stacked_args = []
    for a in anchors:
        q = double_array_lit(a.embedding)
        stacked_args.extend(
            [
                F.lit(a.vec_id).cast("bigint"),
                F.lit(a.label),
                F.round(cosine(F.col("embedding"), q), 6),
            ]
        )
    scored = e.select(
        "vec_id",
        "label",
        F.stack(F.lit(len(anchors)), *stacked_args).alias(
            "anchor_id", "anchor_label", "cosine_sim"
        ),
    ).filter(
        F.col("cosine_sim").isNotNull()
        & (F.col("label") != F.col("anchor_label"))
    )
    return _hardneg_two_phase_topk(scored)

def _hardneg_two_phase_topk(scored: DataFrame) -> DataFrame:
    """The shared exact two-phase distributed top-k tail: shard-local
    top-k per (anchor, pmod(vec_id, shards)) bounds every sort
    partition, then a bounded global re-rank per anchor (see
    similarity_hard_negatives' docstring for the equality argument).
    ``scored`` carries (vec_id, label, anchor_id, anchor_label,
    cosine_sim) with NULL sims and same-label rows already dropped."""
    from pyspark.sql import Window

    w_local = Window.partitionBy("anchor_id", "shard").orderBy(
        F.col("cosine_sim").desc(), "vec_id"
    )
    w_global = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine_sim").desc(), "vec_id"
    )
    return (
        scored.withColumn(
            "shard", F.pmod(F.col("vec_id"), F.lit(_HARDNEG_SHARDS))
        )
        .withColumn("r_local", F.row_number().over(w_local))
        .filter(F.col("r_local") <= _HARDNEG_K)
        .withColumn("rank", F.row_number().over(w_global).cast("bigint"))
        .filter(F.col("rank") <= _HARDNEG_K)
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            "label",
            "cosine_sim",
            "rank",
        )
    )

@register(
    "similarity_hard_negatives_bcast",
    oracle=_HARDNEG_ORACLE,
    doc="Broadcast-join twin of similarity_hard_negatives (VERDICT "
    "r8): identical semantics and oracle, but the anchor set stays a "
    "DataFrame — collapsed to ONE row holding a sorted "
    "array<struct(anchor_id, anchor_label, embedding)> and broadcast "
    "into the corpus scan, so plan size is O(1) in the anchor count "
    "where the literal variant's stack() grows the plan linearly. "
    "Per-corpus-row anchor scoring is transform + explode_outer over "
    "the broadcast array (explode_outer so the optimizer cannot "
    "re-run the generator input below the exchange — NOTES lesson 2); "
    "the exact two-phase distributed top-k tail is shared code with "
    "the literal variant. Twin equality is pinned by tests/"
    "test_llm_operators.py::test_hard_negatives_bcast_twin. An empty "
    "anchor set raises at execution (distributed raise_error branch). "
    "MEASURED FASTER than the literal stack() twin at sf0.1 (cold "
    "1.4 s vs 3.1, warm 1.3 vs 2.2) — the transform lambda compiles "
    "once vs 8 inlined cosine expressions.",
)
def similarity_hard_negatives_bcast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from rabbithole_spark.operators.similarity import cosine

    e = valid_embeddings(table(spark, sf_dir, "embeddings"))
    anchors = _bcast_sorted_struct_array(
        e.filter(F.col("vec_id") < _HARDNEG_N_ANCHORS),
        F.struct(
            F.col("vec_id").cast("bigint").alias("aid"),
            F.col("label").alias("alabel"),
            F.col("embedding").alias("ae"),
        ),
        "anchors",
        f"no valid anchor vectors (vec_id < {_HARDNEG_N_ANCHORS}) in "
        "embeddings — corpus empty or malformed",
    )
    per_anchor = F.transform(
        F.col("anchors"),
        lambda a: F.struct(
            a["aid"].alias("anchor_id"),
            a["alabel"].alias("anchor_label"),
            F.round(cosine(F.col("embedding"), a["ae"]), 6).alias(
                "cosine_sim"
            ),
        ),
    )
    scored = (
        e.join(anchors)
        .select(
            "vec_id",
            "label",
            F.explode_outer(per_anchor).alias("p"),
        )
        .select(
            "vec_id", "label", "p.anchor_id", "p.anchor_label", "p.cosine_sim"
        )
        .filter(
            F.col("cosine_sim").isNotNull()
            & (F.col("label") != F.col("anchor_label"))
        )
    )
    return _hardneg_two_phase_topk(scored)

_VALID_EMB_SQL = _valid_embedding_sql()

_QUANTIZED_ORACLE = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
qq AS (
  SELECT qe,
         CASE WHEN sqrt(list_aggregate(list_transform(range(1, len(qe) + 1),
                i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), 'sum')) = 0
              THEN 1.0
              ELSE sqrt(list_aggregate(list_transform(range(1, len(qe) + 1),
                i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), 'sum'))
         END AS qnrm
  FROM q
),
b AS (
  SELECT vec_id, label, embedding,
         sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1),
           i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 'sum'))
           AS nrm
  FROM embeddings
  -- malformed-vector exclusion (round-7 pin): a NULL-element vector
  -- would rank here via NULL-skipping list_aggregate but sink to a
  -- NULL dot in Spark; a zero-norm vector has no direction to rank
  WHERE {_VALID_EMB_SQL}
),
scored AS (
  SELECT b.vec_id, b.label,
         CAST(list_aggregate(list_transform(range(1, len(b.embedding) + 1),
           i -> CAST(CASE WHEN b.nrm = 0 THEN 0
                          ELSE round(CAST(b.embedding[i] AS DOUBLE) / b.nrm * 127)
                     END AS BIGINT)
                * CAST(round(127 * CAST(qq.qe[i] AS DOUBLE) / qq.qnrm) AS BIGINT)),
           'sum') AS BIGINT) AS q_dot
  FROM b, qq
)
SELECT vec_id, label, q_dot,
       round(CAST(q_dot AS DOUBLE) / 16129.0, 6) AS approx_cosine
FROM scored
ORDER BY q_dot DESC, vec_id, label
LIMIT 10
"""

@register(
    "similarity_ann_quantized",
    oracle=_QUANTIZED_ORACLE,
    doc="int8-quantized top-10 cosine neighbors of vec_id=0: unit-"
    "normalize, quantize to tinyint (4x smaller than float32), rank "
    "by exact integer dot product. The memory-bandwidth lever for "
    "billion-vector stores. Quantization is deterministic arithmetic, "
    "so the SQL oracle replicates it term-for-term (same float op "
    "order per side); recall vs the float baseline is asserted in "
    "tests/test_llm_operators.py.",
)
def similarity_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbithole_spark.operators.similarity import (
        quantized_topk,
        valid_embeddings,
    )

    qv = _query_vector(spark, sf_dir)
    # same malformed-vector exclusion as the oracle's b CTE
    emb = valid_embeddings(table(spark, sf_dir, "embeddings"))
    return quantized_topk(
        emb,
        "embedding",
        qv,
        k=10,
        id_cols=["vec_id", "label"],
    )

#: NULL-vector exclusion for the k-means fit/assign input. Without it
#: the oracle's first-k-by-id seeding takes NULL-embedding rows as
#: centroids (Spark's lloyd_init_first_k skips None), and a NULL row's
#: assignment diverges (all-NULL distances order NULLS LAST in DuckDB
#: -> cluster 0, but fold to a NULL cluster in Spark) — the same
#: latent-divergence class the round-7 advice pinned for SemDeDup.
#: Zero-norm vectors stay: squared-L2 geometry is well-defined for
#: them (unlike cosine, so this is deliberately weaker than
#: _SEMDEDUP_FIT_WHERE).
_KMEANS_FIT_WHERE = _valid_embedding_sql(require_norm=False)

def _kmeans_oracle() -> str:
    """DuckDB twin of the k-means rollup: replays the deterministic
    Lloyd loop over the NULL-excluded corpus (same first-k-by-id
    seeding and unrolled updates the IVF quantizer oracle uses),
    assigns every vector to its nearest final centroid, and aggregates
    cluster size + mean within-cluster squared distance. Cluster
    memberships are integers separated by distance gaps far above
    cross-engine float noise; dist2 is rounded per row and again after
    the mean on both sides, so the hash-compare is stable."""
    k, iters = _KMEANS_K, _KMEANS_ITERS
    ctes, prev = _lloyd_replay_ctes(k, iters, _KMEANS_FIT_WHERE)
    d2 = _sq_l2_sql("f.e", "c.c")
    ctes.append(
        f"af AS (SELECT vec_id, cluster, d2 FROM (\n"
        f"  SELECT f.vec_id, c.cluster, {d2} AS d2,\n"
        f"         row_number() OVER (PARTITION BY f.vec_id ORDER BY\n"
        f"           {d2}, c.cluster) AS rn\n"
        f"  FROM fit f CROSS JOIN {prev} c) WHERE rn = 1)"
    )
    with_sql = "WITH " + ",\n".join(ctes)
    return f"""{with_sql}
SELECT cluster,
       count(*) AS n_vectors,
       ROUND(AVG(ROUND(d2, 6)), 6) AS avg_dist2
FROM af
GROUP BY cluster
"""

@register(
    "similarity_kmeans_clusters",
    oracle=_kmeans_oracle(),
    doc="Semantic clustering of the embedding corpus: deterministic "
    "Lloyd's k-means (k=10, 4 iterations), per-iteration cost = one "
    "assignment scan against literal (broadcast-pattern) centroids + "
    "one (cluster, pos) update aggregation; cluster sizes and mean "
    "within-cluster squared distance reported per cluster. The "
    "training loop of an IVF index and the grouping step of "
    "semantic dedup. Deterministic by construction (first-k-by-id "
    "init, fixed iterations), so the whole iterative loop is "
    "oracle-replayed in SQL rather than rows-counted; label purity "
    "is additionally asserted in tests/test_llm_operators.py.",
)
def similarity_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbithole_spark.operators.similarity import (
        kmeans_fit_assign,
        valid_embeddings,
    )

    # same NULL-vector exclusion as _KMEANS_FIT_WHERE (a NULL or
    # NULL-element vector has no position, so it can neither seed a
    # centroid nor be assigned a cell)
    emb = valid_embeddings(
        table(spark, sf_dir, "embeddings"), require_norm=False
    )
    assigned = kmeans_fit_assign(
        emb,
        "embedding",
        ["vec_id"],
        k=_KMEANS_K,
        iters=_KMEANS_ITERS,
    )
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("dist2"), 6).alias("avg_dist2"),
    )

_FILTERED_LABELS = (2, 5, 7)

_FILTERED_TOPK_ORACLE = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id, label,
         round(
           list_aggregate(list_transform(range(1, len(embedding) + 1),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), 'sum')
           / (sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1),
                i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 'sum'))
              * sqrt(list_aggregate(list_transform(range(1, len(qe) + 1),
                  i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), 'sum'))),
           6) AS cosine_sim
  FROM embeddings, q
  WHERE label IN {_FILTERED_LABELS}
    AND embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
)
SELECT vec_id, label, cosine_sim
FROM scored
WHERE cosine_sim IS NOT NULL
ORDER BY cosine_sim DESC, vec_id, label
LIMIT 10
"""

@register(
    "similarity_filtered_topk",
    oracle=_FILTERED_TOPK_ORACLE,
    doc="Metadata-filtered vector search (the 'filtered ANN' problem): "
    "exact top-10 cosine neighbors of vec_id=0 restricted to rows "
    "whose label is in a small allow-set. PRE-filtering, not "
    "post-filtering: the label predicate is applied to the scan "
    "before the cosine fold, so it reaches the parquet reader as a "
    "PushedFilters entry and the similarity arithmetic runs only on "
    "survivors — at 100 TB the difference between scoring the whole "
    "corpus and scoring the selected slice. Same zero-shuffle "
    "TakeOrderedAndProject shape as similarity_topk_bruteforce; the "
    "oracle applies the identical predicate inside its scored CTE.",
)
def similarity_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:

    qv = _query_vector(spark, sf_dir)
    return cosine_topk(
        table(spark, sf_dir, "embeddings").filter(
            F.col("label").isin(*_FILTERED_LABELS)
        ),
        "embedding",
        qv,
        k=10,
        id_cols=["vec_id", "label"],
    )
