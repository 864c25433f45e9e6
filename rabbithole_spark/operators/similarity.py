"""Similarity search over embedding columns (array<float>).

Two paths (SURVEY.md §2B LLM-data ops):

- brute-force exact top-k: JVM-side dot product via zip_with +
  aggregate inside codegen — the correctness baseline. One scan, a
  TakeOrderedAndProject for top-k; no shuffle of the embedding column.
- LSH-bucketed ANN: random-hyperplane signatures bucket the corpus;
  search only the query's bucket (and neighbors by Hamming distance).
  The 100 TB path: buckets are written partitioned-by-signature so a
  query prunes to a handful of partitions.

All vector math is double-precision with a deterministic fold order so
the DuckDB oracle (same fold order) matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rabbithole_spark.functions.numeric import double_array_lit, double_matrix_lit

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "cosine_topk",
    "hyperplane_signature",
    "ann_topk",
    "ivf_topk",
    "ivf_build_index",
    "ivf_topk_persisted",
    "ivf_topk_persisted_batch",
    "lloyd_init_first_k",
    "lloyd_iterate",
    "quantize_unit_int8",
    "quantized_topk",
    "kmeans_fit_assign",
    "valid_embeddings",
]


def valid_embeddings(
    df: DataFrame, embedding_col: str = "embedding", require_norm: bool = True
) -> DataFrame:
    """The round-7 malformed-vector exclusion, in ONE place: drop NULL
    vectors and vectors with NULL elements (DuckDB's list folds SKIP
    NULL elements where Spark's propagate NULL — the one-sided
    divergence class the round-7 audit closed), and with
    ``require_norm`` also drop zero-norm vectors (no direction — raw
    cosine is NaN in DuckDB, NULL in Spark). Cosine-ranking consumers
    need the full triple; pure-L2 consumers (k-means fit/assign, IVF
    cells) pass ``require_norm=False``. The oracle twin is
    ``queries.llm._valid_embedding_sql`` — change BOTH or neither.
    """
    cond = F.col(embedding_col).isNotNull() & ~F.exists(
        embedding_col, lambda x: x.isNull()
    )
    if require_norm:
        cond = cond & (
            dot(F.col(embedding_col), F.col(embedding_col)) > 0
        )
    return df.filter(cond)


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product (codegen'd, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # Zero-norm guard (round-6 embeddings NULL/zero-vector probe): a
    # zero or NULL vector has no direction — cosine is NULL, not a
    # DIVIDE_BY_ZERO crash (ANSI mode) or an inf. NULL similarity sinks
    # below every real match under desc NULLS LAST on both engines, so
    # top-k/radius semantics are unchanged wherever a real match exists.
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def cosine_topk(
    df: DataFrame,
    embedding_col: str,
    query_vec: list[float],
    k: int = 10,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Exact top-k by cosine similarity to a constant query vector."""
    q = double_array_lit(query_vec)
    sim = F.round(cosine(F.col(embedding_col), q), 6).alias("cosine_sim")
    id_cols = id_cols or [c for c in df.columns if c != embedding_col]
    # malformed vectors (NULL, NULL-element, zero-norm) fold to a NULL
    # cosine — drop them so the top-k never pads with non-rankable rows
    # (round-6 embeddings probe pin; the oracles exclude them likewise)
    out = df.select(*id_cols, sim).filter(F.col("cosine_sim").isNotNull())
    order = [F.col("cosine_sim").desc()] + [F.col(c) for c in id_cols]
    return out.orderBy(*order).limit(k)


def hyperplane_signature(
    embedding: Column, planes: list[list[float]]
) -> Column:
    """Random-hyperplane LSH signature: bit b = sign(dot(v, plane_b)).

    Planes are driver-generated constants (seeded) — broadcast as
    literals into codegen; signature is a compact BIGINT bucket key.
    """
    bits = [
        F.when(dot(embedding, double_array_lit(plane)) > 0, 1)
        .otherwise(0)
        .cast("bigint")
        for plane in planes
    ]
    sig = F.lit(0).cast("bigint")
    for i, bit in enumerate(bits):
        sig = sig + (bit * F.lit(2**i).cast("bigint"))
    return sig


def ann_topk(
    df: DataFrame,
    embedding_col: str,
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 10,
    id_cols: list[str] | None = None,
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: prune to the query's LSH bucket, then exact
    cosine within it.

    ``multi_probe`` additionally probes every bucket within that
    Hamming distance of the query signature (near-boundary vectors land
    one bit-flip away) — recall rises steeply while the scanned
    fraction stays ~ C(n_planes, multi_probe) / 2^n_planes. The probe
    set is an IN-list of constants, so with a bucket-partitioned layout
    it is partition pruning at the scan.
    """
    import itertools

    import numpy as np

    sig_col = hyperplane_signature(F.col(embedding_col), planes)
    qv = np.asarray(query_vec, dtype=np.float64)
    q_sig = 0
    for i, plane in enumerate(planes):
        if float(np.dot(qv, np.asarray(plane, dtype=np.float64))) > 0:
            q_sig += 2**i
    probes = {q_sig}
    for dist in range(1, multi_probe + 1):
        for bits in itertools.combinations(range(len(planes)), dist):
            flipped = q_sig
            for b in bits:
                flipped ^= 2**b
            probes.add(flipped)
    bucketed = df.withColumn("lsh_bucket", sig_col).filter(
        F.col("lsh_bucket").isin(sorted(probes))
    )
    return cosine_topk(
        bucketed.drop("lsh_bucket"), embedding_col, query_vec, k, id_cols
    )


def quantize_unit_int8(embedding: Column) -> Column:
    """Symmetric int8 quantization of a unit-normalized vector:
    ``q_i = round(127 * v_i / ||v||)``, entirely inside codegen.

    Storage/bandwidth drops 4x vs float32 and the scoring dot product
    becomes exact integer arithmetic — the memory-bound lever for
    billion-vector stores. Zero vectors quantize to zeros (no NaNs)."""
    norm = l2_norm(embedding)
    return F.transform(
        embedding,
        lambda x: F.when(norm == 0, F.lit(0))
        .otherwise(F.round(x.cast("double") / norm * 127))
        .cast("tinyint"),
    )


def quantized_topk(
    df: DataFrame,
    embedding_col: str,
    query_vec: list[float],
    k: int = 10,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Approximate top-k cosine via int8-quantized dot products.

    Both sides are unit-normalized then quantized, so
    ``dot(qa, qb) / 127^2`` approximates the true cosine within
    ~1/127 per component. Ranking happens on the integer dot (exact,
    order-stable); the rescaled approximate cosine is returned for
    inspection. At scale the quantized column is what you PERSIST —
    the float column never needs to be read at query time.
    """
    import math

    id_cols = id_cols or [c for c in df.columns if c != embedding_col]
    nrm = math.sqrt(sum(x * x for x in query_vec)) or 1.0

    def _half_away(v: float) -> int:
        # Python round() is banker's (half-to-even); Spark ROUND and
        # DuckDB round() are half-away-from-zero. Match them so an
        # exact .5 component quantizes identically on every side.
        return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))

    q_query = F.array(
        *[F.lit(_half_away(127 * x / nrm)).cast("tinyint") for x in query_vec]
    )
    quantized = df.select(
        *id_cols, quantize_unit_int8(F.col(embedding_col)).alias("__q")
    )
    # integer dot: exact, overflow-safe in int (64 dims * 127^2 << 2^31)
    q_dot = F.aggregate(
        F.zip_with(F.col("__q"), q_query, lambda x, y: x.cast("int") * y.cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    out = quantized.select(
        *id_cols,
        # bigint output: keeps the schema stable across engines (an
        # int32 here would also overflow past ~133k dims)
        q_dot.cast("bigint").alias("q_dot"),
        F.round(q_dot.cast("double") / (127.0 * 127.0), 6).alias("approx_cosine"),
    )
    order = [F.col("q_dot").desc()] + [F.col(c) for c in id_cols]
    return out.orderBy(*order).limit(k)


def ivf_topk(
    df: DataFrame,
    embedding_col: str,
    query_vec: list[float],
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 10,
    id_cols: list[str] | None = None,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine search.

    Coarse quantizer: seeded distributed KMeans (Spark MLlib) clusters
    the corpus into ``n_centroids`` cells; each vector is assigned to
    its nearest centroid. A query scores only the ``nprobe`` cells whose
    centroids are closest to it — exact cosine within the probed cells.

    100 TB shape: fit the quantizer once on a sample, persist the
    assignment partitioned by cell id, and the probe filter becomes
    partition pruning at the scan — the search reads nprobe/n_centroids
    of the corpus instead of all of it. Here fit+assign run inline so
    the operator is self-contained and deterministic (fixed seed).
    """
    import numpy as np

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.withColumn("__vec", array_to_vector(F.col(embedding_col)))
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="__vec", predictionCol="__cell"
    ).fit(feats)
    centers = np.asarray([np.asarray(c) for c in model.clusterCenters()])
    qv = np.asarray(query_vec, dtype=np.float64)
    # nearest nprobe centroids by euclidean distance (KMeans' own metric)
    dists = np.linalg.norm(centers - qv, axis=1)
    probes = [int(i) for i in np.argsort(dists)[:nprobe]]
    pruned = (
        model.transform(feats)
        .filter(F.col("__cell").isin(probes))
        .drop("__vec", "__cell")
    )
    return cosine_topk(pruned, embedding_col, query_vec, k, id_cols)


#: Version tag of the deterministic quantizer baked into persisted IVF
#: layouts; bump on any change to the fit algorithm so stale caches
#: rebuild instead of silently serving a different cell geometry.
#: bumped to v2 when the centroid mean switched from F.avg (partial-
#: aggregate merge order is nondeterministic for doubles) to a sorted
#: sequential fold — cached v1 layouts must rebuild, not serve centers
#: the new oracle replay cannot reproduce
_IVF_QUANTIZER = "lloyd-det-v2"


def _centroid_dists(vec_col: Column, cents: list[list[float]]) -> Column:
    """Squared-L2 distances from a vector column to literal centroids —
    entirely row-local codegen (the broadcast-variable pattern): no
    shuffle, no row multiplication.

    The k x dim centroid matrix is built as ONE F.expr call (round 12,
    guide §1.2): every Lloyd iteration builds a fresh plan holding
    this matrix 1-3 times, and the earlier formulations — k*dim
    Literal nodes under array() constructors, and even `F.lit(nested
    list)`, which PySpark expands to exactly those per-element py4j
    calls — cost ~0.8 s of pure driver time PER CONSTRUCTION at k=10,
    dim=64 (measured: the dominant share of each ~1.2 s Lloyd step).
    One SQL-text parse builds the same tree JVM-side in ~5 ms; repr
    round-trip keeps every double bit-identical, so distances are
    bit-equal (non-finite values fall back to the py4j path).
    """
    carr = double_matrix_lit(cents)
    return F.transform(
        carr,
        lambda cvec: F.aggregate(
            F.zip_with(vec_col, cvec, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _nearest_cell(vec_col: Column, cents: list[list[float]]) -> Column:
    """0-based index of the nearest literal centroid; distance ties
    resolve to the lowest cell id (array_position = first match).

    Fixed-dim contract: a non-NULL vector whose length differs from
    the centroids' raises instead of being silently padded or
    truncated by zip_with (and, in lloyd_iterate, truncated to the
    seed dimension by the per-position update)."""
    dim = len(cents[0])
    vec_col = F.when(
        vec_col.isNull() | (F.size(vec_col) == dim), vec_col
    ).otherwise(
        F.raise_error(
            F.format_string(
                f"k-means vector length %d != centroid dim {dim}",
                F.size(vec_col),
            )
        )
    )
    d = _centroid_dists(vec_col, cents)
    return (F.array_position(d, F.array_min(d)) - 1).cast("int")


def lloyd_init_first_k(
    df: DataFrame, vec_col: str, order_cols: list[str], k: int
) -> list[list[float]]:
    """Deterministic seeding: the first ``k`` vectors in id order."""
    first = df.orderBy(*order_cols).limit(k).select(vec_col).collect()
    cents = [[float(x) for x in r[0]] for r in first if r[0] is not None]
    # clear error over a downstream zero-centroid AnalysisException: an
    # empty corpus means broken upstream data, and the message should
    # say so (round-6 empty-table probe)
    if not cents:
        raise ValueError(
            "cannot seed k-means: embedding corpus empty or malformed"
        )
    return cents


def lloyd_iterate(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    iters: int,
) -> list[list[float]]:
    """Fixed-count Lloyd updates, deterministic by construction: each
    step assigns rows to the nearest literal centroid (row-local, ties
    to the lowest id) and recomputes per-position means; empty clusters
    keep their previous centroid. Only the k x dim centroid update
    shuffles; its result collects to the driver and folds into the next
    step's plan as literals, so lineage stays O(1) per iteration.

    The per-position mean is a SORTED sequential fold, not F.avg:
    distributed double addition is non-associative and partial-
    aggregate merge order is arrival-dependent, so avg() could differ
    in the low bits between runs (and vs the DuckDB replay, whose
    list_sort+list_aggregate mirrors this fold exactly) — enough to
    flip a near-equidistant cell assignment. Sorting the values first
    makes the sum a pure function of the multiset."""
    cents = [list(c) for c in centroids]
    dim = len(cents[0])
    for _ in range(iters):
        assigned = df.select(
            F.col(vec_col).alias("__v"),
            _nearest_cell(F.col(vec_col), cents).alias("cluster"),
        )
        # ONE groupBy(cluster) with the per-position sorted folds
        # computed over the collected vector lists (round 13, guide
        # §2.4/§1.2): the previous shape posexploded every vector into
        # n x dim (cluster, pos, val) rows and ran TWO aggregations
        # (640 (cluster, pos) groups, then k) — measured 3.2 s warm
        # for 4 iterations at sf0.1 vs 1.9 s for this shape, with
        # BIT-IDENTICAL centroids: per position, array_sort over the
        # cluster's p-th components is the same sorted multiset the
        # old collect_list(val) group produced, so the sequential fold
        # and the division are the identical doubles. Vectors of any
        # other length than dim raise in _nearest_cell; NULL components
        # are filtered per position and a position with no values
        # drops out of the centroid, matching the old shape's
        # absent-(cluster, pos) behavior. Buffer note: the
        # per-group state is now the cluster's full vector list
        # (x dim vs the old per-position groups) — bounded by the FIT
        # relation, which is the sampled set at 100 TB (fit_filter).
        def _mean_at(p: Column) -> Column:
            vals = F.array_sort(
                F.filter(
                    F.transform(F.col("vs"), lambda v: v[p]),
                    lambda x: x.isNotNull(),
                )
            )
            return F.when(
                F.size(vals) > 0,
                F.aggregate(vals, F.lit(0.0), lambda acc, x: acc + x)
                / F.size(vals),
            )

        cvec = F.filter(
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)), lambda p: _mean_at(p)
            ),
            lambda m: m.isNotNull(),
        )
        new = (
            assigned.groupBy("cluster")
            .agg(F.collect_list("__v").alias("vs"))
            .select("cluster", cvec.alias("cvec"))
            .collect()
        )
        for row in new:  # empty clusters keep their previous centroid
            cents[row["cluster"]] = [float(x) for x in row["cvec"]]
    return cents


def ivf_build_index(
    df: DataFrame,
    embedding_col: str,
    path: str,
    n_centroids: int = 16,
    iters: int = 2,
    order_cols: list[str] | None = None,
    fit_filter: Column | None = None,
    fingerprint: str | None = None,
) -> dict:
    """Build the persisted IVF layout: fit the coarse quantizer, assign
    every vector, write the corpus partitioned by cell — atomically.

    The quantizer is the repo's own deterministic Lloyd loop
    (:func:`lloyd_init_first_k` seeds from the first k vectors in id
    order, :func:`lloyd_iterate` runs a fixed iteration count), so the
    final centroids are a pure function of the data — replayable by a
    SQL oracle, no MLlib sampling RNG in the loop. ``fit_filter`` keeps
    the 100 TB story: pass a deterministic hash-mod predicate and the
    quantizer fits on that sample while the one full pass over the
    corpus is the partitioned write. Centroids + corpus size persist in
    a JSON sidecar so queries never refit.

    The layout is PUBLISHED atomically: Spark writes into a fresh
    ``<path>.gen-*`` directory (sidecar included) and ``path`` is a
    SYMLINK swapped onto it with ``os.replace`` — a single atomic
    rename, so a concurrent reader never observes a half-written index
    or a missing path (Spark's own overwrite mode is not atomic, and a
    rename-away-then-rename-in dance leaves a no-index window). The
    previous generation is kept until the next build so an in-flight
    reader that already resolved the old link keeps its files; only
    generations older than that are removed.
    """
    import json
    import os
    import shutil
    import uuid

    order_cols = list(order_cols or ["vec_id"])
    # n backs the NO-fingerprint staleness fallback only — computing it
    # when a fingerprint is supplied would charge every build an extra
    # full corpus pass for a value nothing reads
    n = df.count() if fingerprint is None else None
    fit_df = df.filter(fit_filter) if fit_filter is not None else df
    # round-robin widen + materialize the fit relation (round 12):
    # every Lloyd iteration's interpreted distance folds otherwise run
    # on the single input split, and each iteration is its own job so
    # a bare repartition would re-pay scan + shuffle per iteration —
    # see kmeans_fit_assign. Row-preserving; the checkpoint holds the
    # bounded fit set only (the fit_filter sample at 100 TB).
    fit_df = fit_df.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    ).localCheckpoint(eager=True)
    cents = lloyd_init_first_k(fit_df, embedding_col, order_cols, n_centroids)
    cents = lloyd_iterate(fit_df, embedding_col, cents, iters)
    assigned = df.withColumn(
        "cell", _nearest_cell(F.col(embedding_col), cents)
    )
    gen = f"{path}.gen-{uuid.uuid4().hex[:8]}"
    assigned.write.mode("overwrite").partitionBy("cell").parquet(gen)
    meta = {
        "n": n,
        "n_centroids": n_centroids,
        "iters": iters,
        "quantizer": _IVF_QUANTIZER,
        "fingerprint": fingerprint,
        # the fit predicate is a quantizer input: an index built from a
        # different fit sample is a different index even when the data
        # fingerprint matches
        "fit_expr": str(fit_filter) if fit_filter is not None else None,
        "centers": cents,
    }
    with open(os.path.join(gen, "_ivf_meta.json"), "w") as fh:
        json.dump(meta, fh)
    prev_target = (
        os.path.realpath(path) if os.path.islink(path) else None
    )
    tmp_link = f"{path}.lnk-{uuid.uuid4().hex[:8]}"
    os.symlink(os.path.abspath(gen), tmp_link)
    if os.path.exists(path) and not os.path.islink(path):
        # legacy real-directory layout: move it aside once; from here
        # on the path is a symlink and every publish is atomic. A
        # directory cannot be atomically replaced by a symlink on
        # POSIX, so the migration window is irreducible — but with the
        # new-generation link pre-created above it shrinks to the two
        # adjacent syscalls below, happens at most once per index
        # lifetime, and a reader landing inside it merely sees a
        # missing sidecar and falls back to the stale/rebuild path.
        legacy = f"{path}.gen-legacy-{uuid.uuid4().hex[:8]}"
        os.rename(path, legacy)
        prev_target = os.path.realpath(legacy)
    os.replace(tmp_link, path)  # atomic: readers see old or new, never neither
    # drop stale generations and crash debris — with two guards: paths
    # canonicalize via realpath on BOTH sides (a symlinked parent like
    # /tmp -> /private/tmp must not defeat the keep-set), and anything
    # modified inside the grace window survives (a CONCURRENT builder's
    # not-yet-published generation looks like debris to this process).
    import time as _time

    grace_s = 3600.0
    base = os.path.basename(path)
    parent = os.path.dirname(os.path.abspath(path)) or "."
    keep = {os.path.realpath(gen), prev_target}
    debris_prefixes = (
        f"{base}.gen-", f"{base}.lnk-", f"{base}.build-", f"{base}.trash-"
    )
    now = _time.time()
    for entry in os.listdir(parent):
        if not entry.startswith(debris_prefixes):
            continue
        full = os.path.join(parent, entry)
        if os.path.realpath(full) in keep:
            continue
        try:
            age = now - os.lstat(full).st_mtime
        except OSError:
            continue
        if age < grace_s:
            continue
        if os.path.islink(full) or os.path.isfile(full):
            try:
                os.remove(full)
            except OSError:
                pass
        else:
            shutil.rmtree(full, ignore_errors=True)
    # hand the caller the exact generation this build published, so it
    # can pin reads to it directly instead of re-resolving the symlink
    # (a concurrent builder with a DIFFERENT fingerprint could have
    # re-swapped the link between our os.replace and that re-resolve,
    # mixing our centers with its cell layout)
    return {**meta, "gen_dir": os.path.realpath(gen)}


def _ivf_ensure_index(
    df: DataFrame,
    embedding_col: str,
    index_path: str,
    n_centroids: int,
    iters: int,
    fit_filter: Column | None,
    fingerprint: str | None,
) -> tuple[str, dict]:
    """Resolve (and if stale, rebuild) the persisted IVF layout; return
    ``(generation_dir, meta)`` pinned to ONE generation.

    PIN one generation: resolve the symlink ONCE and use the resolved
    directory for both the sidecar read and the (lazy) parquet scan,
    so a concurrent rebuild swapping the link mid-query can never mix
    one generation's centers with another generation's cell layout.

    Staleness: pass ``fingerprint`` (any string identifying the source
    data version — e.g. source-file path+size+mtime) and the probe is a
    metadata compare with ZERO scans of the corpus; without one, the
    fallback compares a row count, which costs a count job per query
    and cannot see same-size data changes. A quantizer-version mismatch
    (older cache formats) also forces a rebuild.
    """
    import json
    import os

    resolved = os.path.realpath(index_path)
    meta = None
    meta_path = os.path.join(resolved, "_ivf_meta.json")
    try:
        with open(meta_path) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        meta = None
    if meta is not None:
        # refresh the pinned generation's mtime: the builder's cleanup
        # ages debris by mtime, so a generation two builds old that is
        # still being read must not look reapable — last-USE time, not
        # creation time, is what the grace window should measure.
        # Best-effort ONLY: a failed utime (foreign-uid cache dir,
        # read-only fs) must not discard a successfully loaded meta
        # and trigger a spurious full rebuild.
        try:
            os.utime(resolved)
        except OSError:
            pass
    # A LEGACY real-directory layout cannot be generation-pinned: the
    # path itself is the data, so a concurrent builder migrating it to
    # the symlink scheme would swap new parquet under our old centers
    # when the lazy scan finally runs. Force the rebuild path once —
    # it publishes the symlink layout and returns a pinned gen_dir;
    # every subsequent read is race-free.
    legacy_unpinnable = (
        meta is not None
        and os.path.isdir(index_path)
        and not os.path.islink(index_path)
    )
    stale = (
        meta is None
        or legacy_unpinnable
        or meta.get("n_centroids") != n_centroids
        or meta.get("iters") != iters
        or meta.get("quantizer") != _IVF_QUANTIZER
        or meta.get("fit_expr")
        != (str(fit_filter) if fit_filter is not None else None)
        or (
            meta.get("fingerprint") != fingerprint
            if fingerprint is not None
            else meta.get("n") != df.count()
        )
    )
    if stale:
        meta = ivf_build_index(
            df,
            embedding_col,
            index_path,
            n_centroids=n_centroids,
            iters=iters,
            fit_filter=fit_filter,
            fingerprint=fingerprint,
        )
        # pin the exact generation THIS build wrote (not a re-resolve of
        # the symlink, which a concurrent builder may have re-swapped)
        resolved = meta["gen_dir"]
    return resolved, meta


def _probe_cells(
    centers: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """The ``nprobe`` nearest cells to a query vector, driver-side.

    Probe distances use the SAME sequential left-to-right squared-L2
    fold as the oracle's list_aggregate (numpy's pairwise-summed norm
    could rank near-tied centroids differently); stable sort keeps
    exact ties in cell-id order, matching (distance, cluster).
    """

    def _sq_l2(c: list[float]) -> float:
        acc = 0.0
        for x, y in zip(c, query_vec):
            acc += (float(x) - float(y)) * (float(x) - float(y))
        return acc

    dists = [_sq_l2(c) for c in centers]
    return [
        int(i) for i in sorted(range(len(dists)), key=lambda i: (dists[i], i))
    ][:nprobe]


def ivf_topk_persisted(
    spark,
    df: DataFrame,
    embedding_col: str,
    query_vec: list[float],
    index_path: str,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 10,
    id_cols: list[str] | None = None,
    iters: int = 2,
    fit_filter: Column | None = None,
    fingerprint: str | None = None,
) -> DataFrame:
    """IVF search against the prebuilt cell-partitioned layout.

    Builds (or rebuilds, when the source data or quantizer config
    changed) the index via :func:`ivf_build_index`, then searches it:
    nearest ``nprobe`` centroids come from the JSON sidecar (driver-side
    k x dim math, ties to the lowest cell id), and the scan of the
    layout carries ``cell IN (probes)`` — PartitionFilters in the plan,
    so only nprobe/n_centroids of the corpus is read.
    """
    resolved, meta = _ivf_ensure_index(
        df, embedding_col, index_path, n_centroids, iters, fit_filter,
        fingerprint,
    )
    probes = _probe_cells(meta["centers"], query_vec, nprobe)
    pruned = spark.read.parquet(resolved).filter(F.col("cell").isin(probes))
    # default id_cols from the SOURCE df (excluding the layout's cell
    # column), identically to the batch path — so batch and single
    # probes agree on schema and tie ordering for any call style
    id_cols = id_cols or [c for c in df.columns if c != embedding_col]
    return cosine_topk(pruned, embedding_col, query_vec, k, id_cols)


def ivf_topk_persisted_batch(
    spark,
    df: DataFrame,
    embedding_col: str,
    query_vecs: list[tuple[int, list[float]]],
    index_path: str,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 10,
    id_cols: list[str] | None = None,
    iters: int = 2,
    fit_filter: Column | None = None,
    fingerprint: str | None = None,
) -> DataFrame:
    """BATCH IVF search: N query vectors, ONE partition-pruned scan.

    The retrieval-pipeline shape at scale: per-query probes are k x dim
    driver math against the sidecar centers, the scan carries the
    probe-UNION as a single ``cell IN (...)`` PartitionFilter (the
    index is read once, not once per query), each corpus row joins only
    the queries probing its cell via a broadcast of the tiny
    (query_id, qvec, probes) table with an ``array_contains`` residual,
    and per-query top-k is one window over (query_id). Returns
    (query_id, *id_cols, cosine_sim); ranking ties resolve by id_cols,
    identical to :func:`cosine_topk`.
    """
    from pyspark.sql import Window

    resolved, meta = _ivf_ensure_index(
        df, embedding_col, index_path, n_centroids, iters, fit_filter,
        fingerprint,
    )
    union_probes: set[int] = set()
    probe_rows = []
    for qid, qv in query_vecs:
        probes = _probe_cells(meta["centers"], qv, nprobe)
        union_probes.update(probes)
        probe_rows.append(
            (int(qid), [float(x) for x in qv], [int(p) for p in probes])
        )
    qdf = spark.createDataFrame(
        probe_rows, "query_id long, qvec array<double>, probes array<int>"
    )
    pruned = spark.read.parquet(resolved).filter(
        F.col("cell").isin(sorted(union_probes))
    )
    id_cols = id_cols or [
        c
        for c in df.columns
        if c != embedding_col
    ]
    joined = pruned.join(
        F.broadcast(qdf), F.array_contains(F.col("probes"), F.col("cell"))
    )
    sim = F.round(
        cosine(F.col(embedding_col), F.col("qvec")), 6
    ).alias("cosine_sim")
    # NULL similarities (zero-norm vectors — they live in a cell but
    # have no direction to rank) drop before the per-query window, the
    # same contract as cosine_topk's isNotNull filter (round-7
    # NULL-probe pin)
    scored = joined.select("query_id", *id_cols, sim).filter(
        F.col("cosine_sim").isNotNull()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), *[F.col(c) for c in id_cols]
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def kmeans_fit_assign(
    df: DataFrame,
    vec_col: str,
    id_cols: list[str],
    k: int = 10,
    iters: int = 4,
    fit_filter: Column | None = None,
) -> DataFrame:
    """Lloyd's k-means over an embedding column, Spark-first: the
    per-iteration assignment is ROW-LOCAL — each row maps the literal
    centroid array (the broadcast-variable pattern) to k squared L2
    distances with transform() and takes array_min/array_position, so
    assignment adds zero shuffles and zero row multiplication. Only
    the centroid update shuffles (one (cluster, pos) aggregation, the
    embedding_centroids shape), and its k x dim result collects to the
    driver and folds into the next iteration's plan as literals —
    lineage stays O(1) per iteration instead of stacking query plans.

    Deterministic: centroids initialize from the first k vectors by id
    order, and distance ties resolve to the lowest cluster id
    (array_position returns the first match). Returns
    (id_cols..., cluster, dist2) for the final assignment. At 100 TB
    this is exactly the IVF training loop (sample -> fit -> assign is
    how ivf_topk's quantizer would be built); iters is small because
    curation pipelines want coarse cells, not converged clusters.

    The input is round-robin widened to default parallelism and then
    MATERIALIZED once (round 12, guide §2.5 input skew + §1.2 repeated
    subtree): the per-row distance math is interpreted higher-order-
    function work (zip_with/aggregate are CodegenFallback), k folds of
    dim lambda steps per row, and a single-split scan serializes EVERY
    fit iteration and the final assignment onto one core — measured
    1.3-4.9 s per Lloyd iteration on 2000x64 vectors at sf0.1. The
    localCheckpoint is load-bearing next to the repartition: the init,
    every iteration, and the final assignment are SEPARATE jobs over
    this lineage, and a bare repartition re-runs scan + shuffle in
    each of them (measured: repartition alone REGRESSED
    similarity_kmeans_clusters 4.6 -> 6.2 s; widen+checkpoint is the
    win for every caller). Row-preserving, so fit means, assignments,
    and distances are unchanged.

    ``fit_filter`` BOUNDS the checkpoint at scale (round 13, VERDICT
    r12 item 6): with a deterministic sample predicate (e.g. the
    hash-mod bucket ivf_build_index uses) only the FIT SAMPLE is
    widened + materialized, and the full corpus flows through the
    final row-local assignment straight off its scan — no full-corpus
    eager materialization anywhere. Without it (the registered
    semdedup/kmeans callers' DECLARED semantics: centroids are a
    function of the whole corpus, replayed exactly by their oracles)
    the fit set is the corpus and the checkpoint is corpus-sized —
    which is why the sampled path exists for anything bigger. Passing
    ``fit_filter=None`` keeps results and plan identical to round 12.
    """
    fit_df = df.filter(fit_filter) if fit_filter is not None else df
    fit_df = fit_df.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    ).localCheckpoint(eager=True)
    cents = lloyd_init_first_k(fit_df, vec_col, id_cols, k)
    cents = lloyd_iterate(fit_df, vec_col, cents, iters)
    assign_src = fit_df if fit_filter is None else df
    d = _centroid_dists(F.col(vec_col), cents)
    return assign_src.select(
        *id_cols,
        _nearest_cell(F.col(vec_col), cents).alias("cluster"),
        F.round(F.array_min(d), 6).alias("dist2"),
    )
