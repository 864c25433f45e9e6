"""Deduplication operators for training-data pipelines: exact
(content-hash), MinHash+LSH near-dup, SimHash, and exact n-gram
Jaccard (the small-scale verifier for the approximate paths).

Scale notes (100 TB):

- exact_dedup is one hash-shuffle on a 32-byte digest — the cheapest
  possible global dedup; prefer it as a pre-pass before any fuzzy pass.
- MinHash signatures are computed scan-side with JVM hash functions
  (xxhash64 under whole-stage codegen; no Python in the loop). LSH
  banding turns the O(n^2) pair problem into groupBy(band_hash) — the
  shuffle carries one row per (doc, band), so bytes scale linearly with
  the corpus, and only same-bucket pairs are candidate-joined.
- Exact Jaccard verification happens *after* LSH pruning, on the
  candidate set only.
- simhash folds shingle hashes into a 64-bit signature entirely inside
  codegen (explode + 64 partial-aggregable vote sums + bitwise OR).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rabbithole_spark.operators.text_analysis import tokens, word_windows

__all__ = [
    "simhash_hamming_pairs",
    "exact_dedup",
    "spread",
    "word_shingles",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "ngram_jaccard_pairs",
    "prefix_filtered_jaccard_pairs",
    "qgram_prefix_edit_pairs",
    "simhash",
    "connected_components",
]


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph: (doc_id,
    component) with component = min doc id reachable — the step that
    turns pairwise matches into dedup GROUPS (keep one doc per
    component).

    Iterative min-label propagation WITH pointer doubling: each round
    every node takes the min of its own label and its neighbors'
    labels (one edge join + groupBy), then compresses label chains by
    looking up its label's label (one self-join — labels are always
    node ids, so the lookup always resolves). The compression step is
    the classic pointer-jumping trick (same device as the
    large-star/small-star contraction of Kiveris et al. 2014): the
    distance information a node holds doubles per round, so
    convergence is O(log diameter) rounds, not O(diameter) — a
    pathological 1M-doc near-dup chain converges in ~20 rounds where
    plain propagation needs 1M (round-10 hardening; VERDICT r9 item
    4). Every step is a shuffle on the node/label id; the loop is
    driver-side control flow over fully distributed steps, the
    standard Spark shape for iterative graph algorithms.
    """
    # materialize the symmetrized edge set ONCE (round 12, guide §1.2):
    # every iteration's propagate job — and the labels init — otherwise
    # re-executes the full lineage BELOW `pairs` (for the registered
    # callers that is the prefix-filter candidate+verify pipeline,
    # measured ~2.5 s per re-execution at sf0.1: the loop cost was
    # ~3 s/iteration of which ~0.3 s was the actual propagate). The
    # checkpoint holds only the near-dup edge list (ids, no payloads),
    # which is the graph the loop must hold anyway — far smaller than
    # the corpus at any scale.
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                # carried so the convergence check below is a column
                # comparison on the final relation instead of a
                # join-back against the previous labels (round 12):
                # the old per-iteration shape ran THREE jobs — two
                # eager checkpoints plus a changed-check join — and on
                # the registered callers' small graphs the loop cost
                # was almost entirely that per-job overhead.
                F.col("component").alias("old_component"),
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
        )
        # materialize the propagation result BEFORE the doubling
        # self-join: both join sides read it, and without the cut the
        # edge-join + groupBy subtree would execute twice per round
        # (round-10 review). This checkpoint stays EAGER: its two
        # consumers below can be scheduled as concurrent stages, and a
        # lazy checkpoint would let them race into computing the same
        # propagate partitions twice — the propagate over the full
        # edge set is the iteration's dominant cost at scale.
        stepped = stepped.localCheckpoint(eager=True)
        # pointer doubling: follow one's label to ITS label. component
        # is always a node id (initialized to self, only ever replaced
        # by a smaller node id), so the self-join resolves every row;
        # the looked-up label is <= the current one by construction.
        lookup = stepped.select(
            F.col("node").alias("c_node"), F.col("component").alias("c_comp")
        )
        new_labels = (
            stepped.join(lookup, stepped.component == lookup.c_node, "left")
            .select(
                "node",
                "old_component",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("c_comp"), F.col("component")),
                ).alias("component"),
            )
            .withColumn("chg", F.col("component") != F.col("old_component"))
            .drop("old_component")
            # LAZY: the full-scan changed count below materializes it
            # in the same job (lineage reads only the eager `stepped`
            # checkpoint), so the iteration runs 2 jobs instead of 3
            # and the convergence check costs no join and no exchange.
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("chg")).count()
        labels = new_labels.drop("chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        # silent truncation would report one long near-dup chain as
        # two+ components — wrong dedup groups with no signal; fail
        # loudly. With pointer doubling rounds needed ~ log2(component
        # diameter), so the default 20 covers diameters up to ~2^20.
        raise RuntimeError(
            "connected_components did not converge within "
            f"{max_iterations} iterations — a component's diameter "
            f"exceeds ~2^{max_iterations}; raise max_iterations"
        )
    return labels.select(F.col("node").alias("doc_id"), "component")


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition before CPU-heavy per-row compute —
    SCALE-ADAPTIVE (round 12): a no-op when the input is already at
    least as wide as the target.

    Small single-file scans arrive as one input split, serializing all
    downstream text processing onto one core; the same pathology hits a
    real cluster whenever upstream partitioning is coarser than the
    executor count. One tiny shuffle of the raw rows buys full-width
    parallelism for the expensive projection that follows. But the fix
    must not become its own pathology at scale: a 100 TB corpus scan
    is already thousands of splits, and an unconditional repartition
    there is a full payload shuffle bought for nothing (guide §2.5 —
    repartition after the read to FIX coarse input, not always).

    An EXPLICIT ``partitions`` argument is a hard request and always
    repartitions (round-13 advice fix: the adaptive no-op silently
    ignored it). The adaptive shortcut also cannot see data skew — a
    many-partition input concentrated in few partitions keeps its
    layout; pass ``partitions`` explicitly to force the round-robin
    rebalance in that case.

    The width probe is only SAFE on scan-rooted plans: under AQE,
    ``Dataset.rdd`` on a plan containing an Exchange executes the
    upstream shuffle stages as real jobs at plan-construction time
    (and that work re-runs at action time — round-13 advice fix). The
    probe therefore inspects the ANALYZED LOGICAL PLAN driver-side
    (pure metadata) and skips the adaptive shortcut — repartitioning
    unconditionally, the pre-round-12 behavior — whenever the plan is
    not a simple scan pipeline (joins, aggregates, windows, generators
    or any other multi-child / width-changing node).
    """
    if partitions is not None:
        return df.repartition(partitions)
    n = df.sparkSession.sparkContext.defaultParallelism
    cur = _scan_width(df)
    if cur is not None and cur >= n:
        return df
    return df.repartition(n)


#: logical nodes through which a scan's partitioning survives 1:1 —
#: anything else (Join, Aggregate, Window, Generate, Repartition,
#: Union, ...) makes the physical width probe unsafe/meaningless and
#: spread() falls back to the unconditional repartition.
_SCAN_PASSTHROUGH_NODES = {
    "Project",
    "Filter",
    "SubqueryAlias",
    "LogicalRDD",
    "LocalRelation",
    "Relation",
    "LogicalRelation",
}


def _scan_width(df: DataFrame) -> int | None:
    """Partition width of a bare scan(+project/filter) plan, probed
    WITHOUT running a job; None when the plan is not such a pipeline
    (see :func:`spread` — Dataset.rdd under AQE would execute upstream
    shuffle stages at plan time for those)."""
    try:
        node = df._jdf.queryExecution().analyzed()
        while True:
            name = node.nodeName()
            if name not in _SCAN_PASSTHROUGH_NODES:
                return None
            n_children = node.children().size()
            if n_children == 0:
                break
            if n_children > 1:
                return None
            node = node.children().apply(0)
        return df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - conservative fallback
        return None


def exact_dedup(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """Group identical content by sha256 digest; keep the smallest id as
    the canonical representative (deterministic, unlike dropDuplicates)."""
    return (
        df.groupBy(F.sha2(F.col(content_col), 256).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a text column, built JVM-side:
    tokens -> word_windows -> distinct."""
    return F.array_distinct(word_windows(tokens(text), k))


#: Universal-hash modulus (2^31 - 1, Mersenne prime): a*h+b stays under
#: 2^62 so the arithmetic is ANSI-overflow-safe.
_MINHASH_P = (1 << 31) - 1


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, _MINHASH_P), rng.randrange(0, _MINHASH_P))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    shingle_col: str = "shingles",
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash signatures as (id, array<long> signature).

    ROW-LOCAL formulation (round 7): each shingle is string-hashed ONCE
    into a materialized per-row array (one transform), then each of the
    ``num_hashes`` family members ``(a*h + b) mod p`` folds that array
    with array_min — zero shuffle, zero aggregation. The base-hash
    array MUST live in its own projection: referencing it 64 times from
    a separate select is safe because CollapseProject refuses to inline
    a non-cheap expression into multiple consumers, whereas writing the
    shingle hash inline inside each lambda re-evaluates it per hash
    function (measured 64x slower at sf0.1). This replaced the
    round-1..6 explode -> groupBy(64 min aggs) shape: identical output
    (min over a doc's shingle multiset), but the 64-buffer
    HashAggregate was the single largest codegen unit in the repo —
    dropping it cut dedup_minhash_lsh's bench-context cold time from
    ~8.4 s to ~5.0 s and steady-state from ~4.1 s to ~2.4 s at sf0.1,
    and the signature stage no longer shuffles at all (at 100 TB the
    signature becomes a pure map over the corpus scan).

    NULL/empty shingle arrays are a contract violation and RAISE at
    execution time (distributed, via a conditional raise_error branch —
    no extra pass over the data): an all-NULL signature min-hashes
    like any other and would silently band every such doc into the
    same bucket. Callers filter such rows first (both registered
    callers do via word_shingles, which yields >=1 shingle for any
    non-NULL text).
    """
    base_hashes = F.transform(
        F.col(shingle_col),
        lambda s: F.pmod(F.xxhash64(s), F.lit(_MINHASH_P)),
    )
    guarded = F.when(
        F.col(shingle_col).isNotNull() & (F.size(F.col(shingle_col)) > 0),
        base_hashes,
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "minhash_signatures: NULL/empty shingle array for "
                    f"{id_col}="
                ),
                F.col(id_col).cast("string"),
                F.lit(" — pre-filter such rows before signing"),
            )
        )
    )
    hashed = df.select(F.col(id_col), guarded.alias("__hs"))

    # TWO transforms over coefficient struct arrays compute the family
    # mins (round 9): the previous shape built num_hashes independent
    # array_min(transform(...)) expressions. A SINGLE transform would
    # be the smallest plan, but CollapseProject inlines a
    # single-consumer alias regardless of cost, so __hs (the expensive
    # base-hash transform) would re-evaluate once per coefficient —
    # measured 3.7x slower at sf0.1. Two consumers keep the
    # non-cheap alias materialized (the same CollapseProject contract
    # the 64-expression form relied on) while collapsing 64 compiled
    # expressions into 2; the fold arithmetic is unchanged, so
    # signatures are value-identical.
    all_coeffs = _minhash_coeffs(num_hashes)
    halves = [all_coeffs[: num_hashes // 2], all_coeffs[num_hashes // 2 :]]
    # the coefficient struct arrays render as ONE SQL expression each
    # (round 13, the item-19 device from round 12 applied to integer
    # structs): F.array(*[F.struct(F.lit(a), F.lit(b)) ...]) issues a
    # py4j round-trip per node — measured ~0.55 s of dedup_minhash_lsh's
    # ~1.7 s per-invocation plan build. Integer literals are exact in
    # SQL text (L suffix pins BIGINT, matching F.lit's LongType), so
    # the parsed tree is identical and signatures are bit-equal.
    def _coeff_arr(half: list[tuple[int, int]]) -> Column:
        return F.expr(
            "array("
            + ",".join(
                f"named_struct('a',{a}L,'b',{b}L)" for a, b in half
            )
            + ")"
        )

    sig_parts = [
        F.transform(
            _coeff_arr(half),
            lambda c: F.array_min(
                F.transform(
                    F.col("__hs"),
                    lambda h: F.pmod(c.a * h + c.b, F.lit(_MINHASH_P)),
                )
            ),
        )
        for half in halves
        if half
    ]
    signature = (
        F.concat(*sig_parts) if len(sig_parts) > 1 else sig_parts[0]
    )
    return hashed.select(id_col, signature.alias("signature"))


def lsh_banded(
    df: DataFrame,
    id_col: str,
    signature_col: str = "signature",
    bands: int = 16,
    rows_per_band: int = 4,
    signature_len: int | None = None,
) -> DataFrame:
    """One row per (doc, band) with the band's bucket hash —
    xxhash64 over the comma-joined decimal rendering of the band's
    signature slice (the rendering the SQL oracles replay verbatim).

    Validates ``bands * rows_per_band <= len(signature)``: bands
    sliced past the signature end would all hash the empty string,
    silently making EVERY doc pair a candidate — the full O(n^2)
    blowup LSH exists to avoid. Callers that KNOW the signature
    length (every ``minhash_signatures`` consumer knows its
    ``num_hashes``) pass ``signature_len`` and the check is free;
    ``None`` falls back to probing the first row, which costs a
    whole extra Spark job per call (the scan + signature pipeline up
    to one output partition — measured ~0.65 s of dedup_minhash_lsh's
    ~3.6 s bench median at sf0.1, round 12; guide §1.2: remove work
    the query does not need).
    """
    if signature_len is not None:
        n = signature_len
    else:
        first = df.select(F.size(F.col(signature_col)).alias("n")).first()
        n = first["n"] if first is not None else None
    if n is not None and n < bands * rows_per_band:
        raise ValueError(
            f"bands*rows_per_band = {bands * rows_per_band} exceeds "
            f"signature length {n} — bands beyond the end "
            "would hash identically for every doc"
        )
    # ONE transform over the band indices instead of `bands` separate
    # xxhash64(concat_ws(transform(slice))) expressions: the lambda
    # body evaluates interpreted (HOFs skip whole-stage codegen), but
    # the work is a few hundred ns per doc while the 16-expression
    # formulation was the second-largest codegen unit in the repo —
    # measured bench-context cold 9.1 -> 6.6 s, repeat 4.1 -> 3.1 s at
    # sf0.1 with identical output (round 7; same trade as the
    # row-local minhash_signatures above).
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(
                        F.col(signature_col),
                        b * rows_per_band + 1,
                        rows_per_band,
                    ),
                    lambda x: x.cast("string"),
                ),
            )
        ),
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(band_arr).alias("band", "band_hash"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    signature_col: str = "signature",
    bands: int = 16,
    rows_per_band: int = 4,
    signature_len: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band hash become candidate pairs.

    Explodes to one row per (doc, band), buckets by (band, band_hash)
    — a linear shuffle — then self-joins within buckets and dedups the
    pair list. Returns (id_a, id_b) with id_a < id_b.

    Validates ``bands * rows_per_band <= len(signature)`` — statically
    when the caller passes ``signature_len``, otherwise against the
    first row (an extra job; see :func:`lsh_banded`).
    """
    banded = lsh_banded(
        df, id_col, signature_col, bands, rows_per_band, signature_len
    )
    # materialize the banded relation ONCE before the self-join (round
    # 13, guide §1.2): alias exprIds defeat exchange reuse, so both
    # join sides otherwise re-execute the whole scan + signature +
    # banding pipeline — measured ~0.35 s of dedup_minhash_lsh's
    # per-invocation cost at sf0.1. The checkpoint holds digest rows
    # only ((id, band, band_hash) — ~24 bytes/row, linear in the
    # corpus): the same relation the join must read twice either way,
    # so this trades block-manager storage of one copy for a second
    # full signature pass over the corpus.
    banded = banded.localCheckpoint(eager=False)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b")
        )
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within blocking groups.

    VERIFIER TIER — not registered as a query since round 5: the
    blocked self-join is quadratic inside each block and misses
    cross-block pairs, so the registered surface uses
    :func:`prefix_filtered_jaccard_pairs` (exact, corpus-wide, linear
    candidate generation) instead. This stays as the small-scale
    verification fixture: tests pin that its blocked result is a
    strict subset of the prefix join's corpus-wide result.
    """
    shingled = df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in block_cols],
        word_shingles(F.col(text_col), k).alias("shingles"),
    )
    a = shingled.alias("a")
    b = shingled.alias("b")
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    # |A∪B| = |A|+|B|-|A∩B| on distinct shingle sets — bit-equal
    # jaccard, one array walk per pair instead of two (round 12)
    union = (
        F.size(F.col("a.shingles")) + F.size(F.col("b.shingles")) - inter
    )
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """64-bit SimHash per document over k-word shingles.

    Shingles (not unigrams) carry word *order*, so documents drawn from
    a shared vocabulary still get near-independent signatures unless
    they share actual phrases.

    Fully JVM-side, same shape as :func:`minhash_signatures`: explode
    the shingle hashes, aggregate 64 per-bit vote sums (+1 if the bit
    is set, -1 otherwise) with map-side partial aggregation, then OR
    the positive-vote bits into the signature. A pandas-UDF bit fold
    was measured 2-7x slower — the fixed Arrow/worker cost dwarfed the
    trivial numpy kernel. A packed bit-lane formulation (3 counters
    per accumulator long in 20-bit lanes, votes_b = 2*c_b - n, with an
    n < 2^20 overflow guard) was BUILT AND MEASURED in round 13 to
    shrink the 64-buffer HashAggregate codegen unit: signatures were
    bit-identical, but steady-state ran ~0.4 s SLOWER at sf0.1 (2.5-2.8
    -> 3.0-3.2 s; the extra per-row shift/or lane math outweighs the
    smaller buffer) and the cold first run was no faster (5.2-5.9 ->
    5.8-7.4 s interleaved-quiet) — the one-time Janino cost is not the
    aggregate buffer's width. Rejected on those numbers; this 64-sum
    shape is the measured optimum.
    """
    hashed = df.select(
        F.col(id_col),
        F.explode_outer(
            F.transform(word_shingles(F.col(text_col), k), lambda s: F.xxhash64(s))
        ).alias("__h"),
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"__v{b}")
        for b in range(64)
    ]
    sig = F.lit(0).cast("long")
    for b in range(64):
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"__v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        )
    return (
        hashed.groupBy(id_col)
        .agg(*votes)
        .select(F.col(id_col), sig.alias("simhash"))
    )


def _prefix_candidate_pairs(
    tokens: DataFrame,
    prefix_len: Column,
    extra_join_pred: Column | None = None,
) -> DataFrame:
    """Shared candidate stage of the prefix-filter join family
    (AllPairs Jaccard and q-gram Ed-Join use byte-identical
    scaffolding; keeping one copy keeps the checkpoint strategy and
    rarest-first tie order from silently diverging).

    ``tokens`` has columns ``(id, token, ...carry)`` — one row per
    (record, candidate token), carry columns available to
    ``prefix_len`` (evaluated per row after the rank join, e.g. a
    set-size column) and to ``extra_join_pred`` (a predicate over the
    ``pa``/``pb`` aliases, e.g. a length filter; the per-record
    rarest-first rank is exposed as ``rn`` on both sides for
    positional filters). Pipeline: global token-frequency agg,
    per-record rarest-first rank window, keep ranks <= prefix_len,
    self-join on shared prefix tokens (id_a < id_b), distinct,
    repartition wide, localCheckpoint (the candidate set feeds
    multiple verify branches — NOTES.md lesson 9).

    The repartition before the checkpoint is load-bearing (round 12):
    AQE coalesces the small distinct output to one partition, the
    checkpoint pins that partitioning, and every verify branch
    consuming the checkpoint then runs its per-pair work (exact
    Jaccard over shingle arrays, levenshtein) on a SINGLE task —
    measured 30-48 s single-task stalls at sf0.1 with 788k candidate
    pairs. Widening the checkpointed relation to default parallelism
    costs one tiny id-pair shuffle and makes the verify scale with
    the cluster (guide §2.5 — a skewed/serial stage, fixed by
    repartitioning the small proxy relation, not the payload).
    """
    from pyspark.sql import Window

    # Global token frequency as a COUNT WINDOW, not a groupBy+join
    # (round 12): the old `tokens.join(freq, "token")` computed the
    # token relation twice — once under the frequency aggregate and
    # once as the join probe — and the token relation sits on top of
    # the expensive shingle/q-gram projection. One window over
    # partitionBy(token) gets the same count from a single pass for
    # the same exchange budget (token exchange + id exchange either
    # way). Identical values: count(*) over the token partition == the
    # joined global count.
    w_tok = Window.partitionBy("token")
    w_id = Window.partitionBy("id").orderBy("f", "token")
    prefix = (
        tokens.withColumn("f", F.count(F.lit(1)).over(w_tok))
        .withColumn("rn", F.row_number().over(w_id))
        .filter(F.col("rn") <= prefix_len)
        .drop("f")
    )
    cond = (F.col("pa.token") == F.col("pb.token")) & (
        F.col("pa.id") < F.col("pb.id")
    )
    if extra_join_pred is not None:
        cond = cond & extra_join_pred
    n_wide = tokens.sparkSession.sparkContext.defaultParallelism
    return (
        prefix.alias("pa")
        .join(prefix.alias("pb"), cond)
        .select(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
        .distinct()
        .repartition(n_wide)
        .localCheckpoint(eager=False)
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    t_num: int = 1,
    t_den: int = 5,
) -> DataFrame:
    """Exact Jaccard similarity join via PREFIX FILTERING — the
    published AllPairs/SSJoin technique (Bayardo et al., WWW'07;
    Chaudhuri et al., ICDE'06): with tokens globally ordered
    rarest-first, any pair with Jaccard >= t must share a token within
    each set's first ``|S| - ceil(t*|S|) + 1`` tokens, so joining on
    prefix tokens alone yields a candidate set that provably contains
    every qualifying pair — no metadata blocking, no full quadratic,
    and (unlike MinHash-LSH) no recall loss: the exact verify on
    candidates returns exactly the pairs the naive O(n^2) join would.

    The threshold is the RATIONAL t_num/t_den so the prefix length is
    pure integer arithmetic — ceil(t*n) = (t_num*n + t_den - 1) div
    t_den — identical in any engine (a float 0.2*n ceils to 4 at n=15
    from representation error). Shuffle shape: token-frequency agg,
    per-doc rank window, candidate join on prefix tokens (bounded by
    token co-occurrence, concentrated on RARE tokens by construction),
    then a candidate-pruned verify recomputing shingles only for
    candidate docs (NOTES.md lesson 6). All linear except the
    candidate join, whose size the rarest-first ordering minimizes.
    """
    # NULL text is not duplicate content: word_shingles would squash
    # it to the same [''] shingle list as every other NULL (concat_ws
    # over a NULL slice), clustering all unknown-content docs into one
    # bogus duplicate group — round-6 NULL-text probe pin (the oracle
    # naturally excludes them because its split propagates NULL)
    shingled = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), k).alias("shingles"),
    )
    # word_shingles output is provably non-empty -> explode_outer
    # keeps the generator input above the exchange (NOTES.md lesson 2)
    tokens = shingled.select(
        F.col("doc_id").alias("id"),
        F.size("shingles").alias("n"),
        F.explode_outer("shingles").alias("token"),
    )
    # prefix length |S| - ceil(t*|S|) + 1, rational integer arithmetic.
    # Two LOSSLESS candidate filters ride the join condition (round 12,
    # both published with the prefix-filter technique itself):
    # - LENGTH (Arasu et al. / SSJoin): J(A,B) >= t implies
    #   t*|A| <= |B| and t*|B| <= |A| (the intersection is inside the
    #   smaller set, the union outside the larger).
    # - POSITIONAL (PPJoin, Xiao et al. WWW'08): J >= t iff
    #   |A∩B| >= ceil(t*(|A|+|B|)/(1+t)); for a token matched at
    #   rarest-first ranks (ra, rb), the pair's FIRST shared token in
    #   the shared global order has no shared token before it in
    #   either set, so |A∩B| <= 1 + min(|A|-ra, |B|-rb) on that row —
    #   a qualifying pair always survives via its first shared token.
    #   Integer form: bound*(t_den+t_num) >= t_num*(|A|+|B|) is exactly
    #   bound >= ceil(..) for integer bound.
    # Measured at sf0.1 (t=0.2, 3-gram shingles on documents): 788k
    # candidates -> 498k, and the verify stage shrinks with it.
    na, nb = F.col("pa.n"), F.col("pb.n")
    length_ok = (na * t_num <= nb * t_den) & (nb * t_num <= na * t_den)
    bound = 1 + F.least(na - F.col("pa.rn"), nb - F.col("pb.rn"))
    positional_ok = bound * (t_den + t_num) >= (na + nb) * t_num
    cand = _prefix_candidate_pairs(
        tokens,
        F.col("n")
        - F.expr(f"(n * {t_num} + {t_den - 1}) div {t_den}")
        + 1,
        extra_join_pred=length_ok & positional_ok,
    )
    # verify source: when the CORPUS itself is small by the optimizer's
    # estimate (round 13, guide §1.2 — don't pay pruning machinery that
    # prunes nothing), re-shingle the whole relation directly; the
    # cand_ids union + distinct + broadcast + semi-join chain costs
    # ~0.8 s at sf0.1 while pruning ~6% of docs. Past the cap the
    # candidate-pruned path is load-bearing (at 100 TB the candidate
    # doc set is the only thing that keeps the checkpoint + broadcast
    # bounded) and runs exactly as before. Both paths verify the
    # identical candidate set against identical shingle arrays, so the
    # output is the same rows either way.
    from rabbithole_spark.operators.sizing import (
        broadcast_cap,
        guarded_broadcast,
        plan_size_bytes,
    )

    if plan_size_bytes(df) <= broadcast_cap(df):
        verify_src = df
    else:
        # semi-join the candidate id set BEFORE the shingle projection,
        # so the re-shingle cost is O(candidates), not two more corpus
        # passes (lesson 6). Over the cap the id set is corpus-bounded
        # too, so its broadcast is size-guarded like the verify sides.
        cand_ids = (
            cand.select(F.col("id_a").alias("cid"))
            .union(cand.select(F.col("id_b").alias("cid")))
            .distinct()
        )
        verify_src = df.join(
            guarded_broadcast(cand_ids), F.col(id_col) == F.col("cid"), "inner"
        )
    # one shingle pass over the verify source, checkpointed so BOTH
    # verify sides read the same materialization instead of re-running
    # the scan + shingle projection per side (round 12).
    pruned = verify_src.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), k).alias("shingles"),
    ).localCheckpoint(eager=False)
    docs_a = pruned.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
    )
    docs_b = pruned.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    # |A∪B| = |A| + |B| - |A∩B| on the distinct shingle SETS
    # (word_shingles ends in array_distinct) — exact integer identity,
    # so jaccard is bit-equal while the per-pair array_union hash-set
    # build (the second ~100-element array walk per candidate) drops
    # out of the verify (round 12, guide §1.2).
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    # filter on the UNROUNDED ratio: prefix-filter completeness is a
    # guarantee about true Jaccard >= t, and a rounded 0.1999996 -> 0.2
    # acceptance would reach outside it; output stays rounded.
    # BROADCAST the per-doc shingle relations (round 12): they are
    # bounded by the verify source, while the sort-merge plan the
    # optimizer picked shuffled every candidate PAIR with its attached
    # shingle array (~1 KB/row — twice, once per side). Same shape as
    # _lsh_verified_pairs; guide §2.3 "shuffle keys, not payloads".
    # SIZE-GUARDED (round 13): a caller whose candidate doc set
    # outgrows the cap falls back to the planner's shuffle join
    # instead of OOMing the driver (sizing.py).
    jac_true = inter.cast("double") / union.cast("double")
    return (
        cand.join(guarded_broadcast(docs_a), "id_a")
        .join(guarded_broadcast(docs_b), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jac_true, 6).alias("jaccard"),
            jac_true.alias("__jt"),
        )
        .filter(F.col("__jt") >= t_num / t_den)
        .drop("__jt")
    )


def qgram_prefix_edit_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 3,
    q: int = 2,
) -> DataFrame:
    """Exact edit-distance similarity join via q-gram prefix filtering
    (Ed-Join, Xiao et al. VLDB'08): one edit operation disturbs at most
    ``q`` of a string's q-grams, so two strings within edit distance d
    must share a q-gram among the first ``d*q + 1`` of each (rarest-
    first global order), and always satisfy ``|len_a - len_b| <= d``.
    Candidates come from a join on prefix grams + the length filter;
    the exact ``levenshtein`` verify on candidates returns precisely
    the naive quadratic's answer. The theoretical completeness
    precondition is strings long enough to own a q-gram that survives
    d edits (len >= q*(d+1) = 8 at d=3, q=2); the driver corpus's part
    names span 7-12 chars, so the len-7 tail sits one char under it —
    completeness there is EMPIRICAL, pinned every round by the
    naive-quadratic oracle hash and the candidate-completeness test
    (tests/test_llm_operators.py). Raising q would widen that gap
    (q=3 needs len >= 12), which is why q stays 2 (round 12 note).

    The whole gram/prefix/verify machinery runs over the DISTINCT
    VALUES of ``text_col`` (round 13, guide §1.2/§2.3 — don't repeat
    work per duplicate row): edit distance is a function of the two
    strings alone, so every (id, id) pair sharing the same (name,
    name) value pair has the same verdict and the same edit_dist.
    Rows collapse to distinct names first (one exchange on the name),
    the quadratic candidate join + levenshtein verify run at
    name-multiset cardinality, and the id-level result is an
    expansion join of the ids against the symmetrized name-pair
    matches (+ the dist-0 diagonal: same-name id pairs are exact
    duplicates). On a corpus with duplicate keys the verify work
    drops by the square of the duplication factor (the round-13
    driver corpus holds 20k part rows over 64 distinct names at
    sf0.1: ~10^5x fewer candidate meetings); on an all-distinct
    corpus the only cost added is the one distinct exchange over
    (name, len) rows — dimension-bytes, never payload.

    Same shuffle shape as prefix_filtered_jaccard_pairs inside the
    name-level machinery: gram frequency window, per-string rank
    window, candidate join concentrated on rare grams, in-stage
    threshold-levenshtein verify.
    """
    p = max_dist * q + 1
    strs = df.select(
        F.col(id_col).alias("sid"),
        F.col(text_col).alias("txt"),
        F.length(text_col).alias("slen"),
    )
    # distinct-name relation: the machinery's unit of work. The name
    # string itself is the join identity (names are unique here by
    # construction), so `id` stays a totally ordered key and every
    # unordered name pair is generated exactly once via id_a < id_b.
    names = strs.select(
        F.col("txt").alias("id"), "slen"
    ).distinct()
    # array_distinct is LOAD-BEARING for the no-distinct join below
    # (round-13 advice pin): the canonical-meeting predicate assumes
    # each gram appears AT MOST ONCE in a string's prefix — a duplicate
    # gram would make the first-shared-gram meeting non-unique and
    # emit duplicate (id_a, id_b) rows. A tokenizer change that drops
    # the per-id distinctness must reintroduce a distinct on the pairs.
    tokens = names.select(
        "id",
        "slen",
        F.explode_outer(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.col("slen") - (q - 1), F.lit(1))
                    ),
                    lambda i: F.substring(F.col("id"), i, q),
                )
            )
        ).alias("token"),
    )
    # Same frequency-window + rarest-first rank scaffold as the
    # Jaccard family, but the VERIFY runs IN-STAGE on the join output
    # (round 12): on short-alphabet q-grams the prefix join is
    # enormous (189M pair meetings for 20k part names at sf0.1 —
    # the hottest gram alone pairs 5k x 5k prefixes), and the old
    # candidate->distinct->join-back shape shuffled ALL of it just to
    # dedup before verifying. Verifying with a THRESHOLD levenshtein
    # (Spark 3.5+: banded O(d*n) with early exit, returns -1 past the
    # budget — `>= 0` is exactly the old `<= max_dist`) as a filter
    # directly above the join keeps the flood inside the join stage,
    # and the first-shared-gram canonical-meeting predicate (below)
    # makes each pair's verify run exactly once, so no distinct is
    # needed at all. Together with the hot-gram probe split and
    # broadcast build below: 291 s -> ~7-9 s at sf0.1 with a
    # byte-identical 12.58M-row result; at sf0.01 the full family
    # stays oracle-green. The cheap length filter rides the join
    # condition so non-candidates never reach the levenshtein.
    from pyspark.sql import Window

    w_tok = Window.partitionBy("token")
    w_id = Window.partitionBy("id").orderBy("f", "token")
    # Each prefix row also carries the grams ranked STRICTLY BEFORE it
    # in its own prefix (round 12, Ed-Join's minimal-shared-gram
    # dedup): the rank order (f, token) is GLOBAL — a gram ranks
    # identically on both join sides — so for a join row meeting on
    # token t, "t is the pair's first shared prefix gram" is exactly
    # "the two earlier-gram arrays do not overlap" (a shared gram
    # globally before t is in a side's earlier array iff it is in that
    # side's prefix). Verifying ONLY on that canonical row makes every
    # candidate pair meet exactly once: the ~5x shared-prefix-gram
    # multiplicity stops re-running levenshtein per duplicate meeting,
    # and the distinct (an exchange over every matched meeting) drops
    # out of the plan. The second Window reuses w_id's partitioning
    # and sort (no new exchange); the carried array averages p/2
    # two-char grams — trivial next to the txt column already carried.
    w_grams = (
        Window.partitionBy("id")
        .orderBy("f", "token")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    prefix = (
        tokens.withColumn("f", F.count(F.lit(1)).over(w_tok))
        .withColumn("rn", F.row_number().over(w_id))
        .filter(F.col("rn") <= p)
        .withColumn("grams", F.collect_list("token").over(w_grams))
        .withColumn(
            "earlier", F.slice(F.col("grams"), F.lit(1), F.col("rn") - 1)
        )
        .drop("f", "rn", "grams")
    )
    # SPLIT HOT GRAMS WITHOUT REPLICATION (guide §2.5 — AQE cannot
    # split a single enormous key): on a ~30-symbol alphabet the
    # hottest 2-grams concentrate many prefixes on one key, and a
    # key-partitioned join serializes that key's quadratic into one
    # task (the round-12 measured 300 s single-task straggler in the
    # old sort-merge shape — then over id-level rows). Because the
    # build side is BROADCAST, each probe row meets its partners
    # inside its own task — so spreading a hot gram only requires
    # partitioning the PROBE rows by (token, deterministic
    # name-hash), not replicating them.
    #
    # The probe repartition is EXPLICIT-width (AQE-proof: left to
    # itself AQE coalesces the tiny-in-bytes probe to 1-2 partitions
    # and the whole flood iteration serializes), and the hash term
    # gives ~token_count x n_wide distinct keys — far more than
    # partitions, so the spread is even (guide §2.5 on synthetic
    # keys). Every pair still meets exactly once per shared prefix
    # gram (probe row lands in exactly one partition; build is
    # everywhere), so the canonical-meeting predicate below sees the
    # identical meeting multiset. The broadcast relation is the
    # p-gram prefix of the DISTINCT-NAME relation (dimension-scale
    # for both registered uses, and smaller than round 12's id-level
    # relation by the corpus duplication factor). History at sf0.1:
    # in-stage verify alone 291 s; + block-split ~45; + probe widen
    # w/ broadcast build 28.1; + first-shared-gram canonical meeting
    # ~12; + probe de-replication ~7-9; + the round-13 distinct-name
    # reduction ~1-2 (the machinery now meets 64 names, not 20k ids).
    # SIZE-GUARDED build broadcast (round 13, sizing.py): a caller
    # whose distinct-name prefix relation outgrows the cap falls back
    # to the planner's shuffle join on the gram (AQE skew splitting
    # applies; the (token, name-hash) probe spread is skipped there —
    # it would be thrown away by the join's own hashpartitioning(token)
    # requirement) instead of OOMing the driver building the hash
    # relation. Join OUTPUT is strategy-independent, so the canonical-
    # meeting argument below holds on either path.
    from rabbithole_spark.operators.sizing import guarded_broadcast

    n_wide = 2 * df.sparkSession.sparkContext.defaultParallelism
    pb_rel = guarded_broadcast(prefix)
    if pb_rel is prefix:  # over-cap fallback: planner-chosen shuffle join
        pa = prefix.alias("pa")
    else:
        pa = prefix.repartition(
            n_wide, "token", F.pmod(F.xxhash64("id"), F.lit(n_wide))
        ).alias("pa")
    pb = pb_rel.alias("pb")
    # Canonical-meeting predicate (round 12): this row's token must be
    # the pair's FIRST shared prefix gram in the global rarest-first
    # order — i.e. no gram ranked before it on BOTH sides is shared.
    # The overlap walk is a handful of two-char string equalities —
    # several times cheaper than a banded levenshtein — and it gates
    # the levenshtein so each pair is verified ONCE instead of once
    # per shared prefix gram (measured ~4.9x multiplicity at sf0.1:
    # 61.5M matched meetings for 12.58M pairs). Every qualifying pair
    # still meets exactly once (its first shared gram is a shared
    # prefix gram, and a probe row lives in exactly one partition
    # while the build side is broadcast), so no distinct is needed.
    # Conjunct-order evidence (round 12, measured at sf0.1): putting
    # the levenshtein BEFORE this check — so it runs on all 188.8M
    # len-passing meetings instead of the 67.4M canonical ones — is
    # SLOWER (11.5-12.7 s vs 8.3 s for the join block): the banded
    # levenshtein costs ~2-3x an arrays_overlap per eval.
    # The levenshtein predicate lives INSIDE the join condition, LAST
    # (round 12): a `.filter(edit_dist >= 0)` above the join gets
    # pushed into the condition by PushPredicateThroughJoin — which
    # PREPENDS it, so the banded levenshtein ran FIRST on every one of
    # the 189M meetings and the cheap filters never gated it. Writing
    # the conjunct order explicitly (id < , length, canonical-meeting,
    # levenshtein) keeps codegen's left-to-right short-circuit cheap-
    # first: the levenshtein now runs only on each pair's single
    # canonical meeting. The output column recomputes levenshtein per
    # SURVIVING row (one eval per result pair) — trivial next to the
    # ~150M condition-side evals this ordering removes.
    dist = F.levenshtein(
        F.col("pa.id"), F.col("pb.id"), threshold=max_dist
    ).cast("int")
    cond = (
        (F.col("pa.token") == F.col("pb.token"))
        & (F.col("pa.id") < F.col("pb.id"))
        & (F.abs(F.col("pa.slen") - F.col("pb.slen")) <= max_dist)
        & ~F.arrays_overlap(F.col("pa.earlier"), F.col("pb.earlier"))
        & (dist >= 0)
    )
    name_pairs = pa.join(pb, cond).select(
        F.col("pa.id").alias("name_a"),
        F.col("pb.id").alias("name_b"),
        dist.alias("edit_dist"),
    )
    # EXPANSION back to id pairs. The name-pair match relation is
    # symmetrized (an id pair (a, b) with id_a < id_b can carry its
    # names in either lexicographic order) and completed with the
    # dist-0 diagonal (same-name id pairs are exact duplicates:
    # levenshtein(x, x) = 0 <= d always, and the length filter is
    # trivially met). Each qualifying id pair then matches EXACTLY ONE
    # row of `sym` — the oriented (name-of-id_a, name-of-id_b) pair —
    # so the expansion join is multiplicity-exact with no distinct.
    # NULL names produce no pairs on either path: the old formulation
    # dropped them because levenshtein(NULL, ·) is NULL (never >= 0),
    # the new one because a NULL name never equals a join key.
    diag = names.select(
        F.col("id").alias("name_a"),
        F.col("id").alias("name_b"),
        F.lit(0).cast("int").alias("edit_dist"),
    )
    # both orientations come out of ONE machinery pass (explode of a
    # 2-struct array): a union of name_pairs with its own swap would
    # execute the candidate join + verify twice inside the broadcast
    # build (measured ~0.8 s extra on the all-distinct sparse caller).
    sym = name_pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("name_a"), F.col("name_b"), F.col("edit_dist")
                ),
                F.struct(
                    F.col("name_b").alias("name_a"),
                    F.col("name_a").alias("name_b"),
                    F.col("edit_dist"),
                ),
            )
        ).alias("s")
    ).select("s.*").unionByName(diag)
    # Probe side spread: the id table is a single input split at bench
    # SFs, and the expansion fan-out (output rows = the full result)
    # would otherwise generate on ONE core (guide §2.5). The two build
    # sides differ in scale: sym (the bounded name-pair matches) is
    # dimension-scale, but ids_b is the id-level string table and so
    # corpus-bounded. guarded_broadcast broadcasts each only under the
    # size cap; above it the join falls back to a shuffle join that
    # shuffles the full id table on name_b (= nb).
    ids_a = spread(
        strs.select(F.col("sid").alias("id_a"), F.col("txt").alias("name_a"))
    )
    ids_b = strs.select(
        F.col("sid").alias("id_b"), F.col("txt").alias("nb")
    )
    return (
        ids_a.join(guarded_broadcast(sym), "name_a")
        .join(
            guarded_broadcast(ids_b),
            (F.col("name_b") == F.col("nb")) & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b", "name_a", "name_b", "edit_dist")
    )


def simhash_hamming_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_ham: int = 13,
) -> DataFrame:
    """All pairs whose 64-bit SimHash signatures differ in at most
    ``max_ham`` bits — via the pigeonhole block join (Manku/Jain/
    Sarma, "Detecting Near-Duplicates for Web Crawling", WWW 2007):
    split the signature into ``max_ham + 1`` bit-blocks; any pair
    within the Hamming budget must agree EXACTLY on at least one
    block, so candidates are an equi-join on (block_idx, block_value)
    — one linear (doc, block) shuffle, never an all-pairs cross join —
    then the exact popcount(xor) verify runs only on candidates.
    Pruning power grows as the budget shrinks (production web-scale
    configs use ham<=3 with 4 blocks of 16 bits); at the audit-tier
    budget of 13 the blocks are 4-5 bits, which still bounds the
    candidate set far below n^2/2 on non-adversarial corpora.

    Returns (id_a, id_b, ham) with id_a < id_b.
    """
    n_blocks = max_ham + 1
    base, extra = divmod(64, n_blocks)
    widths = [base + 1] * extra + [base] * (n_blocks - extra)
    blocks, off = [], 0
    for i, w in enumerate(widths):
        shifted = F.shiftright(F.col(sig_col), off)
        # w == 64 (max_ham=0, exact-duplicate mode): the full signature
        # is the block; (1 << 64) - 1 is not a valid signed-long literal
        val = shifted if w >= 64 else shifted.bitwiseAND(F.lit((1 << w) - 1))
        blocks.append(F.struct(F.lit(i).alias("idx"), val.alias("val")))
        off += w
    exploded = sigs.select(
        F.col(id_col).alias("sid"),
        F.col(sig_col).alias("sig"),
        F.explode(F.array(*blocks)).alias("b"),
    ).select("sid", "sig", F.col("b.idx").alias("idx"), F.col("b.val").alias("val"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.idx") == F.col("b.idx"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .select(
            F.col("a.sid").alias("id_a"),
            F.col("b.sid").alias("id_b"),
            F.bit_count(
                F.col("a.sig").bitwiseXOR(F.col("b.sig"))
            ).alias("ham"),
        )
        .filter(F.col("ham") <= max_ham)
        .distinct()
    )
    return cand
