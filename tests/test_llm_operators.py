"""Behavioral tests for the approximate/UDF-backed LLM operators (the
oracle-checked ones are covered by test_oracle_parity)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from rabbithole_spark.catalog import load_all
from rabbithole_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
    word_shingles,
)
from rabbithole_spark.operators.similarity import ann_topk, cosine_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    # Inject near-duplicates: copy with one word appended.
    dups = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    return base.select("doc_id", "text").unionByName(dups)


def test_minhash_lsh_finds_planted_near_dups(docs_with_dups):
    sh = docs_with_dups.select(
        "doc_id", word_shingles(F.col("text"), 3).alias("shingles")
    )
    signed = minhash_signatures(sh, "doc_id", "shingles", 64)
    pairs = lsh_candidate_pairs(signed, "doc_id", bands=16, rows_per_band=4)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(i, i + 100000) for i in range(20)}
    # High-similarity planted pairs must be recalled (Jaccard ~0.95 →
    # P[miss] = (1 - s^4)^16 ≈ 2e-6 per pair).
    assert planted <= found


def test_minhash_signatures_raise_on_null_or_empty_shingles(spark):
    """The documented pre-filter contract is enforced, not just
    docstring'd (ADVICE r7): a NULL or empty shingle array raises at
    execution instead of silently emitting an all-NULL signature that
    would band every such doc into one bucket."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    schema = "doc_id long, shingles array<string>"
    for bad in ([(1, None)], [(2, [])]):
        df = spark.createDataFrame(bad, schema)
        with pytest.raises(SparkRuntimeException, match="pre-filter"):
            minhash_signatures(df, "doc_id", "shingles", 8).collect()
    # valid rows still sign normally alongside the guard
    ok = spark.createDataFrame([(3, ["a", "b"])], schema)
    sig = minhash_signatures(ok, "doc_id", "shingles", 8).collect()[0]
    assert len(sig.signature) == 8 and all(v is not None for v in sig.signature)


def test_simhash_near_dups_close(spark, docs_with_dups):
    sigs = {r.doc_id: r.simhash for r in simhash(docs_with_dups, "text", "doc_id").collect()}
    hamming = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    planted = [hamming(sigs[i], sigs[i + 100000]) for i in range(20)]
    unrelated = [hamming(sigs[i], sigs[j]) for i in range(10) for j in range(10, 20)]
    assert max(planted) < 12
    assert sum(unrelated) / len(unrelated) > 20


def test_ann_lsh_overlaps_bruteforce(spark):
    import numpy as np

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    exact = cosine_topk(e, "embedding", qv, k=10, id_cols=["vec_id"]).collect()
    planes = np.random.RandomState(42).normal(size=(6, len(qv))).tolist()
    approx = ann_topk(e, "embedding", qv, planes, k=10, id_cols=["vec_id"]).collect()
    # the query vector itself (sim=1.0) lives in the query's own bucket
    assert approx and approx[0]["vec_id"] == 0
    exact_ids = {r.vec_id for r in exact}
    approx_ids = {r.vec_id for r in approx}
    # bucket recall is partial by design; the query vector itself is the
    # guaranteed overlap, more is luck of the bucket
    assert len(exact_ids & approx_ids) >= 1


def test_rows_only_queries_run(spark):
    """Every rows-only (no-oracle) catalog query must at least execute
    and return rows — the weaker half of the driver's check."""
    specs = load_all()
    for name, spec in sorted(specs.items()):
        if spec.oracle is not None:
            continue
        df = spec.fn(spark, SF)
        assert df.count() > 0, name


def test_feature_extract_shapes(spark):
    from rabbithole_spark.operators.multimodal import attach_fake_media, extract_features

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(5)
    media = attach_fake_media(docs, "text", "doc_id")
    feats = extract_features(media, "doc_id").collect()
    assert len(feats) == 5
    for row in feats:
        assert row.n_bytes > 0
        assert len(row.features) == 8
        assert abs(sum(row.features) - 1.0) < 1e-5  # normalized histogram


def test_resize_media_dims(spark):
    from rabbithole_spark.operators.multimodal import attach_fake_media, resize_media

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(5)
    media = attach_fake_media(docs, "text", "doc_id")
    rows = resize_media(media, width=32, height=16).collect()
    assert len(rows) == 5
    for row in rows:
        assert len(row.content) == 32 * 16
        assert row.media_meta.width == 32
        assert row.media_meta.height == 16


def test_sample_frames_stride(spark):
    from rabbithole_spark.operators.multimodal import attach_fake_media, sample_frames

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(5)
    media = attach_fake_media(docs, "text", "doc_id")
    rows = sample_frames(media, frame_size=100, every_k=2).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == 5
    lens = {r.doc_id: r.n_bytes for r in
            __import__("rabbithole_spark.operators.multimodal", fromlist=["extract_features"])
            .extract_features(media, "doc_id").collect()}
    for doc_id, frames in by_doc.items():
        n_frames = frames[0].n_frames
        expected_total = max((lens[doc_id] + 99) // 100, 1)
        assert n_frames == expected_total
        assert sorted(f.frame_idx for f in frames) == list(range(0, n_frames, 2))
        assert all(f.frame_bytes <= 100 for f in frames)


def test_quantized_topk_recall_vs_float_baseline(spark):
    """int8 quantization must keep high recall@10 against the exact
    float cosine top-10, and its approximate cosines must sit within
    the per-component quantization error bound of the true values."""
    from rabbithole_spark.catalog import load_all

    specs = load_all()
    sf = "/root/testdata/sf0.001"
    exact = {r.vec_id: r.cosine_sim
             for r in specs["similarity_topk_bruteforce"].fn(spark, sf).collect()}
    quant = {r.vec_id: r.approx_cosine
             for r in specs["similarity_ann_quantized"].fn(spark, sf).collect()}
    overlap = set(exact) & set(quant)
    assert len(overlap) >= 8, (sorted(exact), sorted(quant))
    for vid in overlap:
        assert abs(exact[vid] - quant[vid]) < 0.05, (vid, exact[vid], quant[vid])


def test_hll_sketch_union_within_tolerance(spark):
    """Per-group HLL estimates and their union must land within 5% of
    exact distinct counts (lgK=12 standard error is ~1.6%)."""
    from pyspark.sql import functions as F

    from rabbithole_spark.catalog import load_all
    from rabbithole_spark.session import table

    sf = "/root/testdata/sf0.01"
    got = {r.event_type: r.approx_users
           for r in load_all()["agg_hll_sketch_union"].fn(spark, sf).collect()}
    ev = table(spark, sf, "events")
    exact = {r.event_type: r.n for r in
             ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    exact["ALL"] = ev.select("user_id").distinct().count()
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(1, 0.05 * exact[k]), (k, est, exact[k])


def test_kll_quantile_sketch_within_rank_tolerance(spark):
    """KLL (k=200) quantile estimates must land within 5% *rank* error
    of the exact distribution, per group and for the merged ALL row
    (KLL guarantees rank accuracy, not value accuracy)."""
    from pyspark.sql import functions as F

    from rabbithole_spark.catalog import load_all
    from rabbithole_spark.session import table

    sf = "/root/testdata/sf0.01"
    got = {
        r.event_type: (r.p50, r.p95)
        for r in load_all()["agg_kll_quantile_sketch"].fn(spark, sf).collect()
    }
    ev = table(spark, sf, "events")
    groups = {r.event_type for r in ev.select("event_type").distinct().collect()}
    assert set(got) == groups | {"ALL"}
    for key, (p50, p95) in got.items():
        vals = (
            ev if key == "ALL" else ev.filter(F.col("event_type") == key)
        ).select("value")
        n = vals.count()
        for q, est in ((0.5, p50), (0.95, p95)):
            rank = vals.filter(F.col("value") <= est).count() / n
            assert abs(rank - q) <= 0.05, (key, q, est, rank)


def test_kmeans_invariants(spark):
    """Deterministic k-means contracts (the synthetic embeddings are
    nearly isotropic — ideal label purity is only ~0.41 — so the test
    asserts algorithmic invariants, not label recovery): every vector
    assigned exactly once to one of <= k clusters, inertia does not
    increase with more Lloyd iterations, and the fit is reproducible."""
    from pyspark.sql import functions as F

    from rabbithole_spark.operators.similarity import kmeans_fit_assign
    from rabbithole_spark.session import table

    sf = "/root/testdata/sf0.01"
    emb = table(spark, sf, "embeddings")
    a4 = kmeans_fit_assign(emb, "embedding", ["vec_id"], k=10, iters=4)
    rows = a4.collect()
    assert len(rows) == emb.count()
    assert len({r.vec_id for r in rows}) == len(rows)
    assert len({r.cluster for r in rows}) <= 10
    assert all(r.dist2 >= 0 for r in rows)
    inertia4 = sum(r.dist2 for r in rows)
    a1 = kmeans_fit_assign(emb, "embedding", ["vec_id"], k=10, iters=1)
    inertia1 = a1.agg(F.sum("dist2")).collect()[0][0]
    assert inertia4 <= inertia1 + 1e-6, (inertia4, inertia1)
    # deterministic: re-running the fit reproduces the assignment
    again = {
        r.vec_id: r.cluster
        for r in kmeans_fit_assign(
            emb, "embedding", ["vec_id"], k=10, iters=4
        ).collect()
    }
    assert again == {r.vec_id: r.cluster for r in rows}
    # sampled fit path (round 13): the centroids fit on the filter's
    # sample only, but EVERY corpus row is still assigned — and only
    # the sample is materialized (the assignment reads the corpus
    # scan, so the full relation is never eagerly checkpointed)
    sampled = kmeans_fit_assign(
        emb, "embedding", ["vec_id"], k=10, iters=2,
        fit_filter=F.col("vec_id") % 2 == 0,
    )
    srows = sampled.collect()
    assert len(srows) == emb.count()
    assert len({r.vec_id for r in srows}) == len(srows)
    assert "LogicalRDD" not in sampled._jdf.queryExecution().analyzed().toString()


def test_kmeans_ragged_vectors_fail_loudly(spark):
    """Lloyd's fixed-dim contract: a vector longer or shorter than the
    seed centroids raises instead of being silently truncated."""
    from rabbithole_spark.operators.similarity import kmeans_fit_assign

    for ragged in ([1.0, 2.0, 3.0], [1.0]):
        df = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, [4.0, 4.0]), (3, ragged)],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(Exception, match="vector length .* != centroid dim 2"):
            kmeans_fit_assign(df, "embedding", ["vec_id"], k=2, iters=1).collect()


def test_decode_stub_and_fallback():
    """decode_stub really decodes when Pillow is importable, raises
    NotImplementedError otherwise; decode_or_fake always yields an
    array shaped by the metadata dims in codec-less environments."""
    import numpy as np
    import pytest

    from rabbithole_spark.operators import multimodal

    payload = bytes(range(200))
    if multimodal._pil() is None:
        with pytest.raises(NotImplementedError):
            multimodal.decode_stub(payload, "image/png")
        fake = multimodal.decode_or_fake(payload, "image/png", width=20, height=10)
        # same (H, W, 3) contract as the real-decode path
        assert fake.shape == (10, 20, 3)
        assert fake.dtype == np.uint8
        # deterministic: raveled payload bytes, tiled to the dims
        assert fake[0, 0, 0] == 0 and fake[0, 0, 1] == 1
    else:
        import io

        from PIL import Image

        img = Image.new("RGB", (8, 4), color=(1, 2, 3))
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        arr = multimodal.decode_stub(buf.getvalue(), "image/png")
        assert arr.shape == (4, 8, 3)
        assert (arr == [1, 2, 3]).all()
        same = multimodal.decode_or_fake(buf.getvalue(), "image/png", width=8, height=4)
        assert (same == arr).all()


def test_prefix_filter_prunes_and_loses_nothing(spark):
    """The prefix-filtered Jaccard join must (a) generate far fewer
    candidate pairs than the n^2/2 a naive join compares, and (b) find
    exactly the pairs the naive corpus-wide join finds — prefix
    filtering is complete by construction (AllPairs lemma), unlike
    LSH's probabilistic recall."""
    from pyspark.sql import functions as F

    from rabbithole_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
        word_shingles,
    )
    from rabbithole_spark.session import table

    sf = "/root/testdata/sf0.001"
    d = table(spark, sf, "documents")
    n = d.count()

    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_filtered_jaccard_pairs(
            d, "doc_id", "text", k=3, t_num=1, t_den=5
        ).collect()
    )

    sh = d.select("doc_id", word_shingles(F.col("text"), 3).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    jac = F.round(
        F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
        / F.size(F.array_union("a.sh", "b.sh")).cast("double"),
        6,
    )
    naive = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
        .collect()
    )
    assert got == naive and got, (len(got), len(naive))

    # candidate-set pruning: pairs sharing a prefix token << n^2/2
    ds = sh.select(
        "doc_id", F.size("sh").alias("n"), F.explode_outer("sh").alias("s")
    )
    freq = ds.groupBy("s").agg(F.count(F.lit(1)).alias("f"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("f", "s")
    prefix = (
        ds.join(freq, "s")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("n") - F.expr("(n + 4) div 5") + 1)
        .select("doc_id", "s")
    )
    n_cand = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.s") == F.col("pb.s"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select("pa.doc_id", "pb.doc_id")
        .distinct()
        .count()
    )
    assert n_cand < n * (n - 1) / 2 / 4, (n_cand, n)


def test_edjoin_prefix_prunes_and_loses_nothing(spark):
    """The q-gram prefix edit-distance join must equal the naive
    corpus-wide quadratic (completeness of the Ed-Join filters) while
    generating far fewer candidates than all pairs."""
    from pyspark.sql import functions as F

    from rabbithole_spark.operators.dedup import qgram_prefix_edit_pairs
    from rabbithole_spark.session import table

    sf = "/root/testdata/sf0.001"
    p = table(spark, sf, "part")
    n = p.count()

    got = sorted(
        (r.id_a, r.id_b, r.edit_dist)
        for r in qgram_prefix_edit_pairs(
            p, "p_partkey", "p_name", max_dist=3, q=2
        ).collect()
    )
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    naive = sorted(
        (r.id_a, r.id_b, r.edit_dist)
        for r in a.join(b, F.col("a.p_partkey") < F.col("b.p_partkey"))
        .select(
            F.col("a.p_partkey").alias("id_a"),
            F.col("b.p_partkey").alias("id_b"),
            dist.cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 3)
        .collect()
    )
    assert got == naive and got, (len(got), len(naive))


def test_boilerplate_removal_consistent_with_audit(spark):
    """The removal query's n_removed must equal the audit query's
    n_dup_segments per doc, and cleaned text must contain no segment
    the audit counted as duplicated."""
    from rabbithole_spark.catalog import load_all

    sf = "/root/testdata/sf0.001"
    specs = load_all()
    audit = {
        r.doc_id: r.n_dup_segments
        for r in specs["text_segment_dedup_rate"].fn(spark, sf).collect()
    }
    removed = {
        r.doc_id: r.n_removed
        for r in specs["text_remove_boilerplate"].fn(spark, sf).collect()
    }
    assert audit == removed
    assert sum(removed.values()) > 0  # non-vacuous on this data


def test_blocked_jaccard_is_subset_of_prefix_join(spark):
    """The retired verifier-tier blocked quadratic finds a subset of
    the prefix-filtered corpus-wide join's pairs (blocking can only
    LOSE cross-block pairs, never invent ones) — the containment that
    justified replacing it as the registered query."""
    from pyspark.sql import functions as F

    from rabbithole_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard_pairs,
    )
    from rabbithole_spark.session import table

    sf = "/root/testdata/sf0.001"
    d = table(spark, sf, "documents").withColumn(
        "len_band", F.floor(F.col("n_chars") / 100).cast("int")
    )
    blocked = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            d, "doc_id", "text", block_cols=["lang", "len_band"],
            k=3, threshold=0.2,
        ).collect()
    }
    corpus_wide = {
        (r.id_a, r.id_b)
        for r in prefix_filtered_jaccard_pairs(
            d, "doc_id", "text", k=3, t_num=1, t_den=5
        ).collect()
    }
    assert blocked <= corpus_wide
    assert corpus_wide  # non-degenerate on the synthetic corpus


def test_snapshot_diff_null_text_matches_oracle(spark, tmp_path):
    """Differential edge-payload test for the round-5 NULL guard: with
    NULL text rows present, the registered corpus_snapshot_diff and
    its DuckDB oracle must still agree — before the coalesce fix,
    Spark's left_anti KEPT null-hash rows while the oracle's NOT IN
    dropped them (and one v1 NULL made NOT IN reject everything)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rabbithole_spark.catalog import load_all

    # doc_ids chosen so NULL-text docs land in v1-only, v2-only and
    # the overlap of the hash-split version membership
    rows = []
    for doc_id in range(40):
        text = None if doc_id % 7 == 0 else f"doc body {doc_id % 11}"
        rows.append((doc_id, text, "en", "src0", 20))
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    spec = load_all()["corpus_snapshot_diff"]
    got = sorted(
        (r.status, r.n_docs)
        for r in spec.fn(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = sorted(map(tuple, con.execute(spec.oracle).fetchall()))
    con.close()
    assert got == want, (got, want)
    # non-degenerate: the NULL docs actually exercised both branches
    assert sum(n for _, n in got) > 0


def test_source_overlap_matrix_null_text_matches_oracle(spark, tmp_path):
    """NULL-text guard pin (round-5 review): docs with NULL text must
    contribute NO segments on either engine — Spark's explode_outer
    would otherwise keep a row for them while the oracle's unnest
    emits none, inventing spurious cross-source overlaps."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rabbithole_spark.catalog import load_all

    rows = []
    for doc_id in range(24):
        src = f"src{doc_id % 3}"
        # every third doc NULL; shared boilerplate across sources
        text = None if doc_id % 3 == 0 else "one two three four five six seven eight shared tail"
        rows.append((doc_id, text, "en", src, 20))
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    spec = load_all()["source_overlap_matrix"]
    got = sorted(
        (r.source_a, r.source_b, r.n_shared_segments)
        for r in spec.fn(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = sorted(map(tuple, con.execute(spec.oracle).fetchall()))
    con.close()
    assert got == want, (got, want)
    assert got  # the non-null docs DO share segments across sources


def test_simhash_pigeonhole_block_join_equals_bruteforce(spark):
    """simhash_hamming_pairs (Manku WWW'07 pigeonhole block join) must
    find exactly the brute-force popcount pairs at a tight web-scale
    budget (ham<=3), where the block join actually prunes. Signatures
    are crafted so some pairs sit at 0-3 flipped bits and others far
    beyond."""
    from pyspark.sql import functions as F

    from rabbithole_spark.operators.dedup import simhash_hamming_pairs

    base = 0x0123456789ABCDEF
    sigs = [
        (0, base),
        (1, base ^ 0b1),                      # ham 1 from 0
        (2, base ^ 0b1011),                   # ham 3 from 0
        (3, base ^ ((1 << 63) | (1 << 31))),  # ham 2 from 0
        (4, ~base & 0xFFFFFFFFFFFFFFFF),      # complement: ham 64 from 0
        (5, 0),
    ]
    # normalize to signed 64-bit longs for Spark
    rows = [(i, s - 2**64 if s >= 2**63 else s) for i, s in sigs]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.id_a, r.id_b, r.ham)
        for r in simhash_hamming_pairs(df, "doc_id", "simhash", max_ham=3).collect()
    }
    sig_map = dict(rows)
    want = set()
    for i in sig_map:
        for j in sig_map:
            if i < j:
                ham = bin((sig_map[i] ^ sig_map[j]) & 0xFFFFFFFFFFFFFFFF).count("1")
                if ham <= 3:
                    want.add((i, j, ham))
    assert got == want and len(want) >= 3


def test_xxh64_oracles_agree_on_null_and_empty_text(spark, tmp_path):
    """Differential edge-corpus test driving the REGISTERED queries:
    a corpus containing NULL and empty text must produce identical
    results from the Spark query and its DuckDB oracle. Without the
    isNotNull guards, Spark's concat_ws squashes a NULL slice to ''
    (the doc gets a real signature / gram hash) while the oracle's
    split propagates NULL and drops the doc — reproduced as dup_ratio
    1.0-vs-0.0 and 4-vs-2 rows before the guards landed."""
    import shutil

    from rabbithole_spark.catalog import load_all
    from rabbithole_spark.oracle import compare, duckdb_connect

    sf = str(tmp_path)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{sf}/{t}.parquet")
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "en", "s0", 35),
            (2, None, "en", "s0", 0),
            (3, "", "en", "s0", 0),
            (4, None, "de", "s1", 0),
            (5, "alpha beta gamma delta epsilon zeta", "en", "s1", 35),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/_docs")
    import glob
    import os

    part_file = glob.glob(f"{sf}/_docs/part-*.parquet")[0]
    shutil.copy(part_file, f"{sf}/documents.parquet")
    con = duckdb_connect(sf)
    specs = load_all()
    for name in (
        "dedup_minhash_lsh",
        "dedup_minhash_recall_audit",
        "dedup_simhash",
        "dedup_duplicate_ngram_spans",
    ):
        spec = specs[name]
        report = compare(name, spec.fn(spark, sf), spec.oracle, con)
        assert report.ok, f"{name}: {report}"


def test_duplicate_span_detection_on_planted_span(spark, tmp_path):
    """Two docs sharing one exact 20-token span (inside otherwise
    distinct text) must both report exactly the shared gram positions
    as duplicated; a doc with no shared span reports zero."""
    import shutil

    from rabbithole_spark.catalog import load_all

    sf = str(tmp_path)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{sf}/{t}.parquet")
    shared = " ".join(f"tok{i}" for i in range(20))  # exactly one gram
    docs = spark.createDataFrame(
        [
            (1, f"aaa bbb ccc {shared}", "en", "s0", 0),
            (2, f"{shared} xxx yyy zzz", "en", "s0", 0),
            (3, "unrelated words only here nothing shared at all", "en", "s0", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/_docs")
    import glob

    shutil.copy(glob.glob(f"{sf}/_docs/part-*.parquet")[0], f"{sf}/documents.parquet")
    out = {
        r["doc_id"]: (r["n_grams"], r["n_dup_grams"])
        for r in load_all()["dedup_duplicate_ngram_spans"]
        .fn(spark, sf)
        .collect()
    }
    # doc1: 23 tokens -> 4 gram positions; the span occupies only the
    # LAST position (positions 1-3 mix prefix+span tokens, unique).
    assert out[1] == (4, 1), out
    # doc2: the span is the FIRST position; 3 trailing mixed grams unique
    assert out[2] == (4, 1), out
    assert out[3][1] == 0, out


def test_mmr_rerank_invariants(spark):
    """Rank-1 must be the highest-relevance candidate (penalty term is
    zero for the first pick), ranks are 1..k over distinct vec_ids,
    and mmr scores are finite."""
    import math

    from rabbithole_spark.catalog import load_all
    from rabbithole_spark.queries.llm.similarity import _mmr_pool

    sf = "/root/testdata/sf0.001"
    rows = load_all()["similarity_mmr_rerank"].fn(spark, sf).collect()
    assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == list(
        range(1, len(rows) + 1)
    )
    assert len({r["vec_id"] for r in rows}) == len(rows)
    assert all(math.isfinite(r["mmr_score"]) for r in rows)
    top = _mmr_pool(spark, sf).collect()[0]
    first = next(r for r in rows if r["rank"] == 1)
    assert first["vec_id"] == top["vec_id"]


def test_ngram_novelty_on_planted_repeat(spark, tmp_path):
    """A doc that only repeats an earlier doc's text has novelty 0;
    the first doc of the corpus is fully novel; a doc mixing one
    repeated gram among fresh ones scores the exact fraction."""
    import glob
    import shutil

    from rabbithole_spark.catalog import load_all

    sf = str(tmp_path)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{sf}/{t}.parquet")
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "en", "s0", 0),
            (2, "alpha beta gamma delta", "en", "s0", 0),
            # grams: [alpha beta gamma] (seen), [beta gamma zeta],
            # [gamma zeta eta] (novel) -> 2/3
            (3, "alpha beta gamma zeta eta", "en", "s0", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/_docs")
    shutil.copy(glob.glob(f"{sf}/_docs/part-*.parquet")[0], f"{sf}/documents.parquet")
    out = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_ratio"])
        for r in load_all()["text_ngram_novelty"].fn(spark, sf).collect()
    }
    assert out[1] == (2, 2, 1.0), out       # both grams first here
    assert out[2] == (2, 0, 0.0), out       # pure repeat
    assert out[3] == (3, 2, round(2 / 3, 6)), out


def test_mad_outliers_on_constant_and_spiked_lengths(spark, tmp_path):
    """Constant lengths -> MAD 0 and no outliers (0 > 0 is false);
    one extreme length among many equal ones is flagged."""
    import glob
    import shutil

    from rabbithole_spark.catalog import load_all

    sf = str(tmp_path)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{sf}/{t}.parquet")
    rows = [(i, "t", "en", "s0", 100) for i in range(9)]
    rows.append((9, "t", "en", "s0", 100000))      # the spike
    rows += [(10 + i, "t", "fr", "s0", 50) for i in range(4)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/_docs")
    shutil.copy(glob.glob(f"{sf}/_docs/part-*.parquet")[0], f"{sf}/documents.parquet")
    out = {
        r["lang"]: r for r in load_all()["stats_mad_outliers"].fn(spark, sf).collect()
    }
    assert out["fr"]["mad_chars"] == 0.0 and out["fr"]["n_outliers"] == 0
    # en: median 100, MAD 0 (9 of 10 values equal) -> the spike's
    # deviation 99900 > 4.4478 * 0 flags exactly one outlier
    assert out["en"]["median_chars"] == 100.0
    assert out["en"]["n_outliers"] == 1 and out["en"]["n_docs"] == 10


def test_hybrid_rrf_fuses_both_legs(spark):
    """RRF invariants on the live corpus: scores follow 1/(60+rank)
    from the per-leg ranks exactly, ranks are within the 20-deep
    pools, the result is rrf-descending, and a doc ranked #1 in BOTH
    legs would dominate — verified by recomputing the fusion from the
    leg queries themselves."""
    sf = "/root/testdata/sf0.001"
    rows = load_all()["retrieval_hybrid_rrf"].fn(spark, sf).collect()
    assert 0 < len(rows) <= 10
    scores = []
    for r in rows:
        assert r.lex_rank is not None or r.vec_rank is not None
        expect = 0.0
        if r.lex_rank is not None:
            assert 1 <= r.lex_rank <= 20
            expect += 1.0 / (60 + r.lex_rank)
        if r.vec_rank is not None:
            assert 1 <= r.vec_rank <= 20
            expect += 1.0 / (60 + r.vec_rank)
        assert abs(r.rrf_score - round(expect, 6)) < 1e-9
        scores.append(r.rrf_score)
    assert scores == sorted(scores, reverse=True)
    # both legs contribute to the fused pool on this corpus
    assert any(r.lex_rank is not None for r in rows)
    assert any(r.vec_rank is not None for r in rows)


def test_random_projection_matches_numpy(spark):
    """The projected coordinates equal a NumPy replay of the same
    deterministic sign matrix (literal-for-literal), and the sign
    matrix itself is balanced enough to be a real JL matrix."""
    import numpy as np

    from rabbithole_spark.queries.llm.similarity import _PROJ_SIGNS

    sf = "/root/testdata/sf0.001"
    got = {
        r.vec_id: [r[f"p{j:02d}"] for j in range(16)]
        for r in load_all()["embedding_random_projection"].fn(spark, sf).collect()
    }
    raw = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }
    signs = np.asarray(_PROJ_SIGNS)  # (16, 64)
    assert set(got) == set(raw)
    for vid in list(got)[:50]:
        expect = signs @ raw[vid] / 4.0
        assert np.allclose(got[vid], np.round(expect, 6), atol=2e-6), vid
    # each output dim's sign row is roughly balanced (no constant rows)
    per_row = np.abs(signs.sum(axis=1))
    assert (per_row <= 24).all(), per_row


def test_hard_negatives_two_phase_equals_single_window(spark):
    """The shard-local pre-top-k must not change the answer: replay
    the mining with ONE global window per anchor and compare exactly.
    Also pin the semantics: every mined row has a label different
    from its anchor's, and ranks are 1..k contiguous per anchor."""
    from pyspark.sql import Window

    from rabbithole_spark.operators.similarity import cosine, valid_embeddings
    from rabbithole_spark.queries.llm.similarity import (
        _HARDNEG_K,
        _HARDNEG_N_ANCHORS,
    )

    sf = "/root/testdata/sf0.001"
    got = load_all()["similarity_hard_negatives"].fn(spark, sf).collect()

    e = valid_embeddings(spark.read.parquet(f"{sf}/embeddings.parquet"))
    anchors = (
        e.filter(F.col("vec_id") < _HARDNEG_N_ANCHORS)
        .orderBy("vec_id").collect()
    )
    naive = []
    for a in anchors:
        q = F.array(*[F.lit(float(x)) for x in a.embedding])
        w = Window.orderBy(F.col("cs").desc(), "vec_id")
        rows = (
            e.filter(F.col("label") != a.label)
            .select(
                "vec_id", "label",
                F.round(cosine(F.col("embedding"), q), 6).alias("cs"),
            )
            .filter(F.col("cs").isNotNull())
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _HARDNEG_K)
            .collect()
        )
        naive.extend(
            (a.vec_id, a.label, r.vec_id, r.label, r.cs, r.rank) for r in rows
        )
    got_tuples = sorted(
        (r.anchor_id, r.anchor_label, r.vec_id, r.label, r.cosine_sim, r.rank)
        for r in got
    )
    assert got_tuples == sorted(naive)
    for r in got:
        assert r.label != r.anchor_label
    per_anchor = {}
    for r in got:
        per_anchor.setdefault(r.anchor_id, []).append(r.rank)
    for ranks in per_anchor.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_length_bucket_batches_bound_padding(spark):
    """Per-batch invariants for the inference batcher: batch sizes
    never exceed the configured cap, padding_frac is consistent with
    (n_docs, max_tokens, total_tokens), and within a bucket the token
    spread is bounded by the bucket width (except the capped top
    bucket, which is open-ended by design)."""
    from rabbithole_spark.queries.llm.pack import (
        _LENBATCH_DOCS,
        _LENBUCKET_CAP,
        _LENBUCKET_WIDTH,
    )

    sf = "/root/testdata/sf0.001"
    rows = load_all()["pack_length_buckets"].fn(spark, sf).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_docs <= _LENBATCH_DOCS
        assert r.total_tokens <= r.n_docs * r.max_tokens
        expect = 1.0 - r.total_tokens / (r.n_docs * r.max_tokens)
        assert abs(r.padding_frac - round(expect, 6)) < 1e-9
        if r.bucket < _LENBUCKET_CAP:
            # all docs in a non-top bucket lie in one width-16 band,
            # so padded waste per doc is < width/max
            assert (
                r.n_docs * r.max_tokens - r.total_tokens
                < r.n_docs * _LENBUCKET_WIDTH
            )
    # every document lands in exactly one batch
    n_docs_total = sum(r.n_docs for r in rows)
    assert n_docs_total == spark.read.parquet(
        f"{sf}/documents.parquet"
    ).filter(F.col("text").isNotNull()).count()


def test_semantic_screen_argmax_matches_per_pair_replay(spark):
    """The row-local struct-array argmax must equal a per-pair naive
    replay: for each reported row, max_sim is the true max cosine over
    the benchmark set and nearest_bench the tie-broken argmax (sim
    desc, bench_id desc). Benchmark rows themselves never appear."""
    from rabbithole_spark.operators.similarity import cosine, valid_embeddings
    from rabbithole_spark.queries.llm.contamination import _SEMCON_N_BENCH

    sf = "/root/testdata/sf0.001"
    got = load_all()["contamination_semantic_screen"].fn(spark, sf).collect()
    assert got and all(r.vec_id >= _SEMCON_N_BENCH for r in got)
    sims = sorted((r.max_sim for r in got), reverse=True)
    assert [r.max_sim for r in got] == sims  # report is sim-descending

    e = valid_embeddings(spark.read.parquet(f"{sf}/embeddings.parquet"))
    bench = e.filter(F.col("vec_id") < _SEMCON_N_BENCH).orderBy("vec_id").collect()
    check = {r.vec_id: r for r in got[:5]}
    for row in e.filter(F.col("vec_id").isin(*check)).collect():
        cosines = [
            (
                spark.range(1)
                .select(
                    F.round(
                        cosine(
                            F.lit(None).cast("array<float>")
                            if row.embedding is None
                            else F.array(*[F.lit(float(x)) for x in row.embedding]),
                            F.array(*[F.lit(float(x)) for x in b.embedding]),
                        ),
                        6,
                    ).alias("s")
                )
                .collect()[0].s,
                b.vec_id,
            )
            for b in bench
        ]
        best = max(cosines)
        assert check[row.vec_id].max_sim == best[0]
        assert check[row.vec_id].nearest_bench == best[1]


def test_hll_union_estimate_exact_on_driver_corpus(spark):
    """agg_hll_sketch_union's oracle is the EXACT distinct count, valid
    only while the driver corpus produces zero 26-bit coupon hash
    collisions in the lgK=14 Datasketches sketch (ADVICE r8: exactness
    is a property of the concrete value set, not a regime guarantee —
    collisions flip the estimate off-by-one from ~1.5k distinct on
    synthetic ids). Assert the precondition directly per SF: rounded
    estimate == exact count, per group AND overall, so a data-gen
    change fails HERE with a named cause instead of as a silent oracle
    hash mismatch."""
    import os

    checked = 0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/events.parquet"
        if not os.path.exists(path):
            continue
        checked += 1
        ev = spark.read.parquet(path)
        sk = ev.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id", 14).alias("sketch"),
            F.countDistinct("user_id").alias("exact"),
        )
        per_group = sk.select(
            "event_type",
            F.round(F.hll_sketch_estimate("sketch")).cast("long").alias("est"),
            "exact",
        ).collect()
        assert per_group, sf
        for row in per_group:
            assert row.est == row.exact, (
                f"{sf}/{row.event_type}: sketch estimate {row.est} != exact "
                f"{row.exact} — the driver corpus crossed the collision-free "
                "coupon regime; agg_hll_sketch_union's exact-count oracle is "
                "no longer valid (see its docstring)"
            )
        overall = sk.agg(
            F.round(
                F.hll_sketch_estimate(F.hll_union_agg("sketch"))
            ).cast("long").alias("est")
        ).collect()[0].est
        exact_overall = ev.select("user_id").distinct().count()
        assert overall == exact_overall, (
            f"{sf} overall: union estimate {overall} != exact {exact_overall}"
        )
    # the guard must actually have run — a moved/renamed testdata root
    # would otherwise turn this into a vacuous green
    assert checked >= 1, "no events.parquet found at any SF"


def test_hll_union_regime_crossing_diverges(spark):
    """The companion pin proving the precondition test above is
    load-bearing: past the collision-free range the sketch estimate
    genuinely diverges from the exact count (round-9 measurement:
    5000 distinct ids -> 4969 at lgK=14), i.e. if the driver corpus
    ever crossed the regime the oracle WOULD mismatch — the guard
    fails loudly rather than the regime silently not mattering."""
    est = (
        spark.range(5000)
        .agg(
            F.round(F.hll_sketch_estimate(F.hll_sketch_agg("id", 14)))
            .cast("long")
            .alias("est")
        )
        .collect()[0]
        .est
    )
    assert est != 5000, "estimate unexpectedly exact at 5000 distinct"
    # ... while still inside the sketch's documented accuracy envelope
    assert abs(est - 5000) / 5000 < 0.05


def test_semantic_screen_bcast_twin(spark):
    """The broadcast-join formulation (benchmark set as a broadcast
    single-row array, O(1) plan size) must return exactly the literal
    variant's rows — same argmax, same tie-break, same top-k cut."""
    sf = "/root/testdata/sf0.001"
    specs = load_all()
    lit = sorted(
        map(tuple, specs["contamination_semantic_screen"].fn(spark, sf).collect())
    )
    bc = sorted(
        map(
            tuple,
            specs["contamination_semantic_screen_bcast"].fn(spark, sf).collect(),
        )
    )
    assert lit == bc


def test_hard_negatives_bcast_twin(spark):
    """Broadcast-anchor twin equality: transform+explode over the
    broadcast anchor array must score and rank exactly like the
    literal stack() variant (shared two-phase top-k tail)."""
    sf = "/root/testdata/sf0.001"
    specs = load_all()
    lit = sorted(
        map(tuple, specs["similarity_hard_negatives"].fn(spark, sf).collect())
    )
    bc = sorted(
        map(
            tuple,
            specs["similarity_hard_negatives_bcast"].fn(spark, sf).collect(),
        )
    )
    assert lit == bc


def test_quality_classifier_composes_feature_operators(spark):
    """text_quality_classifier is the composition of the three feature
    operators, pinned end-to-end: joining the REGISTERED outputs of
    text_quality_stats, text_readability_scores and
    text_lm_cross_entropy and recomputing the linear blend + bucket +
    keep must reproduce the registered classifier rows exactly — so a
    drift in any feature operator (or in the classifier's private
    copies of their expressions) fails here, not just at the oracle."""
    from rabbithole_spark.queries.llm.text import (
        _QCLF_HEAD,
        _QCLF_KEEP,
        _QCLF_MID,
    )

    sf = "/root/testdata/sf0.001"
    specs = load_all()
    q = {r.doc_id: r.quality for r in specs["text_quality_stats"].fn(spark, sf).collect()}
    fl = {r.doc_id: r.flesch for r in specs["text_readability_scores"].fn(spark, sf).collect()}
    xe = {
        r.doc_id: (r.n_tokens, r.cross_entropy)
        for r in specs["text_lm_cross_entropy"].fn(spark, sf).collect()
    }
    clamp = lambda v: max(0.0, min(1.0, v))  # noqa: E731
    expected = {}
    for doc_id, (n_tokens, xent) in xe.items():
        if doc_id not in q or q[doc_id] is None:
            continue  # NULL-text docs never reach the classifier
        raw = (
            0.5 * q[doc_id]
            + 0.3 * clamp(fl[doc_id] / 100.0)
            + 0.2 * clamp((5.1 - xent) / 0.3)
        )
        bucket = (
            "head" if xent < _QCLF_HEAD
            else "middle" if xent < _QCLF_MID
            else "tail"
        )
        expected[doc_id] = (
            n_tokens, q[doc_id], fl[doc_id], xent,
            bucket, round(raw, 6), raw >= _QCLF_KEEP,
        )
    got = {
        r.doc_id: (
            r.n_tokens, r.quality, r.flesch, r.cross_entropy,
            r.lm_bucket, r.classifier_score, r.keep,
        )
        for r in specs["text_quality_classifier"].fn(spark, sf).collect()
    }
    assert got == expected
    # all three buckets and both keep branches are live on driver data
    assert {v[4] for v in got.values()} == {"head", "middle", "tail"}
    assert {v[6] for v in got.values()} == {True, False}


def test_multimodal_kernels_tolerate_null_payloads(spark):
    """Round-9 review: a NULL binary payload crashed all three kernels
    (np.frombuffer(None) / len(None)) — one bad row must not kill a
    100 TB encode pass. Features/resize propagate NULL outputs; frame
    sampling emits no frames for the row."""
    from rabbithole_spark.operators.multimodal import (
        extract_features,
        resize_media,
        sample_frames,
    )

    df = spark.createDataFrame(
        [
            (1, bytes(range(64)), {"modality": "image", "mime": "x",
                                   "width": 8, "height": 8}),
            (2, None, None),
        ],
        "doc_id long, content binary, media_meta struct<modality:string,"
        "mime:string,width:int,height:int>",
    )
    feats = {r.doc_id: r.n_bytes for r in extract_features(df).collect()}
    assert feats[1] == 64 and feats[2] is None
    resized = {r.doc_id: r.content for r in resize_media(df, 4, 4).collect()}
    assert len(resized[1]) == 16 and resized[2] is None
    frames = sample_frames(df, frame_size=16, every_k=1).collect()
    assert {r.doc_id for r in frames} == {1}


def test_salted_join_rejects_unsupported_shapes(spark):
    """Round-9 review: the exploded small side would emit unmatched
    rows once PER SALT under right/full joins — rejected loudly; a
    pre-existing __salt column would be clobbered then dropped."""
    import pytest

    from rabbithole_spark.operators.skew import salted_join

    large = spark.createDataFrame([(1, 10)], ["k", "id"])
    small = spark.createDataFrame([(1, "x")], ["k", "v"])
    with pytest.raises(ValueError, match="per salt"):
        salted_join(large, small, on="k", salt_from="id", how="full")
    with pytest.raises(ValueError, match="__salt"):
        salted_join(
            large.withColumn("__salt", F.lit(0)), small, on="k", salt_from="id"
        )


def test_chunk_words_rejects_content_skipping_params():
    import pytest

    from rabbithole_spark.operators.text_analysis import chunk_words

    with pytest.raises(ValueError, match=r"\[0, chunk_size\)"):
        chunk_words(F.lit("a b c"), chunk_size=10, overlap=-5)
    with pytest.raises(ValueError, match="positive"):
        chunk_words(F.lit("a b c"), chunk_size=0)


def test_zorder_scale_survives_int32_keys(spark):
    """Round-9 review: an IntegerType key > 32767 wrapped at 2^31 in
    the 65536 multiply, silently z-clustering on a corrupted curve.
    The operator now widens to long first."""
    from rabbithole_spark.operators.layout import scale_to_16bit

    df = spark.createDataFrame([(100000,)], "k int")
    got = df.select(
        scale_to_16bit(F.col("k"), F.lit(200000).cast("long")).alias("b")
    ).collect()[0].b
    assert got == 32768  # floor(100000 * 65536 / 200000), not negative


def test_bucket_hash_independence(spark):
    """Round-9 measurement: swapping odd MULTIPLIERS can never
    decorrelate power-of-2 residues — (d*a) mod 4 == (d mod 4 * a
    mod 4) mod 4 for any odd a, so the old scheme had shard % 4 EQUAL
    the quality-sample bucket % 4 for every document (agreement 1.0)
    and the winnow decontamination split at 0.5. The load-bearing
    buckets (decontamination split, training shuffle) now use
    domain-tagged xxhash64; this pins all three pairwise mod-4
    agreements near the independent 0.25 on a deterministic id range."""
    from rabbithole_spark.queries.llm.contamination import _WINNOW_SPLIT_OFFSET
    from rabbithole_spark.queries.llm.mixture import (
        _QSAMPLE_BUCKET_SQL,
        _SHARD_HASH_OFFSET,
    )

    d = spark.range(20000).withColumnRenamed("id", "doc_id")
    r = d.select(
        F.pmod(
            F.xxhash64(F.col("doc_id") + F.lit(_SHARD_HASH_OFFSET)), F.lit(4)
        ).alias("s4"),
        (F.expr(_QSAMPLE_BUCKET_SQL) % 4).alias("q4"),
        F.pmod(
            F.pmod(
                F.xxhash64(F.col("doc_id") + F.lit(_WINNOW_SPLIT_OFFSET)),
                F.lit(100),
            ),
            F.lit(4),
        ).alias("w4"),
    )
    n = r.count()
    for a, b in (("s4", "q4"), ("w4", "q4"), ("s4", "w4")):
        agree = r.filter(F.col(a) == F.col(b)).count() / n
        assert 0.22 <= agree <= 0.28, (a, b, agree)


def test_dsir_importance_replays_and_selects_target_like_docs(spark, tmp_path):
    """mixture_dsir_importance end-to-end on a planted corpus: raw-pool
    docs written in the target split's vocabulary must score
    positive/selected, off-vocabulary docs negative/unselected, and a
    full Python replay of the LM math (Laplace bag-of-hashed-ngrams,
    DECIMAL(15,12)-quantized log deltas, exact integer weighting) must
    reproduce every (n_feats, dsir_logratio, selected) row. Bucket
    hashing parity is xxh64_sql's own test suite + the oracle; this
    test takes bucket assignments from Spark and pins the SEMANTICS."""
    import math
    from decimal import Decimal, ROUND_HALF_UP

    from rabbithole_spark.queries.llm.mixture import (
        _DSIR_BUCKETS,
        _DSIR_SPLIT_OFFSET,
    )

    # discover each candidate id's split bucket with the query's own hash
    ids = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.pmod(
            F.xxhash64(F.col("id") + F.lit(_DSIR_SPLIT_OFFSET)), F.lit(10)
        ).alias("split"),
    )
    split = {r.doc_id: r.split for r in ids.collect()}
    target_ids = [i for i, s in split.items() if s == 0]
    raw_ids = [i for i, s in split.items() if s != 0]
    assert len(target_ids) >= 5 and len(raw_ids) >= 20
    on_vocab = "alpha beta gamma delta"
    off_vocab = "zulu yankee xray whiskey"
    rows, expect_kind = [], {}
    for i in target_ids:
        rows.append((i, on_vocab, "en", "src", len(on_vocab)))
    for n, i in enumerate(raw_ids):
        if n == 0:
            rows.append((i, "alpha", "en", "src", 5))  # single word: no bigram
            expect_kind[i] = "uni"
        elif n == 1:
            rows.append((i, None, "en", "src", None))  # NULL text: absent
            expect_kind[i] = "null"
        elif n % 10 == 2:
            # on-vocab docs must be RARE in the raw pool or the raw LM
            # matches the target LM and nothing separates
            rows.append((i, on_vocab, "en", "src", len(on_vocab)))
            expect_kind[i] = "on"
        else:
            rows.append((i, off_vocab, "en", "src", len(off_vocab)))
            expect_kind[i] = "off"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        r.doc_id: r
        for r in load_all()["mixture_dsir_importance"]
        .fn(spark, str(tmp_path))
        .collect()
    }

    # directional semantics
    for i, kind in expect_kind.items():
        if kind == "null":
            assert i not in out
        elif kind == "on":
            assert out[i].selected and out[i].dsir_logratio > 0, out[i]
            assert out[i].n_feats == 7  # 4 unigrams + 3 bigrams
        elif kind == "off":
            assert not out[i].selected and out[i].dsir_logratio < 0, out[i]
        elif kind == "uni":
            assert out[i].n_feats == 1  # no bigram for a single word

    # full replay: buckets from Spark's own hash, math in exact Decimal
    def grams(text):
        w = [x for x in text.lower().strip().split() if x]
        return w + [f"{a} {b}" for a, b in zip(w, w[1:])]

    vocab = sorted({g for _, t, *_ in rows if t for g in grams(t)})
    bucket = {
        r.g: r.b
        for r in spark.createDataFrame([(g,) for g in vocab], "g string")
        .select("g", F.pmod(F.xxhash64("g"), F.lit(_DSIR_BUCKETS)).alias("b"))
        .collect()
    }
    ct, cr, dc = {}, {}, {}
    for i, t, *_ in rows:
        if t is None:
            continue
        for g in grams(t):
            b = bucket[g]
            if split[i] == 0:
                ct[b] = ct.get(b, 0) + 1
            else:
                cr[b] = cr.get(b, 0) + 1
                dc.setdefault(i, {})[b] = dc[i].get(b, 0) + 1 if i in dc else 1
    nt, nr = sum(ct.values()), sum(cr.values())
    q12 = Decimal("1e-12")

    def logdec(c, n):
        return Decimal(repr(math.log((c + 1) / float(n + _DSIR_BUCKETS)))).quantize(
            q12, rounding=ROUND_HALF_UP
        )

    for i, counts in dc.items():
        lr = sum(
            n * (logdec(ct.get(b, 0), nt) - logdec(cr.get(b, 0), nr))
            for b, n in counts.items()
        )
        lr = float(lr)
        assert out[i].n_feats == sum(counts.values()), i
        assert out[i].dsir_logratio == round(lr, 6), (i, out[i], lr)
        assert out[i].selected == (lr > 0.0), i


def test_gopher_rules_planted_fixture_flips_every_rule(spark, tmp_path):
    """text_gopher_rules (built round 9, registration deferred to the
    round-10 window — see the llm.py comment): a planted corpus flips
    every rule both ways, and the Spark output must equal the DuckDB
    oracle on the same fixture (the driver can't check an unregistered
    query, so the differential lives here until round 10)."""
    import duckdb

    from rabbithole_spark.queries.llm.text import (
        _GOPHER_ORACLE,
        text_gopher_rules,
    )

    filler = "data table scan merge join batch value column group row"
    good = ("the a " + filler + " ") * 6            # 62 words, stopwords ok
    short = "the a " + filler                        # 12 words
    symbols = ("the a " + filler + " ### ## # ") * 6  # >10% symbol words
    bullets = "\n".join("- the a " + filler for _ in range(10))
    ellipses = "\n".join(
        ("the a " + filler + ("..." if i < 4 else ""))
        for i in range(10)
    )
    digits = ("the a " + "123 456 789 101 112 131 415 161 718 192 ") * 6
    longw = ("the a " + ("x" * 15 + " ") * 10) * 6  # mean ~12.8 > 10
    nostop = (filler + " ") * 6
    # CRLF variant of the ellipsis doc: Java's $ matches before the
    # trailing \r that a bare \n split leaves behind, RE2's does not
    # (round-9 review) — both the \r?\n line split and the \z anchor
    # must keep the engines aligned
    crlf = "\r\n".join(
        ("the a " + filler + ("..." if i < 4 else ""))
        for i in range(10)
    )
    rows = [
        (1, good), (2, short), (3, symbols), (4, bullets),
        (5, ellipses), (6, digits), (7, longw), (8, nostop),
        (9, None), (10, "   \t  "), (11, crlf),
    ]
    spark.createDataFrame(
        [(i, t, "en", "src", len(t) if t else None) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r.doc_id: r for r in text_gopher_rules(spark, str(tmp_path)).collect()}
    assert 9 not in out and 10 in out
    assert out[10].n_words == 0 and out[10].mean_word_len is None
    assert out[1].keep is True
    assert out[2].r_word_count is False and out[2].keep is False
    assert out[3].r_symbol_ratio is False and out[3].r_word_count is True
    assert out[4].r_bullet_lines is False
    assert out[5].r_ellipsis_lines is False and out[5].r_bullet_lines is True
    assert out[6].r_alpha_words is False
    assert out[7].r_mean_len is False and out[7].r_alpha_words is True
    assert out[8].r_stopwords is False and out[8].r_mean_len is True
    assert out[11].r_ellipsis_lines is False and out[11].n_lines == 10
    # the paper's English list is a real parameter: under it the
    # corpus-function-word docs fail the stop-word rule (only 'the')
    from rabbithole_spark.queries.llm.text import _GOPHER_STOPWORDS

    paper = {
        r.doc_id: r.r_stopwords
        for r in text_gopher_rules(
            spark, str(tmp_path), stopwords=_GOPHER_STOPWORDS
        ).collect()
    }
    assert paper[1] is False and out[1].r_stopwords is True
    # full differential vs the oracle on the same fixture
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    cur = con.execute(_GOPHER_ORACLE)
    cols = [d[0] for d in cur.description]
    orows = {r[cols.index("doc_id")]: dict(zip(cols, r)) for r in cur.fetchall()}
    assert set(orows) == set(out)
    for i, r in out.items():
        for c in cols:
            sv, ov = getattr(r, c), orows[i][c]
            if isinstance(sv, float):
                assert abs(sv - ov) < 1e-9, (i, c, sv, ov)
            else:
                assert sv == ov, (i, c, sv, ov)


def test_es_weighted_sample_replays_and_skews_to_weight(spark, tmp_path):
    """sample_weighted_no_replacement (built round 9, registration
    deferred to round 10): on a planted corpus of half high-quality /
    half zero-quality docs, a Python replay of the E-S key (ln(u)/w
    from the query's own hash) must reproduce the exact selected set
    and order, and the fixed-size sample must skew toward the
    high-weight half (P(select high) ~ 11x P(select low) per E-S with
    w 1.1 vs 0.1)."""
    import math

    from pyspark.sql import functions as F

    from rabbithole_spark.queries.llm.mixture import (
        _ES_K,
        _ES_M,
        _ES_TAG,
        _ES_W_FLOOR,
        sample_weighted_no_replacement,
    )
    from rabbithole_spark.operators.text_analysis import quality_score

    # high-quality text: 50-10000 chars, low punct, has stopwords;
    # zero-quality: short, punct-heavy, no stopwords
    hi = "the quick brown fox jumps over the lazy dog and runs on " * 3
    lo = "!!!???"
    rows = [
        (i, hi if i % 2 == 0 else lo, "en", "src", None) for i in range(400)
    ] + [(400, None, "en", "src", None)]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    out = sample_weighted_no_replacement(spark, str(tmp_path)).collect()
    assert len(out) == _ES_K
    assert all(r.doc_id != 400 for r in out)  # NULL text excluded

    # replay: u and quality from the query's own Spark expressions,
    # key + top-k selection re-derived in Python
    probe = (
        spark.read.parquet(str(tmp_path / "documents.parquet"))
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            quality_score(F.col("text")).alias("q"),
            F.pmod(
                F.xxhash64(F.col("doc_id") + F.lit(_ES_TAG)), F.lit(_ES_M)
            ).alias("hm"),
        )
        .collect()
    )
    keyed = sorted(
        (
            (-(math.log((r.hm + 1) / float(_ES_M)) / (r.q + _ES_W_FLOOR)), r.doc_id)
            for r in probe
        ),
    )[:_ES_K]
    assert [d for _, d in keyed] == [r.doc_id for r in out]

    n_hi = sum(1 for r in out if r.doc_id % 2 == 0)
    # with w=1.1 vs 0.1 over 200/200 docs and k=100, the high-weight
    # half dominates; anything under 80 would mean the weights are
    # not steering the sample
    assert n_hi >= 80, n_hi
