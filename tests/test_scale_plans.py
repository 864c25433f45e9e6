"""Physical-plan evidence for the 100 TB design claims: bucketed joins
co-locate without a shuffle, partitioned writes prune at the scan, and
broadcast dims never shuffle the fact side."""

from __future__ import annotations

import io
import contextlib
import re
import uuid

import pytest

from pyspark.sql import functions as F

from rabbithole_spark.session import table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key SMJ-join with zero Exchange —
    the co-located-join strategy for repeated 100 TB fact-fact joins."""
    suffix = uuid.uuid4().hex[:8]
    orders_t, cust_t = f"b_orders_{suffix}", f"b_cust_{suffix}"
    orders = table(spark, SF, "orders")
    customer = table(spark, SF, "customer")
    try:
        (orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
         .format("parquet").saveAsTable(orders_t))
        (customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
         .format("parquet").saveAsTable(cust_t))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(orders_t).join(
            spark.table(cust_t),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # sanity: result matches the unbucketed join
        n = joined.count()
        expected = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
        assert n == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql(f"DROP TABLE IF EXISTS {orders_t}")
        spark.sql(f"DROP TABLE IF EXISTS {cust_t}")


def test_partitioned_write_prunes_at_scan(spark, tmp_path):
    """Writing partitionBy(event_type) turns the type filter into
    partition pruning: the scan lists only the matching directory."""
    out = str(tmp_path / "events_by_type")
    ev = table(spark, SF, "events")
    ev.write.partitionBy("event_type").parquet(out)
    clicks = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = _plan(clicks)
    assert "PartitionFilters" in plan
    # the partition filter must actually reference event_type
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "event_type" in pf_line
    assert clicks.count() == ev.filter(F.col("event_type") == "click").count()


def test_broadcast_dim_join_no_fact_shuffle(spark):
    """Fact ⋈ broadcast(dim) must not shuffle the fact side."""
    orders = table(spark, SF, "orders")
    dim = spark.createDataFrame(
        [(f"{i}-{name}", i) for i, name in
         enumerate(["URGENT", "HIGH", "MEDIUM", "NOT SPECIFIED", "LOW"], 1)],
        ["o_orderpriority", "prio_rank"],
    )
    joined = orders.join(F.broadcast(dim), "o_orderpriority")
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan
    # the only exchange allowed is the broadcast itself
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            pytest.fail(f"unexpected shuffle: {line}")


def test_multiprobe_lsh_recall_dominates_single_bucket(spark):
    import numpy as np

    from rabbithole_spark.operators.similarity import ann_topk, cosine_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    planes = np.random.RandomState(7).normal(size=(6, len(qv))).tolist()
    exact = {r.vec_id for r in
             cosine_topk(e, "embedding", qv, k=10, id_cols=["vec_id"]).collect()}
    single = {r.vec_id for r in
              ann_topk(e, "embedding", qv, planes, k=10,
                       id_cols=["vec_id"]).collect()}
    probed = {r.vec_id for r in
              ann_topk(e, "embedding", qv, planes, k=10, id_cols=["vec_id"],
                       multi_probe=2).collect()}
    # probing Hamming<=2 buckets can only widen the candidate set
    assert len(exact & probed) >= len(exact & single)
    assert 0 in probed


def test_ivf_partitioned_layout_prunes_scan(spark, tmp_path):
    """The IVF scale path: persist vectors partitioned by cell id; the
    probe filter becomes partition pruning at the scan."""
    import numpy as np

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    feats = e.withColumn("__vec", array_to_vector(F.col("embedding")))
    model = KMeans(k=8, seed=42, featuresCol="__vec",
                   predictionCol="cell").fit(feats)
    out = str(tmp_path / "ivf_index")
    model.transform(feats).drop("__vec").write.partitionBy("cell").parquet(out)

    centers = np.asarray([np.asarray(c) for c in model.clusterCenters()])
    qv = np.asarray(
        [float(x) for x in
         e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]])
    probes = [int(i) for i in
              np.argsort(np.linalg.norm(centers - qv, axis=1))[:2]]
    pruned = spark.read.parquet(out).filter(F.col("cell").isin(probes))
    plan = _plan(pruned)
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell" in pf_line
    # pruned scan reads a strict subset
    assert 0 < pruned.count() < e.count()


def test_connected_components_known_graph(spark):
    from rabbithole_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 8)], ["id_a", "id_b"]
    )
    got = {r.doc_id: r.component
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 8: 8, 9: 8}


def test_connected_components_long_chain_converges(spark):
    """Adversarial diameter (VERDICT r9 item 4): a 201-node path graph
    (diameter 200) must converge WITHIN the default 20-iteration cap —
    plain min-propagation needs 200 rounds and used to raise; pointer
    doubling needs ~log2(200) ~ 8. All nodes collapse to component 0."""
    from rabbithole_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["id_a", "id_b"]
    )
    rows = connected_components(pairs).collect()
    assert len(rows) == 201
    assert {r.component for r in rows} == {0}


def test_ivf_recall_overlaps_bruteforce(spark):
    from rabbithole_spark.operators.similarity import cosine_topk, ivf_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    exact = {r.vec_id for r in
             cosine_topk(e, "embedding", qv, k=10, id_cols=["vec_id"]).collect()}
    approx_rows = ivf_topk(e, "embedding", qv, n_centroids=8, nprobe=3,
                           k=10, id_cols=["vec_id"]).collect()
    approx = {r.vec_id for r in approx_rows}
    # the query vector is in the corpus: its own cell is always probed
    assert 0 in approx
    assert approx_rows[0].vec_id == 0 and approx_rows[0].cosine_sim == 1.0
    # neighbors cluster together: expect meaningful overlap with exact
    assert len(exact & approx) >= 3


def test_approx_percentile_within_tolerance(spark):
    """The sketch path must stay within 1% relative error of exact —
    the check a hash-compare can't express."""
    li = table(spark, SF, "lineitem")
    joined = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("ap"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("ex"),
        )
        .collect()
    )
    assert joined
    for r in joined:
        assert abs(r.ap - r.ex) / r.ex < 0.01, r


def test_filter_and_projection_reach_parquet_scan(spark):
    """pricing_summary's shipdate predicate must appear in PushedFilters
    and its ReadSchema must carry only the 7 referenced lineitem columns
    (of 16) — the scan does the filtering/pruning, not the engine."""
    from rabbithole_spark.catalog import load_all

    df = load_all()["pricing_summary"].fn(spark, SF)
    plan = _plan(df)
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "l_shipdate" in pushed and "LessThanOrEqual" in pushed, pushed
    schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    read_cols = [c for c in schema.split("struct<", 1)[1].split(",")]
    assert len(read_cols) == 7, schema
    assert "l_comment" not in schema and "l_orderkey" not in schema, schema


def test_dynamic_partition_pruning_from_join(spark, tmp_path):
    """A join against a filtered dim prunes the partitioned fact at
    runtime (DPP): the fact scan carries a dynamicpruning subquery on
    the partition key, so only matching date directories are read —
    the mechanism that keeps dim-filtered scans O(selected partitions)
    at 100 TB even when the filter values are only known at run time."""
    out = str(tmp_path / "orders_by_prio")
    orders = table(spark, SF, "orders")
    orders.write.partitionBy("o_orderpriority").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3),
         ("4-NOT SPECIFIED", 4), ("5-LOW", 5)],
        ["o_orderpriority", "prio_rank"],
    ).filter(F.col("prio_rank") <= 2)
    joined = fact.join(dim, "o_orderpriority")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    expected = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).count()
    assert joined.count() == expected


def test_runtime_bloom_filter_injected_on_shuffle_join(spark):
    """When neither join side broadcasts (the 100 TB fact-fact case),
    the optimizer injects a runtime Bloom filter: the selective dim
    filter is aggregated into a bloom_filter_agg and applied as
    might_contain on the fact scan side, cutting shuffled fact rows
    to ~the join's selectivity before the exchange."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = table(spark, SF, "lineitem")
        orders = table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:1500]
        assert "might_contain" in plan, plan[:1500]
        n_filtered = j.count()
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
    # same result as the default (broadcast-join) plan
    li = table(spark, SF, "lineitem")
    orders = table(spark, SF, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    assert li.join(orders, li.l_orderkey == orders.o_orderkey).count() == n_filtered


from tests.shuffle_budgets import SHUFFLE_BUDGETS  # noqa: E402


def test_all_registered_queries_hold_shuffle_budgets(spark):
    """Shuffle-count regression guard over the WHOLE registry: every
    plan-expressible (non-streaming) registered query must have a
    pinned budget, and its plan must not exceed it (broadcast and
    reused exchanges excluded — those are the cheap kind we *want*).
    A new query without a measured budget fails here by design."""
    from rabbithole_spark.catalog import load_all

    specs = load_all()
    plan_expressible = {
        n for n in specs if not n.startswith("stream_")
    }
    missing = plan_expressible - set(SHUFFLE_BUDGETS)
    stale = set(SHUFFLE_BUDGETS) - plan_expressible
    assert not missing, f"queries without a shuffle budget: {sorted(missing)}"
    assert not stale, f"budgets for unregistered queries: {sorted(stale)}"
    over = {}
    for name in sorted(plan_expressible):
        budget = SHUFFLE_BUDGETS[name]
        plan = (
            specs[name].fn(spark, SF)._jdf.queryExecution()
            .executedPlan().toString()
        )
        n = sum(
            1
            for line in plan.splitlines()
            if "Exchange " in line
            and "Broadcast" not in line
            and "Reused" not in line
        )
        if n > budget:
            over[name] = (n, budget)
    assert not over, f"shuffle budget exceeded: {over}"


def test_ivf_persisted_query_prunes_and_recalls(spark, tmp_path):
    """The REGISTERED similarity_ann_ivf path: build-once persisted
    layout, partition-pruned probe scan, meaningful overlap with exact
    top-k."""
    from rabbithole_spark.operators.similarity import (
        cosine_topk,
        ivf_topk_persisted,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    idx = str(tmp_path / "ivf_index")
    out = ivf_topk_persisted(
        spark, e, "embedding", qv, idx,
        n_centroids=8, nprobe=3, k=10, id_cols=["vec_id"])
    plan = _plan(out)
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell" in pf_line
    rows = out.collect()
    approx = {r.vec_id for r in rows}
    assert 0 in approx and rows[0].vec_id == 0
    exact = {r.vec_id for r in
             cosine_topk(e, "embedding", qv, k=10, id_cols=["vec_id"]).collect()}
    assert len(exact & approx) >= 3
    # second call reuses the index (meta matches) without rebuilding:
    # mtime of the sidecar is unchanged
    import os
    meta = os.path.join(idx, "_ivf_meta.json")
    mtime = os.path.getmtime(meta)
    ivf_topk_persisted(spark, e, "embedding", qv, idx,
                       n_centroids=8, nprobe=3, k=10,
                       id_cols=["vec_id"]).collect()
    assert os.path.getmtime(meta) == mtime


def test_pricing_summary_pushdown_and_pruning(spark):
    """The flagship scan must push the shipdate filter into parquet and
    prune to the 7 referenced columns — at 100 TB this is the
    difference between reading the filtered 7-column subset and the
    whole table."""
    from rabbithole_spark.queries.core import pricing_summary

    plan = _plan(pricing_summary(spark, SF))
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "LessThanOrEqual(l_shipdate" in pushed
    scan_out = next(
        l for l in plan.splitlines()
        if l.startswith("Output") and "l_shipdate" in l
    )
    assert scan_out.startswith("Output [7]"), scan_out


def test_multiway_revenue_broadcasts_dims(spark):
    """TPC-H Q5 shape: region/nation/supplier dims broadcast; only the
    fact-side joins shuffle on keys."""
    from rabbithole_spark.catalog import load_all

    plan = _plan(load_all()["join_multiway_revenue"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    # the date filter reaches the orders scan
    assert any("o_orderdate" in l for l in pushed), pushed


def test_pack_sequences_shard_key_bounds_window_partitions(spark):
    """Sequence packing must window on (source, shard), never bare
    source: at 100 TB one popular source would otherwise funnel its
    entire token stream through a single window task. Evidence: the
    data carries strictly more (source, shard) window partitions than
    sources, every shard holds at most _PACK_SHARD_DOCS docs, and the
    physical window spec partitions on both keys."""
    from rabbithole_spark.catalog import load_all
    from rabbithole_spark.queries.llm.pack import _PACK_SHARD_DOCS

    df = load_all()["pack_sequences_by_source"].fn(spark, SF)
    shards = (
        df.groupBy("source", "shard")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .collect()
    )
    n_sources = len({r.source for r in shards})
    assert len(shards) > n_sources, (len(shards), n_sources)
    assert all(r.n_docs <= _PACK_SHARD_DOCS for r in shards)
    plan = _plan(df)
    window_args = [
        l for l in plan.splitlines() if "windowspecdefinition" in l
    ]
    assert window_args and all(
        "source" in l and "shard" in l for l in window_args
    ), window_args


def test_ivf_batch_one_pruned_scan_for_all_queries(spark, tmp_path):
    """The batch IVF path reads the persisted layout EXACTLY ONCE for
    all N query vectors — one parquet scan carrying the probe-union as
    PartitionFilters on cell — and joins the query table broadcast, so
    adding queries adds zero scans. Per-query results must equal N
    independent single-query probes (same index, same params)."""
    from rabbithole_spark.operators.similarity import (
        ivf_topk_persisted,
        ivf_topk_persisted_batch,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qids = [0, 3, 9]
    rows = e.filter(F.col("vec_id").isin(qids)).collect()
    qvecs = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows
    )
    idx = str(tmp_path / "ivf_batch_index")
    out = ivf_topk_persisted_batch(
        spark, e, "embedding", qvecs, idx,
        n_centroids=8, nprobe=3, k=5, id_cols=["vec_id"])
    plan = _plan(out)
    # the query table is a broadcast local relation, so the ONLY parquet
    # scan node in the whole plan is the index read — exactly one
    scan_nodes = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scan_nodes) == 1, plan[:2000]
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("cell" in l for l in pf_lines), plan[:2000]
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    got = out.collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append((r.vec_id, r.cosine_sim))
    for qid, qv in qvecs:
        single = [
            (r.vec_id, r.cosine_sim)
            for r in ivf_topk_persisted(
                spark, e, "embedding", qv, idx,
                n_centroids=8, nprobe=3, k=5, id_cols=["vec_id"]
            ).collect()
        ]
        assert by_query[qid] == single, qid


def test_ivf_publish_pins_own_generation_and_protects_readers(
    spark, tmp_path
):
    """Regression pins for the round-5 index-publish hardening:
    (a) ivf_build_index returns the generation dir it wrote (callers
    pin THAT, not a re-resolve of a symlink a concurrent builder may
    have re-swapped); (b) a generation's mtime refreshes on read, so
    the age-based cleanup measures last USE and cannot reap a pinned
    generation that is still being queried; (c) migrating a legacy
    real-directory layout to the symlink scheme keeps prior data
    readable and publishes atomically."""
    import json
    import os
    import time

    from rabbithole_spark.operators.similarity import (
        ivf_build_index,
        ivf_topk_persisted,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf_pin")

    # (a) the returned gen_dir IS the published generation
    meta = ivf_build_index(e, "embedding", idx, n_centroids=4, iters=1)
    assert os.path.islink(idx)
    assert meta["gen_dir"] == os.path.realpath(idx)
    sidecar = json.load(open(os.path.join(meta["gen_dir"], "_ivf_meta.json")))
    assert sidecar["centers"] == meta["centers"]

    # (b) a query refreshes the pinned generation's mtime
    gen = meta["gen_dir"]
    old = time.time() - 7200
    os.utime(gen, (old, old))
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    ivf_topk_persisted(
        spark, e, "embedding", qv, idx,
        n_centroids=4, nprobe=2, k=5, id_cols=["vec_id"], iters=1,
    ).collect()
    assert os.stat(gen).st_mtime > old + 3600

    # (c) legacy real-directory migration: same path keeps serving
    legacy = str(tmp_path / "ivf_legacy")
    m1 = ivf_build_index(e, "embedding", legacy, n_centroids=4, iters=1)
    # simulate the pre-symlink layout: a REAL directory at the path
    real = str(tmp_path / "ivf_legacy_real")
    os.rename(m1["gen_dir"], real)
    os.remove(legacy)
    os.rename(real, legacy)
    assert os.path.isdir(legacy) and not os.path.islink(legacy)
    m2 = ivf_build_index(e, "embedding", legacy, n_centroids=4, iters=1)
    assert os.path.islink(legacy)
    assert m2["gen_dir"] == os.path.realpath(legacy)
    # the moved-aside legacy generation still exists on disk (grace)
    aside = [p for p in os.listdir(tmp_path)
             if p.startswith("ivf_legacy.gen-legacy-")]
    assert aside


def test_mmr_pool_plan_is_shuffle_free(spark):
    """similarity_mmr_rerank collects its candidate pool inside the
    query fn, so the registry-wide budget test only audits the
    driver-side result relation. Pin the DISTRIBUTED half here: the
    exact-cosine top-pool must stay scan + TakeOrderedAndProject with
    zero non-broadcast Exchanges (a global sort or repartition
    sneaking in would regress the 100 TB path unseen)."""
    from rabbithole_spark.queries.llm.similarity import _mmr_pool

    plan = (
        _mmr_pool(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    n = sum(
        1
        for line in plan.splitlines()
        if "Exchange " in line
        and "Broadcast" not in line
        and "Reused" not in line
    )
    assert n == 0, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_random_projection_single_transform_broadcast_matrix(spark):
    """embedding_random_projection ships its 16x64 sign matrix as a
    ONE-row broadcast array (O(1) plan size in the output dimension)
    and computes all 16 projections in ONE transform lambda. Pin the
    three load-bearing plan facts: (a) the matrix side arrives via a
    BroadcastNestedLoopJoin (never a shuffle), (b) the corpus side has
    zero non-broadcast Exchanges, and (c) the transform's proj array is
    materialized in its OWN Project below the 16 column extracts —
    CollapseProject must not inline the non-cheap lambda into 16
    consumers, which would re-evaluate the whole 64-term fold per
    output column (the round-1 MinHash lesson)."""
    from rabbithole_spark.catalog import load_all

    df = load_all()["embedding_random_projection"].fn(spark, SF)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    n = sum(
        1
        for line in plan.splitlines()
        if "Exchange " in line
        and "Broadcast" not in line
        and "Reused" not in line
    )
    assert n == 0, plan
    # exactly one transform(...) lambda in the whole plan, and the
    # extract Project references the materialized alias, not the lambda
    assert plan.count("transform(signs") == 1, plan
    m = re.search(r"Output \[18\]: \[[^\]]*proj#(\d+)\[0\]", plan)
    assert m, plan


def test_minhash_signature_base_hashes_materialize_once(spark):
    """The signature stage's base-hash array must stay a MATERIALIZED
    alias in its own Project (two outer transforms = two consumers, so
    CollapseProject keeps the non-cheap alias). If a refactor drops to
    one consumer, CollapseProject inlines it regardless of cost and
    the shingle hashing re-evaluates once per coefficient — measured
    3.7x slower at sf0.1 (round-9 NOTES). Pin the alias and the
    two-transform shape."""
    from pyspark.sql import functions as F

    from rabbithole_spark.operators.dedup import (
        minhash_signatures,
        word_shingles,
    )
    from rabbithole_spark.session import table

    d = table(spark, SF, "documents").filter(F.col("text").isNotNull())
    sh = d.select("doc_id", word_shingles(F.col("text"), 3).alias("shingles"))
    plan = (
        minhash_signatures(sh, "doc_id", "shingles", 64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "AS __hs#" in plan, plan[:2000]
    # the base-hash expression exists exactly once in the whole plan
    assert plan.count("xxhash64") == 1, plan.count("xxhash64")
    # and the signature is two outer transforms over coefficient arrays
    assert plan.count("array_min(transform(") == 2, plan[:2000]


def test_shuffle_budgets_hold_across_parallelism_sweep(spark):
    """VERDICT r10 item 7: local[32] with one shuffle-partition setting
    can mask plan shapes that differ on a real cluster (AQE coalescing
    hides skew; a budget met at 8 partitions might be exceeded when
    the planner sees 4x the parallelism). Sweep the 5 most
    shuffle-heavy registered queries at 4x and 0.25x the test default
    and assert (a) the pinned exchange budget holds at every setting
    and (b) the RESULT is partitioning-invariant (exact row equality —
    the decimal-cast numeric policy makes aggregation associative-
    exact, so any drift here is a real partitioning bug, not float
    reorder noise)."""
    from rabbithole_spark.catalog import load_all

    from tests.shuffle_budgets import SHUFFLE_BUDGETS

    heavy = [
        "dedup_jaccard_prefix_filter",   # budget 8
        "pipeline_curation_full",        # budget 7
        "dedup_minhash_lsh",             # budget 4
        "contamination_ngram_overlap",   # budget 4
        "dedup_semantic_semdedup",       # budget 4
    ]
    specs = load_all()
    default = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results: dict[str, dict[str, list]] = {n: {} for n in heavy}
        for setting in (default, str(int(default) * 4),
                        str(max(1, int(default) // 4))):
            spark.conf.set("spark.sql.shuffle.partitions", setting)
            for name in heavy:
                df = specs[name].fn(spark, SF)
                plan = (
                    df._jdf.queryExecution().executedPlan().toString()
                )
                n_exchanges = sum(
                    1
                    for line in plan.splitlines()
                    if "Exchange " in line
                    and "Broadcast" not in line
                    and "Reused" not in line
                )
                assert n_exchanges <= SHUFFLE_BUDGETS[name], (
                    name, setting, n_exchanges)
                cols = sorted(df.columns)
                results[name][setting] = sorted(
                    tuple(str(r[c]) for c in cols) for r in df.collect()
                )
        for name, by_setting in results.items():
            vals = list(by_setting.values())
            assert all(v == vals[0] for v in vals), (
                f"{name}: result varies with shuffle partitioning")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)


def test_sharded_parquet_sink_plan_one_shuffle_no_driver(spark, tmp_path):
    """The parquet shard twin's write plan: exactly ONE Exchange (the
    round-robin repartition that fixes the part-file count) and no
    Python/driver node anywhere — the whole path is the JVM's own
    columnar writer, unlike the sqlite twin's mapInArrow hop. At 100 TB
    the repartition is the only cost the knob adds, and it replaces
    the small-file explosion a per-source-partition write would
    produce."""
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(SF + "/events.parquet")
        .select("event_id", "user_id", "value")
        .withColumn("__batch_id", F.lit(0))
        .repartition(6)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = sum(
        1
        for line in plan.splitlines()
        if "Exchange " in line
        and "Broadcast" not in line
        and "Reused" not in line
    )
    assert n == 1, plan
    assert "RoundRobinPartitioning(6" in plan
    for driver_hop in ("ArrowEvalPython", "BatchEvalPython", "MapInArrow",
                       "CollectLimit"):
        assert driver_hop not in plan
    # and the knob end-to-end: a written batch lands exactly `shards`
    # part files when rows >> shards
    from rabbithole_spark.streaming.sinks import sharded_parquet_sink

    out = str(tmp_path / "pq")
    sharded_parquet_sink(out, shards=6)(
        spark.read.parquet(SF + "/events.parquet")
        .select("event_id", "user_id", "value"),
        0,
    )
    import glob

    assert len(glob.glob(out + "/__batch_id=0/part-*.parquet")) == 6


def test_heavy_queries_hold_under_local_cluster(spark, tmp_path):
    """VERDICT r10/r11 item 7, the previously-infeasible half: run the
    5 most shuffle-heavy queries on local-cluster[2,4,2048] — real
    multi-executor topology (separate executor JVMs, network shuffle
    fetch, per-executor memory limits) instead of local[*]'s
    in-process shortcut. Asserts (a) executors actually launched,
    (b) every pinned exchange budget holds on the cluster plan, and
    (c) results are byte-identical to this session's local[*] run
    (the decimal numeric policy makes that exact, not tolerance).

    Round-11 recorded executor launch as impossible under
    pip-installed PySpark; the missing piece was SPARK_HOME — workers
    are spawned via $SPARK_HOME/bin scripts, which the pip package
    SHIPS at the package root. The child runs in a subprocess (one
    JVM per python process; this session's local master cannot be
    swapped), and an environment where executors still cannot launch
    skips rather than fails."""
    import json as _json
    import os
    import subprocess
    import sys

    import pyspark

    from rabbithole_spark.catalog import load_all
    from tests.shuffle_budgets import SHUFFLE_BUDGETS

    heavy = [
        "dedup_jaccard_prefix_filter",
        "pipeline_curation_full",
        "dedup_minhash_lsh",
        "contamination_ngram_overlap",
        "dedup_semantic_semdedup",
    ]
    specs = load_all()
    want = {}
    for name in heavy:
        df = specs[name].fn(spark, SF)
        cols = sorted(df.columns)
        want[name] = sorted(tuple(str(r[c]) for c in cols) for r in df.collect())

    repo_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = tmp_path / "cluster_child.py"
    child.write_text(
        "import json, sys\n"
        f"sys.path.insert(0, {repo_dir!r})\n"
        "from pyspark.sql import SparkSession\n"
        "from rabbithole_spark.catalog import load_all\n"
        "spark = (SparkSession.builder.master('local-cluster[2,4,2048]')\n"
        "         .config('spark.sql.shuffle.partitions', '8')\n"
        "         .config('spark.executor.memory', '2g')\n"
        "         .config('spark.ui.enabled', 'false')\n"
        "         .getOrCreate())\n"
        "sc = spark.sparkContext\n"
        "specs = load_all()\n"
        "out = {'queries': {}}\n"
        f"for name in {heavy!r}:\n"
        f"    df = specs[name].fn(spark, {SF!r})\n"
        "    plan = df._jdf.queryExecution().executedPlan().toString()\n"
        "    n = sum(1 for line in plan.splitlines()\n"
        "            if 'Exchange ' in line and 'Broadcast' not in line\n"
        "            and 'Reused' not in line)\n"
        "    cols = sorted(df.columns)\n"
        "    rows = sorted(tuple(str(r[c]) for c in cols) for r in df.collect())\n"
        "    out['queries'][name] = {'exchanges': n, 'rows': rows}\n"
        "# executor census AFTER the work: registration is async at\n"
        "# startup, so an immediate query sees only the driver\n"
        "out['executors'] = len(\n"
        "    sc._jsc.sc().statusTracker().getExecutorInfos())\n"
        "spark.stop()\n"
        "print('CLUSTER_RESULT ' + json.dumps(out))\n"
    )
    env = dict(os.environ)
    env["SPARK_HOME"] = os.path.dirname(pyspark.__file__)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    try:
        proc = subprocess.run(
            [sys.executable, str(child)], capture_output=True, text=True,
            timeout=600, env=env,
        )
    except subprocess.TimeoutExpired:
        pytest.skip("local-cluster executors did not come up in time")
    marker = [
        line for line in proc.stdout.splitlines()
        if line.startswith("CLUSTER_RESULT ")
    ]
    if proc.returncode != 0 or not marker:
        pytest.skip(
            "local-cluster unavailable here: "
            + (proc.stderr or proc.stdout)[-300:]
        )
    got = _json.loads(marker[0][len("CLUSTER_RESULT "):])
    assert got["executors"] >= 3, got["executors"]  # driver + 2 executors
    for name in heavy:
        q = got["queries"][name]
        assert q["exchanges"] <= SHUFFLE_BUDGETS[name], (
            name, q["exchanges"], SHUFFLE_BUDGETS[name])
        assert [tuple(r) for r in q["rows"]] == want[name], (
            f"{name}: local-cluster result differs from local[*]")


def test_sharded_parquet_sink_under_local_cluster(tmp_path):
    """round-12: the sharded parquet sink's scale claim — N
    executor-parallel columnar writers, no rows near the driver — run
    on the REAL multi-executor topology (local-cluster[2,2,1024]:
    separate executor JVMs writing their partitions over the file
    commit protocol), not local[*]'s in-process shortcut. A streaming
    YAML flow (spool -> decode -> mapper -> parquet shards) must land
    every row, and the batch directory must hold multiple part files
    (actually sharded across executor tasks). Skips, never fails,
    where executors cannot launch."""
    import json as _json
    import os
    import subprocess
    import sys

    import pyspark

    repo_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = tmp_path / "cluster_pq_child.py"
    child.write_text(
        "import glob, json, sys\n"
        f"sys.path.insert(0, {repo_dir!r})\n"
        "from pyspark.sql import SparkSession\n"
        "from rabbithole_spark.plans.spec import PipelineSpec, compile_pipeline\n"
        "from rabbithole_spark.streaming.sinks import read_parquet_shards\n"
        "from rabbithole_spark.streaming.sources import write_spool_messages\n"
        f"base = {str(tmp_path)!r}\n"
        "spool, out = base + '/spool', base + '/pq_out'\n"
        "msgs = [\n"
        "    {'exchange': 'logs', 'content_type': 'application/json',\n"
        "     'body': json.dumps({'timestamp': f'2024-01-01T00:00:{i:02d}',\n"
        "                         'message': {'text': f'msg-{i}'}})}\n"
        "    for i in range(40)\n"
        "]\n"
        "write_spool_messages(spool, msgs, 'batch0.jsonl')\n"
        "spark = (SparkSession.builder.master('local-cluster[2,2,1024]')\n"
        "         .config('spark.sql.shuffle.partitions', '4')\n"
        "         .config('spark.executor.memory', '1g')\n"
        "         .config('spark.ui.enabled', 'false')\n"
        "         .getOrCreate())\n"
        "spec = PipelineSpec.from_dict({\n"
        "    'size_limit': 500, 'time_limit': 5,\n"
        "    'blocks': [\n"
        "        {'name': 'in', 'type': 'spool', 'kwargs': {'path': spool}},\n"
        "        {'name': 'out', 'type': 'parquet', 'kwargs': {'path': out}},\n"
        "    ],\n"
        "    'flows': [[\n"
        "        {'name': 'in', 'kwargs': {'exchange': 'logs'}},\n"
        "        {'name': 'out', 'kwargs': {\n"
        "            'shards': 4,\n"
        "            'parameters': {'timestamp': 'timestamp',\n"
        "                           'message': 'message.text'}}},\n"
        "    ]],\n"
        "})\n"
        "runners = compile_pipeline(spark, spec, base + '/ckpt')\n"
        "for q in runners[0].start(available_now=True):\n"
        "    q.awaitTermination(300)\n"
        "rows = read_parquet_shards(spark, out).count()\n"
        "parts = glob.glob(out + '/__batch_id=*/part-*.parquet')\n"
        "execs = len(spark.sparkContext._jsc.sc().statusTracker()\n"
        "            .getExecutorInfos())\n"
        "spark.stop()\n"
        "print('CLUSTER_PQ ' + json.dumps(\n"
        "    {'rows': rows, 'parts': len(parts), 'executors': execs}))\n"
    )
    env = dict(os.environ)
    env["SPARK_HOME"] = os.path.dirname(pyspark.__file__)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    try:
        proc = subprocess.run(
            [sys.executable, str(child)], capture_output=True, text=True,
            timeout=600, env=env,
        )
    except subprocess.TimeoutExpired:
        pytest.skip("local-cluster executors did not come up in time")
    marker = [
        line for line in proc.stdout.splitlines()
        if line.startswith("CLUSTER_PQ ")
    ]
    if proc.returncode != 0 or not marker:
        pytest.skip(
            "local-cluster unavailable here: "
            + (proc.stderr or proc.stdout)[-300:]
        )
    got = _json.loads(marker[0][len("CLUSTER_PQ "):])
    assert got["executors"] >= 3, got  # driver + 2 executor JVMs
    assert got["rows"] == 40, got
    assert 1 < got["parts"] <= 4, got  # actually sharded across tasks


def test_guarded_broadcasts_fall_back_over_cap(spark, monkeypatch):
    """The size-guarded operator broadcasts (round 13, sizing.py):
    with the cap forced to 1 byte the qgram join and the Jaccard
    verify must plan WITHOUT the explicit broadcast build (shuffle
    join fallback / candidate-pruned verify source) and still return
    the identical rows — a fact-scale caller degrades to a working
    plan instead of OOMing the driver building the hash relation."""
    from rabbithole_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
        qgram_prefix_edit_pairs,
    )

    p = table(spark, SF, "part")
    d = table(spark, SF, "documents")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    try:
        ed_small = rows(
            qgram_prefix_edit_pairs(p, "p_partkey", "p_name", 3, 2)
        )
        jac_small = rows(
            prefix_filtered_jaccard_pairs(d, "doc_id", "text", 3, 1, 5)
        )
        spark.conf.set("rabbithole.broadcast.cap", "1")
        ed_q = qgram_prefix_edit_pairs(p, "p_partkey", "p_name", 3, 2)
        jac_q = prefix_filtered_jaccard_pairs(d, "doc_id", "text", 3, 1, 5)
        # over-cap: the explicit broadcast hint is gone (the planner
        # may still auto-broadcast bona-fide small sides — the guard
        # removes the unconditional HINT, not the strategy). The
        # (token, pmod(xxhash64)) probe spread only rides the
        # broadcast path, so its absence pins the fallback was taken.
        ed_plan = _plan(ed_q)
        assert "pmod" not in ed_plan
        assert rows(ed_q) == ed_small
        assert rows(jac_q) == jac_small
        # over the cap with auto-broadcast off, no Jaccard relation is
        # broadcast, the candidate ids of the pruned verify source
        # included: read the plans of the checkpointed frames too, as
        # the verify source sits behind a localCheckpoint
        checkpointed = []
        real_checkpoint = type(d).localCheckpoint

        def spy(df, *args, **kwargs):
            checkpointed.append(_plan(df))
            return real_checkpoint(df, *args, **kwargs)

        monkeypatch.setattr(type(d), "localCheckpoint", spy)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        jac_q = prefix_filtered_jaccard_pairs(d, "doc_id", "text", 3, 1, 5)
        plans = checkpointed + [_plan(jac_q)]
        assert checkpointed
        assert not [p for p in plans if "BroadcastExchange" in p]
        assert rows(jac_q) == jac_small
    finally:
        spark.conf.unset("rabbithole.broadcast.cap")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
