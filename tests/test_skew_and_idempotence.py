"""Contracts for skew salting and the exactly-once batch-id sink."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from rabbithole_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark):
    # 90% of fact rows share one hot key
    large = spark.range(0, 5000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id") % 50)
        .alias("k"),
        F.col("id").alias("row_id"),
    )
    small = spark.createDataFrame(
        [(k, f"dim-{k}") for k in range(50)], ["k", "label"]
    )
    plain = large.join(small, "k").select("row_id", "label")
    salted = salted_join(large, small, on="k", salt_from="row_id",
                         salt_factor=8).select("row_id", "label")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salt_spreads_hot_key(spark):
    large = spark.range(0, 1000).select(
        F.lit(1).alias("k"), F.col("id").alias("row_id")
    )
    salts = (
        large.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col("row_id")), F.lit(8)).cast("int")
        )
        .groupBy("__salt")
        .count()
        .collect()
    )
    # the single hot key lands in every salt bucket, none holding >1/4
    assert len(salts) == 8
    assert max(r["count"] for r in salts) < 250


def test_salted_left_join_keeps_unmatched(spark):
    large = spark.createDataFrame(
        [(1, 10), (1, 11), (99, 12)], ["k", "row_id"]
    )
    small = spark.createDataFrame([(1, "one")], ["k", "label"])
    out = salted_join(large, small, on="k", salt_from="row_id",
                      salt_factor=4, how="left").collect()
    by_row = {r.row_id: r.label for r in out}
    assert by_row == {10: "one", 11: "one", 12: None}


def test_sharded_parquet_sink_replay_supersedes_partial_attempt(spark, tmp_path):
    """A replayed micro-batch overwrites only its own partition: the
    corrected replay supersedes the earlier partial attempt, other
    batches' partitions are untouched."""
    from rabbithole_spark.streaming.sinks import sharded_parquet_sink

    path = str(tmp_path / "po_sink")
    sink = sharded_parquet_sink(path, shards=2)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    sink(b0, 0)
    # first (partial) attempt of batch 1, then its full replay
    sink(spark.createDataFrame([(3, "c")], "id long, v string"), 1)
    sink(spark.createDataFrame([(3, "c2"), (4, "d")], "id long, v string"), 1)
    rows = {
        (r.id, r.v, r["__batch_id"])
        for r in spark.read.parquet(path).collect()
    }
    assert rows == {(1, "a", 0), (2, "b", 0), (3, "c2", 1), (4, "d", 1)}
    # partition pruning: reading one batch touches only its directory
    one = spark.read.parquet(path).filter("__batch_id = 1")
    plan = re.sub(
        r"#\d+", "", one._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(__batch_id), (__batch_id = 1)]" in plan
    assert {r.id for r in one.collect()} == {3, 4}


def test_salted_join_shuffles_on_salted_key(spark):
    """Under a real shuffle join (broadcast off), the Exchange hash-
    partitions on (k, __salt) — the whole point of salting. A
    broadcast-eligible dim would hide this at test scale, so pin it
    with the threshold disabled."""
    large = spark.range(0, 1000).select(
        F.lit(1).alias("k"), F.col("id").alias("row_id")
    )
    small = spark.createDataFrame(
        [(k, f"dim-{k}") for k in range(50)], ["k", "label"]
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = salted_join(large, small, on="k", salt_from="row_id",
                          salt_factor=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    exchanges = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert exchanges, plan
    assert all("__salt" in line for line in exchanges), plan


def test_idempotent_jdbc_sink_distributed_exactly_once(spark, tmp_path):
    """The DISTRIBUTED exactly-once sink (VERDICT r8 item 3) against a
    real JDBC engine (Spark's bundled embedded Derby): replayed batch
    ids don't double-write, a crashed earlier attempt's partial target
    rows are superseded, a stale partial STAGE from a dead attempt is
    overwritten rather than published, and later batches append without
    touching earlier ones. Also pins that no driver-side collect()
    exists anywhere in the sink's source, so no row crosses the
    driver."""
    import inspect

    from rabbithole_spark.streaming import sinks as sinks_mod
    from rabbithole_spark.streaming.sinks import idempotent_jdbc_table_sink

    src = inspect.getsource(sinks_mod.idempotent_jdbc_table_sink)
    assert ".collect(" not in src

    url = f"jdbc:derby:{tmp_path}/exactly_once_db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    jvm = spark._jvm
    jvm.java.lang.Class.forName(driver)
    con = jvm.java.sql.DriverManager.getConnection(url)
    con.createStatement().executeUpdate(
        'CREATE TABLE sink_t (event_id BIGINT, value DOUBLE, "__batch_id" BIGINT)'
    )
    con.close()

    def rows():
        c = jvm.java.sql.DriverManager.getConnection(url)
        try:
            rs = c.createStatement().executeQuery(
                'SELECT event_id, "__batch_id" FROM sink_t'
            )
            out = []
            while rs.next():
                out.append((rs.getLong(1), rs.getLong(2)))
            return sorted(out)
        finally:
            c.close()

    sink = idempotent_jdbc_table_sink(
        url, "sink_t", ["event_id", "value"], driver=driver
    )
    batch = spark.createDataFrame(
        [(1, 1.5), (2, 2.5), (3, 3.5)], ["event_id", "value"]
    )
    sink(batch, 7)
    sink(batch, 7)  # replay of the SAME batch id (post-crash redelivery)
    assert rows() == [(1, 7), (2, 7), (3, 7)]

    # crashed-earlier-attempt simulation: partial rows already landed in
    # the TARGET under batch 8 (crash between commit and checkpoint
    # write never happens — commit is atomic — but a partial DELETE+
    # INSERT can't survive either; the realistic partial state is a
    # prior COMMITTED attempt of batch 8 with different content after a
    # source-side reconfiguration, which the delete must supersede)
    c = jvm.java.sql.DriverManager.getConnection(url)
    c.createStatement().executeUpdate(
        "INSERT INTO sink_t VALUES (99, 9.9, 8), (98, 9.8, 8)"
    )
    c.close()
    # ... and a stale partial STAGE from a dead attempt must be
    # overwritten by the replay, not published
    stale = spark.createDataFrame([(97, 9.7)], ["event_id", "value"])
    (stale
        .write.format("jdbc").option("url", url).option("driver", driver)
        .option("dbtable", "sink_t__stage").mode("overwrite").save())

    later = spark.createDataFrame([(4, 4.5), (5, 5.5)], ["event_id", "value"])
    sink(later, 8)
    assert rows() == [(1, 7), (2, 7), (3, 7), (4, 8), (5, 8)]

    sink(spark.createDataFrame([(6, 6.5)], ["event_id", "value"]), 9)
    assert rows() == [(1, 7), (2, 7), (3, 7), (4, 8), (5, 8), (6, 9)]


def test_idempotent_jdbc_sink_rejects_bad_identifiers(spark):
    import pytest

    from rabbithole_spark.streaming.sinks import idempotent_jdbc_table_sink

    with pytest.raises(ValueError, match="identifier"):
        idempotent_jdbc_table_sink("jdbc:derby:x", "t; DROP", ["a"])
    with pytest.raises(ValueError, match="identifier"):
        idempotent_jdbc_table_sink("jdbc:derby:x", "t", ["a", "b--"])
