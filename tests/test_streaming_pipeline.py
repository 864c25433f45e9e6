"""End-to-end pipeline: spool source -> decode -> dead-letter split ->
mapper -> sqlite sink, compiled from YAML (reference flow parity:
SURVEY.md §3.1-3.2; error policy §2C.4)."""

from __future__ import annotations

import json
import sqlite3

import pytest

from rabbithole_spark.plans.spec import PipelineError, PipelineSpec, compile_pipeline
from rabbithole_spark.streaming.batcher import BatchPolicy
from rabbithole_spark.streaming.sources import write_spool_messages


@pytest.fixture
def spool(tmp_path):
    spool_dir = tmp_path / "spool"
    good = [
        {"exchange": "logs", "content_type": "application/json",
         "body": json.dumps({"timestamp": f"2024-01-01T00:00:{i:02d}",
                              "message": {"text": f"msg-{i}"}})}
        for i in range(7)
    ]
    bad = [{"exchange": "logs", "content_type": "text/plain", "body": "not json {"}]
    other_exchange = [
        {"exchange": "metrics", "content_type": "application/json",
         "body": json.dumps({"timestamp": "2024-01-01T01:00:00",
                              "message": {"text": "other"}})}
    ]
    write_spool_messages(str(spool_dir), good + bad + other_exchange, "batch0.jsonl")
    return str(spool_dir)


def _config(spool_dir, db_path):
    return {
        "size_limit": 5,
        "time_limit": 1,
        "blocks": [
            {"name": "input", "type": "spool", "kwargs": {"path": spool_dir}},
            {"name": "output", "type": "sql", "kwargs": {"url": f"sqlite:///{db_path}"}},
        ],
        "flows": [
            [
                {"name": "input", "kwargs": {"exchange": "logs"}},
                {
                    "name": "output",
                    "kwargs": {
                        "query": "INSERT INTO logs (timestamp, message) "
                        "VALUES (:timestamp, :message)",
                        "parameters": {
                            "timestamp": "timestamp",
                            "message": "message.text",
                        },
                    },
                },
            ]
        ],
    }


def test_pipeline_end_to_end(spark, spool, tmp_path):
    db_path = str(tmp_path / "out.sqlite")
    con = sqlite3.connect(db_path)
    con.execute("CREATE TABLE logs (timestamp TEXT, message TEXT)")
    con.commit()
    con.close()

    spec = PipelineSpec.from_dict(_config(spool, db_path))
    runners = compile_pipeline(
        spark, spec, str(tmp_path / "ckpt"), dead_letter_dir=str(tmp_path / "dlq")
    )
    assert len(runners) == 1
    for q in runners[0].start(available_now=True):
        q.awaitTermination(120)

    con = sqlite3.connect(db_path)
    rows = sorted(con.execute("SELECT timestamp, message FROM logs").fetchall())
    con.close()
    # 7 good logs messages; the bad one dead-lettered; metrics filtered out.
    assert len(rows) == 7
    assert rows[0] == ("2024-01-01T00:00:00", "msg-0")
    assert all(m.startswith("msg-") for _, m in rows)

    dead = spark.read.parquet(str(tmp_path / "dlq" / runners[0].name)).collect()
    assert len(dead) == 1
    assert dead[0]["dead_reason"] == "undecodable body"
    assert dead[0]["body"] == "not json {"


def test_sql_error_swallowed(spark, spool, tmp_path, caplog):
    # No table created -> every batch fails; stream must still complete.
    db_path = str(tmp_path / "missing.sqlite")
    spec = PipelineSpec.from_dict(_config(spool, db_path))
    runners = compile_pipeline(spark, spec, str(tmp_path / "ckpt2"))
    with caplog.at_level("ERROR", logger="rabbithole_spark.streaming.sinks"):
        for q in runners[0].start(available_now=True):
            q.awaitTermination(120)
    assert any("Query execution error" in r.message for r in caplog.records)


def test_config_errors():
    with pytest.raises(PipelineError):
        PipelineSpec.from_dict({"blocks": [{"name": "x", "type": "bogus"}]})
    with pytest.raises(PipelineError):
        PipelineSpec.from_dict(
            {"blocks": [{"name": "x", "type": "spool"}], "flows": [["x", "nope"]]}
        )
    with pytest.raises(PipelineError):
        PipelineSpec.from_yaml("just a string")


def test_batch_policy_chunks():
    policy = BatchPolicy(size_limit=5, time_limit=15)
    # Reference batcher contract: size-flush emits exactly size_limit
    # rows per write (tests/test_batcher.py:39-52), partials allowed.
    assert policy.chunks(list(range(12))) == [
        [0, 1, 2, 3, 4],
        [5, 6, 7, 8, 9],
        [10, 11],
    ]
    assert policy.chunks([]) == []


def test_block_level_admission_cap(spark, tmp_path):
    """A block-level max_files_per_trigger overrides the global
    size_limit: 3 spool files at cap 1 drain as >=3 micro-batches
    (observed via FlowMetricsListener)."""
    from rabbithole_spark.streaming.metrics import attach_metrics
    from rabbithole_spark.streaming.sources import write_spool_messages

    spool_dir = str(tmp_path / "spool_cap")
    for i in range(3):
        write_spool_messages(
            spool_dir,
            [{"exchange": "logs", "content_type": "application/json",
              "body": json.dumps({"timestamp": f"2024-01-01T00:00:{i:02d}",
                                  "message": {"text": f"m{i}"}})}],
            f"batch{i}.jsonl",
        )
    cfg = {
        "size_limit": 500,  # global: would drain in one batch
        "time_limit": 1,
        "blocks": [
            {"name": "input", "type": "spool",
             "kwargs": {"path": spool_dir, "max_files_per_trigger": 1}},
            {"name": "output", "type": "memory"},
        ],
        "flows": [[
            {"name": "input", "kwargs": {"exchange": "logs"}},
            {"name": "output",
             "kwargs": {"parameters": {"timestamp": "timestamp",
                                       "message": "message.text"}}},
        ]],
    }
    spec = PipelineSpec.from_dict(cfg)
    runners = compile_pipeline(
        spark, spec, checkpoint_dir=str(tmp_path / "ckpt")
    )
    listener = attach_metrics(spark)
    try:
        queries = runners[0].start(available_now=True)
        for q in queries:
            q.awaitTermination(120)
        import time as _time

        deadline = _time.time() + 30
        m = None
        while _time.time() < deadline:
            m = listener.flows.get(runners[0].name)
            if m and m.total_rows >= 3:
                break
            _time.sleep(0.5)
        assert m is not None and m.total_rows == 3
        # cap of one file per trigger -> one micro-batch per file
        assert len([n for n in m.per_batch_rows if n > 0]) >= 3
    finally:
        spark.streams.removeListener(listener)


def test_spool_relay_flow(spark, spool, tmp_path):
    """spool -> map -> spool relay: the output block re-envelopes the
    mapped projection under the output exchange, through the
    exactly-once spool DataSource sink; a downstream pipeline can
    consume the relayed spool directly."""
    out_spool = str(tmp_path / "relay_spool")
    config = {
        "size_limit": 5,
        "time_limit": 1,
        "blocks": [
            {"name": "input", "type": "spool", "kwargs": {"path": spool}},
            {"name": "relay", "type": "spool",
             "kwargs": {"path": out_spool}},
        ],
        "flows": [
            [
                {"name": "input", "kwargs": {"exchange": "logs"}},
                {"name": "relay", "kwargs": {
                    "exchange": "logs-clean",
                    "parameters": {"timestamp": "timestamp",
                                   "message": "message.text"},
                }},
            ]
        ],
    }
    spec = PipelineSpec.from_dict(config)
    runners = compile_pipeline(spark, spec, str(tmp_path / "ckpt"))
    for q in runners[0].start(available_now=True):
        q.awaitTermination(120)

    from rabbithole_spark.streaming.sources import read_spool_batch

    relayed = read_spool_batch(spark, out_spool).collect()
    assert len(relayed) == 7  # good logs rows only; bad row dropped
    assert all(r.exchange == "logs-clean" for r in relayed)
    bodies = sorted(json.loads(r.body)["message"] for r in relayed)
    assert bodies == [f"msg-{i}" for i in range(7)]


def test_checkpoint_restart_processes_only_new_data(spark, tmp_path):
    """Exactly-once across RESTARTS: a stopped streaming query resumed
    with the same checkpoint must pick up only files that arrived
    while it was down — batch-1 input is neither reprocessed nor
    duplicated in the file sink (source progress lives in the
    checkpoint's offset log; sink commits in _spark_metadata)."""
    import json as _json

    from pyspark.sql import functions as F

    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def write_batch(name, lo, hi):
        with open(src / name, "w") as fh:
            for i in range(lo, hi):
                fh.write(_json.dumps({"id": i}) + "\n")

    def run_once():
        stream = (
            spark.readStream.schema("id bigint").format("json")
            .load(str(src))
            .withColumn("doubled", F.col("id") * 2)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch("a.json", 0, 50)
    run_once()
    first = spark.read.parquet(out).collect()
    assert sorted(r.id for r in first) == list(range(50))

    write_batch("b.json", 50, 80)
    run_once()
    rows = spark.read.parquet(out).collect()
    ids = sorted(r.id for r in rows)
    assert ids == list(range(80)), f"dup or loss: {len(ids)} rows"
    assert all(r.doubled == r.id * 2 for r in rows)


def test_schema_evolution_merge_read(spark, tmp_path):
    """Schema evolution across ingestion generations: a v2 writer adds
    a column; mergeSchema reads both generations as one relation with
    NULLs for the column v1 rows never had — the contract that lets a
    100 TB corpus evolve in place instead of rewriting history."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "docs")
    spark.range(5).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    ).write.parquet(base + "/gen=1")
    spark.range(5, 8).select(
        F.col("id").alias("doc_id"),
        F.lit("de").alias("lang"),
        F.lit(0.9).alias("quality"),
    ).write.parquet(base + "/gen=2")

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"doc_id", "lang", "quality", "gen"}
    rows = {r.doc_id: (r.lang, r.quality) for r in merged.collect()}
    assert len(rows) == 8
    assert rows[0] == ("en", None)       # v1 rows: evolved column is NULL
    assert rows[7] == ("de", 0.9)


def test_xml_source_and_from_xml_decode(spark, tmp_path):
    """Format breadth beyond the reference's JSON-only ingest: Spark 4's
    built-in XML source reads row-tagged documents, and from_xml
    decodes an XML message body column in-plan — the XML sibling of
    the pipeline's from_json decode step."""
    from pyspark.sql import functions as F

    d = tmp_path / "xml"
    d.mkdir()
    (d / "r.xml").write_text(
        "<rows><row><id>1</id><name>a</name></row>"
        "<row><id>2</id><name>b</name></row></rows>"
    )
    df = spark.read.format("xml").option("rowTag", "row").load(str(d))
    assert sorted((r.id, r.name) for r in df.collect()) == [(1, "a"), (2, "b")]

    msgs = spark.createDataFrame(
        [("<m><seq>7</seq><text>hi</text></m>",)], ["body"]
    )
    decoded = msgs.select(
        F.from_xml("body", "seq INT, text STRING").alias("m")
    ).select("m.seq", "m.text")
    assert decoded.collect()[0].asDict() == {"seq": 7, "text": "hi"}


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC is the other columnar format Spark ships natively; a corpus
    written as ORC must read back identically and still push filters
    into the scan (PushedFilters), so parquet-first pipelines can
    interoperate with ORC-standardized lakes without a conversion
    step."""
    import io
    import contextlib

    from pyspark.sql import functions as F

    from rabbithole_spark.session import table

    src = table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "docs_orc")
    src.write.format("orc").save(path)
    back = spark.read.format("orc").load(path)
    assert back.count() == src.count()
    assert sorted(back.columns) == sorted(src.columns)
    q = back.filter(F.col("n_chars") > 500).select("doc_id", "lang")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("n_chars" in l for l in pushed), pushed
    want = src.filter(F.col("n_chars") > 500).count()
    assert q.count() == want


def test_observation_metrics_in_one_pass(spark):
    """DataFrame.observe attaches named metrics that materialize during
    the SAME action as the query — the production data-quality hook
    (row counts, null counts, value bounds) without a second scan of
    a 100 TB input."""
    from pyspark.sql import Observation, functions as F

    from rabbithole_spark.session import table

    obs = Observation("quality")
    d = table(spark, "/root/testdata/sf0.001", "documents").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("n_chars").isNull().cast("int")).alias("null_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    out = d.filter(F.col("n_chars") > 0).groupBy("lang").count().collect()
    assert out
    got = obs.get
    assert got["n_rows"] == 500 and got["null_chars"] == 0
    assert got["max_chars"] > 0


def test_sql_sink_rejects_in_memory_sqlite():
    """Per-batch connections would see a fresh empty :memory: database
    every micro-batch and silently drop all rows under the
    error-swallow policy — reject it loudly instead."""
    import pytest as _pytest

    from rabbithole_spark.streaming.sinks import sql_sink

    with _pytest.raises(ValueError, match="memory"):
        sql_sink("sqlite:///:memory:", "INSERT INTO t VALUES (:a)")


def test_write_spool_messages_publishes_atomically(tmp_path):
    """The spool helper must leave no temp debris and publish the full
    file under its final name only (the directory is watched by a
    streaming file source, so partial files would be ingested and
    marked done)."""
    import os

    from rabbithole_spark.streaming.sources import write_spool_messages

    p = str(tmp_path / "spool")
    target = write_spool_messages(
        p, [{"k": 1}, {"k": 2}], "batch1.jsonl"
    )
    assert os.path.basename(target) == "batch1.jsonl"
    assert sorted(os.listdir(p)) == ["batch1.jsonl"]  # no .tmp leftovers
    assert len(open(target).readlines()) == 2


def test_spool_writer_sweeps_orphaned_staging(tmp_path):
    """Commit messages only cover succeeded tasks — a staged file from
    a dead or losing speculative attempt must be swept when the batch
    resolves, not accumulate forever."""
    import os

    from rabbithole_spark.streaming.sources import (
        SpoolCommitMessage,
        SpoolStreamWriter,
    )

    path = str(tmp_path / "out")
    writer = SpoolStreamWriter({"path": path})
    os.makedirs(writer.stage, exist_ok=True)
    committed = os.path.join(writer.stage, "part-00000-aaaa.jsonl")
    orphan = os.path.join(writer.stage, "part-00001-dead.jsonl")
    open(committed, "w").write('{"a": 1}\n')
    open(orphan, "w").write('{"a": 2}\n')
    writer.commit([SpoolCommitMessage(staged=committed, rows=1)], 3)
    assert os.path.exists(os.path.join(path, "batch-0000000003-00000.jsonl"))
    assert not os.path.exists(orphan)  # swept
    assert os.listdir(writer.stage) == []


def test_jdbc_idempotent_flow_end_to_end_replay_safe(spark, spool, tmp_path):
    """The config-surface route to the DISTRIBUTED exactly-once sink:
    spool -> decode -> mapper -> jdbc (idempotent) on embedded Derby,
    then a full checkpoint wipe + re-run — the harshest replay (every
    batch id redelivered from scratch) must leave the target exactly
    once. The plain sqlite 'sql' sink would double every row here."""
    url = f"jdbc:derby:{tmp_path}/flowdb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    jvm = spark._jvm
    jvm.java.lang.Class.forName(driver)
    con = jvm.java.sql.DriverManager.getConnection(url)
    con.createStatement().executeUpdate(
        'CREATE TABLE logs_jdbc (ts VARCHAR(64), msg VARCHAR(256), '
        '"__batch_id" BIGINT)'
    )
    con.close()

    spec = PipelineSpec.from_dict(
        {
            "size_limit": 100,
            "time_limit": 5,
            "blocks": [
                {"name": "input", "type": "spool", "kwargs": {"path": spool}},
                {"name": "output", "type": "jdbc",
                 "kwargs": {"url": url, "driver": driver}},
            ],
            "flows": [
                [
                    {"name": "input", "kwargs": {"exchange": "logs"}},
                    {"name": "output", "kwargs": {
                        "table": "logs_jdbc",
                        "idempotent": True,
                        "parameters": {
                            "ts": "timestamp",
                            "msg": "message.text",
                        },
                    }},
                ]
            ],
        }
    )

    def run(ckpt):
        runners = compile_pipeline(spark, spec, ckpt)
        for q in runners[0].start(available_now=True):
            q.awaitTermination(120)

    def rows():
        c = jvm.java.sql.DriverManager.getConnection(url)
        try:
            rs = c.createStatement().executeQuery(
                "SELECT ts, msg FROM logs_jdbc"
            )
            out = []
            while rs.next():
                out.append((rs.getString(1), rs.getString(2)))
            return sorted(out)
        finally:
            c.close()

    import shutil

    ckpt = str(tmp_path / "ckpt_jdbc")
    run(ckpt)
    first = rows()
    assert len(first) == 7 and first[0] == ("2024-01-01T00:00:00", "msg-0")
    shutil.rmtree(ckpt)  # total checkpoint loss -> full replay, same ids
    run(ckpt)
    assert rows() == first


def test_jdbc_plain_flow_appends_and_missing_table_is_config_error(
    spark, spool, tmp_path
):
    """The non-idempotent 'jdbc' block path: parallel appends land the
    mapped rows; a flow that omits the table kwarg fails compilation
    with the PipelineError clean-exit-1 contract, not a KeyError."""
    url = f"jdbc:derby:{tmp_path}/plainflowdb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    jvm = spark._jvm
    jvm.java.lang.Class.forName(driver)
    con = jvm.java.sql.DriverManager.getConnection(url)
    con.createStatement().executeUpdate(
        "CREATE TABLE logs_plain (ts VARCHAR(64), msg VARCHAR(256))"
    )
    con.close()

    def config(flow_out_kwargs):
        return {
            "size_limit": 100,
            "time_limit": 5,
            "blocks": [
                {"name": "input", "type": "spool", "kwargs": {"path": spool}},
                {"name": "output", "type": "jdbc",
                 "kwargs": {"url": url, "driver": driver}},
            ],
            "flows": [
                [
                    {"name": "input", "kwargs": {"exchange": "logs"}},
                    {"name": "output", "kwargs": flow_out_kwargs},
                ]
            ],
        }

    spec = PipelineSpec.from_dict(config({
        "table": "logs_plain",
        "parameters": {"ts": "timestamp", "msg": "message.text"},
    }))
    runners = compile_pipeline(spark, spec, str(tmp_path / "ckpt_plain"))
    for q in runners[0].start(available_now=True):
        q.awaitTermination(120)
    con = jvm.java.sql.DriverManager.getConnection(url)
    rs = con.createStatement().executeQuery(
        "SELECT count(*), min(msg) FROM logs_plain"
    )
    rs.next()
    n, first = rs.getLong(1), rs.getString(2)
    con.close()
    assert n == 7 and first == "msg-0"

    # missing table -> clean config error at compile time
    bad = PipelineSpec.from_dict(config({
        "parameters": {"ts": "timestamp", "msg": "message.text"},
    }))
    with pytest.raises(PipelineError):
        compile_pipeline(spark, bad, str(tmp_path / "ckpt_bad"))


def test_batch_params_timestamp_parity_with_collect(spark):
    """Arrow-path value parity for timestamps (ADVICE r10): Arrow hands
    back tz-AWARE UTC datetimes where collect() returns naive
    driver-local ones — _batch_params normalizes them, and this pins
    that the normalized values (incl. NULL timestamps) are
    byte-identical to the collect() binding in BOTH modes."""
    from pyspark.sql import functions as F

    from rabbithole_spark.streaming.sinks import _batch_params

    df = spark.createDataFrame(
        [
            (1, "2024-03-01 10:30:00.123", 1.5, "a"),
            (2, None, None, None),
            (3, "1999-12-31 23:59:59", -2.0, "z"),
        ],
        "id long, ts_raw string, v double, s string",
    ).withColumn("ts", F.to_timestamp("ts_raw")).drop("ts_raw")

    want_pos = [tuple(r) for r in df.collect()]
    want_named = [r.asDict() for r in df.collect()]
    assert _batch_params(df, positional=True) == want_pos
    assert _batch_params(df, positional=False) == want_named
    # sanity: a real (non-NULL) timestamp actually flowed through the
    # tz-normalization branch as a naive datetime
    ts_vals = [row[3] for row in want_pos if row[0] == 1]
    assert ts_vals[0] is not None and ts_vals[0].tzinfo is None


def test_batch_params_zero_column_and_fallback_warning(spark, caplog):
    """Two edges pinned by ADVICE r10: rows-with-no-columns must bind
    one empty parameter set per row on BOTH paths (collect() parity),
    and an Arrow-transfer failure must WARN (with the exception type)
    when the collect() fallback engages, not degrade silently."""
    import logging

    from rabbithole_spark.streaming.sinks import _batch_params

    df = spark.range(3)
    zero_cols = df.drop("id")
    assert _batch_params(zero_cols, positional=True) == [(), (), ()]
    assert _batch_params(zero_cols, positional=False) == [{}, {}, {}]

    broken = spark.range(2).selectExpr("id", "id * 2 AS twice")
    broken.toArrow = lambda: (_ for _ in ()).throw(  # type: ignore[method-assign]
        RuntimeError("simulated arrow failure")
    )
    with caplog.at_level(logging.WARNING, logger="rabbithole_spark.streaming.sinks"):
        out = _batch_params(broken, positional=True)
    assert out == [(0, 0), (1, 2)]
    assert any(
        "RuntimeError" in rec.message and "collect()" in rec.message
        for rec in caplog.records
    )


def _shard_rows(db_path, sql):
    import glob

    rows = []
    for shard in sorted(glob.glob(db_path + ".shard-*")):
        con = sqlite3.connect(shard)
        rows.extend(con.execute(sql).fetchall())
        con.close()
    return rows


def test_sharded_sql_sink_end_to_end(spark, spool, tmp_path):
    """shards: N through the YAML surface — same flow contract as the
    driver-funnel sink (demux, decode, dead-letter, mapper) but the
    rows land executor-side across N sqlite shard files whose union is
    exactly the single-sink result."""
    db_path = str(tmp_path / "out.sqlite")
    cfg = _config(spool, db_path)
    cfg["flows"][0][1]["kwargs"]["shards"] = 4
    cfg["flows"][0][1]["kwargs"]["setup"] = (
        "CREATE TABLE IF NOT EXISTS logs (timestamp TEXT, message TEXT)"
    )
    spec = PipelineSpec.from_dict(cfg)
    runners = compile_pipeline(
        spark, spec, str(tmp_path / "ckpt"),
        dead_letter_dir=str(tmp_path / "dlq"),
    )
    for q in runners[0].start(available_now=True):
        q.awaitTermination(120)

    rows = sorted(_shard_rows(db_path, "SELECT timestamp, message FROM logs"))
    assert len(rows) == 7  # bad row dead-lettered, metrics demuxed away
    assert rows[0] == ("2024-01-01T00:00:00", "msg-0")
    assert all(m.startswith("msg-") for _, m in rows)
    import glob
    import os

    shard_files = glob.glob(db_path + ".shard-*")
    assert 1 < len(shard_files) <= 4  # actually sharded (7 rows, 4 ways)
    assert not os.path.exists(db_path)  # no driver-funnel file


def test_sharded_sql_sink_error_swallowed_per_shard(spark, spool, tmp_path):
    """A shard whose SQL fails rolls back atomically and is dropped
    while the stream stays alive — sql.py:99-105 parity at shard
    granularity."""
    db_path = str(tmp_path / "out.sqlite")
    cfg = _config(spool, db_path)
    cfg["flows"][0][1]["kwargs"]["shards"] = 3
    # setup creates a table that does NOT match the INSERT -> every
    # shard's transaction fails and is swallowed
    cfg["flows"][0][1]["kwargs"]["setup"] = (
        "CREATE TABLE IF NOT EXISTS wrong (x TEXT)"
    )
    spec = PipelineSpec.from_dict(cfg)
    runners = compile_pipeline(spark, spec, str(tmp_path / "ckpt"))
    for q in runners[0].start(available_now=True):
        q.awaitTermination(120)  # must terminate cleanly, not raise
    counts = _shard_rows(db_path, "SELECT count(*) FROM wrong")
    assert counts and all(c == (0,) for c in counts)  # rolled back, dropped


def test_sharded_sink_matches_driver_funnel_values(spark, tmp_path):
    """Direct-callback parity: the sharded writer binds the same values
    (incl. NULLs and floats) as sql_sink's driver funnel — only the
    file layout differs."""
    from pyspark.sql import functions as F

    from rabbithole_spark.streaming.batcher import BatchPolicy
    from rabbithole_spark.streaming.sinks import sharded_sql_sink, sql_sink

    df = spark.range(50).select(
        F.col("id"),
        F.when(F.col("id") % 7 != 0, F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("row-"), F.col("id")).alias("s"),
    )
    ddl = "CREATE TABLE IF NOT EXISTS t (id INTEGER, v REAL, s TEXT)"
    single = str(tmp_path / "single.sqlite")
    con = sqlite3.connect(single)
    con.execute(ddl)
    con.commit()
    con.close()
    insert = "INSERT INTO t VALUES (?, ?, ?)"
    policy = BatchPolicy(size_limit=16)
    sql_sink(f"sqlite:///{single}", insert, policy=policy, positional=True)(df, 0)
    sharded = str(tmp_path / "sharded.sqlite")
    sharded_sql_sink(
        f"sqlite:///{sharded}", insert, shards=5, policy=policy,
        positional=True, setup=ddl,
    )(df, 0)

    con = sqlite3.connect(single)
    want = sorted(con.execute("SELECT id, v, s FROM t").fetchall())
    con.close()
    got = sorted(_shard_rows(sharded, "SELECT id, v, s FROM t"))
    assert got == want and len(want) == 50


def test_fold_sqlite_shards_into_single_file(tmp_path):
    """The off-hot-path consolidation of sharded_sql_sink output: fold
    copies every shard row into one target file (restartable at shard
    boundaries), creating the table via setup DDL."""
    from rabbithole_spark.streaming.sinks import fold_sqlite_shards

    db = str(tmp_path / "out.sqlite")
    rows_per_shard = {0: [(1, "a"), (2, "b")], 1: [(3, "c")], 2: []}
    for pid, rows in rows_per_shard.items():
        con = sqlite3.connect(f"{db}.shard-{pid:04d}")
        con.execute("CREATE TABLE t (id INTEGER, s TEXT)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        con.commit()
        con.close()

    copied = fold_sqlite_shards(
        db, "t", setup="CREATE TABLE IF NOT EXISTS t (id INTEGER, s TEXT)"
    )
    assert copied == 3
    con = sqlite3.connect(db)
    assert sorted(con.execute("SELECT id, s FROM t").fetchall()) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    con.close()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="identifier"):
        fold_sqlite_shards(db, "t; DROP TABLE t")


def test_funnel_sink_honors_setup_ddl(spark, spool, tmp_path):
    """round-11 review finding: a flow moving from shards=N to the
    shards=1 funnel must not silently lose its setup DDL (the
    error-swallow would then drop 100% of the data on the missing
    table) — sql_sink runs setup on each batch connection too."""
    db_path = str(tmp_path / "out.sqlite")
    cfg = _config(spool, db_path)  # no table pre-created
    cfg["flows"][0][1]["kwargs"]["setup"] = (
        "CREATE TABLE IF NOT EXISTS logs (timestamp TEXT, message TEXT)"
    )
    spec = PipelineSpec.from_dict(cfg)
    runners = compile_pipeline(spark, spec, str(tmp_path / "ckpt"))
    for q in runners[0].start(available_now=True):
        q.awaitTermination(120)
    con = sqlite3.connect(db_path)
    n = con.execute("SELECT count(*) FROM logs").fetchone()[0]
    con.close()
    assert n == 7


def test_sharded_sink_swallows_unwritable_shard_path(spark, tmp_path):
    """round-11 review finding: sqlite3.connect failures (unwritable
    shard directory, full disk) must drop-and-continue like SQL errors
    — not fail the mapInArrow task and kill the stream."""
    from pyspark.sql import functions as F

    from rabbithole_spark.streaming.sinks import sharded_sql_sink

    df = spark.range(10).select(F.col("id"))
    missing_dir_db = str(tmp_path / "no_such_dir" / "out.sqlite")
    cb = sharded_sql_sink(
        f"sqlite:///{missing_dir_db}", "INSERT INTO t VALUES (?)",
        shards=3, positional=True,
        setup="CREATE TABLE IF NOT EXISTS t (id INTEGER)",
    )
    cb(df, 0)  # must not raise: every shard's connect fails and is dropped
    import glob

    assert glob.glob(missing_dir_db + ".shard-*") == []


def test_fold_sqlite_shards_is_restart_idempotent(tmp_path):
    """round-11 review finding: re-running a fold (e.g. after a crash)
    must resume, not duplicate — folded shards are recorded in
    _fold_done within the same transaction as their copy."""
    from rabbithole_spark.streaming.sinks import fold_sqlite_shards

    db = str(tmp_path / "out.sqlite")
    for pid, rows in {0: [(1,), (2,)], 1: [(3,)]}.items():
        con = sqlite3.connect(f"{db}.shard-{pid:04d}")
        con.execute("CREATE TABLE t (id INTEGER)")
        con.executemany("INSERT INTO t VALUES (?)", rows)
        con.commit()
        con.close()
    ddl = "CREATE TABLE IF NOT EXISTS t (id INTEGER)"
    assert fold_sqlite_shards(db, "t", setup=ddl) == 3
    assert fold_sqlite_shards(db, "t", setup=ddl) == 0  # full re-run: no-op
    con = sqlite3.connect(db)
    assert sorted(con.execute("SELECT id FROM t").fetchall()) == [(1,), (2,), (3,)]
    con.close()
    # a NEW shard arriving later still folds on the next run
    con = sqlite3.connect(f"{db}.shard-0002")
    con.execute("CREATE TABLE t (id INTEGER)")
    con.execute("INSERT INTO t VALUES (9)")
    con.commit()
    con.close()
    assert fold_sqlite_shards(db, "t", setup=ddl) == 1


def test_sharded_sink_duplicate_attempt_is_skipped(spark, tmp_path):
    """round-12 (ADVICE r11): a task retried or speculatively re-run
    after its shard transaction committed must NOT re-run the
    executemany — the per-shard _shard_done marker (committed in the
    same transaction as the rows) turns the duplicate into a skip.
    Re-invoking the callback with the same batch_id is exactly that
    replay; a new batch_id still appends."""
    from pyspark.sql import functions as F

    from rabbithole_spark.streaming.sinks import sharded_sql_sink

    db = str(tmp_path / "out.sqlite")
    ddl = "CREATE TABLE IF NOT EXISTS t (id INTEGER)"
    cb = sharded_sql_sink(
        f"sqlite:///{db}", "INSERT INTO t VALUES (?)",
        shards=3, positional=True, setup=ddl,
    )
    df = spark.range(20).select(F.col("id"))
    cb(df, 7)
    cb(df, 7)  # duplicate attempt: every shard skips
    assert sorted(_shard_rows(db, "SELECT id FROM t")) == [
        (i,) for i in range(20)
    ]
    cb(df, 8)  # a NEW batch id appends normally
    rows = _shard_rows(db, "SELECT id FROM t")
    assert len(rows) == 40


@pytest.mark.parametrize("sink_name", ["sql_sink", "sharded_sql_sink"])
def test_sharded_sink_resolves_relative_path_driver_side(
    spark, tmp_path, monkeypatch, sink_name
):
    """A relative sqlite path must be resolved against the DRIVER's cwd
    at construction time, by the funnel and the sharded sink alike —
    executor tasks run in unpredictable cwds on a real cluster, and
    shard files written there would never be found by
    fold_sqlite_shards' glob. Build the sink in one cwd, invoke it from
    another: every row lands in the first."""
    import glob

    from pyspark.sql import functions as F

    from rabbithole_spark.streaming import sinks

    build_dir = tmp_path / "build_cwd"
    other_dir = tmp_path / "task_cwd"
    build_dir.mkdir()
    other_dir.mkdir()
    monkeypatch.chdir(build_dir)
    extra = {"shards": 2} if sink_name == "sharded_sql_sink" else {}
    cb = getattr(sinks, sink_name)(
        "sqlite:///rel.sqlite", "INSERT INTO t VALUES (?)",
        positional=True,
        setup="CREATE TABLE IF NOT EXISTS t (id INTEGER)",
        **extra,
    )
    monkeypatch.chdir(other_dir)
    cb(spark.range(5).select(F.col("id")), 0)
    landed = []
    for db in glob.glob(str(build_dir / "rel.sqlite*")):
        con = sqlite3.connect(db)
        landed.extend(con.execute("SELECT id FROM t").fetchall())
        con.close()
    assert sorted(landed) == [(i,) for i in range(5)]
    assert not glob.glob(str(other_dir / "rel.sqlite*"))


def test_compile_pipeline_builds_sharded_sink_through_module_global(
    spark, spool, tmp_path, monkeypatch
):
    """The benchmark times sink callbacks by swapping
    ``rabbithole_spark.plans.spec.sharded_sql_sink``; compile_pipeline
    must keep building the ``shards:`` callback through that name."""
    import rabbithole_spark.plans.spec as spec_mod

    real = spec_mod.sharded_sql_sink
    built, calls = [], []

    def recording(*args, **kwargs):
        callback = real(*args, **kwargs)
        built.append(callback)

        def wrapped(batch_df, batch_id):
            calls.append(batch_id)
            callback(batch_df, batch_id)

        return wrapped

    monkeypatch.setattr(spec_mod, "sharded_sql_sink", recording)
    db_path = str(tmp_path / "out.sqlite")
    cfg = _config(spool, db_path)
    cfg["flows"][0][1]["kwargs"]["shards"] = 2
    cfg["flows"][0][1]["kwargs"]["setup"] = (
        "CREATE TABLE IF NOT EXISTS logs (timestamp TEXT, message TEXT)"
    )
    runners = compile_pipeline(
        spark, PipelineSpec.from_dict(cfg), str(tmp_path / "ckpt")
    )
    assert len(built) == 1
    for q in runners[0].start(available_now=True):
        q.awaitTermination(120)
    assert calls
    assert len(_shard_rows(db_path, "SELECT message FROM logs")) == 7


def test_sharded_parquet_sink_end_to_end(spark, spool, tmp_path):
    """round-12: `shards: N` on a parquet output block — the columnar
    twin of the sharded sql sink through the same YAML surface (demux,
    decode, dead-letter, mapper). Rows land as N executor-written part
    files under a per-batch partition directory; the union reader
    returns exactly the funnel result."""
    import glob

    from rabbithole_spark.streaming.sinks import read_parquet_shards

    out = str(tmp_path / "pq_out")
    cfg = _config(spool, str(tmp_path / "unused.sqlite"))
    cfg["blocks"][1] = {
        "name": "output", "type": "parquet", "kwargs": {"path": out},
    }
    cfg["flows"][0][1]["kwargs"] = {
        "shards": 4,
        "parameters": {"timestamp": "timestamp", "message": "message.text"},
    }
    spec = PipelineSpec.from_dict(cfg)
    runners = compile_pipeline(
        spark, spec, str(tmp_path / "ckpt"),
        dead_letter_dir=str(tmp_path / "dlq"),
    )
    for q in runners[0].start(available_now=True):
        q.awaitTermination(120)

    got = sorted(
        (r["timestamp"], r["message"])
        for r in read_parquet_shards(spark, out).collect()
    )
    assert len(got) == 7  # bad row dead-lettered, metrics demuxed away
    assert got[0] == ("2024-01-01T00:00:00", "msg-0")
    batch_dirs = glob.glob(out + "/__batch_id=*")
    assert batch_dirs  # per-batch partition layout
    parts = glob.glob(batch_dirs[0] + "/part-*.parquet")
    assert 1 < len(parts) <= 4  # actually sharded (7 rows, 4 writers)


def test_sharded_parquet_sink_matches_driver_funnel_values(spark, tmp_path):
    """Funnel-parity (the sql twin's contract at
    test_sharded_sink_matches_driver_funnel_values): the parquet shards'
    union carries the same values (incl. NULLs and floats) as
    sql_sink's driver funnel — only the storage format differs."""
    from pyspark.sql import functions as F

    from rabbithole_spark.streaming.batcher import BatchPolicy
    from rabbithole_spark.streaming.sinks import (
        read_parquet_shards,
        sharded_parquet_sink,
        sql_sink,
    )

    df = spark.range(50).select(
        F.col("id"),
        F.when(F.col("id") % 7 != 0, F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("row-"), F.col("id")).alias("s"),
    )
    single = str(tmp_path / "single.sqlite")
    con = sqlite3.connect(single)
    con.execute("CREATE TABLE t (id INTEGER, v REAL, s TEXT)")
    con.commit()
    con.close()
    sql_sink(
        f"sqlite:///{single}", "INSERT INTO t VALUES (?, ?, ?)",
        policy=BatchPolicy(size_limit=16), positional=True,
    )(df, 0)
    out = str(tmp_path / "pq_out")
    sharded_parquet_sink(out, shards=5)(df, 0)

    con = sqlite3.connect(single)
    want = sorted(con.execute("SELECT id, v, s FROM t").fetchall())
    con.close()
    got = sorted(
        (r["id"], r["v"], r["s"])
        for r in read_parquet_shards(spark, out).collect()
    )
    assert got == want and len(want) == 50


def test_sharded_parquet_sink_replay_is_exactly_once(spark, tmp_path):
    """A replayed batch id dynamically overwrites ITS OWN partition
    directory and touches no other batch — exactly-once without
    markers (the file commit protocol + dynamic overwrite)."""
    from pyspark.sql import functions as F

    from rabbithole_spark.streaming.sinks import (
        read_parquet_shards,
        sharded_parquet_sink,
    )

    out = str(tmp_path / "pq_out")
    cb = sharded_parquet_sink(out, shards=3)
    df = spark.range(20).select(F.col("id"))
    cb(df, 7)
    cb(df, 7)  # replay: supersedes its own directory, no duplicates
    assert read_parquet_shards(spark, out).count() == 20
    cb(df, 8)  # a new batch id appends its own directory
    assert read_parquet_shards(spark, out).count() == 40


def test_fold_parquet_shards_compacts_to_flat_table(spark, tmp_path):
    """Off-hot-path compaction: the per-batch tree folds into a flat
    parquet directory with the bookkeeping column gone and every row
    kept — the columnar analogue of fold_sqlite_shards."""
    import glob
    import os

    from pyspark.sql import functions as F

    from rabbithole_spark.streaming.sinks import (
        fold_parquet_shards,
        sharded_parquet_sink,
    )

    out = str(tmp_path / "pq_out")
    cb = sharded_parquet_sink(out, shards=4)
    cb(spark.range(0, 30).select(F.col("id")), 0)
    cb(spark.range(30, 50).select(F.col("id")), 1)
    assert fold_parquet_shards(spark, out, target_files=2) == 50
    flat = spark.read.parquet(out)
    assert flat.columns == ["id"]
    assert sorted(r["id"] for r in flat.collect()) == list(range(50))
    assert not glob.glob(out + "/__batch_id=*")
    assert len(glob.glob(out + "/part-*.parquet")) <= 2
    assert not os.path.exists(out + "__fold_tmp")


def test_sharded_sink_lock_conflict_fails_attempt_not_empty_success(
    spark, tmp_path
):
    """round-12 review: a concurrent attempt holding the shard's write
    lock (speculation) must FAIL this attempt so Spark arbitrates —
    swallowing the lock error as an empty success would silently lose
    the shard if the lock holder were then killed pre-commit. Once the
    lock clears, a retry of the same batch writes normally."""
    from pyspark.sql import functions as F

    from rabbithole_spark.streaming.sinks import sharded_sql_sink

    db = str(tmp_path / "out.sqlite")
    shard = db + ".shard-0000"
    ddl = "CREATE TABLE IF NOT EXISTS t (id INTEGER)"
    holder = sqlite3.connect(shard)
    holder.execute(ddl)
    holder.commit()
    holder.execute("BEGIN IMMEDIATE")  # hold the shard's write lock
    cb = sharded_sql_sink(
        f"sqlite:///{db}", "INSERT INTO t VALUES (?)",
        shards=1, positional=True, setup=ddl,
    )
    df = spark.range(3).select(F.col("id"))
    try:
        with pytest.raises(Exception, match="locked|busy|Python"):
            cb(df, 0)  # blocks on the lock, then fails the task
    finally:
        holder.rollback()
        holder.close()
    cb(df, 0)  # lock released: the retried attempt writes
    assert sorted(_shard_rows(db, "SELECT id FROM t")) == [(0,), (1,), (2,)]


def test_sharded_sink_restart_appends_new_batches(spark, spool, tmp_path):
    """round-12 marker semantics across RESTART: batch ids increment
    monotonically under one checkpoint, so the _shard_done markers
    skip only REPLAYED attempts — a flow resumed with the same
    checkpoint and new spool data must append the new rows, not skip
    them (the failure mode if markers were keyed on anything that
    resets across runs)."""
    db_path = str(tmp_path / "out.sqlite")
    ckpt = str(tmp_path / "ckpt")
    cfg = _config(spool, db_path)
    cfg["flows"][0][1]["kwargs"]["shards"] = 2
    cfg["flows"][0][1]["kwargs"]["setup"] = (
        "CREATE TABLE IF NOT EXISTS logs (timestamp TEXT, message TEXT)"
    )
    spec = PipelineSpec.from_dict(cfg)

    def run_once():
        runners = compile_pipeline(spark, spec, ckpt)
        for q in runners[0].start(available_now=True):
            q.awaitTermination(120)

    run_once()
    assert len(_shard_rows(db_path, "SELECT message FROM logs")) == 7

    late = [
        {"exchange": "logs", "content_type": "application/json",
         "body": json.dumps({"timestamp": f"2024-01-02T00:00:{i:02d}",
                              "message": {"text": f"late-{i}"}})}
        for i in range(4)
    ]
    write_spool_messages(spool, late, "batch1.jsonl")
    run_once()
    msgs = sorted(m for (m,) in _shard_rows(db_path, "SELECT message FROM logs"))
    assert len(msgs) == 11  # 7 original + 4 late, nothing skipped
    assert [m for m in msgs if m.startswith("late-")] == [
        "late-0", "late-1", "late-2", "late-3"
    ]
    # and a THIRD run with no new data appends nothing (offsets +
    # markers agree)
    run_once()
    assert len(_shard_rows(db_path, "SELECT message FROM logs")) == 11


def test_bench_etl_probe_parquet_sink_end_to_end(spark):
    """round-12: bench.py's etl probe runs the SAME YAML flow against
    the sharded parquet sink (``sink="parquet"``) — the columnar-twin
    sample recorded in the etl block must count every spooled row via
    the union reader, exactly like the sqlite shards count."""
    from bench import etl_throughput

    r = etl_throughput(
        spark, "/root/testdata/sf0.001", shards=4, rep=1, sink="parquet"
    )
    assert r["complete"] is True
    assert r["rows"] == 1000  # sf0.001 events x rep=1
    assert r["shards"] == 4


def test_sharded_parquet_sink_restart_appends_new_batches(spark, spool, tmp_path):
    """Restart contract for the parquet twin (mirror of the sqlite
    markers test): a flow resumed on the same checkpoint with new
    spool data must land the new rows in NEW __batch_id partitions —
    dynamic overwrite may only ever supersede a batch's own replay,
    never an earlier committed batch."""
    import glob

    from rabbithole_spark.streaming.sinks import read_parquet_shards

    out = str(tmp_path / "pq_out")
    ckpt = str(tmp_path / "ckpt")
    cfg = _config(spool, str(tmp_path / "unused.sqlite"))
    cfg["blocks"][1] = {
        "name": "output", "type": "parquet", "kwargs": {"path": out},
    }
    cfg["flows"][0][1]["kwargs"] = {
        "shards": 2,
        "parameters": {"timestamp": "timestamp", "message": "message.text"},
    }
    spec = PipelineSpec.from_dict(cfg)

    def run_once():
        runners = compile_pipeline(spark, spec, ckpt)
        for q in runners[0].start(available_now=True):
            q.awaitTermination(120)

    run_once()
    assert read_parquet_shards(spark, out).count() == 7
    batches_before = set(glob.glob(out + "/__batch_id=*"))

    late = [
        {"exchange": "logs", "content_type": "application/json",
         "body": json.dumps({"timestamp": f"2024-01-02T00:00:{i:02d}",
                              "message": {"text": f"late-{i}"}})}
        for i in range(4)
    ]
    write_spool_messages(spool, late, "batch1.jsonl")
    run_once()
    msgs = sorted(
        r["message"] for r in read_parquet_shards(spark, out).collect()
    )
    assert len(msgs) == 11  # 7 original + 4 late, nothing lost
    assert [m for m in msgs if m.startswith("late-")] == [
        "late-0", "late-1", "late-2", "late-3"
    ]
    # the original batch directories survived untouched (new batch ids
    # were appended, none overwritten away)
    assert batches_before <= set(glob.glob(out + "/__batch_id=*"))
    assert len(set(glob.glob(out + "/__batch_id=*"))) > len(batches_before)
    # a THIRD run with no new data appends nothing
    run_once()
    assert read_parquet_shards(spark, out).count() == 11
