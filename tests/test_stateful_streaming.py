"""Stateful streaming operator contracts (applyInPandasWithState):
single-batch equality with the batch aggregate, and cumulative state
across micro-batches."""

from __future__ import annotations

import uuid

import pytest

from pyspark.sql import functions as F

from rabbithole_spark.functions.numeric import dsum
from rabbithole_spark.session import table
from rabbithole_spark.streaming.stateful import running_totals_with_state

SF = "/root/testdata/sf0.001"


def _run_stream(spark, path, max_files_per_trigger=None):
    schema = "user_id long, value double"
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(path)
    name = f"t_state_{uuid.uuid4().hex[:8]}"
    q = (
        running_totals_with_state(stream.groupBy("user_id"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name).collect()


@pytest.fixture(scope="module")
def events_slice(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("state_in"))
    # two files -> two micro-batches under maxFilesPerTrigger=1; an
    # event_id parity split puts every user in both files
    ev = table(spark, SF, "events").select("user_id", "event_id", "value")
    odd = F.col("event_id") % 2 == 1
    ev.filter(~odd).drop("event_id").coalesce(1).write.parquet(f"{path}/a")
    ev.filter(odd).drop("event_id").coalesce(1).write.parquet(f"{path}/b")
    return path


def test_single_batch_matches_batch_groupby(spark, events_slice):
    rows = _run_stream(spark, f"{events_slice}/a")
    got = {r.user_id: (r.n_events, r.total_value) for r in rows}
    expected = {
        r.user_id: (r.n, round(r.tv, 6))
        for r in spark.read.parquet(f"{events_slice}/a")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert set(got) == set(expected)
    for uid, (n, tv) in expected.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - tv) < 1e-5, uid


def test_state_accumulates_across_batches(spark, events_slice):
    # one file per trigger -> every user appears in both micro-batches;
    # memory sink in update mode appends, so take the max-count emission.
    rows = _run_stream(spark, f"{events_slice}/*", max_files_per_trigger=1)
    assert rows, "no emissions"
    latest: dict[int, tuple[int, int]] = {}
    for r in rows:
        cur = latest.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            latest[r.user_id] = (r.n_events, r.n_batches)
    expected = {
        r.user_id: r.n
        for r in spark.read.parquet(f"{events_slice}/*")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # every user's final emission carries its total across both batches
    assert latest == {u: (n, 2) for u, n in expected.items()}


def _run_batcher(spark, batcher_fn, src, name, **kwargs):
    from rabbithole_spark.streaming.stateful import await_state_drained

    stream = (
        spark.readStream.schema("event_type string, event_id long")
        .format("parquet")
        .load(src)
    )
    q = (
        batcher_fn(
            stream.groupBy("event_type"),
            "event_type string, event_id long",
            **kwargs,
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert await_state_drained(q, timeout_s=120)
    return spark.table(name).collect()


def test_count_flush_batcher_exact_size_batches(spark, tmp_path):
    """State-v1 batcher: every size-flush emits exactly ``size_limit``
    rows; each key's sub-size leftover time-flushes, so every input
    row exits exactly once with the right reason."""
    from rabbithole_spark.streaming.stateful import count_or_time_batcher_v1

    src = str(tmp_path / "batcher_src")
    ev = table(spark, SF, "events").select("event_type", "event_id")
    ev.coalesce(1).write.parquet(src)
    per_key = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }

    size = 10
    out = _run_batcher(
        spark,
        count_or_time_batcher_v1,
        src,
        f"batcher_{uuid.uuid4().hex[:8]}",
        size_limit=size,
        time_limit_s=5.0,
    )
    by_reason: dict[tuple[str, str], int] = {}
    for r in out:
        key = (r.event_type, r.flush_reason)
        by_reason[key] = by_reason.get(key, 0) + 1
    for k, n in per_key.items():
        assert by_reason.get((k, "size"), 0) == (n // size) * size, (k, n)
        assert by_reason.get((k, "time"), 0) == n % size, (k, n)
    # no duplicated or invented event ids among the flushed rows
    ids = [r.event_id for r in out]
    assert len(ids) == len(set(ids))


def test_time_flush_emits_partial_batch(spark, tmp_path):
    """With size_limit larger than the key's row count, only the
    processing-time timer can flush — rows must arrive tagged 'time'."""
    import time

    from rabbithole_spark.streaming.stateful import count_or_time_batcher_v1

    src = str(tmp_path / "timeflush_src")
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "k string, v long"
    ).coalesce(1).write.parquet(src)

    name = f"timeflush_{uuid.uuid4().hex[:8]}"
    q = None
    try:
        stream = (
            spark.readStream.schema("k string, v long")
            .format("parquet")
            .load(src)
        )
        q = (
            count_or_time_batcher_v1(
                stream.groupBy("k"),
                "k string, v long",
                size_limit=100,
                time_limit_s=2.0,
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(processingTime="1 second")
            .start()
        )
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.table(name).collect()
            if len(rows) == 3:
                break
            time.sleep(1)
        assert len(rows) == 3, rows
        assert all(r.flush_reason == "time" for r in rows)
        assert sorted((r.k, r.v) for r in rows) == [("a", 1), ("a", 2), ("b", 3)]
    finally:
        if q is not None:
            q.stop()


def test_drain_wait_sees_input_batch_overtaken_by_timer_batches():
    """The input batch can be followed by timer-only batches before the
    wait polls, so it is never the last progress; the wait must still
    see it, and stop the query once state is empty."""
    from rabbithole_spark.streaming.stateful import await_state_drained

    class Query:
        isActive = True
        recentProgress = [
            {"numInputRows": 7, "stateOperators": [{"numRowsTotal": 3}]},
            {"numInputRows": 0, "stateOperators": [{"numRowsTotal": 0}]},
        ]
        lastProgress = recentProgress[-1]

        def stop(self):
            self.isActive = False

    q = Query()
    assert await_state_drained(q, timeout_s=2, poll_s=0.01)
    assert not q.isActive


def test_batcher_drain_timeout_raises_and_stops_query(spark, monkeypatch):
    """A batcher replay whose state never drains must raise like every
    other bounded replay, not return a partial memory table, and must
    leave no query running."""
    from rabbithole_spark.queries import pipeline
    from rabbithole_spark.streaming import stateful

    monkeypatch.setattr(stateful, "await_state_drained", lambda q: False)
    with pytest.raises(TimeoutError):
        pipeline.stream_count_or_time_batcher(spark, SF)
    assert not [
        q for q in spark.streams.active
        if (q.name or "").startswith("stream_batcher_")
    ]


def test_stream_stream_join_matches_batch_twin(spark):
    """The watermarked stream-stream interval join emits exactly the
    rows of its batch twin (AvailableNow drains the bounded source)."""
    from rabbithole_spark.catalog import load_all

    specs = load_all()
    sf = "/root/testdata/sf0.001"
    batch = specs["join_attribution_clicks"].fn(spark, sf)
    stream = specs["stream_stream_interval_join"].fn(spark, sf)
    key = lambda r: (r.user_id, r.click_ts, r.purchase_ts)
    assert sorted(map(key, stream.collect())) == sorted(
        map(key, batch.collect())
    )


def test_stream_static_enrich_matches_batch_twin(spark):
    """The broadcast stream-static join + watermarked rollup emits the
    same per-nation totals as the equivalent batch join."""
    from rabbithole_spark.catalog import load_all

    specs = load_all()
    sf = "/root/testdata/sf0.001"
    got = {
        r.c_nationkey: (r.n_events, r.total_value)
        for r in specs["stream_static_enrich"].fn(spark, sf).collect()
    }
    ev = table(spark, sf, "events")
    cust = (
        table(spark, sf, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
    )
    expected = {
        r.c_nationkey: (r.n, r.tv)
        for r in ev.join(cust, "user_id")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value"), "tv", 2),
        )
        .collect()
    }
    assert got == expected


def test_outer_join_watermark_boundary_eviction(spark, tmp_path):
    """Pin Spark's outer-join state-eviction inequality at the exact
    watermark boundary (ADVICE r4). Measured behavior (probe sweep):
    a click null-extends iff click_ts + 1h + 1ms <= final watermark —
    StreamingJoinHelper subtracts a 1 ms rounding margin when deriving
    the join-state value watermark. Three boundary clicks: window close
    exactly ON the watermark (buffered), 999 us before it (still inside
    the 1 ms margin -> buffered), and exactly 1 ms before it (evicted,
    null-extends); plus one matched click."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rabbithole_spark.catalog import load_all
    from rabbithole_spark.queries.pipeline import _OUTER_JOIN_ORACLE

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    us = dt.timedelta(microseconds=1)
    rows = [
        # window close == watermark (01:00:00) exactly -> buffered
        (1, t0, 101, "click", 1.0, "{}"),
        # close 999 us before the watermark: inside the 1 ms margin
        (2, t0 - 999 * us, 102, "click", 1.0, "{}"),
        # close exactly 1 ms before the watermark: evicted, null-extends
        (3, t0 - 1000 * us, 103, "click", 1.0, "{}"),
        # matched click + purchase pin max(click_ts) = max(purchase_ts)
        # = 03:00:00, so the final watermark is exactly 01:00:00
        (4, t0 + dt.timedelta(hours=3), 2, "click", 1.0, "{}"),
        (5, t0 + dt.timedelta(hours=3), 2, "purchase", 5.0, "{}"),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    got = sorted(
        (r.user_id, r.click_ts, r.purchase_ts, r.purchase_value)
        for r in load_all()["stream_stream_outer_join"]
        .fn(spark, str(tmp_path))
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    want = sorted(map(tuple, con.execute(_OUTER_JOIN_ORACLE).fetchall()))
    con.close()
    assert got == want, (got, want)
    emitted_users = {g[0] for g in got}
    assert emitted_users == {2, 103}, emitted_users


def test_full_outer_join_purchase_side_boundary_eviction(spark, tmp_path):
    """Pin the PURCHASE-side state-eviction inequality of the full
    outer stream-stream join (round-6 boundary sweep). A purchase can
    only match clicks with click_ts <= purchase_ts, so its state needs
    no interval offset: it null-extends iff purchase_ts + 1 ms <= final
    watermark (same 1 ms StreamingJoinHelper margin as the click side).
    Three boundary purchases: exactly ON the watermark (buffered),
    999 us before it (inside the margin -> buffered), and exactly 1 ms
    before it (evicted, null-extends); plus one matched pair and one
    evicted unmatched click for click-side cross-coverage."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rabbithole_spark.catalog import load_all
    from rabbithole_spark.queries.pipeline import _FULL_OUTER_JOIN_ORACLE

    t0 = dt.datetime(2024, 1, 1, 3, 0, 0)  # max on BOTH sides
    wm = dt.datetime(2024, 1, 1, 1, 0, 0)  # t0 - 2h
    us = dt.timedelta(microseconds=1)
    rows = [
        # matched pair pins max(click_ts) = max(purchase_ts) = 03:00:00
        (1, t0, 2, "click", 1.0, "{}"),
        (2, t0, 2, "purchase", 5.0, "{}"),
        # unmatched click whose window closed 1 ms before wm: evicted
        (3, wm - dt.timedelta(hours=1) - 1000 * us, 103, "click", 1.0, "{}"),
        # purchase exactly ON the watermark -> buffered
        (11, wm, 201, "purchase", 1.0, "{}"),
        # purchase 999 us before wm: inside the 1 ms margin -> buffered
        (12, wm - 999 * us, 202, "purchase", 1.0, "{}"),
        # purchase exactly 1 ms before wm: evicted, null-extends
        (13, wm - 1000 * us, 203, "purchase", 1.0, "{}"),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    got = sorted(
        (
            (
                r.click_user_id,
                r.click_ts,
                r.purchase_user_id,
                r.purchase_ts,
                r.purchase_value,
            )
            for r in load_all()["stream_stream_full_outer"]
            .fn(spark, str(tmp_path))
            .collect()
        ),
        key=repr,
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    want = sorted(
        map(tuple, con.execute(_FULL_OUTER_JOIN_ORACLE).fetchall()), key=repr
    )
    con.close()
    assert got == want, (got, want)
    null_extended_purchases = {
        g[2] for g in got if g[0] is None and g[2] is not None
    }
    null_extended_clicks = {
        g[0] for g in got if g[2] is None and g[0] is not None
    }
    assert null_extended_purchases == {203}, null_extended_purchases
    assert null_extended_clicks == {103}, null_extended_clicks

    # the RIGHT OUTER sibling on the same fixture: identical purchase-
    # side eviction, and the evicted unmatched CLICK (103) must NOT
    # appear — right outer drops left-side state silently
    from rabbithole_spark.queries.pipeline import _RIGHT_OUTER_JOIN_ORACLE

    got_r = sorted(
        (
            (
                r.click_user_id,
                r.click_ts,
                r.purchase_user_id,
                r.purchase_ts,
                r.purchase_value,
            )
            for r in load_all()["stream_stream_right_outer"]
            .fn(spark, str(tmp_path))
            .collect()
        ),
        key=repr,
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    want_r = sorted(
        map(tuple, con.execute(_RIGHT_OUTER_JOIN_ORACLE).fetchall()),
        key=repr,
    )
    con.close()
    assert got_r == want_r, (got_r, want_r)
    assert {g[2] for g in got_r if g[0] is None} == {203}
    assert all(g[0] != 103 for g in got_r)


def test_session_window_exact_gap_boundary_merges(spark):
    """Pin Spark's measured session-merge inequality: two events exactly
    gap-duration apart MERGE into one session (<=, not <); only a gap
    strictly beyond the duration splits. The gaps-and-islands oracle of
    window_session_per_user / stream_session_window encodes `<=
    INTERVAL '30 minutes'` on this basis — if a Spark upgrade flips the
    boundary, this fails before the external hash check does."""
    import datetime

    from pyspark.sql import functions as F

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0),
        (1, t0 + datetime.timedelta(minutes=30)),  # exactly the gap
        (2, t0),
        (2, t0 + datetime.timedelta(minutes=30, microseconds=1)),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "n")
    )
    got = sorted((r.user_id, r.n) for r in out.collect())
    assert got == [(1, 2), (2, 1), (2, 1)]


def test_multibatch_replay_late_row_semantics(spark, tmp_path):
    """Pin the MEASURED late-data contract across trigger modes — the
    part single-batch bounded replays can never exercise.

    (a) processingTime trigger, file b arriving AFTER file a's batch
    committed (watermark 00:50): the late 00:30 row AND the boundary
    00:45 row (window [00:40,00:50) closes exactly ON the watermark)
    are both DROPPED — numRowsDroppedByWatermark=2, so the drop
    inequality is window_end <= watermark — while 00:55 (window end
    01:00 > wm) is kept.

    (b) Trigger.AvailableNow with maxFilesPerTrigger=1 over the same
    two files: the planned multi-batch replay ADMITS all rows
    (numRowsDroppedByWatermark=0) even though per-batch progress
    reports the watermark advancing — bounded availableNow replays
    behave like ONE logical batch for late-input filtering in this
    Spark build. This measured asymmetry is exactly why the
    registered stream_* oracles model the bounded replay as a single
    batch; a future Spark that starts filtering here fails this pin
    loudly instead of silently changing oracle semantics."""
    import datetime as dt
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    h = dt.timedelta

    def write(path, rows, mtime=None):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, path)
        if mtime is not None:
            os.utime(path, (mtime, mtime))

    batch_a = [(1, t0, 1), (3, t0 + h(hours=1), 1)]
    batch_b = [
        (4, t0 + h(minutes=30), 1),   # late: window end 00:40 < wm
        (5, t0 + h(minutes=45), 1),   # boundary: end 00:50 == wm
        (6, t0 + h(minutes=55), 1),   # keep: end 01:00 > wm
        (7, t0 + h(hours=2), 1),      # advances the final wm to 01:50
    ]

    def agg(reader):
        return (
            reader.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("start"), "n")
        )

    # --- (a) real trigger: late rows drop at window_end <= watermark
    live_dir = tmp_path / "live"
    live_dir.mkdir()
    write(str(live_dir / "a.parquet"), batch_a)
    q = (
        agg(
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long"
            ).parquet(str(live_dir))
        )
        .writeStream.format("memory")
        .queryName("mb_live")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            p = q.lastProgress
            if p and str(p["eventTime"].get("watermark", "")).startswith(
                "2024-01-01T00:50"
            ):
                break
            time.sleep(0.5)
        write(str(live_dir / "b.parquet"), batch_b)
        deadline = time.time() + 90
        dropped = 0
        while time.time() < deadline:
            dropped = sum(
                p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
                for p in q.recentProgress
                if p["stateOperators"]
            )
            # after the drop, wait for the no-data batch that emits the
            # closed 00:50/01:00 windows under the advanced watermark
            if dropped >= 2 and len(spark.table("mb_live").collect()) >= 3:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert dropped == 2, f"expected the 00:30 and 00:45 rows dropped, got {dropped}"
    got_live = {r.start: r.n for r in spark.table("mb_live").collect()}
    assert t0 + h(minutes=30) not in got_live
    assert t0 + h(minutes=40) not in got_live
    assert got_live.get(t0) == 1 and got_live.get(t0 + h(minutes=50)) == 1

    # --- (b) availableNow: planned batches admit everything
    replay_dir = tmp_path / "replay"
    replay_dir.mkdir()
    write(str(replay_dir / "a.parquet"), batch_a, 1_000_000)
    write(str(replay_dir / "b.parquet"), batch_b, 2_000_000)
    q2 = (
        agg(
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(str(replay_dir))
        )
        .writeStream.format("memory")
        .queryName("mb_replay")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    assert (
        sum(
            p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
            for p in q2.recentProgress
            if p["stateOperators"]
        )
        == 0
    )
    assert len([p for p in q2.recentProgress if p["numInputRows"]]) >= 2
    got_replay = {r.start: r.n for r in spark.table("mb_replay").collect()}
    # every window closed by the final watermark (01:50) emits, late
    # rows included; the open 02:00 window does not
    assert got_replay == {
        t0: 1,
        t0 + h(minutes=30): 1,
        t0 + h(minutes=40): 1,
        t0 + h(minutes=50): 1,
        t0 + h(hours=1): 1,
    }, got_replay
