"""Pipeline-surface queries: the reference's ETL semantics exercised on
the driver tables (events.props is the AMQP-payload analogue,
FIXTURES.md §B) — dotted-path mapping oracle-checked in batch, plus
genuine Structured Streaming executions registered rows-only.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rabbithole_spark.catalog import register
from rabbithole_spark.functions.numeric import dsum, sql_dsum
from rabbithole_spark.plans.mapper import ParametersMapper
from rabbithole_spark.session import table

_MAPPING_ORACLE = """
SELECT event_id,
       json_extract_string(props, '$.k') AS k,
       json_extract_string(props, '$.missing') AS missing,
       json_extract_string(props, '$.k.nested') AS through_scalar
FROM events
"""


@register(
    "pipeline_param_mapping",
    oracle=_MAPPING_ORACLE,
    doc="ParametersMapper (dict form) over a JSON payload column — the "
    "reference's per-message projection (sql.py:110-215) as a "
    "distributed select; missing and through-scalar paths -> NULL "
    "(SURVEY.md §2C.1).",
)
def pipeline_param_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    mapper = ParametersMapper(
        {"k": "k", "missing": "missing", "through_scalar": "k.nested"}
    )
    return mapper.apply(
        events.withColumnRenamed("props", "payload"), keep=["event_id"]
    )


def _read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a bounded stream, ts normalized to micros.

    With a user-supplied ``ts long`` schema the streaming parquet reader
    hands back the timestamp's raw epoch integer, whose unit depends on
    how the file stored it (micros here; nanos under nanosAsLong batch
    reads). Normalize by magnitude — epoch-nanos for any plausible event
    date is >= 1e17, epoch-micros < 1e17 until the year 5138 — so the
    stream lands on the exact same micros contract as session.table().
    """
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        # file streaming sources need a directory; glob-filter to events
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    micros = F.expr(
        "CASE WHEN ts >= 100000000000000000 THEN ts div 1000 ELSE ts END"
    )
    return raw.withColumn("ts", F.timestamp_micros(micros))


#: Why several genuine streaming executions below carry real oracles:
#: the bounded replay is DETERMINISTIC. events.parquet is a single file,
#: so the AvailableNow file source delivers it as one micro-batch
#: (maxFilesPerTrigger is per-file); the watermark only advances
#: *between* micro-batches, so it provably drops nothing within the
#: single batch, and `complete`-mode aggregations emit full state
#: regardless of batching. Under that contract the streamed output is
#: exactly the batch twin's value set and the twin's oracle SQL applies
#: verbatim. Queries whose output depends on processing time
#: (count-or-time flush tags) or per-batch emission (update-mode
#: running totals with n_batches) stay rows-only by design.
def _replay_ckpt_dir() -> str | None:
    """Checkpoint dir for the BOUNDED-REPLAY streams below, on tmpfs
    when the box has a usable one (same medium policy + size guard as
    bench.py's ETL sink): every micro-batch fsyncs its offset WAL and
    one state delta per store instance, and on a disk-backed /tmp
    those fsyncs dominate the replay (round-12 measurement,
    stream_stream_interval_join at sf0.1: symmetricHashJoin
    commitTimeMs summed 44-52 s per micro-batch across 32 partitions
    x 4 stores — ~3 s wall of a 7 s query; state update/eviction math
    is a fraction of that). Durability deliberately matches the sink:
    the memory-sink table dies with the session anyway, so a
    tmpfs-lifetime checkpoint loses nothing a rerun would not
    recompute — production flows (streaming/sinks.py) pass their own
    durable checkpointLocation. Returns None (Spark's default temp
    checkpoint) when tmpfs is absent, unwritable, or under 1 GiB
    free, e.g. default-configured Docker."""
    shm = "/dev/shm"
    try:
        if os.path.isdir(shm) and os.access(shm, os.W_OK):
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= 1 << 30:
                return tempfile.mkdtemp(prefix="rh_replay_ckpt_", dir=shm)
    except OSError:
        pass
    return None


def _replay_state_partitions(spark, sf_dir: str) -> int:
    """Number of state partitions for a bounded-replay stream, derived
    from the stream's input size (round 12, guide §2.2/§2.5: size
    partitions to the data instead of inheriting a constant tuned for
    the batch side). Unlike batch plans, streaming stateful operators
    get no AQE coalescing — the partition count fixes the number of
    state-store INSTANCES, and each instance pays a fixed per-micro-
    batch cost (load, commit, delta file) regardless of how few rows
    it holds. Measured at sf0.1 (stream_stream_interval_join, 40k
    state rows): 32 partitions x 4 join stores = 128 instances cost
    ~3 s of a 6 s warm replay in summed per-instance update/commit
    overhead; 8 partitions run the identical query in 2.4 s. Derive
    ~16 MB of scanned input per state partition with a parallelism/4
    floor, capped at the session's batch shuffle width (at cluster
    scale the cap binds and state width tracks the batch tuning).
    Results are partitioning-invariant —
    every replay query's output is keyed arithmetic or watermark
    semantics, both independent of which store instance holds a key —
    and the oracle sweep + driver correctness runs execute THIS
    derivation at every SF."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    floor = max(4, spark.sparkContext.defaultParallelism // 4)
    try:
        nbytes = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    except OSError:
        return cap
    return max(min(floor, cap), min(cap, (nbytes >> 24) + 1))


def _await_tasks_ended(spark, q) -> None:
    """Wait (at most 30 s) until no task of the stopped query
    ``q`` still runs. ``stop()`` cancels the query's job group (its run
    id) and returns before the cancelled tasks end, so a state-store
    task can still write ``state/<op>/<p>/..N.delta.*.tmp.crc`` and
    re-create a checkpoint directory removed right after the stop."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 30.0

    def running(job) -> bool:
        stages = map(tracker.getStageInfo, job.stageIds)
        return job.status == "RUNNING" or any(s and s.numActiveTasks for s in stages)

    jobs = tracker.getJobIdsForGroup(str(q.runId))  # stopped: no new ones
    while time.monotonic() < deadline and any(
        running(job) for job in map(tracker.getJobInfo, jobs) if job
    ):
        time.sleep(0.05)


def _memory_sinktable(spark, df, prefix: str, mode: str, sf_dir: str,
                       wait=lambda q: q.awaitTermination(300.0)):
    """Run a bounded (AvailableNow) stream into a memory sink and
    return its table. ``wait(query)`` blocks until the stream is done
    and returns False on timeout (awaitTermination does so WITHOUT
    stopping the query). Ignoring that False would silently hand back
    a PARTIAL memory table on a slow box (a false hash mismatch) while
    the still-active query kept contending with everything after it —
    raise instead, and always stop a still-active query."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = _replay_ckpt_dir()
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    if ckpt:
        writer = writer.option("checkpointLocation", ckpt)
    # the shuffle-partitions conf is captured by the query's cloned
    # session at start(); restore immediately after so the batch side
    # never sees the stream's state width (queries run sequentially
    # from the driver — the registry has no concurrent-start path)
    shuffle_conf = "spark.sql.shuffle.partitions"
    old_shuffle = spark.conf.get(shuffle_conf)
    spark.conf.set(shuffle_conf, str(_replay_state_partitions(spark, sf_dir)))
    try:
        q = writer.start()
    finally:
        spark.conf.set(shuffle_conf, old_shuffle)
    try:
        if not wait(q):
            raise TimeoutError(f"bounded stream {name} did not finish in time")
    finally:
        if q.isActive:
            q.stop()
        if ckpt:
            _await_tasks_ended(spark, q)
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


_TUMBLING_STREAM_ORACLE = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*) AS n_events
-- F.window drops NULL event times; mirror the batch twin's pin
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


@register(
    "stream_tumbling_counts",
    oracle=_TUMBLING_STREAM_ORACLE,
    doc="Structured Streaming tumbling-window aggregation with watermark "
    "over the events stream (AvailableNow + memory sink). Complete "
    "output mode over a deterministic single-file bounded stream: the "
    "emitted state equals the batch twin window_tumbling_hourly, so "
    "the twin's oracle checks the STREAMED output directly.",
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return _memory_sinktable(spark, agg, "stream_tumbling", "complete", sf_dir=sf_dir)


_SLIDING_STREAM_ORACLE = """
WITH offsets(k) AS (VALUES (0), (1))
SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS window_start,
       count(*) AS n_events
-- F.window drops NULL event times; mirror the batch twin's pin
FROM events CROSS JOIN offsets WHERE ts IS NOT NULL
GROUP BY 1
"""


@register(
    "stream_sliding_counts",
    oracle=_SLIDING_STREAM_ORACLE,
    doc="Structured Streaming SLIDING-window aggregation (1h width, 30m "
    "slide — each event lands in 2 overlapping windows) with "
    "watermark over the events stream. Complete output mode over the "
    "deterministic single-file bounded stream, same contract as "
    "stream_tumbling_counts; the oracle is the batch twin's "
    "bucket-offset expansion. Completes the streaming window family: "
    "tumbling / sliding / session.",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )
    return _memory_sinktable(spark, agg, "stream_sliding", "complete", sf_dir=sf_dir)


_DISTINCT_KEYS_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register(
    "stream_dedup_within_watermark",
    oracle=_DISTINCT_KEYS_ORACLE,
    doc="dropDuplicatesWithinWatermark: duplicates suppressed only "
    "within the watermark horizon, so per-key state EXPIRES — the "
    "bounded-state dedup for infinite streams (plain dropDuplicates "
    "state grows forever). Projects the key columns only: WHICH "
    "surviving row's ts is kept is a partition-order race, but the "
    "surviving KEY SET over the single-batch bounded replay is "
    "exactly DISTINCT(user_id, event_type) — state cannot expire "
    "within one micro-batch — so the dedup semantics are "
    "oracle-checked.",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    dedup = (
        _read_events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _memory_sinktable(spark, dedup, "stream_dedupw", "append", sf_dir=sf_dir)


_SESSION_STREAM_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   <= INTERVAL '30 minutes'
              THEN 0 ELSE 1 END AS new_session
  -- session_window drops NULL event times; mirror the batch twin's pin
  FROM events WHERE ts IS NOT NULL
), sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM flagged
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       user_id,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
"""


@register(
    "stream_session_window",
    oracle=_SESSION_STREAM_ORACLE,
    doc="Streaming session-window aggregation (30 min gap) with "
    "watermark. Complete output mode over the deterministic "
    "single-file bounded stream: emitted sessions equal the batch "
    "twin window_session_per_user, so the gaps-and-islands oracle "
    "checks the STREAMED output directly.",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        _read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    return _memory_sinktable(spark, agg, "stream_session", "complete", sf_dir=sf_dir)


_RUNNING_TOTALS_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       ROUND(SUM(COALESCE(value, 0)), 6) AS total_value,
       CAST(1 AS BIGINT) AS n_batches
FROM events
GROUP BY user_id
"""


@register(
    "stream_stateful_running_totals",
    oracle=_RUNNING_TOTALS_ORACLE,
    doc="applyInPandasWithState cumulative per-user totals: arbitrary "
    "Python state folded per micro-batch in the checkpointed state "
    "store (the Spark-native upgrade of the reference's in-memory "
    "Batcher buffer, batcher.py:49). Update mode emits one row per "
    "key per micro-batch; the single-batch bounded replay therefore "
    "emits each user's final totals exactly once with n_batches = 1, "
    "and the 6-decimal round absorbs pandas-vs-SQL float sum "
    "ordering — so the custom operator's output is oracle-checked.",
)
def stream_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rabbithole_spark.streaming.stateful import running_totals_with_state

    totals = running_totals_with_state(
        _read_events_stream(spark, sf_dir).groupBy("user_id")
    )
    return _memory_sinktable(spark, totals, "stream_state", "update", sf_dir=sf_dir)


@register(
    "stream_count_or_time_batcher",
    oracle=None,  # processing-time-dependent flush tagging — rows-only
    doc="Exact count-OR-time micro-batch flush as a stateful operator "
    "(applyInPandasWithState + ProcessingTimeTimeout): per-flow-key "
    "buffer flushes at size_limit rows or time_limit after the "
    "batch's first message, whichever first — full-fidelity parity "
    "with the reference Batcher (batcher.py:54-126) that triggers "
    "alone only approximate (SURVEY.md §4.3.2). Emits flushed rows "
    "tagged with the flush reason; state bounded at size_limit rows "
    "per key.",
)
def stream_count_or_time_batcher(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_count_or_time_batcher(spark, sf_dir)


def _run_count_or_time_batcher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE batcher execution shared by stream_count_or_time_batcher and
    stream_count_or_time_sizes (round-9 review): the sizes twin's
    oracle arithmetic ((n div 10)*10 size-flushes, n mod 10
    time-flushes) is a function of THIS configuration — a tuning change
    must hit both queries or neither."""
    from rabbithole_spark.streaming.stateful import (
        await_state_drained,
        count_or_time_batcher,
    )

    stream = _read_events_stream(spark, sf_dir).select(
        "event_type", "event_id", "user_id"
    )
    batched = count_or_time_batcher(
        stream.groupBy("event_type"),
        "event_type string, event_id long, user_id long",
        size_limit=10,
        # short limit so each key's sub-size leftover time-flushes and
        # the bounded replay drains; every input row exits exactly once.
        # 0.75 s (round 12, was 5.0): over the single-batch bounded
        # replay the flush ARITHMETIC is a function of size_limit only
        # — every key's rows arrive in one invocation, size-flushes
        # happen in-invocation, and the leftover time-flushes when its
        # timer fires regardless of the limit value (v1 timers fire
        # between micro-batches, never mid-invocation) — so the output
        # rows and tags are identical and the drain loop just stops
        # waiting out dead processing-time (~4.5 s per batcher query,
        # x2 queries sharing this config; guide §1.2).
        time_limit_s=0.75,
    )
    # availableNow does not end while timers are pending: stop once
    # the batcher's state has drained
    return _memory_sinktable(
        spark, batched, "stream_batcher", "append", sf_dir,
        wait=await_state_drained,
    )


_BATCHER_SIZES_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST((count(*) // 10) * 10 AS BIGINT) AS n_size_flushed,
       CAST(count(*) % 10 AS BIGINT) AS n_time_flushed,
       CAST(sum(event_id) AS BIGINT) AS sum_event_id
FROM events
GROUP BY event_type
"""


@register(
    "stream_count_or_time_sizes",
    oracle=_BATCHER_SIZES_ORACLE,
    doc="The count-dimension of the count-or-time batcher, hash-checked: "
    "runs the SAME stateful operator as stream_count_or_time_batcher "
    "(applyInPandasWithState, size_limit=10), then aggregates the "
    "tag-stripped output per flow key. Over a single-batch bounded "
    "replay the flush arithmetic is deterministic even though each "
    "row's flush TAG carries processing time: every key's rows arrive "
    "in one invocation, so exactly (n div 10)*10 rows size-flush and "
    "n mod 10 rows time-flush, and conservation (n_rows and the "
    "sum-of-event-ids checksum per key) pins that every input row "
    "exits exactly once, unduplicated. The oracle replays that "
    "arithmetic from the raw input — flipping the batcher family from "
    "rows-only to oracle-green on its SQL-expressible dimension.",
)
def stream_count_or_time_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _run_count_or_time_batcher(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("flush_reason") == "size", 1).otherwise(0)
            ).alias("n_size_flushed"),
            F.sum(
                F.when(F.col("flush_reason") == "time", 1).otherwise(0)
            ).alias("n_time_flushed"),
            F.sum("event_id").alias("sum_event_id"),
        )
    )


@register(
    "stream_dedup_watermark",
    oracle=_DISTINCT_KEYS_ORACLE,
    doc="Stateful streaming deduplication (dropDuplicates on user/type "
    "with watermark): first event per (user_id, event_type). Projects "
    "the key columns only — WHICH row survives is a partition-order "
    "race, but the surviving key set over the single-batch bounded "
    "replay is DISTINCT(user_id, event_type) (no state eviction "
    "within one micro-batch), so the dedup is oracle-checked.",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    dedup = (
        _read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _memory_sinktable(spark, dedup, "stream_dedup", "append", sf_dir=sf_dir)


_ATTRIBUTION_ORACLE = """
SELECT c.user_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts,
       p.value AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


@register(
    "join_attribution_clicks",
    oracle=_ATTRIBUTION_ORACLE,
    doc="Click-to-purchase attribution: event-time interval join (same "
    "user, purchase within 1h of click). Batch twin of "
    "stream_stream_interval_join; the equi-key on user_id keeps it a "
    "hash join with the range as a residual filter, not a theta join.",
)
def join_attribution_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").alias("c")
    purchases = ev.filter(F.col("event_type") == "purchase").alias("p")
    return clicks.join(
        purchases,
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("p.ts") >= F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.ts").alias("click_ts"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("p.value").alias("purchase_value"),
    )


def _click_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The streamed click-to-purchase interval join behind every
    stream_stream_* query: same-user purchase within 1h of the click,
    a 2h watermark on each side, and ``how`` as the batch join type."""
    ev = _read_events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"), F.col("ts").alias("click_ts")
    ).withWatermark("click_ts", "2 hours")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", "2 hours")
    cond = (
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return clicks.join(purchases, cond, how)


@register(
    "stream_stream_interval_join",
    oracle=_ATTRIBUTION_ORACLE,
    doc="Stream-stream inner join with watermarks on both sides and an "
    "event-time range condition (purchase within 1h of same-user "
    "click). Spark bounds both join-state buffers from the watermark "
    "+ interval, so state stays finite on infinite streams. Both "
    "sides arrive in the same single micro-batch of the bounded "
    "replay, so no match is watermark-evicted and the emitted match "
    "set equals the batch twin join_attribution_clicks — the twin's "
    "oracle checks the STREAMED output directly.",
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _click_purchase_join(spark, sf_dir, "inner").select(
        F.col("c_user_id").alias("user_id"), "click_ts", "purchase_ts", "purchase_value"
    )
    return _memory_sinktable(spark, joined, "stream_ssjoin", "append", sf_dir=sf_dir)


_OUTER_JOIN_ORACLE = """
WITH c AS (
  SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, ts AS purchase_ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
), wm AS (
  -- Spark tracks event-time stats in whole milliseconds (truncating),
  -- so the global watermark is the ms-floor of the bounded max
  SELECT date_trunc('milliseconds',
           least((SELECT max(click_ts) FROM c),
                 (SELECT max(purchase_ts) FROM p)))
         - INTERVAL 2 HOUR AS w
), matched AS (
  SELECT c.user_id, c.click_ts, p.purchase_ts, p.purchase_value
  FROM c JOIN p
    ON c.user_id = p.user_id
   AND p.purchase_ts >= c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
), unmatched AS (
  SELECT c.user_id, c.click_ts,
         CAST(NULL AS TIMESTAMP) AS purchase_ts,
         CAST(NULL AS DOUBLE) AS purchase_value
  FROM c, wm
  WHERE NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = c.user_id
            AND p.purchase_ts >= c.click_ts
            AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
    -- BOUNDARY (pinned by test_outer_join_watermark_boundary_eviction,
    -- which sweeps clicks whose window close lands 0 / -999us / -1ms
    -- around the exact watermark): Spark's StreamingJoinHelper derives
    -- the join-state value watermark with an explicit 1 ms rounding
    -- margin, so a click is evicted (and null-extends) iff
    --   click_ts + 1h + 1ms <= watermark
    -- — clicks inside the final 1 ms band stay buffered forever on a
    -- bounded run, exactly like clicks past the watermark itself.
    AND c.click_ts + INTERVAL 1 HOUR + INTERVAL 1 MILLISECOND <= wm.w
)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
"""


@register(
    "stream_stream_outer_join",
    oracle=_OUTER_JOIN_ORACLE,
    doc="Stream-stream LEFT OUTER interval join: matches emit as found; "
    "an unmatched click null-extends only once the event-time "
    "watermark proves no future purchase can match it. The oracle "
    "encodes that state-eviction semantics exactly: null rows are the "
    "unmatched clicks whose match window [click_ts, click_ts+1h] "
    "closed strictly before the final global watermark "
    "min(max(click_ts), max(purchase_ts)) - 2h; unmatched clicks "
    "inside the final horizon are still buffered at shutdown and "
    "never emit (the documented outer-join tail caveat — on an "
    "infinite stream they would emit as the watermark passes them). "
    "Deterministic over the single-batch bounded replay, so the full "
    "outer semantics, tail caveat included, are hash-checked.",
)
def stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _click_purchase_join(spark, sf_dir, "left_outer").select(
        F.col("c_user_id").alias("user_id"), "click_ts", "purchase_ts", "purchase_value"
    )
    return _memory_sinktable(spark, joined, "stream_ssouter", "append", sf_dir=sf_dir)


_LEFT_SEMI_ORACLE = """
SELECT c.user_id, c.ts AS click_ts
FROM events c
WHERE c.event_type = 'click'
  AND EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = c.user_id
          AND p.ts >= c.ts
          AND p.ts <= c.ts + INTERVAL 1 HOUR)
"""


@register(
    "stream_stream_left_semi",
    oracle=_LEFT_SEMI_ORACLE,
    doc="Stream-stream LEFT SEMI interval join (round-4 verdict follow-"
    "up): a click emits once — without purchase columns — as soon as "
    "any same-user purchase lands inside [click_ts, click_ts+1h]; "
    "unmatched clicks are dropped when the watermark closes their "
    "window, never emitted. Same bounded-single-batch determinism "
    "contract as the interval/outer twins: every match is visible in "
    "the one micro-batch, so the emitted set is exactly the EXISTS "
    "semi-join, hash-checked. State story at 100 TB: the semi join "
    "keeps only UNMATCHED left rows + the right-side window buffer "
    "(matched clicks leave state immediately), strictly smaller than "
    "the inner join's state.",
)
def stream_stream_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _click_purchase_join(spark, sf_dir, "left_semi").select(
        F.col("c_user_id").alias("user_id"), "click_ts"
    )
    return _memory_sinktable(spark, joined, "stream_sssemi", "append", sf_dir=sf_dir)


_FULL_OUTER_JOIN_ORACLE = """
WITH c AS (
  SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, ts AS purchase_ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
), wm AS (
  SELECT date_trunc('milliseconds',
           least((SELECT max(click_ts) FROM c),
                 (SELECT max(purchase_ts) FROM p)))
         - INTERVAL 2 HOUR AS w
), matched AS (
  SELECT c.user_id AS click_user_id, c.click_ts,
         p.user_id AS purchase_user_id, p.purchase_ts, p.purchase_value
  FROM c JOIN p
    ON c.user_id = p.user_id
   AND p.purchase_ts >= c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
), unmatched_clicks AS (
  SELECT c.user_id AS click_user_id, c.click_ts,
         CAST(NULL AS BIGINT) AS purchase_user_id,
         CAST(NULL AS TIMESTAMP) AS purchase_ts,
         CAST(NULL AS DOUBLE) AS purchase_value
  FROM c, wm
  WHERE NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = c.user_id
            AND p.purchase_ts >= c.click_ts
            AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
    -- click-side eviction pin (see _OUTER_JOIN_ORACLE): evicted iff
    -- its match window + Spark's 1 ms state-watermark margin has
    -- passed the final global watermark
    AND c.click_ts + INTERVAL 1 HOUR + INTERVAL 1 MILLISECOND <= wm.w
), unmatched_purchases AS (
  SELECT CAST(NULL AS BIGINT) AS click_user_id,
         CAST(NULL AS TIMESTAMP) AS click_ts,
         p.user_id AS purchase_user_id, p.purchase_ts, p.purchase_value
  FROM p, wm
  WHERE NOT EXISTS (
          SELECT 1 FROM c
          WHERE c.user_id = p.user_id
            AND p.purchase_ts >= c.click_ts
            AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
    -- purchase-side eviction pin (round-6 boundary sweep,
    -- tests/test_stateful_streaming.py): a purchase can only match
    -- clicks with click_ts <= purchase_ts, so its state dies when the
    -- watermark passes purchase_ts itself — with the same 1 ms
    -- StreamingJoinHelper margin as the click side. Measured: wm-1ms
    -- evicts; wm-1us, wm, wm+1ms stay buffered.
    AND p.purchase_ts + INTERVAL 1 MILLISECOND <= wm.w
)
SELECT * FROM matched
UNION ALL SELECT * FROM unmatched_clicks
UNION ALL SELECT * FROM unmatched_purchases
"""


@register(
    "stream_stream_full_outer",
    oracle=_FULL_OUTER_JOIN_ORACLE,
    doc="Stream-stream FULL OUTER interval join (round-5 verdict "
    "follow-up): matches emit as found; an unmatched CLICK "
    "null-extends once the watermark closes its [click_ts, "
    "click_ts+1h] match window (+1 ms margin), and an unmatched "
    "PURCHASE null-extends once the watermark passes purchase_ts "
    "itself (+1 ms margin) — the asymmetry falls out of the join "
    "condition: a purchase constrains matching clicks from below "
    "only, so its state watermark needs no interval offset. The "
    "oracle encodes BOTH eviction inequalities, so the bounded "
    "replay hash-checks the complete full-outer semantics including "
    "the still-buffered tail on each side. State story at 100 TB: "
    "identical buffers to the inner join; only the eviction path "
    "gains the null-emit, so full outer costs nothing extra in "
    "state.",
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _click_purchase_join(spark, sf_dir, "full_outer").select(
        F.col("c_user_id").alias("click_user_id"),
        "click_ts",
        F.col("p_user_id").alias("purchase_user_id"),
        "purchase_ts",
        "purchase_value",
    )
    return _memory_sinktable(spark, joined, "stream_ssfull", "append", sf_dir=sf_dir)


_RIGHT_OUTER_JOIN_ORACLE = """
WITH c AS (
  SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, ts AS purchase_ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
), wm AS (
  SELECT date_trunc('milliseconds',
           least((SELECT max(click_ts) FROM c),
                 (SELECT max(purchase_ts) FROM p)))
         - INTERVAL 2 HOUR AS w
), matched AS (
  SELECT c.user_id AS click_user_id, c.click_ts,
         p.user_id AS purchase_user_id, p.purchase_ts, p.purchase_value
  FROM c JOIN p
    ON c.user_id = p.user_id
   AND p.purchase_ts >= c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
), unmatched_purchases AS (
  SELECT CAST(NULL AS BIGINT) AS click_user_id,
         CAST(NULL AS TIMESTAMP) AS click_ts,
         p.user_id AS purchase_user_id, p.purchase_ts, p.purchase_value
  FROM p, wm
  WHERE NOT EXISTS (
          SELECT 1 FROM c
          WHERE c.user_id = p.user_id
            AND p.purchase_ts >= c.click_ts
            AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
    -- same purchase-side eviction pin as _FULL_OUTER_JOIN_ORACLE
    AND p.purchase_ts + INTERVAL 1 MILLISECOND <= wm.w
)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched_purchases
"""


@register(
    "stream_stream_right_outer",
    oracle=_RIGHT_OUTER_JOIN_ORACLE,
    doc="Stream-stream RIGHT OUTER interval join, completing the outer "
    "family (left r4, full r6): matches emit as found; an unmatched "
    "purchase null-extends once the watermark passes purchase_ts + "
    "the 1 ms StreamingJoinHelper margin (the purchase-side eviction "
    "inequality pinned by the round-6 boundary sweep); unmatched "
    "clicks are silently dropped from state. Bounded-replay "
    "deterministic, so the full semantics incl. the buffered tail "
    "are hash-checked.",
)
def stream_stream_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _click_purchase_join(spark, sf_dir, "right_outer").select(
        F.col("c_user_id").alias("click_user_id"),
        "click_ts",
        F.col("p_user_id").alias("purchase_user_id"),
        "purchase_ts",
        "purchase_value",
    )
    return _memory_sinktable(spark, joined, "stream_ssright", "append", sf_dir=sf_dir)


_ENRICH_ORACLE = f"""
SELECT c.c_nationkey,
       count(*) AS n_events,
       {sql_dsum("e.value", "total_value", 2)}
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_nationkey
"""


_STREAM_INGEST_DEDUP_ORACLE = """
SELECT d.doc_id, d.lang
FROM documents d
WHERE d.source <> 'src0'
  AND sha256(coalesce(d.text, '')) NOT IN (
        SELECT DISTINCT sha256(coalesce(text, ''))
        FROM documents WHERE source = 'src0')
"""


@register(
    "stream_ingest_dedup_against_corpus",
    oracle=_STREAM_INGEST_DEDUP_ORACLE,
    doc="STREAMING ingestion dedup against a static corpus: incoming "
    "documents (source <> src0) stream through a stream-static LEFT "
    "ANTI join on the content digest vs the already-ingested corpus "
    "(src0) — the crawl-ingest gate of dedup_incremental_new_docs as "
    "a continuous pipeline stage. The planner broadcasts the static "
    "digest set by size (32-byte keys only; at 100 TB swap in a "
    "Bloom-filter pre-pass or a shuffled anti join, same plan surgery "
    "as the batch twin), the "
    "stream side never re-shuffles, and append mode needs no state: "
    "each admitted doc emits exactly once. In-batch duplicates pass "
    "intentionally — within-stream dedup is stream_dedup_watermark's "
    "job; this stage only gates against the historical corpus. "
    "Digests hash coalesce(text,'') so NULL text cannot diverge the "
    "anti-join from the oracle's NOT IN.",
)
def stream_ingest_dedup_against_corpus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:

    sha = F.sha2(F.coalesce(F.col("text"), F.lit("")).cast("binary"), 256)
    corpus = (
        table(spark, sf_dir, "documents")
        .filter(F.col("source") == "src0")
        .select(sha.alias("content_hash"))
        .distinct()
    )
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    incoming = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
        .filter(F.col("source") != "src0")
        .withColumn("content_hash", sha)
    )
    admitted = incoming.join(corpus, "content_hash", "left_anti").select(
        "doc_id", "lang"
    )
    return _memory_sinktable(spark, admitted, "stream_ingdedup", "append", sf_dir=sf_dir)


@register(
    "stream_static_enrich",
    oracle=_ENRICH_ORACLE,
    doc="Stream-static join: the events stream enriched against the "
    "static customer dimension (broadcast by size — the static side "
    "never re-shuffles per micro-batch, Spark re-reads only changed "
    "files), then a watermarked per-nation revenue rollup. The standard "
    "dimension-enrichment shape for streaming ETL at scale; the "
    "static side stays a broadcast even on a 1000-executor cluster "
    "as long as the dimension fits the broadcast threshold. Complete "
    "mode + decimal-exact dsum make the bounded replay deterministic, "
    "so the streamed rollup is oracle-checked.",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:

    customers = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    enriched = (
        _read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .join(customers, "user_id")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "total_value", 2),
        )
    )
    return _memory_sinktable(spark, enriched, "stream_enrich", "complete", sf_dir=sf_dir)
