"""Flow metrics listener: per-micro-batch row counts from Spark's own
progress events."""

from __future__ import annotations

import time
import uuid

from pyspark.sql import functions as F

from rabbithole_spark.session import table
from rabbithole_spark.streaming.metrics import attach_metrics

SF = "/root/testdata/sf0.001"


def test_listener_collects_batch_metrics(spark, tmp_path):
    src = str(tmp_path / "metrics_src")
    ev = table(spark, SF, "events").select("user_id", "value")
    ev.coalesce(1).write.parquet(src)
    n_rows = ev.count()

    listener = attach_metrics(spark)
    name = f"metrics_{uuid.uuid4().hex[:8]}"
    try:
        q = (
            spark.readStream.schema("user_id long, value double")
            .format("parquet").load(src)
            .groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        # listener callbacks are async — poll briefly
        deadline = time.time() + 30
        while time.time() < deadline:
            m = listener.flows.get(name)
            if m and m.batches > 0:
                break
            time.sleep(0.5)
        m = listener.flows.get(name)
        assert m is not None and m.batches >= 1
        assert m.total_rows == n_rows
        assert m.last_duration_ms >= 0
        assert sum(m.per_batch_rows) == n_rows
    finally:
        spark.streams.removeListener(listener)


def test_listener_keys_unnamed_queries_consistently():
    """PySpark 4's QueryStartedEvent.id is a uuid.UUID while progress
    events stringify — both callbacks must normalize to str or every
    unnamed query grows a phantom zero-metric second entry."""
    import uuid as _uuid

    from rabbithole_spark.streaming.metrics import FlowMetricsListener

    qid = _uuid.uuid4()

    class Started:
        name = None
        id = qid

    class Progress:
        name = None
        id = qid
        numInputRows = 7
        durationMs = {"triggerExecution": 3}
        eventTime = {}

    class ProgressEvent:
        progress = Progress()

    listener = FlowMetricsListener()
    listener.onQueryStarted(Started())
    listener.onQueryProgress(ProgressEvent())
    assert len(listener.flows) == 1, listener.flows
    (m,) = listener.flows.values()
    assert m.batches == 1 and m.total_rows == 7


def test_per_batch_rows_history_is_bounded():
    from rabbithole_spark.streaming.metrics import FlowMetricsListener

    class Progress:
        name = "f"
        id = "x"
        numInputRows = 1
        durationMs = {}
        eventTime = {}

    class Event:
        progress = Progress()

    listener = FlowMetricsListener()
    for _ in range(5000):
        listener.onQueryProgress(Event())
    m = listener.flows["f"]
    assert m.total_rows == 5000  # running totals keep full history
    assert len(m.per_batch_rows) == 1000  # raw history stays bounded
