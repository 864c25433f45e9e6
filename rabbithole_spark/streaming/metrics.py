"""Per-flow streaming observability via StreamingQueryListener.

The reference's only observability is log lines; here every flow gets
structured per-micro-batch metrics (rows in, processed rate, batch
duration, watermark) collected from Spark's own progress events — the
numbers an operator dashboards at scale. Listener callbacks run on the
driver and must stay cheap; aggregation is in-memory per query id.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class FlowMetrics:
    name: str
    batches: int = 0
    total_rows: int = 0
    last_batch_rows: int = 0
    last_duration_ms: int = 0
    last_watermark: str = ""
    #: bounded history — a 1 s trigger appends ~86k entries/day, so an
    #: unbounded list would be a steady driver memory leak on a
    #: long-running flow; running totals live in the fields above
    per_batch_rows: deque[int] = field(
        default_factory=lambda: deque(maxlen=1000)
    )


class FlowMetricsListener(StreamingQueryListener):
    """Collects per-query micro-batch progress into FlowMetrics."""

    def __init__(self) -> None:
        self.flows: dict[str, FlowMetrics] = {}

    # -- StreamingQueryListener interface ---------------------------------
    def onQueryStarted(self, event) -> None:
        # str(event.id): PySpark 4 returns uuid.UUID here while the
        # progress event's p.id stringifies — mixed key types would
        # give every unnamed query a phantom zero-metric second entry
        key = event.name or str(event.id)
        self.flows.setdefault(key, FlowMetrics(name=key))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        key = p.name or str(p.id)
        m = self.flows.setdefault(key, FlowMetrics(name=key))
        m.batches += 1
        m.last_batch_rows = int(p.numInputRows or 0)
        m.total_rows += m.last_batch_rows
        m.per_batch_rows.append(m.last_batch_rows)
        duration = p.durationMs or {}
        m.last_duration_ms = int(duration.get("triggerExecution", 0))
        m.last_watermark = (p.eventTime or {}).get("watermark", "")

    def onQueryIdle(self, event) -> None:  # pragma: no cover - passive
        pass

    def onQueryTerminated(self, event) -> None:  # pragma: no cover - passive
        pass


def attach_metrics(spark: SparkSession) -> FlowMetricsListener:
    """Register a listener on the session; returns it for inspection.
    Call ``spark.streams.removeListener(listener)`` when done."""
    listener = FlowMetricsListener()
    spark.streams.addListener(listener)
    return listener

