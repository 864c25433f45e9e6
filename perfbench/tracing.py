"""Measurement helpers: spans, self time, medians, the streaming
progress listener, Spark job counts, process-tree memory and steal.

Spans are recorded by the benchmark around its calls into the engine's
layers and kept in memory until the run ends (``Tracer.dump``). Nothing
here reaches into the engine's internals.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import threading
import time
from dataclasses import asdict, dataclass


def median(values) -> float:
    ordered = sorted(values)
    if not ordered:
        raise ValueError("median of no samples")
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: str


class Tracer:
    """In-memory span recorder. With ``enabled`` false every call is a
    no-op, so the untraced runs pay nothing for it."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._trace = "setup"

    def trace(self, trace_id: str) -> None:
        """Spans opened from now on belong to ``trace_id``."""
        self._trace = trace_id

    def span(self, name: str):
        return _SpanContext(self, name)

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> Span | None:
        """Record a finished span (for spans timed elsewhere, such as
        micro-batch phases reported by a listener)."""
        if not self.enabled:
            return None
        with self._lock:
            span = Span(len(self.spans), name, start, end, parent, self._trace)
            self.spans.append(span)
        return span

    def adopt_orphans(self) -> None:
        """Give each parentless span the innermost span that encloses it,
        so listener spans sit under the pass or query that ran them."""
        for span in self.spans:
            if span.parent is not None:
                continue
            holders = [
                s for s in self.spans
                if s is not span and s.start <= span.start and span.end <= s.end
                and s.end - s.start > span.end - span.start
            ]
            if holders:
                inner = min(holders, key=lambda s: s.end - s.start)
                span.parent, span.trace = inner.id, inner.trace

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by that span's children."""
        children: dict[int, list[Span]] = {}
        for span in self.spans:
            if span.parent is not None:
                children.setdefault(span.parent, []).append(span)
        totals: dict[str, float] = {}
        for span in self.spans:
            kids = [
                (max(c.start, span.start), min(c.end, span.end))
                for c in children.get(span.id, [])
                if c.end > span.start and c.start < span.end
            ]
            own = (span.end - span.start) - covered(kids)
            totals[span.name] = totals.get(span.name, 0.0) + own
        return totals

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for span in self.spans:
                fh.write(json.dumps(asdict(span)) + "\n")


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name
        self.span: Span | None = None

    def __enter__(self):
        if self.tracer.enabled:
            tracer = self.tracer
            parent = tracer._stack[-1].id if tracer._stack else None
            self.span = tracer.add(self.name, time.perf_counter(), math.inf, parent)
            tracer._stack.append(self.span)
        return self

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.span.end = time.perf_counter()
            self.tracer._stack.pop()


# --- streaming progress -------------------------------------------------------

#: micro-batch phases in the order MicroBatchExecution runs them
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def make_progress_listener(tracer: Tracer):
    """A StreamingQueryListener keeping each micro-batch's progress and,
    when tracing, one span per batch with a child span per phase."""
    from pyspark.sql.streaming import StreamingQueryListener

    # perf_counter and the epoch clock differ by a constant offset
    clock_offset = time.time() - time.perf_counter()

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            durations = {k: int(v) for k, v in (p.durationMs or {}).items()}
            started = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            start = started.timestamp() - clock_offset
            total = durations.get("triggerExecution", 0) / 1000
            batch = {
                "query": p.name or str(p.id),
                "rows": int(p.numInputRows or 0),
                "start": start,
                "end": start + total,
                "ms": durations,
            }
            with self._lock:
                self.batches.append(batch)
            span = tracer.add("streaming.batch", start, start + total)
            if span is not None:
                at = start
                for phase in BATCH_PHASES:
                    took = durations.get(phase, 0) / 1000
                    if took:
                        tracer.add(f"streaming.{phase}", at, at + took, span.id)
                        at += took

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def take(self) -> list[dict]:
            """Batches reported since the previous call."""
            with self._lock:
                taken, self.batches = self.batches, []
            return taken

    return ProgressListener()


# --- Spark job counts ---------------------------------------------------------


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs Spark ran under one job group, their stages (skipped ones
    included, as planned) and the tasks that ran."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for job_id in tracker.getJobIdsForGroup(group):
        jobs += 1
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        for stage_id in info.stageIds:
            stages += 1
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


# --- process-tree memory ------------------------------------------------------


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command) for every visible process."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read().decode("ascii", "replace")
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        comm = stat[stat.find("(") + 1 : stat.rfind(")")]
        procs[int(entry)] = (int(fields[1]), comm)
    return procs


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, with each page shared by
    n processes counted 1/n in each. Summed over a process tree it
    counts pages shared after a fork (Python workers forked from their
    daemon, a JVM forking a helper) once, where summed RSS counts them
    once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def descendants(root: int, procs=None) -> list[int]:
    """Pids of every process below ``root``."""
    procs = _processes() if procs is None else procs
    found = []
    for pid in procs:
        p = procs[pid][0]
        while p and p != root and p in procs:
            p = procs[p][0]
        if p == root:
            found.append(pid)
    return found


class PeakRss:
    """Samples the resident memory of this process and its descendants
    (the JVM and its Python workers) in a thread, as the sum of their
    proportional set sizes; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        #: MB per command name at the peak sample
        self.breakdown: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    def _run(self) -> None:
        root = os.getpid()
        while True:
            procs = _processes()
            sizes = {pid: _pss_bytes(pid) for pid in [root, *descendants(root, procs)]}
            total = sum(sizes.values())
            if total > self.peak:
                self.peak = total
                self.breakdown = {}
                for pid, size in sizes.items():
                    name = "driver" if pid == root else procs[pid][1]
                    self.breakdown[name] = self.breakdown.get(name, 0) + size / 2**20
            if self._stop.wait(self.interval):
                return

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# --- run context --------------------------------------------------------------


def steal_jiffies() -> int:
    """Cumulative hypervisor steal from /proc/stat (the cpu line, field 8)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])
