"""Spans, a tracing store wrapper, Spark event-log folding and the
percentile rule — everything the traced run needs, on the stdlib alone.

* ``Tracer`` keeps spans (name, start, end, parent, thread) in memory and
  computes each span's self time.
* ``TracingStore`` wraps the ``SnapshotStore`` handed to ``CrawlDriver``:
  every ``write``/``append``/``read`` becomes a span, and the Spark job
  description is set to the span name in the calling thread, so jobs the
  crawl's threaded commits submit carry their table's label in the log.
* ``fold_event_log`` reads an uncompressed, non-rolling Spark event log
  and folds job, stage and task events by job description.
"""

from __future__ import annotations

import json
import math
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

DESCRIPTION = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    thread: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """In-memory spans.  Nesting follows a per-thread stack; a span opened
    in a thread with an empty stack hangs under ``root`` (the crawl's
    commit threads start with nothing on their stack)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.root: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def start(self, name: str, **attrs) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            span = Span(len(self.spans), name, time.time(), None, parent,
                        threading.current_thread().name, attrs)
            self.spans.append(span)
        stack.append(span.id)
        return span

    def finish(self, span: Span) -> None:
        span.end = time.time()
        self._stack().remove(span.id)

    @contextmanager
    def span(self, name: str, **attrs):
        span = self.start(name, **attrs)
        try:
            yield span
        finally:
            self.finish(span)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover (children
        in several threads may overlap; their union counts once)."""
        covered = union_length(
            [(max(c.start, span.start), min(c.end, span.end))
             for c in self.children(span) if c.end is not None])
        return span.duration - covered

    def to_json(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "thread": s.thread,
                 "self_s": self.self_time(s), **s.attrs}
                for s in self.spans]


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@contextmanager
def labelled(sc, label: str):
    """Set the calling thread's Spark job description for a block, then
    restore the previous one."""
    prev = sc.getLocalProperty(DESCRIPTION)
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


class TracingStore:
    """A ``SnapshotStore`` whose ``write``/``append``/``read`` calls are
    spans named ``tables.<op>.<table>``; every other attribute passes
    through unchanged."""

    def __init__(self, store, tracer: Tracer) -> None:
        self._store = store
        self._tracer = tracer
        self._sc = store.spark.sparkContext

    def __getattr__(self, name):
        return getattr(self._store, name)

    def _traced(self, op: str, table: str, call):
        label = f"tables.{op}.{table}"
        with self._tracer.span(label, table=table, op=op), \
                labelled(self._sc, label):
            return call()

    def write(self, name, df, meta=None):
        return self._traced("write", name,
                            lambda: self._store.write(name, df, meta))

    def append(self, name, delta, meta=None, **kw):
        return self._traced("append", name,
                            lambda: self._store.append(name, delta, meta,
                                                       **kw))

    def read(self, name, snapshot=None):
        return self._traced("read", name,
                            lambda: self._store.read(name, snapshot))

    def read_or_none(self, name):
        return self.read(name) if self._store.exists(name) else None


def chain_length(store, name: str, snapshot: str | None) -> int:
    """Number of snapshots a read of ``name`` at ``snapshot`` resolves
    (append deltas chain through their ``parent`` meta)."""
    n = 0
    while snapshot:
        n += 1
        snapshot = store.meta(name, snapshot).get("parent")
    return n


# -- event log ----------------------------------------------------------------

_KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd",
         "SparkListenerStageCompleted", "SparkListenerTaskEnd")


@dataclass
class LabelStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_ms: list = field(default_factory=list)

    @property
    def task_skew(self) -> float:
        """Slowest task over the median task (1.0 with no tasks)."""
        if not self.task_ms:
            return 1.0
        return max(self.task_ms) / max(statistics.median(self.task_ms), 1)


@dataclass
class Job:
    id: int
    label: str | None
    submit_ms: int
    end_ms: int | None = None
    stages: int = 0
    tasks: int = 0
    executor_ms: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    labels: dict[str, LabelStats]


def fold_event_log(lines) -> EventLog:
    """Fold job/stage/task events by the job description each job was
    submitted under (``None`` for unlabelled jobs).  Lines of other event
    types are skipped without being parsed."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    labels: dict[str | None, LabelStats] = {}

    def stats(job_id: int | None) -> LabelStats:
        label = jobs[job_id].label if job_id in jobs else None
        return labels.setdefault(label, LabelStats())

    for line in lines:
        head = line[:64]
        if not any(k in head for k in _KEEP):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"],
                      (ev.get("Properties") or {}).get(DESCRIPTION),
                      ev["Submission Time"])
            jobs[job.id] = job
            for sid in ev["Stage IDs"]:
                stage_job[sid] = job.id
            stats(job.id).jobs += 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            job_id = stage_job.get(ev["Stage Info"]["Stage ID"])
            stats(job_id).stages += 1
            if job_id in jobs:
                jobs[job_id].stages += 1
        elif kind == "SparkListenerTaskEnd":
            job_id = stage_job.get(ev["Stage ID"])
            s = stats(job_id)
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            s.tasks += 1
            s.executor_ms += run_ms
            s.shuffle_read_bytes += (rd.get("Remote Bytes Read", 0)
                                     + rd.get("Local Bytes Read", 0))
            s.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}
                                      ).get("Shuffle Bytes Written", 0)
            s.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0))
            s.task_ms.append(info["Finish Time"] - info["Launch Time"])
            if job_id in jobs:
                jobs[job_id].tasks += 1
                jobs[job_id].executor_ms += run_ms
    return EventLog(jobs, labels)


# -- percentile rule ----------------------------------------------------------

TAIL_PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def supported_percentile(n: int, beyond: int = 10) -> float | None:
    """Highest of ``TAIL_PERCENTILES`` with at least ``beyond`` of ``n``
    samples above it, or None when even the median has fewer."""
    best = None
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= beyond:
            best = p
    return best


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples (the
    rounding keeps 99.9% of 10000 from landing one rank too high)."""
    return max(1, math.ceil(round(p * n / 100, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    return sorted(values)[_rank(p, len(values)) - 1]
