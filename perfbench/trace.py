"""Operation timing and span tracing.

:class:`Tracer` times every operation of a workload.  With tracing on
it also records spans — name, start, end, parent and the id of the
operation that caused them — kept in memory and written out at the
end.  Spans are recorded from the benchmark's side only: ``install``
wraps the public functions of each package layer at its boundary (the
metadata store ``fs_for`` returns, the catalog, the staging commit,
zone statistics, partitioning, the zone-map filter and the collection
``query`` planners).  Spark jobs are read back from the event log
afterwards (``sparklog.py``) and joined to operations by time."""

from __future__ import annotations

import contextlib
import threading
import time
from collections import Counter, defaultdict

from .helpers import Span


class Op:
    __slots__ = ("oid", "cls", "start", "end", "wall", "traced")

    def __init__(self, oid: int, cls: str, traced: bool):
        self.oid, self.cls, self.traced = oid, cls, traced
        self.start = self.end = self.wall = 0.0


class Tracer:
    """Operation timings always; spans and counts while ``tracing``."""

    def __init__(self, spark=None, *, traced: bool = False):
        self.spark = spark
        self.traced = traced
        self.tracing = False
        self.ops: list[Op] = []
        self.spans: list[Span] = []
        self.counts: dict[int, Counter] = defaultdict(Counter)
        self._current: "Op | None" = None
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- operations ---------------------------------------------------
    @contextlib.contextmanager
    def op(self, cls: str):
        """Time one operation of class ``cls``; label its Spark jobs."""
        rec = Op(len(self.ops), cls, self.tracing)
        labelled = self.tracing and self.spark is not None
        if labelled:
            self.spark.sparkContext.setJobGroup(f"op-{rec.oid}", cls)
        self._current = rec
        rec.start = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec.wall = time.perf_counter() - t0
            rec.end = time.time()
            self._current = None
            self.ops.append(rec)
            if labelled:
                self.spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", None)

    def walls(self, cls: str, traced: "bool | None" = None) -> list[float]:
        return [o.wall for o in self.ops if o.cls == cls
                and (traced is None or o.traced == traced)]

    # -- spans --------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span under the current operation; no-op while not
        tracing or outside an operation."""
        rec = self._current
        if not self.tracing or rec is None:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1].sid if stack else None
        with self._lock:
            span = Span(name, time.time(), 0.0, rec.oid, parent,
                        len(self.spans))
            self.spans.append(span)
        stack.append(span)
        try:
            yield span
        finally:
            stack.pop()
            span.end = time.time()

    def count(self, name: str, n: int = 1) -> None:
        rec = self._current
        if self.tracing and rec is not None:
            with self._lock:
                self.counts[rec.oid][name] += n

    def in_span(self, prefix: str) -> bool:
        """Whether this thread is inside a span named ``prefix...``."""
        stack = getattr(self._local, "stack", None) or []
        return any(s.name.startswith(prefix) for s in stack)
