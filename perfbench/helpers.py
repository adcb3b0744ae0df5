"""Pure helpers of the benchmark: statistics, span arithmetic, metric
names and operation accounting.  Nothing here touches Spark, so the
benchmark's own tests (``test_helpers.py``) cover it without a session."""

from __future__ import annotations

import re
import statistics
import zlib
from dataclasses import dataclass, field

#: Every metric name the benchmark prints matches this.
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

#: A tail percentile needs this many samples beyond it.
TAIL_BEYOND = 10


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.fullmatch(name) or len(name) > 64:
        raise ValueError(f"bad metric name {name!r}")
    return name


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values, beyond: int = TAIL_BEYOND) -> "tuple[float, float, int]":
    """``(value, percentile, n)``: the highest order statistic with at
    least ``beyond`` samples above it, the percentile it sits at and the
    sample count.  Fewer than ``beyond + 1`` samples leave no such
    statistic: the maximum is returned at percentile 100."""
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return float(ordered[-1]), 100.0, n
    rank = n - beyond  # 1-based rank of the statistic
    return float(ordered[rank - 1]), 100.0 * rank / n, n


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
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


def clip(intervals, start: float, end: float) -> list:
    """The parts of ``intervals`` inside ``[start, end]``."""
    return [(max(s, start), min(e, end)) for s, e in intervals
            if e > start and s < end]


@dataclass
class Span:
    name: str
    start: float
    end: float
    op: int
    parent: "int | None" = None
    sid: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children) -> float:
    """``span``'s duration minus the part of it its children cover;
    overlapping children (pooled threads) are counted once."""
    covered = union_length(clip([(c.start, c.end) for c in children],
                                span.start, span.end))
    return span.duration - covered


def row_crc(*fields) -> int:
    """CRC-32 of the ``|``-joined text of one row: the per-row term of
    the order-independent content digest (Spark computes the same with
    ``crc32(concat_ws('|', ...))``)."""
    return zlib.crc32("|".join(map(str, fields)).encode())


@dataclass
class OpLedger:
    """Attempted and failed operations.  An operation fails when it
    raises or when its checked output differs from the expectation."""
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def record(self, op: str, got=None, expected=None,
               error: "BaseException | None" = None) -> bool:
        self.attempted += 1
        if error is not None:
            reason = f"{type(error).__name__}: {error}"
        elif got != expected:
            reason = f"got {got!r}, expected {expected!r}"
        else:
            return True
        self.failed += 1
        self.failures.append(f"{op}: {reason}"[:400])
        return False

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
