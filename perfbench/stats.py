"""Summary statistics shared by the workloads: median, the tail-percentile
rule, failure counting and span self time.

Kept free of Spark imports so the unit tests run without a JVM.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass

# A tail percentile is only reported where at least this many samples lie
# beyond it; below that it would be the maximum of a handful of samples.
TAIL_BEYOND = 10


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def tail_percentile(values, beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """The highest percentile that still has at least ``beyond`` samples
    strictly above its rank, as ``(percentile, value)``.

    With ``n`` sorted samples the value at 0-based rank ``n - beyond - 1``
    has exactly ``beyond`` samples after it, and is the
    ``100 * (n - beyond) / n``-th percentile (nearest-rank).  Returns None
    when ``n <= beyond``: no percentile has enough samples beyond it.
    """
    vals = sorted(values)
    n = len(vals)
    if n <= beyond:
        return None
    rank = n - beyond - 1
    return 100.0 * (rank + 1) / n, float(vals[rank])


@dataclass
class FailureCount:
    """Operations attempted and failed in one run.  An operation fails when
    it raises or when its output check finds a mismatch."""

    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def covered_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of its
    interval covered by its direct children (overlapping children are
    counted once).  ``spans`` are objects with ``id``, ``parent``, ``start``
    and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered_length(children.get(s.id, ()), s.start, s.end)
        for s in spans
    }
