"""The benchmark's arithmetic: percentiles, span self time, open-loop
latency and failure accounting. Pure functions, tested in
``test_stats.py``."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

#: A tail percentile must leave at least this many samples ranked beyond it.
MIN_BEYOND = 10


def median(values: Iterable[float]) -> float:
    return float(statistics.median(list(values)))


def tail(values: Sequence[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least ``min_beyond`` samples
    ranked beyond it: ``(value, percentile, sample_count)``.

    With ``n`` sorted samples the value of rank ``n - min_beyond``
    (1-based) has exactly ``min_beyond`` samples after it, which makes
    it the ``100 * (n - min_beyond) / n``-th percentile. When that
    percentile would not lie above the median (``n <= 2 * min_beyond``)
    the samples are too few for a tail; the maximum is returned with
    percentile 100, and the caller reports the sample count with it.
    """
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    ordered = sorted(values)
    if n <= 2 * min_beyond:
        return float(ordered[-1]), 100.0, n
    return float(ordered[n - min_beyond - 1]), 100.0 * (n - min_beyond) / n, n


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of ``[start, end]`` covered by
    its children. Overlapping children count once, and the parts of a
    child outside the span do not count."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in children if e > start and s < end)
    covered = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def due_latencies(due: Sequence[float], committed: Sequence[float | None]) -> list[float]:
    """Open-loop latency of each arrival: the commit time of the
    micro-batch that wrote it minus the time it was due, not the time
    the generator got round to sending it, so a stall charges every
    arrival queued behind it. An arrival never committed is an error
    for the caller to count as a failure, not a sample."""
    if len(due) != len(committed):
        raise ValueError("one commit time per due time")
    out = []
    for d, c in zip(due, committed):
        if c is None:
            raise ValueError("arrival never committed")
        out.append(c - d)
    return out


def failed_fraction(failed: int, attempted: int) -> float:
    """Failed operations (queries or micro-batches) over attempted ones."""
    if attempted <= 0:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must be within [0, attempted]")
    return failed / attempted
