"""Latency summaries: the median and the tail-percentile rule."""

from __future__ import annotations

import statistics

# a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def p50(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it, as ``(value, percentile, n)``; None when there are not
    enough samples for any percentile to qualify.

    Nearest rank: the k-th smallest of n samples is the ``100*k/n``
    percentile and has ``n - k`` samples beyond it, so the answer is
    the ``(n - 10)``-th smallest.
    """
    n = len(values)
    k = n - TAIL_BEYOND
    if k < 1:
        return None
    return sorted(values)[k - 1], 100.0 * k / n, n
