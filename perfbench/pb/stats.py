"""Summary statistics used by every workload."""

from __future__ import annotations

import statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(values, min_beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has ``min_beyond`` samples
    above it: with ``n`` sorted samples it is the ``(n - min_beyond)``-th
    smallest, i.e. percentile ``100 * (n - min_beyond) / n`` (p90 at
    n = 100, p50 at n = 20). Returns ``(percentile, value, n)``.

    A run with too few samples for that (``n <= min_beyond``) reports
    its slowest sample as percentile 100, so the tail is never empty."""
    xs = sorted(float(v) for v in values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail_percentile needs at least one sample")
    k = n - min_beyond
    if k < 1:
        return 100.0, xs[-1], n
    return 100.0 * k / n, xs[k - 1], n

