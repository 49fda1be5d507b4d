"""The tail-percentile rule for per-op latencies."""

from __future__ import annotations

#: a tail percentile is reported only where this many samples lie beyond it
TAIL_BEYOND = 10


def tail_percentile(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """Highest nearest-rank percentile with at least ``beyond`` samples
    above it, as ``(percentile, value)``; None when there are too few
    samples for any.

    The nearest-rank p-th percentile is the sample of rank
    ceil(p/100 * n); the highest rank r with n - r >= beyond is
    n - beyond, i.e. p = 100 * (n - beyond) / n.
    """
    n = len(samples)
    if n <= beyond:
        return None
    rank = n - beyond
    return 100.0 * rank / n, sorted(samples)[rank - 1]
