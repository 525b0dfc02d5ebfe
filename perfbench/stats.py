"""Summary statistics for benchmark samples.

Timings are reported as a median and one tail percentile. The tail is the
highest percentile that still has at least ``MIN_BEYOND`` samples above it
(choosing-metrics rule), so its name depends on how many warm item samples
a run collects; ``tail_pct`` computes it and the tests pin the value the
workloads are sized for.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolation percentile (numpy's default), pct in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n_samples: int, min_beyond: int = MIN_BEYOND) -> int:
    """Highest whole percentile with at least ``min_beyond`` of
    ``n_samples`` above it; 0 when there are too few samples for any."""
    if n_samples < min_beyond:
        return 0
    return max(0, math.floor(100.0 * (1.0 - min_beyond / n_samples)))
