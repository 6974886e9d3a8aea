"""Order statistics for the benchmark's timings."""

from __future__ import annotations

import math
import statistics

#: a reported percentile needs at least this many samples beyond it
MIN_TAIL = 10


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: float, min_tail: int = MIN_TAIL) -> float | None:
    """The ``q``-quantile (nearest rank) of ``values``, or ``None`` when
    fewer than ``min_tail`` samples lie beyond it: such a tail is one or two
    unlucky samples, not a percentile."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(q * len(xs)))  # 1-based nearest rank
    if len(xs) - rank < min_tail:
        return None
    return float(xs[rank - 1])
