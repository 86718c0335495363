"""Small summary statistics for the benchmark's series."""

from __future__ import annotations

import statistics
from typing import Optional, Sequence


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(samples: Sequence[float], beyond: int = 10) -> Optional[dict]:
    """The highest percentile that has at least ``beyond`` samples above
    it: with n sorted samples that is the value at rank n - beyond, the
    (100 * (n - beyond) / n)-th percentile. None when n <= beyond."""
    n = len(samples)
    if n <= beyond:
        return None
    ordered = sorted(samples)
    rank = n - beyond
    return {
        "percentile": 100.0 * rank / n,
        "value": ordered[rank - 1],
        "samples": n,
        "beyond": beyond,
    }
