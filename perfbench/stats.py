"""Order statistics used by the report."""
import math

# samples that must lie beyond a reported percentile
BEYOND = 10


def percentile(samples, p):
    """Nearest-rank p-th percentile, or None when fewer than BEYOND
    samples lie beyond it (a p50 needs 20 samples, a p90 needs 100)."""
    n = len(samples)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100 * n))
    if n - rank < BEYOND:
        return None
    return sorted(samples)[rank - 1]


def highest_percentile(samples, candidates=(99.9, 99, 90, 50)):
    """(p, value) for the highest candidate percentile the samples allow."""
    for p in candidates:
        v = percentile(samples, p)
        if v is not None:
            return p, v
    return None, None

