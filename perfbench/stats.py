"""Order statistics for the benchmark's reports."""
import math


class TooFewSamples(ValueError):
    pass


MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank p-th percentile of `values`. Refuses (raises
    TooFewSamples) when fewer than MIN_BEYOND samples lie beyond the
    reported rank, so p50 needs 20 samples and p99 needs 1000."""
    n = len(values)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        raise TooFewSamples("p%g of %d samples has %d beyond it; need %d"
                            % (p, n, max(n - rank, 0), MIN_BEYOND))
    return sorted(values)[rank - 1]
