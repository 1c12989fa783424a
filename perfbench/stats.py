"""The benchmark's arithmetic: summaries of timing samples, failure shares
and seed handling.  `selftest.py` checks each function."""
import math
from fractions import Fraction
import statistics

# Percentiles tried, highest first, for the tail figure of a sample.
TAIL_LADDER = (99.9, 99.0, 90.0, 75.0, 50.0)


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples, in exact
    arithmetic (99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    return sorted(xs)[_rank(p, len(xs)) - 1]


def tail(xs, beyond=10):
    """The highest percentile of TAIL_LADDER that has at least `beyond`
    samples above it, as (p, value); None when the sample is too small."""
    n = len(xs)
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= beyond:
            return p, percentile(xs, p)
    return None


def failure_share(failed, attempted):
    """Operations that threw or failed their check over operations attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


def parse_seed(text):
    """A workload seed: a non-negative integer that fits a signed 64-bit long
    (the JVM side seeds `scala.util.Random` with it)."""
    seed = int(text)
    if not 0 <= seed < 2 ** 63:
        raise ValueError(f"seed {seed} outside 0..2^63-1")
    return seed
