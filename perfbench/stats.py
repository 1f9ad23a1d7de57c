"""Percentiles for the benchmark, by one rule.

A tail percentile is reported only when at least ``MIN_BEYOND`` samples lie
beyond it; otherwise ``tail`` refuses, and the run must be sized up instead
of reporting a tail made of a handful of samples.
"""

import math
import statistics

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def rank(n, q):
    """1-based nearest rank of the q-quantile among n sorted samples."""
    if n < 1:
        raise TooFewSamples("no samples")
    return min(n, max(1, math.ceil(q * n)))


def beyond(n, q):
    """How many of n samples lie above the nearest-rank q-quantile."""
    return n - rank(n, q)


def nearest_rank(values, q):
    s = sorted(values)
    return s[rank(len(s), q) - 1]


def tail(values, q, min_beyond=MIN_BEYOND):
    """The nearest-rank q-quantile, refusing unless ``min_beyond`` samples lie
    beyond it (p90 needs at least 100 samples)."""
    n = len(values)
    if n < 1 or beyond(n, q) < min_beyond:
        raise TooFewSamples(
            f"p{q * 100:g} of {n} samples has {beyond(n, q) if n else 0} beyond it, "
            f"fewer than {min_beyond}")
    return nearest_rank(values, q)


def median(values):
    if not values:
        raise TooFewSamples("no samples")
    return statistics.median(values)
