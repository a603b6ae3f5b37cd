"""Summary statistics with the benchmark's sample-size rule."""
import math
import statistics


class TooFewSamples(ValueError):
    """A percentile was asked of a sample too small to support it."""


MIN_BEYOND = 10


def percentile(values, p):
    """The p-th percentile (nearest rank) of `values`.

    Refuses, with TooFewSamples, a percentile that fewer than MIN_BEYOND
    samples lie beyond: such a tail figure is one or two samples and
    repeats no better than chance.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise TooFewSamples(f"p{p} of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * n))
    beyond = n - rank
    if beyond < MIN_BEYOND:
        raise TooFewSamples(
            f"p{p} of {n} samples has {beyond} beyond it; at least {MIN_BEYOND} are needed")
    return xs[rank - 1]


def median(values):
    return statistics.median(values)

