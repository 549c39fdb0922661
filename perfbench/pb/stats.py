"""Summary statistics with the benchmark's reporting rules.

- The median is always reported; the tail is the highest of p90 and p75
  that has at least ten samples beyond it, with its sample count.
- A failed operation counts as missing any latency limit: it enters the
  latency samples as `fail_latency` (the whole measured window), never as
  a fast sample, and it counts in `failed`.
"""
import math
import statistics

import numpy as np

MIN_BEYOND = 10
HD_MAX_SAMPLES = 5000
HD_GRID = 64  # integration points per sample interval


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


TAIL_QUANTILES = (0.90, 0.75)


def tail(xs):
    """(q, value) of the highest of TAIL_QUANTILES that has at least
    MIN_BEYOND samples beyond it, or (None, None) when neither has."""
    for q in TAIL_QUANTILES:
        try:
            return q, percentile(xs, q)
        except ValueError:
            pass
    return None, None


def harrell_davis(xs, q):
    """Harrell–Davis estimate of quantile q: a Beta((n+1)q, (n+1)(1-q))
    weighted mean of all order statistics, which varies less between runs
    than a single order statistic when the samples are few and clustered
    (a pass's Spark jobs come in a few kinds of different durations)."""
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    grid = np.linspace(0.0, 1.0, HD_GRID * n + 1)[1:-1]
    logpdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    pdf = np.concatenate([[0.0], np.exp(logpdf - logpdf.max()), [0.0]])
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    weights = np.diff(cdf[::HD_GRID] / cdf[-1])
    return float(weights @ x)


def quantile(xs, q):
    """Quantile q (in (0, 1)): Harrell–Davis up to HD_MAX_SAMPLES samples,
    linear interpolation between the two nearest order statistics beyond
    (where both agree to well within a sample's spacing)."""
    s = sorted(xs)
    if len(s) <= HD_MAX_SAMPLES:
        return harrell_davis(s, q)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    return s[lo] + (s[lo + 1] - s[lo]) * (pos - lo)


def percentile(xs, q):
    """`quantile(xs, q)`, refused (ValueError) unless at least MIN_BEYOND
    samples lie above the value."""
    if len(xs) > MIN_BEYOND:
        v = quantile(xs, q)
        if sum(1 for x in xs if x > v) >= MIN_BEYOND:
            return v
    raise ValueError(f"p{round(q * 100)} of {len(xs)} samples has fewer "
                     f"than {MIN_BEYOND} samples beyond it")


def latencies(samples, fail_latency):
    """`samples` is a list of (seconds, ok). Returns (values, attempted,
    failed), where a failed sample's value is `fail_latency`."""
    values = [s if ok else fail_latency for s, ok in samples]
    failed = sum(1 for _, ok in samples if not ok)
    return values, len(samples), failed


def backlog_grew(backlogs, slack=5):
    """True when the source backlog (appended but not yet processed
    generator ticks, one value per micro-batch) rose between the first and
    the last third of the run by more than `slack` ticks and by more than
    half its early level — a rate the query does not keep up with."""
    if len(backlogs) < 3:
        return False
    third = len(backlogs) // 3
    early = statistics.mean(backlogs[:third])
    late = statistics.mean(backlogs[-third:])
    return late - early > max(slack, 0.5 * early)


def generator_behind(lateness, limit_s):
    """True when the open-loop generator appended more than 1% of its
    ticks later than `limit_s` after their due time."""
    return sum(1 for x in lateness if x > limit_s) * 100 > len(lateness)
