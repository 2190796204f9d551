"""Summary statistics the benchmark reports: medians, the tail rule,
interval coverage (self time and driver gap), failure accounting and
tracing overhead. Pure functions, so the benchmark's own tests can pin them.
"""

import statistics

TAIL_BEYOND = 10


def median(xs):
    """Median of a non-empty sequence."""
    return statistics.median(xs)


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (percentile, value): value is the sorted sample at rank
    n - beyond (1-based), so exactly `beyond` samples rank above it, and
    percentile = 100 * (n - beyond) / n. None when n <= beyond.
    """
    n = len(xs)
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n, sorted(xs)[n - beyond - 1]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of (start, end) intervals."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    return (span["end"] - span["start"]) - covered(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def failures(ops):
    """(attempted, failed): an op fails on an exception or a wrong answer."""
    return len(ops), sum(1 for o in ops if not o["ok"])


def ok_ratio(attempted, failed):
    """Share of attempted operations that succeeded with a correct answer."""
    return (attempted - failed) / attempted


def overhead(traced, untraced):
    """Traced median over untraced median, minus one; None without both."""
    if not traced or not untraced:
        return None
    return median(traced) / median(untraced) - 1.0
