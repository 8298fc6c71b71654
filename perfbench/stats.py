"""Summary statistics and operation accounting for the benchmark."""

import math

# A tail is reported at the highest percentile that still leaves at
# least TAIL_BEYOND samples above it, so a run with few operations never
# reports a "p99" that is really its single slowest sample.  With
# 2 * TAIL_BEYOND samples or fewer that percentile is at or below the
# median, and the median is reported instead.
TAIL_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile (the "inclusive" definition)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_rule(n):
    """The percentile the tail is reported at for ``n`` samples."""
    if n <= 2 * TAIL_BEYOND:
        return 50.0
    return 100.0 * (1.0 - TAIL_BEYOND / float(n))


def tail(values):
    """(percentile used, value at it) for a list of samples."""
    p = tail_rule(len(values))
    return p, percentile(values, p)


class Ledger:
    """Counts operations and the failures among them.

    An operation (a micro-batch, a lookup, a catalog query) fails when
    it threw or when its result was wrong.  A failed operation counts in
    ``attempted`` and ``failed``; ``record`` returns whether it passed,
    so the caller times only the operations that did.
    """

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures = []

    def record(self, name, error=None, expected=None, got=None):
        self.attempted += 1
        if error is None and expected is not None and got != expected:
            error = "wrong result: expected %r, got %r" % (expected, got)
        if error is not None:
            self.failed += 1
            self.failures.append((name, error))
            return False
        return True

    @property
    def failed_share(self):
        return self.failed / self.attempted if self.attempted else 0.0
