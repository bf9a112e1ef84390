"""Metric arithmetic of the benchmark, kept free of I/O so it can be
tested on its own (see test_metrics.py)."""

# A timing is reported as its median and the highest of these
# percentiles that still has at least MIN_BEYOND samples above it.
TAIL_PERCENTILES = (99, 95, 90, 75)
MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile (the `inclusive` method of
    Python's statistics.quantiles) of a non-empty sequence."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def samples_beyond(n, p):
    """How many of n samples sit strictly above the p-th percentile's
    interpolation position."""
    return n - 1 - int((n - 1) * p / 100.0) if n else 0


def tail_percentile(n):
    """The highest tail percentile with at least MIN_BEYOND samples
    beyond it, or None when even the lowest has too few."""
    for p in TAIL_PERCENTILES:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def latency_summary(values):
    """Median, the tail percentile the sample count supports, and n."""
    n = len(values)
    out = {"n": n, "p50": percentile(values, 50) if n else None, "tail_p": None, "tail": None}
    p = tail_percentile(n)
    if p is not None:
        out["tail_p"], out["tail"] = p, percentile(values, p)
    return out


class Accounting:
    """Attempted and failed operations of one run. Every kind of failure
    is counted against what was attempted: non-2xx replies, exceptions,
    wrong answers, and acknowledged points the store lost. A failure that
    is a wrong output (a wrong answer, a lost point, a check with nothing
    to check) also makes the run incorrect; a refused or failed operation
    only counts as failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.causes = {}

    def ops(self, attempted, failed, cause, wrong_output=False):
        self.attempted += attempted
        self.fail(failed, cause, wrong_output)

    def fail(self, n, cause, wrong_output=False):
        if n:
            self.failed += n
            self.wrong += n if wrong_output else 0
            self.causes[cause] = self.causes.get(cause, 0) + n

    def acked_points(self, acked, lost):
        """Each point a POST acknowledged is an attempted durable write; a
        point missing or holding another value at the end has failed."""
        self.ops(acked, lost, "lost acknowledged points", wrong_output=True)

    @property
    def correct(self):
        return self.wrong == 0

    @property
    def error_rate(self):
        return self.failed / self.attempted if self.attempted else 1.0
