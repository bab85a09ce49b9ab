"""Summary statistics shared by the runner and the compare tool."""
import statistics


def percentile(values, p):
    """Linear-interpolated p-th percentile (0..100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, samples_beyond). With n samples sorted
    ascending that is the (n - beyond)-th one, at percentile
    100 * (n - beyond) / n. Below 4 * beyond samples that percentile
    would fall under p75, which is no tail, so the maximum is returned
    instead, with 0 samples beyond it.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n < 4 * beyond:
        return xs[-1], 100.0, 0
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, beyond


def fail_frac(ops, wrong):
    """Failed plus wrong-output operations over attempted operations.

    `ops` are the run's operations (each with an `ok` flag); `wrong` is
    the set of indices whose output failed a check. An operation that
    both failed and was judged wrong counts once.
    """
    if not ops:
        raise ValueError("no operations attempted")
    bad = {i for i, op in enumerate(ops) if not op["ok"]} | set(wrong)
    return len(bad) / len(ops)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")
