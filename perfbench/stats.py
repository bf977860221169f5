"""Summary statistics shared by run.py and ab.py."""
import statistics


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """The highest percentile with at least 10 samples beyond it.

    Returns (value, percentile, samples). The sample at sorted index k has
    n-1-k samples above it, so the highest such k is n-11, and it sits at
    percentile 100*(k+1)/n. With 10 samples or fewer no percentile
    qualifies and the result is None.
    """
    n = len(xs)
    if n < 11:
        return None
    k = n - 11
    return sorted(xs)[k], 100.0 * (k + 1) / n, n


def iqr(xs):
    """(q1, q3) as statistics.quantiles(xs, n=4) gives them."""
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def self_times(spans):
    """Per-span self time in ms: duration minus the part of it covered by
    child spans (spans are properly nested, one client thread)."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    return {s["id"]: (s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)) / 1e6
            for s in spans}
