"""Arithmetic of the benchmark: percentiles and the `_tail` rule, open-loop
latency, span self time and the steadiness spread. Pure functions; the
unit tests in test_stats.py pin each one."""
import statistics

# `_tail` candidates, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values):
    """The highest ladder percentile with at least TAIL_BEYOND samples
    beyond it. Returns (value, percentile, n). With too few samples for
    any rung it falls back to the maximum and reports percentile 100."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (1.0 - p / 100.0) >= TAIL_BEYOND:
            return percentile(values, p), p, n
    return max(values), 100.0, n


def open_loop(records):
    """Per-request times (ns) of an open loop. Latency runs from the due
    time, so generator lateness (submitted after due) and queueing (started
    after submitted) both count; they are also reported apart."""
    out = []
    for r in records:
        out.append(dict(latency=r["end_ns"] - r["due_ns"],
                        late=max(0, r["sub_ns"] - r["due_ns"]),
                        queue=r["start_ns"] - r["sub_ns"],
                        service=r["end_ns"] - r["start_ns"]))
    return out


def self_times(spans):
    """Each span's duration minus the durations of its direct children,
    keyed by span id. Children are matched through `parent`."""
    child = {}
    for s in spans:
        if s["parent"]:
            child[s["parent"]] = child.get(s["parent"], 0) + s["t1_ns"] - s["t0_ns"]
    return {s["id"]: (s["t1_ns"] - s["t0_ns"]) - child.get(s["id"], 0) for s in spans}


def spread(values):
    """Inter-quartile distance as a share of the median, with the quartiles
    of statistics.quantiles(values, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def worse_by(first, second, better):
    """How much worse the median of `second` is than that of `first`, as a
    share of the first (negative when it is better)."""
    a, b = statistics.median(first), statistics.median(second)
    return (b - a) / a if better == "lower" else (a - b) / a
