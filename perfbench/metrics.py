"""Pure reductions from a run's raw record to the benchmark's metrics.

The JVM side (perfbench/src) measures and writes one raw JSON record per
run: op latencies, set-up times, check results, spans with the Spark and
JVM counters attributed to them. Everything here is plain arithmetic on
that record, so it is unit-tested without Spark.
"""

import math
import statistics

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _rank(p, n):
    # rounded first, so 99.9% of 10000 is rank 9990 and not 9991
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(xs)
    return s[_rank(p, len(s)) - 1]


def tail(xs):
    """The highest percentile of TAIL_LADDER with at least MIN_BEYOND samples
    beyond it. Returns (label, value, n, beyond). With fewer than
    2 * MIN_BEYOND samples no percentile qualifies; the median is returned
    and `beyond` says how few samples lie past it."""
    n = len(xs)
    if n == 0:
        return ("p50", 0.0, 0, 0)
    for p in TAIL_LADDER:
        beyond = n - _rank(p, n)
        if beyond >= MIN_BEYOND:
            return (_label(p), percentile(xs, p), n, beyond)
    return ("p50", percentile(xs, 50.0), n, n - _rank(50.0, n))


def _label(p):
    return "p%g" % p


def spread(xs):
    """(median, q1, q3, (q3 - q1) / median) as the driver computes it:
    statistics.quantiles(values, n=4)."""
    if len(xs) < 2:
        m = xs[0] if xs else 0.0
        return (m, m, m, 0.0)
    q1, _, q3 = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (m, q1, q3, (q3 - q1) / m if m else float("inf"))


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    end = -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of it that its
    direct children cover. Returns {span id: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start"], s["end"]
        covered = union_length(
            (max(c["start"], start), min(c["end"], end))
            for c in children.get(s["id"], ())
            if c["end"] > start and c["start"] < end)
        out[s["id"]] = (end - start) - covered
    return out


def subtree(spans, root_id):
    """The spans under (and including) `root_id`."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] == root_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out
