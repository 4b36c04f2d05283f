"""Statistics the benchmark reports. Pure functions, unit-tested in
test_stats.py."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them; a
    single sample is its own quartiles."""
    xs = list(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def geomean(xs):
    xs = list(xs)
    if any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover. Spans are dicts with
    `start`, `end` and `parent` (an index into `spans`, -1 for none);
    times are in the spans' own unit."""
    children = [[] for _ in spans]
    for i, s in enumerate(spans):
        if s["parent"] >= 0:
            children[s["parent"]].append(i)
    out = []
    for i, s in enumerate(spans):
        lo, hi = s["start"], s["end"]
        covered, edge = 0, lo
        for a, b in sorted((max(spans[c]["start"], lo), min(spans[c]["end"], hi))
                           for c in children[i]):
            if b <= edge:
                continue
            covered += b - max(a, edge)
            edge = b
        out.append(hi - lo - covered)
    return out


def commits(partition_rows, rows_per_commit):
    """Commits that carry rows when the JDBC writer commits every
    `rows_per_commit` rows of a partition and once more at its end:
    the sum of ceil(rows / rows_per_commit) over non-empty partitions."""
    if rows_per_commit < 1:
        raise ValueError("rows_per_commit must be at least 1")
    return sum(-(-r // rows_per_commit) for r in partition_rows if r > 0)
