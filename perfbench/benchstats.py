"""Arithmetic of the benchmark: percentiles, failure share, span self time,
per-pass sums and the bound check that decides whether two sets of runs
agree. Pure functions, tested by test_benchstats.py.
"""
import math
import statistics

TAIL_MARGIN = 10  # a reported percentile needs this many samples above it


def median(values):
    return statistics.median(values) if values else None


def tail(values, q):
    """The q-th percentile (nearest rank), lowered until at least
    TAIL_MARGIN samples lie above it. Returns (value, percentile, count),
    or None when even the median has fewer than TAIL_MARGIN above it."""
    n = len(values)
    if n == 0:
        return None
    ranked = sorted(values)
    idx = min(math.ceil(q * n) - 1, n - 1 - TAIL_MARGIN)
    if idx < math.ceil(0.5 * n) - 1:
        return None
    return ranked[idx], 100.0 * (idx + 1) / n, n


def failed_frac(ops):
    """Share of attempted operations that raised or failed their check."""
    if not ops:
        raise ValueError("no operations attempted")
    return sum(1 for o in ops if o.get("error")) / len(ops)


def self_times(spans):
    """Span id -> duration minus the part of it covered by its children.
    Spans are (id, parent, op, name, start, end) tuples."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for sid, _parent, _op, _name, start, end in spans:
        covered, cursor = 0, start
        for c in sorted(children.get(sid, []), key=lambda c: c[4]):
            lo, hi = max(c[4], cursor), min(c[5], end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[sid] = (end - start) - covered
    return out


def span_tree(spans):
    """Aggregates spans by their name path: path -> [count, total, self]."""
    by_id = {s[0]: s for s in spans}
    selfs = self_times(spans)
    tree = {}
    for s in spans:
        names, p = [s[3]], s[1]
        while p in by_id:
            names.append(by_id[p][3])
            p = by_id[p][1]
        row = tree.setdefault("/".join(reversed(names)), [0, 0, 0])
        row[0] += 1
        row[1] += s[5] - s[4]
        row[2] += selfs[s[0]]
    return tree


def per_pass(samples):
    """Sum over kinds of each kind's median: samples is kind -> [values].
    One pass runs every kind once, so this is a pass's typical cost."""
    return sum(statistics.median(v) for v in samples.values() if v)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def spread(values):
    """Inter-quartile range as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def worse_by(first, second, better):
    """How much worse the median of `second` is than that of `first`, as a
    share of the first median (negative when it is better)."""
    a, b = statistics.median(first), statistics.median(second)
    return (b - a) / a if better == "lower" else (a - b) / a


def agree(first, second, bound):
    """Two sets of runs of the same code agree on a metric when neither
    set's spread exceeds the bound and neither median is worse than the
    other by more than the bound. Either set may be the baseline, so the
    median check is made in both orders: the larger median over the
    smaller, less one."""
    if max(spread(first), spread(second)) > bound:
        return False
    a, b = statistics.median(first), statistics.median(second)
    return max(a, b) / min(a, b) - 1 <= bound
