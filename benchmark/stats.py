"""Order statistics and span arithmetic for the benchmark's reports."""

import math

MIN_BEYOND = 10


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2


def percentile(xs, p):
    """The p-quantile (0 < p < 1) of `xs` by nearest rank, with one rule
    for tails: a rank above the median is only reported if at least
    MIN_BEYOND samples lie beyond it. With too few samples, the highest
    rank that has MIN_BEYOND samples beyond it is reported instead, but
    never a rank below the median. p <= 0.5 is the plain median.
    """
    if not xs:
        raise ValueError("percentile of no samples")
    if p <= 0.5:
        return median(xs)
    xs = sorted(xs)
    n = len(xs)
    rank = min(math.ceil(p * n) - 1, n - 1 - MIN_BEYOND)
    if rank <= (n - 1) // 2:
        return median(xs)
    return xs[rank]


def self_times(spans):
    """Self time of every span: its duration minus the part of it its
    children cover. Children may overlap each other; covered time is
    counted once. Returns {span id: seconds}.

    `spans` are dicts with id, parent (-1 for a root), start_ns, end_ns.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = 0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(lo, c["start_ns"]), min(hi, c["end_ns"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out
