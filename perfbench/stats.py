"""Pure metric helpers for the benchmark: percentiles, interval unions,
per-op layer sums, storage ratio and the bound comparison.

Everything here is a plain function of plain data, so it is tested on fixed
synthetic inputs in perfbench/tests/test_stats.py.
"""

import math
import statistics

#: Percentile levels tried for a tail figure, highest first.
TAIL_LEVELS = (0.99, 0.95, 0.9, 0.75, 0.5)


def percentile(values, p):
    """The p-quantile (0 <= p <= 1) of values, interpolated linearly
    between the closest ranks (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = p * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n, min_beyond=10, levels=TAIL_LEVELS):
    """The highest level in `levels` that leaves at least `min_beyond` of n
    samples strictly above it, or None when even the lowest does not."""
    for p in levels:
        # round first: 0.9 * 100 is 90.00000000000001 in binary
        if n - math.ceil(round(p * n, 9)) >= min_beyond:
            return p
    return None


def summarize(values, min_beyond=10):
    """Median, the highest qualifying tail percentile and the sample count."""
    n = len(values)
    out = {"n": n, "p50": percentile(values, 0.5) if n else None,
           "tail_level": tail_level(n, min_beyond), "tail": None}
    if out["tail_level"] is not None:
        out["tail"] = percentile(values, out["tail_level"])
    return out


def merge_intervals(intervals, lo=None, hi=None):
    """The (start, end) intervals, each clipped to [lo, hi] when given,
    merged into disjoint sorted intervals. Inverted or NaN ones drop out."""
    clipped = []
    for s, e in intervals:
        if s is None or e is None or math.isnan(s) or math.isnan(e):
            continue
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    merged = []
    for s, e in sorted(clipped):
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return merged


def interval_union(intervals, lo=None, hi=None):
    """Total length covered by the intervals; overlaps count once."""
    return sum(e - s for s, e in merge_intervals(intervals, lo, hi))


def driver_gap(op_start, op_end, job_intervals):
    """Op wall time during which none of its Spark jobs was running."""
    return (op_end - op_start) - interval_union(job_intervals, op_start, op_end)


def storage_ratio(stored_bytes, raw_bytes):
    """Bytes the committed tables hold per byte of raw input ingested."""
    if raw_bytes <= 0:
        raise ValueError("no raw input was ingested")
    return stored_bytes / raw_bytes


def median(values):
    return statistics.median(values)


def spread(values):
    """Interquartile range as a share of the median: the run-to-run spread
    the acceptance check applies to a metric's values over several seeds."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def regression(base_values, new_values, better, bound):
    """How far the new median is worse than the base median, as a share of
    the base median (negative when it is better), and whether that exceeds
    the bound. `better` is "lower" or "higher"."""
    b = statistics.median(base_values)
    n = statistics.median(new_values)
    worse = (n - b) / b if better == "lower" else (b - n) / b
    return worse, worse > bound


def self_times(spans):
    """Self time per span name: each span's duration minus the part of it
    covered by its direct children. `spans` are dicts with id, parent,
    name, start and end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        own = (s["end"] - s["start"]) - interval_union(
            children.get(s["id"], []), s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
