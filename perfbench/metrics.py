"""Metric math for the benchmark: percentiles, self time, byte amplification
and the per-layer roll-up of a traced run. Pure functions over the harness
record; `test_metrics.py` checks them."""
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n). The value is the eleventh largest
    sample, so ten samples lie above it when values are distinct, and the
    percentile is the share of samples at or below it. When that would not
    lie above the median (fewer than 21 samples) the rule has no tail to
    give, and the maximum is returned with percentile 100."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(xs)
    if n <= 2 * TAIL_BEYOND:
        return s[-1], 100.0, n
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals, clipped
    to [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time per span id: the span's duration minus the part of its
    interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def write_amp(written, inputs):
    """Bytes written under the table roots per byte of input applied."""
    return written / inputs if inputs else 0.0


def space_amp(stored, compact):
    """Bytes on disk per byte of one compact write of the live tables."""
    return stored / compact if compact else 0.0


def new_bytes(before, after):
    """Bytes of files in `after` (path -> size) that are new or changed
    since `before`: what a walk of the table roots sees as written."""
    return sum(n for f, n in after.items() if before.get(f) != n)
