"""The benchmark's own arithmetic: percentiles and span self time."""
import math

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def tail_percentile(n, min_beyond=10):
    """The highest candidate percentile with at least `min_beyond` samples
    beyond it among n samples, or None when even p75 has too few."""
    for p in TAIL_CANDIDATES:
        if n * (1 - p / 100.0) >= min_beyond - 1e-9:
            return p
    return None


def median(values):
    return percentile(values, 50)


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, start, end):
    """Intervals cut to the window [start, end)."""
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span["start"], span["end"]
    return (e - s) - union_length(clipped([(c["start"], c["end"]) for c in children], s, e))
