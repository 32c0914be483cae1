"""Statistics over the harness's raw samples: quartile spread, pass time
from per-key medians, pooled percentiles and span self time."""
import math
import statistics

TAIL_LEVELS = (0.99, 0.95, 0.9, 0.75, 0.5)


def spread(xs):
    """Interquartile distance as a share of the median, with the
    quartiles of `statistics.quantiles(xs, n=4)`."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def sum_of_medians(samples):
    """Sum over keys of each key's median sample: the time of one pass
    that a disturbed run of a key in one pass does not move."""
    return sum(statistics.median(xs) for xs in samples.values())


def percentile(xs, q):
    """Linear-interpolated percentile `q` (0..1) of the samples."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def beyond(n, q):
    """How many of `n` pooled samples lie above percentile `q`."""
    return math.floor(n * (1 - q) + 1e-9)


def tail_level(n, levels=TAIL_LEVELS, need=10):
    """The highest percentile level with at least `need` of `n` samples
    beyond it, or None when even the median has fewer."""
    for q in levels:
        if beyond(n, q) >= need:
            return q
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval that its child
    spans cover (children are clipped to the parent's interval)."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(clipped)
