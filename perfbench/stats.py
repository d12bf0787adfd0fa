"""Statistics the benchmark reports: medians, the tail percentile, and span
self time over a union of child intervals."""
import math


def median(xs):
    s = sorted(xs)
    if not s:
        return float("nan")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def tail_percentile(xs, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it. Returns (percentile, value, n_samples), or None when there
    are too few samples for any percentile to qualify.

    With n samples sorted ascending, the k-th smallest (k = n - beyond) has
    exactly `beyond` samples after it; it is reported as the
    floor(100 k / n)-th percentile. n = 100 gives p90.
    """
    s = sorted(xs)
    n = len(s)
    k = n - beyond
    if k < 1:
        return None
    return math.floor(100 * k / n), s[k - 1], n


def union_length(intervals, clip=None):
    """Total length covered by the union of (start, end) intervals,
    optionally clipped to the window `clip` = (lo, hi)."""
    ivs = []
    for a, b in intervals:
        if clip is not None:
            a, b = max(a, clip[0]), min(b, clip[1])
        if b > a:
            ivs.append((a, b))
    ivs.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def steal_share(ticks):
    """The share of an interval's non-idle CPU ticks that the hypervisor
    stole: steal / (busy + steal), from all-CPU /proc/stat deltas
    {"total", "idle", "steal"}. 0 when unknown or nothing ran."""
    busy = ticks["total"] - ticks["idle"]
    if ticks["total"] < 0 or busy <= 0:
        return 0.0
    return min(max(ticks["steal"], 0) / busy, 1.0)


def unstolen(seconds, ticks):
    """`seconds` of wall time less the part the hypervisor took. A vCPU
    with work that the host does not run shows as steal; if every busy
    vCPU loses the same share f of its time, the same work takes
    seconds * (1 - f) on a host that takes none."""
    return seconds * (1.0 - steal_share(ticks))


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - union_length(children, clip=span)
