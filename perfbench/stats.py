"""Statistics shared by the benchmark and its tests."""
import math
import statistics

# Percentiles considered for a tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail(xs, beyond=10):
    """The highest ladder percentile that has at least `beyond` samples
    above its rank, as (p, value); None when the sample is too small."""
    n = len(xs)
    for p in TAIL_LADDER:
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= beyond:
            return p, percentile(xs, p)
    return None


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


def self_times(spans):
    """Per span id: duration minus the part of its interval that its
    child spans cover. `spans` are dicts with id, parent, start_ms,
    end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        cover = union_length([(max(a, c["start_ms"]), min(b, c["end_ms"]))
                              for c in children.get(s["id"], [])])
        out[s["id"]] = (b - a) - cover
    return out
