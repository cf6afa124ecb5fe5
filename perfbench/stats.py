"""Summary statistics of one run: medians, the tail rule and span self time."""

import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, beyond, n)``.  With n samples sorted
    ascending, the sample at index n - 11 has exactly ten samples after it;
    its percentile is the share of samples at or below it.  Below twenty
    samples that percentile is under the median, so the sample supports no
    tail: the maximum is reported instead, with percentile 100 and nothing
    beyond it, so the reader can see which rule applied.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), 0.0, 0, 0
    if n < 20:
        return s[-1], 100.0, 0, n
    i = n - 11
    return s[i], 100.0 * (i + 1) / n, n - 1 - i, n


def _covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def self_times(spans):
    """Self time of each span in seconds, keyed by span id.

    A span's self time is its duration minus the part of its interval that
    its child spans cover (children clipped to the parent; overlapping
    children counted once).
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        kids = [(max(c["start_ns"], lo), min(c["end_ns"], hi))
                for c in children.get(s["id"], [])]
        covered = _covered([k for k in kids if k[1] > k[0]])
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out
