"""Summary statistics and span arithmetic used by the report."""
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile that has at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``, or ``None`` when there are too few
    samples (``n <= beyond``). With ``n`` sorted samples the value is the
    ``n - beyond``-th smallest, and the percentile is the share of samples
    at or below it."""
    n = len(xs)
    if n <= beyond:
        return None
    s = sorted(xs)
    k = n - beyond
    return s[k - 1], 100.0 * k / n, n


def union_length(intervals):
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total = 0
    cur_s = cur_e = None
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


def self_intervals(span, children):
    """The parts of ``span`` that none of its children cover. Children may
    overlap each other and may stick out of the parent."""
    s, e = span
    out = []
    at = s
    for cs, ce in sorted(children):
        cs, ce = max(s, cs), min(e, ce)
        if ce <= cs:
            continue
        if cs > at:
            out.append((at, cs))
        at = max(at, ce)
    if at < e:
        out.append((at, e))
    return out


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return sum(b - a for a, b in self_intervals(span, children))
