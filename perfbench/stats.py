"""Statistics of the benchmark: medians, quartiles and span self time."""
import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3), as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the first and third quartile, over the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def _covered(intervals, lo, hi):
    """Length of [lo, hi) covered by the union of the intervals."""
    total, end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. Spans are dicts with name, parent, pass,
    start_s and end_s; a child names its parent, within the same pass.
    Returns one (name, pass, self_s) tuple per span, in input order.
    """
    children = {}
    for s in spans:
        children.setdefault((s["pass"], s["parent"]), []).append(
            (s["start_s"], s["end_s"]))
    out = []
    for s in spans:
        kids = children.get((s["pass"], s["name"]), [])
        dur = s["end_s"] - s["start_s"]
        out.append((s["name"], s["pass"],
                    dur - _covered(kids, s["start_s"], s["end_s"])))
    return out
