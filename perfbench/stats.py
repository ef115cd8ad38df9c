"""Statistics and span arithmetic for the graft benchmark."""
import math


def percentile(values, q):
    """Nearest-rank percentile, q in (0, 1]: the smallest sample with at
    least a share q of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n, q):
    """How many of n samples lie above the nearest-rank q-percentile."""
    return n - max(1, math.ceil(q * n)) if n else 0


def tail_supported(n, q, need_total=100, need_beyond=10):
    """The sample-count rule for a reported tail: at least `need_total`
    samples, and at least `need_beyond` of them above the percentile."""
    return n >= need_total and beyond(n, q) >= need_beyond


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def children_of(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def self_times(spans):
    """{span id: self time}: duration minus the part of the span's
    interval that its child spans cover."""
    kids = children_of(spans)
    out = {}
    for s in spans:
        cover = union_length([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])],
                             s["start_ms"], s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - cover
    return out


def layer(name):
    """`operators.Dedup:q_dedup_exact` -> `operators`."""
    return name.split(":", 1)[0].split(".", 1)[0]


def self_by_layer(spans):
    st = self_times(spans)
    out = {}
    for s in spans:
        out[layer(s["name"])] = out.get(layer(s["name"]), 0.0) + st[s["id"]]
    return out


def descendants(spans, root_id):
    kids = children_of(spans)
    out, todo = [], [root_id]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(c["id"] for c in kids.get(i, []))
    return out


def driver_gap(spans, jobs, span):
    """Span wall time minus the union of the job intervals of the jobs
    that the span or its descendants submitted."""
    ids = set(descendants(spans, span["id"]))
    ivs = [(a, b) for sid, a, b in jobs if sid in ids]
    return (span["end_ms"] - span["start_ms"]) - union_length(ivs, span["start_ms"], span["end_ms"])
