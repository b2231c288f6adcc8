"""Statistics of the graft benchmark: percentiles, span self time and the
per-layer table built from a traced run's spans."""
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(values)
    k = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100), at least 1
    return s[int(k) - 1]


def tail_percentile(n, min_beyond=10):
    """The highest percentile in TAIL_PERCENTILES that leaves at least
    `min_beyond` of `n` samples above it, or None."""
    for p in TAIL_PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 6) >= min_beyond:
            return p
    return None


def union_ns(intervals):
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
    """{span id: self time in ns}: a span's duration minus the part of it
    its child spans cover (clipped to the span)."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        kids = [(max(c["start"], sp["start"]), min(c["end"], sp["end"]))
                for c in children.get(sp["id"], [])]
        kids = [(s, e) for s, e in kids if e > s]
        out[sp["id"]] = (sp["end"] - sp["start"]) - union_ns(kids)
    return out


def by_name(spans):
    """{span name: [span, ...]} with each span's self time in ms added."""
    st = self_times(spans)
    out = {}
    for sp in spans:
        sp = dict(sp, ms=st[sp["id"]] / 1e6)
        out.setdefault(sp["name"], []).append(sp)
    return out


def median_of(spans, stat):
    return statistics.median(sp[stat] for sp in spans)
