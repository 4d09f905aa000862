"""Reducers: percentiles, span self times, per-layer aggregates."""
import statistics

MIN_BEYOND = 10  # samples a reported tail percentile must have above it


def quantile(values, q):
    """Linear-interpolated quantile of `values` (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values, want=0.9, min_beyond=MIN_BEYOND):
    """The `want` percentile when at least `min_beyond` samples lie beyond
    it, else the highest percentile that has `min_beyond` beyond, never
    below the median. Returns (value, percentile used)."""
    n = len(values)
    q = max(0.5, min(want, 1.0 - min_beyond / n)) if n else want
    return quantile(values, q), q


def whole_passes(requests, deck_size):
    """The requests of the completed passes over the deck (all of them when
    the window held less than one pass): every run then samples the same
    mix of requests, whatever the point at which its window closed."""
    n = len(requests) // deck_size * deck_size
    return requests[:n] if n else list(requests)


def self_times(spans):
    """Self time (ns) of each span: its duration minus the union of the
    intervals its direct children cover. Spans are dicts with start_ns,
    end_ns and parent (an index into `spans`, -1 for a root)."""
    children = {}
    for i, s in enumerate(spans):
        children.setdefault(s["parent"], []).append(i)
    out = []
    for i, s in enumerate(spans):
        covered, cur_s, cur_e = 0, None, None
        for c in sorted(children.get(i, []), key=lambda j: spans[j]["start_ns"]):
            a = max(spans[c]["start_ns"], s["start_ns"])
            b = min(spans[c]["end_ns"], s["end_ns"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(s["end_ns"] - s["start_ns"] - covered)
    return out


def by_request(spans):
    """{request id: [its spans, parents re-indexed within the request]}."""
    groups = {}
    index = {}
    for i, s in enumerate(spans):
        g = groups.setdefault(s["req"], [])
        index[i] = len(g)
        g.append(dict(s, parent=index[s["parent"]] if s["parent"] >= 0 else -1))
    return groups


def median(values, default=0.0):
    return statistics.median(values) if values else default


def mean(values, default=0.0):
    return statistics.fmean(values) if values else default
