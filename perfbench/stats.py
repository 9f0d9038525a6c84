"""Percentile and span arithmetic for the benchmark's metrics."""


def percentile(values, p):
    """The p-th percentile (0..100) of `values`, interpolating linearly
    between closest ranks (the rule numpy calls "linear")."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= p <= 100:
        raise ValueError("percentile out of range: %r" % p)
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def covered(interval, others):
    """Length of the part of `interval` that the union of `others` covers.
    Intervals are (start, end) pairs; overlaps count once."""
    start, end = interval
    clipped = sorted((max(s, start), min(e, end)) for s, e in others
                     if e > start and s < end)
    total = 0
    cur_s = cur_e = None
    for s, e in clipped:
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
    """Self time of each span, by id: its duration minus the part of its
    interval that its child spans cover. Spans are dicts with `id`,
    `parent`, `start_ns` and `end_ns`."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        iv = (s["start_ns"], s["end_ns"])
        out[s["id"]] = (iv[1] - iv[0]) - covered(iv, children.get(s["id"], []))
    return out


def coverage(spans):
    """For each root span (parent -1), the share of its duration that its
    child spans cover, by id. A zero-length root counts as covered."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        if s["parent"] != -1:
            continue
        iv = (s["start_ns"], s["end_ns"])
        dur = iv[1] - iv[0]
        out[s["id"]] = 1.0 if dur <= 0 else covered(iv, children.get(s["id"], [])) / dur
    return out


def stratified_pick(items, key, n, rng):
    """Pick `n` of `items` (n <= len(items)): sort by `key`, cut the sorted
    list into n runs as equal in length as possible, and take one item from
    each run with `rng`. Sorted by cost, every sample has the same cost
    profile while the items themselves change with `rng`."""
    if not 0 < n <= len(items):
        raise ValueError("cannot pick %d of %d" % (n, len(items)))
    xs = sorted(items, key=key)
    picks = []
    for i in range(n):
        lo = i * len(xs) // n
        hi = (i + 1) * len(xs) // n
        picks.append(xs[rng.randrange(lo, hi)])
    return picks
