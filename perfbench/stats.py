"""Pure helpers of the benchmark report: percentiles, span self time, recall."""

# Percentiles a tail is chosen from, highest last.
TAIL_CANDIDATES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
# A tail percentile needs at least this many samples beyond it.
TAIL_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated p-th percentile (0..100) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values):
    """The highest candidate percentile with at least TAIL_BEYOND samples
    above its rank, as (p, value); (None, None) when even the median has
    fewer."""
    n = len(values)
    best = (None, None)
    for p in TAIL_CANDIDATES:
        if round(n * (100.0 - p) / 100.0, 6) >= TAIL_BEYOND:
            best = (p, percentile(values, p))
    return best


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(start, end, children):
    """A span's duration minus the union of its children's intervals,
    each clipped to the span."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def recall_at_k(returned, exact, k):
    """Share of the exact top-k ids found among the first k returned ids."""
    if k <= 0:
        raise ValueError("k must be positive")
    return len(set(returned[:k]) & set(exact[:k])) / float(k)

