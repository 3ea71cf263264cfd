"""Pure statistics helpers of the benchmark: percentiles and span self time."""
import math
import statistics

# percentiles the tail rule may report, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(samples, p):
    """Nearest-rank percentile p (0 < p <= 100) of a non-empty sample."""
    xs = sorted(samples)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail_percentile(samples, min_beyond=10):
    """The highest candidate percentile with at least `min_beyond`
    samples beyond it, as (p, value); None when even p50 has fewer.

    With n samples, n * (1 - p/100) of them lie beyond pX, so p90 needs
    at least 100 samples and is refused below that."""
    n = len(samples)
    for p in TAIL_CANDIDATES:
        if n * (1.0 - p / 100.0) >= min_beyond - 1e-9:
            return p, percentile(samples, p)
    return None


def p90(samples):
    """p90 under the tail rule, or None when there are under 100 samples."""
    t = tail_percentile(samples)
    return t[1] if t is not None and t[0] >= 90.0 else None


def median(samples):
    return statistics.median(samples)


def union_length(intervals):
    """Total length of the union of (start, end) intervals: overlapping
    parts count once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
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
    """Self time of every span: its duration minus the part of its
    interval covered by its children (children clipped to the parent,
    overlapping children counted once). Returns {span id: ms}."""
    kids = {}
    for s in spans:
        kids.setdefault((s["trace"], s["parent"]), []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = union_length(
            (max(lo, c["start"]), min(hi, c["end"])) for c in kids.get((s["trace"], s["id"]), []))
        out[s["id"]] = max(0.0, (hi - lo) - covered)
    return out


def layer_of(name):
    """Layer a span belongs to: the part of its name before the first dot."""
    return name.split(".", 1)[0]


def layer_self_times(spans):
    """{layer: total self ms} over all spans."""
    st = self_times(spans)
    out = {}
    for s in spans:
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + st[s["id"]]
    return out
