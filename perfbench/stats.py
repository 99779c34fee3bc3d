"""Statistics the benchmark reports: medians, the tail rule, span self time."""
import math

LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 70.0, 60.0, 50.0)


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def rank(p, n):
    """1-based nearest rank of percentile p in n samples."""
    return max(1, math.ceil(round(p * n / 100.0, 6)))


def tail_percentile(n):
    """Highest ladder percentile with at least ten samples beyond it in n
    samples, or None when n < 20 leaves fewer than ten beyond the median."""
    for p in LADDER:
        if n - rank(p, n) >= 10:
            return p
    return None


def percentile(xs, p):
    s = sorted(xs)
    return s[rank(p, len(s)) - 1]


def tail(xs, design_n):
    """The tail at the percentile the tail rule gives for `design_n`, the
    workload's planned sample count, so that the percentile reported does
    not move with the number of samples a run happens to reach. Returns
    (percentile, value, samples, samples beyond)."""
    p = tail_percentile(design_n)
    n = len(xs)
    return p, percentile(xs, p), n, n - rank(p, n)


def union_length(intervals, lo, hi):
    """Total length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover. `spans` are dicts with id, parent, start_us, end_us;
    returns {id: self time in µs}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"]) -
            union_length(kids.get(s["id"], []), s["start_us"], s["end_us"])
            for s in spans}


def parts_add_up(root_self_us, wall_us, unattributed):
    """Whether an op's parts add up to its wall time: the layer spans leave
    at most 5 % of it uncovered (the root span's self time), and no catalyst
    phase or SQL execution of the op went unattributed."""
    return root_self_us <= 0.05 * wall_us and unattributed == 0


def tracing_overhead(samples):
    """Traced over untraced latency of the same ops in one run, minus 1.
    `samples` are (key, traced, latency); per key timed both ways, the
    median of each side, weighted by the key's sample count. Returns the
    overhead (0 when no key was timed both ways) and the number of keys."""
    groups = {}
    for key, traced, latency in samples:
        groups.setdefault(key, ([], []))[bool(traced)].append(latency)
    num = den = 0.0
    both = [(u, t) for u, t in groups.values() if u and t]
    for u, t in both:
        w = len(u) + len(t)
        num += w * median(t)
        den += w * median(u)
    return (num / den - 1.0 if den else 0.0), len(both)
