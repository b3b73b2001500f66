"""Statistics helpers shared by the report and the tests."""


def percentile(values, p):
    """The `p` quantile (0 < p < 1) of `values`, linearly interpolated
    between order statistics. Refuses (ValueError) when fewer than ten
    samples lie beyond it, since a tail read from fewer is noise."""
    n = len(values)
    beyond = round(n * (1 - p), 9)
    if beyond < 10:
        raise ValueError(f"p{round(p * 100)} needs >= 10 samples beyond it; "
                         f"{n} samples leave {beyond:.1f}")
    xs = sorted(values)
    k = (n - 1) * p
    lo = int(k)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(root, children):
    """Split the interval `root` = (start, end) among `children`, tuples
    that start with (layer, depth, start, end): each instant goes to the
    deepest child active then (ties to the earliest-listed), or to None
    when no child covers it. Returns {layer: ms}; the values sum to the
    root's length."""
    r0, r1 = root
    cs = [(c[0], c[1], max(c[2], r0), min(c[3], r1)) for c in children
          if min(c[3], r1) > max(c[2], r0)]
    points = sorted({r0, r1} | {s for _, _, s, _ in cs} | {e for _, _, _, e in cs})
    out = {}
    for a, b in zip(points, points[1:]):
        best = None
        for c in cs:
            if c[2] <= a and c[3] >= b and (best is None or c[1] > best[1]):
                best = c
        layer = best[0] if best else None
        out[layer] = out.get(layer, 0.0) + (b - a)
    return out


def nest(root, children):
    """The spans of one operation for the trace file: the root, then each
    child with the name of the innermost shallower span containing it as
    its parent. `root` is (name, op, start, end); children are
    (layer, depth, start, end, name)."""
    name, op, r0, r1 = root
    out = [{"name": name, "op": op, "start": r0, "end": r1, "parent": None}]
    for c in children:
        holders = [p for p in children if p[1] < c[1] and p[2] <= c[2] and c[3] <= p[3]]
        parent = max(holders, key=lambda p: p[1])[4] if holders else name
        out.append({"name": c[4], "op": op, "start": c[2], "end": c[3], "parent": parent})
    return out
