"""Order statistics and span arithmetic used by the report."""


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no values")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail(xs, beyond=10):
    """The tail latency of `xs` and its percentile: the highest percentile
    that leaves at least `beyond` samples above it (the value with exactly
    `beyond` larger-ranked samples). Below 2 * `beyond` samples that
    percentile would sit under the median, so the maximum (p100) is
    reported instead."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no values")
    if n < 2 * beyond:
        return s[-1], 100.0
    return s[n - beyond - 1], 100.0 * (n - beyond) / n


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its children (overlapping children count once).

    `spans` is a list of dicts with id, parent, start_ns, end_ns; returns
    {id: self_ns}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = 0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(lo, c["start_ns"]), min(hi, c["end_ns"])
            if a >= b:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out
