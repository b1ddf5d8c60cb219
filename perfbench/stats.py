"""Pure helpers for the benchmark's metrics: percentiles, failure counts
and span self time. Kept free of I/O so the tests can pin them."""
import math
import statistics

TAIL_LADDER = (0.5, 0.9, 0.99, 0.999)
MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    `q` of the samples at or below it. A failed operation is passed in as
    `math.inf`, so it counts as missing every latency limit."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n, q):
    """How many of `n` samples lie above the nearest-rank `q` percentile."""
    return n - max(1, math.ceil(q * n))


def tail_percentile(n, ladder=TAIL_LADDER, min_beyond=MIN_BEYOND):
    """The highest percentile of `ladder` with at least `min_beyond`
    samples beyond it, or None when even the lowest has too few."""
    ok = [q for q in ladder if beyond(n, q) >= min_beyond]
    return max(ok) if ok else None


def failed_ratio(attempted, failed, mismatches):
    """Failed operations plus output mismatches, per operation attempted."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    return (failed + mismatches) / attempted


def paired_overhead_pct(ops):
    """Tracing overhead from a traced run's operations, which come in
    pairs on the same input, one traced and one untraced: the median
    over pairs of traced / untraced latency, less one, in percent. Pairs
    with a failed operation are left out; None when no pair is left."""
    ratios = []
    for a, b in zip(ops[0::2], ops[1::2]):
        if a["traced"] == b["traced"]:
            raise ValueError("operations are not in traced/untraced pairs")
        t, u = (a, b) if a["traced"] else (b, a)
        if t["ok"] and u["ok"]:
            ratios.append(t["ms"] / u["ms"])
    return 100 * (statistics.median(ratios) - 1) if ratios else None


def resolve_parents(spans):
    """Give each listener span (parent -1) the innermost driver span that
    contains its midpoint, or 0 when none does. Returns new dicts."""
    driver = [s for s in spans if s["parent"] != -1]
    out = []
    for s in spans:
        if s["parent"] != -1:
            out.append(dict(s))
            continue
        mid = (s["start_ms"] + s["end_ms"]) / 2
        best = None
        for d in driver:
            if d["start_ms"] <= mid <= d["end_ms"] and (
                    best is None or
                    d["end_ms"] - d["start_ms"] < best["end_ms"] - best["start_ms"]):
                best = d
        out.append(dict(s, parent=best["id"] if best else 0))
    return out


def _union_length(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """span id -> its duration minus the part of it its children cover.
    Children are clipped to the parent, and overlapping children are
    counted once."""
    spans = resolve_parents(spans)
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            a, b = max(s["start_ms"], p["start_ms"]), min(s["end_ms"], p["end_ms"])
            if b > a:
                kids.setdefault(p["id"], []).append((a, b))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) - _union_length(kids.get(s["id"], []))
            for s in spans}
