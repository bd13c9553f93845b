"""Metric arithmetic for the graft benchmark: percentiles, failure
accounting, self time over span trees, and storage amplification. Kept free
of I/O so `selftest.py` can pin each rule."""
import math

# candidate percentiles for the tail rule, highest first
TAIL_LADDER = (0.999, 0.99, 0.95, 0.90, 0.75, 0.50)


def percentile(values, q):
    """Nearest-rank percentile of `values` (0 < q <= 1)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def tail_percentile(n):
    """The highest ladder percentile with at least ten samples beyond it,
    or None when even the median has fewer."""
    for q in TAIL_LADDER:
        if n - math.ceil(q * n) >= 10:
            return q
    return None


def median(values):
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def geomean(values):
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("geometric mean of no samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def kind_p50s(ops):
    """Median latency (ms) per op kind over the ops that succeeded."""
    by = {}
    for o in ops:
        if o["ok"]:
            by.setdefault(o["kind"], []).append(
                (o["end_ns"] - o["start_ns"]) / 1e6)
    return {k: percentile(v, 0.5) for k, v in by.items()}


def account(ops):
    """(attempted, failed, latencies_ms of the ops that succeeded, failures
    by op name). A failed op contributes no time."""
    lat, failures = [], {}
    for o in ops:
        if o["ok"]:
            lat.append((o["end_ns"] - o["start_ns"]) / 1e6)
        else:
            failures.setdefault(o["op"] + "/" + o["kind"], []).append(o["error"])
    return len(ops), sum(len(v) for v in failures.values()), lat, failures


def self_times(spans):
    """Self time (ns) per span id: its duration minus the part of its
    interval that its children cover. Overlapping children count once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
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


def bytes_per_user_byte(stored_bytes, rows, fields):
    """On-disk bytes over the raw size of the rows: 8 bytes for the
    timestamp and for each field."""
    if rows <= 0:
        raise ValueError("no rows stored")
    return stored_bytes / (8.0 * (1 + fields) * rows)
