"""Statistics over timings and spans; pure functions, tested in
test_perfbench.py."""
import math
import statistics

# Tail percentiles tried from the highest down.
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n):
    """Highest percentile of LADDER with at least ten of `n` samples
    beyond it, or None when even the median has fewer than ten."""
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def median(xs):
    return statistics.median(xs)


def fail_ratio(attempted, failed):
    """Share of attempted operations that raised or gave a wrong output."""
    if attempted < 1:
        raise ValueError("nothing attempted")
    return failed / attempted


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children(spans):
    out = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def self_intervals(span, kids):
    """The parts of a span's interval that none of its children cover;
    children may overlap one another (parallel jobs) or run past it."""
    out, cur = [], span["start_us"]
    for s, e in sorted((k["start_us"], k["end_us"]) for k in kids):
        s, e = max(s, span["start_us"]), min(e, span["end_us"])
        if e <= s:
            continue
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if cur < span["end_us"]:
        out.append((cur, span["end_us"]))
    return out


def descendants(span, kids):
    todo, out = list(kids.get(span["id"], [])), []
    while todo:
        s = todo.pop()
        out.append(s)
        todo += kids.get(s["id"], [])
    return out


def layer_self_times(spans):
    """Self time per layer: the union of the self intervals of the layer's
    spans, so concurrent spans of one layer (parallel jobs) count once."""
    kids = children(spans)
    per_layer = {}
    for s in spans:
        per_layer.setdefault(s["layer"], []).extend(
            self_intervals(s, kids.get(s["id"], [])))
    return {layer: union_length(iv) for layer, iv in per_layer.items()}


def nest_jobs_in_batches(spans):
    """Jobs of a streaming query name the span that started the query;
    re-parent each to the microbatch span (a sibling) it started in, so a
    batch's self time is the streaming engine's own per-batch work."""
    batches = {}
    for s in spans:
        if s["kind"] == "batch":
            batches.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        if s["kind"] == "job":
            home = next((b for b in batches.get(s["parent"], [])
                         if b["start_us"] <= s["start_us"] < b["end_us"]), None)
            if home is not None:
                s = dict(s, parent=home["id"])
        out.append(s)
    return out
