"""The benchmark's own arithmetic: percentiles, medians, interval unions and
the per-layer roll-up of spans and Spark job records."""

import math

MIN_BEYOND = 10


def beyond(n, p):
    """Samples strictly above the nearest-rank p-quantile of n samples."""
    return n - math.ceil(p * n)


def percentile(xs, p):
    """Nearest-rank p-quantile (0 < p < 1). Refuses a percentile the
    sample cannot support: at least MIN_BEYOND samples must lie beyond it."""
    n = len(xs)
    if beyond(n, p) < MIN_BEYOND:
        raise ValueError(f"{n} samples do not support p{round(p * 100)}")
    return sorted(xs)[math.ceil(p * n) - 1]


def union_length(intervals, lo, hi):
    """Total length covered by the union of [start, end] intervals, each
    first clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def driver_only_s(span, jobs):
    """A span's wall minus the part of it covered by its jobs (driver-only
    time): span and job times are epoch milliseconds, the wall is seconds."""
    covered_ms = union_length([(j["start_ms"], j["end_ms"]) for j in jobs],
                              span["start_ms"], span["end_ms"])
    return max(span["wall_s"] - covered_ms / 1000.0, 0.0)


COUNTERS = (("busy_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("tasks", "count"),
            ("cpu_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB"))


def layer_totals(spans, jobs):
    """Sum of each counter over the given spans of one layer, charging every
    job to the span whose job group it carries."""
    by_group = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    out = dict.fromkeys((name for name, _ in COUNTERS), 0.0)
    for s in spans:
        js = by_group.get(s["group"], [])
        out["busy_s"] += s["wall_s"]
        out["driver_s"] += driver_only_s(s, js)
        out["jobs"] += len(js)
        out["tasks"] += sum(j["tasks"] for j in js)
        out["cpu_s"] += sum(j["cpu_s"] for j in js)
        out["gc_s"] += sum(j["gc_s"] for j in js)
        out["shuffle_mb"] += sum(j["shuffle_write_bytes"] for j in js) / 1e6
        out["spill_mb"] += sum(j["spill_bytes"] for j in js) / 1e6
    return out
