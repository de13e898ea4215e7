"""Arithmetic over one run's raw record (the JSON PerfMain writes):
percentiles, interval unions, span self times, and the end-to-end and
per-layer metrics the benchmark reports.
"""
import math
import statistics

MB = 1 << 20
TAIL_SAMPLES = 10  # samples a reported tail percentile must have beyond it


def quantile(values, p):
    """Nearest-rank quantile: the smallest value with at least p*n
    values at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[max(0, math.ceil(p * len(xs)) - 1)]


def beyond(n, p):
    """How many of n samples lie strictly beyond the nearest-rank p."""
    return n - max(1, math.ceil(p * n))


def tail(values, p):
    """quantile(values, p), refused unless TAIL_SAMPLES lie beyond it."""
    if beyond(len(values), p) < TAIL_SAMPLES:
        raise ValueError(f"p{p * 100:g} of {len(values)} samples has fewer "
                         f"than {TAIL_SAMPLES} samples beyond it")
    return quantile(values, p)


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
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


def self_times(spans):
    """span id -> its duration minus the part its children cover
    (children clipped to the parent; overlapping children count once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        covered = union_ms([(max(a, c["start_ms"]), min(b, c["end_ms"]))
                            for c in kids.get(s["id"], [])
                            if c["end_ms"] > a and c["start_ms"] < b])
        out[s["id"]] = (b - a) - covered
    return out


def dur(s):
    return s["end_ms"] - s["start_ms"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def ratio(num, den):
    return {"value": num / den if den else None, "numerator": num,
            "denominator": den}


class Layers:
    """Listener records (jobs, stages) grouped by the span that caused
    them, rolled up per call of one layer."""

    def __init__(self, raw):
        self.spans = raw["spans"]
        self.jobs = {}
        for j in raw.get("jobs", []):
            self.jobs.setdefault(j["span"], []).append(j)
        self.stages = {}
        for st in raw.get("stages", []):
            self.stages.setdefault(st["span"], []).append(st)

    def per_call(self, call):
        jobs = self.jobs.get(call["id"], [])
        stages = self.stages.get(call["id"], [])
        a, b = call["start_ms"], call["end_ms"]
        ended = [(max(a, j["start_ms"]), min(b, j["end_ms"])) for j in jobs
                 if j["end_ms"] >= 0 and j["end_ms"] > a and j["start_ms"] < b]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
            "driver_gap_ms": dur(call) - union_ms(ended),
            "exec_run_ms": sum(s["run_ms"] for s in stages),
            "exec_cpu_ms": sum(s["cpu_ms"] for s in stages),
            "gc_ms": sum(s["gc_ms"] for s in stages),
            "scan_mb": sum(s["scan_bytes"] for s in stages) / MB,
            "shuffle_write_mb": sum(s["shuffle_write_bytes"]
                                    for s in stages) / MB,
            "shuffle_read_mb": sum(s["shuffle_read_bytes"]
                                   for s in stages) / MB,
            "spill_mb": sum(s["spill_bytes"] for s in stages) / MB,
        }

    def rollup(self, calls, keys):
        """Median over calls of each per-call figure."""
        rows = [self.per_call(c) for c in calls]
        return {k: median([r[k] for r in rows]) for k in keys}
