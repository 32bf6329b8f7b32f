"""The benchmark's arithmetic: medians and the tail rule, output digests,
span self time, attribution of Spark jobs to spans, and the Spark-cost
summary of a span. Pure functions over the raw records the JVM writes;
tested by tests/test_metrics.py.
"""
import hashlib
import math
import statistics

MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_rank(n):
    """1-based rank of the tail sample: the highest rank that leaves at least
    MIN_BEYOND of n samples above it (the 11th largest). Below the median it
    is no tail, so it is never lower than the median's rank."""
    return max(math.ceil(n / 2), n - MIN_BEYOND)


def tail(xs):
    """(value, percentile) of the tail of xs (see tail_rank)."""
    r = tail_rank(len(xs))
    return sorted(xs)[r - 1], 100.0 * r / len(xs)


def digest(items):
    """Order-independent digest of a set of strings: the count and the sum
    mod 2^64 of the first 8 bytes (big-endian) of each string's SHA-256.
    Main.digest in the JVM computes the same."""
    n = 0
    total = 0
    for s in items:
        total += int.from_bytes(hashlib.sha256(s.encode("utf-8")).digest()[:8], "big")
        n += 1
    return f"{n}:{total % (1 << 64):016x}"


def _union_us(intervals):
    """Total length of the union of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
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


def self_time_us(spans):
    """span id -> its duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = _union_us(
            (max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
            for c in kids.get(s["id"], [])
            if c["end_us"] > s["start_us"] and c["start_us"] < s["end_us"])
        out[s["id"]] = s["end_us"] - s["start_us"] - covered
    return out


def attribute(jobs, spans):
    """job id -> id of the innermost span open when the job started (None if
    no span was open). Spans nest, so the innermost open one is the open
    span that started last."""
    out = {}
    for j in jobs:
        t = j["start_ms"] * 1000
        open_spans = [s for s in spans if s["start_us"] <= t <= s["end_us"]]
        out[j["job"]] = max(open_spans, key=lambda s: (s["start_us"], s["id"]))["id"] \
            if open_spans else None
    return out


def spark_cost(span, jobs, tasks, owner, cores):
    """Spark cost of the jobs attributed to `span` (owner = attribute(...)).
    Idle time is the part of the span's wall time with no task running."""
    mine = {j["job"] for j in jobs if owner.get(j["job"]) == span["id"]}
    ts = [t for t in tasks if t["job"] in mine]
    wall_ms = (span["end_us"] - span["start_us"]) / 1000.0
    busy_ms = _union_us(
        (max(t["launch_ms"], span["start_us"] / 1000.0),
         min(t["finish_ms"], span["end_us"] / 1000.0)) for t in ts
        if t["finish_ms"] > span["start_us"] / 1000.0
        and t["launch_ms"] < span["end_us"] / 1000.0)
    by_stage = {}
    for t in ts:
        by_stage.setdefault(t["stage"], []).append(t["finish_ms"] - t["launch_ms"])
    skew = max([max(d) / max(statistics.median(d), 1.0)
                for d in by_stage.values() if len(d) >= 2] or [1.0])
    mb = 1 << 20
    return {
        "jobs": len(mine),
        "tasks": len(ts),
        "shuffle_write_mb": sum(t["shuffle_write_bytes"] for t in ts) / mb,
        "shuffle_read_mb": sum(t["shuffle_read_bytes"] for t in ts) / mb,
        "spill_mb": sum(t["spill_bytes"] for t in ts) / mb,
        "gc_ms": sum(t["gc_ms"] for t in ts),
        "task_cpu_ms": sum(t["cpu_ns"] for t in ts) / 1e6,
        "run_ms": sum(t["run_ms"] for t in ts),
        "slot_busy_ratio": sum(t["run_ms"] for t in ts) / max(wall_ms * cores, 1e-9),
        "cluster_idle_ms": wall_ms - busy_ms,
        "task_skew": skew,
        "wall_ms": wall_ms,
    }

