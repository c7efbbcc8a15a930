"""Arithmetic over one benchmark run's raw record: sample statistics,
span self time, Spark-job attribution and driver gaps.

Spans and jobs are plain dicts as the JVM side writes them (see
src/gridbench/Trace.scala). Span times are epoch microseconds; job times
are epoch milliseconds and are converted here.
"""

import math

# Percentiles considered for the tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs):
    """Median of a non-empty sequence (mean of the middle pair if even)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def nearest_rank(xs, p):
    """The p-th percentile by nearest rank: the smallest sample with at
    least p% of the samples at or below it."""
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(xs, beyond=10):
    """The highest percentile of TAIL_LADDER that has at least `beyond`
    samples above its nearest rank, as (p, value); None when even the
    median lacks that many."""
    n = len(xs)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= beyond:
            return p, nearest_rank(xs, p)
    return None


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0
    end = None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def covered(start, end, intervals):
    """Length of [start, end) covered by the union of `intervals`."""
    return union_length((max(a, start), min(b, end)) for a, b in intervals
                        if b > start and a < end)


def children(spans):
    """Map span id -> list of its direct child spans."""
    kids = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] >= 0:
            kids[s["parent"]].append(s)
    return kids


def self_time_us(span, kids):
    """A span's duration minus the part of it its child spans cover."""
    return (span["end_us"] - span["start_us"]) - covered(
        span["start_us"], span["end_us"],
        [(c["start_us"], c["end_us"]) for c in kids[span["id"]]])


def job_interval_us(job):
    return job["start_ms"] * 1000, job["end_ms"] * 1000


def attribute_jobs(spans, jobs):
    """Map job id -> id of the span that submitted it. A job that carries
    no span id (submitted from a pooled thread that did not inherit the
    property) goes to the innermost span whose interval holds its start;
    jobs outside every span map to -1."""
    out = {}
    for j in jobs:
        if j["span"] >= 0:
            out[j["id"]] = j["span"]
            continue
        t = j["start_ms"] * 1000
        best, best_len = -1, None
        for s in spans:
            if s["start_us"] <= t <= s["end_us"]:
                length = s["end_us"] - s["start_us"]
                if best_len is None or length < best_len:
                    best, best_len = s["id"], length
        out[j["id"]] = best
    return out


def subtree_ids(span_id, kids):
    ids, stack = [], [span_id]
    while stack:
        i = stack.pop()
        ids.append(i)
        stack.extend(c["id"] for c in kids[i])
    return ids


def driver_gap_us(span, jobs):
    """Span wall time minus the union of the intervals of the Spark jobs
    it (or a descendant) submitted, clipped to the span. Overlapping jobs
    (broadcast and subquery jobs run beside their parent) count once."""
    return (span["end_us"] - span["start_us"]) - covered(
        span["start_us"], span["end_us"], [job_interval_us(j) for j in jobs])
