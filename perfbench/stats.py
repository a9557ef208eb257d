"""The benchmark's own arithmetic: percentiles, span self time, and the
attribution of Spark counters to spans. Pure functions, unit-tested in
tests/test_stats.py."""
import math
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(values):
    return statistics.median(values) if values else None


def rank(n, p):
    """1-based nearest rank of the p-th percentile among n samples (the
    epsilon keeps 99.9% of 10000 at 9990, not 9991)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    return sorted(values)[rank(len(values), p) - 1]


def beyond(n, p):
    """How many of n samples rank above the nearest-rank p-th percentile."""
    return n - rank(n, p)


def tail(values, min_beyond=10):
    """The highest percentile with at least `min_beyond` samples beyond
    it, as (percentile, value, samples beyond), or None when only the
    median is supported."""
    n = len(values)
    for p in TAIL_LADDER:
        if beyond(n, p) >= min_beyond:
            return p, percentile(values, p), beyond(n, p)
    return None


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, lo, hi):
    return max(interval[0], lo), min(interval[1], hi)


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    that its direct children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length([clip((c["start"], c["end"]), s["start"], s["end"])
                                for c in kids.get(s["id"], [])])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def descendants(spans):
    """Span id -> set of ids of the span and everything below it."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out = {}

    def walk(i):
        if i not in out:
            acc = {i}
            for k in kids.get(i, []):
                acc |= walk(k)
            out[i] = acc
        return out[i]

    for s in spans:
        walk(s["id"])
    return out


def attribute(jobs, stages):
    """Stage records grouped by the span whose job group submitted them.

    A job carries the innermost open span's id as its group; a stage
    belongs to the first job that lists it (a shared stage is counted
    once). Retried stage attempts are all kept: each one did work."""
    owner = {}
    for j in sorted(jobs, key=lambda j: j["job"]):
        for st in j["stages"]:
            owner.setdefault(st, j["span"])
    by_span = {}
    for st in stages:
        sid = owner.get(st["stage"])
        if sid is not None:
            by_span.setdefault(sid, []).append(st)
    return by_span


def driver_gap_us(span, stage_list):
    """Span wall time minus the union of its stages' run intervals
    (stage times are epoch milliseconds, span times microseconds)."""
    iv = [clip((st["submitted"] * 1000, st["completed"] * 1000), span["start"], span["end"])
          for st in stage_list]
    return (span["end"] - span["start"]) - union_length(iv)


def innermost(spans, t):
    """The latest-starting span whose interval holds time t, or None."""
    holding = [s for s in spans if s["start"] <= t <= s["end"]]
    return max(holding, key=lambda s: s["start"]) if holding else None


def scan_stages(queries, stages, fmt):
    """The stages that ran a file scan of format `fmt`: a stage ran a
    plan node when it updated one of the node's SQL metrics, whose
    accumulator ids the executed plan records."""
    ids = {a for q in queries for sc in q.get("scans", []) if sc["format"] == fmt
           for a in sc["accums"]}
    return [st for st in stages if ids.intersection(st.get("accums", []))]
