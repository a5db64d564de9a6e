"""Statistics and trace arithmetic for the benchmark: order statistics of
op latencies, and the attribution of Spark jobs to the spans recorded
around calls into each layer. Pure functions, covered by tests/."""

import math
import statistics

COUNTERS = ("wall_s", "jobs", "tasks", "driver_s", "cpu_s", "gc_s",
            "rows_read", "shuffle_mb")


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(first quartile, median, third quartile), as statistics.quantiles
    gives them."""
    return tuple(statistics.quantiles(xs, n=4))


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs):
    """The highest percentile that has at least ten samples beyond it,
    capped at p90: (value, percentile). None when there are fewer than
    eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    i = min(math.ceil(0.9 * n) - 1, n - 11)
    return sorted(xs)[i], 100.0 * (i + 1) / n


def attribute(spans, jobs):
    """Credit each job to the one open span at its submission time: of
    the spans whose interval holds the submission, the one that opened
    last (the innermost, since one client thread nests its spans).
    Returns one span index, or None, per job."""
    out = []
    for j in jobs:
        best = None
        for i, s in enumerate(spans):
            if s["start"] <= j["submit"] <= s["end"] and (
                    best is None or s["start"] >= spans[best]["start"]):
                best = i
        out.append(best)
    return out


def attributed_share(ops, spans, jobs):
    """Of the Spark jobs submitted during each op, the share credited to a
    layer span opened and closed inside that op. A job credited to a span
    around the whole cycle, or to none, is not attributed. Returns the
    smallest share over the ops that submitted jobs (1.0 if none did)."""
    owner = attribute(spans, jobs)
    per_op = {}
    for j, o in zip(jobs, owner):
        for k, op in enumerate(ops):
            if op["start"] <= j["submit"] <= op["end"]:
                inside = o is not None and op["start"] <= spans[o]["start"] \
                    and spans[o]["end"] <= op["end"]
                n, hit = per_op.get(k, (0, 0))
                per_op[k] = (n + 1, hit + inside)
                break
    return min((hit / n for n, hit in per_op.values()), default=1.0)


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


def span_counters(span, jobs):
    """Counters of one span over the jobs submitted inside it (its own and
    its child spans'). driver_s is the span's wall time outside every job
    interval: planning, commit I/O, marker and footer reads. overlap is
    the summed job time over the union of job intervals."""
    inside = [j for j in jobs if span["start"] <= j["submit"] <= span["end"]]
    iv = [(max(j["submit"], span["start"]), min(j["end"], span["end"]))
          for j in inside if j["end"] >= 0]
    busy = union_ms(iv)
    wall = span["end"] - span["start"]
    return {
        "wall_s": wall / 1000,
        "jobs": len(inside),
        "tasks": sum(j["tasks"] for j in inside),
        "driver_s": (wall - busy) / 1000,
        "cpu_s": sum(j["cpu_ns"] for j in inside) / 1e9,
        "gc_s": sum(j["gc_ms"] for j in inside) / 1000,
        "rows_read": sum(j["rows_read"] for j in inside),
        "shuffle_mb": sum(j["shuffle_bytes"] for j in inside) / 1048576,
        "written_mb": sum(j["written_bytes"] for j in inside) / 1048576,
        "overlap": sum(e - s for s, e in iv) / busy if busy > 0 else 0.0,
    }


def fail_frac(attempted, failed):
    return failed / attempted if attempted else 1.0
