"""Percentiles, span self-time arithmetic and metric roll-ups.

Pure functions over the harness's raw observations; `test_perfbench.py`
pins their arithmetic.
"""
import math
import statistics

# Tail percentiles a latency report may use, highest first.
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def samples_beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_tail_percentile(n):
    """The highest percentile with at least ten samples beyond it, or None.

    A tail percentile resting on fewer than ten samples above it is one or
    two outliers; p90 therefore needs at least 100 samples."""
    for p in TAIL_PERCENTILES:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), each clipped
    to [lo, hi] when given. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, -math.inf
    for a, b in sorted(clipped):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# Spans the harness records inside a statement, in call order.
STAGES = ("graft.build", "optimizer.optimize", "planner.plan", "exec.run",
          "result.fetch")
LAYERS = ("statement", "graftsql.rewrite", "sources.path_read",
          "graft.analysis", "graft.build", "optimizer.optimize",
          "planner.plan", "exec.jobs", "exec.run", "result.fetch")


def self_times(record):
    """Self time (ms) per layer of one traced statement.

    A layer's self time is its span minus the time covered by its children.
    Children: Spark jobs run inside any stage span (their union is the
    `exec.jobs` layer); the tracker's analysis phase, the dialect rewrite and
    the path-table read run inside `graft.build` (the last two are timed by
    repeating the facade's own call just before the statement). `statement`
    keeps the harness's own glue between the stage spans. The self times of
    all layers add up to the statement's wall time."""
    spans = {name: (a, b) for name, a, b in record["spans"]}
    jobs = [tuple(j) for j in record.get("jobs_spans", [])]
    dur = {n: spans[n][1] - spans[n][0] for n in spans}
    out = dict.fromkeys(LAYERS, 0.0)
    out["graftsql.rewrite"] = dur.get("graftsql.rewrite", 0.0)
    out["sources.path_read"] = dur.get("sources.path_read", 0.0)
    for n in STAGES:
        if n in spans:
            inner = union_length(jobs, *spans[n])
            out["exec.jobs"] += inner
            out[n] = dur[n] - inner
    build = out["graft.build"]
    analysis = min(float(record.get("analysis_ms", 0.0)), build)
    out["graft.analysis"] = analysis
    out["graft.build"] = max(0.0, build - analysis - out["graftsql.rewrite"]
                             - out["sources.path_read"])
    wall = dur["statement"]
    out["statement"] = wall - sum(dur.get(n, 0.0) for n in STAGES)
    return out


def median(values):
    return statistics.median(values) if values else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0
