"""Arithmetic of the benchmark: interval unions, span self time, the
attribution of Spark scheduler events to spans, and the statistics the
result reports. Pure functions over the JSON that `perfbench.Main` writes.
"""
import statistics

# Layer spans, each named after the public call it times.
SPANS = [
    "GraphOps.fromTranscripts",
    "EdgeStore.write",
    "EdgeStore.mergeDelta",
    "EdgeStore.read",
    "PageRank.run",
    "PageRank.runMultiSeed",
    "InOutPageRank.run",
    "ArnoldiPageRank.run",
    "ConnectedComponents.run",
    "LabelPropagation.run",
    "Triangles.count",
    "ranks.write",
]
SOLVERS = ["PageRank.run", "PageRank.runMultiSeed", "InOutPageRank.run",
           "ArnoldiPageRank.run", "LabelPropagation.run"]

# (suffix, unit) of the counters every span gets.
BASE = [("wall_ms", "ms"), ("self_ms", "ms"), ("driver_ms", "ms"),
        ("jobs", "count"), ("stages", "count"), ("task_ms", "ms"),
        ("gc_ms", "ms"), ("shuffle_write_bytes", "bytes")]
EXTRA = {
    "PageRank.run": [("iter_ms_median", "ms"), ("first_iter_ms", "ms")],
    "EdgeStore.write": [("bytes_written", "bytes")],
    "EdgeStore.mergeDelta": [("bytes_written", "bytes"), ("buckets_rewritten", "count"),
                             ("touched_srcs", "count")],
    "EdgeStore.read": [("bytes_read", "bytes")],
}


def layer_metric_units():
    """Every per-layer metric name with its unit, in report order."""
    out = {}
    for s in SPANS:
        for suffix, unit in BASE:
            out[f"{s}.{suffix}"] = unit
        if s in SOLVERS:
            out[f"{s}.iterations"] = "count"
        for suffix, unit in EXTRA.get(s, []):
            out[f"{s}.{suffix}"] = unit
    out["e2e.wall_ms"] = "ms"
    return out


def union_length(intervals, lo, hi):
    """Length of the union of closed intervals (a, b), clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0, lo
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_ms(span, spans):
    """Span duration minus the part of it that its child spans cover."""
    kids = [(c["start_ms"], c["end_ms"]) for c in spans if c["parent"] == span["id"]]
    return (span["end_ms"] - span["start_ms"]) - union_length(
        kids, span["start_ms"], span["end_ms"])


def driver_ms(span, tasks):
    """Span duration during which no task ran: planning, codegen and scheduling."""
    busy = [(t[0], t[1]) for t in tasks]
    return (span["end_ms"] - span["start_ms"]) - union_length(
        busy, span["start_ms"], span["end_ms"])


def depth(span, by_id):
    d = 0
    while span["parent"] >= 0:
        span = by_id[span["parent"]]
        d += 1
    return d


def innermost(spans, t):
    """The deepest span open at time t; between two siblings that touch at
    t, the one that starts at t (a job is submitted after its span opens).
    Returns None when no span covers t.
    """
    by_id = {s["id"]: s for s in spans}
    open_ = [s for s in spans if s["start_ms"] <= t <= s["end_ms"]]
    if not open_:
        return None
    return max(open_, key=lambda s: (depth(s, by_id), s["start_ms"]))["id"]


def span_records(run):
    """One record per span of a traced run, with every counter; the
    scheduler events are attributed to the innermost span open when the
    job or stage was submitted, or the task launched.
    """
    spans = run["spans"]
    ev = run.get("events") or {}
    tasks = ev.get("tasks", [])
    recs = {}
    for s in spans:
        recs[s["id"]] = {
            "name": s["name"], "id": s["id"], "parent": s["parent"],
            "start_ms": s["start_ms"], "end_ms": s["end_ms"],
            "wall_ms": s["wall_ms"], "self_ms": self_ms(s, spans),
            "driver_ms": driver_ms(s, tasks), "jobs": 0, "stages": 0,
            "task_ms": 0, "gc_ms": 0, "shuffle_write_bytes": 0,
            "bytes_written": 0, "bytes_read": 0, **s.get("extra", {})}
    for _, t in ev.get("jobs", []):
        sid = innermost(spans, t)
        if sid is not None:
            recs[sid]["jobs"] += 1
    for _, _, t in ev.get("stages", []):
        sid = innermost(spans, t)
        if sid is not None:
            recs[sid]["stages"] += 1
    for launch, _, run_ms, gc, shuffle_w, out_b, in_b in tasks:
        sid = innermost(spans, launch)
        if sid is not None:
            r = recs[sid]
            r["task_ms"] += run_ms
            r["gc_ms"] += gc
            r["shuffle_write_bytes"] += shuffle_w
            r["bytes_written"] += out_b
            r["bytes_read"] += in_b
    return [recs[s["id"]] for s in spans]


def layer_values(records):
    """Per-layer metric values of one traced run: a span's counters summed
    over its calls; 0 for a layer the workload does not call.
    """
    out = {name: 0.0 for name in layer_metric_units()}
    for r in records:
        for key in out:
            span, _, suffix = key.rpartition(".")
            if span == r["name"] and suffix in r:
                out[key] += r[suffix]
    return out


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    xs = list(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def halves(xs):
    """Median of the first half of the samples and of the second half, in
    run order; with an odd count the middle sample is in neither.
    """
    h = len(xs) // 2
    if h == 0:
        return None
    return statistics.median(xs[:h]), statistics.median(xs[-h:])
