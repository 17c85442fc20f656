"""The benchmark's arithmetic: medians and tails, span self-time
accounting, prefix-difference stage attribution, and the per-layer
metrics derived from a traced run's dump."""
import datetime
import json
import statistics


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def tail(samples):
    """The highest percentile with at least ten samples beyond it.

    With n sorted samples, the value at rank n - 10 (1-based) has exactly
    ten samples ranked above it; its percentile is 100 * (n - 10) / n.
    With ten samples or fewer no percentile qualifies, and the maximum
    is reported as percentile 100. Returns (value, percentile, n).
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return float(xs[-1]), 100.0, n
    r = n - 10
    return float(xs[r - 1]), 100.0 * r / n, n


# Depth of each span kind in the call tree. At every instant the deepest
# open span owns the time (ties: the later start), so overlapping
# siblings are never counted twice and the layer totals add up to the
# root's wall time exactly.
DEPTH = {"pass": 0, "job": 1, "call": 2, "batch": 3, "phase": 3, "spark_job": 4, "stage": 5}


def self_times(root, spans):
    """Attribute the root span's wall time to layers.

    root: (start, end). spans: iterable of (start, end, kind, layer); a
    span with an empty layer (the pass and job spans of the harness)
    counts as unattributed. Spans are clipped to the root.
    Returns {layer: seconds, ..., "unattributed": seconds}; the values
    sum to the root's duration.
    """
    r0, r1 = root
    items = []
    for s, e, kind, layer in spans:
        s, e = max(s, r0), min(e, r1)
        if e > s:
            items.append((s, e, DEPTH[kind], layer))
    points = sorted({r0, r1, *[p for it in items for p in it[:2]]})
    out = {"unattributed": 0.0}
    for a, b in zip(points, points[1:]):
        best = None
        for s, e, d, layer in items:
            if s <= a and e >= b and (best is None or (d, s) > best[:2]):
                best = (d, s, layer)
        layer = best[2] if best and best[2] else "unattributed"
        out[layer] = out.get(layer, 0.0) + (b - a) / 1e3
    return out


PREFIXES = ["ingest", "tokenize", "normalize", "count", "sink"]
STAGES = ["scan", "tokenize", "normalize", "aggregate", "sink"]


def prefix_attribution(samples):
    """core.<stage>_s from timed prefixes of the WordCount pipeline.

    samples: {prefix: [seconds]} for the prefixes ingest, tokenize,
    normalize, count, sink, each one stage longer than the last. A
    stage's time is the difference of consecutive prefix medians, at
    least zero; the first stage is the first prefix's median.
    """
    meds = [median(samples[p]) for p in PREFIXES]
    prev = 0.0
    out = {}
    for stage, m in zip(STAGES, meds):
        out[stage] = max(m - prev, 0.0)
        prev = m
    return out


def _epoch_ms(ts):
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


def _in(t, iv):
    return t is not None and iv[0] <= t <= iv[1]


def _union(ivs):
    total, cur = 0.0, None
    for s, e in sorted(ivs):
        if cur is None or s > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur:
        total += cur[1] - cur[0]
    return total


def pass_layers(iv, dump, cores):
    """Per-layer metrics for one traced pass spanning iv = (start, end) ms."""
    spans = [s for s in dump["spans"] if _in(s["start"], iv)]
    calls = [s for s in spans if s["name"] in ("build", "sink")]
    jobs = [j for j in dump["spark_jobs"] if _in(j.get("start"), iv)]
    stage_ids = {sid for j in jobs for sid in j.get("stages", [])}
    stages = [s for s in dump["stages"] if s["stage"] in stage_ids and s["start"] is not None]
    tasks = [t for t in dump["tasks"] if t["stage"] in stage_ids]
    phases = [(k, p) for ph in dump["phases"] for k, p in ph.items() if _in(p["start"], iv)]
    progress = [p for p in (json.loads(x) for x in dump["progress"])
                if _in(_epoch_ms(p["timestamp"]), iv)]
    m = {}

    # queries: builder and sink calls of SparkEntry.queries jobs.
    def jobs_under(name):
        ids = {s["id"] for s in calls if s["name"] == name and s["layer"] == "queries"}
        return sum(1 for j in jobs if j.get("span") in ids)
    q = [s for s in calls if s["layer"] == "queries"]
    m["queries.build_s"] = sum(s["end"] - s["start"] for s in q if s["name"] == "build") / 1e3
    m["queries.build_jobs"] = jobs_under("build")
    m["queries.exec_s"] = sum(s["end"] - s["start"] for s in q if s["name"] == "sink") / 1e3
    m["queries.exec_jobs"] = jobs_under("sink")

    # plans: QueryPlanningTracker phases of batch queries.
    for key, name in (("analysis", "analysis_ms"), ("optimization", "optimizer_ms"),
                      ("planning", "planning_ms")):
        m[f"plans.{name}"] = sum(p["end"] - p["start"] for k, p in phases if k == key)

    # exec: the Spark runtime.
    ok = [t for t in tasks if "run_ms" in t]
    wall = lambda t: (t["end"] - t["start"]) / 1e3
    busy = sum(wall(t) for t in tasks)
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = len(stages)
    m["exec.tasks"] = len(tasks)
    m["exec.tasks_failed"] = sum(1 for t in tasks if not t["ok"])
    m["exec.task_busy_s"] = busy
    m["exec.task_cpu_s"] = sum(t["cpu_ns"] for t in ok) / 1e9
    m["exec.gc_s"] = sum(t["gc_ms"] for t in ok) / 1e3
    m["exec.shuffle_write_bytes"] = sum(t["sw_bytes"] for t in ok)
    m["exec.shuffle_write_records"] = sum(t["sw_records"] for t in ok)
    m["exec.shuffle_read_bytes"] = sum(t["sr_bytes"] for t in ok)
    m["exec.shuffle_fetch_wait_s"] = sum(t["fetch_wait_ms"] for t in ok) / 1e3
    m["exec.spill_bytes"] = sum(t["spill_bytes"] for t in ok)
    m["exec.output_bytes"] = sum(t["out_bytes"] for t in ok)
    pass_s = (iv[1] - iv[0]) / 1e3
    m["exec.core_idle_ratio"] = 1.0 - busy / (cores * pass_s) if pass_s > 0 else 0.0
    skew = 0.0
    if stages:
        slow = max(stages, key=lambda s: (s["end"] or s["start"]) - s["start"])
        d = [wall(t) for t in tasks if t["stage"] == slow["stage"]]
        if d and median(d) > 0:
            skew = max(d) / median(d)
    m["exec.task_skew"] = skew
    st_by_id = {s["stage"]: s for s in stages}
    driver = 0.0
    for j in jobs:
        if j.get("end") is None:
            continue
        covered = [(max(s["start"], j["start"]), min(s["end"], j["end"]))
                   for sid in j.get("stages", []) if (s := st_by_id.get(sid)) and s["end"]]
        driver += (j["end"] - j["start"]) - _union([c for c in covered if c[1] > c[0]])
    m["exec.driver_s"] = driver / 1e3

    # sources: tasks that read a source.
    readers = [t for t in ok if t["in_bytes"] > 0 or t["in_records"] > 0]
    m["sources.scan_s"] = sum(wall(t) for t in readers)
    m["sources.bytes_read"] = sum(t["in_bytes"] for t in readers)
    m["sources.rows_read"] = sum(t["in_records"] for t in readers)

    # streaming: micro-batch progress events.
    trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    m["streaming.batches"] = len(progress)
    m["streaming.batch_p50_ms"] = median(trig)
    m["streaming.add_batch_ms"] = sum(p["durationMs"].get("addBatch", 0) for p in progress)
    m["streaming.commit_ms"] = sum(o.get("commitTimeMs", 0) for p in progress
                                   for o in p.get("stateOperators", []))
    m["streaming.wal_ms"] = sum(p["durationMs"].get("walCommit", 0) for p in progress)
    m["streaming.planning_ms"] = sum(p["durationMs"].get("queryPlanning", 0) for p in progress)
    m["streaming.state_rows"] = max([sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", []))
                                     for p in progress] or [0])
    m["streaming.state_bytes"] = max([sum(o.get("memoryUsedBytes", 0) for o in p.get("stateOperators", []))
                                      for p in progress] or [0])
    m["streaming.rows_in"] = sum(p.get("numInputRows", 0) for p in progress)

    # Self-time accounting over the pass.
    tree = []
    for s in spans:
        kind = "pass" if s["name"].startswith("pass:") else "job" if s["name"].startswith("job:") else "call"
        tree.append((s["start"], s["end"], kind, s["layer"]))
    for j in jobs:
        if j.get("end") is not None:
            tree.append((j["start"], j["end"], "spark_job", "exec"))
    for s in stages:
        if s["end"]:
            tree.append((s["start"], s["end"], "stage", "exec"))
    for _, p in phases:
        tree.append((p["start"], p["end"], "phase", "plans"))
    for p, d in zip(progress, trig):
        t0 = _epoch_ms(p["timestamp"])
        tree.append((t0, t0 + d, "batch", "streaming"))
    selfs = self_times(iv, tree)
    for layer in ("core", "queries", "plans", "exec", "streaming"):
        m[f"trace.{layer}_self_s"] = selfs.get(layer, 0.0)
    m["trace.unattributed_s"] = selfs["unattributed"]
    m["trace.pass_s"] = pass_s
    return m
