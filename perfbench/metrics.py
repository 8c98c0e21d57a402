"""Metric arithmetic over a raw harness record.

The JVM harness records facts (windows, listener events, trigger
progress); every number the benchmark reports is derived here, in plain
functions that the tests drive with synthetic events.
"""
import math
import statistics

# ---- percentiles ---------------------------------------------------------


def min_samples(q):
    """Samples needed before the q-quantile (0 < q < 1) is reported: at
    least ten samples must lie beyond it, so p50 needs 20 and p95 200."""
    return math.ceil(round(10.0 / (1.0 - q), 9))


def percentile(values, q):
    """Nearest-rank q-quantile. Raises when too few samples lie beyond it
    for the quantile to mean anything (see `min_samples`)."""
    xs = sorted(values)
    need = min_samples(q)
    if len(xs) < need:
        raise ValueError(f"p{round(q * 100)} needs {need} samples, got {len(xs)}")
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def median(values):
    return statistics.median(values)


# ---- intervals -----------------------------------------------------------


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length of the union of [a, b) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def idle_ms(window, stages):
    """Wall time inside `window` (start_ms, end_ms) with no stage running.
    `stages` are dicts with submit_ms/end_ms."""
    lo, hi = window
    busy = union_length([(s["submit_ms"], s["end_ms"]) for s in stages
                         if s["submit_ms"] >= 0 and s["end_ms"] >= 0], lo, hi)
    return (hi - lo) - busy


# ---- stream latency --------------------------------------------------------


def file_commits(files, progress):
    """Commit time of each landed file.

    `files` are dicts with name/due_ms/landed_ms; `progress` are trigger
    records with `last` (the `{"last": name}` end offset) and commit_ms.
    A trigger commits every file whose name sorts after the previous
    committed offset and at or below its own. Returns {name: commit_ms};
    files no trigger covered are absent."""
    out = {}
    names = sorted(f["name"] for f in files)
    i = 0
    for p in sorted(progress, key=lambda p: p["commit_ms"]):
        last = p.get("last") or ""
        while i < len(names) and names[i] <= last:
            out[names[i]] = p["commit_ms"]
            i += 1
    return out


def file_latencies(files, progress):
    """Due-to-commit latency (ms) per file: from when the file was due to
    land to the commit of the micro-batch whose offset covers it."""
    commits = file_commits(files, progress)
    return [commits[f["name"]] - f["due_ms"] for f in files if f["name"] in commits]


def latency_slope(files, progress):
    """Least-squares slope of file latency against landing time (ms per
    ms) over the committed files: about 0 while the query keeps up, the
    rate of backlog growth when it does not."""
    commits = file_commits(files, progress)
    pts = [(f["landed_ms"], commits[f["name"]] - f["due_ms"]) for f in files if f["name"] in commits]
    if len(pts) < 2:
        return 0.0
    mx = sum(x for x, _ in pts) / len(pts)
    my = sum(y for _, y in pts) / len(pts)
    sxx = sum((x - mx) ** 2 for x, _ in pts)
    return sum((x - mx) * (y - my) for x, y in pts) / sxx if sxx else 0.0


def traced_throughout(toggles, start_ms, end_ms):
    """Whether the listeners were attached for the whole of [start_ms,
    end_ms]: True, False, or None when they were toggled inside it.
    `toggles` are {at_ms, on} records in time order, the first at or
    before any interval asked about."""
    state = None
    for t in toggles:
        if t["at_ms"] <= start_ms:
            state = t["on"]
        elif t["at_ms"] < end_ms:
            if t["on"] != state:
                return None
        else:
            break
    return state


def backlog_max(files, progress):
    """Most files landed but not yet committed, seen at any commit."""
    commits = file_commits(files, progress)
    worst = 0
    for p in progress:
        t = p["commit_ms"]
        waiting = sum(1 for f in files if f["landed_ms"] <= t and commits.get(f["name"], math.inf) > t)
        worst = max(worst, waiting)
    return worst


# ---- layer sums ----------------------------------------------------------


def in_window(t, window):
    return window[0] <= t < window[1]


def layer_sums(window, jobs, stages, plans, cpus, build_windows=()):
    """Per-layer sums for one pass window (start_ms, end_ms).

    Jobs and query executions belong to the window they start in; stages
    belong to their job. `build_windows` are the decl build intervals
    (jobs started inside them are build jobs)."""
    wjobs = [j for j in jobs if "start_ms" in j and in_window(j["start_ms"], window)]
    ids = {sid for j in wjobs for sid in j.get("stages", [])}
    wst = [s for s in stages if s["id"] in ids]
    wplans = [p for p in plans if in_window(p["start_ms"], window)]
    wall_s = (window[1] - window[0]) / 1000.0
    run_s = sum(s["run_ms"] for s in wst) / 1000.0
    multi = [s for s in wst if s["tasks"] >= 2]
    mean_task = sum(s["run_ms"] / s["tasks"] for s in multi)
    by_id = {}
    for s in wst:
        by_id.setdefault(s["id"], []).append(s)
    commit_s = 0.0
    for j in wjobs:
        ends = [s["end_ms"] for sid in j.get("stages", []) for s in by_id.get(sid, [])]
        if ends and "end_ms" in j:
            commit_s += max(0.0, j["end_ms"] - max(ends)) / 1000.0
    return {
        "queries.build_jobs": sum(1 for j in wjobs
                                  if any(in_window(j["start_ms"], w) for w in build_windows)),
        "planner.analysis_s": sum(p["analysis_ms"] for p in wplans) / 1000.0,
        "planner.optimization_s": sum(p["optimization_ms"] for p in wplans) / 1000.0,
        "planner.planning_s": sum(p["planning_ms"] for p in wplans) / 1000.0,
        "scheduler.jobs": len(wjobs),
        "scheduler.stages": len(wst),
        "scheduler.tasks": sum(s["tasks"] for s in wst),
        "scheduler.delay_s": sum(s["sched_delay_ms"] for s in wst) / 1000.0,
        "executor.run_s": run_s,
        "executor.cpu_s": sum(s["cpu_ns"] for s in wst) / 1e9,
        "executor.gc_s": sum(s["gc_ms"] for s in wst) / 1000.0,
        "executor.core_util": run_s / (wall_s * cpus) if wall_s > 0 else 0.0,
        "executor.serial_stage_s": sum(s["end_ms"] - s["submit_ms"] for s in wst
                                       if s["num_tasks"] == 1) / 1000.0,
        "executor.skew": (sum(s["max_run_ms"] for s in multi) / mean_task) if mean_task > 0 else 1.0,
        "executor.failed_tasks": sum(s["failed_tasks"] for s in wst),
        "exchange.write_bytes": sum(s["shuffle_write_bytes"] for s in wst),
        "exchange.read_bytes": sum(s["shuffle_read_bytes"] for s in wst),
        "exchange.fetch_wait_s": sum(s["fetch_wait_ms"] for s in wst) / 1000.0,
        "exchange.spill_bytes": sum(s["spill_bytes"] for s in wst),
        "sources.input_bytes": sum(s["input_bytes"] for s in wst),
        "sources.input_rows": sum(s["input_rows"] for s in wst),
        "sources.scan_run_s": sum(s["input_run_ms"] for s in wst) / 1000.0,
        "sink.output_rows": sum(s["output_rows"] for s in wst),
        "sink.job_commit_s": commit_s,
    }


# ---- spans and self time ---------------------------------------------------


def self_times(spans):
    """Self time of each span: its duration minus the union of its
    children's intervals. `spans` are dicts id/parent/kind/start_ms/end_ms.
    Returns {id: (kind, seconds)}."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["kind"], ((b - a) - union_length(kids, a, b)) / 1000.0)
    return out


def _innermost(spans, t, kinds):
    best = None
    for s in spans:
        if s["kind"] in kinds and s["start_ms"] <= t < s["end_ms"]:
            if best is None or s["start_ms"] >= best["start_ms"]:
                best = s
    return best


def build_spans(window_spans, jobs, stages, plans, progress):
    """The span tree for traced windows: the given run/pass/decl/build/exec
    (or phase) spans, plus trigger, plan, job and stage spans, each hung
    under the innermost span containing its start. Every span under a decl
    carries the decl execution's trace id."""
    spans = list(window_spans)
    for p in progress:
        host = _innermost(window_spans, p["start_ms"], ("phase",))
        if host and p["commit_ms"] > p["start_ms"]:
            spans.append({"id": f"trigger{p['batch']}", "parent": host["id"],
                          "kind": "trigger", "start_ms": p["start_ms"],
                          "end_ms": p["commit_ms"]})
    hosts_of = list(spans)
    hosts = ("build", "exec", "trigger", "phase", "pass", "decl")
    for i, p in enumerate(plans):
        host = _innermost(hosts_of, p["start_ms"], hosts)
        if host:
            spans.append({"id": f"plan{i}", "parent": host["id"], "kind": "plan",
                          "start_ms": p["start_ms"], "end_ms": p["end_ms"]})
    by_stage = {}
    for s in stages:
        by_stage.setdefault(s["id"], []).append(s)
    for j in jobs:
        if "start_ms" not in j or "end_ms" not in j:
            continue
        host = _innermost(hosts_of, j["start_ms"], hosts)
        if not host:
            continue
        jid = f"job{j['id']}"
        spans.append({"id": jid, "parent": host["id"], "kind": "job",
                      "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
        for sid in j.get("stages", []):
            for s in by_stage.get(sid, []):
                if s["submit_ms"] >= 0 and s["end_ms"] >= 0:
                    spans.append({"id": f"stage{sid}.{s['attempt']}", "parent": jid,
                                  "kind": "stage", "start_ms": s["submit_ms"],
                                  "end_ms": s["end_ms"]})
    by_id = {}
    for s in spans:  # parents precede their children
        parent = by_id.get(s.get("parent"))
        if "trace_id" not in s and parent and "trace_id" in parent:
            s["trace_id"] = parent["trace_id"]
        by_id[s["id"]] = s
    return spans
