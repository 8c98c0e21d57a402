#!/usr/bin/env python3
"""Engine benchmark: one run of one workload, one JSON line out.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
JVM harness (perfbench/harness) into .bench_build/; later runs reuse the
build while the sources are unchanged. Each run then

  1. generates the workload's inputs from --seed (gen.py),
  2. runs the harness in one fresh JVM with SPARK_GRAFT_CPUS = nproc,
  3. checks correctness: decl outputs against their DuckDB oracles, or
     the stream sink's exactly-once count,
  4. writes the full record to .bench_build/records/ and prints the
     last line: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes the span tree next to the record).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import oracle  # noqa: E402

# One batch and one stream workload: every run pays a fresh JVM, its
# set-up, a cold pass and a verify pass, and a full set of repeated runs
# must fit a fixed time budget. The batch workload therefore takes a few
# short decls from each batch layer instead of one workload per layer.
WORKLOADS = {
    "batch_mix": {
        "kind": "batch",
        "why": "Closed loop, one client: short decls from each batch layer (commit-log DML, "
               "a pruned read, BSON, extended-JSON and JDBC import, LLM-data kernels) over "
               "layouts built in set-up.",
        "decls": ["s33_delete_update", "s29_bloom_point_lookup", "s20_bson_dump",
                  "s21_mongo_extjson", "s3_jdbc_roundtrip", "l2_lsh_pairs",
                  "l2_simhash_blocked", "o1_topk"],
        "input": {"sf": "0.01"},
    },
    "stream_import": {
        "kind": "stream",
        "why": "Open loop at fixed rates: the reference job as a stream, the only workload "
               "that runs per-trigger planning, the state store and per-epoch exactly-once "
               "sink commits.",
        # r1 and r2 are sustained on a 4-core host, r3 is two to three
        # times its capacity (0.65-1.1M events/s in large micro-batches,
        # with the host's load); lat_limit_ms is about twice the highest
        # p50 file latency of a sustained step there (1.2 s). The steps
        # take --seconds in all.
        "stream": {"rates": [20000, 200000, 2000000], "step_shares": [0.4, 0.4, 0.2],
                   "files_per_s": 20, "drain_events": 200000, "drain_files": 10,
                   "dup_share": 0.02, "allow_share": 0.4, "trigger_ms": 100,
                   "timeout_s": 60, "lat_limit_ms": 2500, "trace_block_s": 1.0},
    },
}

# Warm passes a batch run makes at least; a traced run alternates traced
# and untraced ones, and needs two of each.
MIN_WARM = 2
MIN_WARM_TRACED = 4

# Budget for one run; the first run of a checkout also builds.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def cpus():
    return len(os.sched_getaffinity(0))


# ---- build ---------------------------------------------------------------

def source_files(root):
    """Everything the build reads: the engine's sources and build definition
    and the harness's."""
    harness = os.path.join(HERE, "harness")
    out = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
           os.path.join(harness, "build.sbt"), os.path.join(harness, "project", "build.properties")]
    for d in (os.path.join(root, "src", "main"), os.path.join(harness, "src")):
        for base, subdirs, files in os.walk(d):
            subdirs.sort()
            out.extend(os.path.join(base, f) for f in sorted(files))
    return out


def source_stamp(root):
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, bdir):
    """Compile engine + harness once per source state; returns the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    print("perfbench: building engine and harness", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=sbt_env(), stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-2000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


# ---- host stamp ------------------------------------------------------------

def host_info(root, stamp, rec):
    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    return {"nproc": cpus(), "mem_total_kb": mem_kb, "jdk": rec["java_version"],
            "spark": rec["spark_version"], "git_commit": commit, "source_sha256": stamp}


def fixture_dir(root, sf):
    """Directory of the fixture tables at scale factor `sf`, as TESTDATA.md
    lists them. Every input is derived from these tables."""
    with open(os.path.join(root, "TESTDATA.md")) as f:
        for line in f:
            cells = [c.strip(" `") for c in line.split("|")]
            if len(cells) > 3 and cells[1] == sf and os.path.isdir(cells[2]):
                return cells[2].rstrip("/")
    raise ValueError(f"no sf{sf} fixture directory as TESTDATA.md lists it")


def cpu_ticks():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(a, b):
    """Share of CPU time the hypervisor gave to other guests between two
    /proc/stat readings: a run that saw a lot of it ran on a busy host."""
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if sum(d) else 0.0


# ---- inputs ----------------------------------------------------------------

def make_inputs(spec, root, data_dir, seed, seconds):
    base = fixture_dir(root, "0.1")
    if spec["kind"] == "stream":
        s = dict(spec["stream"])
        # a step lasts at least 1 s, which still lands the 20 files its
        # p50 latency needs
        steps_s = [max(1.0, share * seconds) for share in s["step_shares"]]
        plan, expected = gen.stream_plan(
            base, data_dir, seed, rates=s["rates"], steps_s=steps_s,
            drain_events=s["drain_events"], files_per_s=s["files_per_s"],
            drain_files=s["drain_files"], dup_share=s["dup_share"],
            allow_share=s["allow_share"], trigger_ms=s["trigger_ms"],
            timeout_s=s["timeout_s"], trace_block_s=s["trace_block_s"])
        params = dict(s, steps_s=steps_s, expected_events=len(expected))
        return params, expected
    inp = spec["input"]
    params = gen.rotated_fixture(fixture_dir(root, inp["sf"]), data_dir, seed)
    params["sf"] = inp["sf"]
    return params, None


# ---- JVM -------------------------------------------------------------------

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_harness(cp, work, args, timeout):
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # no hsperfdata file: it would land in the system temp directory
    cmd = ["java", "-Xmx4g", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.stream.error.file={work}/derby.log",
            f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "graft.perfbench.Harness",
            "--work", work] + args
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    # the engine keeps per-JVM working files under /tmp/graft_io/<pid>
    shutil.rmtree(f"/tmp/graft_io/{proc.pid}", ignore_errors=True)
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        die("harness timed out" if rc is None else f"harness exited with {rc}")


# ---- metrics ---------------------------------------------------------------

def batch_end_to_end(rec):
    passes = rec["passes"]
    return {
        "first_pass_s": (passes[0]["end_ms"] - passes[0]["start_ms"]) / 1000.0,
        "pass_s": M.median([(p["end_ms"] - p["start_ms"]) / 1000.0 for p in passes[1:]]),
    }


def drain_s(phase, progress):
    files = phase["files"]
    commits = M.file_commits(files, progress)
    return (max(commits[f["name"]] for f in files) - min(f["landed_ms"] for f in files)) / 1000.0


def warm_triggers(rec):
    """Micro-batches that read data after the cold backlog was committed."""
    cold_end = rec["phases"][0]["end_ms"]
    return [p for p in rec["progress"] if p["input_rows"] > 0 and p["start_ms"] >= cold_end]


# the rate steps the host sustains; r3 is above its capacity by design
SUSTAINED = ("r1", "r2")


def sustained_triggers(rec):
    """Micro-batches that read data while the generator ran at a
    sustained rate: the steady state of the stream, all of one kind."""
    wins = [(ph["start_ms"], ph["end_ms"]) for ph in rec["phases"] if ph["name"] in SUSTAINED]
    return [p for p in rec["progress"]
            if p["input_rows"] > 0 and any(M.in_window(p["start_ms"], w) for w in wins)]


def trigger_s(p):
    return (p["commit_ms"] - p["start_ms"]) / 1000.0


def stream_end_to_end(rec):
    """first_pass_s: query start to the commit of the backlog that was
    waiting for it (a one-shot import job); pass_s: the median
    micro-batch at the sustained rates, start to commit."""
    return {
        "first_pass_s": drain_s(rec["phases"][0], rec["progress"]),
        "pass_s": M.median([trigger_s(p) for p in sustained_triggers(rec)]),
    }


def window_spans(rec, windows):
    """run/pass/decl/build/exec (batch) or run/phase (stream) spans."""
    spans = [{"id": "run", "parent": None, "kind": "run",
              "start_ms": rec["jvm_start_ms"], "end_ms": rec["end_ms"]}]
    for w in windows:
        if "decls" in w:
            pid = f"pass{w['index']}"
            spans.append({"id": pid, "parent": "run", "kind": "pass",
                          "start_ms": w["start_ms"], "end_ms": w["end_ms"]})
            for d in w["decls"]:
                did = f"{pid}.{d['name']}"
                spans.append({"id": did, "parent": pid, "kind": "decl", "trace_id": did,
                              "start_ms": d["start_ms"], "end_ms": d["end_ms"]})
                mid = d.get("built_ms", d["end_ms"])
                spans.append({"id": did + ".build", "parent": did, "kind": "build",
                              "start_ms": d["start_ms"], "end_ms": mid})
                spans.append({"id": did + ".exec", "parent": did, "kind": "exec",
                              "start_ms": mid, "end_ms": d["end_ms"]})
        else:
            spans.append({"id": w["name"], "parent": "run", "kind": "phase",
                          "start_ms": w["start_ms"], "end_ms": w["end_ms"]})
    return spans


SELF_KINDS = ["build", "exec", "plan", "job", "stage", "trigger"]


def per_layer(rec, spec):
    """Per-layer metrics of a traced run. Each is summed over one warm pass
    (one micro-batch for the stream) and reported as the median over the
    traced ones; the cold pass gives the codegen and cold planner figures.
    Also returns the span tree, with the self time per layer."""
    cores = int(rec["cpus"])
    jobs, stages, plans = rec["jobs"], rec["stages"], rec["plans"]
    progress = rec["progress"]
    if spec["kind"] == "batch":
        phases = rec["passes"]
        warm = [(p["start_ms"], p["end_ms"], p["traced"], p["decls"]) for p in phases[1:]]
        windows = [w for w in phases if w["traced"]]
        # traced and untraced warm passes of the same decls
        durations = {t: [(b - a) / 1000.0 for a, b, tr, _ in warm if tr == t] for t in (True, False)}
    else:
        phases = rec["phases"]
        toggles = rec["trace_toggles"]
        warm = [(p["start_ms"], p["commit_ms"],
                 M.traced_throughout(toggles, p["start_ms"], p["commit_ms"]), [])
                for p in warm_triggers(rec)]
        windows = phases
        # traced and untraced micro-batches at the same sustained rates
        durations = {t: [trigger_s(p) for p in sustained_triggers(rec)
                         if M.traced_throughout(toggles, p["start_ms"], p["commit_ms"]) is t]
                     for t in (True, False)}
    cold = phases[0]
    spans = M.build_spans(window_spans(rec, windows), jobs, stages, plans, progress)
    own = M.self_times(spans)
    start_of = {sp["id"]: sp["start_ms"] for sp in spans}

    rows = []
    for a, b, traced, decls in warm:
        if traced is not True:
            continue
        builds = [(d["start_ms"], d.get("built_ms", d["end_ms"])) for d in decls]
        row = M.layer_sums((a, b), jobs, stages, plans, cores, builds)
        row["queries.build_s"] = sum(y - x for x, y in builds) / 1000.0
        row["sink.output_rows"] += sum(p["sink_rows"] for p in progress
                                       if p["sink_rows"] > 0 and M.in_window(p["start_ms"], (a, b)))
        ids = {sid for j in jobs if "start_ms" in j and M.in_window(j["start_ms"], (a, b))
               for sid in j.get("stages", [])}
        wst = [st for st in stages if st["id"] in ids]
        row["scheduler.idle_s"] = sum(M.idle_ms(w, wst) for w in
                                      ([(d["start_ms"], d["end_ms"]) for d in decls] or [(a, b)])) / 1000.0
        for k in SELF_KINDS:
            row[f"self.{k}_s"] = sum(t for sid, (kind, t) in own.items()
                                     if kind == k and M.in_window(start_of[sid], (a, b)))
        rows.append(row)
    out = {k: M.median([r[k] for r in rows]) for k in rows[0]}

    cold_plans = [p for p in plans if M.in_window(p["start_ms"], (cold["start_ms"], cold["end_ms"]))]
    out["planner.cold_s"] = sum(p["analysis_ms"] + p["optimization_ms"] + p["planning_ms"]
                                for p in cold_plans) / 1000.0
    out["codegen.compiles"] = cold["codegen_compiles"]
    out["codegen.compile_s"] = cold["codegen_ms"] / 1000.0
    lay = rec.get("layouts", {})
    out["layout.edge_table_s"] = lay.get("edge_table", 0.0)
    out["layout.edge_table_by_dst_s"] = lay.get("edge_table_by_dst", 0.0)
    out["layout.band_table_s"] = lay.get("band_table", 0.0)
    out.update(stream_layers(rec, spec))
    out["trace.overhead_s"] = (M.median(durations[True]) - M.median(durations[False])
                               if durations[True] and durations[False] else 0.0)
    out["trace.spans"] = len(spans)
    return out, spans


STREAM_DURATIONS = [("latestOffset", "stream.latest_offset_ms"),
                    ("queryPlanning", "stream.planning_ms"),
                    ("addBatch", "stream.add_batch_ms"),
                    ("walCommit", "stream.wal_commit_ms"),
                    ("commitOffsets", "stream.commit_offsets_ms")]


def stream_layers(rec, spec):
    out = {k: 0.0 for _, k in STREAM_DURATIONS}
    out.update({"stream.batches": 0, "stream.rows_per_batch": 0.0, "stream.backlog_files_max": 0,
                "stream.state_rows": 0, "stream.state_mem_bytes": 0, "stream.state_commit_ms": 0.0,
                "stream.max_rate_eps": 0.0, "stream.drain_eps": 0.0, "gen.late_ms_max": 0.0})
    for r in ("r1", "r2", "r3"):
        out[f"stream.lat_p50_ms.{r}"] = 0.0
    if spec["kind"] != "stream":
        return out
    s = spec["stream"]
    progress = rec["progress"]
    busy = [p for p in progress if p["input_rows"] > 0]
    for key, name in STREAM_DURATIONS:
        out[name] = M.median([p["duration_ms"].get(key, 0) for p in busy])
    files = [f for ph in rec["phases"] for f in ph["files"]]
    out.update({
        "stream.batches": len(busy),
        "stream.rows_per_batch": sum(p["input_rows"] for p in busy) / len(busy),
        "stream.backlog_files_max": M.backlog_max(files, progress),
        "stream.state_rows": max(p["state_rows"] for p in progress),
        "stream.state_mem_bytes": max(p["state_mem_bytes"] for p in progress),
        "stream.state_commit_ms": M.median([p["state_commit_ms"] for p in busy]),
        "gen.late_ms_max": max(f["landed_ms"] - f["due_ms"] for f in files),
    })
    drains = [p for p in rec["phases"] if p["kind"] == "drain"][1:]
    events = [sum(f["events"] for f in p["files"]) / drain_s(p, progress) for p in drains]
    out["stream.drain_eps"] = M.median(events)
    for ph in rec["phases"]:
        if ph["kind"] != "rate":
            continue
        lat = M.file_latencies(ph["files"], progress)
        out[f"stream.lat_p50_ms.{ph['name']}"] = M.percentile(lat, 0.50)
        if out[f"stream.lat_p50_ms.{ph['name']}"] <= s["lat_limit_ms"] and not backlog_grows(ph, progress):
            span_s = (ph["files"][-1]["landed_ms"] - ph["files"][0]["landed_ms"]) / 1000.0
            achieved = sum(f["events"] for f in ph["files"][:-1]) / span_s if span_s > 0 else 0.0
            out["stream.max_rate_eps"] = max(out["stream.max_rate_eps"], achieved)
    return out


# Latency growth, in ms per ms of the step, above which a rate step is
# overloaded. A query that keeps up shows no trend (|slope| <= 0.13 in
# every sustained step measured on a 4-core host); one fed at rate R
# above its capacity C falls behind at R/C - 1 (0.58-1.19 at r3 there).
GROWTH_SLOPE = 0.25


def backlog_grows(phase, progress):
    """True when the files of a rate step wait longer the later they
    land: the query fell behind the generator."""
    return M.latency_slope(phase["files"], progress) > GROWTH_SLOPE


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        die("run from the root of a checkout (no src/main/scala here)")
    try:
        fixture_dir(root, "0.1")
    except (OSError, ValueError) as e:
        die(str(e))
    spec = WORKLOADS[a.workload]
    bdir = os.path.join(root, ".bench_build")
    os.makedirs(os.path.join(bdir, "records"), exist_ok=True)
    cp, stamp = build(root, bdir)
    t_built = time.time()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(bdir, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        t0 = time.time()
        params, expected = make_inputs(spec, root, data, a.seed, a.seconds)
        gen_s = time.time() - t0
        out = os.path.join(work, "record.json")
        args = ["--workload", a.workload, "--data", data, "--out", out,
                "--seconds", str(a.seconds), "--seed", str(a.seed), "--trace", str(a.trace)]
        if spec["kind"] == "stream":
            args += ["--stream-plan", os.path.join(data, "plan.json")]
        else:
            args += ["--decls", ",".join(spec["decls"]),
                     "--min-warm", str(MIN_WARM_TRACED if a.trace else MIN_WARM),
                     "--verify-out", os.path.join(work, "verify")]
        budget = RUN_TIMEOUT_S - (time.time() - t_built)
        cpu0 = cpu_ticks()
        run_harness(cp, work, args, budget)
        cpu1 = cpu_ticks()
        with open(out) as f:
            rec = json.load(f)

        # correctness, after the timed work
        if spec["kind"] == "batch":
            errors = {f"{p['index']}:{d['name']}": d["error"]
                      for p in rec["passes"] for d in p["decls"] if "error" in d}
            checks = oracle.check_decls(data, os.path.join(work, "verify"),
                                        rec["oracles"], spec["decls"])
            for name, v in rec["verify"].items():
                if v != "written":
                    checks[name] = f"verify run failed: {v}"
            attempted = sum(len(p["decls"]) for p in rec["passes"]) + len(checks)
            failures = dict(errors)
            failures.update({f"oracle:{k}": v for k, v in checks.items() if v})
            rec["oracle"] = {k: v or "PASS" for k, v in checks.items()}
        else:
            eo = oracle.check_exactly_once(rec["sink_dir"], expected)
            attempted = sum(len(p["files"]) for p in rec["phases"]) + 1
            failures = {"exactly_once": eo} if eo else {}
        failed = len(failures)

        if a.trace:
            values, spans = per_layer(rec, spec)
            with open(os.path.join(bdir, "records", f"{tag}.spans.json"), "w") as f:
                json.dump(spans, f)
        else:
            e2e = batch_end_to_end(rec) if spec["kind"] == "batch" else stream_end_to_end(rec)
            values = {"setup_s": (rec["ready_ms"] - rec["jvm_start_ms"]) / 1000.0, **e2e,
                      "live_heap_mb": rec["live_heap_mb"]}
        metric_json = {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metric_json}
        full = {"workload": a.workload, "why": spec["why"], "seed": a.seed,
                "seconds": a.seconds, "trace": a.trace, "host": host_info(root, stamp, rec),
                "params": params, "gen_s": gen_s, "failures": failures,
                "host_steal_frac": steal_frac(cpu0, cpu1),
                "failed_frac": failed / attempted, "result": result,
                "wall_s": time.time() - t_start, "raw": rec}
        with open(os.path.join(bdir, "records", f"{tag}.json"), "w") as f:
            json.dump(full, f)
        for k, v in failures.items():
            print(f"perfbench: FAILED {k}: {v}", file=sys.stderr)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms") or "_ms." in name or "_ms_" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_eps"):
        return "1/s"
    if name in ("executor.core_util", "executor.skew"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
