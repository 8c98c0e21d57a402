"""Tests for the benchmark's own parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import diff  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402



def small_fixture():
    try:
        return run.fixture_dir(os.path.dirname(run.HERE), "0.001")
    except (OSError, ValueError):
        return None


SMALL = small_fixture()


def same_tree(a, b):
    """True when two directories hold the same files, byte for byte."""
    names_a = sorted(os.listdir(a))
    if names_a != sorted(os.listdir(b)):
        return False
    for n in names_a:
        pa, pb = os.path.join(a, n), os.path.join(b, n)
        if os.path.isdir(pa):
            if not same_tree(pa, pb):
                return False
        elif not filecmp.cmp(pa, pb, shallow=False):
            return False
    return True


@unittest.skipUnless(SMALL and os.path.isdir(SMALL), "fixture tables not present")
class SeededInputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def dirs(self, *names):
        return [os.path.join(self.tmp.name, n) for n in names]

    def test_rotated_fixture(self):
        a, b, c = self.dirs("a", "b", "c")
        gen.rotated_fixture(SMALL, a, 7)
        gen.rotated_fixture(SMALL, b, 7)
        gen.rotated_fixture(SMALL, c, 8)
        self.assertTrue(same_tree(a, b))
        self.assertFalse(same_tree(a, c))

    def test_stream_plan(self):
        a, b, c = self.dirs("a", "b", "c")
        args = dict(rates=[100, 1000], steps_s=[2.0, 1.0], drain_events=500, files_per_s=10,
                    drain_files=5, dup_share=0.05, allow_share=0.4, trigger_ms=100,
                    timeout_s=10, trace_block_s=0.5)
        plan_a, exp_a = gen.stream_plan(SMALL, a, 7, **args)
        _, exp_b = gen.stream_plan(SMALL, b, 7, **args)
        _, exp_c = gen.stream_plan(SMALL, c, 8, **args)
        # plan.json names the run's own directory; compare everything else
        for d in (a, b, c):
            os.remove(os.path.join(d, "plan.json"))
        self.assertTrue(same_tree(a, b))
        self.assertEqual(exp_a, exp_b)
        self.assertFalse(same_tree(a, c))
        names = [f["name"] for ph in plan_a["phases"] for f in ph["files"]]
        self.assertEqual(names, sorted(names))
        # every original event appears once; the redelivered copies are extra
        lines = []
        for n in names:
            with open(os.path.join(a, "staged", n)) as f:
                lines += [json.loads(x)["data"]["event_id"] for x in f if x.strip()]
        self.assertGreater(len(lines), len(set(lines)))
        self.assertTrue(exp_a <= set(lines))
        # steps of 2 s and 1 s at 10 files/s; in a traced run the drains
        # are traced and the steps alternate in blocks of 0.5 s
        kinds = {ph["name"]: ph for ph in plan_a["phases"]}
        self.assertEqual([len(kinds[r]["files"]) for r in ("r1", "r2")], [20, 10])
        self.assertEqual([f["traced"] for f in kinds["r2"]["files"]], [True] * 5 + [False] * 5)
        self.assertTrue(all(f["traced"] for f in kinds["drain1"]["files"]))


class Percentiles(unittest.TestCase):
    def test_sample_count_rule(self):
        # ten samples must lie beyond the reported percentile
        self.assertEqual(M.min_samples(0.50), 20)
        self.assertEqual(M.min_samples(0.90), 100)
        self.assertEqual(M.min_samples(0.95), 200)
        with self.assertRaises(ValueError):
            M.percentile(range(19), 0.50)
        with self.assertRaises(ValueError):
            M.percentile(range(199), 0.95)

    def test_nearest_rank(self):
        xs = list(range(1, 21))
        self.assertEqual(M.percentile(xs, 0.50), 10)
        self.assertEqual(M.percentile(reversed(xs), 0.50), 10)
        self.assertEqual(M.percentile(list(range(1, 201)), 0.95), 190)
        self.assertEqual(M.percentile(list(range(1, 101)), 0.90), 90)


class StreamLatency(unittest.TestCase):
    FILES = [{"name": "f0000000.jsonl", "due_ms": 1000.0, "landed_ms": 1001.0},
             {"name": "f0000001.jsonl", "due_ms": 1100.0, "landed_ms": 1102.0},
             {"name": "f0000002.jsonl", "due_ms": 1200.0, "landed_ms": 1205.0},
             {"name": "f0000003.jsonl", "due_ms": 1300.0, "landed_ms": 1300.5}]

    def test_offsets_attribute_files(self):
        # the trigger committing {"last": f1} covers f0 and f1; the next
        # one covers only what sorts after f1; an empty trigger covers none
        progress = [{"last": "f0000001.jsonl", "commit_ms": 1500.0},
                    {"last": "f0000001.jsonl", "commit_ms": 1600.0},
                    {"last": "f0000003.jsonl", "commit_ms": 2000.0}]
        self.assertEqual(M.file_commits(self.FILES, progress), {
            "f0000000.jsonl": 1500.0, "f0000001.jsonl": 1500.0,
            "f0000002.jsonl": 2000.0, "f0000003.jsonl": 2000.0})
        self.assertEqual(M.file_latencies(self.FILES, progress), [500.0, 400.0, 800.0, 700.0])

    def test_uncommitted_files_have_no_latency(self):
        progress = [{"last": "f0000000.jsonl", "commit_ms": 1500.0}]
        self.assertEqual(M.file_latencies(self.FILES, progress), [500.0])

    def test_traced_throughout(self):
        toggles = [{"at_ms": 0, "on": True}, {"at_ms": 1000, "on": False},
                   {"at_ms": 2000, "on": True}]
        self.assertIs(M.traced_throughout(toggles, 100, 900), True)
        self.assertIs(M.traced_throughout(toggles, 1100, 1900), False)
        self.assertIsNone(M.traced_throughout(toggles, 900, 1100))
        self.assertIs(M.traced_throughout(toggles, 2100, 3000), True)

    def test_latency_slope(self):
        # one trigger per file, 50 ms after it lands: no trend
        steady = [{"last": f["name"], "commit_ms": f["landed_ms"] + 50} for f in self.FILES]
        self.assertAlmostEqual(M.latency_slope(self.FILES, steady), 0.0, places=1)
        # each file waits 200 ms longer than the one landed 100 ms before
        behind = [{"last": f["name"], "commit_ms": f["due_ms"] + 50 + 2 * (f["due_ms"] - 1000)}
                  for f in self.FILES]
        self.assertAlmostEqual(M.latency_slope(self.FILES, behind), 2.0, places=1)

    def test_backlog(self):
        progress = [{"last": "f0000000.jsonl", "commit_ms": 1250.0},
                    {"last": "f0000003.jsonl", "commit_ms": 2000.0}]
        # at 1250 ms f1 and f2 have landed and wait for the next trigger
        self.assertEqual(M.backlog_max(self.FILES, progress), 2)


class ExactlyOnce(unittest.TestCase):
    def sink(self, *files):
        d = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(d))
        os.makedirs(os.path.join(d, "_checkpoint"))
        open(os.path.join(d, "_SUCCESS"), "w").close()
        for i, ids in enumerate(files):
            with open(os.path.join(d, f"part-{i}.json"), "w") as f:
                f.writelines('{"data":{"event_id":%d,"user_id":1},"source":"database"}\n' % e
                             for e in ids)
        return d

    def test_each_event_once(self):
        self.assertIsNone(oracle.check_exactly_once(self.sink([1, 2], [3]), {1, 2, 3}))

    def test_missing_duplicated_unexpected(self):
        got = oracle.check_exactly_once(self.sink([1, 2], [2, 9]), {1, 2, 3})
        self.assertEqual(got, "sink rows 4: 1 missing, 1 duplicated, 1 unexpected")

    def test_empty_sink(self):
        self.assertEqual(oracle.check_exactly_once(self.sink(), {1}),
                         "sink rows 0: 1 missing, 0 duplicated, 0 unexpected")


def stage(sid, submit, end, **kw):
    s = {"id": sid, "attempt": 0, "submit_ms": submit, "end_ms": end, "num_tasks": 4,
         "tasks": 4, "failed_tasks": 0, "ok": True, "run_ms": 400, "max_run_ms": 100,
         "cpu_ns": 0, "gc_ms": 0, "sched_delay_ms": 0, "shuffle_write_bytes": 0,
         "shuffle_read_bytes": 0, "fetch_wait_ms": 0, "spill_bytes": 0, "input_bytes": 0,
         "input_rows": 0, "input_run_ms": 0, "output_rows": 0}
    s.update(kw)
    return s


class SchedulerIdle(unittest.TestCase):
    def test_idle_is_window_minus_stage_union(self):
        # two overlapping stages (100-300, 200-400) and one inside (500-600)
        # in a 0-1000 window: busy 300 + 100, idle 600
        st = [stage(1, 100, 300), stage(2, 200, 400), stage(3, 500, 600)]
        self.assertEqual(M.idle_ms((0, 1000), st), 600)

    def test_stages_clipped_to_window(self):
        st = [stage(1, 950, 1100), stage(2, 1900, 2200)]
        self.assertEqual(M.idle_ms((1000, 2000), st), 800)

    def test_unfinished_stages_are_ignored(self):
        self.assertEqual(M.idle_ms((0, 1000), [stage(1, 100, -1)]), 1000)

    def test_layer_sums_from_listener_events(self):
        jobs = [{"id": 0, "start_ms": 50, "end_ms": 450, "stages": [1, 2]},
                {"id": 1, "start_ms": 600, "end_ms": 700, "stages": [3]},
                {"id": 2, "start_ms": 2000, "end_ms": 2100, "stages": [4]}]
        st = [stage(1, 100, 300, shuffle_write_bytes=10),
              stage(2, 300, 400, shuffle_read_bytes=10, fetch_wait_ms=5),
              stage(3, 600, 650, num_tasks=1, tasks=1, run_ms=50, max_run_ms=50),
              stage(4, 2000, 2100)]
        plans = [{"start_ms": 10, "end_ms": 40, "analysis_ms": 10, "optimization_ms": 5,
                  "planning_ms": 15}]
        out = M.layer_sums((0, 1000), jobs, st, plans, cpus=4, build_windows=[(0, 100)])
        self.assertEqual(out["scheduler.jobs"], 2)
        self.assertEqual(out["scheduler.stages"], 3)
        self.assertEqual(out["queries.build_jobs"], 1)
        self.assertAlmostEqual(out["executor.serial_stage_s"], 0.05)
        self.assertAlmostEqual(out["sink.job_commit_s"], 0.05 + 0.05)
        self.assertEqual(out["exchange.write_bytes"], 10)
        self.assertAlmostEqual(out["planner.planning_s"], 0.015)
        self.assertAlmostEqual(out["executor.core_util"], 0.85 / 4)
        self.assertAlmostEqual(out["executor.skew"], 200 / 200)


class Spans(unittest.TestCase):
    def test_self_time(self):
        spans = [{"id": "d", "parent": None, "kind": "decl", "start_ms": 0, "end_ms": 1000},
                 {"id": "j1", "parent": "d", "kind": "job", "start_ms": 100, "end_ms": 400},
                 {"id": "j2", "parent": "d", "kind": "job", "start_ms": 300, "end_ms": 500},
                 {"id": "s1", "parent": "j1", "kind": "stage", "start_ms": 150, "end_ms": 350}]
        st = M.self_times(spans)
        self.assertEqual(st["d"][0], "decl")
        self.assertAlmostEqual(st["d"][1], 0.6)
        self.assertAlmostEqual(st["j1"][1], 0.1)
        self.assertAlmostEqual(st["j2"][1], 0.2)
        self.assertAlmostEqual(st["s1"][1], 0.2)


    def test_tree_hangs_listener_spans_under_the_decl(self):
        windows = [{"id": "p1", "parent": None, "kind": "pass", "start_ms": 0, "end_ms": 1000},
                   {"id": "p1.q", "parent": "p1", "kind": "decl", "trace_id": "p1.q",
                    "start_ms": 0, "end_ms": 900},
                   {"id": "p1.q.build", "parent": "p1.q", "kind": "build",
                    "start_ms": 0, "end_ms": 300},
                   {"id": "p1.q.exec", "parent": "p1.q", "kind": "exec",
                    "start_ms": 300, "end_ms": 900}]
        jobs = [{"id": 4, "start_ms": 350, "end_ms": 800, "stages": [7]}]
        stages = [stage(7, 400, 700)]
        plans = [{"start_ms": 10, "end_ms": 60, "analysis_ms": 50, "optimization_ms": 0,
                  "planning_ms": 0}]
        spans = {s["id"]: s for s in M.build_spans(windows, jobs, stages, plans, [])}
        self.assertEqual(spans["job4"]["parent"], "p1.q.exec")
        self.assertEqual(spans["stage7.0"]["parent"], "job4")
        self.assertEqual(spans["plan0"]["parent"], "p1.q.build")
        self.assertEqual({spans[k]["trace_id"] for k in ("job4", "stage7.0", "plan0")}, {"p1.q"})
        self.assertNotIn("trace_id", spans["p1"])


def batch_record():
    """A traced batch record: a cold pass and two warm passes of one decl,
    each running one job of one stage."""
    passes, jobs, stages = [], [], []
    for i in range(3):
        t = 1000.0 * (i + 1)
        jobs.append({"id": i, "start_ms": t + 150, "end_ms": t + 450, "stages": [i]})
        stages.append(stage(i, t + 200, t + 400))
        passes.append({"index": i, "traced": i != 2, "start_ms": t, "end_ms": t + 500,
                       "codegen_compiles": 5 if i == 0 else 0, "codegen_ms": 50.0 if i == 0 else 0.0,
                       "decls": [{"name": "q", "start_ms": t, "built_ms": t + 100, "end_ms": t + 500}]})
    return {"cpus": "4", "jvm_start_ms": 0, "ready_ms": 900, "end_ms": 5000, "live_heap_mb": 100.0,
            "passes": passes, "jobs": jobs, "stages": stages, "progress": [],
            "plans": [{"start_ms": 1010, "end_ms": 1050, "analysis_ms": 10, "optimization_ms": 20,
                       "planning_ms": 10}],
            "layouts": {"edge_table": 1.0, "edge_table_by_dst": 0.5, "band_table": 0.7}}


def stream_record():
    """A traced stream record: a cold backlog, then each rate step lands
    20 files, each committed by its own micro-batch, and a warm drain.
    The listeners are off for the second half of each rate step."""
    phases, progress = [], []
    toggles = [{"at_ms": 900.0, "on": True}]
    t, seq = 1000.0, 0

    def trigger(files, start, commit):
        progress.append({"batch": len(progress), "start_ms": start, "commit_ms": commit,
                         "last": files[-1]["name"], "input_rows": 10 * len(files),
                         "duration_ms": {"addBatch": 50, "latestOffset": 1, "queryPlanning": 5,
                                         "walCommit": 5, "commitOffsets": 5},
                         "state_rows": 100, "state_mem_bytes": 1000, "state_commit_ms": 20,
                         "sink_rows": 5 * len(files)})

    for name, kind, n in [("drain0", "drain", 5), ("r1", "rate", 20), ("drain1", "drain", 5),
                          ("r2", "rate", 20), ("drain2", "drain", 5), ("r3", "rate", 20),
                          ("drain3", "drain", 5)]:
        files = []
        for j in range(n):
            due = t + (j * 50.0 if kind == "rate" else 0.0)
            files.append({"name": f"f{seq:07d}.jsonl", "due_ms": due, "landed_ms": due + 1,
                          "events": 10})
            seq += 1
        if kind == "rate":
            for j, f in enumerate(files):
                if j == 10:
                    toggles.append({"at_ms": f["landed_ms"], "on": False})
                trigger([f], f["landed_ms"] + 10, f["landed_ms"] + 60)
        else:
            trigger(files, t + 10, t + 300)
        end = progress[-1]["commit_ms"] + 1
        if kind == "rate":
            toggles.append({"at_ms": end, "on": True})
        phases.append({"name": name, "kind": kind,
                       "start_ms": t, "end_ms": end, "files": files,
                       "codegen_compiles": 3 if name == "drain0" else 0, "codegen_ms": 9.0})
        t = end + 100
    return {"cpus": "4", "jvm_start_ms": 0, "ready_ms": 900, "end_ms": t + 1000,
            "live_heap_mb": 100.0, "phases": phases, "progress": progress,
            "trace_toggles": toggles + [{"at_ms": t, "on": False}],
            "jobs": [], "stages": [], "plans": []}


class BenchmarkContract(unittest.TestCase):
    """The metric set each mode prints is the one BENCHMARK.json declares."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_workloads_and_reasons(self):
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)
            self.assertEqual(w["why"], run.WORKLOADS[w["name"]]["why"])

    def test_end_to_end_names(self):
        want = [m["name"] for m in self.bench["end_to_end"]]
        got = {"setup_s", "live_heap_mb", *run.batch_end_to_end(batch_record())}
        self.assertEqual(set(want), got)
        self.assertEqual(set(want), {"setup_s", "live_heap_mb", *run.stream_end_to_end(stream_record())})
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         {k: run.unit_of(k) for k in want})

    def test_per_layer_names_and_units(self):
        want = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        for w, rec in (("batch_mix", batch_record()), ("stream_import", stream_record())):
            values, spans = run.per_layer(rec, run.WORKLOADS[w])
            self.assertEqual(set(values), set(want), w)
            self.assertEqual({k: run.unit_of(k) for k in values}, want)
            self.assertTrue(spans)

    def test_stream_figures(self):
        rec = stream_record()
        e2e = run.stream_end_to_end(rec)
        self.assertAlmostEqual(e2e["first_pass_s"], 0.299)
        self.assertAlmostEqual(e2e["pass_s"], 0.05)
        values, _ = run.per_layer(rec, run.WORKLOADS["stream_import"])
        self.assertAlmostEqual(values["stream.lat_p50_ms.r1"], 61.0)
        self.assertEqual(values["stream.max_rate_eps"], 19 * 10 / (19 * 0.05))
        self.assertAlmostEqual(values["codegen.compiles"], 3)
        # 9 traced and 10 untraced micro-batches of 50 ms in each of r1, r2
        self.assertEqual(values["trace.overhead_s"], 0.0)
        self.assertEqual(values["stream.batches"], 4 + 3 * 20)

    def test_batch_figures(self):
        rec = batch_record()
        e2e = run.batch_end_to_end(rec)
        self.assertAlmostEqual(e2e["first_pass_s"], 0.5)
        self.assertAlmostEqual(e2e["pass_s"], 0.5)
        values, _ = run.per_layer(rec, run.WORKLOADS["batch_mix"])
        self.assertAlmostEqual(values["scheduler.idle_s"], 0.3)
        self.assertAlmostEqual(values["queries.build_s"], 0.1)
        self.assertEqual(values["codegen.compiles"], 5)
        self.assertEqual(values["scheduler.jobs"], 1)
        self.assertAlmostEqual(values["planner.cold_s"], 0.04)


class Diff(unittest.TestCase):
    def test_moves_name_ratio_and_base(self):
        base = {"w": {"a": ("s", 2.0), "b": ("s", 1.0), "c": ("count", 0)}}
        new = {"w": {"a": ("s", 3.0), "b": ("s", 1.05), "c": ("count", 5)}}
        rows = diff.moves(base, new, {})
        self.assertEqual([(r[1], r[3], r[4]) for r in rows], [("c", 0, 5), ("a", 2.0, 3.0)])
        self.assertAlmostEqual(rows[1][5], 1.5)
        # an end-to-end metric moves only beyond its bound
        rows = diff.moves(base, new, {"a": 0.6, "b": 0.01})
        self.assertEqual([r[1] for r in rows], ["c", "b"])

    def test_thresholds_are_the_bounds(self):
        with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual(diff.thresholds(), {m["name"]: m["bound"] for m in bench["end_to_end"]})


if __name__ == "__main__":
    unittest.main()
