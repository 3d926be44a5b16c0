"""Tests of the benchmark: its pure parts, and (with the build and
the sf0.01 test data present) that the timed sink evaluates every
output column of q22 and q27.

Run from the repository root:
  python3 -m unittest discover -s bench -p 'test_*.py'
"""
import json
import math
import os
import random
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402

SF001 = "/root/testdata/sf0.01"


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 21))
        random.Random(0).shuffle(xs)
        self.assertEqual(benchlib.tail(xs), (10, 50.0, 10))

    def test_eleven_samples_give_the_minimum(self):
        self.assertEqual(benchlib.tail(range(11)), (0, 100 / 11, 10))

    def test_hundred_samples_give_p90(self):
        self.assertEqual(benchlib.tail(range(100)), (89, 90.0, 10))

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(benchlib.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertTrue(math.isnan(benchlib.tail([])[0]))


class SelfTimeTest(unittest.TestCase):
    def test_union_clips_and_merges_overlaps(self):
        self.assertEqual(benchlib.union_length([(10, 30), (20, 50), (90, 120)], 0, 100), 50)
        self.assertEqual(benchlib.union_length([], 0, 100), 0)

    def test_self_time_subtracts_the_covered_part(self):
        spans = [
            dict(id=0, parent=None, start=0, end=100),
            dict(id=1, parent=0, start=10, end=30),
            dict(id=2, parent=0, start=20, end=50),
            dict(id=3, parent=2, start=25, end=35),
        ]
        self.assertEqual(benchlib.self_times(spans), {0: 60, 1: 20, 2: 20, 3: 10})

    def test_spark_spans_are_parented_by_time(self):
        recs = records()
        spans = benchlib.build_spans(recs)
        by_name = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append(s)
        ids = {s["id"]: s for s in spans}
        job = by_name["job"][0]
        self.assertEqual(ids[job["parent"]]["name"], "materialize")
        trig = by_name["trigger"][0]
        self.assertEqual(ids[trig["parent"]]["name"], "build")
        phases = [s["name"] for s in spans if s["parent"] == trig["id"]]
        self.assertEqual(phases, ["streaming.latestOffset", "streaming.walCommit",
                                  "streaming.queryPlanning", "streaming.addBatch"])


class OrderTest(unittest.TestCase):
    def test_seed_fixes_the_order_of_every_pass(self):
        qs = benchlib.WORKLOADS["ref7"].queries
        a = benchlib.pass_orders(qs, 7, 3)
        self.assertEqual(a, benchlib.pass_orders(qs, 7, 3))
        self.assertEqual(len(a), 4)
        self.assertEqual(sorted(a[0]), sorted(qs))
        self.assertTrue(all(order == a[0] for order in a))
        self.assertNotEqual(a, benchlib.pass_orders(qs, 8, 3))
        self.assertEqual(a[:2], benchlib.pass_orders(qs, 7, 1))

    def test_seconds_become_whole_warm_passes(self):
        wl = benchlib.WORKLOADS["ref7"]
        self.assertEqual(benchlib.warm_passes(wl, 1), 1)
        self.assertEqual(benchlib.warm_passes(wl, wl.pass_s), 1)
        self.assertEqual(benchlib.warm_passes(wl, wl.pass_s * 2 - 0.1), 1)
        self.assertEqual(benchlib.warm_passes(wl, wl.pass_s * 2), 2)


def records():
    """Two queries, a cold and two warm passes, one job, one plan and
    one trigger: times in microseconds from 1e12."""
    t = 10**12
    recs = [{"t": "setup", "jvm_start_us": t - 6_000_000, "session_start_us": t - 5_000_000,
             "session_end_us": t}, {"t": "conf", "settings": {}}]
    for p in range(3):
        for q in ("qa", "qb"):
            recs.append({"t": "exec", "pass": p, "q": q, "start_us": t,
                         "build_end_us": t + 100_000, "mat_end_us": t + 300_000,
                         "sweep_start_us": t + 300_000, "end_us": t + 310_000, "error": "",
                         "compiles": 2, "compile_mean_ms": 5.0, "jit_ms": 3, "gc_ms": 1,
                         "live_heap_bytes": 2**20 * (p + 1), "storage_bytes": 0})
            if p == 2 and q == "qb":
                recs.append({"t": "job", "start_ms": (t + 150_000) // 1000,
                             "end_ms": (t + 250_000) // 1000, "ok": True, "stages": 2,
                             "tasks": 8, "run_ms": 40, "overhead_ms": 4, "cpu_ns": 10**7,
                             "gc_ms": 0, "in_bytes": 100, "in_rows": 10, "out_bytes": 0,
                             "out_rows": 0, "shuffle_write": 5, "shuffle_read": 5,
                             "fetch_wait_ms": 0, "spill": 0})
                recs.append({"t": "plan", "func": "command", "ok": True,
                             "phases": {"analysis": [(t + 110_000) // 1000, (t + 120_000) // 1000],
                                        "planning": [(t + 120_000) // 1000, (t + 140_000) // 1000]}})
                recs.append({"t": "trigger", "start_ms": (t + 10_000) // 1000, "input_rows": 7,
                             "durations_ms": {"triggerExecution": 50, "addBatch": 30,
                                              "latestOffset": 5, "walCommit": 5,
                                              "queryPlanning": 10}})
            t += 1_000_000
    return recs


class MetricsTest(unittest.TestCase):
    def test_printed_metrics_match_the_benchmark_file(self):
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                               "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         benchlib.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         benchlib.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(benchlib.WORKLOADS))
        e2e, _, _ = benchlib.compute(records(), set(), 3, trace=False)
        self.assertEqual(list(e2e), list(benchlib.END_TO_END))
        layers, _, _ = benchlib.compute(records(), set(), 3, trace=True)
        self.assertEqual(list(layers), list(benchlib.PER_LAYER))

    def test_end_to_end_values(self):
        m, summary, _ = benchlib.compute(records(), {"qb"}, 3, trace=False)
        self.assertAlmostEqual(m["setup_s"], 6.0)
        self.assertAlmostEqual(m["cold_pass_s"], 0.62)
        # only qa is correct: one query per pass of two 0.31 s medians
        self.assertAlmostEqual(m["throughput_qps"], 1 / 0.62)
        self.assertAlmostEqual(m["query_p50_s"], 0.31)
        self.assertAlmostEqual(m["live_heap_peak_mb"], 3.0)
        self.assertAlmostEqual(summary["failed_frac"], 0.5)
        self.assertEqual(summary["trigger_samples"], 1)

    def test_warmup_passes_are_not_measured(self):
        recs = records()
        for r in recs:
            if r["t"] == "exec" and r["pass"] == 1:
                r["end_us"] += 5_000_000
        m, summary, _ = benchlib.compute(recs, set(), 3, trace=False)
        self.assertAlmostEqual(m["query_tail_s"], 5.31)
        m, summary, _ = benchlib.compute(recs, set(), 3, trace=False, warmup=1)
        self.assertAlmostEqual(m["query_p50_s"], 0.31)
        self.assertAlmostEqual(m["query_tail_s"], 0.31)
        self.assertEqual(summary["warm_passes"], 1)
        self.assertEqual(summary["query_samples"], 2)

    def test_per_layer_values_are_per_warm_pass(self):
        m, _, _ = benchlib.compute(records(), set(), 3, trace=True)
        self.assertEqual(m["spark.codegen.compiles"], 4)
        self.assertEqual(m["spark.codegen.cold_compiles"], 4)
        self.assertEqual(m["spark.sched.tasks"], 4)
        self.assertEqual(m["spark.catalyst.plans"], 0.5)
        self.assertAlmostEqual(m["spark.catalyst.planning_s"], 0.01)
        self.assertAlmostEqual(m["streaming.addbatch_s"], 0.015)
        self.assertAlmostEqual(m["trace.pass_s"], 0.62)
        # the self times of a pass add up to its timed wall time
        self.assertAlmostEqual(sum(v for k, v in m.items() if k.startswith("self_s.")), 0.62)


@unittest.skipUnless(os.path.isdir(SF001) and shutil.which("java"), "needs java and " + SF001)
class MaterializationTest(unittest.TestCase):
    """The timed sink evaluates every output column: q22's executed
    plan runs graft_dot, which count() prunes away."""

    @classmethod
    def setUpClass(cls):
        import build
        import run
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        classpath, _ = build.build(root)
        tmp = os.path.join(root, ".bench_build", "test-plans")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        order = os.path.join(tmp, "order.txt")
        with open(order, "w") as fh:
            fh.write("q22_matmul,q27_vadd\n")
        out = os.path.join(tmp, "plans.txt")
        subprocess.run(run.java_cmd(classpath, tmp, "--dir", SF001, "--cpus", "2",
                                    "--order", order, "--plans", out),
                       env=run.clean_env(tmp), check=True, timeout=300,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        cls.plans = {}
        with open(out) as fh:
            text = fh.read()
        shutil.rmtree(tmp, ignore_errors=True)
        query = None
        for block in text.split("=====\n"):
            lines = block.strip("\n").split("\n")
            if lines[0].startswith("query "):
                query = lines[0].split()[1]
                cls.plans[query, "columns"] = lines[0].split()[3].split(",")
                lines = lines[1:]
            if lines and lines[0].startswith("sink "):
                cls.plans[query, lines[0].split()[1]] = "\n".join(lines[1:])

    def test_q22_timed_plan_evaluates_graft_dot(self):
        self.assertIn("graft_dot", self.plans["q22_matmul", "noop"])
        self.assertNotIn("graft_dot", self.plans["q22_matmul", "count"])

    def test_q27_timed_plan_computes_every_column(self):
        self.assertEqual(self.plans["q27_vadd", "columns"], ["vec_id", "idx", "v"])
        noop = self.plans["q27_vadd", "noop"]
        self.assertIn("posexplode", noop)
        self.assertRegex(noop, r"AS v#")
        self.assertNotRegex(self.plans["q27_vadd", "count"], r"AS v#")


if __name__ == "__main__":
    unittest.main()
