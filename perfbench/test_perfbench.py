"""The benchmark's own tests (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import run  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS, pass_orders  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def fake_result(n_queries=4, passes=(False, False, False, False)):
    """A harness result with two traced-style records per layer."""
    res = {"setup_s": [3.0, 1.0, 1.2], "passes": [], "samples": [],
           "jobs": [], "stages": [], "execs": [], "batches": []}
    t = 1_000_000_000_000.0
    for p, traced in enumerate(passes):
        res["passes"].append({"pass": p, "traced": traced, "wall_s": 1.0 + p / 10,
                              "heap_mb": 100.0 + p})
        for qi in range(n_queries):
            res["samples"].append({"pass": p, "qi": qi, "query": f"q{qi}",
                                   "start_us": t * 1e3, "build_s": 0.1 + qi / 100,
                                   "exec_s": 0.2, "error": ""})
            if traced:
                g = f"pb:{p}:{qi}:execute"
                start = t + (0.1 + qi / 100) * 1e3
                jid = len(res["jobs"])
                res["jobs"].append({"id": jid, "group": g, "start_ms": t + 120,
                                    "end_ms": t + 300, "stages": 1})
                res["stages"].append({"id": jid, "attempt": 0, "group": g,
                                      "submit_ms": t + 130, "done_ms": t + 290,
                                      "tasks": 4, "failed": 0, "run_ms": 400,
                                      "cpu_ns": 3e8, "gc_ms": 5, "delay_ms": 8,
                                      "shuffle_write": 10, "shuffle_read": 10,
                                      "fetch_wait_ms": 1, "spill_mem": 0,
                                      "spill_disk": 0, "read_bytes": 1000,
                                      "task_median_ms": 100, "task_max_ms": 150})
                res["execs"].append({"group": g, "analyze_ms": 1, "optimize_ms": 2,
                                     "physical_ms": 3, "plan_start_ms": start,
                                     "plan_end_ms": start + 10, "graft_nodes": 1,
                                     "exchanges": 2, "read_files": 2,
                                     "write_files": 0, "write_bytes": 0})
            t += 310
    return res


class MetricNames(unittest.TestCase):
    def test_end_to_end_names_and_units_match_spec(self):
        spec = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        self.assertEqual(run.E2E_UNITS, spec)
        values, latency = stats.end_to_end(fake_result(n_queries=20, passes=(False,) * 3))
        self.assertEqual(set(values), set(spec))
        self.assertEqual(latency["latency_samples"], 60)
        want = math.exp(sum(math.log(0.3 + i / 100) for i in range(20)) / 20)
        self.assertAlmostEqual(values["query_s.geomean"], want)
        self.assertEqual(values["retained_heap_mb"], 102.0)

    def test_per_layer_names_and_units_match_spec(self):
        spec = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        self.assertEqual(run.TRACE_UNITS, spec)
        values = stats.trace_metrics(fake_result(passes=(True, False, True, False)))
        values["run.failed_frac"] = 0.0
        self.assertEqual(set(values), set(spec))
        self.assertTrue(all(u for u in spec.values()))

    def test_workloads_match_spec(self):
        self.assertEqual({w["name"] for w in SPEC["workloads"]}, set(WORKLOADS))

    def test_workload_lists_have_no_repeats(self):
        for w, qs in WORKLOADS.items():
            self.assertEqual(len(set(qs)), len(qs), w)


class Percentile(unittest.TestCase):
    def test_refuses_fewer_than_ten_beyond(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(99)), 90)   # 9 beyond p90
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(19)), 50)   # 9 beyond p50
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile([], 50)

    def test_accepts_ten_beyond(self):
        self.assertEqual(stats.percentile(list(range(100)), 90), 89)
        self.assertEqual(stats.percentile(list(range(20)), 50), 9)
        self.assertEqual(stats.percentile(list(range(200)), 95), 189)


class Order(unittest.TestCase):
    def test_same_seed_same_order(self):
        self.assertEqual(pass_orders(28, 7, 50), pass_orders(28, 7, 50))

    def test_each_pass_is_a_permutation_and_seeds_differ(self):
        a = pass_orders(16, 1, 20)
        self.assertTrue(all(sorted(o) == list(range(16)) for o in a))
        self.assertNotEqual(a, pass_orders(16, 2, 20))
        self.assertGreater(len({tuple(o) for o in a}), 1)


class Spans(unittest.TestCase):
    def test_self_time_excludes_children(self):
        res = fake_result(n_queries=1, passes=(True, False))
        by_layer = stats.self_times(stats.build_spans(res))[0]
        # execute 200 ms holds 10 ms of planning and a 180 ms job; the job
        # holds a 160 ms stage
        self.assertAlmostEqual(by_layer["execute"], 0.01, places=6)
        self.assertAlmostEqual(by_layer["plan"], 0.01, places=6)
        self.assertAlmostEqual(by_layer["job"], 0.02, places=6)
        self.assertAlmostEqual(by_layer["stage"], 0.16, places=6)
        self.assertAlmostEqual(by_layer["query"], 0.0, places=6)

    def test_driver_gap_excludes_jobs_and_planning(self):
        res = fake_result(n_queries=1, passes=(True, False))
        self.assertAlmostEqual(stats.driver_gap(res, 0), 0.01, places=6)


class Failures(unittest.TestCase):
    def test_every_failure_is_counted(self):
        res = fake_result(n_queries=2, passes=(False, False))
        res["samples"][1]["error"] = "boom"
        res["setup_errors"] = [{"setup": 2, "query": "q0", "error": "late"}]
        verdict = {"q0": "", "q1": "FAIL q1: rows 3 != 4"}
        attempted, failures = run.tally(res, ["q0", "q1"], verdict)
        self.assertEqual(attempted, 4 + 3 * 2)   # timed + one pass per set-up
        self.assertEqual(len(failures), 3)

    def test_clean_run_has_no_failures(self):
        res = fake_result(n_queries=2, passes=(False,))
        res["setup_errors"] = []
        self.assertEqual(run.tally(res, ["q0", "q1"], {"q0": "", "q1": ""})[1], [])


if __name__ == "__main__":
    unittest.main()
