"""Tests of the benchmark's seeded inputs, workload split and output contract.

    python3 -m unittest discover -s graftbench/tests      (from the checkout root)

The smoke test runs every workload for one second, untraced and traced; it needs
a few minutes and is skipped unless GRAFTBENCH_SMOKE=1.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import datagen  # noqa: E402
import run  # noqa: E402
import workload  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


class SeedTest(unittest.TestCase):
    panel = ["q_a", "q_b", "q_c", "q_d", "q_e"]

    def test_request_order_is_a_function_of_the_seed(self):
        one = workload.request_order(self.panel, 7, 20)
        self.assertEqual(one, workload.request_order(self.panel, 7, 20))
        self.assertNotEqual(one, workload.request_order(self.panel, 8, 20))
        for p in one:
            self.assertEqual(sorted(p), self.panel)

    def test_pipeline_events_are_a_function_of_the_seed(self):
        live, backlog = workload.pipeline_events(3, 2000, 500)
        self.assertEqual((live, backlog), workload.pipeline_events(3, 2000, 500))
        self.assertNotEqual(live, workload.pipeline_events(4, 2000, 500)[0])
        # Fresh ids count up from the pre-loaded store; a fixed share repeat.
        fresh = [i for k, i in enumerate(live) if i not in live[:k]]
        first = workload.PIPELINE["preload"]
        self.assertEqual(fresh, list(range(first, first + len(fresh))))
        share = 1 - len(fresh) / len(live)
        self.assertAlmostEqual(share, workload.PIPELINE["repeat_share"], delta=0.05)
        self.assertTrue(all(i >= 10_000_000 for i in backlog))

    def test_generated_tables_repeat(self):
        import pyarrow.parquet as pq
        base = os.path.join(ROOT, ".bench_build", "test-datagen")
        shutil.rmtree(base, ignore_errors=True)
        try:
            datagen.generate(os.path.join(base, "a"))
            datagen.generate(os.path.join(base, "b"))
            for t in os.listdir(os.path.join(base, "a")):
                self.assertTrue(pq.read_table(os.path.join(base, "a", t)).equals(
                    pq.read_table(os.path.join(base, "b", t))), t)
        finally:
            shutil.rmtree(base, ignore_errors=True)


class WorkloadSplitTest(unittest.TestCase):
    def test_every_query_in_exactly_one_pool_and_panels_inside_it(self):
        exp = workload.expected()
        self.assertEqual(len(exp["queries"]), 290)
        for name, q in exp["queries"].items():
            self.assertEqual(q["pool"], workload.pool_of(name), name)
        for w in workload.CLOSED_LOOP:
            for name in exp["panels"][w]:
                self.assertEqual(exp["queries"][name]["pool"], w)
                self.assertTrue(exp["queries"][name]["eligible"], name)

    def test_benchmark_json_matches_the_metrics_run_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(workload.WORKLOADS))


@unittest.skipUnless(os.environ.get("GRAFTBENCH_SMOKE") == "1", "set GRAFTBENCH_SMOKE=1")
class SmokeTest(unittest.TestCase):
    def test_each_workload_emits_every_metric_with_its_unit(self):
        for w in workload.WORKLOADS:
            for trace, units in ((0, run.END_TO_END), (1, run.PER_LAYER)):
                out = subprocess.run(
                    [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                     "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                    cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=300, check=True)
                lines = out.stdout.strip().splitlines()
                self.assertTrue(lines[0].startswith("graftbench workload="), lines[0])
                for key in ("nproc=", "load_start=", "steal_pct="):
                    self.assertIn(key, lines[0])
                res = json.loads(lines[-1])
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"], (w, trace, out.stdout))
                self.assertEqual(set(res["metrics"]), set(units))
                for name, m in res["metrics"].items():
                    self.assertRegex(name, NAME)
                    self.assertEqual(m["unit"], units[name])
                    self.assertIsInstance(m["value"], (int, float))


if __name__ == "__main__":
    unittest.main()
