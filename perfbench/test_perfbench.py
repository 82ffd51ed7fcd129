"""Tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import gen
import report
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class JobAccounting(unittest.TestCase):
    # q76's shape: two table sections written in parallel, so their jobs
    # overlap; summing job durations (1.2 + 1.1 s) exceeds the 1.5 s wall
    OP = {"t0": 0, "t1": 1_500}
    JOBS = [{"t0": 100, "t1": 1_300}, {"t0": 300, "t1": 1_400}, {"t0": 1_350, "t1": 1_450}]
    PHASES = [{"t0": 0, "t1": 80}, {"t0": 90, "t1": 150}]

    def test_overlapping_jobs_never_push_outside_below_zero(self):
        naive_outside = (self.OP["t1"] - self.OP["t0"]) - sum(j["t1"] - j["t0"] for j in self.JOBS)
        self.assertLess(naive_outside, 0)
        split = stats.op_split(self.OP, self.JOBS, self.PHASES)
        self.assertEqual(split["jobs"], 1_350)
        for part in ("jobs", "catalyst", "outside"):
            self.assertGreaterEqual(split[part], 0)
        self.assertEqual(split["jobs"] + split["catalyst"] + split["outside"], split["wall"])

    def test_intervals_outside_the_op_are_clipped(self):
        split = stats.op_split({"t0": 1_000, "t1": 2_000},
                               [{"t0": 500, "t1": 1_200}, {"t0": 1_900, "t1": 2_500}], [])
        self.assertEqual(split["jobs"], 300)
        self.assertEqual(split["outside"], 700)

    def test_self_times_of_nested_spans_sum_to_the_op(self):
        spans = [{"id": 0, "parent": -1, "t0": 0, "t1": 100},
                 {"id": 1, "parent": 0, "t0": 10, "t1": 40},
                 {"id": 2, "parent": 0, "t0": 30, "t1": 70},   # overlaps its sibling
                 {"id": 3, "parent": 2, "t0": 35, "t1": 45}]
        self_t = stats.self_times(spans)
        self.assertEqual(self_t, {0: 40, 1: 30, 2: 30, 3: 10})
        self.assertTrue(all(v >= 0 for v in self_t.values()))
        seq = [{"id": 0, "parent": -1, "t0": 0, "t1": 100},
               {"id": 1, "parent": 0, "t0": 0, "t1": 60},
               {"id": 2, "parent": 1, "t0": 20, "t1": 50}]
        self.assertEqual(sum(stats.self_times(seq).values()), 100)


class SeedDeterminism(unittest.TestCase):
    def inputs(self, fn, seed):
        with tempfile.TemporaryDirectory() as d:
            plan = fn(d, seed)
            plan.pop("rows", None)
            return json.dumps(plan, sort_keys=True), gen.digest_dir(d)

    def check(self, fn):
        a, b, c = self.inputs(fn, 7), self.inputs(fn, 7), self.inputs(fn, 8)
        self.assertEqual(a, b)          # same seed: same op list, same bytes
        self.assertNotEqual(a[0], c[0])  # another seed: another op list
        self.assertNotEqual(a[1], c[1])  # ...and other inputs

    def test_warehouse_dml(self):
        self.check(gen.dml_inputs)

    def test_analytic_suite(self):
        self.check(gen.analytic_inputs)


class Contract(unittest.TestCase):
    def test_benchmark_json_names_what_the_runs_print(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        e2e = [(n, u, bt, bd) for n, u, bt, bd in report.END_TO_END if bd is not None]
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]],
                         e2e)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         report.PER_LAYER)
        import run
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))

    def test_verdict(self):
        parent = [1.0, 1.02, 0.98, 1.01, 0.99, 1.0, 1.03, 0.97, 1.0, 1.01]
        faster = [x * 0.8 for x in parent]
        self.assertEqual(stats.verdict(parent, faster, "lower", 0.1)["verdict"], "improved")
        self.assertEqual(stats.verdict(parent, parent, "lower", 0.1)["verdict"], "no-worse")
        slower = [x * 1.3 for x in parent]
        self.assertEqual(stats.verdict(parent, slower, "lower", 0.1)["verdict"], "worse")


if __name__ == "__main__":
    unittest.main()
