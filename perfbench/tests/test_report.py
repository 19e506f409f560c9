"""Tests of the benchmark's own machinery.

    python3 -m unittest discover -s perfbench/tests    # from the repository root

The generator test compiles the harness first (perfbench/build.py) and
runs its generator self-check in a JVM.
"""

import json
import os
import random
import statistics
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402
import report  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_matches_inclusive_quantiles(self):
        rng = random.Random(1)
        for n in (2, 3, 8, 25):
            xs = [rng.uniform(0, 10) for _ in range(n)]
            q = statistics.quantiles(xs, n=4, method="inclusive")
            self.assertAlmostEqual(report.percentile(xs, 25), q[0])
            self.assertAlmostEqual(report.percentile(xs, 50), q[1])
            self.assertAlmostEqual(report.percentile(xs, 75), q[2])
            self.assertAlmostEqual(report.median(xs), statistics.median(xs))

    def test_single_sample_and_empty(self):
        self.assertEqual(report.percentile([3.0], 99), 3.0)
        self.assertEqual(report.median([]), 0.0)
        with self.assertRaises(ValueError):
            report.percentile([], 50)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(report.tail_percentile(8))
        self.assertIsNone(report.tail_percentile(10))
        self.assertEqual(report.tail_percentile(20), 50.0)
        self.assertEqual(report.tail_percentile(100), 90.0)
        self.assertEqual(report.tail_percentile(1000), 99.0)
        for n in (11, 57, 400):
            p = report.tail_percentile(n)
            beyond = sum(1 for r in range(1, n + 1) if r / n > p / 100.0 + 1e-12)
            self.assertGreaterEqual(beyond, 10)


def window(i, kind, start, end):
    return {"id": i, "parent": -1, "kind": kind, "name": f"{kind}-{i}",
            "start_ms": start, "end_ms": end, "wall_s": (end - start) / 1e3}


class AttributionTest(unittest.TestCase):
    windows = [window(0, "setup", 0, 100), window(1, "op", 100, 250), window(2, "read", 250, 260)]

    def test_each_job_in_exactly_one_window(self):
        jobs = [{"id": 0, "start_ms": 5, "end_ms": 99}, {"id": 1, "start_ms": 100, "end_ms": 250},
                {"id": 2, "start_ms": 251, "end_ms": 255}]
        assigned, stray = report.attribute(jobs, self.windows)
        self.assertEqual(assigned, {0: 0, 1: 1, 2: 2})
        self.assertEqual(stray, [])

    def test_straddling_gap_and_unfinished_jobs_are_stray(self):
        jobs = [{"id": 3, "start_ms": 240, "end_ms": 255},   # op into read
                {"id": 4, "start_ms": 300, "end_ms": 310},   # after every window
                {"id": 5, "start_ms": 120, "end_ms": -1}]    # never ended
        _, stray = report.attribute(jobs, self.windows)
        self.assertEqual(sorted(stray), [3, 4, 5])

    def test_random_contiguous_windows(self):
        rng = random.Random(2)
        for _ in range(50):
            cuts = sorted(rng.sample(range(1, 10000), 12))
            wins = [window(k, "op", a, b) for k, (a, b) in enumerate(zip(cuts, cuts[1:]))]
            jobs = []
            for j in range(40):
                w = rng.choice(wins)
                s = rng.randrange(w["start_ms"], w["end_ms"])
                jobs.append({"id": j, "start_ms": s, "end_ms": rng.randint(s, w["end_ms"])})
            assigned, stray = report.attribute(jobs, wins)
            self.assertEqual(stray, [])
            for j in jobs:
                w = wins[assigned[j["id"]]]
                self.assertTrue(w["start_ms"] <= j["start_ms"] and j["end_ms"] <= w["end_ms"])


class SelfTimeTest(unittest.TestCase):
    def test_self_time_within_wall(self):
        rng = random.Random(3)
        for _ in range(200):
            a = rng.randrange(0, 1000)
            b = a + rng.randrange(0, 1000)
            span = {"start_ms": a, "end_ms": b}
            kids = []
            for _ in range(rng.randrange(0, 6)):
                s = rng.randrange(a - 50, b + 50)
                kids.append({"start_ms": s, "end_ms": s + rng.randrange(0, 400)})
            t = report.self_time(span, kids)
            self.assertGreaterEqual(t, 0.0)
            self.assertLessEqual(t, (b - a) / 1e3)

    def test_nested_children(self):
        span = {"start_ms": 0, "end_ms": 1000}
        kids = [{"start_ms": 100, "end_ms": 300}, {"start_ms": 200, "end_ms": 400},
                {"start_ms": 900, "end_ms": 1200}]
        self.assertAlmostEqual(report.self_time(span, kids), 0.6)

    def test_union_length(self):
        self.assertEqual(report.union_length([(0, 10), (5, 15), (20, 25), (3, 3)]), 20)
        self.assertEqual(report.union_length([]), 0)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_the_reported_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, report.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, report.LAYER_UNITS)
        self.assertTrue({w["name"] for w in bench["workloads"]} <= set(report.WORKLOADS))


class GeneratorTest(unittest.TestCase):
    def test_seeded_generators(self):
        classpath, _ = build.ensure_built(ROOT)
        res = subprocess.run(["java", "-cp", classpath, "graft.perfbench.GenCheck"],
                             capture_output=True, text=True, timeout=300)
        self.assertEqual(res.returncode, 0, res.stdout + res.stderr[-2000:])
        self.assertNotIn("FAILED", res.stdout)
        self.assertGreaterEqual(res.stdout.count("ok "), 10)


if __name__ == "__main__":
    unittest.main()
