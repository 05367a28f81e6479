"""Tests of the benchmark itself. From the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The end-to-end cases build the engine when it is not built yet and run
each workload in smoke mode (tiny inputs, a few minutes in all).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import numpy as np

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(*args, cwd=ROOT):
    r = subprocess.run([sys.executable, str(BENCH / "run.py"), *args], cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None), r


class Units(unittest.TestCase):
    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(run.pct(xs, 50), 50)
        self.assertEqual(run.pct(xs, 90), 90)
        self.assertEqual(run.pct([7], 90), 7)

    def test_means_of_no_samples_are_zero(self):
        self.assertEqual(run.mid_mean([]), 0.0)
        self.assertEqual(run.tail_mean([]), 0.0)

    def test_middle_and_tail_means(self):
        xs = [8, 1, 7, 2, 6, 3, 5, 4]
        self.assertEqual(run.mid_mean(xs), 4.5)  # 3 4 5 6
        self.assertEqual(run.tail_mean(xs), 7.5)  # 7 8
        self.assertEqual(run.tail_mean(list(range(1, 8))), 6.5)  # a quarter of 7 rounds up to 2
        self.assertEqual(run.tail_mean(list(range(1, 41))), 35.5)  # 31..40

    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "queries", "name": "q", "req": "q", "start_us": 0, "end_us": 1000},
            {"id": 2, "parent": 1, "layer": "spark", "name": "collect", "req": "q", "start_us": 100, "end_us": 900},
            # listener span without a parent: nests under the collect by time
            {"id": 3, "parent": 0, "layer": "spark", "name": "job", "req": "q", "start_us": 200, "end_us": 700},
            {"id": 4, "parent": 0, "layer": "plans", "name": "analysis", "req": "", "start_us": 120, "end_us": 150},
        ]
        self.assertEqual(run.self_times(spans), {"queries": 0.2, "spark": 0.27 + 0.5, "plans": 0.03})

    def test_focal_mean_matches_a_direct_loop(self):
        rng = np.random.default_rng(1)
        plane = rng.uniform(size=(9, 11))
        got = checks.focal_mean(plane, 2)
        for y, x in [(0, 0), (4, 5), (8, 10)]:
            vals = [plane[y + dy, x + dx] for dy in range(-2, 3) for dx in range(-2, 3)
                    if dx * dx + dy * dy <= 4 and 0 <= y + dy < 9 and 0 <= x + dx < 11]
            self.assertAlmostEqual(got[y, x], sum(vals) / len(vals), places=12)


class Smoke(unittest.TestCase):
    """Each workload in smoke mode emits every named metric with its unit,
    and a corrupted expected value fails its check."""

    def check_metrics(self, out, wanted):
        self.assertIsNotNone(out)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(set(out["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_workloads_emit_every_metric(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                code, out, r = bench("--workload", w["name"], "--seed", "3", "--seconds", "1", "--trace", "0", "--smoke")
                self.assertEqual(code, 0, r.stdout[-2000:] + r.stderr[-2000:])
                self.assertTrue(out["correct"])
                self.check_metrics(out, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(out["metrics"][m["name"]]["value"], 0, m["name"])

    def test_traced_run_emits_every_layer_metric(self):
        code, out, r = bench("--workload", "landuse_pipeline", "--seed", "3", "--seconds", "1", "--trace", "1", "--smoke")
        self.assertEqual(code, 0, r.stdout[-2000:] + r.stderr[-2000:])
        self.check_metrics(out, SPEC["per_layer"])
        self.assertGreater(out["metrics"]["trace.spans"]["value"], 0)
        for name in ("core.focal_mean_ns_per_cell", "serve.hit_ms", "serve.miss_ms", "self.streaming_ms",
                     "self.core_ms", "plans.codegen_compiles"):
            self.assertGreater(out["metrics"][name]["value"], 0, name)

    def test_corrupted_expectation_fails_the_check(self):
        for w in ("query_mix", "landuse_pipeline"):
            with self.subTest(workload=w):
                code, out, r = bench("--workload", w, "--seed", "3", "--seconds", "1", "--trace", "0",
                                     "--smoke", "--corrupt")
                self.assertEqual(code, 1, r.stdout[-2000:] + r.stderr[-2000:])
                self.assertFalse(out["correct"])
                self.assertGreaterEqual(out["failed"], 1)
                self.assertLess(out["failed"], out["attempted"])
                ok = out["metrics"]["ok_ratio"]["value"]
                self.assertAlmostEqual(ok, (out["attempted"] - out["failed"]) / out["attempted"])
                if w == "landuse_pipeline":
                    self.assertEqual(out["attempted"], 7)  # one pass of seven steps

    def test_bare_directory_fails_without_a_result(self):
        (ROOT / ".bench_build").mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(BENCH, Path(d) / "perfbench", ignore=shutil.ignore_patterns("target", "__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
                                "--seconds", "1", "--trace", "0"], cwd=d, capture_output=True, text=True,
                               timeout=170, env={**os.environ})
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)


if __name__ == "__main__":
    unittest.main()
