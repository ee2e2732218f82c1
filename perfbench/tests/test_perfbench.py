"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a graft checkout. The `EndToEnd` cases run the
real benchmark on two or three queries (about a minute each, plus one
build of the engine on first use); the other cases are instant.
"""
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import oracle  # noqa: E402


class Intervals(unittest.TestCase):
    def test_gap_plus_union_is_the_window(self):
        rng = random.Random(7)
        for _ in range(500):
            lo = rng.uniform(0, 50)
            hi = lo + rng.uniform(0, 100)
            iv = [(a, a + rng.uniform(0, 30))
                  for a in (rng.uniform(-20, 170) for _ in range(rng.randint(0, 8)))]
            gap = layers.uncovered_ms(iv, lo, hi)
            union = layers.covered_ms(iv, lo, hi)
            self.assertAlmostEqual(gap + union, hi - lo, places=6)

    def test_overlapping_nested_and_outside_jobs(self):
        iv = [(10, 20), (15, 18), (19, 30), (40, 45), (90, 120), (-5, 2)]
        self.assertEqual(layers.covered_ms(iv, 0, 100), 2 + 20 + 5 + 10)
        self.assertEqual(layers.uncovered_ms(iv, 0, 100), 8 + 10 + 45)
        self.assertEqual(layers.uncovered_ms([], 3, 7), 4)

    def test_consistency_check_flags_a_wrong_gap(self):
        ok = {"query": "a", "wall_ms": 100.0, "gap_ms": 40.0, "union_ms": 60.0}
        bad = {"query": "b", "wall_ms": 100.0, "gap_ms": 30.0, "union_ms": 60.0}
        self.assertEqual(layers.consistency_violations([ok, bad]), [bad])


class Compare(unittest.TestCase):
    exp = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})

    def test_column_and_row_order_do_not_matter(self):
        got = pd.DataFrame({"v": [1.25, 0.5], "k": [2, 1]})
        self.assertIsNone(oracle.compare(got, self.exp))

    def test_float_tolerance(self):
        near = pd.DataFrame({"k": [1, 2], "v": [0.5 + 1e-12, 1.25]})
        far = pd.DataFrame({"k": [1, 2], "v": [0.5 + 1e-6, 1.25]})
        self.assertIsNone(oracle.compare(near, self.exp))
        self.assertIsNotNone(oracle.compare(far, self.exp))

    def test_missing_row_and_renamed_column(self):
        self.assertIsNotNone(oracle.compare(self.exp.iloc[:1], self.exp))
        self.assertIsNotNone(
            oracle.compare(self.exp.rename(columns={"v": "w"}), self.exp))


def bench(*args, cwd=None):
    """Run the benchmark from `cwd` (default: the current checkout root)."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd or os.getcwd(), capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, [json.loads(l) for l in lines[-2:]] if len(lines) >= 2 else []


QUERIES = "q1_filter_count,q6_multi_agg,semi_join"


class EndToEnd(unittest.TestCase):
    def test_injected_wrong_result_fails_the_command(self):
        rc, out = bench("--workload", "olap", "--seed", "5", "--seconds", "1",
                        "--queries", QUERIES, "--inject-wrong", "q6_multi_agg")
        self.assertEqual(rc, 1)
        report, result = out[0]["report"], out[1]
        self.assertFalse(result["correct"])
        # every execution of the corrupted query fails, and only those
        self.assertEqual(result["failed"], result["attempted"] // 3)
        self.assertAlmostEqual(report["error_rate"], 1 / 3)
        self.assertEqual({f["query"] for f in report["failures"]}, {"q6_multi_agg"})

    def test_injected_exception_fails_the_command(self):
        rc, out = bench("--workload", "olap", "--seed", "5", "--seconds", "1",
                        "--queries", QUERIES, "--inject-error", "semi_join")
        self.assertEqual(rc, 1)
        self.assertFalse(out[1]["correct"])
        self.assertGreater(out[0]["report"]["error_rate"], 0)
        self.assertIn("injected error", out[0]["report"]["failures"][0]["reason"])

    def test_traced_run_is_consistent_and_reports_every_layer(self):
        rc, out = bench("--workload", "olap", "--seed", "5", "--seconds", "1",
                        "--trace", "1", "--queries", QUERIES)
        self.assertEqual(rc, 0)
        report, result = out[0]["report"], out[1]
        self.assertTrue(result["correct"])
        self.assertEqual(report["consistency"]["violations"], [])
        # cold pass + one traced warm pass, three queries each
        self.assertEqual(report["consistency"]["queries_checked"], 6)
        self.assertEqual(set(result["metrics"]), {n for n, _ in layers.PER_LAYER})

    def test_fails_outside_a_source_checkout(self):
        scratch = os.path.join(os.getcwd(), ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as bare:
            shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            rc, out = bench("--workload", "olap", "--seed", "1", "--seconds", "1",
                            cwd=bare)
        self.assertNotEqual(rc, 0)
        self.assertEqual(out, [])


if __name__ == "__main__":
    unittest.main()
