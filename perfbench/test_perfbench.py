"""Self-test of the benchmark: the tail helper, the seeded batch generator,
the correctness gate on a deliberately corrupted result, and a smoke run
of every workload at scale 0.001.

    python3 perfbench/test_perfbench.py
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402


def bench(*args):
    """Run the benchmark; return (exit code, stdout lines, last-line result)."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--seconds", "1",
                        "--sf", "0.001", *args], capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, json.loads(lines[-1]) if p.returncode == 0 else p.stderr


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        value, pct, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(metrics.tail(xs)[0], 2.0)

    def test_ten_or_fewer_samples_fall_back_to_the_largest(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))


class GeneratorTest(unittest.TestCase):
    def test_batches_are_seeded(self):
        ev = os.path.join(HERE, "fixture", "sf0.001", "events.parquet")
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            a = gen.write_batches(os.path.join(d, "a"), 7, ev, 2, 0.05)
            b = gen.write_batches(os.path.join(d, "b"), 7, ev, 2, 0.05)
            c = gen.write_batches(os.path.join(d, "c"), 8, ev, 2, 0.05)
            for x, y, z in zip(a, b, c):
                self.assertTrue(filecmp.cmp(x["path"], y["path"], shallow=False))
                self.assertFalse(filecmp.cmp(x["path"], z["path"], shallow=False))
                self.assertGreater(x["rows"], 0)


class GateTest(unittest.TestCase):
    def test_corrupted_result_counts_as_failed(self):
        rc, lines, res = bench("--workload", "aql_dashboard", "--seed", "1",
                               "--corrupt", "q_p7_timerange")
        self.assertEqual(rc, 0, res)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        failures = [line for line in lines if line.startswith("# FAILED")]
        self.assertEqual(len(failures), res["failed"])
        self.assertTrue(all("q_p7_timerange" in line for line in failures), failures)


class SmokeTest(unittest.TestCase):
    def test_every_workload_runs_clean(self):
        for w in ["aql_dashboard", "ingest_rollup"]:
            with self.subTest(workload=w):
                rc, _, res = bench("--workload", w, "--seed", "1")
                self.assertEqual(rc, 0, res)
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreater(res["attempted"], 0)


if __name__ == "__main__":
    unittest.main(verbosity=2)
