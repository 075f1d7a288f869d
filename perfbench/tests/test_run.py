"""Tests of the runner's statistics and of its refusal to run without
the program's sources.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import shutil
import subprocess
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


class TailRule(unittest.TestCase):

    def test_too_few_samples(self):
        self.assertIsNone(run.tail([]))
        self.assertIsNone(run.tail(list(range(10))))

    def test_eleven_samples_leave_ten_beyond(self):
        value, pct, n = run.tail([float(x) for x in range(11)])
        self.assertEqual((value, pct, n), (0.0, 9, 11))

    def test_twenty_samples_give_the_median(self):
        xs = [float(x) for x in range(1, 21)]
        self.assertEqual(run.tail(xs), (10.0, 50, 20))

    def test_hundred_samples_give_p90(self):
        xs = [float(x) for x in range(1, 101)]
        self.assertEqual(run.tail(xs), (90.0, 90, 100))

    def test_always_ten_beyond(self):
        for n in range(11, 400):
            xs = [float(x) for x in range(n)]
            value, pct, count = run.tail(list(reversed(xs)))
            beyond = sum(1 for x in xs if x > value)
            self.assertGreaterEqual(beyond, 10, n)
            self.assertEqual(count, n)
            # one percent higher would leave fewer than ten beyond
            nxt = xs[min(n, max(1, -(-(pct + 1) * n // 100))) - 1]
            self.assertLess(sum(1 for x in xs if x > nxt), 10, n)


class PerLayerNames(unittest.TestCase):

    def test_names_are_unique_and_cover_every_span(self):
        names = run.per_layer_names()
        self.assertEqual(len(names), len(set(names)))
        for s in run.SPANS:
            for c in run.SPAN_COUNTERS:
                self.assertIn(f"{s}.{c}", names)
        self.assertLessEqual(len(names), 128)


class RefusesWithoutProgram(unittest.TestCase):

    def test_exits_nonzero_without_printing_a_result(self):
        with tempfile.TemporaryDirectory() as t:
            shutil.copytree(os.path.dirname(HERE), os.path.join(t, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__", "project"))
            t0 = time.time()
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "migrate_10x", "--seed", "1",
                                "--seconds", "1", "--trace", "0"], cwd=t, capture_output=True, text=True,
                               timeout=170)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)
            self.assertLess(time.time() - t0, 60)


if __name__ == "__main__":
    unittest.main()
