"""The tail-percentile rule and the compare tool's mover classification.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_no_percentile_below_eleven_samples(self):
        self.assertIsNone(stats.tail([1.0] * 10))

    def test_median_needs_twenty_samples(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(1, 21))), (50.0, 10))

    def test_highest_qualifying_percentile(self):
        vals = list(range(1, 101))
        self.assertEqual(stats.tail(vals), (90.0, 90))      # 10 samples above p90
        vals = list(range(1, 1001))
        self.assertEqual(stats.tail(vals), (99.0, 990))     # p99.9 leaves only 1

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3], 50), 3)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 100), 4)


class CompareTest(unittest.TestCase):
    def test_movers_sorted_by_count_change(self):
        a = {"star.s": (10.0, "s"), "star.jobs": (60, "count"),
             "etl.parse_s": (2.0, "s"), "etl.tasks": (17, "count"),
             "mergewrite.s": (1.0, "s"), "jvm.jit_s": (3.0, "s")}
        b = {"star.s": (6.0, "s"), "star.jobs": (40, "count"),
             "etl.parse_s": (1.0, "s"), "etl.tasks": (17, "count"),
             "mergewrite.s": (1.05, "s"), "jvm.jit_s": (9.0, "s")}
        got = {(kind, name) for kind, _, name, *_ in compare.movers(a, b)}
        self.assertEqual(got, {("count changed", "star.s"), ("count changed", "star.jobs"),
                               ("time moved", "etl.parse_s")})


if __name__ == "__main__":
    unittest.main()
