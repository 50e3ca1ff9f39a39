import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
from stats import INF  # noqa: E402


class OrderStatistics(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_median_with_a_failed_sample_never_drops(self):
        self.assertEqual(stats.median([1.0, INF]), INF)
        self.assertEqual(stats.median([1.0, 2.0, INF]), 2.0)

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_tail_samples_counts_strictly_above(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail_samples(xs, 90), 10)
        self.assertEqual(stats.tail_samples([1, 1, 1], 90), 0)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertEqual(stats.geomean([1.0, INF]), INF)

    def test_empty_input_is_an_error(self):
        for f in (stats.median, lambda xs: stats.percentile(xs, 50),
                  stats.fail_ratio, stats.geomean):
            with self.assertRaises(ValueError):
                f([])


class FailureAccounting(unittest.TestCase):
    def test_failed_operation_is_infinitely_slow(self):
        self.assertEqual(stats.op_latency(True, 0.25), 0.25)
        self.assertEqual(stats.op_latency(False, 0.001), INF)

    def test_a_failure_makes_its_pass_worse_never_better(self):
        ok = stats.pass_seconds([(True, 1.0), (True, 2.0)])
        failed_fast = stats.pass_seconds([(True, 1.0), (False, 0.01)])
        self.assertEqual(ok, 3.0)
        self.assertGreater(failed_fast, ok)

    def test_failures_move_the_tail_up(self):
        fast_failures = [stats.op_latency(False, 0.001)] * 2
        xs = [1.0] * 8 + fast_failures
        self.assertEqual(stats.percentile(xs, 90), INF)
        self.assertEqual(stats.percentile(xs, 50), 1.0)

    def test_fail_ratio(self):
        self.assertEqual(stats.fail_ratio([True, True, False, True]), 0.25)
        self.assertEqual(stats.fail_ratio([True]), 0.0)

    def test_finite_caps_infinity_only(self):
        self.assertEqual(stats.finite(INF), 1e9)
        self.assertEqual(stats.finite(2.5), 2.5)


if __name__ == "__main__":
    unittest.main()
