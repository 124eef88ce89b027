"""Percentiles and the tail-percentile rule."""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from stats import percentile, spread, tail_percentile  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(tail_percentile(19))
        self.assertEqual(tail_percentile(20), 50.0)
        self.assertEqual(tail_percentile(99), 50.0)
        self.assertEqual(tail_percentile(100), 90.0)
        self.assertEqual(tail_percentile(999), 90.0)
        self.assertEqual(tail_percentile(1000), 99.0)
        self.assertEqual(tail_percentile(10000), 99.9)

    def test_interpolated_percentile(self):
        self.assertAlmostEqual(percentile(range(1, 10), 50), 5.0)
        self.assertAlmostEqual(percentile([1.0, 2.0, 3.0, 4.0], 50), 2.5)
        # numpy's default rule: rank (n - 1) * p
        self.assertAlmostEqual(percentile([0.0, 10.0, 20.0, 30.0, 40.0, 50.0], 90), 45.0)
        self.assertAlmostEqual(percentile([7.0] * 6, 90), 7.0)
        self.assertEqual(percentile([7.5], 90), 7.5)
        self.assertEqual(percentile([3.0, 1.0, 2.0], 100), 3.0)
        self.assertIsNone(percentile([], 50))
        xs = [10.0, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20]
        self.assertAlmostEqual(percentile(xs, 90), statistics.quantiles(xs, n=10, method="inclusive")[8])

    def test_spread_is_the_acceptance_rule(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(spread(xs), (q3 - q1) / statistics.median(xs))
        self.assertEqual(spread([4.0]), 0.0)


if __name__ == "__main__":
    unittest.main()
