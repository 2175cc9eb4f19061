"""The percentile estimator and the spread measure."""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_reports_sample_count(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), (2.5, 4))
        self.assertEqual(stats.percentile([7], 90), (7, 1))
        self.assertEqual(stats.percentile([], 50), (None, 0))

    def test_interpolates_between_ranks(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 0)[0], 1)
        self.assertEqual(stats.percentile(xs, 100)[0], 10)
        self.assertAlmostEqual(stats.percentile(xs, 90)[0], 9.1)

    def test_rejects_out_of_range(self):
        with self.assertRaises(ValueError):
            stats.percentile([1, 2], 101)

    def test_tail_needs_ten_samples_beyond(self):
        xs = list(range(100))
        q, v, n = stats.tail_percentile(xs)
        self.assertEqual((q, n), (90, 100))
        self.assertAlmostEqual(v, 89.1)
        self.assertEqual(stats.tail_percentile([1, 2, 3]), (None, None, 3))
        self.assertEqual(stats.tail_percentile(list(range(20)))[0], 50)

    def test_iqr_share_uses_statistics_quartiles(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.iqr_share(xs), (q3 - q1) / q2)


if __name__ == "__main__":
    unittest.main()
