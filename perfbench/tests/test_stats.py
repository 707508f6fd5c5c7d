import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0), 1)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 100), 4)
        self.assertAlmostEqual(stats.percentile(list(range(101)), 90), 90.0)

    def test_single_value(self):
        self.assertEqual(stats.percentile([7.5], 99), 7.5)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_median_matches_statistics(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
        self.assertEqual(stats.median(xs), statistics.median(xs))


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_summarize_reports_median_tail_and_count(self):
        s = stats.summarize([float(i) for i in range(1, 201)])
        self.assertEqual(s["n"], 200)
        self.assertEqual(s["median"], 100.5)
        self.assertEqual(s["tail_p"], 95)
        self.assertAlmostEqual(s["tail"], 190.05)

    def test_summarize_too_few_for_a_tail(self):
        s = stats.summarize([3.0, 1.0, 2.0])
        self.assertEqual((s["n"], s["median"], s["tail_p"], s["tail"]), (3, 2.0, None, None))


class SpreadTest(unittest.TestCase):
    def test_interquartile_share_of_median(self):
        xs = [float(x) for x in range(1, 11)]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / 5.5)

    def test_constant_values_have_no_spread(self):
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


if __name__ == "__main__":
    unittest.main()
