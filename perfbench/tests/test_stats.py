"""The tail-percentile rule and the quartile spread.

    python3 -m unittest discover -s perfbench/tests -t perfbench
"""
import statistics
import unittest

from lib import stats


class TailRule(unittest.TestCase):

    def test_forty_samples_give_p75_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 41)]
        label, v, n = stats.tail(xs)
        self.assertEqual((label, v, n), ("p75", 30.0, 40))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_every_size_keeps_at_least_ten_beyond(self):
        for n in range(20, 400):
            xs = [float(i) for i in range(n)]
            label, v, _ = stats.tail(xs)
            pct = int(label[1:])
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            # and no higher whole percentile would still have ten beyond
            higher = stats.nearest_rank(xs, pct + 1)
            self.assertLess(sum(1 for x in xs if x > higher), 10, n)

    def test_twenty_samples_reach_the_median_only(self):
        xs = list(range(20, 0, -1))
        self.assertEqual(stats.tail(xs), ("p50", 10, 20))

    def test_too_few_samples_report_the_upper_quartile(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), ("p75 (n<20)", 3.0, 3))
        self.assertEqual(stats.tail([float(i) for i in range(1, 8)]), ("p75 (n<20)", 6.0, 7))
        self.assertEqual(stats.tail([5.0] * 19)[0], "p75 (n<20)")

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail([])

    def test_order_does_not_matter(self):
        xs = [7.0, 1.0, 9.0, 4.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class Spread(unittest.TestCase):

    def test_matches_statistics_quantiles(self):
        xs = [1.0, 2.0, 2.5, 3.0, 10.0, 4.0, 3.5, 2.2, 2.8, 3.1]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / statistics.median(xs))

    def test_constant_values_have_no_spread(self):
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


if __name__ == "__main__":
    unittest.main()
