"""Percentile, tail and spread maths.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class Stats(unittest.TestCase):

    def test_nearest_rank_percentile(self):
        xs = [15, 20, 35, 40, 50]
        self.assertEqual(stats.percentile(xs, 5), 15)
        self.assertEqual(stats.percentile(xs, 30), 20)
        self.assertEqual(stats.percentile(xs, 40), 20)
        self.assertEqual(stats.percentile(xs, 50), 35)
        self.assertEqual(stats.percentile(xs, 100), 50)
        self.assertEqual(stats.percentile(list(reversed(xs)), 50), 35)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90))
        self.assertEqual(stats.tail(list(range(1, 51))), (80, 40))
        self.assertEqual(stats.tail(list(range(1, 12))), (9, 1))
        for n in (200, 37, 11):
            p, v = stats.tail(list(range(n)))
            self.assertGreaterEqual(sum(x > v for x in range(n)), 10)
            # one percentile higher would leave fewer than ten beyond
            higher = stats.percentile(list(range(n)), p + 1)
            self.assertTrue(p == 99 or sum(x > higher for x in range(n)) < 10)

    def test_tail_needs_more_than_ten(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertIsNone(stats.tail([]))
        self.assertIsNone(stats.tail([3.0] * 40))  # nothing strictly beyond

    def test_median_and_spread(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        # quantiles(n=4) of 1..9 (exclusive method) are 2.5, 5, 7.5
        self.assertAlmostEqual(stats.spread(list(range(1, 10))), (7.5 - 2.5) / 5)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


if __name__ == "__main__":
    unittest.main()
