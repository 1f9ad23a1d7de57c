import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TenBeyondRule(unittest.TestCase):

    def test_p90_needs_one_hundred_samples(self):
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertEqual(stats.beyond(99, 0.9), 9)
        self.assertEqual(stats.beyond(1000, 0.99), 10)
        self.assertEqual(stats.beyond(20, 0.5), 10)

    def test_tail_at_the_threshold(self):
        values = list(range(1, 101))
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertEqual(stats.tail(values, 0.9), 90)

    def test_tail_refuses_below_the_threshold(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.tail(list(range(99)), 0.9)
        with self.assertRaises(stats.TooFewSamples):
            stats.tail([], 0.9)

    def test_tail_ignores_input_order(self):
        values = list(range(200, 0, -1))
        self.assertEqual(stats.tail(values, 0.9), 180)

    def test_nearest_rank_of_few_samples_is_the_max(self):
        self.assertEqual(stats.nearest_rank([3.0, 1.0, 2.0], 0.9), 3.0)

    def test_median(self):
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(stats.TooFewSamples):
            stats.median([])


if __name__ == "__main__":
    unittest.main()
