"""Tests for the benchmark's own statistics and result comparison.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import pandas as pd

import stats


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(10))))
        # even the median of 19 samples has only 9 above it
        self.assertIsNone(stats.tail(list(range(19))))
        p, v, n = stats.tail(list(range(1, 21)))
        self.assertEqual((p, v, n), (0.5, 10, 20))

    def test_p90_from_one_hundred_calls(self):
        p, v, n = stats.tail([float(i) for i in range(1, 101)])
        self.assertEqual((p, n), (0.9, 100))
        self.assertEqual(v, 90.0)
        self.assertEqual(100 - math.ceil(p * n), 10)

    def test_p99_needs_a_thousand(self):
        p, _, _ = stats.tail(list(range(999)))
        self.assertEqual(p, 0.95)
        p, _, _ = stats.tail(list(range(1000)))
        self.assertEqual(p, 0.99)

    def test_percentile_nearest_rank(self):
        self.assertEqual(stats.percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(stats.percentile([5], 0.99), 5)
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)


class FailureCountTest(unittest.TestCase):
    def test_fraction(self):
        self.assertEqual(stats.failed_fraction(8, 0), 0.0)
        self.assertEqual(stats.failed_fraction(8, 2), 0.25)

    def test_rejects_impossible_counts(self):
        for attempted, failed in ((0, 0), (3, 4), (3, -1)):
            with self.assertRaises(ValueError):
                stats.failed_fraction(attempted, failed)


class CompareTest(unittest.TestCase):
    def frame(self, rows, cols=("b", "a")):
        return stats.canon(pd.DataFrame(rows, columns=list(cols)))

    def test_row_and_column_order_do_not_matter(self):
        x = self.frame([(1, "x"), (2, "y")])
        y = self.frame([("y", 2), ("x", 1)], cols=("a", "b"))
        self.assertIsNone(stats.compare(x, y))
        self.assertEqual(stats.digest(x), stats.digest(y))

    def test_value_difference_is_named(self):
        x = self.frame([(1, "x"), (2, "y")])
        y = self.frame([(1, "x"), (3, "y")])
        diff = stats.compare(x, y)
        self.assertIn("col b", diff)
        self.assertNotEqual(stats.digest(x), stats.digest(y))

    def test_floats_compare_exactly(self):
        x = self.frame([(0.1 + 0.2, "x")])
        y = self.frame([(0.3, "x")])
        self.assertIsNotNone(stats.compare(x, y))

    def test_nulls_match_only_nulls(self):
        x = self.frame([(None, "x")])
        self.assertIsNone(stats.compare(x, self.frame([(None, "x")])))
        self.assertIsNotNone(stats.compare(x, self.frame([(0.0, "x")])))

    def test_shape_differences(self):
        x = self.frame([(1, "x")])
        self.assertIn("rows", stats.compare(x, self.frame([(1, "x"), (2, "y")])))
        self.assertIn("columns", stats.compare(x, self.frame([(1, "x")], cols=("b", "c"))))


if __name__ == "__main__":
    unittest.main()
