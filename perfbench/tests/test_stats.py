"""Tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0), 1)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 100), 4)

    def test_single_value(self):
        self.assertEqual(stats.percentile([7], 90), 7)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailPercentileTest(unittest.TestCase):
    def test_too_few_samples_has_no_tail(self):
        self.assertEqual(stats.tail_percentile(list(range(19))), (None, None))

    def test_twenty_samples_give_the_median(self):
        p, v = stats.tail_percentile(list(range(20)))
        self.assertEqual(p, 50.0)
        self.assertEqual(v, 9.5)

    def test_picks_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail_percentile(list(range(99)))[0], 75.0)
        self.assertEqual(stats.tail_percentile(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail_percentile(list(range(10000)))[0], 99.9)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)
        self.assertEqual(stats.union_length([(5, 6), (0, 10)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_adjacent_intervals(self):
        self.assertEqual(stats.union_length([(0, 5), (5, 10)]), 10)

    def test_self_time_subtracts_children_once(self):
        # two overlapping children cover 20..60 of a 0..100 span
        self.assertEqual(stats.self_time(0, 100, [(20, 50), (30, 60)]), 60)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time(10, 20, [(0, 15), (18, 40)]), 3)

    def test_no_children(self):
        self.assertEqual(stats.self_time(3, 9, []), 6)


class RecallTest(unittest.TestCase):
    def test_counts_exact_ids_in_first_k(self):
        self.assertEqual(stats.recall_at_k([1, 2, 3, 4], [1, 3, 9, 8], 4), 0.5)

    def test_order_within_k_does_not_matter(self):
        self.assertEqual(stats.recall_at_k([3, 2, 1], [1, 2, 3], 3), 1.0)

    def test_ids_beyond_k_do_not_count(self):
        self.assertEqual(stats.recall_at_k([9, 8, 1], [1, 2], 2), 0.0)

    def test_short_result_counts_as_missing(self):
        self.assertEqual(stats.recall_at_k([1], [1, 2], 2), 0.5)

    def test_k_must_be_positive(self):
        with self.assertRaises(ValueError):
            stats.recall_at_k([1], [1], 0)


if __name__ == "__main__":
    unittest.main()
