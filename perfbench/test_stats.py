"""Tests of the benchmark's statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import statistics
import unittest

import stats


class StatsTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [7.0, 1.0, 3.0, 9.0, 5.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(q2, 5.5)
        self.assertAlmostEqual(q1, 2.75)
        self.assertAlmostEqual(q3, 8.25)

    def test_quartiles_of_one_sample(self):
        self.assertEqual(stats.quartiles([4.2]), (4.2, 4.2, 4.2))

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        self.assertAlmostEqual(stats.spread(xs), (8.25 - 2.75) / 5.5)
        self.assertEqual(stats.spread([2.0, 2.0, 2.0]), 0.0)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(stats.geomean([0.5, 2.0, 8.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([3.0]), 3.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])

    def test_geomean_keeps_small_steps_visible(self):
        # halving one short step moves the geomean as much as halving a long one
        base = stats.geomean([0.1, 10.0])
        self.assertAlmostEqual(stats.geomean([0.05, 10.0]) / base, 1 / math.sqrt(2))
        self.assertAlmostEqual(stats.geomean([0.1, 5.0]) / base, 1 / math.sqrt(2))

    def test_self_time_without_children_is_duration(self):
        spans = [{"start": 10, "end": 25, "parent": -1}]
        self.assertEqual(stats.self_times(spans), [15])

    def test_self_time_subtracts_direct_children_only(self):
        spans = [
            {"start": 0, "end": 100, "parent": -1},   # op
            {"start": 10, "end": 40, "parent": 0},    # child
            {"start": 15, "end": 35, "parent": 1},    # grandchild
            {"start": 50, "end": 70, "parent": 0},    # child
        ]
        self.assertEqual(stats.self_times(spans), [50, 10, 20, 20])

    def test_self_time_counts_overlapping_children_once(self):
        spans = [
            {"start": 0, "end": 100, "parent": -1},
            {"start": 10, "end": 50, "parent": 0},
            {"start": 30, "end": 60, "parent": 0},
            {"start": 40, "end": 45, "parent": 0},
        ]
        self.assertEqual(stats.self_times(spans)[0], 50)

    def test_self_time_clips_children_to_parent(self):
        spans = [
            {"start": 0, "end": 100, "parent": -1},
            {"start": 90, "end": 130, "parent": 0},
        ]
        self.assertEqual(stats.self_times(spans)[0], 90)

    def test_commits_round_up_per_partition(self):
        self.assertEqual(stats.commits([250], 100), 3)
        self.assertEqual(stats.commits([200], 100), 2)
        self.assertEqual(stats.commits([1], 100), 1)
        self.assertEqual(stats.commits([250, 100, 99], 100), 3 + 1 + 1)

    def test_commits_skip_empty_partitions(self):
        self.assertEqual(stats.commits([0, 0, 150], 100), 2)
        self.assertEqual(stats.commits([], 100), 0)

    def test_commits_reject_zero_rows_per_commit(self):
        with self.assertRaises(ValueError):
            stats.commits([10], 0)


if __name__ == "__main__":
    unittest.main()
