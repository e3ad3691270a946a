"""Self-tests of the benchmark's metric helpers on fixed synthetic inputs.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(stats.percentile([1, 2, 3, 4, 5], 0.9), 4.6)
        self.assertEqual(stats.percentile([7], 0.99), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_level(19))
        self.assertEqual(stats.tail_level(20), 0.5)
        self.assertEqual(stats.tail_level(39), 0.5)
        self.assertEqual(stats.tail_level(40), 0.75)
        self.assertEqual(stats.tail_level(99), 0.75)
        self.assertEqual(stats.tail_level(100), 0.9)
        self.assertEqual(stats.tail_level(200), 0.95)
        self.assertEqual(stats.tail_level(1000), 0.99)

    def test_summary_states_sample_count(self):
        s = stats.summarize([float(i) for i in range(1, 101)])
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["p50"], 50.5)
        self.assertEqual(s["tail_level"], 0.9)
        self.assertAlmostEqual(s["tail"], 90.1)
        self.assertGreaterEqual(sum(1 for i in range(1, 101) if i > s["tail"]), 10)
        few = stats.summarize([1.0, 2.0, 3.0])
        self.assertEqual((few["n"], few["p50"], few["tail"]), (3, 2.0, None))


class DriverGap(unittest.TestCase):
    def test_union_counts_overlaps_once(self):
        self.assertEqual(stats.interval_union([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.interval_union([(1, 2), (0, 10)]), 10)
        self.assertEqual(stats.interval_union([]), 0)

    def test_union_clips_and_skips_bad_intervals(self):
        nan = float("nan")
        self.assertEqual(stats.interval_union([(-5, 1), (9, 20)], 0, 10), 2)
        self.assertEqual(stats.interval_union([(3, 2), (nan, 4), (1, nan)]), 0)

    def test_merge_gives_disjoint_sorted_intervals(self):
        self.assertEqual(stats.merge_intervals([(5, 6), (0, 2), (1, 3), (3, 4)]),
                         [(0, 4), (5, 6)])

    def test_gap_is_wall_minus_job_cover(self):
        # op 0..10 s; jobs 1..3 and 2..4 overlap, 8..12 runs past the op
        self.assertEqual(stats.driver_gap(0, 10, [(1, 3), (2, 4), (8, 12)]), 5)
        self.assertEqual(stats.driver_gap(0, 10, []), 10)
        self.assertEqual(stats.driver_gap(0, 10, [(0, 10)]), 0)


class StorageRatio(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.storage_ratio(250, 1000), 0.25)
        with self.assertRaises(ValueError):
            stats.storage_ratio(10, 0)


class BoundComparison(unittest.TestCase):
    def test_lower_is_better(self):
        worse, bad = stats.regression([1.0, 1.0, 1.0], [1.05, 1.05, 1.05], "lower", 0.1)
        self.assertAlmostEqual(worse, 0.05)
        self.assertFalse(bad)
        worse, bad = stats.regression([1.0, 1.0, 1.0], [1.2, 1.2, 1.3], "lower", 0.1)
        self.assertAlmostEqual(worse, 0.2)
        self.assertTrue(bad)

    def test_higher_is_better(self):
        worse, bad = stats.regression([10.0, 10.0], [8.0, 8.0], "higher", 0.1)
        self.assertAlmostEqual(worse, 0.2)
        self.assertTrue(bad)
        worse, bad = stats.regression([10.0, 10.0], [12.0, 12.0], "higher", 0.1)
        self.assertAlmostEqual(worse, -0.2)
        self.assertFalse(bad)

    def test_uses_medians(self):
        # one wild run does not move the median
        _, bad = stats.regression([1.0, 1.0, 1.0], [1.0, 1.0, 9.0], "lower", 0.1)
        self.assertFalse(bad)

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]), 3.0 / 3.0)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "name": "op", "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "name": "build", "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "name": "write", "start": 3.0, "end": 6.0},
            {"id": 4, "parent": 2, "name": "job", "start": 2.0, "end": 3.0},
        ]
        self.assertEqual(stats.self_times(spans),
                         {"op": 5.0, "build": 2.0, "write": 3.0, "job": 1.0})


if __name__ == "__main__":
    unittest.main()
