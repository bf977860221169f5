"""Tests of the benchmark's summary helpers and the A/B rule:
python3 -m unittest perfbench/test_stats.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ab import verdict  # noqa: E402
from stats import iqr, median, self_times, tail  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_or_fewer_samples_have_no_tail(self):
        self.assertIsNone(tail([]))
        self.assertIsNone(tail(list(range(10))))

    def test_eleven_samples_tail_is_the_minimum(self):
        self.assertEqual(tail(list(range(11, 0, -1))), (1, 100.0 / 11, 11))

    def test_hundred_samples_tail_is_p90(self):
        value, pct, n = tail(list(range(100)))
        self.assertEqual((value, n), (89, 100))
        self.assertAlmostEqual(pct, 90.0)

    def test_exactly_ten_samples_lie_beyond(self):
        for n in (11, 37, 250, 1000):
            xs = [(k * 7919) % n for k in range(n)]  # a permutation of 0..n-1
            value, _, _ = tail(xs)
            self.assertEqual(sum(1 for x in xs if x > value), 10)


class SummaryTest(unittest.TestCase):
    def test_median_and_quartiles(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(iqr([1, 2, 3, 4, 5, 6, 7, 8]), (2.25, 6.75))

    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 0, "parent": -1, "start_ns": 0, "end_ns": 10_000_000},
            {"id": 1, "parent": 0, "start_ns": 1_000_000, "end_ns": 4_000_000},
            {"id": 2, "parent": 0, "start_ns": 5_000_000, "end_ns": 6_000_000},
            {"id": 3, "parent": 1, "start_ns": 2_000_000, "end_ns": 3_000_000},
        ]
        self.assertEqual(self_times(spans), {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0})


class VerdictTest(unittest.TestCase):
    parent = [100, 102, 98, 101, 99, 103, 97, 100, 101, 99]

    def test_nine_of_ten_wins_and_a_gap_beyond_the_parent_spread_is_a_gain(self):
        change = [p - 10 for p in self.parent[:9]] + [self.parent[9] + 1]
        self.assertEqual(verdict(self.parent, change, higher_better=False), (9, "gain"))

    def test_eight_wins_are_unresolved(self):
        change = [p - 10 for p in self.parent[:8]] + [p + 1 for p in self.parent[8:]]
        self.assertEqual(verdict(self.parent, change, higher_better=False), (8, "unresolved"))

    def test_consistent_wins_inside_the_parent_spread_are_unresolved(self):
        change = [p - 0.5 for p in self.parent]
        self.assertEqual(verdict(self.parent, change, higher_better=False), (10, "unresolved"))

    def test_losses_on_a_higher_is_better_metric(self):
        change = [p - 10 for p in self.parent]
        self.assertEqual(verdict(self.parent, change, higher_better=True), (0, "loss"))


if __name__ == "__main__":
    unittest.main()
