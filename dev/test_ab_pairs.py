"""Tests of the A/B verdict rule in dev/ab_pairs.py.

    python3 -m unittest dev/test_ab_pairs.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ab_pairs import verdict  # noqa: E402


class VerdictTest(unittest.TestCase):

    def test_gain_needs_nine_of_ten_wins_and_a_gap_over_the_base_iqr(self):
        base = [100, 101, 102, 103, 104, 105, 106, 107, 108, 109]
        change = [90, 91, 92, 93, 94, 95, 96, 97, 98, 99]
        self.assertEqual(verdict(base, change, lower=True, bound=0.25), "gain")

    def test_nine_wins_with_a_gap_inside_the_base_iqr_is_no_gain(self):
        base = [100, 104, 108, 112, 116, 120, 124, 128, 132, 136]
        change = [x - 3 for x in base]  # wins 10 of 10 by 3, IQR is 18
        self.assertEqual(verdict(base, change, lower=True, bound=0.25), "unchanged")

    def test_eight_of_ten_wins_is_no_gain(self):
        base = [100] * 10
        change = [90] * 8 + [110, 110]
        self.assertEqual(verdict(base, change, lower=True, bound=0.25), "unchanged")

    def test_ties_count_for_neither_side(self):
        base = [1.2] * 10
        change = [0.86] * 9 + [1.2]  # 9 wins, one tie
        self.assertEqual(verdict(base, change, lower=True, bound=0.1), "gain")
        change = [0.86] * 8 + [1.2, 1.2]  # 8 wins, two ties
        self.assertEqual(verdict(base, change, lower=True, bound=0.1), "unchanged")

    def test_higher_is_better(self):
        base = [0.5] * 10
        self.assertEqual(verdict(base, [0.7] * 10, lower=False, bound=0.15), "gain")
        self.assertEqual(verdict(base, [0.3] * 10, lower=False, bound=0.15), "worse")

    def test_worse_when_the_median_exceeds_the_bound(self):
        base = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        change = [x * 1.3 for x in base]
        self.assertEqual(verdict(base, change, lower=True, bound=0.25), "worse")

    def test_a_loss_inside_the_bound_is_unchanged(self):
        base = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        change = [x * 1.1 for x in base]
        self.assertEqual(verdict(base, change, lower=True, bound=0.25), "unchanged")

    def test_unresolved_when_the_spread_is_wider_than_the_bound(self):
        base = [50, 150, 60, 140, 70, 130, 80, 120, 90, 110]
        change = [55, 145, 65, 135, 75, 125, 85, 115, 95, 105]
        self.assertEqual(verdict(base, change, lower=True, bound=0.25), "unresolved")

    def test_a_wide_spread_with_every_change_run_better_is_not_unresolved(self):
        base = [200, 300, 210, 290, 220, 280, 230, 270, 240, 260]
        change = [100, 190, 110, 180, 120, 170, 130, 160, 140, 150]
        self.assertEqual(verdict(base, change, lower=True, bound=0.1), "gain")
        # every change run better, but by less than the base IQR
        change = [199, 198, 197, 196, 199, 198, 197, 196, 199, 198]
        self.assertEqual(verdict(base, change, lower=True, bound=0.1), "unchanged")

    def test_zero_base_median(self):
        self.assertEqual(verdict([0.0] * 10, [0.0] * 10, lower=True, bound=0.25),
                         "unchanged")
        self.assertEqual(verdict([0.0] * 10, [0.5] * 10, lower=True, bound=0.25),
                         "worse")

    def test_a_metric_without_a_bound(self):
        base = [30, 31, 32, 33, 34, 35, 36, 37, 38, 39]
        self.assertEqual(verdict(base, [x + 20 for x in base], lower=True), "worse")
        self.assertEqual(verdict(base, [x - 20 for x in base], lower=True), "gain")
        self.assertEqual(verdict(base, [x + 1 for x in base], lower=True), "unchanged")

    def test_no_pairs(self):
        self.assertEqual(verdict([], [], lower=True, bound=0.25), "unresolved")


if __name__ == "__main__":
    unittest.main()
