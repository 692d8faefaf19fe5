#!/usr/bin/env python3
"""Tests for the decision rules of perfbench_ab.py.

Run from the repo root:  python3 tools/test_perfbench_ab.py
Exit 0 = every rule behaves.
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perfbench_ab as ab  # noqa: E402


class ClaimRule(unittest.TestCase):
    A = [30.0, 31.0, 29.5, 30.5, 30.2, 29.8, 31.2, 30.1, 29.9, 30.4]

    def test_clear_gain_passes(self):
        b = [a - 3.0 for a in self.A]
        v = ab.claim_verdict(self.A, b, "lower")
        self.assertTrue(v["pass"], v)
        self.assertEqual((v["won"], v["pairs"]), (10, 10))

    def test_nine_of_ten_is_enough(self):
        b = [a - 3.0 for a in self.A]
        b[4] = self.A[4] + 1.0
        v = ab.claim_verdict(self.A, b, "lower")
        self.assertTrue(v["pass"], v)
        self.assertEqual(v["won"], 9)

    def test_eight_of_ten_fails(self):
        b = [a - 3.0 for a in self.A]
        b[0] = self.A[0] + 1.0
        b[1] = self.A[1] + 1.0
        v = ab.claim_verdict(self.A, b, "lower")
        self.assertFalse(v["pass"])
        self.assertIn("won 8/10", v["reasons"][0])

    def test_ties_count_for_neither_side(self):
        b = [a - 3.0 for a in self.A]
        b[0] = self.A[0]
        b[1] = self.A[1]
        v = ab.claim_verdict(self.A, b, "lower")
        self.assertEqual(v["won"], 8)
        self.assertFalse(v["pass"])

    def test_gain_within_parent_iqr_fails(self):
        # every pair won, but by less than the parent's own spread
        b = [a - 0.01 for a in self.A]
        v = ab.claim_verdict(self.A, b, "lower")
        self.assertEqual(v["won"], 10)
        self.assertFalse(v["pass"])
        self.assertIn("not above parent IQR", v["reasons"][0])

    def test_fewer_than_ten_pairs_fails(self):
        v = ab.claim_verdict(self.A[:6], [a - 3.0 for a in self.A[:6]], "lower")
        self.assertFalse(v["pass"])
        self.assertIn("only 6 pairs", v["reasons"][0])

    def test_higher_is_better(self):
        a = [100.0 + i for i in range(10)]
        v = ab.claim_verdict(a, [x + 20.0 for x in a], "higher")
        self.assertTrue(v["pass"], v)
        v = ab.claim_verdict(a, [x - 20.0 for x in a], "higher")
        self.assertFalse(v["pass"])
        self.assertEqual(v["won"], 0)


class RegressionRule(unittest.TestCase):
    def test_within_bound_is_ok(self):
        a = [10.0, 10.1, 9.9, 10.0]
        self.assertEqual(ab.regression_verdict(a, [11.0, 11.1, 10.9, 11.0], "lower", 0.25),
                         "ok")

    def test_past_bound_regresses(self):
        a = [10.0, 10.1, 9.9, 10.0]
        self.assertEqual(ab.regression_verdict(a, [13.0, 13.1, 12.9, 13.0], "lower", 0.25),
                         "regressed")
        self.assertEqual(ab.regression_verdict(a, [7.0, 7.1, 6.9, 7.0], "higher", 0.25),
                         "regressed")

    def test_wide_parent_spread_is_unresolved(self):
        a = [10.0, 20.0, 10.0, 20.0]
        self.assertEqual(ab.regression_verdict(a, [15.0, 14.0, 16.0, 15.0], "lower", 0.1),
                         "unresolved")

    def test_wide_spread_but_separated_is_ok(self):
        a = [10.0, 20.0, 10.0, 20.0]
        self.assertEqual(ab.regression_verdict(a, [5.0, 6.0, 5.5, 6.0], "lower", 0.1), "ok")


class Quartiles(unittest.TestCase):
    def test_quartiles(self):
        self.assertEqual(ab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (2.0, 3.0, 4.0))
        self.assertEqual(ab.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_pairing_drops_half_pairs(self):
        def rec(pair, side, v):
            return {"workload": "w", "pair": pair, "side": side,
                    "result": {"metrics": {"m": {"value": v}}}}
        records = [rec(0, "A", 1.0), rec(0, "B", 2.0), rec(1, "B", 3.0),
                   rec(2, "B", 5.0), rec(2, "A", 4.0)]
        self.assertEqual(ab.paired(records, "w", "m"), ([1.0, 4.0], [2.0, 5.0]))


if __name__ == "__main__":
    unittest.main()
