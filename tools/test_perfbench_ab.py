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


def traced(pair, side, metrics, workload="refresh", trace=True):
    return {"workload": workload, "pair": pair, "side": side, "trace": trace,
            "result": {"metrics": {k: {"value": v} for k, v in metrics.items()}}}


class LayerSummary(unittest.TestCase):
    DIRS = {"serve.refresh_batch.jobs": "lower", "serve.refresh_batch.wall_s": "lower"}

    def test_layer_selects_its_counters_only(self):
        names = ["serve.refresh_batch.jobs", "serve.refresh_batch.wall_s",
                 "serve.refresh.jobs", "serve.recs_table.jobs", "trace.overhead_ratio"]
        self.assertEqual(ab.layer_names(names, ["serve.refresh_batch"]),
                         ["serve.refresh_batch.jobs", "serve.refresh_batch.wall_s"])
        self.assertEqual(ab.layer_names(names, ["serve.refresh"]), ["serve.refresh.jobs"])
        self.assertEqual(ab.layer_names(names, ["trace.overhead_ratio", "serve.recs_table"]),
                         ["serve.recs_table.jobs", "trace.overhead_ratio"])

    def test_medians_and_wins_per_side(self):
        records = [traced(0, "A", {"serve.refresh_batch.jobs": 11.0}),
                   traced(0, "B", {"serve.refresh_batch.jobs": 9.0}),
                   traced(1, "B", {"serve.refresh_batch.jobs": 9.0}),
                   traced(1, "A", {"serve.refresh_batch.jobs": 12.0}),
                   traced(2, "A", {"serve.refresh_batch.jobs": 11.0}),
                   traced(2, "B", {"serve.refresh_batch.jobs": 11.0})]
        rows = ab.summarize_layers(records, ["serve.refresh_batch"], self.DIRS)
        self.assertEqual(len(rows), 1)
        r = rows[0]
        self.assertEqual((r["workload"], r["metric"], r["pairs"]),
                         ("refresh", "serve.refresh_batch.jobs", 3))
        self.assertEqual((r["a_median"], r["b_median"]), (11.0, 9.0))
        self.assertEqual(r["b_wins"], 2)  # the tie counts for neither side

    def test_untraced_and_half_pairs_are_left_out(self):
        records = [traced(0, "A", {"serve.refresh_batch.wall_s": 1.0}),
                   traced(0, "B", {"serve.refresh_batch.wall_s": 0.5}),
                   traced(1, "A", {"serve.refresh_batch.wall_s": 9.0}),
                   traced(2, "A", {"serve.refresh_batch.wall_s": 7.0}, trace=False),
                   traced(2, "B", {"serve.refresh_batch.wall_s": 7.0}, trace=False),
                   {"workload": "refresh", "pair": 3, "side": "B", "trace": True,
                    "result": None}]
        rows = ab.summarize_layers(records, ["serve.refresh_batch"], self.DIRS)
        self.assertEqual([(r["pairs"], r["a_median"], r["b_median"]) for r in rows],
                         [(1, 1.0, 0.5)])

    def test_unknown_direction_reports_no_wins(self):
        records = [traced(0, "A", {"serve.refresh_batch.users_put": 250.0}),
                   traced(0, "B", {"serve.refresh_batch.users_put": 251.0})]
        rows = ab.summarize_layers(records, ["serve.refresh_batch"], self.DIRS)
        self.assertIsNone(rows[0]["b_wins"])

    def test_workloads_are_kept_apart(self):
        records = [traced(0, "A", {"rank.eval.jobs": 12.0}, workload="nightly"),
                   traced(0, "B", {"rank.eval.jobs": 12.0}, workload="nightly"),
                   traced(0, "A", {"rank.eval.jobs": 0.0}),
                   traced(0, "B", {"rank.eval.jobs": 0.0})]
        rows = ab.summarize_layers(records, ["rank.eval"], {"rank.eval.jobs": "lower"})
        self.assertEqual([(r["workload"], r["a_median"]) for r in rows],
                         [("nightly", 12.0), ("refresh", 0.0)])


if __name__ == "__main__":
    unittest.main()
