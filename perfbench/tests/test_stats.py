"""Tests of the tail-percentile rule and the operation accounting.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import stats  # noqa: E402


class TailRuleTest(unittest.TestCase):

    def test_leaves_ten_samples_beyond_the_tail(self):
        for n in (21, 30, 50, 100, 500, 1000, 10000):
            p = stats.tail_rule(n)
            self.assertAlmostEqual(n * (100.0 - p) / 100.0, stats.TAIL_BEYOND)

    def test_is_the_highest_such_percentile(self):
        # any higher percentile leaves fewer than ten samples beyond it
        for n in (21, 100, 1000):
            p = stats.tail_rule(n) + 0.01
            self.assertLess(n * (100.0 - p) / 100.0, stats.TAIL_BEYOND)

    def test_few_samples_fall_back_to_the_median(self):
        for n in (1, 2, 10, 20):
            self.assertEqual(stats.tail_rule(n), 50.0)

    def test_tail_value(self):
        values = list(range(1, 101))  # 100 samples: p90
        p, v = stats.tail(values)
        self.assertAlmostEqual(p, 90.0)
        self.assertAlmostEqual(v, stats.percentile(values, 90.0))
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([7], 99), 7)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class AccountingTest(unittest.TestCase):

    def result(self, ops):
        return {"ops": ops}

    def test_thrown_and_wrong_queries_fail_and_are_never_timed(self):
        ops = [
            {"kind": "query", "name": "q_ok", "seconds": 1.0, "error": None, "rows": 5},
            {"kind": "query", "name": "q_throws", "seconds": 9.0,
             "error": "java.lang.IllegalStateException: boom", "rows": -1},
            {"kind": "query", "name": "q_wrong", "seconds": 7.0, "error": None, "rows": 146},
        ]
        expected = {"q_ok": 5, "q_throws": 3, "q_wrong": 10}
        ledger, by_kind = run.account(self.result(ops), expected)
        self.assertEqual(ledger.attempted, 3)
        self.assertEqual(ledger.failed, 2)
        self.assertAlmostEqual(ledger.failed_share, 2 / 3)
        self.assertEqual(by_kind, {"query": [1.0]})
        self.assertEqual(sorted(n for n, _ in ledger.failures), ["q_throws", "q_wrong"])

    def test_query_without_expected_count_fails(self):
        ops = [{"kind": "query", "name": "q_new", "seconds": 1.0, "error": None, "rows": 1}]
        ledger, by_kind = run.account(self.result(ops), {})
        self.assertEqual((ledger.attempted, ledger.failed), (1, 1))
        self.assertEqual(by_kind, {})

    def test_cdc_operations(self):
        ops = [
            {"kind": "batch", "name": "0", "seconds": 2.0, "error": None},
            {"kind": "batch", "name": "1", "seconds": 3.0,
             "error": "batch 1 dead/late/logged (1,0,9), planned (0,0,10)"},
            {"kind": "lookup", "name": "public.t0:3", "seconds": 0.1, "error": None},
        ]
        ledger, by_kind = run.account(self.result(ops), {})
        self.assertEqual((ledger.attempted, ledger.failed), (3, 1))
        self.assertEqual(by_kind, {"batch": [2.0], "lookup": [0.1]})

    def test_empty_ledger(self):
        self.assertEqual(stats.Ledger().failed_share, 0.0)


if __name__ == "__main__":
    unittest.main()
