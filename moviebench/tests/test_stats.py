"""Tests of the benchmark's statistics.

Run from the root of the checkout:
  python3 -m unittest discover -s moviebench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(range(10)))
        # 11 samples: only the lowest has ten beyond it.
        self.assertEqual(stats.tail(range(11)), (100.0 / 11, 0))

    def test_p90_at_one_hundred_samples(self):
        xs = list(range(1, 101))
        pct, value = stats.tail(reversed(xs))
        self.assertEqual(pct, 90.0)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_twenty_samples_give_the_median_rank(self):
        pct, value = stats.tail(range(20))
        self.assertEqual(pct, 50.0)
        self.assertEqual(value, 9)


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 0.8, 1.0, 1.02, 0.98]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / statistics.median(xs))

    def test_constant_values_do_not_spread(self):
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


class VerdictTest(unittest.TestCase):
    steady = [1.00, 1.01, 0.99, 1.00, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00]

    def test_unresolved_when_spread_exceeds_bound(self):
        noisy = [0.7, 1.3, 0.8, 1.2, 1.0, 0.6, 1.4, 1.0, 0.9, 1.1]
        self.assertGreater(stats.spread(noisy), 0.1)
        self.assertEqual(stats.verdict(self.steady, noisy, 0.1, "lower"), "unresolved")
        self.assertEqual(stats.verdict(noisy, self.steady, 0.1, "lower"), "unresolved")

    def test_wide_spread_resolves_when_every_change_run_is_better(self):
        parent = [2.0, 2.6, 2.2, 3.0, 2.1, 2.8, 2.4, 2.9, 2.3, 2.5]
        change = [x / 2 for x in parent]
        self.assertGreater(stats.spread(parent), 0.1)
        self.assertEqual(stats.verdict(parent, change, 0.1, "lower"), "improved")

    def test_regressed_beyond_bound(self):
        slower = [x * 1.2 for x in self.steady]
        self.assertEqual(stats.verdict(self.steady, slower, 0.1, "lower"), "regressed")
        self.assertEqual(stats.verdict(self.steady, slower, 0.25, "lower"), "unchanged")

    def test_higher_is_better_flips_the_sign(self):
        lower = [x * 0.8 for x in self.steady]
        self.assertEqual(stats.verdict(self.steady, lower, 0.1, "higher"), "regressed")

    def test_same_runs_are_unchanged(self):
        self.assertEqual(stats.verdict(self.steady, self.steady, 0.1, "lower"), "unchanged")


class WinsTest(unittest.TestCase):
    def test_ties_count_for_neither_side(self):
        pairs = [(1.0, 0.9), (1.0, 1.0), (1.0, 1.1), (2.0, 1.0)]
        self.assertEqual(stats.wins(pairs, "lower"), 2)
        self.assertEqual(stats.wins(pairs, "higher"), 1)

    def test_gain_needs_nine_of_ten_pairs(self):
        parent = [1.0, 1.01, 0.99, 1.0, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0]
        nine = [0.9] * 9 + [1.05]
        eight = [0.9] * 8 + [1.05, 1.05]
        self.assertEqual(stats.wins(list(zip(parent, nine)), "lower"), 9)
        self.assertEqual(stats.verdict(parent, nine, 0.25, "lower"), "improved")
        self.assertEqual(stats.wins(list(zip(parent, eight)), "lower"), 8)
        self.assertEqual(stats.verdict(parent, eight, 0.25, "lower"), "unchanged")

    def test_gain_needs_medians_apart_by_more_than_parent_iqr(self):
        parent = [1.0, 1.1, 0.9, 1.05, 0.95, 1.0, 1.1, 0.9, 1.05, 0.95]
        change = [x - 0.01 for x in parent]
        self.assertLess(stats.spread(parent), 0.25)
        self.assertEqual(stats.wins(list(zip(parent, change)), "lower"), 10)
        self.assertEqual(stats.verdict(parent, change, 0.25, "lower"), "unchanged")


class FingerprintTest(unittest.TestCase):
    def test_code_fields_may_differ_host_fields_may_not(self):
        a = {"cpus": 4, "heap": "7g", "commit": "abc", "source_digest": "1"}
        self.assertEqual(stats.fingerprint_mismatch(a, dict(a, commit="def", source_digest="2")), [])
        self.assertEqual(stats.fingerprint_mismatch(a, dict(a, cpus=32, heap="8g")), ["cpus", "heap"])


if __name__ == "__main__":
    unittest.main()
