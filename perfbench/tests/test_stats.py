"""Unit tests of the benchmark's own statistics and digest logic.

    python3 -m unittest discover -s perfbench/tests
"""

import datetime
import decimal
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import compare  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 75), 3.25)

    def test_median_matches_statistics(self):
        xs = [0.3, 0.1, 0.7, 0.2, 0.9]
        self.assertAlmostEqual(stats.percentile(xs, 50), statistics.median(xs))

    def test_single_value(self):
        self.assertEqual(stats.percentile([2.0], 90), 2.0)

    def test_rejects_empty_and_out_of_range(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1.0], 101)


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 8.0, 6.0, 7.0, 9.0, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_single_value_is_its_own_quartiles(self):
        self.assertEqual(stats.quartiles([3.0]), (3.0, 3.0, 3.0))

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)
        self.assertEqual(stats.spread([2.0, 2.0, 2.0]), 0.0)


class PairWinTest(unittest.TestCase):
    def test_lower_is_better(self):
        self.assertEqual(stats.pair_wins([2, 2, 2, 2], [1, 1, 3, 1]), 0.75)

    def test_higher_is_better(self):
        self.assertEqual(stats.pair_wins([2, 2], [3, 1], lower_is_better=False), 0.5)

    def test_ties_count_for_neither_side(self):
        self.assertEqual(stats.pair_wins([1, 1, 1, 1], [1, 1, 0, 0]), 0.5)

    def test_no_pairs(self):
        self.assertIsNone(stats.pair_wins([], []))


class TracedRatioTest(unittest.TestCase):
    def test_pass_speed_cancels(self):
        # pass 1 runs twice as fast as pass 0; tracing costs 10%
        samples = []
        for name, cost, traced_pass in [("a", 1.0, 0), ("b", 3.0, 1),
                                        ("c", 2.0, 0), ("d", 5.0, 1), ("e", 4.0, 1)]:
            for p in (0, 1):
                t = p == traced_pass
                samples.append((name, p, t, cost / (1 + p) * (1.1 if t else 1.0)))
        ratio, n = stats.traced_ratio(samples)
        self.assertAlmostEqual(ratio, 0.1)
        self.assertEqual(n, 5)

    def test_same_pass_samples_compare_directly(self):
        ratio, n = stats.traced_ratio([("a", 0, True, 1.2), ("a", 0, False, 1.0)])
        self.assertAlmostEqual(ratio, 0.2)
        self.assertEqual(n, 1)

    def test_names_of_one_kind_only_are_left_out(self):
        self.assertEqual(stats.traced_ratio([("a", 0, True, 1.0), ("b", 1, False, 2.0)]),
                         (0.0, 0))


class VerdictTest(unittest.TestCase):
    base = [1.00, 1.01, 0.99, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00, 1.02]

    def test_clear_win_is_improved(self):
        change = [x * 0.8 for x in self.base]
        pairs = list(zip(self.base, change))
        self.assertEqual(compare.verdict(self.base, change, 0.1, pairs=pairs)[0],
                         "improved")

    def test_no_gain_is_claimed_without_pairs(self):
        change = [x * 0.8 for x in self.base]
        self.assertEqual(compare.verdict(self.base, change, 0.1)[0], "same")

    def test_worse_than_bound_is_regressed(self):
        change = [x * 1.2 for x in self.base]
        self.assertEqual(compare.verdict(self.base, change, 0.1)[0], "regressed")

    def test_noise_within_bound_is_same(self):
        change = list(reversed(self.base))
        self.assertEqual(compare.verdict(self.base, change, 0.1)[0], "same")

    def test_wide_spread_is_unresolved(self):
        noisy = [0.5, 1.5, 0.6, 1.4, 0.7, 1.3, 1.0, 1.0, 0.8, 1.2]
        change = [x * 0.95 for x in noisy]
        self.assertEqual(compare.verdict(noisy, change, 0.1)[0], "unresolved")


class RunSetTest(unittest.TestCase):
    def report(self, seed, value):
        return {"seed": seed, "metrics": {"wall_s": {"value": value}}}

    def test_repeated_seed_keeps_every_run(self):
        runs = [self.report(1, 1.0), self.report(2, 2.0), self.report(1, 3.0)]
        self.assertEqual(compare.values(runs, "wall_s"), [(1, 1.0), (2, 2.0), (1, 3.0)])
        self.assertEqual(compare.values(runs, "setup_s"), [])

    def test_pairs_match_seeds_in_run_order(self):
        base = [(1, 1.0), (2, 2.0), (1, 3.0), (4, 4.0)]
        change = [(2, 20.0), (1, 10.0), (1, 30.0), (1, 50.0), (5, 5.0)]
        self.assertEqual(sorted(compare.seed_pairs(base, change)),
                         [(1.0, 10.0), (2.0, 20.0), (3.0, 30.0)])


class DigestTest(unittest.TestCase):
    cols = ["b", "a"]
    rows = [(1, "x"), (2, None), (3, "z")]

    def test_row_order_does_not_matter(self):
        self.assertEqual(stats.digest(self.cols, self.rows),
                         stats.digest(self.cols, list(reversed(self.rows))))

    def test_column_order_does_not_matter(self):
        swapped = [(a, b) for b, a in self.rows]
        self.assertEqual(stats.digest(self.cols, self.rows),
                         stats.digest(["a", "b"], swapped))

    def test_value_and_count_changes_are_seen(self):
        d = stats.digest(self.cols, self.rows)
        self.assertNotEqual(d, stats.digest(self.cols, [(1, "x"), (2, None), (3, "y")]))
        self.assertNotEqual(d, stats.digest(self.cols, self.rows + [(1, "x")]))
        self.assertEqual(d["rows"], 3)

    def test_column_names_are_part_of_the_digest(self):
        self.assertNotEqual(stats.digest(["a", "b"], self.rows),
                            stats.digest(["a", "c"], self.rows))

    def test_canonical_values_follow_str(self):
        # the oracle check compares str() of what pyarrow and DuckDB return;
        # an int and the same number as a float stay different
        self.assertEqual(stats.canonical_value(123), "123")
        self.assertEqual(stats.canonical_value(123.0), "123.0")
        self.assertEqual(stats.canonical_value(None), "None")
        self.assertEqual(stats.canonical_value(True), "True")
        self.assertEqual(stats.canonical_value([1, 2]), "[1, 2]")
        self.assertEqual(stats.canonical_value(decimal.Decimal("1.50")), "1.50")
        self.assertEqual(stats.canonical_value(datetime.date(2024, 1, 31)), "2024-01-31")

    def test_canonical_rows_sorts_columns_then_rows(self):
        self.assertEqual(stats.canonical_rows(["b", "a"], [(2, "y"), (1, "x")]),
                         [("x", "1"), ("y", "2")])


if __name__ == "__main__":
    unittest.main()
