"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import benchstats as bs


class TailTest(unittest.TestCase):
    def test_requested_percentile_when_enough_samples_lie_above(self):
        values = list(range(1, 201))  # p90 rank 180 leaves 20 above
        self.assertEqual(bs.tail(values, 0.90), (180, 90.0, 200))

    def test_lowered_until_ten_samples_lie_above(self):
        values = list(range(1, 51))  # p95 would leave 2 above; rank 40 leaves 10
        value, pct, n = bs.tail(values, 0.95)
        self.assertEqual((value, n), (40, 50))
        self.assertAlmostEqual(pct, 80.0)
        self.assertEqual(sum(1 for v in values if v > value), bs.TAIL_MARGIN)

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(bs.tail([5, 1, 4, 2, 3] * 10, 0.9), bs.tail(sorted([5, 1, 4, 2, 3] * 10), 0.9))

    def test_none_when_not_even_the_median_has_ten_above(self):
        self.assertIsNone(bs.tail(list(range(19)), 0.9))
        self.assertIsNone(bs.tail([], 0.5))

    def test_twenty_samples_support_exactly_the_median(self):
        self.assertEqual(bs.tail(list(range(1, 21)), 0.99), (10, 50.0, 20))


class FailedFracTest(unittest.TestCase):
    def test_counts_errors_and_failed_checks_against_attempts(self):
        ops = [{"error": None}, {"error": "raised"}, {"error": "check: 3 rows, oracle has 4"}, {"error": ""}]
        self.assertEqual(bs.failed_frac(ops), 0.5)

    def test_no_attempts_is_an_error_not_a_zero(self):
        with self.assertRaises(ValueError):
            bs.failed_frac([])


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [(1, 0, 1, "op", 0, 100), (2, 1, 1, "build", 0, 30), (3, 1, 1, "exec", 30, 90),
                 (4, 3, 1, "plan.planning", 35, 45)]
        self.assertEqual(bs.self_times(spans), {1: 10, 2: 30, 3: 50, 4: 10})

    def test_overlapping_and_overhanging_children_count_their_union_inside_the_parent(self):
        spans = [(1, 0, 1, "op", 10, 100), (2, 1, 1, "a", 0, 40), (3, 1, 1, "b", 30, 60)]
        self.assertEqual(bs.self_times(spans)[1], 90 - 50)

    def test_tree_aggregates_by_name_path(self):
        spans = [(1, 0, 1, "op", 0, 100), (2, 1, 1, "exec", 10, 90), (3, 0, 2, "op", 100, 150)]
        self.assertEqual(bs.span_tree(spans), {"op": [2, 150, 70], "op/exec": [1, 80, 80]})


class PassTest(unittest.TestCase):
    def test_per_pass_sums_each_kinds_median(self):
        self.assertEqual(bs.per_pass({"a": [1, 2, 9], "b": [10, 30], "c": []}), 2 + 20)

    def test_geomean(self):
        self.assertAlmostEqual(bs.geomean([1, 100]), 10)


class AgreeTest(unittest.TestCase):
    steady = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(bs.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), (8.25 - 2.75) / 5.5)

    def test_same_code_within_bound_agrees(self):
        self.assertTrue(bs.agree(self.steady, [v * 1.05 for v in self.steady], 0.10))

    def test_worse_than_the_bound_disagrees(self):
        self.assertFalse(bs.agree(self.steady, [v * 1.2 for v in self.steady], 0.10))

    def test_either_set_may_be_the_baseline(self):
        # 1.04 against 1.31 is within 0.24 one way (-21%) but not the other (+26%).
        low, high = [1.04 * v for v in self.steady], [1.31 * v for v in self.steady]
        self.assertAlmostEqual(bs.worse_by(high, low, "lower"), 1.04 / 1.31 - 1)
        self.assertFalse(bs.agree(high, low, 0.24))
        self.assertFalse(bs.agree(low, high, 0.24))
        self.assertTrue(bs.agree(low, high, 0.27))

    def test_a_spread_wider_than_the_bound_disagrees(self):
        noisy = [50, 150, 60, 140, 100, 100, 70, 130, 90, 110]
        self.assertFalse(bs.agree(self.steady, noisy, 0.10))
        self.assertFalse(bs.agree(noisy, self.steady, 0.10))

    def test_worse_by_follows_better(self):
        self.assertAlmostEqual(bs.worse_by(self.steady, [v * 1.2 for v in self.steady], "lower"), 0.2)
        self.assertAlmostEqual(bs.worse_by(self.steady, [v * 1.2 for v in self.steady], "higher"), -0.2)

if __name__ == "__main__":
    unittest.main()
