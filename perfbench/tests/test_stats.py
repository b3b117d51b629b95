"""Tests of the benchmark's statistics and span self time.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


def span(name, parent, start, end, pss=0):
    return {"name": name, "parent": parent, "pass": pss, "start_s": start, "end_s": end}


class MedianQuartiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        vals = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q1, q2, q3 = stats.quartiles(vals)
        self.assertEqual([q1, q2, q3], statistics.quantiles(vals, n=4))
        self.assertEqual(q2, stats.median(vals))

    def test_quartiles_of_one_value(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))

    def test_spread_is_iqr_over_median(self):
        vals = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / q2)
        self.assertEqual(stats.spread([7.0] * 10), 0.0)


class SelfTime(unittest.TestCase):
    def selfs(self, spans):
        return {(n, p): s for n, p, s in stats.self_times(spans)}

    def test_leaf_self_time_is_its_duration(self):
        got = self.selfs([span("a", "", 1.0, 3.5)])
        self.assertAlmostEqual(got[("a", 0)], 2.5)

    def test_parent_minus_disjoint_children(self):
        got = self.selfs([
            span("pass", "", 0.0, 10.0),
            span("x", "pass", 1.0, 3.0),
            span("y", "pass", 5.0, 9.0)])
        self.assertAlmostEqual(got[("pass", 0)], 4.0)
        self.assertAlmostEqual(got[("x", 0)], 2.0)
        self.assertAlmostEqual(got[("y", 0)], 4.0)

    def test_overlapping_children_count_once(self):
        got = self.selfs([
            span("pass", "", 0.0, 10.0),
            span("x", "pass", 1.0, 6.0),
            span("y", "pass", 4.0, 8.0),
            span("z", "pass", 5.0, 7.0)])
        self.assertAlmostEqual(got[("pass", 0)], 3.0)

    def test_children_clipped_to_parent(self):
        got = self.selfs([
            span("pass", "", 2.0, 6.0),
            span("x", "pass", 0.0, 3.0),
            span("y", "pass", 5.0, 9.0)])
        self.assertAlmostEqual(got[("pass", 0)], 2.0)

    def test_passes_do_not_mix(self):
        got = self.selfs([
            span("pass", "", 0.0, 10.0, pss=0),
            span("x", "pass", 0.0, 10.0, pss=1),
            span("pass", "", 0.0, 10.0, pss=1)])
        self.assertAlmostEqual(got[("pass", 0)], 10.0)
        self.assertAlmostEqual(got[("pass", 1)], 0.0)

    def test_nested_grandchildren_only_reduce_their_parent(self):
        got = self.selfs([
            span("pass", "", 0.0, 10.0),
            span("x", "pass", 0.0, 6.0),
            span("x.inner", "x", 1.0, 5.0)])
        self.assertAlmostEqual(got[("pass", 0)], 4.0)
        self.assertAlmostEqual(got[("x", 0)], 2.0)
        self.assertAlmostEqual(got[("x.inner", 0)], 4.0)


if __name__ == "__main__":
    unittest.main()
