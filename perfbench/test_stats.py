"""Tests of the benchmark's own helpers: python3 perfbench/test_stats.py"""
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fingerprint  # noqa: E402
import stats  # noqa: E402


class UnionTest(unittest.TestCase):
    def test_merges_overlapping_and_touching(self):
        self.assertEqual(stats.union([(5, 9), (0, 2), (1, 3), (3, 4)]), [(0, 4), (5, 9)])

    def test_drops_empty_intervals(self):
        self.assertEqual(stats.union([(2, 2), (3, 1)]), [])

    def test_length_counts_overlap_once(self):
        # two concurrent AQE jobs: summing durations would give 20
        self.assertEqual(stats.length([(0, 10), (5, 15)]), 15)

    def test_subtract(self):
        self.assertEqual(stats.subtract([(0, 10)], [(2, 3), (5, 12)]), [(0, 2), (3, 5)])
        self.assertEqual(stats.subtract([(0, 4)], []), [(0, 4)])
        self.assertEqual(stats.subtract([(0, 4)], [(-1, 5)]), [])


class SelfTimeTest(unittest.TestCase):
    def test_partition_of_wall_time(self):
        spans = {"ops.build": [(0, 30)],
                 "catalyst.analysis": [(5, 10)],
                 "catalyst.planning": [(32, 35)],
                 "scheduler.job_self": [(20, 60), (40, 80)],
                 "executor.stage": [(25, 50), (45, 70)]}
        t = stats.self_times(spans, 0, 100)
        self.assertEqual(t["executor.stage"], 45)
        self.assertEqual(t["scheduler.job_self"], 15)  # [20,25) + [70,80)
        self.assertEqual(t["catalyst.planning"], 0)    # inside a job
        self.assertEqual(t["catalyst.analysis"], 5)
        self.assertEqual(t["ops.build"], 15)           # [0,5) + [10,20)
        self.assertEqual(t["driver.residue"], 20)      # [80,100)
        self.assertEqual(sum(t.values()), 100)

    def test_overlapping_jobs_never_go_negative(self):
        spans = {"scheduler.job_self": [(0, 10), (0, 10), (5, 10)],
                 "executor.stage": [(0, 10), (1, 9)]}
        t = stats.self_times(spans, 0, 10)
        self.assertTrue(all(v >= 0 for v in t.values()))
        self.assertEqual(sum(t.values()), 10)

    def test_spans_outside_the_op_are_clipped(self):
        t = stats.self_times({"scheduler.job_self": [(-5, 3), (8, 20)]}, 0, 10)
        self.assertEqual(t["scheduler.job_self"], 5)
        self.assertEqual(t["driver.residue"], 5)


class PercentileTest(unittest.TestCase):
    def test_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0), 1)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 100), 4)
        self.assertAlmostEqual(stats.percentile(list(range(101)), 90), 90)

    def test_single_value(self):
        self.assertEqual(stats.median([7.5]), 7.5)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_percentile_keeps_ten_beyond(self):
        self.assertAlmostEqual(stats.tail_percentile(10000), 99.9)
        self.assertAlmostEqual(stats.tail_percentile(100), 90.0)
        self.assertAlmostEqual(stats.tail_percentile(30), 100 * 2 / 3)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(4), 50.0)


class FailRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.fail_ratio(0, 40), 0.0)
        self.assertEqual(stats.fail_ratio(1, 4), 0.25)

    def test_rejects_impossible_counts(self):
        for failed, attempted in ((1, 0), (5, 4), (-1, 3)):
            with self.assertRaises(ValueError):
                stats.fail_ratio(failed, attempted)


class FingerprintTest(unittest.TestCase):
    def test_order_insensitive_and_value_sensitive(self):
        a = fingerprint.of(pd.DataFrame({"b": [1, 2, 2], "a": ["x", "y", "y"]}))
        b = fingerprint.of(pd.DataFrame({"a": ["y", "x", "y"], "b": [2, 1, 2]}))
        c = fingerprint.of(pd.DataFrame({"a": ["y", "x", "y"], "b": [2, 1, 3]}))
        self.assertEqual(a, b)
        self.assertNotEqual(a["hash"], c["hash"])

    def test_exact_values_and_dtypes(self):
        a = fingerprint.of(pd.DataFrame({"v": [0.1, 0.2]}))
        ulp = fingerprint.of(pd.DataFrame({"v": [0.1, 0.20000000000000004]}))
        ints = fingerprint.of(pd.DataFrame({"v": [1, 2]}))
        floats = fingerprint.of(pd.DataFrame({"v": [1.0, 2.0]}))
        self.assertNotEqual(a["hash"], ulp["hash"])
        self.assertNotEqual(ints, floats)


if __name__ == "__main__":
    unittest.main()
