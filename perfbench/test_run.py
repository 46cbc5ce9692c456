"""Tests of the benchmark's own reductions.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

from expected import fingerprint
from run import union_ms


class UnionTest(unittest.TestCase):
    def test_nested_jobs_count_once(self):
        self.assertEqual(union_ms([(0, 100), (10, 50), (20, 30)], 0, 100), 100)

    def test_overlapping_jobs_count_once(self):
        self.assertEqual(union_ms([(0, 60), (40, 100), (90, 130)], 0, 200), 130)

    def test_disjoint_jobs_leave_gaps(self):
        self.assertEqual(union_ms([(10, 20), (50, 70)], 0, 100), 30)

    def test_clipped_to_query_window(self):
        self.assertEqual(union_ms([(-50, 20), (90, 400)], 0, 100), 30)

    def test_driver_gap_never_negative(self):
        # Four concurrent 1 s jobs inside a 1.2 s query: summed durations
        # (4 s) would give a -2.8 s gap; the union gives 0.2 s.
        jobs = [(100, 1100), (100, 1100), (150, 1150), (200, 1200)]
        gap = 1200 - union_ms(jobs, 0, 1200)
        self.assertEqual(gap, 100)

    def test_no_jobs(self):
        self.assertEqual(union_ms([], 0, 100), 0)


class FingerprintTest(unittest.TestCase):
    def test_row_order_and_column_order_do_not_matter(self):
        a = fingerprint(["b", "a"], [(1, "x"), (2, "y")])
        b = fingerprint(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)

    def test_duplicates_count(self):
        self.assertNotEqual(fingerprint(["a"], [(1,)]), fingerprint(["a"], [(1,), (1,)]))

    def test_last_ulp_differences_are_absorbed(self):
        self.assertEqual(fingerprint(["a"], [(0.1 + 0.2,)]), fingerprint(["a"], [(0.3,)]))
        self.assertNotEqual(fingerprint(["a"], [(0.3,)]), fingerprint(["a"], [(0.3001,)]))

    def test_integral_values_match_across_numeric_types(self):
        from decimal import Decimal
        self.assertEqual(fingerprint(["a"], [(3,)]), fingerprint(["a"], [(3.0,)]))
        self.assertEqual(fingerprint(["a"], [(3,)]), fingerprint(["a"], [(Decimal("3.00"),)]))


if __name__ == "__main__":
    unittest.main()
