"""Each correctness checker must fail on a planted wrong row, a missing
row and a mis-ordered top-k, and pass the unchanged result.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402


class RowsEqualTest(unittest.TestCase):
    exp = [("CMS", 3, 1.25), ("DEA", 5, 2.5), ("EPA", 1, None)]

    def test_same_rows_in_any_order_pass(self):
        got = [["DEA", 5, 2.5], ["EPA", 1, None], ["CMS", 3, 1.25 + 1e-12]]
        self.assertIsNone(checks.rows_equal(got, self.exp))

    def test_wrong_row_fails(self):
        got = [["CMS", 3, 1.25], ["DEA", 6, 2.5], ["EPA", 1, None]]
        self.assertIsNotNone(checks.rows_equal(got, self.exp))

    def test_missing_row_fails(self):
        self.assertIsNotNone(checks.rows_equal([["CMS", 3, 1.25], ["DEA", 5, 2.5]], self.exp))

    def test_dates_and_timestamps_normalise(self):
        from datetime import date, datetime
        self.assertIsNone(checks.rows_equal(
            [["2024-01-02", "ts:86400000000"]], [(date(2024, 1, 2), datetime(1970, 1, 2))]))


class TopKTest(unittest.TestCase):
    # exact ranking (id, score), longer than k, with a tie at 2.0
    exact = [[7, 3.0], [2, 2.0], [9, 2.0], [4, 1.5], [1, 1.0], [5, 0.5]]

    def test_exact_top_k_passes_with_ties_in_any_order(self):
        self.assertIsNone(checks.topk_equal([[7, 3.0], [9, 2.0], [2, 2.0]], self.exact, 3, 0, 1))

    def test_wrong_row_fails(self):
        self.assertIsNotNone(checks.topk_equal([[7, 3.0], [2, 2.0], [5, 2.0]], self.exact, 3, 0, 1))

    def test_missing_row_fails(self):
        self.assertIsNotNone(checks.topk_equal([[7, 3.0], [2, 2.0]], self.exact, 3, 0, 1))

    def test_misordered_fails(self):
        self.assertIsNotNone(checks.topk_equal([[2, 2.0], [7, 3.0], [9, 2.0]], self.exact, 3, 0, 1))

    def test_repeated_id_fails(self):
        self.assertIsNotNone(checks.topk_equal([[7, 3.0], [2, 2.0], [2, 2.0]], self.exact, 3, 0, 1))


if __name__ == "__main__":
    unittest.main()
