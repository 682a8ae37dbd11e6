"""tools/selfcheck.py's equality rule: what "Spark output equals the oracle" means.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import selfcheck  # noqa: E402


class CompareTest(unittest.TestCase):
    def test_bigint_never_matches_a_fractional_double(self):
        # casting the oracle to Spark's dtype would truncate 2.5, 3.9 to 2, 3
        spark = pd.DataFrame({"n": pd.Series([2, 3], dtype="int64")})
        oracle = pd.DataFrame({"n": pd.Series([2.5, 3.9], dtype="float64")})
        self.assertEqual(selfcheck.compare(spark, oracle),
                         "DTYPE n: spark=int64 oracle=float64")

    def test_integer_widths_are_coerced(self):
        spark = pd.DataFrame({"rn": pd.Series([2, 1], dtype="int32")})
        oracle = pd.DataFrame({"rn": pd.Series([1, 2], dtype="int64")})
        self.assertIsNone(selfcheck.compare(spark, oracle))

    def test_timestamps_compare_at_microseconds(self):
        ts = ["2024-01-15 10:00:00.123456", "2024-01-16 00:00:00.000001"]
        spark = pd.DataFrame({"ts": pd.to_datetime(ts).astype("datetime64[ns]")})
        oracle = pd.DataFrame({"ts": pd.to_datetime(ts).astype("datetime64[us]")})
        self.assertIsNone(selfcheck.compare(spark, oracle))

    def test_a_value_difference_fails(self):
        spark = pd.DataFrame({"k": [1, 2], "v": ["a", "b"]})
        oracle = pd.DataFrame({"v": ["a", "c"], "k": [1, 2]})
        self.assertEqual(selfcheck.compare(spark, oracle), "VAL v @row1: spark='b' oracle='c'")


if __name__ == "__main__":
    unittest.main()
