"""Tests for the oracle-parity compare in check_oracle.py.

Run: python3 -m unittest discover -s tools
"""
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
import check_oracle as gate  # noqa: E402


def spark_side(table: pa.Table) -> pd.DataFrame:
    """Reads `table` back the way the gate reads Verify output: parquet
    through pandas (pyarrow)."""
    with tempfile.TemporaryDirectory() as d:
        pq.write_table(table, f"{d}/part.parquet")
        return gate.canon(pd.read_parquet(d))


def duckdb_side(sql: str) -> pd.DataFrame:
    return gate.canon(duckdb.connect().execute(sql).df())


class CompareTest(unittest.TestCase):

    def test_all_null_boolean_column_matches(self):
        got = spark_side(pa.table({"reject": pa.array([None] * 5, pa.bool_())}))
        want = duckdb_side(
            "SELECT CAST(NULL AS BOOLEAN) AS reject FROM range(5)")
        self.assertEqual(gate.compare(got, want), [])

    def test_true_against_null_fails(self):
        got = spark_side(pa.table({"reject": pa.array([True, None])}))
        want = duckdb_side(
            "SELECT CAST(NULL AS BOOLEAN) AS reject FROM range(2)")
        self.assertNotEqual(gate.compare(got, want), [])

    def test_int_against_float_fails_strict_check(self):
        got = spark_side(pa.table({"n": pa.array([1], pa.int64())}))
        want = duckdb_side("SELECT 1.0::DOUBLE AS n")
        failure = gate.compare(got, want)
        self.assertTrue(failure and failure[0].startswith("strict-hash"),
                        failure)


if __name__ == "__main__":
    unittest.main()
