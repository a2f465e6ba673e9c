"""Tests for the footer-normalized Verify output compare.

Run: python3 -m unittest discover -s tools
"""
import json
import shutil
import struct
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
import compare_outputs as cmp  # noqa: E402

# Compact-thrift bytes of ColumnMetaData field 2 (encodings) as pyarrow
# writes it: list header (3 × i32), then PLAIN, RLE, RLE_DICTIONARY as
# zigzag varints.
ENCODINGS = b"\x19\x35\x00\x06\x10"
REVERSED = b"\x19\x35\x10\x06\x00"


def write_output(root: Path, uuid: str, tables: dict, oracle: dict) -> Path:
    """A Verify-shaped output: one dir per query with a part file named by
    the write job's uuid, plus oracle_sql.json."""
    root.mkdir()
    for name, table in tables.items():
        (root / name).mkdir()
        pq.write_table(table, root / name / f"part-00000-{uuid}-c000.snappy.parquet")
        (root / name / "_SUCCESS").write_bytes(b"")
    (root / "oracle_sql.json").write_text(json.dumps(oracle))
    return root


def reverse_encodings(path: Path) -> None:
    """Rewrites the footer's encodings lists in reverse order, the way two
    JVMs' hash-set order can differ; the data pages stay the same."""
    raw = path.read_bytes()
    n = struct.unpack("<I", raw[-8:-4])[0]
    body, footer = raw[:len(raw) - 8 - n], raw[len(raw) - 8 - n:-8]
    assert ENCODINGS in footer, "pyarrow footer layout changed"
    path.write_bytes(body + footer.replace(ENCODINGS, REVERSED) + raw[-8:])


class CompareOutputsTest(unittest.TestCase):

    def setUp(self):
        self.tmp = Path(tempfile.mkdtemp())
        self.tables = {
            "q_a": pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                             "s": pa.array(["x", "y", "x"])}),
            "q_b": pa.table({"v": pa.array([0.5, 1.5])}),
        }
        self.oracle = {"q_a": "SELECT 1", "q_b": "SELECT 2"}
        self.a = write_output(self.tmp / "a", "11111111-2222-3333-4444-555555555555",
                              self.tables, self.oracle)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_identical_outputs_pass(self):
        b = write_output(self.tmp / "b", "66666666-7777-8888-9999-000000000000",
                         self.tables, dict(self.oracle))
        self.assertEqual(cmp.compare_outputs(self.a, b), [])
        self.assertEqual(cmp.main(["compare_outputs.py", str(self.a), str(b)]), 0)

    def test_reordered_encodings_pass(self):
        b = self.tmp / "b"
        shutil.copytree(self.a, b)
        part = next((b / "q_a").glob("part-*.parquet"))
        reverse_encodings(part)
        self.assertNotEqual(part.read_bytes(),
                            next((self.a / "q_a").glob("part-*.parquet")).read_bytes())
        self.assertEqual(
            pq.ParquetFile(part).metadata.row_group(0).column(0).encodings,
            ("RLE_DICTIONARY", "RLE", "PLAIN"))
        self.assertEqual(cmp.compare_outputs(self.a, b), [])

    def test_one_changed_value_fails(self):
        tables = dict(self.tables)
        tables["q_b"] = pa.table({"v": pa.array([0.5, 1.25])})
        b = write_output(self.tmp / "b", "66666666-7777-8888-9999-000000000000",
                         tables, dict(self.oracle))
        diffs = cmp.compare_outputs(self.a, b)
        self.assertTrue(diffs)
        self.assertTrue(all(d.startswith("q_b/") for d in diffs), diffs)
        self.assertEqual(cmp.main(["compare_outputs.py", str(self.a), str(b)]), 1)

    def test_missing_query_fails(self):
        b = self.tmp / "b"
        shutil.copytree(self.a, b)
        shutil.rmtree(b / "q_b")
        self.assertEqual(cmp.compare_outputs(self.a, b),
                         [f"q_b: only in {self.a}"])
        self.assertEqual(cmp.main(["compare_outputs.py", str(self.a), str(b)]), 1)

    def test_changed_oracle_sql_fails(self):
        b = self.tmp / "b"
        shutil.copytree(self.a, b)
        (b / "oracle_sql.json").write_text(
            json.dumps({"q_a": "SELECT 1", "q_b": "SELECT 3"}))
        self.assertEqual(cmp.compare_outputs(self.a, b),
                         ["oracle_sql.json[q_b]: differs"])


if __name__ == "__main__":
    unittest.main()
