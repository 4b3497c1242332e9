"""Self-test of tools/diff_dumps.py over tiny parquet dumps.

Run from the repo root: python3 -m unittest tools/test_diff_dumps.py
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import diff_dumps  # noqa: E402


class DiffDumpsTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.parent = os.path.join(self.tmp.name, "parent")
        self.change = os.path.join(self.tmp.name, "change")
        self.con = duckdb.connect()

    def tearDown(self):
        self.tmp.cleanup()

    def dump(self, root, name, part, sql):
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        out = os.path.join(d, f"part-{part}.parquet")
        self.con.sql(f"COPY ({sql}) TO '{out}' (FORMAT parquet)")

    def run_diff(self, *extra):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            code = diff_dumps.main([self.parent, self.change, *extra])
        return code, buf.getvalue().splitlines()

    def test_equal_pair_ignores_row_order_and_file_split(self):
        self.dump(self.parent, "q", 0,
                  "SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (2, 'b')) t(k, v)")
        self.dump(self.change, "q", 0, "SELECT 2 AS k, 'b' AS v")
        self.dump(self.change, "q", 1,
                  "SELECT * FROM (VALUES (2, 'b'), (1, 'a')) t(k, v)")
        code, lines = self.run_diff()
        self.assertEqual(code, 0, lines)
        self.assertEqual(lines, ["1/1 dumps identical"])

    def test_multiset_difference_is_reported(self):
        # same distinct rows, one duplicate fewer on the change side
        self.dump(self.parent, "q", 0,
                  "SELECT * FROM (VALUES (1, 'a'), (1, 'a'), (2, 'b')) t(k, v)")
        self.dump(self.change, "q", 0,
                  "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, v)")
        self.dump(self.parent, "same", 0, "SELECT 1 AS k")
        self.dump(self.change, "same", 0, "SELECT 1 AS k")
        code, lines = self.run_diff()
        self.assertEqual(code, 1)
        self.assertEqual(lines, [
            "DIFF q: rows: 1 only in parent, 0 only in change "
            "(parent 3 rows, change 2)",
            "1/2 dumps identical"])
        # --only limits the sweep to the named queries
        code, lines = self.run_diff("--only", "same")
        self.assertEqual((code, lines), (0, ["1/1 dumps identical"]))

    def test_type_difference_and_missing_query(self):
        self.dump(self.parent, "typed", 0, "SELECT 1::INTEGER AS k")
        self.dump(self.change, "typed", 0, "SELECT 1::BIGINT AS k")
        self.dump(self.parent, "gone", 0, "SELECT 1 AS k")
        code, lines = self.run_diff()
        self.assertEqual(code, 1)
        self.assertEqual(lines[0], "DIFF gone: missing from the change dump")
        self.assertTrue(lines[1].startswith("DIFF typed: schema:"), lines)
        self.assertEqual(lines[2], "0/2 dumps identical")

    def sql(self, root, entries):
        os.makedirs(root, exist_ok=True)
        with open(os.path.join(root, "oracle_sql.json"), "w") as f:
            json.dump(entries, f)

    def test_oracle_sql_compared_after_whitespace_collapse(self):
        for root in (self.parent, self.change):
            self.dump(root, "q", 0, "SELECT 1 AS k")
        self.sql(self.parent, {"q": "SELECT 1\n  FROM t", "r": "SELECT 2",
                               "gone": "SELECT 3"})
        self.sql(self.change, {"q": "SELECT 1 FROM\tt ", "r": "SELECT  3",
                               "new": "SELECT 4"})
        code, lines = self.run_diff()
        self.assertEqual(code, 1)
        self.assertEqual(lines, ["1/1 dumps identical", "SQLDIFF gone",
                                 "SQLDIFF new", "SQLDIFF r",
                                 "1/4 oracle SQL entries equal"])
        # --only limits the SQL compare to the named queries too
        code, lines = self.run_diff("--only", "q")
        self.assertEqual((code, lines), (0, [
            "1/1 dumps identical", "1/1 oracle SQL entries equal"]))

    def test_oracle_sql_skipped_unless_both_dumps_hold_it(self):
        for root in (self.parent, self.change):
            self.dump(root, "q", 0, "SELECT 1 AS k")
        self.sql(self.parent, {"q": "SELECT 1"})
        code, lines = self.run_diff()
        self.assertEqual((code, lines), (0, ["1/1 dumps identical"]))


if __name__ == "__main__":
    unittest.main()
