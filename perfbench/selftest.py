#!/usr/bin/env python3
"""Fast self-test of the benchmark's input generator and checkers, at
sf0.001, without Spark:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import unittest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import checks  # noqa: E402
import inputs  # noqa: E402
from run import tail  # noqa: E402

SF = 0.001
WORK = os.path.join(ROOT, ".perfbench_run", "selftest")


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_tables_are_deterministic(self):
        a, b = inputs.make_tables(SF), inputs.make_tables(SF)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertEqual(a["customer"].num_rows, 150)
        self.assertEqual(a["orders"].num_rows, 1500)

    def test_ask_stream_is_seeded_with_a_fixed_mix(self):
        s1, s2, s3 = inputs.ask_stream(7, 3), inputs.ask_stream(7, 3), inputs.ask_stream(8, 3)
        self.assertEqual(s1, s2)
        self.assertNotEqual(s1, s3)
        per_block = sum(c for _, _, c in inputs.ASK_BLOCK)
        for block in s1 + s3:
            self.assertEqual(len(block), per_block)
            tables = sorted(t for t, _ in block)
            self.assertEqual(tables, sorted(t for t, _, c in inputs.ASK_BLOCK for _ in range(c)))

    def test_upload_block_is_seeded(self):
        tables = inputs.make_tables(0.01)
        a = inputs.upload_block(3, os.path.join(WORK, "a"), tables, strata=(0,))
        b = inputs.upload_block(3, os.path.join(WORK, "b"), tables, strata=(0,))
        c = inputs.upload_block(4, os.path.join(WORK, "c"), tables, strata=(0,))
        self.assertEqual(sorted(f.fmt for f in a), sorted(inputs.FORMATS))
        self.assertEqual([_digest(f.path) for f in a], [_digest(f.path) for f in b])
        self.assertNotEqual([(f.fmt, f.rows, f.question) for f in a],
                            [(f.fmt, f.rows, f.question) for f in c])

    def test_upload_files_read_back_with_their_shape(self):
        tables = inputs.make_tables(0.01)
        con = duckdb.connect()
        for f in inputs.upload_block(5, os.path.join(WORK, "shape"), tables, strata=(0,)):
            if f.fmt == "xlsx":
                from ai_duckdb_spark.sources.io import _read_xlsx_stdlib

                pdf = _read_xlsx_stdlib(f.path)
                rows, cols = len(pdf), list(pdf.columns)
            else:
                rows, cols = checks.duck_shape(con, f.fmt, f.path)
            self.assertEqual(rows, f.rows, f.name)
            self.assertEqual(sorted(cols), sorted(f.columns), f.name)
            self.assertIsNone(checks.check_upload({"行数": rows, "列名": cols[::-1]}, f.rows, f.columns))
            self.assertIsNotNone(checks.check_upload({"行数": rows + 1, "列名": cols}, f.rows, f.columns))


class AnswerCheckTest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        pdf = pd.DataFrame({"k": ["a", "b", "c", "d", "e"], "v": [5.0, 3.0, 3.0, 3.0, 1.0],
                            "n": [1, 2, 3, 4, 5]})
        self.con.register("data_table", pdf)

    def result(self, sql, cap=100):
        rel = self.con.sql(sql)
        rows = [dict(zip(rel.columns, r)) for r in rel.fetchall()]
        return {"columns": rel.columns, "data": rows[:cap], "row_count": len(rows),
                "truncated": len(rows) > cap}

    def test_group_answer(self):
        sql = "SELECT k, SUM(v) AS total_v FROM data_table GROUP BY k ORDER BY total_v DESC"
        r = self.result(sql)
        self.assertIsNone(checks.check_answer(self.con, sql, r, 100))
        r["data"][0] = dict(r["data"][0], total_v=r["data"][0]["total_v"] * (1 + 1e-12))
        self.assertIsNone(checks.check_answer(self.con, sql, r, 100))  # last-bit noise
        r["data"][0] = dict(r["data"][0], total_v=r["data"][0]["total_v"] + 1)
        self.assertEqual(checks.check_answer(self.con, sql, r, 100), "values differ")
        r = self.result(sql)
        r["row_count"] += 1
        self.assertIn("row_count", checks.check_answer(self.con, sql, r, 100))

    def test_top_n_allows_ties(self):
        sql = "SELECT * FROM data_table ORDER BY v DESC LIMIT 2"
        r = self.result(sql)
        for tied in ("b", "c", "d"):  # any row tied at the edge is a right answer
            r["data"][1] = {"k": tied, "v": 3.0, "n": "bcd".index(tied) + 2}
            self.assertIsNone(checks.check_answer(self.con, sql, r, 100), tied)
        r["data"][1] = {"k": "e", "v": 1.0, "n": 5}
        self.assertIsNotNone(checks.check_answer(self.con, sql, r, 100))
        r["data"][1] = {"k": "b", "v": 3.0, "n": 9}
        self.assertIsNotNone(checks.check_answer(self.con, sql, r, 100))

    def test_truncated_answer(self):
        sql = "SELECT * FROM data_table"
        r = self.result(sql, cap=3)
        self.assertIsNone(checks.check_answer(self.con, sql, r, 3))
        r["truncated"] = False
        self.assertIn("truncated", checks.check_answer(self.con, sql, r, 3))

    def test_sql_from_markdown(self):
        md = "## x\n```sql\nSELECT 1\n```\nrest"
        self.assertEqual(checks.sql_from_markdown(md), "SELECT 1")
        self.assertIsNone(checks.sql_from_markdown("❌ **错误**: boom"))


class FrameCheckTest(unittest.TestCase):
    def test_frames_match_is_order_and_null_insensitive(self):
        a = pd.DataFrame({"x": [1, 2, None], "y": ["p", "q", "r"]})
        b = pd.DataFrame({"y": ["r", "q", "p"], "x": [float("nan"), 2.0, 1.0]})
        self.assertIsNone(checks.frames_match(a, checks.frame_rows(b)))
        c = b.assign(x=[float("nan"), 2.0, 1.5])
        self.assertEqual(checks.frames_match(a, checks.frame_rows(c)), "values differ")
        self.assertIn("row count", checks.frames_match(a.iloc[:2], checks.frame_rows(b)))

    def test_tail(self):
        self.assertEqual(tail([3.0]), (3.0, 100.0))
        self.assertEqual(tail([4.0, 1.0, 2.0, 3.0, 5.0]), (4.0, 75.0))
        v, pct = tail([float(i) for i in range(40)])
        self.assertEqual((v, pct), (29.0, 75.0))


if __name__ == "__main__":
    try:
        unittest.main()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
