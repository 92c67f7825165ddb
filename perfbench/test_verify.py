"""The correctness check catches planted wrong results.

    python3 perfbench/test_verify.py
"""
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import verify  # noqa: E402

ORACLE = "SELECT k, sum(v) AS total FROM t GROUP BY k"


def _run(tmp, dump_sql, fingerprints, error=None):
    """A one-operation run: input table t, the operation's cold-pass dump and
    one execution per fingerprint."""
    data, out = os.path.join(tmp, "data"), os.path.join(tmp, "out")
    os.makedirs(data, exist_ok=True)
    os.makedirs(os.path.join(out, "dump", "op"), exist_ok=True)
    con = duckdb.connect()
    con.execute(f"COPY (SELECT i % 3 AS k, i AS v FROM range(10) r(i)) TO '{data}/t.parquet' (FORMAT PARQUET)")
    con.execute(f"COPY ({dump_sql}) TO '{out}/dump/op/part-0.parquet' (FORMAT PARQUET)")
    con.close()
    passes = [{"pass": i, "traced": False,
               "ops": [{"name": "op", "rows": 3, "fingerprint": fp, "error": error if i == 0 else None}]}
              for i, fp in enumerate(fingerprints)]
    result = {"passes": passes, "oracle": {"op": ORACLE}}
    return verify.check_run("tpch", data, out, result)


class CheckRunTest(unittest.TestCase):
    RIGHT = "SELECT i % 3 AS k, sum(i) AS total FROM range(10) r(i) GROUP BY k"

    def test_right_output_passes(self):
        with tempfile.TemporaryDirectory() as tmp:
            self.assertEqual(_run(tmp, self.RIGHT, ["a", "a", "a"]), (3, 0, {}))

    def test_planted_wrong_value_fails_every_execution(self):
        wrong = "SELECT i % 3 AS k, sum(i) + (i % 3 = 1)::INT AS total FROM range(10) r(i) GROUP BY k"
        with tempfile.TemporaryDirectory() as tmp:
            attempted, failed, problems = _run(tmp, wrong, ["a", "a"])
        self.assertEqual((attempted, failed), (2, 2))
        self.assertIn("total", problems["op"])

    def test_planted_missing_row_fails(self):
        with tempfile.TemporaryDirectory() as tmp:
            attempted, failed, problems = _run(tmp, self.RIGHT + " HAVING k > 0", ["a"])
        self.assertEqual(failed, 1)
        self.assertIn("row count", problems["op"])

    def test_warm_pass_that_differs_from_cold_pass_fails(self):
        with tempfile.TemporaryDirectory() as tmp:
            attempted, failed, problems = _run(tmp, self.RIGHT, ["a", "b", "a"])
        self.assertEqual((attempted, failed), (3, 1))
        self.assertIn("pass 1", problems["op"])

    def test_operation_error_counts_as_failed(self):
        with tempfile.TemporaryDirectory() as tmp:
            _, failed, problems = _run(tmp, self.RIGHT, ["a", "a"], error="boom")
        self.assertEqual(failed, 1)
        self.assertEqual(problems["op"], "boom")


class CompareTest(unittest.TestCase):
    def test_integer_against_float_column_fails(self):
        con = duckdb.connect()
        got = con.execute("SELECT 1::BIGINT AS x").df()
        exp = con.execute("SELECT 1.0::DOUBLE AS x").df()
        self.assertIn("dtype", verify.compare(got, exp))

    def test_row_order_and_column_order_do_not_matter(self):
        con = duckdb.connect()
        got = con.execute("SELECT * FROM (VALUES (2, 'b'), (1, 'a')) t(x, y)").df()
        exp = con.execute("SELECT y, x FROM (VALUES (1, 'a'), (2, 'b')) t(x, y)").df()
        self.assertIsNone(verify.compare(got, exp))

    def test_materialized_keeps_the_result(self):
        con = duckdb.connect()
        sql = ("WITH RECURSIVE a AS (SELECT 1 AS x), b(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM b WHERE n < 3), "
               "c AS (SELECT x + n AS y FROM a, b) SELECT sum(y) AS s FROM c")
        self.assertIn("a AS MATERIALIZED (", verify.materialized(sql))
        self.assertEqual(con.execute(sql).fetchall(), con.execute(verify.materialized(sql)).fetchall())


if __name__ == "__main__":
    unittest.main()
