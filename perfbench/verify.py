"""Correctness check for one benchmark run.

Every operation's cold-pass output is compared with DuckDB: the catalog
queries with the engine's own oracle SQL text (`SparkEntry.oracleSql`, which
the harness writes into `result.json`), `etl_ref` with the counts and verdicts
known from the generator's construction and with a DuckDB form of the
reference pipeline. The comparison is the engine's own canonical one from
`tools/check.py`: columns sorted by name, rows sorted by every column,
integer and floating columns never mixed, values equal. Every warm pass must
then reproduce the cold pass's output fingerprint. A failed, missing or wrong
output counts against every execution of that operation; nothing is dropped.
"""
import csv
import json
import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import canon, values_equal  # noqa: E402


def register_inputs(con, data_dir):
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name)
            glob = f"{path}/*.parquet" if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {name[:-len('.parquet')]} AS SELECT * FROM read_parquet('{glob}')")


_CTE = re.compile(r"(\bWITH(?:\s+RECURSIVE)?\s+|,\s*)([A-Za-z_]\w*)\s+AS\s+\(")


def materialized(sql):
    """`sql` with every common table expression marked MATERIALIZED. The
    result is the same; DuckDB 1.0 otherwise inlines a CTE at each use, and
    the dedup oracles reference their signature CTEs several times over."""
    return _CTE.sub(lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


def compare(got, exp):
    """None when the two frames hold the same rows, else the first
    difference: the engine's own canonical compare (`tools/check.py`)."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"row count {len(g)} != {len(e)}"
    for col in g.columns:
        kinds = {g[col].dtype.kind, e[col].dtype.kind}
        if kinds <= {"i", "u", "f"} and "f" in kinds and len(kinds) > 1:
            return f"col {col}: dtype {g[col].dtype} != {e[col].dtype}"
        for i, (x, y) in enumerate(zip(g[col].tolist(), e[col].tolist())):
            if not values_equal(x, y):
                return f"col {col} row {i}: got {x!r} expected {y!r}"
    return None


def _pipeline_sql(as_of):
    """The reference pipeline (ReferencePipeline.buildPeople) in DuckDB."""
    first = ("SELECT person_id, {v} AS {o} FROM (SELECT *, row_number() OVER "
             "(PARTITION BY person_id ORDER BY {i}) AS rn FROM {t} WHERE \"primary\") WHERE rn = 1")
    return f"""
        WITH e AS ({first.format(v='address', o='email', i='email_id', t='emails')}),
             ph AS ({first.format(v='national', o='phone', i='phone_id', t='phones')}),
             p AS (SELECT *, try_strptime(birthdate, '%Y-%m-%d')::DATE AS bd FROM people)
        SELECT p.person_id, l.list_name AS person_list, p.name,
               coalesce(e.email, '') AS primary_email,
               coalesce(ph.phone, '') AS primary_phone_number,
               CASE WHEN p.grade IS NULL OR p.grade = 0 THEN '' ELSE 'Grade ' || p.grade END AS grade,
               CASE WHEN bd IS NULL THEN '' ELSE
                 (year(DATE '{as_of}') - year(bd) -
                  CASE WHEN month(DATE '{as_of}') < month(bd)
                         OR (month(DATE '{as_of}') = month(bd) AND day(DATE '{as_of}') < day(bd))
                       THEN 1 ELSE 0 END)::VARCHAR || ' years' END AS age
        FROM lists l JOIN list_results r USING (list_id) JOIN p USING (person_id)
             LEFT JOIN e USING (person_id) LEFT JOIN ph USING (person_id)
        WHERE contains(l.list_name, 'Youth')"""


def _check_etl(con, data_dir, out_dir):
    """Problems with the etl_ref outputs, by operation name."""
    import pandas as pd
    exp = json.load(open(os.path.join(data_dir, "expected.json")))
    problems = {}
    got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/dump/validate/*.parquet')").df()
    want = pd.DataFrame([(k, v["expected_count"], v["actual_count"], v["valid"])
                         for k, v in exp["verdicts"].items()],
                        columns=["list_name", "expected_count", "actual_count", "valid"])
    for c in ("expected_count", "actual_count", "valid"):
        want[c] = want[c].astype(got[c].dtype) if c in got else want[c]
    problems["validate"] = compare(got, want)

    con.execute(f"CREATE TABLE pipeline AS {_pipeline_sql(exp['as_of'])}")
    csv_dir = os.path.join(out_dir, "sink", "csv")
    files = sorted(f for f in os.listdir(csv_dir) if f.endswith(".csv"))
    want_files = [f"{c}.csv" for c in exp["csv_files"]]
    problem = None if files == want_files else f"csv files {files} != {want_files}"
    cols = ["name", "primary_email", "primary_phone_number", "grade", "age"]
    for f in files if problem is None else []:
        with open(os.path.join(csv_dir, f), newline="") as fh:
            rows = list(csv.reader(fh))
        if not rows or rows[0] != cols:
            problem = f"{f}: header {rows[:1]}"
            break
        want_rows = con.execute(
            f"SELECT {', '.join(cols)} FROM pipeline JOIN csv_fmt ON person_list = list_name "
            f"WHERE csv_name = ?", [f[:-len(".csv")]]).df()
        problem = compare(pd.DataFrame(rows[1:], columns=cols).fillna(""), want_rows)
        if problem:
            problem = f"{f}: {problem}"
            break
    problems["sink_csv"] = problem
    got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/sink/people/*.parquet')").df()
    problems["sink_parquet"] = compare(got, con.execute("SELECT * FROM pipeline").df())
    return problems


def check_run(workload, data_dir, out_dir, result):
    """(attempted, failed, problems): operations attempted and failed over
    every pass, and the first problem found per failing operation."""
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    register_inputs(con, data_dir)
    executions = {}
    for p in result["passes"]:
        for op in p["ops"]:
            executions.setdefault(op["name"], []).append(op)
    problems = {}
    oracle_rows = {}
    if workload == "etl_ref":
        problems.update(_check_etl(con, data_dir, out_dir))
    for name, runs in executions.items():
        if problems.get(name):
            continue
        dump = os.path.join(out_dir, "dump", name)
        if name in result["oracle"]:
            try:
                got = con.execute(f"SELECT * FROM read_parquet('{dump}/*.parquet')").df()
                sql = result["oracle"][name]
                if sql not in oracle_rows:
                    oracle_rows[sql] = con.execute(materialized(sql)).df()
                problems[name] = compare(got, oracle_rows[sql])
            except Exception as e:  # an unreadable output or a failed oracle is a failure
                problems[name] = f"{type(e).__name__}: {e}"
        elif runs[0]["rows"] <= 0 and not runs[0]["error"]:
            problems[name] = "no oracle and no rows"
    failed = 0
    for name, runs in executions.items():
        ref, wrong = runs[0]["fingerprint"], problems.get(name)
        for i, r in enumerate(runs):
            bad = wrong or r["error"] or (
                None if r["fingerprint"] == ref else f"pass {i} output differs from the cold pass")
            if bad:
                failed += 1
                problems[name] = problems.get(name) or bad
    con.close()
    attempted = sum(len(r) for r in executions.values())
    return attempted, failed, {k: v for k, v in problems.items() if v}
