"""Seeded input generator for the graft benchmark.

The `tpch`, `curation` and `stream` inputs are seeded replicas of the corpus
snapshot in `corpus/` (the sf0.001 fixture tables the engine is tested on),
made the way the engine's `tools/ScaleUp` makes its scaled corpora: replica
`r` shifts every key family by `r` times (1 + the source's largest key), so
joins land as in the source and no key collides across replicas. On top of
that, each replica takes seeded edits: a seeded date shift and row sample for
the TPC-H tables; for `curation`, a seeded sample of the documents, then a
near-duplicate edit of every document text in a later replica (a token
appended, replaced or deleted) and a small perturbation of its embedding; a
row sample of `events`. `etl_ref` has no fixture to replicate; its
reference-shaped tables are drawn from the seed, and the generator writes
the per-list counts and verdicts known from the construction
(`expected.json`).

Every table is a pure function of (workload, seed): each random draw is
DuckDB's `hash()` of the seed, a per-column salt and a row number, so the
same seed writes byte-identical parquet files and another seed writes other
rows with the same schema. DuckDB runs single-threaded and every COPY is
ordered, which keeps the file bytes stable.
"""
import hashlib
import json
import os
import shutil

import duckdb

AS_OF = "2026-06-01"
CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")

# Replicas and rows per workload. Chosen so one pass of each workload stays
# within a few seconds on a 4-core host (see README.md "Workloads").
TPCH_REPLICAS = 10       # 60,000 lineitem rows before the sample
CURATION_SAMPLE = 200    # corpus documents (of 500), and their embeddings, replicated
CURATION_REPLICAS = 2    # 400 documents and embeddings
STREAM_REPLICAS = 30     # 30,000 events before the sample
STREAM_FILES = 6
ETL_PEOPLE = 30000
ETL_LISTS = 40


def _connect(seed):
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute("SET preserve_insertion_order = true")
    s = int(seed)
    # u: uniform [0, 1); ri: uniform integer in [0, n).
    con.execute(f"CREATE MACRO u(salt, i) AS (hash({s}, salt, i) % 1000000007)::DOUBLE / 1000000007")
    con.execute(f"CREATE MACRO ri(salt, i, n) AS (hash({s}, salt, i) % n)::BIGINT")
    con.execute("CREATE MACRO pick(arr, salt, i) AS arr[1 + ri(salt, i, len(arr))]")
    return con


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE 65536)")


def _source(con, name, key_order):
    """Load corpus table `name` as `src_<name>`, with `rid`, its row number
    in `key_order`."""
    con.execute(f"""CREATE TABLE src_{name} AS SELECT *, row_number() OVER (ORDER BY {key_order}) AS rid
        FROM read_parquet('{CORPUS}/{name}.parquet')""")


def _shift(con, table, col):
    return con.execute(f"SELECT max({col}) + 1 FROM src_{table}").fetchone()[0]


def _replicas(con, n):
    con.execute(f"CREATE OR REPLACE TABLE reps AS SELECT r FROM range({n}) t(r)")


def _tpch(con, out):
    for t, key in (("region", "r_regionkey"), ("nation", "n_nationkey"), ("customer", "c_custkey"),
                   ("supplier", "s_suppkey"), ("part", "p_partkey"), ("orders", "o_orderkey"),
                   ("lineitem", "l_orderkey, l_linenumber, l_partkey, l_suppkey, l_shipdate, l_quantity, "
                    "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus")):
        _source(con, t, key)
    cs, ss, ps, os_ = (_shift(con, t, c) for t, c in (
        ("customer", "c_custkey"), ("supplier", "s_suppkey"), ("part", "p_partkey"), ("orders", "o_orderkey")))
    _replicas(con, TPCH_REPLICAS)
    # Dimensions are copied unscaled, as at any TPC-H scale factor.
    for t, key in (("region", "r_regionkey"), ("nation", "n_nationkey")):
        _copy(con, f"SELECT * EXCLUDE (rid) FROM src_{t} ORDER BY {key}", f"{out}/{t}.parquet")
    for t, key, shifts in (("customer", "c_custkey", {"c_custkey": cs}),
                           ("supplier", "s_suppkey", {"s_suppkey": ss}),
                           ("part", "p_partkey", {"p_partkey": ps})):
        rep = ", ".join(f"{c} + r * {s} AS {c}" for c, s in shifts.items())
        _copy(con, f"SELECT * EXCLUDE (rid, r) REPLACE ({rep}) FROM src_{t}, reps ORDER BY {key}",
              f"{out}/{t}.parquet")
    # Each replica's orders and their lineitems move by one seeded number of
    # days (-30..30); 3% of the lineitems are left out, by seeded draw.
    days = "to_days((ri('days', r, 61) - 30)::INTEGER)"
    _copy(con, f"""SELECT * EXCLUDE (rid, r) REPLACE (
            o_orderkey + r * {os_} AS o_orderkey, o_custkey + r * {cs} AS o_custkey,
            o_orderdate + {days} AS o_orderdate)
        FROM src_orders, reps ORDER BY o_orderkey""", f"{out}/orders.parquet")
    _copy(con, f"""SELECT * EXCLUDE (rid, r) REPLACE (
            l_orderkey + r * {os_} AS l_orderkey, l_partkey + r * {ps} AS l_partkey,
            l_suppkey + r * {ss} AS l_suppkey, l_shipdate + {days} AS l_shipdate)
        FROM src_lineitem, reps WHERE ri('keep', r * 1000003 + rid, 100) >= 3
        ORDER BY r, rid""", f"{out}/lineitem.parquet")
    # The catalog's SQL-text queries register every fixture table of their
    # directory (Tables.registerAll) before they run, so the directory holds
    # the other three as well, as the engine's data directories do. No TPC-H
    # query reads them.
    for t in ("events", "documents", "embeddings"):
        shutil.copyfile(f"{CORPUS}/{t}.parquet", f"{out}/{t}.parquet")


def _events(con, out):
    _source(con, "events", "ts, event_id")
    es, us = _shift(con, "events", "event_id"), _shift(con, "events", "user_id")
    _replicas(con, STREAM_REPLICAS)
    # The time axis is kept: R replicas are R times the event density in the
    # same month. 5% of the rows are left out, by seeded draw. Files follow
    # event time, so AvailableNow reads them in order and no row is late.
    con.execute(f"""CREATE TABLE ev AS SELECT *, row_number() OVER (ORDER BY ts, event_id) - 1 AS n FROM (
        SELECT * EXCLUDE (rid, r) REPLACE (event_id + r * {es} AS event_id, user_id + r * {us} AS user_id)
        FROM src_events, reps WHERE ri('keep', r * 1000003 + rid, 100) >= 5)""")
    total = con.execute("SELECT count(*) FROM ev").fetchone()[0]
    os.makedirs(f"{out}/events.parquet")
    for f in range(STREAM_FILES):
        _copy(con, f"""SELECT * EXCLUDE (n) FROM ev
            WHERE n >= {f * total // STREAM_FILES} AND n < {(f + 1) * total // STREAM_FILES} ORDER BY n""",
              f"{out}/events.parquet/part-{f:03d}.parquet")


def _curation(con, out):
    _source(con, "documents", "doc_id")
    _source(con, "embeddings", "vec_id")
    ds, vs = _shift(con, "documents", "doc_id"), _shift(con, "embeddings", "vec_id")
    # A seeded sample of the corpus; an embedding shares its document's id.
    con.execute(f"""DELETE FROM src_documents WHERE doc_id NOT IN (SELECT doc_id FROM src_documents
        ORDER BY ri('sample', doc_id, 1000000007), doc_id LIMIT {CURATION_SAMPLE})""")
    con.execute("DELETE FROM src_embeddings WHERE vec_id NOT IN (SELECT doc_id FROM src_documents)")
    _replicas(con, CURATION_REPLICAS)
    # Replica 0 is the corpus; every document of a later replica is a
    # near-duplicate of its source: one seeded token appended, replaced by a
    # word of the corpus vocabulary, or deleted.
    con.execute("""CREATE TABLE vocab AS SELECT list(DISTINCT w ORDER BY w) AS v
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM src_documents)""")
    con.execute(f"""CREATE TABLE docs AS SELECT doc_id + r * {ds} AS doc_id, r, string_split(text, ' ') AS w,
        text, lang, source, n_chars FROM src_documents, reps""")
    con.execute("""CREATE TABLE edited AS SELECT *, ri('edit', doc_id, 3) AS kind,
        1 + ri('pos', doc_id, len(w)) AS p FROM docs""")
    text = f"""CASE WHEN r = 0 THEN text ELSE array_to_string(CASE kind
            WHEN 0 THEN list_append(w, 'r' || r)
            WHEN 1 THEN list_concat(list_slice(w, 1, p - 1),
                                    list_concat([v[1 + ri('word', doc_id, len(v))]], list_slice(w, p + 1, len(w))))
            ELSE list_concat(list_slice(w, 1, p - 1), list_slice(w, p + 1, len(w))) END, ' ') END"""
    _copy(con, f"""SELECT doc_id, {text} AS text, lang, source,
        CASE WHEN r = 0 THEN n_chars ELSE length({text})::BIGINT END AS n_chars
        FROM edited, vocab ORDER BY doc_id""", f"{out}/documents.parquet")
    # Embeddings: replica 0 as is; later replicas perturb every component by
    # a seeded amount in [-0.02, 0.02) and are normalized again.
    con.execute(f"""CREATE TABLE vecs AS SELECT vec_id + r * {vs} AS vec_id, r, label,
        CASE WHEN r = 0 THEN embedding::DOUBLE[] ELSE list_transform(range(len(embedding)),
            j -> embedding[j + 1] + 0.04 * (u('noise', (vec_id + r * {vs}) * 1024 + j) - 0.5)) END AS e
        FROM src_embeddings, reps""")
    _copy(con, """SELECT vec_id, CASE WHEN r = 0 THEN e::FLOAT[] ELSE
            list_transform(e, x -> (x / sqrt(list_sum(list_transform(e, y -> y * y))))::FLOAT) END AS embedding,
        label FROM vecs ORDER BY vec_id""", f"{out}/embeddings.parquet")


YOUTH_NAMES = ["Youth Group", "Jr Youth Choir", "High School Youth", "Middle School Youth Night",
               "Youth Camp", "College Youth Bible Study"]
OTHER_NAMES = ["Adult Choir", "Mens Breakfast", "Greeters", "Seniors Lunch"]


def _etl(con, out):
    n, nl = ETL_PEOPLE, ETL_LISTS
    lists = []
    for k in range(nl):
        youth = k % 5 != 4
        names = YOUTH_NAMES if youth else OTHER_NAMES
        lists.append((f"L{k:03d}", f"{names[k % len(names)]} {k:02d}", youth))
    con.execute("CREATE TABLE lists (list_id VARCHAR, list_name VARCHAR)")
    con.executemany("INSERT INTO lists VALUES (?, ?)", [(a, b) for a, b, _ in lists])
    _copy(con, "SELECT * FROM lists ORDER BY list_id", f"{out}/lists.parquet")
    # Membership: every person in one list, 30% also in a second one.
    con.execute(f"""CREATE TABLE list_results AS
        SELECT 'L' || lpad(ri('m1', i, {nl})::VARCHAR, 3, '0') AS list_id,
               'P' || lpad(i::VARCHAR, 8, '0') AS person_id, i FROM range({n}) t(i)
        UNION ALL
        SELECT 'L' || lpad(((ri('m1', i, {nl}) + 1 + ri('m2', i, {nl - 1})) % {nl})::VARCHAR, 3, '0'),
               'P' || lpad(i::VARCHAR, 8, '0'), i FROM range({n}) t(i) WHERE ri('m3', i, 10) < 3""")
    _copy(con, "SELECT list_id, person_id FROM list_results ORDER BY person_id, list_id",
          f"{out}/list_results.parquet")
    # Birthdates cover the FIXTURES.md edge cases: null, empty, Feb-29,
    # birthday on the as-of day and the day after, grade 0 and null.
    _copy(con, f"""SELECT 'P' || lpad(i::VARCHAR, 8, '0') AS person_id,
        pick(['Ana','Ben','Cleo','Dev','Eli','Fay','Gus','Hana','Ivo','Jun','Kai','Lea'], 'first', i)
          || ' ' || pick(['Ortiz','Smith','Nguyen','Okafor','Berg','Silva','Khan','Rossi','Kim'], 'last', i)
          || ' ' || ri('num', i, 1000) AS name,
        CASE WHEN ri('b', i, 100) < 4 THEN NULL
             WHEN ri('b', i, 100) < 5 THEN ''
             WHEN ri('b', i, 100) < 7 THEN (2004 + 4 * ri('by', i, 5))::VARCHAR || '-02-29'
             WHEN ri('b', i, 100) < 8 THEN (2005 + ri('by', i, 15))::VARCHAR || '-06-01'
             WHEN ri('b', i, 100) < 9 THEN (2005 + ri('by', i, 15))::VARCHAR || '-06-02'
             ELSE strftime(DATE '1950-01-01' + ri('bd', i, 25567)::INTEGER, '%Y-%m-%d') END AS birthdate,
        CASE WHEN ri('g', i, 100) < 10 THEN NULL WHEN ri('g', i, 100) < 15 THEN 0
             ELSE (1 + ri('gv', i, 12))::INTEGER END AS grade
        FROM range({n}) t(i) ORDER BY i""", f"{out}/people.parquet")
    # Sub-resources: 0 rows, one primary, primary + secondary, or two
    # primaries plus a secondary (pick-first by id).
    for kind, idc, valc, salt in (("emails", "email_id", "address", "em"),
                                  ("phones", "phone_id", "national", "ph")):
        val = ("'user' || i || '.' || j || '@example.org'" if kind == "emails"
               else "'(' || (200 + ri('area', i, 700)) || ') 555-' || lpad(ri('ln', i * 4 + j, 10000)::VARCHAR, 4, '0')")
        _copy(con, f"""SELECT person_id, {idc}, {valc}, "primary" FROM (
            SELECT 'P' || lpad(i::VARCHAR, 8, '0') AS person_id,
                   'P' || lpad(i::VARCHAR, 8, '0') || '-{salt}' || j AS {idc},
                   {val} AS {valc},
                   (j = 0 OR (j = 2 AND ri('{salt}k', i, 4) = 3)) AS "primary", i, j
            FROM range({n}) t(i), range(3) s(j)
            WHERE j < ri('{salt}k', i, 4)) ORDER BY i, j""", f"{out}/{kind}.parquet")
    youth = [(lid, name) for lid, name, y in lists if y]
    actual = dict(con.execute(
        "SELECT l.list_name, count(*) FROM list_results r JOIN lists l USING (list_id) GROUP BY 1").fetchall())
    # Every 5th Youth list gets a planted count mismatch; one expected name
    # matches no list at all (the reference's missing-key fall-through).
    expected = []
    for k, (lid, name) in enumerate(youth):
        expected.append((name, actual.get(name, 0) + (1 if k % 5 == 2 else 0)))
    expected.append(("Youth Ghost List 99", 7))
    con.execute("CREATE TABLE expected_counts (list_name VARCHAR, expected_count INTEGER)")
    con.executemany("INSERT INTO expected_counts VALUES (?, ?)", expected)
    _copy(con, "SELECT * FROM expected_counts ORDER BY list_name", f"{out}/expected_counts.parquet")
    # csv_fmt: every Youth list but the last, plus one non-Youth list.
    fmt = [(name, "youth_" + lid.lower()) for lid, name in youth[:-1]]
    fmt.append(([nm for _, nm, y in lists if not y][0], "adults"))
    con.execute("CREATE TABLE csv_fmt (list_name VARCHAR, csv_name VARCHAR)")
    con.executemany("INSERT INTO csv_fmt VALUES (?, ?)", fmt)
    _copy(con, "SELECT * FROM csv_fmt ORDER BY list_name", f"{out}/csv_fmt.parquet")
    verdicts = {name: {"expected_count": e, "actual_count": actual.get(name, 0),
                       "valid": int(actual.get(name, 0) == e)} for name, e in expected}
    with open(f"{out}/expected.json", "w") as f:
        json.dump({"as_of": AS_OF, "verdicts": verdicts,
                   "csv_files": sorted(c for n_, c in fmt if n_ in dict((nm, 1) for _, nm in youth))},
                  f, indent=1, sort_keys=True)


GENERATORS = {"tpch": _tpch, "curation": _curation, "stream": _events, "etl_ref": _etl}


def _version():
    """Digest of this generator and the corpus snapshot: cached inputs made
    by another version are made again."""
    h = hashlib.sha256()
    for p in [os.path.abspath(__file__)] + sorted(
            os.path.join(CORPUS, f) for f in os.listdir(CORPUS)):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` under `out` (cached: a complete
    directory made by this version of the generator is reused as is)."""
    done = os.path.join(out, "_GENERATED")
    version = _version()
    if os.path.exists(done) and open(done).read() == version:
        return
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    con = _connect(seed)
    GENERATORS[workload](con, out)
    con.close()
    with open(done, "w") as f:
        f.write(version)


def table_stats(out):
    """(rows, bytes) per input table, read from the parquet footers."""
    con = duckdb.connect()
    stats = {}
    for name in sorted(os.listdir(out)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(out, name)
        glob = f"{path}/*.parquet" if os.path.isdir(path) else path
        rows = con.execute(f"SELECT count(*) FROM read_parquet('{glob}')").fetchone()[0]
        files = ([os.path.join(path, f) for f in os.listdir(path)] if os.path.isdir(path) else [path])
        stats[name[:-len(".parquet")]] = (rows, sum(os.path.getsize(f) for f in files))
    con.close()
    return stats
