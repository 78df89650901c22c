"""Correctness checks, all outside the timed region.

- Query workloads: each query's result (written by the untimed warm pass)
  must equal its DuckDB oracle from `SparkEntry.oracleSql`, rendered in the
  same JVM after the queries ran: same column names and types, same rows
  in the same order, values exactly equal.
- session_oltp: every checked statement's output (reads and RETURNING
  rows) and every final table must equal the generator's model.
"""
import glob
import json
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rows_equal(a, b):
    """First difference between two row lists, or None."""
    if len(a) != len(b):
        return f"{len(a)} rows, expected {len(b)}"
    for i, (ra, rb) in enumerate(zip(a, b)):
        for j, (x, y) in enumerate(zip(ra, rb)):
            if x == y:
                continue
            if isinstance(x, float) and isinstance(y, float) \
                    and math.isnan(x) and math.isnan(y):
                continue
            return f"row {i} col {j}: {x!r} != {y!r}"
        if len(ra) != len(rb):
            return f"row {i}: {len(ra)} columns, expected {len(rb)}"
    return None


def check_queries(run_dir, data_dir, queries):
    """{query: None if its result matches the oracle, else the reason}."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    out = {}
    for q in queries:
        rdir = os.path.join(run_dir, "results", q)
        files = sorted(glob.glob(os.path.join(rdir, "*.parquet")))
        if q not in oracle:
            out[q] = "no oracle"
            continue
        if not files:
            out[q] = "no result written"
            continue
        src = f"read_parquet({files!r})"
        try:
            srel = con.execute(f"SELECT * FROM {src}")
            sn = [c[0] for c in srel.description]
            srows = srel.fetchall()
            orel = con.execute(oracle[q])
            on = [c[0] for c in orel.description]
            orows = orel.fetchall()
            stypes = dict(con.execute(
                f"SELECT column_name, column_type FROM (DESCRIBE SELECT * FROM {src})"
            ).fetchall())
            otypes = dict(con.execute(
                f"SELECT column_name, column_type FROM (DESCRIBE {oracle[q]})"
            ).fetchall())
        except Exception as e:  # an oracle that cannot run is a failure
            out[q] = f"error: {str(e)[:200]}"
            continue
        if sorted(sn) != sorted(on):
            out[q] = f"columns {sn} != {on}"
            continue
        bad = [c for c in sn if stypes.get(c) != otypes.get(c)]
        if bad:
            out[q] = f"type of {bad[0]}: {stypes.get(bad[0])} != {otypes.get(bad[0])}"
            continue
        perm = [on.index(c) for c in sn]
        out[q] = _rows_equal(srows, [tuple(r[i] for i in perm) for r in orows])
    return out


def _read_rows(path):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    rows, names = [], None
    for f in files:
        t = pq.read_table(f)
        names = t.column_names
        cols = [t.column(i).to_pylist() for i in range(t.num_columns)]
        rows += list(zip(*cols)) if cols else []
    if names is None:  # no part file: an empty result
        return [], []
    return names, [tuple(r) for r in rows]


def _norm(rows):
    return sorted(rows, key=lambda r: tuple((v is None, v) for v in r))


def check_session(run_dir, expected, final):
    """(failed statement keys with reasons, failed tables with reasons)."""
    bad_stmts = {}
    for (phase, idx), (ordered, exp) in expected.items():
        path = os.path.join(run_dir, "outputs", f"{phase}-{idx}")
        if not os.path.isdir(path):
            continue  # the statement did not run or threw; counted there
        _, rows = _read_rows(path)
        exp = [tuple(r) for r in exp]
        diff = _rows_equal(rows, exp) if ordered else \
            _rows_equal(_norm(rows), _norm(exp))
        if diff:
            bad_stmts[(phase, idx)] = diff
    bad_tables = {}
    for table, (columns, exp) in final.items():
        names, rows = _read_rows(os.path.join(run_dir, "final", table))
        if columns and rows:
            if sorted(names) != sorted(columns):
                bad_tables[table] = f"columns {names} != {columns}"
                continue
            rows = [tuple(r[names.index(c)] for c in columns) for r in rows]
        diff = _rows_equal(_norm(rows), _norm([tuple(r) for r in exp]))
        if diff:
            bad_tables[table] = diff
    return bad_stmts, bad_tables
