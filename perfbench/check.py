"""Correctness check of one benchmark run, against DuckDB.

Registry ops: each op's last materialized result is compared with its
`Op.oracle` SQL, run in DuckDB over the same input tables: columns sorted
by name, every cell stringified, rows sorted (the same order-insensitive
comparison as tools/check_oracle.py). Every op must return rows, so no
comparison passes on two empty results.

warehouse_load: the curated target and the SCD2 output are compared
with a DuckDB re-expression of the same load (the catalog's extraction
SQL, output mapping, latest-wins merge and SCD2 ranges) over the same
seeded inputs, and the stage log and the JDBC audit log must carry the
row count DuckDB finds for every extracted table.
"""
import concurrent.futures
import glob
import os
import sys
import time

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _connect(data, tmp):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET threads=4")
    con.execute("SET memory_limit='1GB'")
    con.execute("SET preserve_insertion_order=false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _read(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(p) for p in files], ignore_index=True) if files \
        else pd.DataFrame()


def _op(name, m, tmp):
    """Check one op's result against its oracle, over the tables the op
    read, in a DuckDB connection of its own."""
    t0 = time.monotonic()
    got = _read(m["path"])
    # an empty result would match an empty oracle without checking
    # anything: the benchmark's data must give rows
    ok = len(got) > 0
    if ok and "oracle" in m:
        con = _connect(m["data"], tmp)
        try:
            want = con.execute(m["oracle"]).fetchdf()
        except duckdb.Error as e:
            print(f"perfbench check: {name}: oracle failed: {e}")
            return name, False
        finally:
            con.close()
        g, w = _norm(got), _norm(want)
        ok = list(g.columns) == list(w.columns) and len(g) == len(w) and g.equals(w)
    if not ok:
        print(f"perfbench check: {name}: spark rows={len(got)} cols={sorted(got.columns)}")
    print(f"perfbench check: {name} {'ok' if ok else 'MISMATCH'} in "
          f"{time.monotonic() - t0:.2f} s", file=sys.stderr)
    return name, ok


def _ops(doc, tmp):
    ops = sorted(doc["checks"].get("ops", {}).items())
    with concurrent.futures.ThreadPoolExecutor(4) as pool:
        return dict(pool.map(lambda kv: _op(*kv, tmp), ops))


def _same(con, got_path, want_sql):
    """Bag equality of a Spark parquet dir and a DuckDB query."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM '{got_path}/*.parquet'")
    con.execute(f"CREATE OR REPLACE TEMP VIEW want AS {want_sql}")
    cols = sorted(r[0] for r in con.execute("DESCRIBE got").fetchall())
    wcols = sorted(r[0] for r in con.execute("DESCRIBE want").fetchall())
    if cols != wcols:
        print(f"perfbench check: columns differ: spark={cols} duckdb={wcols}")
        return False
    sel = ", ".join(f'"{c}"' for c in cols)
    diff = con.execute(f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM got EXCEPT ALL "
                       f"SELECT {sel} FROM want)) + (SELECT count(*) FROM (SELECT {sel} FROM "
                       f"want EXCEPT ALL SELECT {sel} FROM got))").fetchone()[0]
    if diff:
        print(f"perfbench check: {diff} rows differ from the DuckDB re-expression")
    return diff == 0


def _warehouse(con, data, doc):
    c = doc["checks"]
    if not c:
        return {"warehouse_output": False}
    con.execute("CREATE SCHEMA warehouse")
    con.execute("CREATE SCHEMA landing")
    for t in c["extract_sql"]:
        con.execute(f"CREATE VIEW warehouse.{t} AS SELECT * FROM '{data}/{t}.parquet'")
    raw = f"'{c['landing']}/*.parquet'"
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {raw}").fetchall()]
    con.execute(f"CREATE VIEW landing.lineitem AS SELECT * FROM {raw} WHERE NOT ("
                + " AND ".join(f"{x} IS NULL" for x in cols) + ")")
    v = {}
    want = {t: con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            for t, sql in c["extract_sql"].items()}
    for log in ("stage_log", "audit_log"):
        got = {r["table"]: r["rows"] for r in c[log] if r["status"] == "SUCCESS"}
        v[log] = got == want
        if got != want:
            print(f"perfbench check: {log} {got} != duckdb {want}")
    out = ", ".join(f"CAST({o['expr']} AS {o['type']}) AS {o['name']}"
                    for o in c["output_columns"])
    line_sql = c["extract_sql"]["lineitem"]
    cur = f"SELECT {out}, 0 AS version FROM ({line_sql})"
    upd = f"SELECT {out}, 1 AS version FROM ({line_sql.replace('warehouse.lineitem', 'landing.lineitem')})"
    both = f"SELECT * FROM ({cur}) UNION ALL SELECT * FROM ({upd})"
    v["curated_target"] = _same(con, c["curated"], (
        "SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER (PARTITION BY Order_Key, "
        f"Line_Number ORDER BY version DESC) AS rn FROM ({both})) WHERE rn = 1"))
    v["scd2_history"] = _same(con, c["scd2"], (
        "SELECT *, DATE '2024-01-01' + version AS valid_from, "
        "CASE WHEN lead(version) OVER w IS NULL THEN 1 ELSE 0 END AS is_current, "
        "coalesce(lead(DATE '2024-01-01' + version) OVER w, DATE '9999-12-31') AS valid_to "
        f"FROM ({both}) WINDOW w AS (PARTITION BY Order_Key, Line_Number ORDER BY version)"))
    return v


def run(workload, data, doc, work):
    """Return {check name: passed} for one run's result document; DuckDB
    spills, if at all, under the run's work dir."""
    tmp = os.path.join(work, "duckdb_tmp")
    if workload != "warehouse_load":
        return _ops(doc, tmp)
    con = _connect(data, tmp)
    try:
        return _warehouse(con, data, doc)
    finally:
        con.close()


def corrupt(doc):
    """Drop one row from one checked output: the check must then fail."""
    c = doc["checks"]
    path = c["curated"] if "curated" in c else \
        next(m["path"] for _, m in sorted(c["ops"].items()) if m["rows"] > 0)
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    tbl = pq.read_table(files[0])
    pq.write_table(tbl.slice(0, max(0, tbl.num_rows - 1)), files[0])
