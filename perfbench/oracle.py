"""Row-set check of staging_queries: each query's Spark result against its
`SparkEntry.oracleSql` run in DuckDB over the same parquet tables.

Rows are compared after sorting columns by name and rows by value, with
exact values (doubles bit-identical), like tools/compare_oracle.py. The
signature is a SHA-256 of that canonical row set."""
import hashlib
import os

import duckdb

TABLES = ("region", "nation", "customer", "part", "orders", "lineitem", "events")


def _canon(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rel.fetchall()]
    rows.sort(key=lambda r: tuple((v is None, v) for v in r))
    return [cols[i] for i in order], rows


def signature(cols, rows):
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:16]


def compare(data_dir, results_dir, queries, tmp_dir):
    """Returns [(query, ok, detail)]."""
    con = duckdb.connect()
    con.sql("SET threads = 2")
    con.sql("SET memory_limit = '1GB'")
    con.sql(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t + '.parquet')}/*.parquet')")
    out = []
    for q in queries:
        with open(os.path.join(results_dir, q + ".sql")) as fh:
            sql = fh.read()
        want = _canon(con.sql(sql))
        got = _canon(con.sql(
            f"SELECT * FROM read_parquet('{os.path.join(results_dir, q)}/*.parquet')"))
        ok = want == got
        detail = (f"{len(got[1])} rows, signature {signature(*got)}" if ok else
                  f"spark {len(got[1])} rows {signature(*got)} cols {got[0]}; "
                  f"duckdb {len(want[1])} rows {signature(*want)} cols {want[0]}")
        out.append((q, ok, detail))
    con.close()
    return out
