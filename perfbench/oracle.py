"""DuckDB differential check of declared-query outputs.

Each query's Spark output (parquet under `<check>/<name>/`) is compared with
its `SparkEntry.oracleSql` statement run by DuckDB over views of the exact
parquet tables the run read. The table list and the comparison rules are
`tools/check_oracle.py`'s: same column names, same DuckDB logical column
types, same row count, and every cell equal in row order.

Oracle results depend only on the inputs and the SQL, so they are cached
under a hash of both and computed once per build directory.
"""
import glob
import os
import pickle
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, compare  # noqa: E402


def oracle_results(data_dir, sqls, cache_file):
    """{name: (cols, types, rows) or ("error", msg)} for every oracle SQL."""
    if os.path.exists(cache_file):
        with open(cache_file, "rb") as f:
            return pickle.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    res = {}
    for name, sql in sorted(sqls.items()):
        try:
            r = con.sql(sql)
            res[name] = (list(r.columns), [str(t) for t in r.types], r.fetchall())
        except Exception as ex:  # an oracle that cannot run is a failed check
            res[name] = ("error", str(ex))
    with open(cache_file + ".tmp", "wb") as f:
        pickle.dump(res, f)
    os.replace(cache_file + ".tmp", cache_file)
    return res


def check(check_dir, oracle):
    """Returns ({name: error or None}, {name: result row count})."""
    con = duckdb.connect()
    errors, rows = {}, {}
    for name, want in sorted(oracle.items()):
        files = sorted(glob.glob(f"{check_dir}/{name}/*.parquet"))
        if not files:
            errors[name] = "no spark output"
            continue
        if want[0] == "error":
            errors[name] = "oracle failed: " + want[1]
            continue
        try:
            s = con.sql("SELECT * FROM read_parquet($files)", params={"files": files})
            s_cols, s_types, s_rows = list(s.columns), [str(t) for t in s.types], s.fetchall()
        except Exception as ex:
            errors[name] = f"unreadable output: {ex}"
            continue
        rows[name] = len(s_rows)
        d_cols, d_types, d_rows = want
        ok, msg = compare(s_rows, s_cols, s_types, d_rows, d_cols, d_types)
        errors[name] = None if ok else msg
    return errors, rows
