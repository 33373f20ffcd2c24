"""Output check: each oracle-checked op's dumped result against DuckDB
running the op's oracle SQL over the same parquet tables.

The comparison is the one the engine's own checker makes: `canon` and the
table list come from tools/check.py itself (columns sorted by name,
timestamps at microsecond precision, rows sorted on every column), then
columns, row count and exact values are compared as check.py does. DuckDB
results depend only on the fixed tables and the SQL text, so they are
cached on disk by both.
"""
import glob
import hashlib
import os
import pickle
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))

from check import TABLES, canon  # noqa: E402


def compare(got, want):
    """None when the frames match, else a one-line reason."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values " + str(e).splitlines()[-1][:200]
    return None


def read_dump(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()


def expected(data_dir, sql, cache_dir):
    key = hashlib.sha256(f"{os.path.abspath(data_dir)}\n{sql}".encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"create view {t} as select * from read_parquet('{data_dir}/{t}.parquet')")
        df = con.sql(sql).df()
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(df, f)
    os.replace(tmp, path)
    return df


def check(data_dir, dump_dir, oracle_sql, cache_dir):
    """{op name: reason} for every op whose dump differs from the oracle."""
    failed = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            reason = compare(read_dump(os.path.join(dump_dir, name)),
                             expected(data_dir, sql, cache_dir))
        except Exception as e:  # a broken oracle query fails the op, not the run
            reason = f"oracle error: {str(e)[:200]}"
        if reason:
            failed[name] = reason
    return failed
