"""DuckDB oracle check for the analytics workload.

Mirrors tools/check_oracle.py: the input tables are registered as
DuckDB views, each key's `SparkEntry.oracleSql` runs in DuckDB, and the
Spark parquet dump must match it in columns, row count, dtypes and
values after sorting columns by name and rows by every column.
"""
import os

import duckdb
import pandas as pd

from gen import POOL_TABLES


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def check(table_dir, out_dir, oracle):
    """Compare every pass's output (`out_dir/<pass>/<key>`) with the key's
    oracle. Return (checks attempted, failure messages)."""
    con = duckdb.connect()
    for t in POOL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    passes = sorted(os.listdir(out_dir), key=int)
    attempted, failures = 0, []
    for key, sql in sorted(oracle.items()):
        try:
            want = canon(con.execute(sql).fetchdf())
        except Exception as e:  # an oracle that cannot run fails every pass
            attempted += len(passes)
            failures += [f"{key}: oracle failed: {e}"] * len(passes)
            continue
        for p in passes:
            attempted += 1
            failure = compare(f"{out_dir}/{p}/{key}", want)
            if failure:
                failures.append(f"{key} (pass {p}): {failure}")
    return attempted, failures


def compare(path, want):
    """None when the parquet output at `path` matches `want`, else why not."""
    try:
        got = canon(duckdb.connect().execute(
            f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf())
    except Exception as e:  # an unreadable output is a failed check
        return f"unreadable: {e}"
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return f"shape {list(got.columns)}x{len(got)} want {list(want.columns)}x{len(want)}"
    if any(str(got[c].dtype) != str(want[c].dtype) for c in got.columns):
        return "dtypes differ"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=True, check_exact=True)
    except AssertionError:
        return "values differ"
    return None
