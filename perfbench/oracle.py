"""DuckDB oracle check of the query workloads' outputs.

Each query's output (written by the harness to out/results/<query>) is
compared with its oracle SQL from `graft.SparkEntry.oracleSql` run by
DuckDB over the same generated tables: columns by name, rows sorted,
values exact, exactly as tools/check_oracle.py compares them.
"""
import glob
import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq


def table_sizes(data):
    files = glob.glob(os.path.join(data, "*.parquet"))
    return {"bytes": sum(os.path.getsize(p) for p in files),
            "rows": sum(pq.ParquetFile(p).metadata.num_rows for p in files)}


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if str(df[c].dtype).startswith(("datetime", "date")) or df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check(data, out, capture):
    """-> {query: "OK" or the reason it is wrong}."""
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for p in glob.glob(os.path.join(data, "*.parquet")):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    verdict = {}
    for name, sql in sqls.items():
        if "error" in capture.get(name, {"error": "not captured"}):
            verdict[name] = f"ERROR {capture.get(name, {}).get('error', 'not captured')}"
            continue
        files = glob.glob(os.path.join(out, "results", name, "*.parquet"))
        try:
            want = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run fails the query
            verdict[name] = f"ORACLE-ERROR {e}"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else want.iloc[0:0]
        if sorted(got.columns) != sorted(want.columns):
            verdict[name] = f"SCHEMA {sorted(got.columns)} vs {sorted(want.columns)}"
        elif len(got) != len(want):
            verdict[name] = f"ROWS {len(got)} vs {len(want)}"
        else:
            try:
                pd.testing.assert_frame_equal(_norm(got), _norm(want), check_dtype=False,
                                              check_exact=True)
                verdict[name] = "OK"
            except AssertionError as e:
                verdict[name] = "MISMATCH " + (str(e).splitlines() or ["?"])[-1][:200]
    return verdict
