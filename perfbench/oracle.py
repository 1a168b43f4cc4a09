"""Output check for the query workloads: each query's result, written as
parquet by the benchmark outside its timed region, against DuckDB running
the query's `SparkEntry.oracleSql` on the same input files.

Canonicalization is `tools/parity.py`'s own `canon` and table list:
columns sorted by name, rows sorted, values rendered as strings and
compared through an order-insensitive hash sum, with row count and column
names checked first.
A query without oracle SQL gets a row-count check (a non-empty result).
"""
import glob
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from parity import TABLES, canon  # noqa: E402


def digest(df):
    return int(pd.util.hash_pandas_object(df.astype(str)).sum())


def check(dump_dir, data_dir, names, oracle_sql):
    """Returns {name: (ok, detail, rows)}."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name in names:
        files = glob.glob(os.path.join(dump_dir, name, "*.parquet"))
        if not files:
            out[name] = (False, "no output written", 0)
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        rows = len(spark_df)
        if name not in oracle_sql:
            out[name] = (rows > 0, f"row-count check: {rows} rows", rows)
            continue
        try:
            a, b = canon(spark_df), canon(con.execute(oracle_sql[name]).fetchdf())
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = (False, f"{type(e).__name__}: {e}", rows)
            continue
        if len(a) != len(b):
            out[name] = (False, f"rows {len(a)} != oracle {len(b)}", rows)
        elif list(a.columns) != list(b.columns):
            out[name] = (False, f"columns {list(a.columns)} != oracle {list(b.columns)}", rows)
        elif digest(a) != digest(b):
            out[name] = (False, "value digest differs from oracle", rows)
        else:
            out[name] = (True, f"oracle digest match, {rows} rows", rows)
    return out
