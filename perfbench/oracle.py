"""DuckDB oracle check of catalog outputs.

Each query's parquet output is compared with its `SparkEntry.oracleSql`
statement run by DuckDB on the same generated tables, under the rules of
`tools/check.py`: its `normalize` (columns sorted by name, rows sorted by all
columns), equal column names and row counts, no int-vs-float or other dtype
difference outside float columns, and exact values. A query without an
oracle statement is checked rows-only (at least one row).
"""
import glob
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from check import TABLES, normalize  # noqa: E402


def _mismatch(spark_df, duck_df):
    a, b = normalize(spark_df), normalize(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"rows spark={len(a)} duck={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        ka, kb = av.dtype.kind, bv.dtype.kind
        if (ka in "iu" and kb == "f") or (ka == "f" and kb in "iu"):
            return f"{c}: dtype kind spark={av.dtype} duck={bv.dtype}"
        if ka != "f" and kb != "f" and av.dtype != bv.dtype:
            return f"{c}: dtype spark={av.dtype} duck={bv.dtype}"
        if ka == "f" or kb == "f":
            bad = ~np.isclose(av.astype(float), bv.astype(float), rtol=0, atol=0, equal_nan=True)
        else:
            bad = (av != bv).values
        if bad.any():
            i = int(np.argmax(bad))
            return f"{c}[row{i}]: spark={av.iloc[i]!r} duck={bv.iloc[i]!r}"
    return None


def check(data_dir: str, out_dir: str, names) -> list:
    """One record per query: {"name", "ok", "detail", "rows_only", "rows"}."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = []
    for name in names:
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        rows = None
        try:
            if not files:
                detail = "no output"
            else:
                spark_df = pq.read_table(files).to_pandas()
                rows = len(spark_df)
                if name not in oracle:
                    detail = None if len(spark_df) else "rows-only check: no rows"
                else:
                    detail = _mismatch(spark_df, con.sql(oracle[name]).df())
        except Exception as e:  # an oracle or read error fails the check, not the run
            detail = f"{type(e).__name__}: {e}"
        results.append({"name": f"{name}.oracle", "ok": detail is None, "detail": detail or "",
                        "rows_only": name not in oracle, "rows": rows})
    con.close()
    return results
