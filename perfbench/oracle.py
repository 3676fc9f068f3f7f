"""DuckDB oracle check for the benchmark's answer pass.

Replays each query's oracle SQL (`SparkEntry.oracleSql`, written by the
harness as `oracle_sql.json`) in DuckDB over the same parquet inputs and
compares it with the engine's parquet answer under the rules of
`scripts/oracle_check.py`: columns sorted by name, rows sorted, exact
values, floats equal within 1e-9 relative.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _column_error(name, a, b):
    if a.dtype.kind == "f" or b.dtype.kind == "f":
        aa, bb = a.astype(float).values, b.astype(float).values
        exact = (aa == bb) | (pd.isna(aa) & pd.isna(bb))
        close = exact | (np.abs(aa - bb) <= 1e-9 * (1 + np.abs(bb)))
        bad = int((~close).sum())
        return f"{name}: {bad} values beyond 1e-9" if bad else None
    if a.dtype.kind == "M" and b.dtype.kind == "M":
        same = a.values.astype("datetime64[us]") == b.values.astype("datetime64[us]")
        return None if same.all() else f"{name}: timestamp mismatches"
    if a.dtype.kind in "iu" and b.dtype.kind in "iu":
        bad = int((a.values.astype("int64") != b.values.astype("int64")).sum())
        return f"{name}: {bad} int mismatches" if bad else None
    if a.equals(b):
        return None
    return f"{name}: {int((a.astype(str) != b.astype(str)).sum())} mismatches"


def _compare(got, exp):
    cols = sorted(got.columns)
    if cols != sorted(exp.columns):
        return f"columns {cols} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    g = got[cols].sort_values(by=cols).reset_index(drop=True)
    e = exp[cols].sort_values(by=cols).reset_index(drop=True)
    errs = []
    for c in cols:
        try:
            err = _column_error(c, g[c], e[c])
        except Exception as ex:  # an uncomparable column is a mismatch
            err = f"{c}: compare error {ex}"
        if err:
            errs.append(err)
    return "; ".join(errs) or None


def check(data_dir, out_dir, names):
    """Return {query name: error message or None} for `names`."""
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    result = {}
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if name not in oracle:
            result[name] = "no oracle SQL"
        elif not files:
            result[name] = "no engine answer"
        else:
            try:
                got = pq.read_table(files[0]).to_pandas()
                exp = con.execute(oracle[name]).df()
                result[name] = _compare(got, exp)
            except Exception as ex:
                result[name] = f"{type(ex).__name__}: {str(ex)[:300]}"
    con.close()
    return result
