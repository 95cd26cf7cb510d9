"""Compares catalog op outputs with their DuckDB oracle SQL.

Both sides run on the same generated tables.  The compare sorts columns by
name and compares row by row, exactly: doubles bit for bit, timestamps by
value, list cells element by element.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd


def _norm(v):
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _is_time(s):
    return str(s.dtype).startswith("datetime64") or (
        str(s.dtype) == "object" and len(s) > 0 and all(
            type(v).__name__ in ("date", "datetime", "Timestamp")
            for v in s if v is not None))


def _column_diff(name, a, b):
    both_null = a.isna() & b.isna()
    if _is_time(a) and _is_time(b):
        a = pd.to_datetime(a).astype("datetime64[us]")
        b = pd.to_datetime(b).astype("datetime64[us]")
        bad = ~(a.eq(b) | (a.isna() & b.isna()))
    elif str(a.dtype) != str(b.dtype):
        return f"{name}: dtype {a.dtype} vs {b.dtype}"
    elif str(a.dtype) == "float64":
        av, bv = a.to_numpy(), b.to_numpy()
        bad = pd.Series(~((av.view("int64") == bv.view("int64"))
                          | (np.isnan(av) & np.isnan(bv))))
    else:
        if str(a.dtype) == "object":
            a, b = a.map(_norm), b.map(_norm)
        bad = pd.Series([not ((x == y) if not (pd.api.types.is_scalar(x) and pd.isna(x))
                              else (pd.api.types.is_scalar(y) and pd.isna(y)))
                         for x, y in zip(a, b)])
    if bad.any():
        i = int(np.argmax(bad.to_numpy()))
        return f"{name}[{i}]: {a.iloc[i]!r} vs {b.iloc[i]!r}"
    return None


def compare(tables_dir, outputs_dir, oracle_sql):
    """Returns {op: mismatch message} for every op whose output differs
    from its oracle (ops with no oracle SQL are reported too)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    bad = {}
    ops = {os.path.basename(d) for d in glob.glob(os.path.join(outputs_dir, "*"))}
    for op in sorted(ops | set(oracle_sql)):
        if op not in oracle_sql:
            bad[op] = "no oracle SQL"
            continue
        parts = sorted(glob.glob(os.path.join(outputs_dir, op, "*.parquet")))
        if not parts:
            bad[op] = "no output written"
            continue
        got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        try:
            exp = con.execute(oracle_sql[op]).fetchdf()
        except duckdb.Error as e:
            bad[op] = f"oracle error: {e}"
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns):
            bad[op] = f"columns {list(got.columns)} vs {list(exp.columns)}"
            continue
        if len(got) != len(exp):
            bad[op] = f"{len(got)} rows vs {len(exp)}"
            continue
        diffs = [d for c in got.columns
                 if (d := _column_diff(c, got[c].reset_index(drop=True),
                                       exp[c].reset_index(drop=True)))]
        if diffs:
            bad[op] = "; ".join(diffs[:3])
    con.close()
    return bad
