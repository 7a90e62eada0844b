"""Result hashing by the comparison rule of `tools/check.py`.

A result is read through DuckDB, its columns are sorted by name, and the
hash covers the column names, their pandas dtypes and every cell, so two
results hash equal exactly when `tools/check.py` would call them equal:
same columns, same shape, same dtypes, equal values with nulls matching
nulls, and array cells compared by their list rendering.
"""
import hashlib
import math

import pandas as pd


def _cell(v):
    if v is None:
        return "\x00"
    if hasattr(v, "__len__") and not isinstance(v, (str, bytes)):
        return str(list(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00"
        return repr(v + 0.0)  # -0.0 == 0.0
    if pd.isna(v):
        return "\x00"
    return repr(v)


def frame_hash(df):
    """sha256 of a pandas frame under the check.py equality rule."""
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    h = hashlib.sha256()
    h.update(repr((list(df.columns), [str(df[c].dtype) for c in df.columns],
                   df.shape)).encode())
    for c in df.columns:
        for v in df[c].tolist():
            h.update(_cell(v).encode())
            h.update(b"\x01")
    return h.hexdigest()


def parquet_hash(con, directory):
    """Hash of the parquet result written under `directory`."""
    return frame_hash(con.execute(f"SELECT * FROM '{directory}/*.parquet'").fetchdf())


def sql_hash(con, sql):
    return frame_hash(con.execute(sql).fetchdf())
