"""Result comparison helpers for the correctness gates.

Every gate runs after an op's timer stops, so checking never counts as
op latency.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


def _canonical_column(col: pd.Series) -> pd.Series:
    if pd.api.types.is_datetime64_any_dtype(col):
        if getattr(col.dt, "tz", None) is not None:
            col = col.dt.tz_convert(None)
        return col.astype("datetime64[us]").astype("int64")
    if pd.api.types.is_bool_dtype(col):
        return col.astype("int64")
    if pd.api.types.is_integer_dtype(col):
        return col.astype("int64")
    if pd.api.types.is_float_dtype(col):
        return col.astype("float64")
    return col.astype(str)


def frame_digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive value hash). Columns are taken in name
    order and brought to one dtype per kind (every timestamp unit becomes
    epoch µs, every int int64), so a frame and its round trip through
    Spark hash equal exactly when they hold the same multiset of rows."""
    cols = sorted(pdf.columns)
    canon = pd.DataFrame({c: _canonical_column(pdf[c]) for c in cols})
    row_hashes = np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())
    h = hashlib.sha256(",".join(cols).encode())
    h.update(row_hashes.tobytes())
    return len(pdf), h.hexdigest()


def oracle_normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form, the rule the oracle tests apply:
    columns sorted by name, every value stringified (floats via repr, so
    exact), rows sorted."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    out = pd.DataFrame()
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype == object:
            out[c] = col.map(lambda v: "NULL" if v is None else str(v))
        elif str(col.dtype).startswith("float"):
            out[c] = col.map(lambda v: "NULL" if pd.isna(v) else repr(float(v)))
        elif str(col.dtype).startswith(("int", "uint")):
            out[c] = col.map(lambda v: str(int(v)))
        elif str(col.dtype) == "bool":
            out[c] = col.map(lambda v: str(bool(v)))
        else:
            out[c] = col.astype(str)
    return out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)


def oracle_mismatch(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when the frames agree under :func:`oracle_normalize`, else a
    one-line reason."""
    if len(spark_pdf) != len(oracle_pdf):
        return f"{name}: {len(spark_pdf)} rows, oracle {len(oracle_pdf)}"
    if len(spark_pdf) == 0:
        return f"{name}: empty result"
    if sorted(map(str.lower, spark_pdf.columns)) != sorted(map(str.lower, oracle_pdf.columns)):
        return f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    s, o = oracle_normalize(spark_pdf), oracle_normalize(oracle_pdf)
    o.columns = s.columns
    if not s.equals(o):
        return f"{name}: values differ on {int((s != o).any(axis=1).sum())} rows"
    return None
