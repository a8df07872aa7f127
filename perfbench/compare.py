"""Order-insensitive, bit-exact comparison of a Spark result with its
DuckDB oracle: the rule tests/test_oracle.py applies (same column names,
same row count, same numeric kind and width per column, then equal
cells after sorting rows; floats must match bit for bit)."""

from __future__ import annotations

import decimal
import math

import numpy as np
import pandas as pd


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        s = df[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[col] = s.astype("datetime64[us]")
        elif s.dtype == object:
            df[col] = s.map(lambda v: float(v) if isinstance(v, decimal.Decimal) else v)
        elif pd.api.types.is_float_dtype(s) and s.dtype != np.float64:
            df[col] = s.astype(np.float64)
        elif pd.api.types.is_integer_dtype(s) and s.dtype != np.int64:
            df[col] = s.astype("Int64")
    return df


def _sort_rows(df: pd.DataFrame) -> pd.DataFrame:
    if len(df.columns) == 0 or len(df) == 0:
        return df.reset_index(drop=True)
    key = df.apply(lambda row: tuple(repr(v) for v in row), axis=1)
    return df.iloc[key.argsort(kind="mergesort").to_numpy()].reset_index(drop=True)


def _cells_equal(a, b) -> bool:
    if isinstance(a, (list, tuple, np.ndarray)) or isinstance(b, (list, tuple, np.ndarray)):
        a_l = list(a) if isinstance(a, (list, tuple, np.ndarray)) else [a]
        b_l = list(b) if isinstance(b, (list, tuple, np.ndarray)) else [b]
        return len(a_l) == len(b_l) and all(_cells_equal(x, y) for x, y in zip(a_l, b_l))
    if a is None or (isinstance(a, float) and math.isnan(a)):
        return b is None or (isinstance(b, float) and math.isnan(b))
    if isinstance(a, float) and isinstance(b, float):
        return a == b
    if pd.isna(a) is True and pd.isna(b) is True:
        return True
    return bool(a == b)


def mismatch(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    """None when the two frames hold the same rows, else the first reason."""
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"rows {len(spark_pdf)} != {len(duck_pdf)}"
    for col in sorted(spark_pdf.columns):
        a, b = spark_pdf[col].dtype, duck_pdf[col].dtype
        if "M" in (a.kind, b.kind):
            if a.kind != b.kind:
                return f"{col}: datetime vs {b}"
            continue
        if (a.kind, getattr(a, "itemsize", 0)) != (b.kind, getattr(b, "itemsize", 0)):
            return f"{col}: dtype {a} != {b}"
    s = _sort_rows(_normalize(spark_pdf))
    d = _sort_rows(_normalize(duck_pdf))
    for col in s.columns:
        for i, (x, y) in enumerate(zip(s[col].tolist(), d[col].tolist())):
            if not _cells_equal(x, y):
                return f"{col}: row {i} {x!r} != {y!r}"
    return None
