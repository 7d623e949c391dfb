"""Compare a key's Spark output with its DuckDB oracle on the same input.

The comparison is the repository's oracle check (tests/check_oracle.py):
row count, column names and pandas dtypes, then the values, order-
insensitive. Nested (list/ndarray/dict) cells are rejected outright, as
that check does. The values are compared column-wise on both frames
sorted by every column, which matches the check's sorted canonical
rows and stays fast on outputs of a few hundred thousand rows.
"""

from __future__ import annotations

import os

import pandas as pd


def duck_connection(data_dir: str, tables):
    """A DuckDB connection with one view per table file in data_dir."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _canon_dtype(dtype) -> str:
    s = str(dtype)
    return "timestamp" if s.startswith("datetime64") else s


def _is_nested(v) -> bool:
    return isinstance(v, (list, tuple, dict, set)) or type(v).__name__ == "ndarray"


def _naive(col: pd.Series) -> pd.Series:
    if isinstance(col.dtype, pd.DatetimeTZDtype):
        return col.dt.tz_convert("UTC").dt.tz_localize(None)
    return col


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].apply(_naive)
    return df.sort_values(
        list(df.columns), na_position="last", kind="mergesort", ignore_index=True
    )


def _first_diff(a: pd.DataFrame, b: pd.DataFrame) -> int | None:
    """Index of the first row where two aligned frames differ, or None.
    Two nulls are equal; other values compare exactly."""
    bad = None
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        nx, ny = pd.isna(a[c]).to_numpy(), pd.isna(b[c]).to_numpy()
        eq = (nx & ny) | (~nx & ~ny & (x == y))
        if not eq.all():
            i = int((~eq).argmax())
            bad = i if bad is None else min(bad, i)
    return bad


def compare(spark_pd: pd.DataFrame, duck_pd: pd.DataFrame) -> str | None:
    """None when the frames agree, else a one-line reason."""
    for name, frame in (("spark", spark_pd), ("duck", duck_pd)):
        for c in frame.columns:
            if frame[c].dtype == object:
                nn = frame[c].dropna()
                if len(nn) and _is_nested(nn.iloc[0]):
                    return f"nested-typed column {c!r} in {name} output"
    if len(spark_pd) != len(duck_pd):
        return f"rowcount spark={len(spark_pd)} duck={len(duck_pd)}"
    s_cols, d_cols = sorted(spark_pd.columns), sorted(duck_pd.columns)
    if s_cols != d_cols:
        return f"columns spark={s_cols} duck={d_cols}"
    for c in s_cols:
        st, dt = _canon_dtype(spark_pd[c].dtype), _canon_dtype(duck_pd[c].dtype)
        if st != dt:
            return f"dtype[{c}] spark={st} duck={dt}"
    s_sorted, d_sorted = _sorted(spark_pd), _sorted(duck_pd)
    i = _first_diff(s_sorted, d_sorted)
    if i is not None:
        return f"values differ; first differing sorted row {s_sorted.iloc[i].to_dict()}"
    return None
