"""Output checks, run after the timed window.

Every groupby result is recomputed with DuckDB over the exact shard files the
call named (missing names dropped, as the program drops them) and compared
value by value. A mismatch or an exception counts as a failed operation.
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd

_DUCK_AGG = {
    "sum": "sum({c})",
    "mean": "avg({c})",
    "count": "count({c})",
    "count_distinct": "count(DISTINCT {c})",
    "max": "max({c})",
    "std": "stddev_samp({c})",
}


def _lit(v) -> str:
    if isinstance(v, (list, tuple, set)):
        return "(" + ", ".join(_lit(x) for x in v) + ")"
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _term_sql(term) -> str:
    col, op, value = term
    op = op.strip().lower()
    op = {"==": "=", "!=": "<>"}.get(op, op)
    if op in ("in", "not in"):
        return f"{col} {op.upper()} {_lit(value)}"
    return f"{col} {op} {_lit(value)}"


def groupby_sql(files: list[str], call: dict) -> str:
    """DuckDB SQL for one ``ParquetEngine.groupby`` call over ``files``."""
    src = "read_parquet([" + ", ".join(_lit(f) for f in files) + "])"
    where = " AND ".join(_term_sql(t) for t in call["where_terms"]) or "TRUE"
    keys = list(call["groupby_cols"])
    if not call["aggregate"]:
        cols: list[str] = []
        for c in keys + [a[0] for a in call["agg_list"]]:
            if c not in cols:
                cols.append(c)
        return f"SELECT {', '.join(cols)} FROM {src} WHERE {where}"
    aggs = [_DUCK_AGG[m].format(c=c) + f" AS {o}" for c, m, o in call["agg_list"]]
    group = f" GROUP BY {', '.join(keys)}" if keys else ""
    return f"SELECT {', '.join(keys + aggs)} FROM {src} WHERE {where}{group}"


def _canon(col: pd.Series) -> pd.Series:
    """Numbers as float64; everything else (dates included) as ISO text,
    with nulls as None."""
    if pd.api.types.is_numeric_dtype(col) and not pd.api.types.is_bool_dtype(col):
        return col.astype("float64").reset_index(drop=True)
    if pd.api.types.is_datetime64_any_dtype(col):
        col = col.dt.date
    return col.map(
        lambda v: None if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v))
        else v.isoformat() if isinstance(v, dt.date) else str(v)
    ).reset_index(drop=True)


def frames_match(got: pd.DataFrame | None, want: pd.DataFrame, rtol: float = 1e-6) -> bool:
    """Same columns and the same multiset of rows, floats within ``rtol``.
    Rows are ordered by all columns, ``want``'s order first, so put unique
    keys first when float columns may differ in the last digits."""
    if got is None:
        return len(want) == 0
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = list(want.columns)
    a = pd.DataFrame({c: _canon(got[c]) for c in cols}).sort_values(cols, na_position="last", ignore_index=True)
    b = pd.DataFrame({c: _canon(want[c]) for c in cols}).sort_values(cols, na_position="last", ignore_index=True)
    for c in cols:
        x, y = a[c], b[c]
        if x.dtype == "float64" and y.dtype == "float64":
            if not np.allclose(x.to_numpy(), y.to_numpy(), rtol=rtol, atol=rtol, equal_nan=True):
                return False
        elif not ((x == y) | (x.isna() & y.isna())).all():
            return False
    return True


def check_groupby(con, files: list[str], call: dict, got: pd.DataFrame | None) -> bool:
    """True when ``got`` equals DuckDB's answer for ``call`` over ``files``."""
    if not files:
        return got is not None and len(got) == 0
    want = con.execute(groupby_sql(files, call)).df()
    return frames_match(got, want)
