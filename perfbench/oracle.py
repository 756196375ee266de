"""Independent answers for the query workload, and the comparison rules.

The registry's oracle SQL runs on DuckDB over the same parquet files the
engine reads, through the engine's own differential harness
(``r_e_hive__spark.oracle.diff``): its DuckDB views, and for every query
without a fast twin its comparison, which is order-insensitive, matches
columns by name and wants floats bit-exact.  A fast twin answers its exact
twin's oracle with scores rounded to fewer digits, so it is compared here:
ids and ranks exactly, floats within the twin's tolerance.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import pandas as pd

from r_e_hive__spark.oracle.diff import compare_frames


def check(name: str, got: pd.DataFrame, want: pd.DataFrame, rel: float | None) -> str | None:
    """None when equal, else a one-line description of the first difference.
    ``rel`` None compares bit-exactly; otherwise floats within ``rel``."""
    if rel is None:
        res = compare_frames(name, got, want)
        return None if res.ok else res.detail
    return _compare_tolerant(got, want, rel)


def _canon(v):
    if v is None or isinstance(v, str):
        return v
    if isinstance(v, (pd.Timestamp, datetime, date)):
        return pd.Timestamp(v).isoformat()
    if hasattr(v, "tolist"):  # numpy scalar or array
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, (bool, int)):
        return v
    return str(v)


def _key(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, f"{v:.6g}")
    if isinstance(v, tuple):
        return (2, tuple(_key(x) for x in v))
    return (3, str(v))


def _equal(a, b, rel: float) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_equal(x, y, rel) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not (
        isinstance(a, bool) or isinstance(b, bool)
    ):
        return math.isclose(a, b, rel_tol=rel, abs_tol=rel)
    return a == b


def _rows(df: pd.DataFrame, cols) -> list[tuple]:
    out = [
        tuple(_canon(v) for v in r)
        for r in df[list(cols)].astype(object).itertuples(index=False)
    ]
    # exact columns first, so a last-digit float difference cannot reorder rows
    return sorted(
        out,
        key=lambda r: (
            tuple(_key(v) for v in r if not isinstance(v, float)),
            tuple(_key(v) for v in r if isinstance(v, float)),
        ),
    )


def _compare_tolerant(got: pd.DataFrame, want: pd.DataFrame, rel: float) -> str | None:
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} rows"
    cols = sorted(got.columns)
    for i, (a, b) in enumerate(zip(_rows(got, cols), _rows(want, cols))):
        if not _equal(a, b, rel):
            return f"row {i}: {a!r} != {b!r}"
    return None
