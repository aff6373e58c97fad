"""Output check: lane results against their DuckDB oracles.

The comparison rule is the engine's parity rule: columns sorted by
name, rows compared order-insensitively, floats compared exactly and
with the same sign of zero, NULL equal only to NULL or NaN.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def oracle_answers(
    data_dir: str, sqls: dict[str, str], threads: int, tmp_dir: str
) -> dict[str, pd.DataFrame]:
    """Run each oracle SQL in DuckDB over the generated tables."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {int(threads)}")
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        for name in TABLES:
            path = os.path.join(data_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return {lane: con.execute(sql).fetchdf() for lane, sql in sqls.items()}
    finally:
        con.close()


def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort", na_position="last")
    return pdf.reset_index(drop=True)


def _is_null(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """First difference between two result frames, or None if equal."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a, b = canonicalize(got), canonicalize(want)
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if _is_null(x):
                ok = _is_null(y)
            elif isinstance(x, float) and isinstance(y, float):
                ok = x == y and math.copysign(1.0, x) == math.copysign(1.0, y)
            else:
                ok = x == y
            if not ok:
                return f"col {c} row {i}: got {x!r} want {y!r}"
    return None
