"""Output checks: row normalisation, order-independent digests and the
DuckDB oracles the engine registers beside its queries."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, np.generic):
        return _cell(v.item())
    return str(v)


def norm(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, every cell as text (floats by repr, so a
    last-digit difference is a mismatch), rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(_cell)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def digest(df: pd.DataFrame) -> str:
    """Order-independent digest of a result: row count, column names and
    the sorted normalised rows."""
    n = norm(df)
    h = hashlib.sha256(("|".join(n.columns) + f"#{len(n)}").encode())
    for row in n.itertuples(index=False):
        h.update(("\x1f".join(row) + "\n").encode())
    return h.hexdigest()


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    g, w = norm(got), norm(want)
    return list(g.columns) == list(w.columns) and len(g) == len(w) and g.equals(w)


def duck(sf_dir: str, tables: tuple[str, ...]):
    """A DuckDB connection with one view per generated table."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con
