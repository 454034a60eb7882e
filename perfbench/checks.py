"""Output checks: row count plus an order-insensitive value hash.

Both sides are normalized the same way (columns sorted by name, floats
rounded to 6 places, NaN as NULL, timestamps as naive ISO strings) before
the sorted rows are hashed, so the check is independent of row order and
of the engine that produced the frame.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime

import duckdb
import pandas as pd


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return _cell(v.tolist())
    return v


def digest(frame: pd.DataFrame) -> tuple[int, str]:
    """(row count, sha256 of the normalized sorted rows)."""
    cols = sorted(frame.columns)
    rows = sorted(
        (repr(tuple(_cell(v) for v in row)) for row in frame[cols].itertuples(index=False, name=None))
    )
    h = hashlib.sha256("|".join(cols).encode())
    for r in rows:
        h.update(r.encode())
    return len(rows), h.hexdigest()


def duckdb_frame(sf_dir: str, sql: str, tables: list[str]) -> pd.DataFrame:
    """Run ``sql`` in DuckDB with a view per parquet table of ``sf_dir``."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute("SET TimeZone = 'UTC'")
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def against_oracle(name: str, got: pd.DataFrame, sql: str | None, sf_dir: str,
                   tables: list[str]) -> str | None:
    """Compare ``got`` with the DuckDB oracle ``sql`` over the parquet
    tables in ``sf_dir``: row count, then value hash. A query without an
    oracle gets the rows-only check: a non-empty result. Returns a
    mismatch description, or None."""
    rows, h = digest(got)
    if sql is None:
        return None if rows else f"{name}: empty result"
    want_rows, want_h = digest(duckdb_frame(sf_dir, sql, tables))
    if rows != want_rows:
        return f"{name}: rows {rows} != oracle {want_rows}"
    if h != want_h:
        return f"{name}: value hash differs from oracle"
    return None
