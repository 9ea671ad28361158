"""Result checks: engine outputs against the DuckDB oracles on the same inputs.

A result is reduced to a digest of its canonical rows: columns sorted by
name, cells rendered exactly (floats by ``repr``), rows sorted.  Two results
match when row count and digest agree, which is the comparison the project's
oracle-parity suite makes.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def _cell(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return f"dec:{v.normalize()}"
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(row count, sha256 of the canonical rows) of a pandas result."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r)
            for r in pdf[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple(str(x) for x in r))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()


def oracle_connection(data_dir: str, events_glob: str | None = None):
    """DuckDB with one view per input table, in UTC like the engine."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if t == "events" and events_glob:
            path = events_glob
        if os.path.exists(path) or "*" in path:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_digests(con, sqls: dict[str, str]) -> dict[str, tuple[int, str]]:
    return {name: digest(con.execute(sql).fetchdf()) for name, sql in sqls.items()}
