"""Local mirror of the driver's DuckDB-oracle comparison.

Mimics `__spark_entry__.py`'s contract: run the Spark query and the oracle
SQL, sort columns by name, and compare row count + values order-insensitively
with canonicalized cell values.  Stricter than a hash: on mismatch it reports
the first differing rows so the query can be fixed.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import math

import numpy as np
import pandas as pd


def _canon_cell(v):
    if v is None:
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        # exact float identity (repr round-trips the bits)
        return repr(f)
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return int(v)
    if isinstance(v, _dec.Decimal):
        return f"dec:{v.normalize()}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_cell(x)) for k, x in v.items()))
    return v


def _canon_frame(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon_cell(v) for v in row))
    out.sort(key=lambda r: tuple(str(x) for x in r))
    return out


_DRIVER_UNHASHABLE = (bytes, bytearray, list, tuple, np.ndarray, dict)


def compare(spark, duck, sf_dir: str, fn, sql: str, name: str = "?",
            allow_empty: bool = False) -> None:
    sdf = fn(spark, sf_dir).toPandas()
    # A 0-row result hash-matching a 0-row oracle is a VACUOUS pass (it
    # cannot detect wrong values); only explicitly-allowlisted
    # selective-predicate queries at the tiny sf0.001 fixture may be empty
    # (tests/test_oracle_parity.ALLOWED_EMPTY_SF0001).
    assert len(sdf) > 0 or allow_empty, f"{name}: vacuously empty at {sf_dir}"
    # Driver fidelity: the grading driver pandas-sorts raw cells and dies
    # on unhashable types (bytearray/list/dict).  _canon_cell renders them
    # for diffing, so without this check the local harness would be MORE
    # lenient than the driver — the r1/r6 red-row class.  (Registry-wide
    # schema ban lives in tests/test_registry_contract.py; this catches
    # object-dtype leaks the schema can't see.)
    for col in sdf.columns:
        bad = any(isinstance(v, _DRIVER_UNHASHABLE) for v in sdf[col])
        assert not bad, (
            f"{name}.{col}: driver-unhashable cell type (bytes/list/dict) "
            "— render it (hex/to_json/concat_ws) before returning")
    ddf = duck.execute(sql).fetchdf()
    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"{name}: column mismatch spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}"
    )
    assert len(sdf) == len(ddf), f"{name}: row count spark={len(sdf)} duck={len(ddf)}"
    a, b = _canon_frame(sdf), _canon_frame(ddf)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(
            f"{name}: value mismatch; first diffs (spark vs duck): {diffs}"
        )
