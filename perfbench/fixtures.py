"""Seeded inputs for the benchmark, derived from the project's sf0.01 fixtures.

``data/sf0.01/`` is a copy of the project's generated sf0.01 test tables
(TESTDATA.md: seed 42; lineitem 60,000 rows, events 10,000).  A run never
reads them in place: it writes its own inputs from them by a seeded
transform that keeps each table's Arrow schema, Parquet logical types and
value distributions:

- every table's rows are permuted;
- the keys ``tools/gen_replicated.py`` re-keys get a seeded offset:
  ``o_orderkey``/``l_orderkey`` share one (the join stays intact), and
  ``event_id``, ``doc_id`` and ``vec_id`` get one each.  Dimension keys and
  ``user_id`` are kept, so every fan-out and group size is the fixture's.

The same seed always gives the same bytes; every seed gives the same sizes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
# table -> the key columns that take the same offset
REKEY = {"orders": ("o_orderkey", "order"), "lineitem": ("l_orderkey", "order"),
         "events": ("event_id", "event"), "documents": ("doc_id", "doc"),
         "embeddings": ("vec_id", "vec")}


def _read(name: str) -> pa.Table:
    return pq.read_table(os.path.join(BASE, f"{name}.parquet"))


def _offsets(rng: np.random.Generator) -> dict[str, int]:
    return {k: int(rng.integers(1, 10_000)) * 100_000
            for k in ("order", "event", "doc", "vec")}


def _rekey(tbl: pa.Table, column: str, offset: int) -> pa.Table:
    i = tbl.schema.get_field_index(column)
    col = pc.add(tbl.column(i), pa.scalar(offset, tbl.schema.field(i).type))
    return tbl.set_column(i, tbl.schema.field(i), col)


def _permute(tbl: pa.Table, rng: np.random.Generator) -> pa.Table:
    return tbl.take(pa.array(rng.permutation(tbl.num_rows)))


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    rng = np.random.default_rng(seed)
    offsets = _offsets(rng)
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in TABLES:
        tbl = _permute(_read(name), rng)
        if name in REKEY:
            column, key = REKEY[name]
            tbl = _rekey(tbl, column, offsets[key])
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


def write_backlog(out_dir: str, seed: int, replicas: int, n_files: int) -> int:
    """An ingest backlog: ``<out_dir>/events.parquet/`` holding ``replicas``
    copies of the events table, re-keyed to disjoint ``event_id`` ranges as
    ``tools/gen_replicated.py`` does, permuted and split into ``n_files``
    files.  File modification times follow a seeded order, and the file
    stream source replays files in that order.  Returns the event count."""
    rng = np.random.default_rng(seed)
    base = _read("events")
    first = _offsets(rng)["event"]
    span = int(pc.max(base.column("event_id")).as_py()) + 1
    events = _permute(pa.concat_tables(
        [_rekey(base, "event_id", first + k * span) for k in range(replicas)]), rng)
    src = os.path.join(out_dir, "events.parquet")
    os.makedirs(src, exist_ok=True)
    bounds = np.linspace(0, events.num_rows, n_files + 1).astype(int)
    mtime = 1_700_000_000
    for rank, k in enumerate(rng.permutation(n_files)):
        path = os.path.join(src, f"part-{k:05d}.parquet")
        pq.write_table(events.slice(bounds[k], bounds[k + 1] - bounds[k]), path)
        os.utime(path, (mtime + rank, mtime + rank))
    return events.num_rows
