"""The files a query writes (core/tables ``layout`` and ``round_trip``):
a returned frame keeps its rows whatever later calls write, a stream
staged from a relative fixture path finds its rows, and a source table
regenerated in place is never served from an older generation's files."""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

import duckdb
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from mu_swarm_logger_service_spark.core.tables import TABLES
from tests.oracle_harness import compare

QUERIES = entrymod.queries()

# Queries whose sink is written fresh by every call.
ROUND_TRIP_QUERIES = (
    "q_sink_partitioned",
    "q_sink_triples",
    "q_source_formats",
    "q_layout_compaction",
)


def _sha(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize("name", ROUND_TRIP_QUERIES)
def test_frame_outlives_later_calls(spark, sf_dir, name):
    """Call on one fixture, then on another, then on the first again, and
    only then collect: every frame still holds its own rows."""
    other = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(other):
        pytest.skip(f"no second fixture at {other}")
    q = QUERIES[name]
    serial = {d: _sha(q(spark, d)) for d in (sf_dir, other)}
    frames = [(d, q(spark, d)) for d in (sf_dir, other, sf_dir)]
    assert [_sha(f) for _, f in frames] == [serial[d] for d, _ in frames]


def test_stream_from_relative_sf_dir(spark, sf_dir, tmp_path):
    """A relative fixture path stages a stream source that resolves: the
    first call on a fresh copy builds the staging, and the result equals
    the absolute path's."""
    fresh = tmp_path / "fixture"
    shutil.copytree(sf_dir, fresh)
    q = QUERIES["q_stream_holt"]
    rel = _sha(q(spark, os.path.relpath(fresh)))
    assert rel == _sha(q(spark, str(fresh)))
    assert rel == _sha(q(spark, os.path.relpath(fresh)))


@pytest.fixture
def fixture_copy(sf_dir):
    """A private copy of the fixture, under a path made of identifier
    characters only."""
    root = tempfile.mkdtemp(prefix="fixture_")
    d = os.path.join(root, "sf")
    shutil.copytree(sf_dir, d)
    yield d
    shutil.rmtree(root, ignore_errors=True)


def test_bucketed_tables_follow_regenerated_source(spark, fixture_copy):
    """Both bucketed-table queries match DuckDB, and still match after
    ``orders`` is rewritten in place with half its rows: the bucketed
    copies of the old generation must not be served."""
    d = fixture_copy
    oracles = entrymod.oracle_sql()
    keys = ("q_join_bucketed", "q_sink_bucketed")

    def parity():
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{d}/{t}.parquet')")
        for k in keys:
            compare(spark, con, d, QUERIES[k], oracles[k], name=k)
        con.close()

    parity()
    path = os.path.join(d, "orders.parquet")
    orders = pq.read_table(path)
    pq.write_table(orders.slice(0, orders.num_rows // 2), path)
    parity()
