"""Class-K degenerate-cardinality gate: EMPTY fact tables.

The "day one, nothing ingested yet" shape — dims intact, every fact
table (orders/lineitem/events/documents/embeddings) zero rows with the
real schema.  First contact (round 12) split 14 queries through five
mechanisms:

- sink→read-back layouts with NO part files defeat parquet schema
  inference (q_sink_triples/q_sink_partitioned/q_scan_dpp/
  q_layout_compaction/q_stream_rollup) — every read-back now carries
  the writer's schema explicitly;
- Spark emits NO rows for ROLLUP/CUBE of an empty relation while
  ANSI/DuckDB synthesize the () grand-total row — declared
  observed-groups-only (oracle HAVING COUNT(*) > 0);
- zero denominators crash ANSI division where DuckDB's /0 yields NULL
  (anova f_stat/eta_sq, NMI's sqrt(Hx*Hy), funnel's conversion rate,
  chi2's cramers_v) — all ride F.try_divide, which also covers the
  REAL-data degenerates (single group k=1, single category r=1,
  zero marginal entropy, zero signups);
- NULL boolean flags render differently per engine through pandas
  (Spark None vs DuckDB NaN) — violation counts COALESCE to 0
  (vacuous pass) and the SRM audit emits no row when no users exist;
- dimension ENUMERATION vs data-driven rows (embed_moments' stack()
  minted 64 all-NULL rows where the oracle's unnest of zero vectors
  produced none) — moments emit only when n > 0.

The gate re-runs the full oracle compare for every first-contact key on
the empty fixture; tests/test_oracle_parity.py keeps proving the same
pairs on real data.
"""

import os
import shutil

import duckdb
import pytest
import pyarrow.parquet as pq

from tests.oracle_harness import compare

BASE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
DIMS = ["region", "nation", "customer", "supplier", "part"]
FACTS = ["orders", "lineitem", "events", "documents", "embeddings"]

# Every key class K split on first contact (round 12).
KEYS = [
    "q_sink_triples", "q_sink_partitioned", "q_scan_dpp",
    "q_layout_compaction", "q_stream_rollup",
    "q_agg_grouping_sets", "q_agg_cube",
    "q_agg_chi2", "q_agg_anova",
    "q_analytics_mutual_info", "q_analytics_srm", "q_ts_funnel",
    "q_audit_expectations", "q_llm_embed_moments",
]


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sfempty"))
    for t in DIMS:
        shutil.copy(os.path.join(BASE, f"{t}.parquet"),
                    os.path.join(out, f"{t}.parquet"))
    for t in FACTS:
        sch = pq.read_schema(os.path.join(BASE, f"{t}.parquet"))
        pq.write_table(sch.empty_table(), os.path.join(out, f"{t}.parquet"))
    return out


@pytest.fixture(scope="module")
def duck_empty(empty_dir):
    con = duckdb.connect()
    for t in DIMS + FACTS:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{empty_dir}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("key", KEYS)
def test_empty_facts_parity(spark, empty_dir, duck_empty, key):
    import __spark_entry__ as em

    qs, oracles = em.queries(), em.oracle_sql()
    sql = oracles.get(key)
    if sql is None:
        pytest.skip(f"{key} is rows-only by design")
    compare(spark, duck_empty, empty_dir, qs[key], sql, name=key,
            allow_empty=True)


def test_sink_overwrite_immune_to_dynamic_mode_leak(spark, empty_dir):
    """A session leaked into partitionOverwriteMode=dynamic (e.g. by a
    rollup upsert) must not let a partitioned sink keep a previous run's
    partitions when the source is empty: every call writes its sink to a
    fresh directory (core.tables.round_trip).  (r12 find: flaky
    q_sink_triples empty-facts parity — spark=4 stale rows vs oracle=0.)"""
    import __spark_entry__ as em

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    try:
        # Run on REAL data first...
        em.queries()["q_sink_triples"](spark, BASE).collect()
        # ...then leak dynamic mode and re-run on the empty fixture.
        spark.conf.set(key, "dynamic")
        rows = em.queries()["q_sink_triples"](spark, empty_dir).collect()
        assert rows == [], f"stale sink partitions survived: {rows}"
    finally:
        spark.conf.set(key, prev)


def test_audit_expectations_vacuous_pass(spark, empty_dir):
    """The data-quality suite on an empty batch reports all rules
    passed with 0 violations — never NULL flags."""
    import __spark_entry__ as em

    rows = em.queries()["q_audit_expectations"](spark, empty_dir).collect()
    assert len(rows) == 6
    assert all(r.n_violations == 0 and r.passed is True for r in rows)
