"""Session purity under concurrency: registered queries run from several
threads on one shared session return exactly the rows they return when
run one at a time.  A query body that wrote session conf, registered a
fixed catalog name or shared a module-level cache unsafely would show
here as a hash mismatch or an error."""

from __future__ import annotations

import hashlib
import shutil
from concurrent.futures import ThreadPoolExecutor

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()

# The dedup family and the near-dup graph queries built on it; extend
# with further session-sensitive queries as they are audited.
CONCURRENT_QUERIES = (
    "q_llm_minhash_jaccard",
    "q_llm_near_dedup",
    "q_llm_near_dedup_incremental",
    "q_llm_simhash",
    "q_llm_containment",
    "q_llm_prefix_filter_join",
    "q_llm_dedup_groups",
    "q_llm_dup_triangles",
    "q_llm_cc_largestar",
)

# Queries that write files (derived layouts, per-call sinks, a staged
# stream source): run cold, their builders race each other.
FILE_QUERIES = (
    "q_scan_dpp",
    "q_scan_merge_schema",
    "q_layout_compaction",
    "q_source_docker_events",
    "q_source_startup_scan",
    "q_source_container_logs",
    "q_source_formats",
    "q_sink_partitioned",
    "q_sink_triples",
    "q_stream_holt",
)


def _rows_sha256(spark, sf_dir, name: str) -> str:
    rows = sorted(repr(tuple(r)) for r in QUERIES[name](spark, sf_dir).collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_concurrent_queries_match_serial(spark, sf_dir):
    serial = {q: _rows_sha256(spark, sf_dir, q) for q in CONCURRENT_QUERIES}
    with ThreadPoolExecutor(max_workers=4) as pool:
        hashes = pool.map(lambda q: _rows_sha256(spark, sf_dir, q),
                          CONCURRENT_QUERIES)
        concurrent = dict(zip(CONCURRENT_QUERIES, hashes))
    assert concurrent == serial


def test_cold_file_queries_match_serial(spark, sf_dir, tmp_path):
    """Each file-writing query runs twice from 4 threads on a fresh copy
    of the fixture, so no layout exists yet and concurrent builders of the
    same layout and per-call sinks meet; every result must equal the
    serial hash taken on a second copy."""
    cold, warm = tmp_path / "cold", tmp_path / "serial"
    shutil.copytree(sf_dir, cold)
    shutil.copytree(sf_dir, warm)
    serial = {q: _rows_sha256(spark, str(warm), q) for q in FILE_QUERIES}
    runs = FILE_QUERIES * 2
    with ThreadPoolExecutor(max_workers=4) as pool:
        hashes = list(pool.map(lambda q: _rows_sha256(spark, str(cold), q),
                               runs))
    assert {(q, h) for q, h in zip(runs, hashes)} == set(serial.items())
