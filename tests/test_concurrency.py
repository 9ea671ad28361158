"""Session purity under concurrency: registered queries run from several
threads on one shared session return exactly the rows they return when
run one at a time.  A query body that wrote session conf, registered a
fixed catalog name or shared a module-level cache unsafely would show
here as a hash mismatch or an error."""

from __future__ import annotations

import hashlib
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
