"""Focused pins for the r13 optimization internals.

Each test pins ONE mechanism this round changed:
- backlog-sized streaming state partitions (_state_partitions, applied
  by the stream runner _run_available_now),
- the per-session, freshness-keyed base-table plan cache (load),
- the one-SQL-string cosine fast path's bit-identity with the Column path,
- deterministic checkpoint unpersist (pagerank and star-contraction loops,
  memory-sink views).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mu_swarm_logger_service_spark.core import tables as T
from mu_swarm_logger_service_spark.core.registry import QUERIES
from mu_swarm_logger_service_spark.streaming.queries import (
    _parse_bytes, _run_available_now, _state_partitions)


def test_state_scope_sizes_partitions_from_backlog(spark, tmp_path):
    """clamp(backlog/advisory, 1, defaultParallelism); None backlog falls
    back to defaultParallelism; the runner applies the count while the
    stream runs and restores the prior value."""
    key = "spark.sql.shuffle.partitions"
    n_par = spark.sparkContext.defaultParallelism
    advisory = _parse_bytes(spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    prev = spark.conf.get(key)

    assert _state_partitions(spark, 1) == 1  # 1-byte backlog
    assert _state_partitions(spark, advisory * n_par * 100) == n_par  # clamp
    assert _state_partitions(spark, None) == n_par  # unknown backlog

    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    seen = []
    out = _run_available_now(
        spark.readStream.schema("id long").parquet(src),
        src,  # a few-KB backlog -> 1 partition
        write_batch=lambda bdf, batch_id, sink: seen.append(
            spark.conf.get(key)),
        read_back=lambda sink: spark.range(1))
    assert out.count() == 1
    assert seen and set(seen) == {"1"}
    assert spark.conf.get(key) == prev


def test_parse_bytes():
    assert _parse_bytes("64MB") == 64 << 20
    assert _parse_bytes("64m") == 64 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("1024") == 1024


def test_load_plan_cache_hits_and_freshness(spark, sf_dir, tmp_path):
    """Same session + same fixture -> the same plan object (no re-analysis);
    regenerating the file in place (new stat signature) -> cache miss."""
    a = T.load(spark, sf_dir, "supplier")
    b = T.load(spark, sf_dir, "supplier")
    assert a is b  # plan reuse, not a fresh reader round-trip

    # copy a table into tmp, load, then regenerate in place
    tdir = str(tmp_path / "sfcopy")
    os.makedirs(tdir)
    shutil.copy(os.path.join(sf_dir, "supplier.parquet"),
                os.path.join(tdir, "supplier.parquet"))
    c1 = T.load(spark, tdir, "supplier")
    n1 = c1.count()
    # regenerate: rewrite the file with fewer rows (mtime_ns/size change)
    sub = c1.limit(max(1, n1 - 1)).toPandas()
    os.remove(os.path.join(tdir, "supplier.parquet"))
    sub.to_parquet(os.path.join(tdir, "supplier.parquet"))
    c2 = T.load(spark, tdir, "supplier")
    assert c2 is not c1
    assert c2.count() == len(sub)


def test_cosine_name_path_bit_identical(spark, sf_dir):
    """The one-SQL-string cosine/cosine0 must produce the same bits as the
    Column-lambda path on real fixture vectors (including invalids being
    pre-filtered by load_vec)."""
    from mu_swarm_logger_service_spark.llm.similarity import (
        cosine, cosine0, load_vec)

    emb = load_vec(spark, sf_dir).select("vec_id", "embedding").limit(200)
    a = emb.select(F.col("vec_id").alias("i"),
                   F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("j"),
                   F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("i") % 13 == F.col("j") % 13)
    for fn in (cosine, cosine0):
        old = pairs.select("i", "j",
                           fn(F.col("ea"), F.col("eb")).alias("c")).collect()
        new = pairs.select("i", "j", fn("ea", "eb").alias("c")).collect()
        o = sorted(old, key=lambda r: (r.i, r.j))
        n = sorted(new, key=lambda r: (r.i, r.j))
        assert len(o) == len(n) and len(o) > 0
        for x, y in zip(o, n):
            same = (x.c == y.c) or (x.c is None and y.c is None) \
                or (x.c != x.c and y.c != y.c)
            assert same, (x, y)


def test_cosine_name_path_rejects_non_identifier():
    from mu_swarm_logger_service_spark.llm.similarity import cosine

    with pytest.raises(ValueError):
        cosine("a.b", "c")  # dotted name would mis-parse in SQL text
    with pytest.raises(ValueError):
        cosine("a; DROP", "c")


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_pagerank_unpersists_loop_checkpoints(spark, sf_dir):
    """After the final action, only the LAST round's checkpoint may
    remain pinned — loop-entry tables and earlier rounds are freed inline
    (guide §5; the ContextCleaner lag this replaces is asynchronous) —
    for both loops that run iterate(free=True): PageRank's rank vector
    and star contraction's edge set."""
    for name in ("q_llm_pagerank", "q_llm_cc_largestar"):
        before = _n_persistent(spark)
        df = QUERIES[name](spark, sf_dir)
        assert df.count() > 0
        leaked = _n_persistent(spark) - before
        assert leaked <= 1, f"{name} left {leaked} persistent RDDs pinned"


def test_memory_sink_view_dropped(spark, sf_dir):
    """The stream runner must not leave its uniquely-named memory-sink
    temp view registered (each leaked view pins the sink's collected rows)
    — for every query that streams into a memory sink."""
    for name in ("q_stream_output_modes", "q_stream_static_join",
                 "q_stream_watermark"):
        before = {t.name for t in spark.catalog.listTables()
                  if t.isTemporary}
        assert QUERIES[name](spark, sf_dir).count() > 0, name
        after = {t.name for t in spark.catalog.listTables()
                 if t.isTemporary}
        new_views = {v for v in after - before if v.startswith("t_")}
        assert not new_views, f"{name} leaked memory-sink views: {new_views}"
