"""Focused pins for the r13 optimization internals.

Each test pins ONE mechanism this round changed:
- backlog-sized streaming state partitions (_state_partitions, applied
  by the stream runner _run_available_now),
- the per-session, freshness-keyed base-table plan cache (load),
- the SQL-text folds' bit-identity with the Column-lambda folds,
- deterministic checkpoint unpersist (pagerank and star-contraction loops,
  memory-sink views).
"""

from __future__ import annotations

import os
import shutil
import struct

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


def _ref_dot(a, b):
    """The Column-lambda fold core/folds replaced — the reference."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def _ref_norm(a):
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


def _ref_cosine(a, b):
    return _ref_dot(a, b) / (_ref_norm(a) * _ref_norm(b))


def _ref_cosine0(a, b):
    nprod = _ref_norm(a) * _ref_norm(b)
    return F.when(nprod != 0.0, _ref_dot(a, b) / nprod).otherwise(F.lit(0.0))


def _assert_same_bits(df, new, ref, key):
    """``new`` and ``ref`` give the same IEEE bits (NULL == NULL) on
    every row of ``df``; returns the values."""
    rows = df.select(*key, new.alias("new"), ref.alias("ref")).collect()
    assert rows
    bits = lambda v: None if v is None else struct.pack("<d", v)  # noqa: E731
    for r in rows:
        assert bits(r.new) == bits(r.ref), r
    return [r.new for r in rows]


def test_cosine_name_path_bit_identical(spark, sf_dir):
    """The SQL-text folds (core/folds) produce the same bits as the
    Column-lambda folds they replaced, on real fixture vectors: identifier,
    slice and lambda-struct-field operands, cosine0 on a zero-norm slice,
    and the fsum entropy terms (log2 and ln)."""
    from mu_swarm_logger_service_spark.core.folds import (
        cosine, cosine0, fsum)
    from mu_swarm_logger_service_spark.llm.similarity import load_vec

    emb = load_vec(spark, sf_dir).select("vec_id", "embedding").limit(200)
    a = emb.select(F.col("vec_id").alias("i"),
                   F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("j"),
                   F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("i") % 13 == F.col("j") % 13)
    ea, eb = F.col("ea"), F.col("eb")
    for new, ref in ((cosine, _ref_cosine), (cosine0, _ref_cosine0)):
        _assert_same_bits(pairs, F.expr(new("ea", "eb")), ref(ea, eb),
                          ["i", "j"])
    _assert_same_bits(
        pairs, F.expr(cosine0("slice(ea, 1, 32)", "slice(eb, 1, 32)")),
        _ref_cosine0(F.slice(ea, 1, 32), F.slice(eb, 1, 32)), ["i", "j"])

    # A zero prefix: the slice norm is 0, so cosine0 is defined as 0.0.
    zpad = pairs.withColumn(
        "za", F.concat(F.array_repeat(F.lit(0.0).cast("float"), 8), ea))
    zero = _assert_same_bits(
        zpad, F.expr(cosine0("slice(za, 1, 8)", "slice(eb, 1, 8)")),
        _ref_cosine0(F.slice("za", 1, 8), F.slice(eb, 1, 8)), ["i", "j"])
    assert set(zero) == {0.0}

    # Lambda-field operand inside an outer transform (the IVF-PQ shape).
    cents = emb.filter("vec_id < 8").agg(F.array_sort(F.collect_list(
        F.struct(F.col("vec_id").alias("cell"),
                 F.col("embedding").alias("ce")))).alias("cents"))
    withc = a.crossJoin(cents).withColumn("e", ea)
    _assert_same_bits(
        withc,
        F.expr(f"transform(cents, c -> {cosine('e', 'c.ce')})")[3],
        F.transform("cents", lambda c: _ref_cosine(F.col("e"), c["ce"]))[3],
        ["i"])

    # Entropy folds over a sorted (lang, n) struct list.
    docs = T.load(spark, sf_dir, "documents")
    ls = (docs.groupBy("source", "lang").count()
          .groupBy("source")
          .agg(F.sort_array(F.collect_list(F.struct("lang", "count")))
               .alias("ls"), F.sum("count").alias("n")))
    p = lambda e: e["count"].cast("double") / F.col("n")  # noqa: E731
    for sql_log, col_log in (("log2", F.log2), ("ln", F.log)):
        pe = "(CAST(e.count AS DOUBLE) / n)"
        _assert_same_bits(
            ls, -F.expr(fsum("ls", f"{pe} * {sql_log}({pe})", "e")),
            -F.aggregate("ls", F.lit(0.0),
                         lambda acc, e: acc + p(e) * col_log(p(e))),
            ["source"])


def test_cosine_name_path_rejects_non_identifier():
    """Fold operands are interpolated into SQL text: only identifier
    paths (each part backtick-quoted) and integer-bounded slices pass."""
    from mu_swarm_logger_service_spark.core.folds import (
        cosine, norm, operand)

    for bad in ("a; DROP", "a b", "a..b", "1a", "a`b", "slice(a, 1, n)",
                "slice(a, 1.5, 8)", "max(a)"):
        with pytest.raises(ValueError):
            cosine(bad, "c")
    with pytest.raises(ValueError):
        norm(F.col("a"))
    assert operand("a.b") == "`a`.`b`"
    assert operand("slice(c.ce, 1, 32)") == "slice(`c`.`ce`, 1, 32)"
    assert "zip_with(`a`.`b`, `c`, " in cosine("a.b", "c")


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
