"""Ingestion parity tests (SURVEY.md §2.1 rows 3-6): the reference's whole
dataflow — event stream → filter → enrich → triple sink — run under REAL
readStream and checked against the batch twin."""

from __future__ import annotations

import shutil
import tempfile


from mu_swarm_logger_service_spark.core.tables import load
from mu_swarm_logger_service_spark.sources.container_logs import (
    read_container_logs,
)
from mu_swarm_logger_service_spark.sources.docker_events import (
    lifecycle_filter,
    read_docker_events,
)
from mu_swarm_logger_service_spark.sources.triples import events_to_triples


def _run_stream(df, mode="append"):
    import uuid
    name = f"t_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        df.writeStream.format("memory").queryName(name).outputMode(mode)
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = df.sparkSession.table(name).localCheckpoint(eager=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


def test_docker_events_stream_equals_batch(spark, sf_dir):
    """Row 3: the same decode+filter transform under readStream reproduces
    the batch result (replayable-source fault tolerance the reference
    lacks)."""
    batch = lifecycle_filter(read_docker_events(spark, sf_dir))
    want = batch.groupBy("Action").count()
    stream = lifecycle_filter(read_docker_events(spark, sf_dir, streaming=True))
    got = _run_stream(stream.groupBy("Action").count(), "complete")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_container_logs_stream_equals_batch(spark, sf_dir):
    batch = read_container_logs(spark, sf_dir).groupBy("stream").count()
    stream = read_container_logs(spark, sf_dir, streaming=True)
    got = _run_stream(stream.groupBy("stream").count(), "complete")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_triple_pipeline_end_to_end_streaming(spark, sf_dir):
    """The reference's full job, engine-style: event stream → triples →
    idempotent foreachBatch parquet sink; sink contents == batch transform."""
    import os
    from mu_swarm_logger_service_spark.streaming.transforms import stream_events

    sink = tempfile.mkdtemp(prefix="triple_sink_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_")

    def write_batch(bdf, batch_id):
        bdf.write.mode("overwrite").parquet(os.path.join(sink, f"batch={batch_id}"))

    q = (
        events_to_triples(stream_events(spark, sf_dir))
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(os.path.join(sink, "batch=*"))
    want = events_to_triples(load(spark, sf_dir, "events"))
    assert got.count() == want.count()
    assert got.select("s", "p", "o").exceptAll(want.select("s", "p", "o")).count() == 0
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_triples_four_per_event(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    t = events_to_triples(ev)
    assert t.count() == 4 * ev.count()
    assert t.select("s").distinct().count() == ev.count()
    assert {r.g for r in t.select("g").distinct().collect()} == {
        "http://mu.semte.ch/application"
    }


def test_events_ts_encoding_matrix(spark, sf_dir, tmp_path_factory):
    """core.tables claims events.ts loads identically however the parquet
    writer encoded it — int64 NANOS (legacy flag + div-1000 normalize),
    NTZ micros (cast), or LTZ micros (pass-through).  The shipped
    testdata only exercises ONE encoding per generation, so the other
    branches were claim-without-test until r10.  Re-encode the same
    events table all three ways and require bit-identical loads
    (epoch_us per event), plus a DuckDB cross-check on the NANOS dir
    (its reader does its own ns→µs conversion — the layer class H
    taught us never to trust untested)."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    base = pq.read_table(f"{sf_dir}/events.parquet")
    i = base.schema.get_field_index("ts")

    def reencode(unit, tz):
        t = base.set_column(
            i, pa.field("ts", pa.timestamp(unit, tz=tz)),
            base.column("ts").cast(pa.timestamp(unit, tz=tz)))
        d = tmp_path_factory.mktemp(f"ev_{unit}_{tz or 'ntz'}")
        pq.write_table(t, os.path.join(str(d), "events.parquet"))
        return str(d)

    dirs = {
        "nanos": reencode("ns", None),
        "ntz_us": reencode("us", None),
        "ltz_us": reencode("us", "UTC"),
    }

    def snap(d):
        return dict(
            load(spark, d, "events")
            .select("event_id", F.unix_micros("ts").alias("us"))
            .collect())

    ref = snap(sf_dir)
    for name, d in dirs.items():
        got = snap(d)
        assert got == ref, f"{name} load diverges from shipped encoding"
        assert load(spark, d, "events").schema["ts"].dataType.typeName() \
            == "timestamp", name

    duck = dict(duckdb.sql(
        f"SELECT event_id, epoch_us(ts) FROM "
        f"read_parquet('{dirs['nanos']}/events.parquet')").fetchall())
    assert duck == ref, "DuckDB's ns read disagrees with the engine load"

    # Sub-microsecond ns values (which µs-aligned testdata never carries):
    # both converters must truncate toward zero identically at either
    # sign — measured r10: Spark's `div 1000` and DuckDB's parquet ns
    # read agree on every probe (+250ns -> 0, -250ns -> 0, -1250ns -> -1).
    ns_vals = [0, 250, 750, 999, 1000, 1250, -250, -750, -1000, -1250]
    t = pa.table({"event_id": pa.array(range(len(ns_vals)), pa.int64()),
                  "ts": pa.array(ns_vals, pa.timestamp("ns"))})
    d = tmp_path_factory.mktemp("ev_subus")
    pq.write_table(t, os.path.join(str(d), "events.parquet"))
    sp = dict(load(spark, str(d), "events")
              .select("event_id", F.unix_micros("ts").alias("us")).collect())
    dk = dict(duckdb.sql(
        f"SELECT event_id, epoch_us(ts) FROM "
        f"read_parquet('{d}/events.parquet')").fetchall())
    assert sp == dk
    assert sp[1] == 0 and sp[6] == 0 and sp[9] == -1  # trunc-toward-zero


def test_nanos_events_read_without_session_conf(spark, sf_dir, tmp_path,
                                               monkeypatch):
    """A TIMESTAMP(NANOS) ``events.ts``, file- or directory-shaped, loads
    and streams the same rows as the shipped micros table, and reading it
    writes no session conf: the footer decides the read schema, so no
    query planned meanwhile in the same session can see a flipped flag."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.conf import RuntimeConfig

    from mu_swarm_logger_service_spark.streaming.transforms import stream_events

    base = pq.read_table(f"{sf_dir}/events.parquet")
    i = base.schema.get_field_index("ts")
    nanos = base.set_column(i, pa.field("ts", pa.timestamp("ns")),
                            base.column("ts").cast(pa.timestamp("ns")))
    as_file, as_dir = tmp_path / "file", tmp_path / "dir" / "events.parquet"
    as_file.mkdir()
    as_dir.mkdir(parents=True)
    pq.write_table(nanos, as_file / "events.parquet")
    half = nanos.num_rows // 2
    pq.write_table(nanos.slice(0, half), as_dir / "part-0.parquet")
    pq.write_table(nanos.slice(half), as_dir / "part-1.parquet")

    def rows(df):
        return sorted(df.withColumn("ts", F.unix_micros("ts")).collect())

    ref = rows(load(spark, sf_dir, "events"))
    writes = []
    for name in ("set", "unset"):
        orig = getattr(RuntimeConfig, name)
        monkeypatch.setattr(RuntimeConfig, name, lambda self, key, *v, _o=orig:
                            writes.append(key) or _o(self, key, *v))
    before = spark.conf.getAll
    for d in (str(as_file), os.path.dirname(as_dir)):
        assert rows(load(spark, d, "events")) == ref, d
        assert rows(_run_stream(stream_events(spark, d))) == ref, d
    assert writes == []
    assert spark.conf.getAll == before
