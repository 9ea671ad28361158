"""Registered streaming queries (SURVEY.md §2.9 rows 58-66).

Two execution shapes:

1. **Batch-checked** (rows 58-60, 62-64): the pure transform from
   transforms.py applied to the batch events table — the DuckDB oracle
   validates the streaming semantics exactly (SURVEY.md §5.2.4).
2. **Streaming-executed** (rows 61, 65-66): a real ``readStream`` job run
   with ``Trigger.AvailableNow`` inside the query function, always by the
   one runner ``_run_available_now`` — micro-batch
   planning, state stores, and sink commit protocol all engaged.  Where the
   final state is deterministic (complete-mode agg, idempotent foreachBatch
   sink) the oracle still checks it exactly; the watermark query is
   rows-only (drop set depends on batch boundaries; the replay harness in
   tests/test_streaming.py pins it down).

Spark 4's ``transformWithStateInPandas`` (the successor to
applyInPandasWithState: named typed state, timers) was evaluated for the
stateful row: the API exists here but its state-server protocol requires
``google.protobuf``, which this container lacks (and installs are off) —
the driver worker crashes in StateMessage_pb2.  The
``applyInPandasWithState`` twin (streaming/stateful.py) covers arbitrary
per-key state; swap APIs when the dependency is available.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.numeric import dsum_sql, measure
from ..core.registry import query
from ..core.tables import layout, load, round_trip, unpersist_cp
from . import transforms as X

_TUMBLING_SQL = f"""
SELECT
  time_bucket(INTERVAL '1 hour', ts) AS window_start,
  event_type,
  COUNT(*) AS n,
  {dsum_sql('value')} AS sum_value
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


@query("q_stream_tumbling", oracle=_TUMBLING_SQL)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.tumbling_counts(load(spark, sf_dir, "events"))


@query("q_stream_sliding", oracle="""
SELECT
  make_timestamp(((CAST(floor(epoch(ts) / 900) AS BIGINT) - k) * 900) * 1000000)
    AS window_start,
  event_type,
  COUNT(*) AS n
FROM (SELECT * FROM events WHERE ts IS NOT NULL) events,
     unnest([0, 1, 2, 3]) AS t(k)
GROUP BY 1, 2
""")
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (row 59).  Oracle: every event belongs to exactly 4
    epoch-aligned 1h/15m windows — start = floor(t/slide)*slide - k*slide,
    k in 0..3 (each start s satisfies s <= t < s + 1h)."""
    return X.sliding_counts(load(spark, sf_dir, "events"))


@query("q_stream_session", oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  -- event_id tiebreaker is LOAD-BEARING: under duplicate (user_id, ts)
  -- rows a ROWS-frame running sum ordered by ts alone places the brk=1
  -- row arbitrarily within the tie group and can split one session into
  -- two (found by the 4x-replication sweep, round 7).  Strict > gap:
  -- measured, session_window MERGES an event exactly gap after its
  -- predecessor (closed interval); epoch_us keeps the comparison on
  -- exact integer micros (fractional epoch() is the documented trap).
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST((CASE WHEN abs(value) < 1e21 THEN value END)
                     AS DECIMAL(27,6))) AS DOUBLE) AS session_value
FROM numbered
GROUP BY user_id, session_id
""")
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (row 60): Spark's native session_window validated
    against an independent gaps-and-islands formulation in DuckDB
    (session_end = last event + gap, per session_window's definition)."""
    return X.session_windows(load(spark, sf_dir, "events"), "30 minutes")


@query("q_stream_dedup", oracle="SELECT * FROM events")
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dedup (row 62): an at-least-once stream simulated by
    doubling every event, restored to exactly-once by key dedup.  The
    streaming twin (dropDuplicatesWithinWatermark, bounded state) runs in
    tests/test_streaming.py."""
    ev = load(spark, sf_dir, "events")
    at_least_once = ev.unionByName(ev)
    return X.dedup_events(at_least_once)


@query("q_stream_stateful", oracle="""
SELECT event_id, user_id, ts,
       COUNT(*) OVER w AS n_so_far,
       CAST(SUM(CAST((CASE WHEN abs(value) < 1e21 THEN value END)
                     AS DECIMAL(27,6))) OVER w AS DOUBLE) AS value_so_far
FROM events WHERE ts IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running state (row 63), batch-equivalent form — mirrors the
    reference's per-container state machine [pub:muswarmlogger/loggers/
    docker.py start/die lifecycle].  Streaming twin in streaming/stateful.py
    runs under applyInPandasWithState."""
    return X.running_user_counters(load(spark, sf_dir, "events"))


@query("q_stream_join", oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
FROM (SELECT * FROM events WHERE event_type = 'purchase'
         AND ts IS NOT NULL AND user_id IS NOT NULL) p
JOIN (SELECT * FROM events WHERE event_type = 'click'
         AND ts IS NOT NULL AND user_id IS NOT NULL) c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts < p.ts
""")
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join (row 64), batch shape; the watermarked streaming
    run with identical results is asserted in tests/test_streaming.py and
    on hostile timestamps in tests/test_streaming_hostile.py.  Both sides
    filter observed time (class I; vacuous for the INNER band predicate,
    pinned for symmetry with the outer variant)."""
    return X.purchase_click_attribution(load(spark, sf_dir, "events"))


@query("q_stream_join_outer", oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       p.user_id AS user_id
FROM (SELECT * FROM events WHERE event_type = 'purchase'
         AND ts IS NOT NULL AND user_id IS NOT NULL) p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click'
           AND ts IS NOT NULL AND user_id IS NOT NULL) c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts < p.ts
""")
def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream join (row 64's other half): every purchase
    is emitted, unattributed ones with a NULL click_id — the variant that
    distinguishes "no click happened" from "still waiting".  In streaming
    execution the outer row is emitted only when BOTH watermarks pass the
    purchase's band (state eviction proves no match can still arrive) —
    Spark's two-watermark outer-join semantics; this batch shape is the
    end-state twin the oracle can check exactly.  Two r12 policies are
    LOAD-BEARING here where they are vacuous on the inner form: class I —
    a null-ts purchase has no event time for the watermark to pass, so the
    streaming twin holds its state forever and never emits the outer row;
    class G — a null-USER purchase survives a batch LEFT join (outer rows
    outlive equi-key null-dropping) but the streaming state store drops
    keyless rows outright.  Both measured in tests/test_streaming_hostile
    .py; both engine sides drop such rows identically.  Same plan as the
    inner form: equi join on user_id with the time band as residual,
    never a cartesian."""
    return X.purchase_click_attribution(
        load(spark, sf_dir, "events"), how="left")


@query("q_stream_static_join", oracle=f"""
SELECT c.c_nationkey AS nationkey, COUNT(*) AS n_events,
       {dsum_sql('e.value')} AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
""")
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the reference's per-event container
    inspect [pub:muswarmlogger/events.py event.container] as a streaming
    DataFrame op: the event stream joins a static broadcast dimension
    (customer stands in for the container table), then rolls up per
    nation.  Executed as a REAL micro-batch job (AvailableNow → complete
    mode memory sink), so the stream-static join path — static side
    re-planned per trigger, no state store, no watermark required — is
    what actually runs; the oracle checks the batch-equivalent join
    exactly.  The stream side never shuffles before the aggregate: the
    dimension broadcasts, so enrichment is map-side at any scale."""
    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    stream = X.stream_events(spark, sf_dir)
    agg = (
        X.enrich_with_dimension(stream, dim)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             # measure(): class-L — the stream side must carry dsum's
             # domain gate or one NaN event aborts the micro-batch job
             F.sum(measure(F.col("value")).cast("decimal(27,6)"))
             .cast("double").alias("sum_value"))
    )
    return _run_available_now(agg, f"{sf_dir}/events.parquet",
                              output_mode="complete")


# ---------------------------------------------------------------------------
# Streaming-executed queries: real micro-batch jobs inside the query fn,
# every one run by _run_available_now.
# ---------------------------------------------------------------------------

def _parse_bytes(v: str) -> int:
    """Parse a Spark size conf value ('64MB', '64m', bare bytes) to int."""
    s = str(v).strip().lower()
    for suffix, mult in (("pb", 1 << 50), ("tb", 1 << 40), ("gb", 1 << 30),
                         ("mb", 1 << 20), ("kb", 1 << 10), ("p", 1 << 50),
                         ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20),
                         ("k", 1 << 10), ("b", 1)):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(s)


def _backlog_bytes(path: str) -> int:
    """On-disk size of a stream source, a single file or a directory
    tree: the KNOWN total backlog of an AvailableNow replay run."""
    if os.path.isfile(path):
        return os.stat(path).st_size
    return sum(os.stat(os.path.join(d, f)).st_size
               for d, _dirs, files in os.walk(path) for f in files)


def _state_partitions(spark: SparkSession, backlog_bytes: int | None) -> int:
    """State-store partition count for a stream over ``backlog_bytes``:
    ``clamp(backlog / advisoryPartitionSizeInBytes, 1,
    defaultParallelism)``; an unknown backlog gets defaultParallelism
    (rationale in _run_available_now)."""
    n_par = spark.sparkContext.defaultParallelism
    if backlog_bytes is None:
        return n_par
    advisory = _parse_bytes(spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    return max(1, min(n_par, -(-backlog_bytes // advisory)))


def _run_available_now(stream: DataFrame, backlog: str | None, *,
                       output_mode: str = "append",
                       write_batch=None, read_back=None,
                       name: str = "stream") -> DataFrame:
    """Run ``stream`` to completion with ``Trigger.AvailableNow`` and
    return its result as a checkpointed batch DataFrame: the ONE place a
    registered query executes a stream.

    Sink: with ``write_batch=None`` the stream lands in a memory sink and
    the result is that table; its uniquely named temp view is dropped
    afterwards (r13, guide §5: each leaked view pinned the sink's
    collected rows for the session's lifetime — the checkpoint owns the
    data now).  Otherwise ``write_batch(bdf, batch_id, sink)`` is the
    ``foreachBatch`` body, ``sink`` an empty temp directory, and the
    result is ``read_back(sink)``.  The checkpoint and sink live under one
    core.tables.round_trip directory named after ``name`` (a state-schema
    version rides it, see stateful.BURST_STATE_VERSION), removed in
    ``finally`` — a failed stream leaks nothing.

    State partitions (r12/r13, guide §2.2): streaming stages have no AQE
    (Spark disables it for stateful workloads), so a stateful stream
    mints exactly ``spark.sql.shuffle.partitions`` state-store partitions
    at checkpoint birth and schedules that many tasks — each a state-store
    open + delta-file commit (and, for the pandas folds, an Arrow worker
    round-trip) — EVERY micro-batch.  Inheriting the session's batch
    constant is the wrong number at both ends (Spark's default 200 on an
    untuned session: measured 14.4 s for the heavy-hitters stream at
    sf0.01 vs 3.5 s at 32 vs 1.8 s at 8 — pure task scheduling on a toy
    batch; a fixed small number would starve a real cluster).  These are
    REPLAY runs, so the total backlog is known up front: ``backlog`` is
    the source's path (file or directory) and its on-disk size sets the
    count via _state_partitions — exactly the coalescing AQE would do for
    a batch shuffle of the same bytes, applied by hand.  At 100 TB the
    clamp binds at defaultParallelism; at audit scale it stops minting 32
    state stores for a 2 MB backlog (measured: addBatch is ~linear in the
    partition count, ~60-80 ms of pure per-partition overhead).  A
    genuinely unbounded stream passes None.  Applies only to NEW
    checkpoints — Spark pins the count inside an existing lineage (every
    checkpoint here is fresh).  The prior value is restored in
    ``finally``, before the read-back runs.

    SERIAL-EXECUTION ASSUMPTION (r12 ADVICE): the count is set on the
    session-global ``spark.sql.shuffle.partitions`` for the stream's
    lifetime — safe under the serial grading driver and the serial
    bench/test harnesses, but a BATCH query planned concurrently in the
    same session would pick up the streaming value.  A child session
    (``spark.newSession()``) is not a way out: it does not inherit the
    parent's runtime SQL conf, and the parent's listeners and catalog
    never see its streams."""
    spark = stream.sparkSession
    table = None if write_batch is not None else f"t_{uuid.uuid4().hex[:12]}"

    def drain(root: str) -> None:
        sink = os.path.join(root, "sink")
        os.makedirs(sink)
        writer = (stream.writeStream.outputMode(output_mode)
                  .option("checkpointLocation", os.path.join(root, "ckpt")))
        if table is not None:
            writer = writer.format("memory").queryName(table)
        else:
            writer = writer.foreachBatch(
                lambda bdf, batch_id: write_batch(bdf, batch_id, sink))
        key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(key)
        spark.conf.set(key, str(_state_partitions(
            spark, None if backlog is None else _backlog_bytes(backlog))))
        try:
            writer.trigger(availableNow=True).start().awaitTermination()
        finally:
            spark.conf.set(key, prev)

    try:
        return round_trip(name, drain, lambda root: spark.table(table)
                          if table else read_back(os.path.join(root, "sink")))
    finally:
        if table is not None:
            spark.catalog.dropTempView(table)


def _run_snapshots(stream: DataFrame, backlog: str, key: str, finish,
                   name: str = "snapshots") -> DataFrame:
    """Run a stateful update-mode fold whose output rows are per-``key``
    state snapshots.  Each batch lands idempotently in its own
    batchId-addressed directory, tagged with ``batch_id``; the read-back
    keeps each key's LATEST snapshot (update semantics — only touched keys
    emit per batch) and returns ``finish`` of it."""
    from pyspark.sql import Window as W

    spark = stream.sparkSession

    def write_batch(bdf: DataFrame, batch_id: int, sink: str) -> None:
        bdf.withColumn("batch_id", F.lit(batch_id)) \
           .write.mode("overwrite").parquet(
               os.path.join(sink, f"batch={batch_id}"))

    def read_back(sink: str) -> DataFrame:
        snaps = spark.read.parquet(os.path.join(sink, "batch=*"))
        return finish(
            snaps.withColumn("mx", F.max("batch_id").over(W.partitionBy(key)))
            .filter(F.col("batch_id") == F.col("mx")))

    return _run_available_now(stream, backlog, output_mode="update",
                              write_batch=write_batch, read_back=read_back,
                              name=name)


@query("q_stream_output_modes", oracle=_TUMBLING_SQL)
def q_stream_output_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-mode semantics (row 66): the tumbling aggregation executed as
    a REAL micro-batch job in complete mode → memory sink.  Complete mode
    re-emits full state at the final trigger, so the result is deterministic
    and the same oracle as the batch tumbling query checks it exactly.
    Append/update-mode emission sequences are asserted in
    tests/test_streaming.py (they depend on batch boundaries)."""
    stream = X.stream_events(spark, sf_dir)
    return _run_available_now(X.tumbling_counts(stream),
                              f"{sf_dir}/events.parquet",
                              output_mode="complete")


@query("q_stream_watermark")
def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + late-data handling (row 61): real streaming job with a
    10-minute watermark, append mode — only windows the watermark has
    passed are emitted, so the result set depends on trigger boundaries →
    rows-only for the driver; the replay harness pins exact drop semantics."""
    stream = X.stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return _run_available_now(agg, f"{sf_dir}/events.parquet")


@query("q_stream_foreachbatch", oracle=f"""
SELECT event_type, COUNT(*) AS n, {dsum_sql('value')} AS sum_value
FROM events
GROUP BY event_type
""")
def q_stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink with exactly-once bookkeeping (row 65) — the
    replacement for the reference's one-INSERT-per-line sink
    [pub:muswarmlogger/loggers/docker.py], its main perf defect (§4.1).

    Each micro-batch bulk-appends to a batchId-addressed directory
    (mode=overwrite → idempotent under retries); reading the sink back and
    re-aggregating must reproduce the batch answer exactly.
    """
    def write_batch(bdf: DataFrame, batch_id: int, sink: str) -> None:
        bdf.write.mode("overwrite").parquet(os.path.join(sink, f"batch={batch_id}"))

    def read_back(sink: str) -> DataFrame:
        return (
            spark.read.parquet(os.path.join(sink, "batch=*"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(measure(F.col("value")).cast("decimal(27,6)"))
                 .cast("double").alias("sum_value"))
        )

    return _run_available_now(
        X.stream_events(spark, sf_dir, max_files_per_trigger=1),
        f"{sf_dir}/events.parquet",
        write_batch=write_batch, read_back=read_back)


# The rollup store's declared layout (class K: an all-empty-batch run
# writes no part files, so every read of the store must carry this
# schema explicitly — inference has nothing to infer from).
# event_date is the partition column and stays a STRING.
ROLLUP_STORE_SCHEMA = ("hour TIMESTAMP, event_type STRING, n BIGINT, "
                       "batch_id BIGINT, event_date STRING")


def rollup_upsert(spark: SparkSession, store: str):
    """Build the idempotent hourly-rollup upsert for ``foreachBatch``:
    partial counts carry their batch_id, and an upsert first drops any
    prior rows of the SAME batch_id in the day-partitions it touches —
    so a retried batch converges instead of double-counting (directly
    exercised by tests/test_streaming.py's replay-retry test).

    The write pins ``partitionOverwriteMode=dynamic`` on itself, so it
    rewrites only the days in the batch whatever the session's mode: a
    static overwrite would wipe EVERY ``event_date`` partition of the
    store, silently deleting untouched days."""

    def upsert(bdf: DataFrame, batch_id: int) -> None:
        # Eager-checkpoint the sketch-sized partial: it is consumed TWICE
        # per batch (the touched-days collect and the merged write) and
        # would otherwise re-aggregate the whole batch for each (r13,
        # guide §1.2); unpersisted right after the write — the merged
        # store owns the rows from then on (guide §5).
        part = (
            bdf.groupBy(
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                .alias("event_date"),
                F.date_trunc("hour", "ts").alias("hour"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .localCheckpoint(eager=True)
        )
        try:
            try:
                existing = spark.read.schema(
                    ROLLUP_STORE_SCHEMA).parquet(store)
                days = [r.event_date for r in
                        part.select("event_date").distinct().collect()]
                keep = existing.filter(
                    F.col("event_date").isin(days)
                    & (F.col("batch_id") != batch_id)
                )
                merged = keep.unionByName(part)
            except Exception:  # first batch: store doesn't exist yet
                merged = part
            (merged.repartition("event_date")
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("event_date").parquet(store))
        finally:
            unpersist_cp(part)

    return upsert


@query("q_stream_rollup", oracle="""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS event_date,
       date_trunc('hour', ts) AS hour, event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2, 3
""")
def q_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous hourly rollup — the incrementally-maintained aggregate
    ("hypertable rollup" / materialized dashboard view) the reference's
    consumers would poll the triplestore for.  A real two-micro-batch
    stream upserts per-batch partial counts into a store partitioned by
    event_date, using DYNAMIC partition overwrite: each batch rewrites
    only the day-partitions it touches.  Exactly-once comes from batch
    provenance, not retries-don't-happen: partials carry their batch_id,
    and an upsert replaces any prior rows of the SAME batch_id before
    merging — re-running a failed batch converges to the same store.
    The final read-back re-aggregates across batch partials; the oracle
    is the plain batch hourly count, so the whole incremental path is
    value-exact.  At 100 TB the store stays one row per
    (day, hour, type, batch) and each trigger touches only the days in
    that batch — never a full-store rewrite."""
    # Stage the source as TWO file groups so the rollup genuinely
    # increments across micro-batches (maxFilesPerTrigger=1 → ≥2
    # triggers).  ONE pass (r13, guide §1.2 "don't compute things
    # twice"): partitionBy(half) writes both halves from a single scan.
    # The written files carry exactly ev's columns (the half partition
    # column stays in the directory name), and the stream reads the
    # half=* glob with ev's schema, so batch contents are unchanged.  The
    # staged source is a core.tables.layout: written once per events
    # generation, not per call.
    from ..core.tables import observed_time
    ev = observed_time(load(spark, sf_dir, "events"))  # class I: the
    # store is day-partitioned — an unstamped row has no partition
    src = layout(sf_dir, "rollup_src", ("events",), lambda d: ev.withColumn(
        "half", F.col("event_id") % 2).write.mode("overwrite")
        .partitionBy("half").parquet(d))
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(os.path.join(src, "half=*")))
    # The store is the runner's (empty) sink dir, so it exists even when
    # every micro-batch is empty and the upsert never writes (class K);
    # every read carries ROLLUP_STORE_SCHEMA.
    return _run_available_now(
        stream, src, name="rollup",
        write_batch=lambda bdf, batch_id, store:
            rollup_upsert(spark, store)(bdf, batch_id),
        read_back=lambda store: (
            spark.read.schema(ROLLUP_STORE_SCHEMA).parquet(store)
            .groupBy("event_date", "hour", "event_type")
            .agg(F.sum("n").cast("long").alias("n"))))


from ..operators.analytics import EVENT_FINGERPRINT_ORACLE_SQL


@query("q_stream_fingerprint", oracle=EVENT_FINGERPRINT_ORACLE_SQL)
def q_stream_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dataset fingerprinting over micro-batches: each batch
    reduces to per-day (count, 60-bit-hash-sum) PARTIALS written to a
    batchId-addressed directory (idempotent under retries, like
    q_stream_foreachbatch), and the final fingerprints are the DECIMAL
    SUM of the partials per day.  Because the fingerprint is an
    associative+commutative sum of per-row hashes (see
    operators.analytics.event_row_fingerprint — the SAME expression the
    batch audit uses), the merged streaming result must equal the
    one-shot batch fingerprint bit-for-bit, and the oracle IS the batch
    fingerprint SQL: the parity check proves merge-across-batches ≡
    recompute — the property that lets a 100 TB ingest maintain
    per-partition content checksums at micro-batch cost, merging
    file → batch → partition → table without ever re-reading history.
    """
    from ..operators.analytics import event_row_fingerprint

    def write_batch(bdf: DataFrame, batch_id: int, sink: str) -> None:
        part = (
            bdf.select(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                       event_row_fingerprint().alias("rh"))
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_part"),
                 F.sum(F.col("rh").cast("decimal(38,0)")).alias("fp_part"))
        )
        part.write.mode("overwrite").parquet(
            os.path.join(sink, f"batch={batch_id}"))

    def read_back(sink: str) -> DataFrame:
        return (
            spark.read.parquet(os.path.join(sink, "batch=*"))
            .groupBy("day")
            .agg(F.sum("n_part").cast("long").alias("n_rows"),
                 F.sum("fp_part").cast("decimal(38,0)").cast("string")
                 .alias("fingerprint"))
        )

    return _run_available_now(
        X.stream_events(spark, sf_dir, max_files_per_trigger=1),
        f"{sf_dir}/events.parquet",
        write_batch=write_batch, read_back=read_back)


@query("q_stream_heavy_hitters")
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: sharded Misra-Gries state maintained
    ACROSS micro-batches via applyInPandasWithState (stateful.
    mg_sketch_stateful), per-batch shard snapshots landed idempotently in
    a batchId-addressed sink, then the batch-side merge: keep each
    shard's LATEST snapshot (update semantics — only touched shards emit
    per batch) and run the same relational merged-MG decrement as the
    batch sketch (operators.sketches.mg_merge — shared code, so the two
    variants provably merge identically).

    At scale this is the always-on top-k the batch sketch can't be: the
    state store holds k counters per shard, each micro-batch shuffles
    only its own rows, and the sink accretes sketch-sized snapshots —
    query cost is independent of stream history.  Rows-only (sequential
    MG has no DuckDB twin); tests/test_streaming.py replays multi-batch
    and asserts the final state equals the batch sketch EXACTLY (same
    per-shard fold order), plus the MG guarantee against exact counts."""
    from ..operators.sketches import mg_merge
    from .stateful import MG_SNAPSHOT_SENTINEL, mg_sketch_stateful

    return _run_snapshots(
        mg_sketch_stateful(X.stream_events(spark, sf_dir,
                                           max_files_per_trigger=1)),
        f"{sf_dir}/events.parquet", "shard",
        lambda latest: mg_merge(
            latest.filter(F.col("item") != MG_SNAPSHOT_SENTINEL)
            .select("shard", "item", "est")))


from ..operators.timeseries import HOLT_ORACLE_SQL  # noqa: E402


@query("q_stream_holt", oracle=HOLT_ORACLE_SQL)
def q_stream_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Holt level+trend forecasting with an EXACT oracle: the
    applyInPandasWithState fold (stateful.holt_stateful) carries (l, b,
    pending-hour) per event type across micro-batches, per-batch
    snapshots land in a batchId-addressed sink, and the merge keeps each
    type's LATEST snapshot and closes the still-pending final hour with
    one more fold step — the identical arithmetic, in the identical
    order, as the batch q_ts_holt_trend and the recursive-CTE oracle
    both queries share (operators.timeseries.HOLT_ORACLE_SQL).  That
    makes stream-state-carry ≡ batch-fold a driver-checked bit-exact
    equality, not just a local replay assertion
    (tests/test_streaming.py additionally replays 4 ordered micro-batches
    and asserts the multi-batch result equals the batch query).

    At scale this is the always-on forecaster the batch fold can't be:
    state is O(1) per series, each micro-batch shuffles only its own rows
    on the series key, and the final close-step is computed at read time
    so the sink never holds a stale 'finished' forecast."""
    from ..operators.timeseries import _HOLT_ALPHA, _HOLT_BETA
    from .stateful import holt_stateful

    a, bb = _HOLT_ALPHA, _HOLT_BETA
    y = F.col("pending_n").cast("double")
    first = F.col("n_complete") == 0
    level = F.when(first, y).otherwise(
        a * y + (1 - a) * (F.col("l") + F.col("b")))
    trend = F.when(first, F.lit(0.0)).otherwise(
        bb * (level - F.col("l")) + (1 - bb) * F.col("b"))
    return _run_snapshots(
        holt_stateful(X.stream_events(spark, sf_dir, max_files_per_trigger=1)
                      .filter(F.col('event_type').isNotNull())),
        f"{sf_dir}/events.parquet", "event_type",
        lambda latest: latest.select(
            "event_type",
            (F.col("n_complete") + 1).cast("long").alias("n_hours"),
            level.alias("level"),
            trend.alias("trend"),
            (level + trend).alias("forecast_next"),
        ))


from ..operators.sketches import _KMV_SQL  # noqa: E402


@query("q_stream_kmv", oracle=_KMV_SQL)
def q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV distinct sketch with an EXACT oracle — the pure-merge
    member of the incremental-sketch family.  Misra-Gries needs a state
    store (its decrements are order-dependent) and Holt is a sequential
    fold; a KMV partial is its own CRDT: per micro-batch the batch's
    bottom-K distinct priorities land in a batchId-addressed sink with NO
    cross-batch state, and the read-time merge (bottom-K of the union of
    every batch's partial — operators.sketches.kmv_bottomk, the same code
    the sharded batch sketch composes) reproduces the one-shot sketch
    bit-for-bit.  Alongside it each batch writes (group, word, bit_or)
    BITMAP partials (the q_sketch_bitmap_distinct layout) whose OR-merge
    is the exact distinct count, so the streaming output matches the full
    batch oracle — estimate AND exact column — value-exactly.

    At scale this is the always-on distinct-counter a lakehouse actually
    runs: ingest appends K 8-byte priorities + one bitmap word per 60 keys
    per group per batch, rollups re-merge partials without re-reading
    history, and retries are idempotent because every batch OVERWRITES its
    own batchId directory.  tests/test_streaming.py replays 4 ordered
    micro-batches and asserts merge ≡ one-shot exactly."""
    from ..operators.sketches import kmv_bottomk, kmv_finalize, kmv_priority

    def write_batch(bdf: DataFrame, batch_id: int, sink: str) -> None:
        b = bdf.select("event_type", "event_id").persist()
        kmv_bottomk(
            b.select("event_type", kmv_priority().alias("pri")),
            ["event_type"],
        ).write.mode("overwrite").parquet(
            os.path.join(sink, f"kmv/batch={batch_id}"))
        (
            b.select(
                "event_type",
                F.expr("event_id div 60").cast("long").alias("word"),
                F.expr("shiftleft(1L, int(event_id % 60))").alias("w_bit"),
            )
            .groupBy("event_type", "word")
            .agg(F.bit_or("w_bit").alias("bits"))
            .write.mode("overwrite")
            .parquet(os.path.join(sink, f"bitmap/batch={batch_id}"))
        )
        b.unpersist()

    def read_back(sink: str) -> DataFrame:
        merged = kmv_bottomk(
            spark.read.parquet(os.path.join(sink, "kmv/batch=*")),
            ["event_type"],
        )
        ex = (
            spark.read.parquet(os.path.join(sink, "bitmap/batch=*"))
            .groupBy("event_type", "word")
            .agg(F.bit_or("bits").alias("bits"))
            .groupBy("event_type")
            .agg(F.sum(F.bit_count("bits")).alias("n_distinct_exact"))
        )
        return kmv_finalize(merged, ex)

    return _run_available_now(
        X.stream_events(spark, sf_dir, max_files_per_trigger=1),
        f"{sf_dir}/events.parquet",
        write_batch=write_batch, read_back=read_back)


@query("q_stream_cdc_apply", oracle="""
WITH ranked AS (
  SELECT user_id, event_id, value, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE user_id IS NOT NULL
)
SELECT user_id, CAST(event_id AS BIGINT) AS last_event_id,
       value AS latest_value
-- class G: only an EXPLICIT 'error' op is a delete; a change with an
-- unknown (NULL) type defaults to upsert (NULL <> 'error' would drop it)
FROM ranked WHERE rn = 1 AND (event_type <> 'error' OR event_type IS NULL)
""")
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialization: the event stream read as a keyed
    changelog (key=user_id, version=(ts, event_id), op=DELETE on 'error'
    rows) applied incrementally by a foreachBatch MERGE onto a persisted
    snapshot — the Delta/Iceberg `MERGE INTO` loop a warehouse runs to
    mirror an OLTP table.  Each batch (a) collapses to one change per
    key (latest version), (b) full-outer-joins the current snapshot and
    keeps whichever side carries the higher version, (c) writes the next
    snapshot version (ping-pong directories, so a retried batch re-reads
    the PREVIOUS snapshot — idempotent, like a real table format's
    atomic version swap).  Deletes persist as TOMBSTONES in the
    snapshot, not physical drops: without them a later out-of-order
    batch carrying an older change would resurrect a deleted key; they
    filter out only at read time (compaction would purge them once the
    watermark passes).  The final snapshot must equal the batch
    latest-state query — the oracle checks it value-exactly.

    At scale the snapshot is key-partitioned so the per-batch join
    prunes to touched partitions and the window shuffle is batch-sized;
    state never re-reads history (contrast recomputing the window over
    the full changelog each batch).  tests/test_streaming.py replays
    ordered micro-batches and asserts the incremental result matches
    the one-shot application exactly."""
    # class G: CDC is keyed — a NULL-key change has no identity to
    # merge on (the full-outer MERGE would never match it and each
    # batch would accrete a fresh null row).
    return _run_cdc_apply(
        X.stream_events(spark, sf_dir).filter(F.col('user_id').isNotNull()),
        f"{sf_dir}/events.parquet")


def _run_cdc_apply(stream: DataFrame, backlog: str | None = None,
                   batch_ids: list | None = None) -> DataFrame:
    """Run the CDC-apply loop on ``stream``; returns the final live view,
    checkpointed (the snapshot directories are gone on return).  Split out so the replay test can drive it with its own multi-batch
    file source (``batch_ids`` collects observed batch ids so the test
    can assert the run was genuinely incremental)."""
    from pyspark.sql import Window

    spark = stream.sparkSession
    version = [0]  # ping-pong snapshot pointer (driver-side, per query)

    def apply_batch(bdf: DataFrame, batch_id: int, state_dir: str) -> None:
        if batch_ids is not None:
            batch_ids.append(batch_id)
        w = (Window.partitionBy("user_id")
             .orderBy(F.col("vts").desc(), F.col("event_id").desc()))
        latest = (
            bdf.select(
                "user_id", "event_id", "value",
                F.unix_micros("ts").alias("vts"),
                F.when(F.col("event_type") == "error", "delete")
                .otherwise("upsert").alias("op"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        cur_path = os.path.join(state_dir, f"v{version[0]}")
        if os.path.exists(cur_path):
            cur = spark.read.parquet(cur_path)
        else:
            cur = spark.createDataFrame([], latest.schema)
        c, s = latest.alias("c"), cur.alias("s")
        joined = s.join(c, F.col("s.user_id") == F.col("c.user_id"),
                        "full_outer")
        newer = F.col("s.vts").isNull() | (
            (F.col("c.vts") > F.col("s.vts"))
            | ((F.col("c.vts") == F.col("s.vts"))
               & (F.col("c.event_id") > F.col("s.event_id"))))
        take_change = F.col("c.vts").isNotNull() & newer
        nxt = joined.select(*[
            F.when(take_change, F.col(f"c.{col}"))
            .otherwise(F.col(f"s.{col}")).alias(col)
            for col in ["user_id", "event_id", "value", "vts", "op"]
        ])
        nxt.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{1 - version[0]}"))
        version[0] = 1 - version[0]

    def read_back(state_dir: str) -> DataFrame:
        final = spark.read.parquet(os.path.join(state_dir, f"v{version[0]}"))
        return final.filter(F.col("op") != "delete").select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("latest_value"),
        )

    return _run_available_now(stream, backlog, write_batch=apply_batch,
                              read_back=read_back)


from ..operators.timeseries import HW_ORACLE_SQL  # noqa: E402


@query("q_stream_holt_winters", oracle=HW_ORACLE_SQL)
def q_stream_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Holt-Winters seasonal forecasting with an EXACT oracle
    — the seasonal member of the incremental-forecaster family
    (q_stream_holt's pattern at day grain with a rolling 7-slot
    seasonal list in state).  The applyInPandasWithState fold
    (stateful.hw_stateful) buffers the first 2m closed days, runs the
    same init + replay the batch fold performs, then carries (l, b, s,
    pending-day) across micro-batches; per-batch snapshots land in a
    batchId-addressed sink, the merge keeps each type's LATEST snapshot
    and closes the still-pending final day with one recurrence step in
    JVM expressions — identical arithmetic in identical order to the
    batch q_ts_holt_winters and the recursive-CTE oracle all three
    share, so stream-state-carry == batch-fold is a driver-checked
    bit-exact equality (tests/test_streaming.py additionally replays 4
    ordered micro-batches and asserts equality with the batch query).

    At scale: O(m) state per series, each micro-batch shuffles only its
    own rows on the type key, and the close step runs at read time so
    the sink never holds a stale forecast."""
    from ..operators.timeseries import (
        _HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_M)
    from .stateful import hw_stateful

    a, bb, g = _HW_ALPHA, _HW_BETA, _HW_GAMMA
    y = F.col("pending_n").cast("double")
    s1 = F.element_at("s", 1)
    lt = a * (y - s1) + (1 - a) * (F.col("l") + F.col("b"))
    bt = bb * (lt - F.col("l")) + (1 - bb) * F.col("b")
    st = g * (y - lt) + (1 - g) * s1
    s_next = F.element_at(
        F.concat(F.slice("s", 2, _HW_M - 1), F.array(st)), 1)
    return _run_snapshots(
        hw_stateful(X.stream_events(spark, sf_dir, max_files_per_trigger=1)
                    .filter(F.col('event_type').isNotNull())),
        f"{sf_dir}/events.parquet", "event_type",
        # Series below 2m complete days never leave the init buffer and
        # would close at n <= 2m < 2m+1 — the batch HAVING bound.
        lambda latest: latest.filter((F.col("n_complete") >= 2 * _HW_M)
                                     & (F.col("pending_day") >= 0))
        .select(
            "event_type",
            (F.col("n_complete") + 1).cast("long").alias("n_days"),
            lt.alias("level"),
            bt.alias("trend"),
            s_next.alias("season_next"),
            (lt + bt + s_next).alias("forecast_next"),
        ))


from ..operators.timeseries import q_ts_pattern_match as _pat_batch  # noqa: E402,F401
from ..core.registry import ORACLE as _ORACLE  # noqa: E402


@query("q_stream_pattern_match", oracle=_ORACLE["q_ts_pattern_match"])
def q_stream_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP twin of q_ts_pattern_match with an EXACT oracle:
    per-user (latest-view, view-at-latest-click, purchase/match
    counters) state carried across micro-batches — four integers per
    user — with per-batch snapshots in a batchId-addressed sink and a
    latest-snapshot merge at read time (no close step needed: every
    purchase is scored the moment it streams through).  All three
    formulations — the batch window rewrite, this state fold, and the
    oracle's naive join — must agree exactly, which is the strongest
    equivalence the engine can claim for a CEP operator: the
    stream IS the batch semantics, not an approximation of it.

    At scale: the always-on funnel detector — O(1) state per user, each
    batch shuffles its own rows on the user key, snapshots merge by
    latest batch id."""
    from .stateful import pattern_stateful

    return _run_snapshots(
        pattern_stateful(
            X.stream_events(spark, sf_dir, max_files_per_trigger=1)
            .filter(F.col("user_id").isNotNull())),
        f"{sf_dir}/events.parquet", "user_id",
        lambda latest: latest.filter(F.col("n_purchases") > 0).select(
            "user_id", "n_purchases", "n_matched",
            (F.col("n_matched") > 0).alias("converted"),
        ))


@query("q_stream_burstiness", oracle=_ORACLE["q_ts_burstiness"])
def q_stream_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_ts_burstiness with an EXACT oracle: per-user
    arrival moments (last event µs/id, gap count, Σgap, Σgap²) carried
    across micro-batches, snapshotted per batch and merged at read time
    by latest batch id.  Σgap² exceeds int64, so the state store
    carries it as an arbitrary-precision DECIMAL STRING (exact Python
    int arithmetic inside the fold); the read-time cast to
    DECIMAL(38,0) lands on the identical value the batch SUM produces,
    so stream ≡ batch ≡ oracle bit-for-bit — the three-way equivalence
    claim, same as q_stream_pattern_match.

    At scale: the always-on arrival-process monitor — O(1) state per
    user, each batch shuffles only its own rows on the user key."""
    from .stateful import BURST_STATE_VERSION, burstiness_stateful

    # Mirror the batch query's final expressions EXACTLY (same double
    # ops in the same shape on the same exact inputs).
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("decimal(38,0)").cast("double")
    mu = s1d / F.col("n_gaps")
    sigma = F.sqrt(s2d / F.col("n_gaps") - mu * mu)
    # The state version rides the checkpoint path (stateful.py's
    # BURST_STATE_VERSION note): a schema-widening upgrade starts a fresh
    # checkpoint lineage instead of dying at state restore.
    return _run_snapshots(
        burstiness_stateful(
            X.stream_events(spark, sf_dir, max_files_per_trigger=1)),
        f"{sf_dir}/events.parquet", "user_id",
        lambda latest: latest.filter(F.col("n_gaps") >= 2).select(
            "user_id", "n_gaps", mu.alias("mean_gap_us"),
            (F.round((sigma - mu) / (sigma + mu), 9) + 0.0)
            .alias("burstiness"),
        ),
        name=f"burst_v{BURST_STATE_VERSION}")
