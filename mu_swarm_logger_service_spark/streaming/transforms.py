"""Pure streaming transformations (batch/stream-agnostic).

Each function takes an events-shaped DataFrame
``(event_id long, ts timestamp, user_id long, event_type string,
value double, props string)`` — batch or streaming — and returns a
transformed DataFrame.  No function touches the source or sink; that is
what lets the DuckDB oracle validate streaming semantics (SURVEY.md §5.2.4).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.numeric import dsum, measure
from ..core.tables import observed_time


def stream_events(spark: SparkSession, sf_dir: str,
                  max_files_per_trigger: int | None = None,
                  repartition_to: int | None = None) -> DataFrame:
    """``readStream`` view of the events table — the engine's analog of the
    reference subscribing to the Docker event socket [pub:muswarmlogger/
    main.py]; a replayable file source gives the fault tolerance the
    reference lacks (SURVEY.md §4.1: missed events while down).

    ``ts`` is normalized exactly as in core.tables.load (ns-as-long /
    NTZ-µs / LTZ all accepted), so batch and stream see identical values.

    ``repartition_to`` adds a per-micro-batch round-robin shuffle right
    after the scan.  A file-source batch inherits the parallelism of its
    input splits, so a batch made of ONE small file runs every downstream
    map and the sink write on a single core (measured: the whole
    events→triples ingest at sf0.1 is one task, 1.4s; repartitioned to 4-8
    it drops to 0.8-1.0s).  The shuffle moves the small WIDE rows before
    the 4× triple explode, so it is the cheap place to buy parallelism.
    At real scale batches span many files and arrive pre-split — leave
    this None there; it exists for compute-dense, few-file micro-batches.
    """
    from ..core.tables import (_normalize_events_ts, _read_events,
                               _ship_package)

    # Stateful streaming queries pickle module functions into executors the
    # same way pandas-UDF batch queries do, but a streaming query can be the
    # FIRST thing a session runs (no prior load() to ship the package zip) —
    # found by running q_stream_heavy_hitters standalone on a plain session
    # from a foreign cwd: ModuleNotFoundError inside the state fold.
    _ship_package(spark)
    schema = _read_events(spark, sf_dir).schema
    # File stream sources need a DIRECTORY.  A directory-shaped
    # events.parquet streams as is; a single file is staged in a directory
    # holding a symlink to the (read-only) testdata file.  Never symlink a
    # directory: the file source does not descend into the link and
    # streams 0 rows.
    src = f"{sf_dir}/events.parquet"
    if not os.path.isdir(src):
        staged = os.path.join(
            tempfile.gettempdir(),
            "spark_graft_stream_src_" + sf_dir.strip("/").replace("/", "_"),
        )
        os.makedirs(staged, exist_ok=True)
        link = os.path.join(staged, "events.parquet")
        if not os.path.exists(link):
            os.symlink(src, link)
        src = staged
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    out = _normalize_events_ts(reader.parquet(src))
    if repartition_to is not None:
        out = out.repartition(repartition_to)
    return out


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Row 58: per-hour, per-type counts/sums — errors-per-minute class
    query, the log-analytics bread-and-butter the reference delegates to
    SPARQL date filters [pub]."""
    events = observed_time(events)  # class I: time is the axis here
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n", "sum_value")
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Row 59: 1-hour windows sliding every 15 minutes (each event lands in
    4 overlapping windows, epoch-aligned)."""
    events = observed_time(events)  # class I
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"),
                       "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Row 60 (native form): per-user session windows by inactivity gap.
    ``session_window`` works identically in batch and micro-batch mode;
    the batch gaps-and-islands formulation (sessionize_batch) is the
    independent cross-check."""
    events = observed_time(events)  # class I
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum(F.col("value")).alias("session_value"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events", "session_value")
    )


def sessionize_batch(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Row 60 (batch-equivalent form): gaps-and-islands sessionization —
    lag + cumulative sum of session-break flags.  Produces the same
    (user_id, session_start, n_events) sets as session_window; the oracle
    checks this form exactly and tests assert both forms agree."""
    events = observed_time(events)  # class I (matches session_windows)
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Exact microseconds, strict > gap: measured, session_window MERGES an
    # event exactly gap after its predecessor (closed interval), and the
    # previous truncating unix_timestamp() seconds could misclassify a
    # boundary gap (true diff in (gap, gap+1s) truncating to exactly gap)
    # that exact micros resolves (4x-replication sweep follow-up, round 7).
    us = F.unix_micros("ts")
    is_break = F.when(
        F.lag("ts").over(w_ord).isNull()
        | (us - F.unix_micros(F.lag("ts").over(w_ord))
           > gap_seconds * 1_000_000),
        1,
    ).otherwise(0)
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_sess = events.withColumn("session_id", F.sum(is_break).over(w_cum))
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count(F.lit(1)).alias("n_events"),
             dsum(F.col("value")).alias("session_value"))
    )


def dedup_events(events: DataFrame) -> DataFrame:
    """Row 62: exactly-once events from an at-least-once stream —
    dropDuplicates on the event key.  The streaming harness uses
    dropDuplicatesWithinWatermark for bounded state; semantics on the
    duplicated batch input are identical."""
    return events.dropDuplicates(["event_id"])


def running_user_counters(events: DataFrame) -> DataFrame:
    """Row 63 (batch-equivalent form): per-user running event count and
    value total at every event — the cumulative-window shape whose
    streaming twin is the transformWithState/applyInPandasWithState
    accumulator in streaming/stateful.py."""
    events = observed_time(events)  # class I: a running state over the
    # user's TIMELINE has no slot for an unstamped event (and the
    # stateful twin's pandas fold would read NaT.value as int64-min)
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id", "user_id", "ts",
        F.count(F.lit(1)).over(w).alias("n_so_far"),
        # measure(): class-L gate — must also match the stateful twin's
        # fold predicate (stateful.py skips out-of-domain values)
        F.sum(measure(F.col("value")).cast("decimal(27,6)")).over(w)
        .cast("double").alias("value_so_far"),
    )


def enrich_with_dimension(events: DataFrame, dim: DataFrame,
                          event_key: str = "user_id",
                          dim_key: str = "c_custkey") -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to each
    event — the engine's form of the reference lazily inspecting the
    container behind each Docker event (`event.container`
    [pub:muswarmlogger/events.py]): there the dimension is fetched per
    event over the Docker socket; here it is one broadcast hash join, and
    the static side is re-scanned per micro-batch so dimension updates
    between triggers are picked up (Structured Streaming's stream-static
    join contract).  Broadcast keeps the stream side shuffle-free — at
    100 TB of events the dimension (containers/customers) is still tiny.

    ``event_key``/``dim_key`` name the equi-join columns; the defaults
    match the testdata star schema (events.user_id → customer.c_custkey)."""
    return events.join(
        F.broadcast(dim), events[event_key] == dim[dim_key], "inner"
    )


def purchase_click_attribution(events: DataFrame, how: str = "inner") -> DataFrame:
    """Row 64 batch shape of the watermarked stream-stream join: purchases
    joined to same-user clicks in the preceding hour.  Equi key (user_id)
    + time-band residual.  ``how='inner'`` keeps attributable purchases
    only; ``how='left'`` is the outer variant — every purchase emitted,
    unattributed ones with a NULL click (in the streaming twin, outer
    rows are emitted when the watermark evicts the purchase's state, i.e.
    once no matching click can still arrive)."""
    # class I (r12): ts is the AXIS (the join band), so the observed-time
    # policy applies on both sides.  For the inner join the band predicate
    # already excludes NULL ts; for the LEFT join the filter is
    # LOAD-BEARING — the streaming twin can never emit an outer row for a
    # null-ts purchase (no event time means no watermark ever evicts its
    # state; measured: such rows silently vanish from the stream), so the
    # batch twin and oracle must drop them identically or batch ≢ stream.
    # class G (r12): same shape for a NULL join KEY — a null-user purchase
    # has no identity to attribute; the batch LEFT join would still emit
    # it (outer rows survive equi-key null-dropping) while the streaming
    # join state store drops keyless rows outright (measured: 7 rows on
    # the hostile fixture).  The declared policy is the CDC/label-prop
    # one: NULL keys neither match nor get outer-emitted, on both sides.
    events = observed_time(events).filter(F.col("user_id").isNotNull())
    p = events.filter(F.col("event_type") == "purchase").alias("p")
    c = events.filter(F.col("event_type") == "click").alias("c")
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c.ts") < F.col("p.ts"))
    )
    return p.join(c, cond, how).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.user_id").alias("user_id"),
    )
