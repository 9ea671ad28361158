"""Hostile-timestamp streaming replays (r10 verdict task 4).

The 21 streaming replays in tests/test_streaming.py run on PRISTINE
timing, while trap class H proved ts pathologies split engines in batch
(eight r10 finds).  This module composes the two gates: the class-H
events (epoch-boundary stamps, -1 µs / ±250 ns sub-microsecond garbage,
far-future 2200 stamps, a microsecond tie-storm, plus the class-G null
user/type keys riding the same fixture) are replayed through the
watermark/dedup/session/stateful operators across real micro-batches,
and the final state must equal the batch twin on the SAME hostile data
— state that straddles a batch boundary at a hostile instant is the
point.  One test additionally pins the DECLARED failure mode of event
time itself: a single far-future stamp in an early batch advances the
watermark past every later row (the reason the calendar family
quarantines clock garbage upstream — operators/timeseries.ts_domain).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import tempfile

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))), "tools"))

from gen_adversarial import generate
from mu_swarm_logger_service_spark.core.registry import QUERIES
from mu_swarm_logger_service_spark.core.tables import load
from mu_swarm_logger_service_spark.streaming import transforms as X
from mu_swarm_logger_service_spark.streaming.stateful import (
    burstiness_stateful,
    pattern_stateful,
    running_user_counters_stateful,
)
from tests.test_streaming import (
    _read_replay,
    _replay_dir,
    _run_stream,
)


def _canon(df):
    """None-safe canonical rows: the hostile fixture puts NULLs in sort
    keys (user_id, event_type), which Python's tuple sort cannot order
    against ints/strs — compare sorted repr-tuples instead (repr is
    injective on the value domain here: None / int / str / float,
    including -0.0 vs 0.0)."""
    return sorted(tuple(repr(x) for x in r) for r in df.collect())


@pytest.fixture(scope="module")
def adv_dir(sf_dir):
    out = "/tmp/sfadv_test"  # shared with test_adversarial_parity (cached)
    generate(sf_dir, out)
    return out


@pytest.fixture(scope="module")
def hostile_replay(spark, adv_dir):
    """Class-H events split into 4 ts-ordered files: the pre-epoch and
    storm stamps land early batches, the far-future stamps the last."""
    src = _replay_dir(spark, adv_dir)
    schema = load(spark, adv_dir, "events").schema
    yield src, schema
    shutil.rmtree(src, ignore_errors=True)


def test_hostile_fixture_is_actually_hostile(spark, adv_dir):
    """Guard against a vacuous module: the replayed events must contain
    pre-epoch stamps, far-future stamps, a microsecond tie-storm, and
    null user ids — otherwise every test below reduces to the pristine
    suite."""
    ev = load(spark, adv_dir, "events")
    agg = ev.agg(
        F.sum((F.col("ts") < F.lit("1970-01-01").cast("timestamp"))
              .cast("int")).alias("pre_epoch"),
        F.sum((F.col("ts") > F.lit("2100-01-01").cast("timestamp"))
              .cast("int")).alias("far_future"),
        F.sum(F.col("user_id").isNull().cast("int")).alias("null_users"),
        F.sum(F.col("ts").isNull().cast("int")).alias("null_ts"),
        (F.count("*") - F.countDistinct("ts")).alias("ts_ties"),
    ).collect()[0]
    assert agg["pre_epoch"] > 0
    assert agg["far_future"] > 0
    assert agg["null_users"] > 0
    assert agg["null_ts"] > 0       # r11 trap class I rides this module too
    assert agg["ts_ties"] > 10  # the storm collapses ~8% onto one instant


def test_hostile_tumbling_stream_equals_batch(spark, adv_dir, hostile_replay):
    """Tumbling window counts over hostile stamps (complete mode): the
    1970-boundary and 2200 windows must aggregate identically to batch —
    window bucketing is pure event-time arithmetic, no late-drop."""
    src, schema = hostile_replay
    stream = _read_replay(spark, src, schema)
    got = _run_stream(X.tumbling_counts(stream), "complete")
    want = X.tumbling_counts(load(spark, adv_dir, "events"))
    assert _canon(got) == _canon(want)


def test_hostile_session_stream_equals_batch(spark, adv_dir, hostile_replay):
    """Session windows across hostile replay: sessions anchored at the
    epoch boundary and inside the microsecond storm (many events, one
    instant, one session) must flush to exactly the batch sessionization.
    The flush sentinel must clear the FAR-FUTURE stamps too — a 2200
    session only leaves the state store once the watermark passes 2200."""
    src, schema = hostile_replay
    ev = load(spark, adv_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(-1, max_ts + dt.timedelta(hours=2), -1, "view", 0.0, "{}")],
        schema,
    )
    sentinel.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src, "f999"))
    try:
        stream = _read_replay(spark, src, schema).withWatermark(
            "ts", "1 minute")
        got = _run_stream(X.session_windows(stream), "append").filter(
            F.col("user_id") >= 0)
        want = X.session_windows(ev).filter(F.col("user_id") >= 0)
        assert _canon(got) == _canon(want)
    finally:
        shutil.rmtree(os.path.join(src, "f999"), ignore_errors=True)


def test_hostile_dedup_exactly_once_minus_born_late_rows(spark, adv_dir,
                                                         hostile_replay):
    """At-least-once delivery of hostile events (every file doubled in
    its own batch): dropDuplicatesWithinWatermark must restore
    exactly-once for every WATERMARK-ADMISSIBLE row, including the
    tie-storm instant.  Find pinned here (measured, boundary included):
    Spark initializes the watermark at the EPOCH (1970), not -infinity,
    and dropDuplicatesWithinWatermark's late filter is INCLUSIVE
    (drops ts <= watermark) — so pre-epoch stamps AND epoch-exact
    stamps are BORN LATE, dropped before any data-derived watermark
    exists.  Declared policy, not a bug to paper over: epoch-and-older
    clock garbage cannot ride a watermarked stream, the same
    quarantine-upstream contract as ts_domain."""
    src, schema = hostile_replay
    ev = load(spark, adv_dir, "events")
    n_events = ev.count()
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp")
    n_born_late = ev.filter(F.col("ts") <= epoch).count()
    n_pre = ev.filter(F.col("ts") < epoch).count()
    # non-vacuous: both the pre-epoch and the epoch-EXACT case must fire
    assert n_pre > 0 and n_born_late > n_pre
    stream = _read_replay(spark, src, schema).withWatermark(
        "ts", "10 minutes")
    doubled = stream.unionByName(stream)
    got = _run_stream(doubled.dropDuplicatesWithinWatermark(["event_id"]))
    # NULL event times (class I) are NOT born late — a null ts fails the
    # <=-watermark comparison, so the op keeps and dedups those rows
    # (measured; the count below includes the fixture's NaT rows).
    assert got.count() == n_events - n_born_late
    assert got.select("event_id").distinct().count() == n_events - n_born_late
    assert got.filter(F.col("ts") <= epoch).count() == 0
    assert got.filter(F.col("ts").isNull()).count() == ev.filter(
        F.col("ts").isNull()).count() > 0


def test_hostile_stateful_counters_equals_batch(spark, adv_dir,
                                                hostile_replay):
    """applyInPandasWithState running counters across hostile batches ==
    batch cumulative window, including the NULL-user group (class G) and
    null event values riding the same fixture."""
    src, schema = hostile_replay
    stream = _read_replay(spark, src, schema)
    from mu_swarm_logger_service_spark.streaming.stateful import (
        COUNTER_CKPT_PREFIX,
    )
    got = _run_stream(running_user_counters_stateful(stream),
                      ckpt_prefix=COUNTER_CKPT_PREFIX).toPandas()
    want = X.running_user_counters(load(spark, adv_dir, "events")).toPandas()
    g = got.sort_values(["user_id", "event_id"]).reset_index(drop=True)
    w = want.sort_values(["user_id", "event_id"]).reset_index(drop=True)
    assert len(g) == len(w) > 0
    assert (g["n_so_far"] == w["n_so_far"]).all()
    diff = (g["value_so_far"] - w["value_so_far"]).abs()
    assert diff.fillna(0.0).max() < 1e-6
    # the r11 find this test exists for: the fold must not NaN-POISON on
    # a null value (pandas `total += nan` is nan forever, so every later
    # row of that user diverged from batch SUM — masked by tolerance
    # checks because NaN-NaN comparisons fillna away); SUM semantics =
    # skip nulls.  Non-vacuity: the fixture must actually contain null
    # values followed by later events.
    assert (g["value_so_far"].isna() == w["value_so_far"].isna()).all()
    ev = load(spark, adv_dir, "events")
    assert ev.filter(F.col("value").isNull()).count() > 0
    assert g["value_so_far"].notna().any()


def test_null_prefix_emits_null_not_zero(spark):
    """The other half of the SUM policy the hostile fixture happens not
    to reach (no user's FIRST event carries a null value there): until a
    user's first NON-NULL value, the running total is NULL — as batch
    SUM defines — not the fold's 0.0 seed.  Hand-built replay: one user,
    null-value event first."""
    import time
    src = tempfile.mkdtemp(prefix="nullprefix_src_")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    base = dt.datetime(2024, 2, 1, 9, 0, 0)
    rows1 = [(1, base, 5, "view", None, "{}")]
    rows2 = [(2, base + dt.timedelta(minutes=1), 5, "view", 2.5, "{}"),
             (3, base + dt.timedelta(minutes=2), 5, "view", None, "{}")]
    try:
        for name, rows in (("f000", rows1), ("f001", rows2)):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite").parquet(os.path.join(src, name))
            time.sleep(1.05)
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(src, "f*")))
        got = {r["event_id"]: r for r in
               _run_stream(running_user_counters_stateful(stream)).collect()}
        assert got[1]["value_so_far"] is None          # null prefix
        assert got[2]["value_so_far"] == 2.5           # first real value
        assert got[3]["value_so_far"] == 2.5           # null skipped, kept
        assert [got[i]["n_so_far"] for i in (1, 2, 3)] == [1, 2, 3]
    finally:
        shutil.rmtree(src, ignore_errors=True)


def _latest_snapshots(spark, stateful_fn, src, schema):
    """Run a stateful op over the replay, return latest per-user rows."""
    sink = tempfile.mkdtemp(prefix="hostile_sink_")
    ckpt = tempfile.mkdtemp(prefix="hostile_ckpt_")
    batch_ids = []

    def write_batch(bdf, batch_id):
        batch_ids.append(batch_id)
        bdf.withColumn("batch_id", F.lit(batch_id)) \
           .write.mode("overwrite").parquet(
               os.path.join(sink, f"batch={batch_id}"))

    q = (stateful_fn(_read_replay(spark, src, schema))
         .writeStream.outputMode("update")
         .foreachBatch(write_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert len(set(batch_ids)) >= 4
    snaps = spark.read.parquet(os.path.join(sink, "batch=*"))
    latest = (snaps.withColumn(
        "mx", F.max("batch_id").over(W.partitionBy("user_id")))
        .filter(F.col("batch_id") == F.col("mx"))
        .localCheckpoint(eager=True))
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(sink, ignore_errors=True)
    return latest


def test_hostile_burstiness_equals_batch(spark, adv_dir, hostile_replay):
    """The r10 class-H fix's REPLAY test: a pre-epoch stamp carries a
    NEGATIVE µs value that collided with the old -1 state sentinel — in
    replay the collision happens AT A BATCH BOUNDARY (state restored
    with last_us = -1 µs), which the batch sweep could never exercise.
    Merged latest snapshots must reproduce q_ts_burstiness bit-for-bit
    on the hostile fixture."""
    src, schema = hostile_replay
    latest = _latest_snapshots(spark, burstiness_stateful, src, schema) \
        .filter(F.col("n_gaps") >= 2)
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("decimal(38,0)").cast("double")
    mu = s1d / F.col("n_gaps")
    sigma = F.sqrt(s2d / F.col("n_gaps") - mu * mu)
    streamed = latest.select(
        "user_id", "n_gaps", mu.alias("mean_gap_us"),
        (F.round((sigma - mu) / (sigma + mu), 9) + 0.0).alias("burstiness"))
    batch = QUERIES["q_ts_burstiness"](spark, adv_dir)
    assert _canon(streamed) == _canon(batch)
    assert streamed.count() > 0


def test_hostile_pattern_equals_batch(spark, adv_dir, hostile_replay):
    """Streaming CEP over hostile stamps: view->click->purchase chains
    whose steps collapse onto ONE microsecond (the tie-storm) or span
    the epoch boundary must match the batch window rewrite exactly."""
    src, schema = hostile_replay
    # identified-users policy at the FEED, exactly as the registered
    # q_stream_pattern_match wires it (an anonymous event stream has no
    # per-user funnel; the batch twin declares the same class-G policy)
    latest = _latest_snapshots(
        spark,
        lambda s: pattern_stateful(s.filter(F.col("user_id").isNotNull())),
        src, schema,
    ).filter(F.col("n_purchases") > 0)
    streamed = latest.select(
        "user_id", "n_purchases", "n_matched",
        (F.col("n_matched") > 0).alias("converted"))
    batch = QUERIES["q_ts_pattern_match"](spark, adv_dir)
    assert _canon(streamed) == _canon(batch)
    assert streamed.count() > 0


def test_far_future_stamp_poisons_watermark_by_design(spark):
    """DECLARED failure mode, pinned: one 2200 clock-garbage stamp in an
    early batch advances the watermark ~175 years, so every later
    real-time row is late beyond any sane delay and (after the
    one-batch lag of Spark's previous-batch watermark rule) silently
    dropped from watermarked aggregations.  This is WHY ingestion must
    quarantine clock garbage before event-time streaming (the batch
    calendar family's ts_domain is the same policy) — the engine cannot
    distinguish a misconfigured clock from a fast-forward of time."""
    src = tempfile.mkdtemp(prefix="poison_src_")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    base = dt.datetime(2024, 1, 5, 12, 0, 0)

    def write(name, rows):
        import time
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(os.path.join(src, name))
        time.sleep(1.05)

    try:
        # batch 1: two normal rows AND the clock-garbage stamp
        write("f000", [
            (1, base, 10, "view", 1.0, "{}"),
            (2, base + dt.timedelta(minutes=1), 10, "view", 1.0, "{}"),
            (3, dt.datetime(2200, 6, 15, 12, 0, 0), 11, "view", 1.0, "{}"),
        ])
        # batches 2-3: on-time rows by wall clock — already ~175 years
        # late by event time.  Late filtering uses the PREVIOUS batch's
        # committed watermark, which after batch 1 is ALREADY
        # 2200-minus-delay, so every row after the garbage batch drops.
        write("f001", [
            (4, base + dt.timedelta(minutes=2), 10, "view", 1.0, "{}"),
        ])
        write("f002", [
            (5, base + dt.timedelta(minutes=3), 10, "view", 1.0, "{}"),
            (6, base + dt.timedelta(minutes=4), 10, "view", 1.0, "{}"),
        ])
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(src, "f*"))
                  .withWatermark("ts", "10 minutes"))
        counts = stream.groupBy(
            F.window("ts", "5 minutes").alias("w")
        ).agg(F.count("*").alias("n"))
        got = _run_stream(counts, "append")
        total = got.agg(F.sum("n")).collect()[0][0]
        # only batch 1 survives: rows 1,2 + the garbage row itself;
        # rows 4,5,6 — every row of every later batch — are lost
        assert total == 3, f"expected the poisoned stream to keep 3, got {total}"
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_hostile_cdc_apply_equals_batch(spark, adv_dir, hostile_replay):
    """CDC materialization across hostile batches: the per-key newest-
    version rule is (unix_micros(ts), event_id) — the microsecond
    tie-storm makes the event_id tiebreak LOAD-BEARING (hundreds of
    changes share one instant), and sub-µs stamps collapse onto -1/0 µs
    where version comparison must still be deterministic.  Feed policy
    mirrors the registered q_stream_cdc_apply (class G: a NULL-key
    change has no identity to merge on)."""
    from pyspark.sql import Window as _W

    from mu_swarm_logger_service_spark.streaming.queries import (
        _run_cdc_apply)

    src, schema = hostile_replay
    batch_ids = []
    got = _run_cdc_apply(
        _read_replay(spark, src, schema).filter(
            F.col("user_id").isNotNull()),
        batch_ids=batch_ids,
    )
    assert len(set(batch_ids)) >= 4

    ev = load(spark, adv_dir, "events").filter(F.col("user_id").isNotNull())
    w = _W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    want = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        # the registered oracle's declared class-G policy: only an
        # EXPLICIT 'error' op deletes; a NULL-typed change is an upsert
        # (a bare != 'error' NULLs the comparison and drops the key —
        # this twin had exactly that latent miss until the hostile
        # fixture put a NULL-typed row LAST for one user)
        .filter((F.col("event_type") != "error")
                | F.col("event_type").isNull())
        .select("user_id", F.col("event_id").alias("last_event_id"),
                F.col("value").alias("latest_value"))
    )
    assert _canon(got) == _canon(want)
    # the tie-storm must actually stress the version tiebreak
    ties = (ev.groupBy("ts").count().filter(F.col("count") > 1).count())
    assert ties > 0


def test_hostile_holt_winters_equals_batch(spark, adv_dir, hostile_replay):
    """Streaming Holt-Winters across hostile batches == batch fold,
    bit-exact: hostile stamps insert pre-epoch days, a 2200 far-future
    day, and a tie-storm day into the per-type day sequence; the
    state-machine's pending-day/init logic must close them exactly as
    the one-shot batch recursion does.  Feed policy mirrors the
    registered q_stream_holt_winters (identified series)."""
    import tempfile as _tf

    from mu_swarm_logger_service_spark.operators.timeseries import (
        _HW_ALPHA as a, _HW_BETA as bb, _HW_GAMMA as g, _HW_M as m)
    from mu_swarm_logger_service_spark.streaming.stateful import hw_stateful

    src, schema = hostile_replay
    sink = _tf.mkdtemp(prefix="hw_hostile_sink_")
    ckpt = _tf.mkdtemp(prefix="hw_hostile_ckpt_")
    batch_ids = []

    def write_batch(bdf, batch_id):
        batch_ids.append(batch_id)
        bdf.withColumn("batch_id", F.lit(batch_id)) \
           .write.mode("overwrite").parquet(
               os.path.join(sink, f"batch={batch_id}"))

    q = (hw_stateful(_read_replay(spark, src, schema).filter(
            F.col("event_type").isNotNull()))
         .writeStream.outputMode("update")
         .foreachBatch(write_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert len(set(batch_ids)) >= 4

    snaps = spark.read.parquet(os.path.join(sink, "batch=*"))
    latest = (snaps.withColumn(
        "mx", F.max("batch_id").over(W.partitionBy("event_type")))
        .filter(F.col("batch_id") == F.col("mx"))
        .filter((F.col("n_complete") >= 2 * m)
                & (F.col("pending_day") >= 0)))
    y = F.col("pending_n").cast("double")
    s1 = F.element_at("s", 1)
    lt = a * (y - s1) + (1 - a) * (F.col("l") + F.col("b"))
    bt = bb * (lt - F.col("l")) + (1 - bb) * F.col("b")
    st = g * (y - lt) + (1 - g) * s1
    s_next = F.element_at(F.concat(F.slice("s", 2, m - 1), F.array(st)), 1)
    streamed = latest.select(
        "event_type",
        (F.col("n_complete") + 1).cast("long").alias("n_days"),
        lt.alias("level"), bt.alias("trend"),
        s_next.alias("season_next"),
        (lt + bt + s_next).alias("forecast_next"))
    batch = QUERIES["q_ts_holt_winters"](spark, adv_dir)
    assert _canon(streamed) == _canon(batch)
    assert streamed.count() > 0
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(sink, ignore_errors=True)


def test_hostile_heavy_hitters_equals_batch_sketch(spark, adv_dir,
                                                   hostile_replay):
    """Sharded Misra-Gries across hostile batches == the batch sketch
    EXACTLY.  The composition that forced the class-I policy onto both
    twins: the replay splits batches by ts, so a NaT row folds in batch
    0 there but sorts LAST in the batch twin's one-shot fold — MG is
    decrement-based and ORDER-SENSITIVE, so the fold orders must be
    made equal by construction (observed-time items only)."""
    from mu_swarm_logger_service_spark.operators.sketches import mg_merge
    from mu_swarm_logger_service_spark.streaming.stateful import (
        MG_SNAPSHOT_SENTINEL, mg_sketch_stateful)

    src, schema = hostile_replay
    latest = _latest_snapshots_by(spark, mg_sketch_stateful, src, schema,
                                  key="shard")
    latest = (latest.filter(F.col("item") != MG_SNAPSHOT_SENTINEL)
              .select("shard", "item", "est"))
    got = mg_merge(latest)
    want = QUERIES["q_sketch_heavy_hitters"](spark, adv_dir)
    assert _canon(got) == _canon(want)
    assert got.count() > 0


def test_hostile_fingerprint_merge_equals_batch(spark, adv_dir,
                                                hostile_replay):
    """Incremental fingerprint partials over hostile batches, merged by
    decimal addition, == the one-shot batch fingerprint — including the
    NULL-ts rows, whose canonical tuple renders the \\N sentinel (ts is
    CONTENT for a fingerprint) and whose day group is NULL on both
    sides."""
    import tempfile as _tf

    from mu_swarm_logger_service_spark.operators.analytics import (
        event_row_fingerprint)

    src, schema = hostile_replay
    sink = _tf.mkdtemp(prefix="fp_hostile_sink_")
    ckpt = _tf.mkdtemp(prefix="fp_hostile_ckpt_")
    batch_ids = []

    def write_batch(bdf, batch_id):
        batch_ids.append(batch_id)
        (bdf.select(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                    event_row_fingerprint().alias("rh"))
         .groupBy("day")
         .agg(F.count(F.lit(1)).alias("n_part"),
              F.sum(F.col("rh").cast("decimal(38,0)")).alias("fp_part"))
         .write.mode("overwrite")
         .parquet(os.path.join(sink, f"batch={batch_id}")))

    q = (_read_replay(spark, src, schema)
         .writeStream.foreachBatch(write_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert len(set(batch_ids)) >= 4
    merged = (
        spark.read.parquet(os.path.join(sink, "batch=*"))
        .groupBy("day")
        .agg(F.sum("n_part").cast("long").alias("n_rows"),
             F.sum("fp_part").cast("decimal(38,0)").cast("string")
             .alias("fingerprint")))
    ev = load(spark, adv_dir, "events")
    want = (
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                  event_row_fingerprint().alias("rh"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum(F.col("rh").cast("decimal(38,0)")).cast("decimal(38,0)")
             .cast("string").alias("fingerprint")))
    assert _canon(merged) == _canon(want)
    # the NULL-day group (class I, ts as content) must exist on both sides
    assert merged.filter(F.col("day").isNull()).count() == 1
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def _latest_snapshots_by(spark, stateful_fn, src, schema, key):
    """Like _latest_snapshots but for an arbitrary state key column."""
    import tempfile as _tf
    sink = _tf.mkdtemp(prefix="hostile_sink_")
    ckpt = _tf.mkdtemp(prefix="hostile_ckpt_")
    batch_ids = []

    def write_batch(bdf, batch_id):
        batch_ids.append(batch_id)
        bdf.withColumn("batch_id", F.lit(batch_id)) \
           .write.mode("overwrite").parquet(
               os.path.join(sink, f"batch={batch_id}"))

    q = (stateful_fn(_read_replay(spark, src, schema))
         .writeStream.outputMode("update")
         .foreachBatch(write_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert len(set(batch_ids)) >= 4
    snaps = spark.read.parquet(os.path.join(sink, "batch=*"))
    latest = (snaps.withColumn(
        "mx", F.max("batch_id").over(W.partitionBy(key)))
        .filter(F.col("batch_id") == F.col("mx"))
        .localCheckpoint(eager=True))
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(sink, ignore_errors=True)
    return latest


# ---------------------------------------------------------------------------
# Stream-stream interval join (row 64) — the one stateful family the r11
# gate didn't cover, and the only one with TWO watermarks and an
# asymmetric late rule (r11 verdict task 2).
# ---------------------------------------------------------------------------

def _attribution_stream(raw, how="inner", delay="2 hours"):
    """The watermarked streaming form of purchase_click_attribution —
    kept textually in sync with test_streaming.py's pristine twin."""
    p = (raw.filter(F.col("event_type") == "purchase")
         .withWatermark("ts", delay)
         .select(F.col("event_id").alias("purchase_id"),
                 F.col("user_id").alias("p_uid"), F.col("ts").alias("p_ts")))
    c = (raw.filter(F.col("event_type") == "click")
         .withWatermark("ts", delay)
         .select(F.col("event_id").alias("click_id"),
                 F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts")))
    joined = p.join(
        c,
        (F.col("p_uid") == F.col("c_uid"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
        "leftOuter" if how == "left" else "inner",
    )
    return joined.select("purchase_id", "click_id",
                         F.col("p_uid").alias("user_id"))


def test_hostile_stream_join_inner_equals_batch(spark, adv_dir,
                                                hostile_replay):
    """Watermarked inner interval join across hostile batches == batch
    twin: the microsecond tie-storm sits at the strict c_ts < p_ts bound,
    NULL user_ids must drop on the equi key (class G) on both forms, and
    the far-future stamps ride the LAST batch (ts-ordered replay) where
    they can no longer poison earlier state."""
    src, schema = hostile_replay
    got = _run_stream(_attribution_stream(_read_replay(spark, src, schema)))
    want = X.purchase_click_attribution(load(spark, adv_dir, "events"))
    assert _canon(got) == _canon(want)
    assert got.count() > 0


def test_hostile_stream_join_outer_equals_batch(spark, adv_dir,
                                                hostile_replay):
    """LEFT-OUTER join across hostile batches == batch twin — the test
    that found BOTH r12 outer-join gaps on first contact: (class I) a
    NULL-ts purchase can NEVER leave the streaming state store (no event
    time means no watermark ever passes its band), and (class G) a
    NULL-USER purchase survives a batch LEFT join while the streaming
    state store drops keyless rows outright — 8 silently-missing outer
    rows versus the then-unfiltered batch twin.  Fixed as two-sided
    policies on purchase_click_attribution and both q_stream_join*
    oracles; this test pins batch == stream on data where both filters
    are load-bearing.  The one remaining declared divergence is the
    dedup suite's born-late contract: a pre-epoch purchase is older than
    the watermark's EPOCH initialization and is dropped before any
    data-derived watermark exists — excluded from the batch side here,
    non-vacuously.  The flush sentinel advances both watermarks past the
    far-future stamps so every outer row leaves the state store."""
    src, schema = hostile_replay
    ev = load(spark, adv_dir, "events")
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp")
    # non-vacuity: the fixture must exercise all three policies — null-ts
    # purchases (class I), null-user purchases (class G), and a born-late
    # pre-epoch purchase.
    assert ev.filter((F.col("event_type") == "purchase")
                     & F.col("ts").isNull()).count() > 0
    assert ev.filter((F.col("event_type") == "purchase")
                     & F.col("user_id").isNull()).count() > 0
    assert ev.filter((F.col("event_type") == "purchase")
                     & (F.col("ts") <= epoch)).count() > 0
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(-1, max_ts + dt.timedelta(days=2), -1, "purchase", 0.0, "{}"),
         (-2, max_ts + dt.timedelta(days=2), -1, "click", 0.0, "{}")],
        schema,
    )
    sentinel.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src, "f999"))
    try:
        got = _run_stream(
            _attribution_stream(_read_replay(spark, src, schema), how="left")
        ).filter(F.col("user_id") >= 0)
        want = X.purchase_click_attribution(
            ev.filter(F.col("ts") > epoch), how="left")
        assert _canon(got) == _canon(want)
        # the outer rows themselves must be non-vacuous
        assert got.filter(F.col("click_id").isNull()).count() > 0
    finally:
        shutil.rmtree(os.path.join(src, "f999"), ignore_errors=True)


def test_stream_join_null_event_times_each_side(spark):
    """Hand-built class-I replay, NULL event times on EACH side
    independently: the inner join drops them via the band predicate on
    both forms (vacuous agreement), and the outer join drops the null-ts
    purchase on both forms ONLY because the observed-time policy is
    applied to the batch twin — without it the batch side emits
    (purchase=1, click=NULL) forever while the stream holds the row's
    state until shutdown (measured divergence, r12)."""
    import time
    src = tempfile.mkdtemp(prefix="jnull_src_")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    base = dt.datetime(2024, 1, 5, 12, 0, 0)

    def mins(k):
        return base + dt.timedelta(minutes=k)

    f1 = [(1, None, 7, "purchase", 1.0, "{}"),     # null-ts purchase
          (2, mins(0), 7, "click", 1.0, "{}"),
          (3, mins(30), 7, "purchase", 1.0, "{}")]
    f2 = [(4, None, 7, "click", 1.0, "{}"),        # null-ts click
          (5, mins(40), 7, "purchase", 1.0, "{}"),
          (6, mins(50), 7, "click", 1.0, "{}"),
          (7, mins(55), 7, "purchase", 1.0, "{}"),
          # flush sentinel: a distant pair advances both watermarks so
          # outer state drains under availableNow
          (8, mins(60 * 24), 99, "purchase", 0.0, "{}"),
          (9, mins(60 * 24), 99, "click", 0.0, "{}")]
    try:
        for name, rows in (("f000", f1), ("f001", f2)):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite").parquet(os.path.join(src, name))
            time.sleep(1.05)
        raw = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1)
               .parquet(os.path.join(src, "f*")))
        all_rows = spark.createDataFrame(f1 + f2, schema)
        for how in ("inner", "left"):
            got = _run_stream(_attribution_stream(
                (spark.readStream.schema(schema)
                 .option("maxFilesPerTrigger", 1)
                 .parquet(os.path.join(src, "f*"))), how=how)
            ).filter(F.col("user_id") == 7)
            want = X.purchase_click_attribution(all_rows, how=how).filter(
                F.col("user_id") == 7)
            assert _canon(got) == _canon(want), how
            ids = {r["purchase_id"] for r in got.collect()}
            # purchase 1 (null ts) appears on NEITHER side; purchases
            # 3/5/7 attribute to click 2 (and 7 also to 6)
            assert 1 not in ids
            assert {3, 5, 7} <= ids
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stream_join_far_future_one_side_min_policy(spark):
    """A far-future clock-garbage stamp on ONE side only does NOT poison
    the two-watermark join (measured, pinned): Spark's default
    multipleWatermarkPolicy=min takes the GLOBAL watermark as the MIN of
    the two sides, so the sane side's watermark holds the join's late
    filter down and every later real-time row on BOTH sides still joins.
    This is the asymmetric-late-rule counterpart of
    test_far_future_stamp_poisons_watermark_by_design — one garbage
    SOURCE poisons a single-watermark aggregation, but a join needs
    garbage on BOTH sides to lose rows (see the companion test below)."""
    import time
    src = tempfile.mkdtemp(prefix="jff1_src_")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    base = dt.datetime(2024, 1, 5, 12, 0, 0)
    ff = dt.datetime(2200, 6, 15, 12, 0, 0)

    def mins(k):
        return base + dt.timedelta(minutes=k)

    g1 = [(1, mins(0), 7, "click", 1.0, "{}"),
          (2, ff, 8, "click", 1.0, "{}")]          # garbage, click side only
    g2 = [(3, mins(30), 7, "purchase", 1.0, "{}"),
          (4, mins(31), 7, "click", 1.0, "{}")]
    g3 = [(5, mins(90), 7, "purchase", 1.0, "{}")]
    try:
        for name, rows in (("f000", g1), ("f001", g2), ("f002", g3)):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite").parquet(os.path.join(src, name))
            time.sleep(1.05)
        raw = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1)
               .parquet(os.path.join(src, "f*")))
        got = sorted(tuple(r) for r in _run_stream(
            _attribution_stream(raw)).collect())
        # nothing lost: purchase 3 matches click 1; purchase 5 (two
        # batches after the garbage) still matches click 4
        assert got == [(3, 1, 7), (5, 4, 7)]
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stream_join_far_future_both_sides_poisons_by_design(spark):
    """DECLARED failure mode, pinned: clock garbage on BOTH sides of the
    join advances the global min-watermark ~175 years, so rows arriving
    ≥2 batches later (Spark filters with the PREVIOUS batch's committed
    watermark) are silently dropped — the batch answer keeps the
    purchase-5/click-4 match that the stream loses.  Same quarantine-
    upstream contract as ts_domain: the engine cannot tell a
    misconfigured clock from a fast-forward of time, so clock garbage
    must be fenced BEFORE event-time streaming."""
    import time
    src = tempfile.mkdtemp(prefix="jff2_src_")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    base = dt.datetime(2024, 1, 5, 12, 0, 0)
    ff = dt.datetime(2200, 6, 15, 12, 0, 0)

    def mins(k):
        return base + dt.timedelta(minutes=k)

    g1 = [(1, mins(0), 7, "click", 1.0, "{}"),
          (2, ff, 8, "click", 1.0, "{}"),                     # garbage click
          (3, ff + dt.timedelta(minutes=1), 9, "purchase", 1.0, "{}")]
    g2 = [(4, mins(30), 7, "purchase", 1.0, "{}"),  # 1-batch lag: survives
          (5, mins(31), 7, "click", 1.0, "{}")]
    g3 = [(6, mins(90), 7, "purchase", 1.0, "{}")]  # ≥2 batches late: lost
    try:
        for name, rows in (("f000", g1), ("f001", g2), ("f002", g3)):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite").parquet(os.path.join(src, name))
            time.sleep(1.05)
        raw = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1)
               .parquet(os.path.join(src, "f*")))
        got = sorted(tuple(r) for r in _run_stream(
            _attribution_stream(raw)).collect())
        assert got == [(4, 1, 7)], got      # (6, 5, 7) silently lost
        # the batch twin on identical data keeps both matches
        want = sorted(tuple(r) for r in X.purchase_click_attribution(
            spark.createDataFrame(g1 + g2 + g3, schema)).collect())
        assert want == [(4, 1, 7), (6, 5, 7)]
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stream_join_tie_storm_at_band_bounds(spark):
    """Microsecond ties exactly AT the band bounds, replayed across a
    batch boundary: c_ts == p_ts is excluded (strict <), c_ts == p_ts -
    1h is included (>=), one µs past the hour is excluded — streaming
    and batch must agree row-for-row at µs precision."""
    import time
    src = tempfile.mkdtemp(prefix="jtie_src_")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    t0 = dt.datetime(2024, 1, 5, 12, 0, 0)
    h1 = [(1, t0, 7, "click", 1.0, "{}"),
          (2, t0, 7, "purchase", 1.0, "{}"),                  # == : excluded
          (3, t0 + dt.timedelta(hours=1), 7, "purchase", 1.0, "{}"),
          (4, t0 + dt.timedelta(hours=1, microseconds=1), 7,
           "purchase", 1.0, "{}")]                            # 1 µs past: out
    h2 = [(5, t0 + dt.timedelta(microseconds=1), 7, "purchase", 1.0, "{}"),
          (6, t0, 8, "click", 1.0, "{}"),
          (7, t0, 8, "purchase", 1.0, "{}")]                  # == : excluded
    try:
        for name, rows in (("f000", h1), ("f001", h2)):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite").parquet(os.path.join(src, name))
            time.sleep(1.05)
        raw = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1)
               .parquet(os.path.join(src, "f*")))
        got = sorted(tuple(r) for r in _run_stream(
            _attribution_stream(raw)).collect())
        want = sorted(tuple(r) for r in X.purchase_click_attribution(
            spark.createDataFrame(h1 + h2, schema)).collect())
        assert got == want == [(3, 1, 7), (5, 1, 7)]
    finally:
        shutil.rmtree(src, ignore_errors=True)
