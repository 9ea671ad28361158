"""Time-series operators over the event stream — gap-filling, histograms,
anomaly detection.

The reference's downstream consumers (SwarmUI dashboards querying the
triplestore it feeds [pub:muswarmlogger/loggers/docker.py]) chart event
rates over time; these are the engine-side primitives those charts need
beyond plain tumbling windows (streaming/queries.py):

- **gap-fill**: a dashboard needs zero rows for silent hours, which a
  plain groupBy can never emit — densify against a generated hour spine.
- **histogram**: fixed-width value bucketing, the distribution primitive.
- **anomaly**: per-type z-score over hourly rates — "error spike"
  detection.  Variance comes from INTEGER sums (exact in both engines),
  so the z-scores are bit-identical cross-engine without decimal casts.

Scale notes: the hour spine is generated from a 1-row global min/max
aggregate and broadcast (~10⁴ rows per year — trivially small at any
corpus size); the counts side shuffles once on (type, hour).  Nothing
here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.folds import fsum
from ..core.numeric import measure, measure_sql
from ..core.registry import query
from ..core.tables import load, observed_time

# ---------------------------------------------------------------------------
# Valid-time domain for CALENDAR-spine analytics (r10 hostile trap class H).
#
# A spine generated between raw MIN(ts) and MAX(ts) is RANGE-proportional,
# not data-proportional: one clock-reset epoch stamp plus one far-future
# misconfiguration and the hour spine explodes (measured on the class-H
# fixture: 1969..2200 bounds -> a 2.02-million-hour spine feeding a
# single-partition global window; the sweep hung there).  Real pipelines
# quarantine clock garbage before calendar analytics, so the queries that
# build dense calendar structures (spines, day lattices, pixel buckets on
# a time axis) declare an explicit valid-time domain and filter events to
# it IDENTICALLY on both sides.  Only the calendar family applies this —
# windows/sessionization/fingerprints handle hostile stamps row-wise and
# keep every event.  The domain also keeps every timestamp strictly
# post-epoch, so second-grain bucket arithmetic (trunc vs floor division
# — they differ only below zero) is sign-safe by construction.
#
# POLICY BOUNDARY (deliberate): the domain gates queries whose COST or
# OUTPUT CARDINALITY is proportional to the time RANGE (dense spines,
# day lattices, time-axis pixel buckets).  The observed-grain family
# (holt/holt_winters/decompose/acf/anomaly/slo_burn/...) is NOT
# domain-gated: their cost tracks OBSERVED buckets, so clock garbage
# adds O(1) rows, and their declared semantics is "every observed stamp
# is data" — deterministic and cross-engine exact either way (proven by
# the class-H sweeps).  Quarantining there would be a silent
# data-dropping default inside an analytics operator; a production
# pipeline that wants it composes the same filter upstream, exactly as
# these four queries do.
#
# DISTINCT from the domain gate: the class-I OBSERVED-TIME policy
# (core/tables.observed_time, r11) — a NULL ts is not a hostile VALUE
# but a missing coordinate, so every ts-AXIS query (including the
# observed-grain family above) filters "ts IS NOT NULL" identically on
# both sides.  The two gates compose: domain bounds the calendar family
# against range-proportional blowup; observed-time gives every time
# operator a defined position for each row it keeps.  (The domain
# predicate already excludes NULL on both engines, so the four
# domain-gated queries need no second filter.)
TS_DOMAIN_LO = "1990-01-01"
TS_DOMAIN_HI = "2100-01-01"
# A 1989 archive or a post-2100 simulation edits these two constants.
# ts_domain() reads them at call time; the REGISTERED oracle strings are
# derived from them at import (the driver's oracle_sql() is static text).
TS_DOMAIN_SQL = (f"ts >= TIMESTAMP '{TS_DOMAIN_LO}'"
                 f" AND ts < TIMESTAMP '{TS_DOMAIN_HI}'")
# oracle spelling: replace `FROM events` with this subquery
TS_DOMAIN_EVENTS = f"(SELECT * FROM events WHERE {TS_DOMAIN_SQL}) events"


def ts_domain() -> "F.Column":
    """Spark twin of TS_DOMAIN_SQL over TS_DOMAIN_LO/HI (yyyy-MM-dd,
    validated: a bad edit of the constants fails loudly)."""
    import datetime
    import re

    lo, hi = TS_DOMAIN_LO, TS_DOMAIN_HI
    for v in (lo, hi):
        if not re.fullmatch(r"\d{4}-\d{2}-\d{2}", v):
            raise ValueError(
                f"ts_domain bound {v!r} is not a yyyy-MM-dd date")
        # The shape regex admits calendar-impossible dates
        # ('2024-02-30'), which cast to NULL (non-ANSI) and silently
        # drop every row — the exact failure this guard must refuse.
        try:
            datetime.date.fromisoformat(v)
        except ValueError:
            raise ValueError(
                f"ts_domain bound {v!r} is not a valid calendar date")
    if not lo < hi:
        raise ValueError(f"empty ts_domain: lo={lo} >= hi={hi}")
    return ((F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp")))


@query("q_ts_gapfill", oracle=f"""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM {TS_DOMAIN_EVENTS}
), spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
), errs AS (
  SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM {TS_DOMAIN_EVENTS} WHERE event_type = 'error' GROUP BY 1
)
SELECT s.hour, CAST(COALESCE(e.n, 0) AS BIGINT) AS n_errors
FROM spine s LEFT JOIN errs e ON s.hour = e.hour
""")
def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled hourly error counts: the dense hour spine (generated
    from one global min/max row, exploded, broadcast) left-joins the
    sparse per-hour counts.  Hours with no errors appear with 0 — the
    rows a bare groupBy cannot produce.  Spine bounds come from the
    declared valid-time domain (ts_domain above): clock garbage must not
    size a calendar."""
    ev = load(spark, sf_dir, "events").filter(ts_domain())
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour")
    )
    errs = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        F.broadcast(spine).join(errs, "hour", "left")
        .select("hour", F.coalesce("n", F.lit(0)).cast("long").alias("n_errors"))
    )


BIN_WIDTH = 25.0


@query("q_ts_histogram", oracle=f"""
SELECT CAST(FLOOR(value / {BIN_WIDTH}) AS BIGINT) AS bin,
       CAST(FLOOR(value / {BIN_WIDTH}) * {BIN_WIDTH} AS DOUBLE) AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(value) AS v_min, MAX(value) AS v_max
FROM events
WHERE abs(value) < 1e18
GROUP BY 1, 2
""")
def q_ts_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values: one groupBy on the bin id;
    min/max per bin ride the same single pass.  FLOOR(double / width) is
    the same IEEE operation in both engines, so bin edges agree exactly.
    Class-L: observed in-domain values, with this query's OWN bound
    abs < 1e18 — the bin id must fit BIGINT after the divide (a NaN
    crashed DuckDB's INT64 cast; a 1e21/2.5 bin id would overflow it)."""
    ev = load(spark, sf_dir, "events").filter(
        F.abs(F.col("value")) < F.lit(1e18))
    bin_id = F.floor(F.col("value") / BIN_WIDTH).cast("long")
    return (
        ev.groupBy(bin_id.alias("bin"),
                   (bin_id * BIN_WIDTH).cast("double").alias("bin_lo"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("value").alias("v_min"),
             F.max("value").alias("v_max"))
    )


Z_THRESHOLD = 2.0


@query("q_ts_anomaly", oracle=f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, hour, n,
         CAST(SUM(n) OVER w AS DOUBLE) / COUNT(*) OVER w AS mu,
         CAST(SUM(n * n) OVER w AS DOUBLE) AS sq,
         CAST(SUM(n) OVER w AS DOUBLE) AS s1,
         CAST(COUNT(*) OVER w AS DOUBLE) AS cnt
  FROM hourly
  WINDOW w AS (PARTITION BY event_type)
)
SELECT event_type, hour, CAST(n AS BIGINT) AS n,
       round((n - mu) / sqrt((sq - s1 * s1 / cnt) / (cnt - 1.0)), 6) + 0.0
         AS z
FROM stats
WHERE abs((n - mu) / sqrt((sq - s1 * s1 / cnt) / (cnt - 1.0)))
      >= {Z_THRESHOLD}
""")
def q_ts_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection: hourly counts per type, z-scored
    against that type's own distribution, |z| >= 2 flagged.  Mean and
    variance derive from INTEGER sums (Σn, Σn², exact and order-free in
    both engines), divided/rooted as doubles — bit-identical without any
    decimal machinery.  Two shuffles total: (type, hour) then type."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type")
    s1 = F.sum("n").over(w).cast("double")
    sq = F.sum(F.col("n") * F.col("n")).over(w).cast("double")
    cnt = F.count(F.lit(1)).over(w).cast("double")
    mu = s1 / cnt
    z = (F.col("n") - mu) / F.sqrt((sq - s1 * s1 / cnt) / (cnt - F.lit(1.0)))
    return (
        hourly.withColumn("z_raw", z)
        .filter(F.abs(F.col("z_raw")) >= Z_THRESHOLD)
        .select("event_type", "hour", F.col("n").cast("long").alias("n"),
                (F.round("z_raw", 6) + 0.0).alias("z"))
    )


@query("q_ts_transitions", oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events WHERE ts IS NOT NULL
)
SELECT prev_type, event_type AS next_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM ordered
WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""")
def q_ts_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (Markov user-journey counts): per-user
    event sequence via one window (unique (ts, event_id) tiebreak, so the
    lag is shuffle-order-proof), then a global (prev, next) count.  Two
    shuffles: user_id for the sequence, the tiny transition key for the
    count — the funnel/journey primitive dashboards build on."""
    ev = observed_time(load(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


FUNNEL_WINDOW_S = 3600


@query("q_ts_funnel", oracle=f"""
WITH s AS (
  SELECT user_id, ts FROM events
  WHERE event_type = 'signup' AND user_id IS NOT NULL
), p AS (
  SELECT user_id, ts FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
), converted AS (
  SELECT DISTINCT s.user_id
  FROM s JOIN p ON p.user_id = s.user_id
              AND p.ts >= s.ts
              AND epoch_us(p.ts) - epoch_us(s.ts) <= CAST({FUNNEL_WINDOW_S} AS BIGINT) * 1000000
)
SELECT CAST((SELECT COUNT(DISTINCT user_id) FROM s) AS BIGINT) AS n_signup_users,
       CAST((SELECT COUNT(*) FROM converted) AS BIGINT) AS n_converted,
       round(CAST((SELECT COUNT(*) FROM converted) AS DOUBLE)
             / (SELECT COUNT(DISTINCT user_id) FROM s), 6) AS conversion_rate
""")
def q_ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: users who purchase within an hour of signing up,
    as a fraction of all signup users — the sequential-pattern metric
    behind every onboarding dashboard.  The signup→purchase match is a
    range join WITH an equi anchor (user_id), so it hash-partitions on
    the user and evaluates the time band as a residual — never a
    time-cross-product."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull())  # class G: identified users only)
    s = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("s_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = (
        s.join(p, (s.user_id == p.p_user)
               & (F.col("p_ts") >= F.col("s_ts"))
               # exact integer-us band (epoch_us <-> unix_micros): the
               # old truncating unix_timestamp seconds against the
               # oracle's FRACTIONAL epoch() was a latent sub-second
               # boundary trap (and sign-unsafe pre-epoch, class H)
               & (F.unix_micros("p_ts") - F.unix_micros("s_ts")
                  <= FUNNEL_WINDOW_S * 1_000_000))
        .select("user_id").distinct()
        .agg(F.count(F.lit(1)).alias("n_converted"))
    )
    signups = s.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n_signup_users")
    )
    # class K: zero signup users (an empty batch, or a day with no
    # signups) keeps the count row — (0, 0, NULL rate) — via try_divide,
    # mirroring DuckDB's /0 -> NULL where ANSI division would crash.
    return (
        signups.crossJoin(F.broadcast(converted))
        .select(
            "n_signup_users", "n_converted",
            F.round(F.try_divide(F.col("n_converted").cast("double"),
                                 F.col("n_signup_users")), 6)
            .alias("conversion_rate"),
        )
    )


RETENTION_DAYS = 7


@query("q_ts_retention", oracle=f"""
WITH activity AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
), offsets AS (
  SELECT MIN(day) OVER (PARTITION BY user_id) AS cohort_day,
         date_diff('day', MIN(day) OVER (PARTITION BY user_id), day)
           AS day_offset
  FROM activity
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(day_offset AS BIGINT) AS day_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM offsets
WHERE day_offset BETWEEN 0 AND {RETENTION_DAYS}
GROUP BY cohort_day, day_offset
""")
def q_ts_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    on each of the next {0..7} days they return — the engagement grid
    behind every product dashboard.  The cohort day is a per-user MIN
    *window* over the distinct (user, day) activity set, not a self-join:
    the event stream is pre-partitioned on user_id once and the distinct,
    the window, and nothing else touch it — one fact scan, one fact
    shuffle (a join formulation scans the facts twice and, at real user
    counts, would try to broadcast a billions-of-rows cohort table).
    COUNT(*) equals COUNT(DISTINCT user_id) here because each user
    contributes exactly one row per (cohort, offset) after the distinct.
    Pure integer/date arithmetic — exact in both engines; cohort_day is
    emitted as a string per the determinism rules."""
    ev = load(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).repartition("user_id").distinct()
    w = Window.partitionBy("user_id")
    return (
        activity.withColumn("cohort_day", F.min("day").over(w))
        .withColumn("day_offset",
                    F.datediff(F.col("day"), F.col("cohort_day")).cast("long"))
        .filter(F.col("day_offset").between(0, RETENTION_DAYS))
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


EWMA_SPAN = 11  # trailing hours beyond the current one


@query("q_ts_ewma", oracle=f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), expanded AS (
  SELECT t.event_type, t.hour, s.n, power(0.5, j.j) AS w
  FROM hourly t
  CROSS JOIN (SELECT unnest(generate_series(0, {EWMA_SPAN})) AS j) j
  JOIN hourly s ON s.event_type = t.event_type
                AND CAST(epoch(s.hour) AS BIGINT)
                    = CAST(epoch(t.hour) AS BIGINT) - j.j * 3600
)
SELECT event_type, hour, SUM(n * w) / SUM(w) AS ewma
FROM expanded
GROUP BY event_type, hour
""")
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted trailing average of hourly event rates
    (half-life = 1 hour over a 12-hour window) — the smoothed rate curve
    dashboards overlay on raw counts.  Weights are powers of 0.5, so
    every term n*2^-j is an exact binary fraction and the weighted sums
    are order-independent and the final division is one IEEE op on exact
    operands — bit-identical cross-engine with no decimal machinery and
    no round() (whose boundary behavior differs between engines).  The expansion joins the hourly aggregate to itself on
    (type, epoch-offset): 12x fan-out of the *aggregated* rows (tiny at
    any corpus scale), never of the raw events; one shuffle for the
    hourly rollup, one equi-join shuffle on the offset key."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    targets = hourly.select(
        "event_type", "hour",
        F.unix_timestamp("hour").alias("t_epoch"),
    ).withColumn("j", F.explode(F.expr(f"sequence(0, {EWMA_SPAN})")))
    sources = hourly.select(
        F.col("event_type").alias("s_type"),
        F.unix_timestamp("hour").alias("s_epoch"),
        "n",
    )
    return (
        targets.join(
            sources,
            (F.col("event_type") == F.col("s_type"))
            & (F.col("s_epoch") == F.col("t_epoch") - F.col("j") * 3600),
        )
        .withColumn("w", F.pow(F.lit(0.5), F.col("j")))
        .groupBy("event_type", "hour")
        .agg((F.sum(F.col("n") * F.col("w")) / F.sum("w")).alias("ewma"))
    )


@query("q_ts_changepoint", oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), stats AS (
  SELECT event_type, hour,
         SUM(n) OVER (PARTITION BY event_type ORDER BY hour
                      ROWS UNBOUNDED PRECEDING) AS s,
         row_number() OVER (PARTITION BY event_type ORDER BY hour) AS k,
         SUM(n) OVER (PARTITION BY event_type) AS t,
         COUNT(*) OVER (PARTITION BY event_type) AS c
  FROM hourly
), cs AS (
  SELECT event_type, hour,
         CAST(s AS DOUBLE) - CAST(k * t AS DOUBLE) / CAST(c AS DOUBLE)
           AS cusum
  FROM stats
)
SELECT event_type, hour AS cp_hour, cusum
FROM cs
QUALIFY row_number() OVER (PARTITION BY event_type
                           ORDER BY abs(cusum) DESC, hour) = 1
""")
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection: per event type, the hour where the
    cumulative deviation from the type's mean hourly rate peaks — the
    classic single-changepoint estimator for "when did the rate shift".

    Determinism needs care: a naive running SUM of double deviations
    diverges in the last ulp because DuckDB evaluates window sums with a
    segment tree (tree-shaped addition order) while Spark accumulates
    row-by-row.  The algebraic rewrite cusum_k = S_k - k*T/C keeps every
    window aggregate on exact INTEGERS (prefix sum S_k, rank k, totals
    T, C — any association order is exact) and converts to double only
    in the final two IEEE ops, which both engines evaluate identically.
    Two shuffles: (type, hour) rollup, then type for the windows."""
    ev = observed_time(load(spark, sf_dir, "events"))
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    wp = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("hour")
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cs = (
        hourly
        .withColumn("s", F.sum("n").over(wc))
        .withColumn("k", F.row_number().over(wo))
        .withColumn("t", F.sum("n").over(wp))
        .withColumn("c", F.count(F.lit(1)).over(wp))
        .withColumn(
            "cusum",
            F.col("s").cast("double")
            - (F.col("k") * F.col("t")).cast("double")
            / F.col("c").cast("double"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs("cusum").desc(), "hour"
    )
    return (
        cs.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("hour").alias("cp_hour"), "cusum")
    )


@query("q_ts_locf", oracle="""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN value END AS pv
  FROM events WHERE ts IS NOT NULL
)
SELECT user_id, ts, event_id,
       last_value(pv IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS UNBOUNDED PRECEDING) AS last_purchase_value
FROM marked
WHERE user_id % 50 = 0
""")
def q_ts_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill / last-observation-carried-forward: every event row
    carries the value of the user's most recent purchase (NULL until the
    first one) — the sparse-measurement densifier behind "state as of
    this event" joins, done with one window instead of an as-of
    self-join.  ``last(ignorenulls)`` over a running frame needs no
    shuffle beyond the user_id partition; (ts, event_id) is a unique
    ordering so the carried value is shuffle-order-proof.  Values pass
    through untouched (no arithmetic), so cross-engine equality is
    trivial."""
    ev = observed_time(load(spark, sf_dir, "events")).filter(F.expr("user_id % 50 = 0"))
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id", "ts", "event_id",
        F.last(pv, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


@query("q_ts_trend", oracle="""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS xi,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2
), reb AS (
  SELECT event_type,
         xi - MIN(xi) OVER (PARTITION BY event_type) AS x, y
  FROM hourly
), agg AS (
  SELECT event_type, COUNT(*) AS c, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM reb GROUP BY 1
)
SELECT event_type, CAST(c AS BIGINT) AS n_hours,
       CAST(c * sxy - sx * sy AS DOUBLE)
         / CAST(c * sxx - sx * sx AS DOUBLE) AS slope_per_hour,
       CAST(sy AS DOUBLE) / c AS mean_rate
FROM agg
""")
def q_ts_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear rate trend: closed-form OLS slope of hourly event
    counts over time — "is the error rate climbing".  Every moment
    (Σx, Σy, Σxy, Σx²) is an exact INTEGER sum over hour indexes REBASED
    to each type's first hour (bounded by the time span, not the epoch —
    no overflow and no precision loss at any corpus age); the slope
    converts the two small integer differences to double in one fixed
    expression, so it is bit-identical cross-engine with no rounding.
    Single fact shuffle: the stream is pre-partitioned on event_type, and
    the hourly rollup, the per-type MIN window, and the moments aggregate
    all reuse that one exchange."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.repartition("event_type")
        .groupBy(
            "event_type",
            (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
            .cast("long").alias("xi"),
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    w = Window.partitionBy("event_type")
    reb = hourly.withColumn("x", F.col("xi") - F.min("xi").over(w))
    agg = reb.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("c") * F.col("sxy") - F.col("sx") * F.col("sy"))
    den = (F.col("c") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return agg.select(
        "event_type",
        F.col("c").cast("long").alias("n_hours"),
        (num.cast("double") / den.cast("double")).alias("slope_per_hour"),
        (F.col("sy").cast("double") / F.col("c")).alias("mean_rate"),
    )


@query("q_ts_seasonality", oracle="""
WITH cells AS (
  SELECT event_type,
         CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
         CAST(hour(ts) AS BIGINT) AS hod,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2, 3
), tot AS (
  SELECT event_type, SUM(n) AS t FROM cells GROUP BY event_type
)
SELECT c.event_type, c.dow, c.hod, CAST(c.n AS BIGINT) AS n,
       CAST(c.n AS DOUBLE) / t.t AS share
FROM cells c JOIN tot t USING (event_type)
""")
def q_ts_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile — the (day-of-week x hour-of-day)
    heatmap cell counts and within-type shares that any rate-anomaly
    baseline normalizes against.  Spark's dayofweek is 1=Sunday
    while DuckDB's is 0=Sunday — the oracle shifts by one (found by the
    parity gate); shares divide exact integers (one IEEE op).  The
    per-type totals reuse the same aggregated cells (168 rows per type)
    — the second aggregate is driver-trivial at any corpus size."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cells.groupBy("event_type").agg(F.sum("n").alias("t"))
    return (
        cells.join(F.broadcast(tot), "event_type")
        .select(
            "event_type", "dow", "hod",
            F.col("n").cast("long").alias("n"),
            (F.col("n").cast("double") / F.col("t")).alias("share"),
        )
    )


@query("q_ts_acf", oracle="""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS xi,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type, l.k, a.y AS ya, b.y AS yb
  FROM hourly a
  JOIN (VALUES (1), (2), (3)) l(k) ON TRUE
  JOIN hourly b ON b.event_type = a.event_type AND b.xi = a.xi + l.k
), agg AS (
  SELECT event_type, k, COUNT(*) AS c,
         SUM(ya) AS sa, SUM(yb) AS sb, SUM(ya * yb) AS sab,
         SUM(ya * ya) AS saa, SUM(yb * yb) AS sbb
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, CAST(k AS BIGINT) AS lag_hours, CAST(c AS BIGINT) AS n_pairs,
       CAST(c * sab - sa * sb AS DOUBLE)
         / sqrt(CAST(c * saa - sa * sa AS DOUBLE)
                * CAST(c * sbb - sb * sb AS DOUBLE)) AS acf
FROM agg
WHERE (c * saa - sa * sa) > 0 AND (c * sbb - sb * sb) > 0
""")
def q_ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the per-type hourly rate at lags 1-3 hours —
    the periodicity detector behind seasonality-aware alerting ("is this
    hour's count explained by the last few hours").  Lag pairing is an
    hour-offset equi self-join of the hourly rollup (robust to silent
    hours, unlike positional lead()); the rollup is tiny (types x hours)
    so the pairing side is broadcast — no second shuffle at any corpus
    age.  Pearson r comes from exact INTEGER moments; the final
    expression is three IEEE ops (multiply, sqrt, divide) on identical
    operands, so it is bit-identical cross-engine without rounding.
    Degenerate constant series are filtered on both sides (zero
    variance has no defined correlation)."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
        .cast("long").alias("xi"),
    ).agg(F.count(F.lit(1)).alias("y"))
    lags = spark.range(1, 4).select(F.col("id").alias("k"))
    a = hourly.alias("a").crossJoin(F.broadcast(lags))
    b = hourly.alias("b")
    pairs = a.join(
        F.broadcast(b),
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.xi") == F.col("a.xi") + F.col("k")),
    ).select(
        F.col("a.event_type").alias("event_type"), "k",
        F.col("a.y").alias("ya"), F.col("b.y").alias("yb"),
    )
    agg = pairs.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("ya").alias("sa"), F.sum("yb").alias("sb"),
        F.sum(F.col("ya") * F.col("yb")).alias("sab"),
        F.sum(F.col("ya") * F.col("ya")).alias("saa"),
        F.sum(F.col("yb") * F.col("yb")).alias("sbb"),
    )
    var_a = F.col("c") * F.col("saa") - F.col("sa") * F.col("sa")
    var_b = F.col("c") * F.col("sbb") - F.col("sb") * F.col("sb")
    num = F.col("c") * F.col("sab") - F.col("sa") * F.col("sb")
    return (
        agg.filter((var_a > 0) & (var_b > 0))
        .select(
            "event_type",
            F.col("k").cast("long").alias("lag_hours"),
            F.col("c").cast("long").alias("n_pairs"),
            (num.cast("double")
             / F.sqrt(var_a.cast("double") * var_b.cast("double"))).alias("acf"),
        )
    )


@query("q_ts_m4_downsample", oracle=f"""
WITH px AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 900) AS BIGINT) AS bucket,
         epoch_us(ts) AS k, event_id, value
  FROM {TS_DOMAIN_EVENTS}
)
SELECT event_type, bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(value) AS v_min,
       MAX(value) AS v_max,
       min({{'k': k, 'id': event_id, 'v': value}}).v AS v_first,
       max({{'k': k, 'id': event_id, 'v': value}}).v AS v_last
FROM px GROUP BY 1, 2
""")
def q_ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling — the lossless line-chart reduction (min, max,
    first, last per pixel bucket) that lets a dashboard render a 100 TB
    event stream from ~4 points per pixel instead of every row.  One
    groupBy on (type, 15-min bucket): first/last ride the same shuffle
    as min/max via single-pass min/max-STRUCT aggregates keyed on
    (epoch_us, event_id) — a total order (event_id is unique), so no
    window pass and no second exchange.  All outputs are selections of
    input doubles — no float arithmetic, exact cross-engine; the bucket
    anchor floors DuckDB's fractional epoch() to match Spark's
    truncating unix_timestamp — an agreement that holds only for
    POSITIVE epochs (floor != trunc below zero; the class-H sweep
    caught pre-epoch stamps splitting the bucket ids), which the
    valid-time domain (ts_domain) guarantees: a dashboard's pixel
    buckets live on the declared time axis, not on clock garbage."""
    ev = load(spark, sf_dir, "events").filter(ts_domain())
    px = ev.select(
        "event_type",
        (F.unix_timestamp("ts") / 900).cast("long").alias("bucket"),
        F.unix_micros("ts").alias("k"), "event_id", "value",
    )
    key = lambda: F.struct(F.col("k"), F.col("event_id").alias("id"),
                           F.col("value").alias("v"))
    return px.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.min(key()).getField("v").alias("v_first"),
        F.max(key()).getField("v").alias("v_last"),
    )


@query("q_ts_interpolate", oracle=f"""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM {TS_DOMAIN_EVENTS}
), spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
), errs AS (
  SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM {TS_DOMAIN_EVENTS} WHERE event_type = 'error' GROUP BY 1
), series AS (
  SELECT CAST(floor(epoch(s.hour) / 3600) AS BIGINT) AS xi, s.hour, e.n
  FROM spine s LEFT JOIN errs e ON s.hour = e.hour
), fenced AS (
  SELECT xi, hour, n,
         last_value(CASE WHEN n IS NOT NULL THEN {{'x': xi, 'v': n}} END
                    IGNORE NULLS)
           OVER (ORDER BY xi ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS p,
         first_value(CASE WHEN n IS NOT NULL THEN {{'x': xi, 'v': n}} END
                     IGNORE NULLS)
           OVER (ORDER BY xi ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS nx
  FROM series
)
SELECT hour, (n IS NOT NULL) AS observed,
       CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
            WHEN p IS NULL OR nx IS NULL THEN NULL
            ELSE CAST(p.v AS DOUBLE)
                 + CAST(nx.v - p.v AS DOUBLE)
                   * (CAST(xi - p.x AS DOUBLE) / CAST(nx.x - p.x AS DOUBLE))
       END AS v_interp
FROM fenced
""")
def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of silent hours in the error-rate series —
    the dashboard smoothing step between zero-fill (q_ts_gapfill) and
    carry-forward (q_ts_locf): each gap hour gets the line between its
    bracketing observations; edge gaps (before the first / after the
    last observation) stay NULL.  Neighbor positions ride IGNORE-NULLS
    last/first_value windows over (hour-index, value) structs.  The
    window is global but runs on the POST-AGGREGATION hourly series
    (~10^4 rows/year at any corpus size — bounded because spine bounds
    come from the declared valid-time domain, ts_domain; raw MIN/MAX
    bounds measured a 2M-hour spine on one epoch + one far-future
    stamp) — the heavy lifting is the one groupBy shuffle on the raw
    stream, as in gapfill.  The interp expression is integer-derived
    with a fixed IEEE op order, so it is bit-identical cross-engine."""
    ev = load(spark, sf_dir, "events").filter(ts_domain())
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour")
    )
    errs = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    series = (
        F.broadcast(spine).join(errs, "hour", "left")
        .select((F.unix_timestamp("hour") / 3600).cast("long").alias("xi"),
                "hour", "n")
    )
    obs = F.when(F.col("n").isNotNull(),
                 F.struct(F.col("xi").alias("x"), F.col("n").alias("v")))
    w_prev = (Window.orderBy("xi")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_next = (Window.orderBy("xi")
              .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    fenced = series.select(
        "xi", "hour", "n",
        F.last(obs, ignorenulls=True).over(w_prev).alias("p"),
        F.first(obs, ignorenulls=True).over(w_next).alias("nx"),
    )
    ratio = (F.col("xi") - F.col("p.x")).cast("double") \
        / (F.col("nx.x") - F.col("p.x")).cast("double")
    interp = (
        F.when(F.col("n").isNotNull(), F.col("n").cast("double"))
        .when(F.col("p").isNull() | F.col("nx").isNull(), F.lit(None))
        .otherwise(F.col("p.v").cast("double")
                   + (F.col("nx.v") - F.col("p.v")).cast("double") * ratio)
    )
    return fenced.select(
        "hour",
        F.col("n").isNotNull().alias("observed"),
        interp.alias("v_interp"),
    )


VOL_WINDOW = 24  # trailing hours in the volatility frame


@query("q_ts_volatility", oracle=f"""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS xi,
         COUNT(*) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), framed AS (
  SELECT event_type, xi, y,
         COUNT(*) OVER w AS c,
         SUM(y) OVER w AS sx,
         SUM(y * y) OVER w AS sxx
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY xi
               ROWS BETWEEN {VOL_WINDOW - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, xi, CAST(y AS BIGINT) AS y, CAST(c AS BIGINT) AS n_hours,
       CAST(sx AS DOUBLE) / c AS mean_rate,
       CASE WHEN c > 1
            THEN CAST(c * sxx - sx * sx AS DOUBLE) / (CAST(c AS DOUBLE) * (c - 1))
            ELSE NULL END AS variance
FROM framed
""")
def q_ts_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling volatility of the hourly rate — trailing 24-hour mean and
    sample variance per event type, the band an adaptive alert threshold
    tracks (vs q_ts_anomaly's GLOBAL z-score).  The frame sums are
    INTEGER window sums (any addition order is exact, dodging the
    segment-tree-vs-running-sum double divergence); mean and variance
    convert the integer moments to double in one fixed expression each
    — bit-identical cross-engine with no decimal cast.  One shuffle on
    event_type feeds the hourly rollup AND both frames; rows are
    hours x types, so the window state is trivial at any corpus age."""
    ev = observed_time(load(spark, sf_dir, "events"))
    hourly = ev.repartition("event_type").groupBy(
        "event_type",
        (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
        .cast("long").alias("xi"),
    ).agg(F.count(F.lit(1)).alias("y"))
    w = (Window.partitionBy("event_type").orderBy("xi")
         .rowsBetween(-(VOL_WINDOW - 1), Window.currentRow))
    framed = hourly.select(
        "event_type", "xi", "y",
        F.count(F.lit(1)).over(w).alias("c"),
        F.sum("y").over(w).alias("sx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("sxx"),
    )
    var = (F.col("c") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double") \
        / (F.col("c").cast("double") * (F.col("c") - 1))
    return framed.select(
        "event_type", "xi", F.col("y").cast("long").alias("y"),
        F.col("c").cast("long").alias("n_hours"),
        (F.col("sx").cast("double") / F.col("c")).alias("mean_rate"),
        F.when(F.col("c") > 1, var).otherwise(F.lit(None)).alias("variance"),
    )


@query("q_ts_sliding_distinct", oracle="""
SELECT
  make_timestamp(((CAST(floor(epoch(ts) / 900) AS BIGINT) - k) * 900)
                 * 1000000) AS window_start,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM (SELECT * FROM events WHERE ts IS NOT NULL) events,
     unnest([0, 1, 2, 3]) AS t(k)
GROUP BY 1
""")
def q_ts_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per sliding hour window (15-minute slide) — the
    "concurrent actives" dashboard series.  DISTINCT inside overlapping
    windows is the operationally interesting part: unlike the count in
    q_stream_sliding, per-window distinct can't be composed from
    per-slide partials, so Spark plans it as Expand (4 window copies per
    event, same as the oracle's unnest) into a two-phase aggregate whose
    FIRST phase dedups (window, user) pairs map-side — the shuffle
    carries one row per (window, user), never per event.  At 100 TB the
    exact form is for daily reconciliation; the streaming dashboard path
    swaps COUNT(DISTINCT) for approx_count_distinct (q_agg_approx_distinct)
    and keeps this query as its audit."""
    ev = observed_time(load(spark, sf_dir, "events"))
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.countDistinct("user_id").alias("n_users"),
             F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_users", "n_events")
    )


@query("q_ts_multi_touch", oracle="""
WITH attributed AS (
  SELECT p.event_id AS purchase_id, p.value AS purchase_value,
         c.event_id AS click_id,
         COUNT(*) OVER (PARTITION BY p.event_id) AS n_touches
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id
   AND c.ts >= p.ts - INTERVAL 1 HOUR
   AND c.ts < p.ts
)
SELECT purchase_id, click_id, CAST(n_touches AS BIGINT) AS n_touches,
       round(purchase_value / n_touches, 6) + 0.0 AS credit
FROM attributed
""")
def q_ts_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: a purchase's value is split EQUALLY
    across every same-user click in the preceding hour — the credit model
    one step past last-touch (q_join_asof picks exactly one winner; here
    all touches share).  Built on the same banded user-keyed join as the
    attribution family; the per-purchase touch count is an unordered
    COUNT window over the join output partitioned on purchase_id, and
    credit = value / n is one same-operand IEEE division (round + +0.0
    for the cross-engine -0.0 rule).  At 100 TB: the join shuffles on
    user_id, the window on purchase_id — two exchanges, both
    key-parallel; the credit rows are join-output-proportional."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    c = ev.filter(F.col("event_type") == "click").alias("c")
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c.ts") < F.col("p.ts"))
    )
    joined = p.join(c, cond).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.value").alias("purchase_value"),
        F.col("c.event_id").alias("click_id"),
    )
    w = Window.partitionBy("purchase_id")
    return (
        joined.withColumn("n_touches", F.count(F.lit(1)).over(w))
        .select(
            "purchase_id", "click_id",
            F.col("n_touches").cast("long").alias("n_touches"),
            (F.round(F.col("purchase_value") / F.col("n_touches"), 6) + 0.0)
            .alias("credit"),
        )
    )


_SESS_GAP_US = 8 * 3600 * 1_000_000  # 8h idle gap closes a session


@query("q_ts_sessionize", oracle=f"""
WITH o AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS prev
  FROM events WHERE ts IS NOT NULL
), b AS (
  SELECT user_id, event_id, us,
         CASE WHEN prev IS NULL OR us - prev > {_SESS_GAP_US}
              THEN 1 ELSE 0 END AS brk
  FROM o
), s AS (
  SELECT user_id, us,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_id
  FROM b
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(us) AS BIGINT) AS start_us,
       CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
FROM s GROUP BY user_id, session_id
""")
def q_ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization — the classic lag → break-flag →
    running-sum session id assignment (an 8-hour idle gap closes a
    session; the median per-user inter-event gap in this corpus is
    ~7.7 h, so sessions are non-trivial at every SF).  The batch twin of
    q_stream_session's event-time session windows: streaming
    sessionization needs watermarked state, the batch form is two window
    functions and a groupBy.

    Determinism: timestamps are compared as INTEGER microseconds
    (unix_micros / epoch_us — both engines exact; DuckDB's fractional
    epoch() is the documented trap) and every window ORDER BY carries
    event_id as the unique tiebreaker.  The running session counter is an
    integer ROWS-frame sum — exact under any association.

    Scale shape: ONE shuffle on user_id; both windows and the final
    groupBy(user_id, session_id) reuse that partitioning (session_id is a
    within-partition refinement of the user key, so no second exchange).
    Per-user state is a sort — skewed power users sort within their
    partition, never on one reducer for the whole corpus."""
    ev = observed_time(load(spark, sf_dir, "events"))
    us = F.unix_micros("ts")
    wo = Window.partitionBy("user_id").orderBy(us, "event_id")
    brk = F.when(
        F.lag(us).over(wo).isNull()
        | ((us - F.lag(us).over(wo)) > _SESS_GAP_US),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = (
        ev.select("user_id", "event_id", us.alias("us"), brk.alias("brk"))
        .withColumn(
            "session_id",
            F.sum("brk").over(
                Window.partitionBy("user_id")
                .orderBy("us", "event_id")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        (F.max("us") - F.min("us")).alias("duration_us"),
    )


# Holt double-exponential smoothing parameters: exact binary fractions, so
# every multiply is an exact IEEE scale and the fold is bit-reproducible
# wherever the evaluation order is pinned.
_HOLT_ALPHA = 0.5   # level smoothing
_HOLT_BETA = 0.25   # trend smoothing

# Shared by the batch fold below AND the streaming stateful twin
# (streaming/queries.q_stream_holt): both registered queries check against
# this SAME recursive-CTE recurrence, which is what makes the streaming
# state-carry ≡ batch-fold claim an exact driver-checked equality rather
# than a rows-only assertion (the q_stream_fingerprint pattern).
HOLT_ORACLE_SQL = f"""
WITH RECURSIVE hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
), ord AS MATERIALIZED (
  -- MATERIALIZED matters: DuckDB inlines CTEs by default, so the
  -- recursive step would otherwise re-scan events and recompute the
  -- hourly rollup on EVERY iteration (measured 12.5 s at sf0.1 vs
  -- ~0.1 s materialized — one scan, 181 cheap joins).
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS i
  FROM hourly
), n AS (
  SELECT event_type, MAX(i) AS n_hours FROM ord GROUP BY 1
), state AS (
  -- CAST matters: a bare 0.0 literal is DECIMAL(2,1) in DuckDB and the
  -- recursive UNION ALL unifies b to that type, silently rounding every
  -- step's trend to ONE decimal place (found by parity, round 7).
  SELECT event_type, 1 AS i, y AS l, CAST(0.0 AS DOUBLE) AS b
  FROM ord WHERE i = 1
  UNION ALL
  SELECT s.event_type, s.i + 1,
         {_HOLT_ALPHA} * o.y + {1 - _HOLT_ALPHA} * (s.l + s.b),
         {_HOLT_BETA} * (({_HOLT_ALPHA} * o.y
                          + {1 - _HOLT_ALPHA} * (s.l + s.b)) - s.l)
           + {1 - _HOLT_BETA} * s.b
  FROM state s JOIN ord o
    ON o.event_type = s.event_type AND o.i = s.i + 1
)
SELECT s.event_type, CAST(n.n_hours AS BIGINT) AS n_hours,
       s.l AS level, s.b AS trend, s.l + s.b AS forecast_next
FROM state s JOIN n ON n.event_type = s.event_type
WHERE s.i = n.n_hours
"""


@query("q_ts_holt_trend", oracle=HOLT_ORACLE_SQL)
def q_ts_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) of the hourly
    event rate per type, with the one-step-ahead forecast — the
    trend-aware upgrade of q_ts_ewma's windowed average and the classic
    streaming-dashboard forecasting primitive.  The recurrence
    (alpha=1/2, beta=1/4, l0=y1, b0=0):

        l_t = a*y_t + (1-a)*(l_{{t-1}} + b_{{t-1}})
        b_t = B*(l_t - l_{{t-1}}) + (1-B)*b_{{t-1}}

    is a SEQUENTIAL fold — not expressible as a window aggregate — so the
    Spark side runs it as one `aggregate` higher-order fold per type over
    the position-sorted hourly series, and the oracle runs the identical
    recurrence as a RECURSIVE CTE stepping i -> i+1.  Both engines
    evaluate the same arithmetic ops on the same operands in the same
    order (the smoothing constants are exact binary fractions; the oracle
    inlines l_t where Spark reuses the struct field — same value either
    way), so the emitted doubles are bit-identical with no decimal
    machinery and no round().

    Scale shape: the fold runs over the (type, hour) AGGREGATE, not raw
    events — one shuffle for the hourly rollup, one for the per-type
    collect; series length is bounded by the time span (10^4 rows/year),
    so the per-type array is small at any corpus scale even though the
    corpus itself is not.  A per-entity variant at higher cardinality
    would partition by entity and keep the same shape — state is O(1)
    per series, which is also why the streaming twin
    (streaming/queries.q_stream_holt, applyInPandasWithState) carries
    just (l, b, pending-hour) across micro-batches and checks against
    this SAME oracle."""
    ev = observed_time(load(spark, sf_dir, "events")).filter(
        F.col("event_type").isNotNull())  # class G + class I: identified
        # series over observed-time events only
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    series = hourly.groupBy("event_type").agg(
        F.expr("transform(array_sort(collect_list(struct(h, y))), s -> s.y)")
        .alias("ys"))
    a, b = _HOLT_ALPHA, _HOLT_BETA
    state = F.expr(
        f"aggregate(slice(ys, 2, greatest(size(ys) - 1, 0)), "
        f"struct(element_at(ys, 1) AS l, cast(0.0 AS DOUBLE) AS b), "
        f"(acc, y) -> struct("
        f"{a} * y + {1 - a} * (acc.l + acc.b) AS l, "
        f"{b} * (({a} * y + {1 - a} * (acc.l + acc.b)) - acc.l) "
        f"+ {1 - b} * acc.b AS b))")
    return series.select(
        "event_type",
        F.size("ys").cast("long").alias("n_hours"),
        state.getField("l").alias("level"),
        state.getField("b").alias("trend"),
        (state.getField("l") + state.getField("b")).alias("forecast_next"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: per-user consecutive-active-day streaks.  Distinct from
# q_ts_sessionize (time-gap islands on raw timestamps) — this is the
# calendar-grid variant (daily engagement streaks) built on the classic
# day_number - row_number grouping key.
# ---------------------------------------------------------------------------

@query("q_ts_streaks", oracle="""
WITH activity AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day
  FROM events WHERE ts IS NOT NULL
), runs AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', day)
           - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM activity
), lens AS (
  SELECT user_id, grp, COUNT(*) AS len FROM runs GROUP BY user_id, grp
)
SELECT user_id,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM lens
GROUP BY user_id
""")
def q_ts_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (gaps-and-islands).
    `epoch_day - row_number` is constant within a run of consecutive days,
    so one window + two cheap groupBys finish the job — no self-join, no
    iteration.  All arithmetic is integer/date exact.  The distinct, the
    window, and the first groupBy all share the user_id partitioning, so
    Spark plans ONE shuffle on user_id for the whole pipeline (the final
    per-user rollup rides the same exchange); at 100 TB that single fact
    shuffle is the floor for any per-user sequence analysis."""
    ev = observed_time(load(spark, sf_dir, "events"))
    activity = (ev.select("user_id", F.date_trunc("day", "ts").alias("day"))
                .repartition("user_id").distinct())
    w = Window.partitionBy("user_id").orderBy("day")
    runs = activity.select(
        "user_id",
        (F.datediff("day", F.lit("1970-01-01"))
         - F.row_number().over(w)).alias("grp"),
    )
    lens = runs.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return lens.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation between two daily series (does click volume lead
# purchase volume?).  The lag lattice is computed on the AGGREGATED series —
# days, not events — so the only full-data pass is one groupBy(day).
# ---------------------------------------------------------------------------

XCORR_MAX_LAG = 7  # days; lattice size is (span - k) pairs per lag


@query("q_ts_cross_corr", oracle=f"""
WITH bounds AS (
  SELECT MIN(date_trunc('day', ts)) AS d0, MAX(date_trunc('day', ts)) AS d1
  FROM {TS_DOMAIN_EVENTS}
), cal AS (
  SELECT UNNEST(generate_series(d0, d1, INTERVAL '1 day')) AS day, d0
  FROM bounds
), daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(FLOOR(SUM(CAST(({measure_sql('value')}) AS DECIMAL(27,6)))
              FILTER (WHERE event_type = 'click')) AS DOUBLE) AS a,
         CAST(FLOOR(SUM(CAST(({measure_sql('value')}) AS DECIMAL(27,6)))
              FILTER (WHERE event_type = 'purchase')) AS DOUBLE) AS b
  FROM {TS_DOMAIN_EVENTS} GROUP BY day
), series AS (
  SELECT date_diff('day', d0, day) AS idx,
         COALESCE(a, 0.0) AS a, COALESCE(b, 0.0) AS b
  FROM cal LEFT JOIN daily USING (day)
), pairs AS (
  SELECT l.k, x.a, y.b
  FROM series x
  JOIN (SELECT UNNEST(range(0, {XCORR_MAX_LAG + 1})) AS k) l ON true
  JOIN series y ON y.idx = x.idx + l.k
), m AS (
  SELECT k,
         COUNT(*) AS n,
         CAST(SUM(CAST(a AS DECIMAL(27,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(b AS DECIMAL(27,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(a * b AS DECIMAL(27,0))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(a * a AS DECIMAL(27,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(b * b AS DECIMAL(27,0))) AS DOUBLE) AS syy
  FROM pairs GROUP BY k
)
SELECT CAST(k AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_days,
       (n * sxy - sx * sy)
         / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS xcorr
FROM m
""")
def q_ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation r_k between click value on day d and purchase
    value on day d+k, k = 0..{XCORR_MAX_LAG} — the lead/lag diagnostic
    behind forecasting-feature selection.  The calendar is zero-filled
    from a generated day sequence so a type missing a whole day cannot
    silently shrink the lattice.  Determinism: the daily series is
    FLOORED to whole units before the lattice — this is load-bearing,
    not cosmetic.  First-build parity caught a product whose shortest
    repr terminates at the 2-dp tie digit (10068433.305, not an exact
    binary tie): Spark's double→decimal cast rounds the repr STRING
    (HALF_UP → .31) while DuckDB rounds the BINARY value (→ .30), so
    any decimal cast that actually has to round a full-mantissa double
    is cross-engine unsafe.  With integer-valued doubles (≤1e6 at
    sf0.1), every product and moment sum is exactly representable and
    every decimal cast is exact — zero rounding anywhere; the final
    Pearson expression is then the same IEEE op sequence on identical
    bits in both engines, so the raw quotient is emitted un-rounded
    (SKILL.md round-divergence rule; bound: Σa·b must stay under 2^53 ≈
    9e15, i.e. daily unit volume ~1e6 over a 10-year lattice).  Plan:
    ONE events scan, one shuffle to days; the zero-filled calendar
    comes from a lead()-explode gap-fill over the aggregated series (no
    second scan for min/max bounds — a naive "agg bounds + generate
    calendar + self-join for each lag side" shape was measured planning
    FOUR parquet scans) and the lag lattice is lead(b, k) columns over
    the same series instead of a shifted self-join, so everything after
    the day rollup is narrow work on a span-sized single partition (a
    deliberate, bounded SinglePartition: the series is one row per DAY;
    a decade is ~3.7k rows; tests/test_plans.py pins the single-scan
    shape).  The day lattice is bounded by the declared valid-time
    domain (ts_domain): one clock-garbage stamp must not stretch it to
    a century (class H)."""
    ev = load(spark, sf_dir, "events").filter(ts_domain())
    day = F.date_trunc("day", "ts")
    dec6 = "decimal(27,6)"
    mval = measure(F.col("value"))  # class-L gate before the decimal cast
    daily = ev.groupBy(day.alias("day")).agg(
        F.floor(F.sum(F.when(F.col("event_type") == "click", mval)
                      .cast(dec6))).cast("double").alias("a"),
        F.floor(F.sum(F.when(F.col("event_type") == "purchase", mval)
                      .cast(dec6)))
        .cast("double").alias("b"),
    )
    # Gap-fill without re-reading events: each present day emits itself
    # plus any missing days up to (excluding) the next present day.
    w_ord = Window.orderBy("day")
    filled = (
        daily.withColumn("nxt", F.lead("day").over(w_ord))
        .withColumn("d0", F.min("day").over(
            w_ord.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)))
        .select(
            "d0", "day", "a", "b",
            F.explode(F.sequence(
                "day",
                F.coalesce(F.date_sub(F.col("nxt").cast("date"), 1)
                           .cast("timestamp"), "day"),
                F.expr("interval 1 day"))).alias("cday"),
        )
        .select(
            F.datediff("cday", "d0").alias("idx"),
            # coalesce OBSERVED days too, not just gap days: a day whose
            # clicks/purchases all carry NULL values (or has none of that
            # type at all) sums to NULL, and the oracle's COALESCE(x,
            # 0.0) zero-fills it — leaving it NULL here silently dropped
            # the day from the lag lattice (caught by the sf0.001-density
            # adversarial pin; the denser fixtures never empty a day).
            F.when(F.col("cday") == F.col("day"),
                   F.coalesce(F.col("a"), F.lit(0.0)))
            .otherwise(0.0).alias("a"),
            F.when(F.col("cday") == F.col("day"),
                   F.coalesce(F.col("b"), F.lit(0.0)))
            .otherwise(0.0).alias("b"),
        )
    )
    # Lag lattice as lead(b, k) over the ordered series — no self-join.
    w_idx = Window.orderBy("idx")
    leads = filled.select(
        "idx", "a", "b",
        *[F.lead("b", k).over(w_idx).alias(f"b{k}")
          for k in range(1, XCORR_MAX_LAG + 1)],
    )
    stack_expr = "stack(%d, %s) AS (k, yb)" % (
        XCORR_MAX_LAG + 1,
        ", ".join(["CAST(0 AS BIGINT), b"]
                  + [f"CAST({k} AS BIGINT), b{k}"
                     for k in range(1, XCORR_MAX_LAG + 1)]),
    )
    pairs = (leads.select("a", F.expr(stack_expr))
             .filter(F.col("yb").isNotNull()))

    def dsum_s(col, scale):
        return F.sum(col.cast(f"decimal(27,{scale})")).cast("double")

    a, b = F.col("a"), F.col("yb")
    m = pairs.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        dsum_s(a, 0).alias("sx"), dsum_s(b, 0).alias("sy"),
        dsum_s(a * b, 0).alias("sxy"),
        dsum_s(a * a, 0).alias("sxx"), dsum_s(b * b, 0).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return m.select(
        F.col("k").alias("lag"), n.alias("n_days"),
        ((n * sxy - sx * sy)
         / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).alias("xcorr"),
    )


# ---------------------------------------------------------------------------
# LTTB downsampling (Steinarsson's Largest-Triangle-Three-Buckets): pick,
# per bucket, the point forming the largest triangle with the PREVIOUSLY
# selected point and the next bucket's average — the standard
# shape-preserving chart downsampler.  Unlike q_ts_m4_downsample (per-bucket
# min/max/first/last, embarrassingly parallel) LTTB is a SEQUENTIAL
# recurrence: each bucket's choice depends on the previous one.
# ---------------------------------------------------------------------------

LTTB_BUCKETS = 10  # middle buckets; output = first + 10 picks + last

# Tie-free integer argmax key: area2 * 100000 - x.  area2 is the triangle
# area doubled and scaled by the next bucket's size (so the bucket AVERAGE
# never becomes a rounded float — sums only), computed entirely in int64:
# |  (px*n - Sx) * (y - py)  -  (px - x) * (Sy - n*py)  |.
_LTTB_KEY_SQL = ("abs((s.px * ns.n - ns.sx) * (c.y - s.py)"
                 " - (s.px - c.x) * (ns.sy - ns.n * s.py)) * 100000 - c.x")
_LTTB_KEY2_SQL = ("abs((s.px * ns.n - ns.sx) * (c2.y - s.py)"
                  " - (s.px - c2.x) * (ns.sy - ns.n * s.py)) * 100000 - c2.x")


@query("q_ts_lttb", oracle=f"""
WITH RECURSIVE hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS y
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
), idx AS MATERIALIZED (
  SELECT event_type,
         CAST(date_diff('hour', MIN(h) OVER (PARTITION BY event_type), h)
              AS BIGINT) AS x,
         CAST(y AS BIGINT) AS y,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS i,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM hourly
), pts AS MATERIALIZED (
  SELECT event_type, x, y,
         CASE WHEN i = 1 THEN 0
              WHEN i = n THEN {LTTB_BUCKETS} + 1
              ELSE 1 + CAST((i - 2) * {LTTB_BUCKETS} // (n - 2) AS BIGINT)
         END AS b
  FROM idx WHERE n - 2 >= {LTTB_BUCKETS}
), nsum AS MATERIALIZED (
  -- sums of bucket k+1's points, keyed by k (bucket NB's "next" is the
  -- final point, which lives in pseudo-bucket NB+1)
  SELECT event_type, b - 1 AS k,
         SUM(x) AS sx, SUM(y) AS sy, COUNT(*) AS n
  FROM pts WHERE b >= 2 GROUP BY 1, 2
), state AS (
  SELECT event_type, 0 AS k, x AS px, y AS py FROM pts WHERE b = 0
  UNION ALL
  SELECT s.event_type, s.k + 1, c.x, c.y
  FROM state s
  JOIN pts c ON c.event_type = s.event_type AND c.b = s.k + 1
  JOIN nsum ns ON ns.event_type = s.event_type AND ns.k = s.k + 1
  WHERE s.k < {LTTB_BUCKETS}
    AND NOT EXISTS (
      SELECT 1 FROM pts c2
      WHERE c2.event_type = c.event_type AND c2.b = c.b
        AND {_LTTB_KEY2_SQL} > {_LTTB_KEY_SQL})
)
SELECT event_type, CAST(k AS BIGINT) AS sel_idx,
       CAST(px AS BIGINT) AS x, CAST(py AS BIGINT) AS y
FROM state
UNION ALL
SELECT event_type, CAST({LTTB_BUCKETS} + 1 AS BIGINT), x, y
FROM pts WHERE b = {LTTB_BUCKETS} + 1
""")
def q_ts_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB downsample of the hourly rate per type to {LTTB_BUCKETS}+2
    points.  Integer-exact by construction: x is the hour offset, y the
    count, and the triangle argmax uses the DOUBLED area SCALED by the
    next bucket's size (sums instead of averages — no division anywhere),
    packed with the candidate x into one int64 key (area2·1e5 − x), so
    "largest triangle, leftmost on ties" is a plain integer MAX that both
    engines resolve identically (bound: area2 < ~9e13, i.e. hourly counts
    to ~1e8 over a decade — far past any gate scale; past that, widen the
    pack constant).  The fold is sequential, so the Spark side runs it as
    one JVM higher-order `aggregate` over the per-type point array (the
    q_ts_holt_trend pattern — no Python in the loop) with per-bucket
    next-sums precomputed into an indexable array; the oracle is the same
    recurrence as a recursive CTE whose per-step argmax is a NOT EXISTS
    anti-join (recursive terms can't aggregate).  Scale: the recurrence
    runs over the (type, hour) AGGREGATE — series length is bounded by
    the time span, so the arrays stay small at any corpus size; one
    shuffle for the rollup, one for the per-type collect."""
    ev = observed_time(load(spark, sf_dir, "events")).filter(
        F.col("event_type").isNotNull())  # class G + class I: identified
        # series over observed-time events only
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("y"))
    w = Window.partitionBy("event_type")
    wo = w.orderBy("h")
    NB = LTTB_BUCKETS
    pts = (
        hourly.select(
            "event_type",
            (F.unix_timestamp("h") - F.unix_timestamp(F.min("h").over(w)))
            .cast("long").alias("xs"),
            F.col("y").cast("long").alias("y"),
            F.row_number().over(wo).alias("i"),
            F.count(F.lit(1)).over(w).alias("n"),
        )
        .filter(F.col("n") - 2 >= NB)
        .select(
            "event_type", (F.col("xs") / 3600).cast("long").alias("x"),
            "y", "i", "n",
            F.when(F.col("i") == 1, 0)
            .when(F.col("i") == F.col("n"), NB + 1)
            .otherwise(1 + F.expr(f"((i - 2) * {NB}) div (n - 2)"))
            .cast("int").alias("b"),
        )
    )
    arrs = pts.groupBy("event_type").agg(
        F.expr("array_sort(collect_list(struct(i, b, x, y)))").alias("ps"))
    # next-bucket integer sums, indexable by bucket k (bucket NB's "next"
    # is the final point in pseudo-bucket NB+1) — computed once, outside
    # the fold, and referenced from inside the lambda.
    arrs = arrs.withColumn("ns", F.expr(f"""
        transform(sequence(1, {NB}), kk -> aggregate(
          filter(ps, p -> p.b = kk + 1),
          struct(0L AS sx, 0L AS sy, 0L AS n),
          (a, p) -> struct(a.sx + p.x, a.sy + p.y, a.n + 1L)))"""))
    # Fold state = the picks so far (struct(k, x, y) array, seeded with the
    # first point); the previous pick is element_at(sel, -1), so the argmax
    # expression appears exactly ONCE per step: candidates of bucket k are
    # keyed by area2*1e5 - x and the array_sort max is appended.
    fold = F.expr(f"""
      aggregate(
        sequence(1, {NB}),
        array(struct(0L AS key, cast(0 AS int) AS k,
                     element_at(ps, 1).x AS x, element_at(ps, 1).y AS y)),
        (sel, k) -> array_append(sel, element_at(
          array_sort(transform(filter(ps, p -> p.b = k), p -> struct(
            abs((element_at(sel, -1).x * element_at(ns, k).n
                   - element_at(ns, k).sx) * (p.y - element_at(sel, -1).y)
                - (element_at(sel, -1).x - p.x)
                  * (element_at(ns, k).sy
                     - element_at(ns, k).n * element_at(sel, -1).y))
              * 100000L - p.x AS key,
            cast(k AS int) AS k, p.x AS x, p.y AS y))), -1)),
        sel -> transform(sel, s -> struct(s.k AS k, s.x AS x, s.y AS y)))
    """)
    picked = arrs.select(
        "event_type",
        F.concat(
            fold,
            F.array(F.expr(
                f"struct(cast({NB + 1} AS int) AS k, "
                f"element_at(ps, -1).x AS x, element_at(ps, -1).y AS y)")),
        ).alias("sel"),
    )
    # explode_OUTER, not explode (r12 optimization, ×10 measured):
    # InferFiltersFromGenerate plants `size(sel) > 0` BELOW this projection
    # for a non-outer explode and inlines the entire fold into that Filter
    # — with every `ns` reference expanded to its O(buckets·points)
    # bucket-sum expression — so the interpreted fold re-evaluated many
    # times per row (measured 9.2 s for 5 rows at sf0.01; 0.83 s with the
    # rule dodged, values identical).  The rule skips OUTER generates, and
    # outer ≡ inner here because `sel` is non-null and non-empty by
    # construction (concat of the seeded fold and the final-point array)
    # on every surviving group.
    return picked.select(
        "event_type", F.explode_outer("sel").alias("s")
    ).select(
        "event_type",
        F.col("s.k").cast("long").alias("sel_idx"),
        F.col("s.x").alias("x"), F.col("s.y").alias("y"),
    )


# ---------------------------------------------------------------------------
# SAX — Symbolic Aggregate approXimation of the per-type daily-rate series
# (Lin/Keogh/Lonardi: PAA segments + alphabet discretization).  This variant
# keeps every step integer-exact: PAA = SUM of daily counts per fixed 5-day
# segment (gap days contribute 0 to a SUM automatically, so no gap-fill pass
# is needed), and the alphabet is EMPIRICAL — rank-based ntile(4) over the
# segment sums within each series — instead of Gaussian breakpoints on
# z-scored means (which would put engine-divergent doubles under a
# comparison).  The SAX word is then a per-series string over {a..d}.
# ---------------------------------------------------------------------------

SAX_SEG_DAYS = 5
SAX_ALPHABET = 4


@query("q_ts_sax", oracle=f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), segs AS (
  SELECT event_type, n,
         CAST(date_diff('day', MIN(day) OVER (PARTITION BY event_type), day)
              // {SAX_SEG_DAYS} AS BIGINT) AS seg
  FROM daily
), paa AS (
  SELECT event_type, seg, CAST(SUM(n) AS BIGINT) AS seg_n
  FROM segs GROUP BY 1, 2
), sym AS (
  SELECT event_type, seg, seg_n,
         ntile({SAX_ALPHABET}) OVER (PARTITION BY event_type
                                     ORDER BY seg_n, seg) AS q
  FROM paa
)
SELECT event_type,
       string_agg(chr(CAST(96 + q AS INTEGER)), '' ORDER BY seg) AS sax_word,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(MIN(seg_n) AS BIGINT) AS min_seg_n,
       CAST(MAX(seg_n) AS BIGINT) AS max_seg_n
FROM sym GROUP BY 1
""")
def q_ts_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of each event type's daily-count series.

    Determinism: counts and segment sums are integers; the quartile
    symbol is ntile over (seg_n, seg) — the segment index is unique
    within a series, so ties in the sums break identically in both
    engines; the word is built from an array_sort'ed (seg, q) struct list
    (Spark) ≡ string_agg ORDER BY seg (DuckDB).  The `/ 5 → cast long`
    segment index mirrors DuckDB's `// 5` floor on nonnegative values.

    Plan: the only fact-sized pass is the (type, day) partial-agg
    shuffle; the per-type min-day window, the PAA rollup, the ntile
    ranking, and the word assembly all ride ONE further exchange on
    event_type over day-sized data (hashpartitioning(event_type) already
    clusters (type, seg), so Catalyst plans no third shuffle).  At 100 TB
    the series side is |types|×|days| rows — the symbolization cost is
    independent of event volume."""
    ev = observed_time(load(spark, sf_dir, "events"))
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_type = Window.partitionBy("event_type")
    segs = daily.select(
        "event_type", "n",
        (F.datediff("day", F.min("day").over(per_type)) / SAX_SEG_DAYS)
        .cast("long").alias("seg"),
    )
    paa = (segs.groupBy("event_type", "seg")
           .agg(F.sum("n").alias("seg_n")))
    sym = paa.select(
        "event_type", "seg", "seg_n",
        F.ntile(SAX_ALPHABET)
        .over(per_type.orderBy("seg_n", "seg")).alias("q"),
    )
    word = F.concat_ws("", F.transform(
        F.array_sort(F.collect_list(F.struct("seg", "q"))),
        lambda s: F.char(F.lit(96) + s["q"])))
    return sym.groupBy("event_type").agg(
        word.alias("sax_word"),
        F.count(F.lit(1)).alias("n_segments"),
        F.min("seg_n").alias("min_seg_n"),
        F.max("seg_n").alias("max_seg_n"),
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend: the median of all pairwise slopes of the daily
# series — the robust-statistics sibling of q_ts_trend's least-squares fit
# (up to ~29% contaminated days cannot move it).  The O(span²) pair
# expansion runs on the AGGREGATED per-day series (|days| rows per type,
# bounded by the calendar span regardless of event volume), never on
# events — the same quarantine argument as the exact-Jaccard ground truth.
# ---------------------------------------------------------------------------


@query("q_ts_theil_sen", oracle="""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(date_trunc('day', ts)
                   AS DATE)) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), slopes AS (
  SELECT a.event_type,
         CAST(b.n - a.n AS DOUBLE) / (b.d - a.d) AS slope,
         a.d AS d1, b.d AS d2
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.d > a.d
), ranked AS (
  SELECT event_type, slope,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY slope, d1, d2) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS m
  FROM slopes
)
SELECT event_type,
       CAST(MAX(m) AS BIGINT) AS n_pairs,
       SUM(slope) / COUNT(*) AS ts_slope
FROM ranked
WHERE r IN ((m + 1) // 2, (m + 2) // 2)
GROUP BY event_type
""")
def q_ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen slope of daily event counts per type.

    Determinism: day indices and counts are integers, each pairwise
    slope is ONE IEEE division on exact operands (bit-identical across
    engines), the median picks rank-⌊(m+1)/2⌋ and rank-⌈(m+1)/2⌉ under a
    unique (slope, d1, d2) ordering, and the even-m average is
    SUM-of-two/2 — IEEE addition of two values is commutative, so
    shuffle order cannot move it, and /2 is exact.  Neither engine's
    built-in median() is consulted (interpolation rules differ).

    Plan: one fact shuffle into the (type, day) rollup; the pair join,
    ranking window and final rollup all ride type-keyed exchanges over
    span-bounded data (30 days → 435 pairs per type here; ~13 years
    before a series hits 10⁷ pairs)."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type",
                   F.datediff(F.date_trunc("day", "ts").cast("date"),
                              F.lit("1970-01-01").cast("date")).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = daily.select(F.col("event_type").alias("et"),
                     F.col("d").alias("d1"), F.col("n").alias("n1"))
    b = daily.select(F.col("event_type").alias("et_b"),
                     F.col("d").alias("d2"), F.col("n").alias("n2"))
    slopes = (
        a.join(b, (F.col("et") == F.col("et_b")) & (F.col("d2") > F.col("d1")))
        .select(F.col("et").alias("event_type"), "d1", "d2",
                ((F.col("n2") - F.col("n1")).cast("double")
                 / (F.col("d2") - F.col("d1"))).alias("slope"))
    )
    w = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    ranked = slopes.select(
        "event_type", "slope",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("m"),
    )
    mid = ranked.filter(
        (F.col("r") == ((F.col("m") + 1) / 2).cast("long"))
        | (F.col("r") == ((F.col("m") + 2) / 2).cast("long")))
    return mid.groupBy("event_type").agg(
        F.max("m").alias("n_pairs"),
        (F.sum("slope") / F.count(F.lit(1))).alias("ts_slope"),
    )


# ---------------------------------------------------------------------------
# MAD outlier days: median/MAD robust z-scores over the daily series — the
# robust sibling of q_ts_anomaly's mean/stddev z-score (one wild day moves a
# mean; it cannot move a median).  Both medians are exact rank-selects over
# INTEGERS, so the only floating-point op is the final ratio.
# ---------------------------------------------------------------------------

MAD_K = 3.0  # flag |count - median| > K * MAD


@query("q_ts_mad_outliers", oracle=f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), med AS (
  SELECT event_type, day, n,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n, day) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS m
  FROM daily
), med_v AS (
  SELECT event_type,
         CAST(SUM(n) * CASE WHEN MAX(m) % 2 = 1 THEN 2 ELSE 1 END
              AS BIGINT) AS med2  -- 2x median (exact, odd m selects 1 row)
  FROM med WHERE r IN ((m + 1) // 2, (m + 2) // 2) GROUP BY event_type
), dev AS (
  SELECT d.event_type, d.day, d.n, v.med2,
         abs(2 * d.n - v.med2) AS dev2   -- 2x |n - median|, integer
  FROM daily d JOIN med_v v USING (event_type)
), mad AS (
  SELECT event_type, day, n, med2, dev2,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev2, day)
           AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS m
  FROM dev
), mad_v AS (
  SELECT event_type,
         CAST(SUM(dev2) * CASE WHEN MAX(m) % 2 = 1 THEN 2 ELSE 1 END
              AS BIGINT) AS mad4  -- 4x MAD (exact, odd m selects 1 row)
  FROM mad WHERE r IN ((m + 1) // 2, (m + 2) // 2) GROUP BY event_type
)
SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
       CAST(d.n AS BIGINT) AS n,
       CAST(d.med2 AS DOUBLE) / 2 AS median_n,
       CAST(v.mad4 AS DOUBLE) / 4 AS mad,
       CAST(d.dev2 * 2 AS DOUBLE) / CAST(v.mad4 AS DOUBLE) AS robust_z
FROM dev d JOIN mad_v v USING (event_type)
WHERE CAST(d.dev2 * 2 AS DOUBLE) > CAST({MAD_K} AS DOUBLE) * v.mad4
""")
def q_ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose daily count deviates from the per-type MEDIAN by more
    than K robust sigmas (MAD), per event type.

    Exactness trick: medians of an even-sized set are kept as 2×median =
    sum of the two middle ranks (an exact INTEGER), deviations as
    2×|n−median| (integer), and the MAD as 4×MAD (integer again) — so
    the gate `2·dev2 > K·mad4` compares a double product against an
    integer identically in both engines, and the three emitted doubles
    are single fixed IEEE ops on exact integers (divisions by powers of
    two are exact).  Rank selection uses the unique (value, day) order;
    neither engine's median()/quantile interpolation is consulted.

    Plan: one fact shuffle into the (type, day) rollup; both median
    passes, the deviation join (type-keyed, day-sized) and the gate ride
    type-partitioned exchanges — robust detection costs the same one
    aggregation pass as the mean/stddev z-score at any event volume."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def median2(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(col, "day")
        wp = Window.partitionBy("event_type")
        ranked = df.select(
            "event_type", col,
            F.row_number().over(w).alias("r"),
            F.count(F.lit(1)).over(wp).alias("m"))
        mid = ranked.filter(
            (F.col("r") == ((F.col("m") + 1) / 2).cast("long"))
            | (F.col("r") == ((F.col("m") + 2) / 2).cast("long")))
        return mid.groupBy("event_type").agg(
            (F.sum(col) * F.when(F.max("m") % 2 == 0, 1).otherwise(2))
            .alias(out))

    med_v = median2(daily, "n", "med2")
    dev = (daily.join(med_v, "event_type")
           .withColumn("dev2", F.abs(2 * F.col("n") - F.col("med2"))))
    mad_v = median2(dev.select("event_type", "dev2",
                               F.col("day")), "dev2", "mad4")
    out = dev.join(mad_v, "event_type")
    return (
        out.filter((F.col("dev2") * 2).cast("double")
                   > F.lit(MAD_K) * F.col("mad4"))
        .select(
            "event_type", F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("long").alias("n"),
            (F.col("med2").cast("double") / 2).alias("median_n"),
            (F.col("mad4").cast("double") / 4).alias("mad"),
            ((F.col("dev2") * 2).cast("double")
             / F.col("mad4").cast("double")).alias("robust_z"),
        )
    )


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test on day-over-day direction: is the daily series'
# up/down sequence random, or trending/oscillating?  Counts are exact
# integers end-to-end; the z statistic is one fixed IEEE expression.
# Completes the audit family (Benford digit audit, MAD robust outliers).
# ---------------------------------------------------------------------------


@query("q_ts_runs_test", oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), diffs AS (
  SELECT event_type, day,
         n - lag(n) OVER (PARTITION BY event_type ORDER BY day) AS d
  FROM daily
), signs AS (
  SELECT event_type, day, CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
  FROM diffs WHERE d IS NOT NULL AND d <> 0
), flips AS (
  SELECT event_type, s,
         CASE WHEN s <> lag(s) OVER (PARTITION BY event_type ORDER BY day)
              THEN 1 ELSE 0 END AS flip
  FROM signs
), agg AS (
  SELECT event_type,
         CAST(COUNT(CASE WHEN s = 1 THEN 1 END) AS BIGINT) AS n_up,
         CAST(COUNT(CASE WHEN s = -1 THEN 1 END) AS BIGINT) AS n_down,
         CAST(1 + SUM(flip) AS BIGINT) AS runs
  FROM flips GROUP BY 1
)
SELECT event_type, n_up, n_down, runs,
       (CAST(runs AS DOUBLE)
        - (CAST(2.0 AS DOUBLE) * n_up * n_down / (n_up + n_down) + 1))
         / sqrt(CAST(2.0 AS DOUBLE) * n_up * n_down
                * (CAST(2.0 AS DOUBLE) * n_up * n_down - n_up - n_down)
                / (CAST(n_up + n_down AS DOUBLE) * (n_up + n_down)
                   * (n_up + n_down - 1))) AS z
FROM agg
WHERE n_up > 0 AND n_down > 0 AND n_up + n_down > 1
""")
def q_ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs-test z per event type over daily up/down moves.

    Determinism: zero diffs are dropped (a tie carries no direction),
    runs = 1 + sign flips via lag over the unique day order, and every
    input to z is an exact integer — the statistic is a single fixed
    IEEE expression tree written with identical association in both
    engines (the 2.0 literals are CAST(... AS DOUBLE) on the SQL side —
    the DuckDB fixed-point-literal gotcha: a bare 2.0 keeps the product
    chain in EXACT decimal, which only agrees with Spark's double chain
    while 2·n_up·n_down·(...) stays under 2^53, i.e. series under ~10k
    days; the cast makes both chains the same double op sequence at any
    length).  Plan: one fact shuffle into the (type, day) rollup;
    the lag windows and the final rollup ride one type-keyed exchange."""
    ev = observed_time(load(spark, sf_dir, "events"))
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    diffs = daily.select(
        "event_type", "day", (F.col("n") - F.lag("n").over(w)).alias("d"))
    signs = (diffs.filter(F.col("d").isNotNull() & (F.col("d") != 0))
             .select("event_type", "day",
                     F.when(F.col("d") > 0, 1).otherwise(-1).alias("s")))
    flips = signs.select(
        "event_type", "s",
        F.when(F.col("s") != F.lag("s").over(w), 1).otherwise(0)
        .alias("flip"))
    agg = flips.groupBy("event_type").agg(
        F.count(F.when(F.col("s") == 1, 1)).alias("n_up"),
        F.count(F.when(F.col("s") == -1, 1)).alias("n_down"),
        (F.lit(1) + F.sum("flip")).cast("long").alias("runs"),
    )
    nu, nd, r = F.col("n_up"), F.col("n_down"), F.col("runs")
    mu = F.lit(2.0) * nu * nd / (nu + nd) + 1
    var = (F.lit(2.0) * nu * nd * (F.lit(2.0) * nu * nd - nu - nd)
           / ((nu + nd).cast("double") * (nu + nd) * (nu + nd - 1)))
    return (
        agg.filter((nu > 0) & (nd > 0) & (nu + nd > 1))
        .select("event_type",
                nu.cast("long").alias("n_up"),
                nd.cast("long").alias("n_down"), r.alias("runs"),
                ((r.cast("double") - mu) / F.sqrt(var)).alias("z"))
    )


# ---------------------------------------------------------------------------
# Kaplan–Meier survival — time-to-conversion with right-censoring, the
# estimator every retention/claims/churn dashboard actually wants once
# "conversion" can fail to happen inside the observation window (a plain
# conversion rate silently treats the censored users as non-converters).
# Duration = days from a user's first event to their first high-value
# purchase (value ≥ 200); users who never convert are right-censored at
# the fixed horizon.  Curves are stratified by a hash-bucketed experiment
# arm (user_id % 2) — the standard A/B assignment shape.
# ---------------------------------------------------------------------------

KM_VALUE_MIN = 200.0      # conversion = first purchase at/above this value
KM_HORIZON = "2024-01-31"  # fixed censor date ≥ every fixture event day


@query("q_ts_kaplan_meier", oracle=f"""
WITH per_user AS (
  SELECT user_id % 2 AS arm,
         MIN(date_trunc('day', ts)) AS first_day,
         MIN(CASE WHEN event_type = 'purchase'
                   AND value >= CAST({KM_VALUE_MIN} AS DOUBLE)
              THEN date_trunc('day', ts) END) AS conv_day
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), dur AS (
  SELECT arm,
         CASE WHEN conv_day IS NOT NULL
              THEN CAST(date_diff('day', first_day, conv_day) AS BIGINT)
              ELSE CAST(date_diff('day', first_day,
                                  TIMESTAMP '{KM_HORIZON}') AS BIGINT)
         END AS t,
         CASE WHEN conv_day IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM per_user
), cell AS (
  SELECT arm, t, CAST(SUM(ev) AS BIGINT) AS d,
         CAST(SUM(1 - ev) AS BIGINT) AS c
  FROM dur GROUP BY 1, 2
), risk AS (
  SELECT arm, t, d, c,
         CAST(SUM(d + c) OVER (PARTITION BY arm) AS BIGINT)
         - COALESCE(CAST(SUM(d + c) OVER (PARTITION BY arm ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS BIGINT), 0) AS n_risk
  FROM cell
), lst AS (
  SELECT arm, list_sort(list(struct_pack(t := t,
           factor := CAST(n_risk - d AS DOUBLE) / n_risk))) AS ls
  FROM risk GROUP BY arm
)
SELECT r.arm, r.t, r.n_risk, r.d, r.c,
       list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
         list_transform(list_filter(l.ls, e -> e.t <= r.t),
                        e -> e.factor)),
         (a, x) -> a * x) AS s_km
FROM risk r JOIN lst l USING (arm)
""")
def q_ts_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curves per experiment arm.

    Determinism: death/censor counts and the at-risk set are exact
    integers from one (arm, t) rollup (n_risk via arm-total minus an
    INTEGER cumulative — the running-sum-of-doubles trap never applies);
    each hazard factor (n_i - d_i)/n_i is ONE division of exact integers
    (identical bits cross-engine; censor-only rows give exactly 1.0
    since x/x is exact IEEE), and the survival product folds those
    factors in t-SORTED order via a JVM higher-order aggregate, mirrored
    by DuckDB's list_reduce with a prepended 1.0 seed (the list_reduce
    first-element-seeding gotcha) — a sequential left fold on identical
    bits in identical order, so s_km is emitted RAW.  The censor horizon
    is a pinned literal (RFM discipline: no global-max → no
    SinglePartition agg).  Plan: one fact shuffle to the per-user
    rollup, then every later stage runs on the (arm, t) table, which is
    bounded by 2 arms × the day domain — the full-partition windows,
    the collected factor array (≤ |days| elements), and the per-row
    filtered fold are all domain-bounded, never data-bounded, exactly
    like the decile-lift score-group pattern.  At 100 TB the only
    data-sized cost is the per-user min pass any funnel already pays."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull())  # class G: identified users only
    per_user = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day"),
        F.min(F.when((F.col("event_type") == "purchase")
                     & (F.col("value") >= F.lit(KM_VALUE_MIN)),
                     F.date_trunc("day", "ts"))).alias("conv_day"),
    ).select((F.col("user_id") % 2).alias("arm"), "first_day", "conv_day")
    dur = per_user.select(
        "arm",
        F.when(F.col("conv_day").isNotNull(),
               F.datediff("conv_day", "first_day"))
        .otherwise(F.datediff(F.lit(KM_HORIZON).cast("date"), "first_day"))
        .cast("long").alias("t"),
        F.when(F.col("conv_day").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    cell = dur.groupBy("arm", "t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.lit(1) - F.col("ev")).cast("long").alias("c"),
    )
    w_all = (Window.partitionBy("arm")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    w_before = (Window.partitionBy("arm").orderBy("t")
                .rowsBetween(Window.unboundedPreceding, -1))
    risk = cell.select(
        "arm", "t", "d", "c",
        (F.sum(F.col("d") + F.col("c")).over(w_all)
         - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_before),
                      F.lit(0))).cast("long").alias("n_risk"),
    )
    factor = ((F.col("n_risk") - F.col("d")).cast("double")
              / F.col("n_risk").cast("double"))
    with_arr = risk.select(
        "arm", "t", "n_risk", "d", "c",
        F.sort_array(
            F.collect_list(F.struct(F.col("t").alias("t"),
                                    factor.alias("factor"))).over(w_all)
        ).alias("ls"),
    )
    t_col = F.col("t")
    return with_arr.select(
        "arm", "t", "n_risk", "d", "c",
        F.aggregate(
            F.filter("ls", lambda e: e.getField("t") <= t_col),
            F.lit(1.0),
            lambda acc, e: acc * e.getField("factor"),
        ).alias("s_km"),
    )


# ---------------------------------------------------------------------------
# Holt–Winters additive seasonal smoothing — the seasonality-aware upgrade
# of q_ts_holt_trend: level + trend + a rolling m=7 additive seasonal
# profile over the DAILY event rate per type (weekly cycle), with the
# one-step-ahead forecast.  Same engineering contract as Holt: a
# sequential fold on the Spark side, the identical recurrence as a
# recursive CTE on the oracle side, bit-identical without decimal
# machinery because both engines run the same ops in the same order.
# ---------------------------------------------------------------------------

_HW_ALPHA = 0.5    # level      (exact binary fractions: every smoothing
_HW_BETA = 0.25    # trend       multiply is an exact IEEE scale)
_HW_GAMMA = 0.25   # seasonal
_HW_M = 7          # weekly cycle on daily data


# Shared by the batch fold below AND the streaming stateful twin
# (streaming/queries.q_stream_holt_winters) — the q_stream_holt pattern:
# both registered queries check against this SAME recursive recurrence,
# making stream-state-carry == batch-fold a driver-checked equality.
HW_ORACLE_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
), ord AS MATERIALIZED (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS i
  FROM daily
), yl AS MATERIALIZED (
  SELECT event_type, list(y ORDER BY i) AS ys,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ord GROUP BY 1
  HAVING COUNT(*) >= 2 * {_HW_M} + 1
), init AS MATERIALIZED (
  SELECT event_type, n,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_slice(ys, 1, {_HW_M})), (a, x) -> a + x) AS sum1,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_slice(ys, {_HW_M} + 1, 2 * {_HW_M})), (a, x) -> a + x)
           AS sum2,
         ys
  FROM yl
), state AS (
  SELECT event_type, {_HW_M} AS i,
         sum1 / {_HW_M}.0 AS l,
         (sum2 - sum1) / {_HW_M * _HW_M}.0 AS b,
         list_transform(list_slice(ys, 1, {_HW_M}),
                        y -> y - sum1 / {_HW_M}.0) AS s
  FROM init
  UNION ALL
  SELECT st.event_type, st.i + 1,
         {_HW_ALPHA} * (o.y - st.s[1]) + {1 - _HW_ALPHA} * (st.l + st.b),
         {_HW_BETA} * (({_HW_ALPHA} * (o.y - st.s[1])
                        + {1 - _HW_ALPHA} * (st.l + st.b)) - st.l)
           + {1 - _HW_BETA} * st.b,
         list_append(list_slice(st.s, 2, {_HW_M}),
           {_HW_GAMMA} * (o.y - ({_HW_ALPHA} * (o.y - st.s[1])
                                 + {1 - _HW_ALPHA} * (st.l + st.b)))
           + {1 - _HW_GAMMA} * st.s[1])
  FROM state st JOIN ord o
    ON o.event_type = st.event_type AND o.i = st.i + 1
)
SELECT st.event_type, y.n AS n_days, st.l AS level, st.b AS trend,
       st.s[1] AS season_next,
       st.l + st.b + st.s[1] AS forecast_next
FROM state st JOIN yl y ON y.event_type = st.event_type
WHERE st.i = y.n
"""


@query("q_ts_holt_winters", oracle=HW_ORACLE_SQL)
def q_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt–Winters additive (level, trend, m=7 seasonal) per event type
    on the daily rate, with the one-step forecast.

    Recurrence (a=1/2, B=1/4, g=1/4; l0 = mean of week 1, b0 = mean
    week-over-week delta of weeks 1→2, s0 = week-1 deviations):

        l_t = a(y_t - s_{{t-m}}) + (1-a)(l_{{t-1}} + b_{{t-1}})
        b_t = B(l_t - l_{{t-1}}) + (1-B) b_{{t-1}}
        s_t = g(y_t - l_t)      + (1-g) s_{{t-m}}

    Determinism: the q_ts_holt_trend contract — a sequential fold over
    the position-sorted daily series on the Spark side, the IDENTICAL
    recurrence as a recursive CTE stepping i -> i+1 on the oracle side
    (MATERIALIZED feeder CTEs per the re-scan gotcha; the seasonal
    buffer rides a 7-slot rolling list in the fold state on both
    sides), smoothing constants are exact binary fractions, l_t inlined
    where reused — same value, same op order, bit-identical raw emit.
    Types need >= 2m+1 days (HAVING on both sides).  Scale shape: the
    fold runs over the (type, day) AGGREGATE — one rollup shuffle, one
    per-type collect of a time-domain-bounded array; per-series state
    is O(m), which is what a streaming twin would carry across
    micro-batches."""
    ev = observed_time(load(spark, sf_dir, "events")).filter(
        F.col("event_type").isNotNull())  # class G + class I: identified
        # series over observed-time events only
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    series = (daily.groupBy("event_type")
              .agg(F.expr("transform(array_sort(collect_list("
                          "struct(d, y))), s -> s.y)").alias("ys"))
              .filter(F.size("ys") >= 2 * _HW_M + 1))
    a, b, g, m = _HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_M
    sum1 = fsum(f"slice(ys, 1, {m})")
    sum2 = fsum(f"slice(ys, {m + 1}, {m})")
    lt = (f"{a} * (y - element_at(acc.s, 1)) "
          f"+ {1 - a} * (acc.l + acc.b)")
    state = F.expr(
        f"aggregate(slice(ys, {m} + 1, greatest(size(ys) - {m}, 0)), "
        f"struct({sum1} / {m}.0 AS l, "
        f"({sum2} - {sum1}) / {m * m}.0 AS b, "
        f"transform(slice(ys, 1, {m}), y -> y - {sum1} / {m}.0) AS s), "
        f"(acc, y) -> struct("
        f"{lt} AS l, "
        f"{b} * (({lt}) - acc.l) + {1 - b} * acc.b AS b, "
        f"concat(slice(acc.s, 2, {m} - 1), array("
        f"{g} * (y - ({lt})) + {1 - g} * element_at(acc.s, 1))) AS s))")
    return series.select(
        "event_type",
        F.size("ys").cast("long").alias("n_days"),
        state.getField("l").alias("level"),
        state.getField("b").alias("trend"),
        F.element_at(state.getField("s"), 1).alias("season_next"),
        (state.getField("l") + state.getField("b")
         + F.element_at(state.getField("s"), 1)).alias("forecast_next"),
    )


# ---------------------------------------------------------------------------
# Dynamic Time Warping distance between event-type daily series — the
# alignment-tolerant series-similarity primitive (two types with the same
# weekly shape shifted by a day are "close" under DTW, far under
# Euclidean).  Runs the full O(n·m) DP as a nested sequential fold over
# INTEGER daily counts, so the distance is exact — no floats in the DP.
# ---------------------------------------------------------------------------

_DTW_INF = 1 << 40  # unreachable-cell sentinel, far above any path cost


@query("q_ts_dtw", oracle=f"""
WITH daily AS (
  -- class I: observed-time series (a NULL day's position in the sorted
  -- series differs across engines; found by the sf0.001-density sweep)
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), s AS (
  SELECT event_type, list(y ORDER BY d) AS ys,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM daily GROUP BY 1
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.ys AS ya, b.ys AS yb, a.n AS n_a, b.n AS n_b
  FROM s a JOIN s b ON a.event_type < b.event_type
), dp AS (
  -- list_reduce seeds the accumulator with the FIRST element, so both
  -- fold lists carry their init ROW first and the series values as
  -- singleton lists after it (keeps element types homogeneous).
  SELECT type_a, type_b, n_a, n_b,
         list_reduce(
           list_prepend(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(yb, x -> CAST({_DTW_INF} AS BIGINT))),
             list_transform(ya, x -> [x])),
           (prev, item) -> list_reduce(
             list_prepend([CAST({_DTW_INF} AS BIGINT)],
               list_transform(yb, x -> [x])),
             (acc, it2) -> list_append(acc,
               abs(item[1] - it2[1])
               + least(prev[len(acc) + 1], prev[len(acc)],
                       acc[len(acc)])))
         ) AS lastrow
  FROM pairs
)
SELECT type_a, type_b, n_a, n_b,
       lastrow[n_b + 1] AS dtw,
       CAST(lastrow[n_b + 1] AS DOUBLE) / (n_a + n_b) AS dtw_norm
FROM dp
""")
def q_ts_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise DTW distance between event-type daily-count series.

    Determinism: the DP is pure INTEGER arithmetic (|y_a - y_b| costs,
    min-of-three recurrence, a 2^40 sentinel for unreachable cells) run
    as the IDENTICAL nested sequential fold in both engines — outer fold
    over series A carrying the previous DP row, inner fold building the
    next row left-to-right (the cell needs new[j-1], so it cannot be a
    flat transform).  Both engines seed via the list-prepend trick: the
    fold list's FIRST element is the init row (DuckDB list_reduce seeds
    with the first element; Spark mirrors by prepending the same init
    row), so the fold bodies are literally the same expression tree.
    The only float is the final normalization division.  Scale shape:
    series are (type, day) AGGREGATES — time-domain-bounded arrays —
    and the pair table is |types|² rows, so the O(n·m) DP cost is fixed
    per pair regardless of corpus size; the single BNLJ join is a
    5×5 type-domain cross, not a data cross."""
    ev = observed_time(load(spark, sf_dir, "events"))
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    s = daily.groupBy("event_type").agg(
        F.expr("transform(array_sort(collect_list(struct(d, y))), "
               "x -> x.y)").alias("ys"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a = s.select(F.col("event_type").alias("type_a"),
                 F.col("ys").alias("ya"), F.col("n").alias("n_a"))
    b = s.select(F.col("event_type").alias("type_b"),
                 F.col("ys").alias("yb"), F.col("n").alias("n_b"))
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    inf = f"CAST({_DTW_INF} AS BIGINT)"
    lastrow = F.expr(f"""
      aggregate(
        ya,
        concat(array(CAST(0 AS BIGINT)), transform(yb, x -> {inf})),
        (prev, yai) -> aggregate(
          yb,
          array({inf}),
          (acc, ybj) -> concat(acc, array(
            abs(yai - ybj)
            + least(element_at(prev, size(acc) + 1),
                    element_at(prev, size(acc)),
                    element_at(acc, size(acc)))))))""")
    return pairs.select(
        "type_a", "type_b", "n_a", "n_b",
        F.element_at(lastrow, (F.col("n_b") + 1).cast("int")).alias("dtw"),
        (F.element_at(lastrow, (F.col("n_b") + 1).cast("int"))
         .cast("double") / (F.col("n_a") + F.col("n_b")))
        .alias("dtw_norm"),
    )


# ---------------------------------------------------------------------------
# Rolling-origin forecast backtest — the evaluation loop the forecasting
# family was missing: replay Holt level+trend one step ahead through the
# daily series, score every forecast against the actual, and report MAE
# and MASE (error relative to the naive y_{t+1}=y_t forecaster — the
# standard scale-free skill metric; MASE < 1 means the model beats naive).
# ---------------------------------------------------------------------------


@query("q_ts_forecast_backtest", oracle=f"""
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
), ord AS MATERIALIZED (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS i
  FROM daily
), n AS (
  SELECT event_type, MAX(i) AS n_days FROM ord GROUP BY 1
), state AS (
  SELECT event_type, 1 AS i, y AS l, CAST(0.0 AS DOUBLE) AS b,
         y AS prev, CAST(0.0 AS DOUBLE) AS err_sum,
         CAST(0.0 AS DOUBLE) AS naive_sum
  FROM ord WHERE i = 1
  UNION ALL
  SELECT s.event_type, s.i + 1,
         {_HOLT_ALPHA} * o.y + {1 - _HOLT_ALPHA} * (s.l + s.b),
         {_HOLT_BETA} * (({_HOLT_ALPHA} * o.y
                          + {1 - _HOLT_ALPHA} * (s.l + s.b)) - s.l)
           + {1 - _HOLT_BETA} * s.b,
         o.y,
         s.err_sum + abs(o.y - (s.l + s.b)),
         s.naive_sum + abs(o.y - s.prev)
  FROM state s JOIN ord o
    ON o.event_type = s.event_type AND o.i = s.i + 1
)
SELECT s.event_type, CAST(n.n_days AS BIGINT) AS n_days,
       s.err_sum / (n.n_days - 1) AS mae,
       s.naive_sum / (n.n_days - 1) AS naive_mae,
       s.err_sum / s.naive_sum AS mase
FROM state s JOIN n ON n.event_type = s.event_type
WHERE s.i = n.n_days AND n.n_days > 1 AND s.naive_sum > 0
""")
def q_ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling one-step Holt backtest per event type: MAE and MASE of
    the l_t + b_t forecast over the daily series.

    Determinism: ONE sequential fold carries (l, b, prev_y, err_sum,
    naive_sum) — each step first SCORES the incoming day against the
    previous state's forecast, then folds it into the state, so the
    whole backtest costs the same single pass the forecast itself does
    (no per-origin refits: Holt's state at time t IS the model fit on
    y_1..y_t).  The error sums accumulate in index order inside the
    fold — never a shuffle-order SUM — and the oracle steps the
    IDENTICAL recurrence + accumulators as a recursive CTE
    (q_ts_holt_trend contract; MATERIALIZED feeder), so every emitted
    double is bit-identical raw.  Scale shape: fold over the (type,
    day) aggregate — one rollup shuffle, one per-type collect of a
    time-domain-bounded array."""
    ev = observed_time(load(spark, sf_dir, "events")).filter(
        F.col("event_type").isNotNull())  # class G + class I: identified
        # series over observed-time events only
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    series = daily.groupBy("event_type").agg(
        F.expr("transform(array_sort(collect_list(struct(d, y))), "
               "s -> s.y)").alias("ys"))
    a, b = _HOLT_ALPHA, _HOLT_BETA
    lt = f"{a} * y + {1 - a} * (acc.l + acc.b)"
    state = F.expr(
        f"aggregate(slice(ys, 2, greatest(size(ys) - 1, 0)), "
        f"struct(element_at(ys, 1) AS l, cast(0.0 AS DOUBLE) AS b, "
        f"element_at(ys, 1) AS prev, cast(0.0 AS DOUBLE) AS err_sum, "
        f"cast(0.0 AS DOUBLE) AS naive_sum), "
        f"(acc, y) -> struct("
        f"{lt} AS l, "
        f"{b} * (({lt}) - acc.l) + {1 - b} * acc.b AS b, "
        f"y AS prev, "
        f"acc.err_sum + abs(y - (acc.l + acc.b)) AS err_sum, "
        f"acc.naive_sum + abs(y - acc.prev) AS naive_sum))")
    nd = F.size("ys").cast("long")
    return (series.select(
        "event_type", nd.alias("n_days"),
        state.getField("err_sum").alias("es"),
        state.getField("naive_sum").alias("ns"))
        .filter((F.col("n_days") > 1) & (F.col("ns") > 0))
        .select(
            "event_type", "n_days",
            (F.col("es") / (F.col("n_days") - 1)).alias("mae"),
            (F.col("ns") / (F.col("n_days") - 1)).alias("naive_mae"),
            (F.col("es") / F.col("ns")).alias("mase"),
        ))


# ---------------------------------------------------------------------------
# Markov entropy rate — how predictable is a user's NEXT action given the
# current one?  The conditional entropy H(next | current) of the
# first-order transition process (q_ts_transitions reports the matrix;
# this compresses it to the predictability scalar), with its perplexity —
# "effectively how many next-actions does a user choose between".
# ---------------------------------------------------------------------------


@query("q_ts_entropy_rate", oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events WHERE ts IS NOT NULL
), cells AS (
  SELECT prev AS cur, event_type AS nxt, CAST(COUNT(*) AS BIGINT) AS o
  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
), marg AS (
  SELECT cur, nxt, o,
         CAST(SUM(o) OVER (PARTITION BY cur) AS BIGINT) AS row_n,
         CAST(SUM(o) OVER () AS BIGINT) AS n
  FROM cells
), packed AS (
  SELECT MAX(n) AS n,
         list_sort(list(struct_pack(cur := cur, nxt := nxt, o := o,
                                    row_n := row_n, n := n))) AS ls
  FROM marg
), h AS (
  SELECT n,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(ls, e ->
             -(CAST(e.o AS DOUBLE) / e.n)
             * ln(CAST(e.o AS DOUBLE) / e.row_n))),
           (a, x) -> a + x) AS h_rate
  FROM packed
)
SELECT n AS n_transitions,
       round(h_rate, 6) + 0.0 AS h_rate_nats,
       round(exp(h_rate), 6) AS perplexity
FROM h
""")
def q_ts_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate H(next | current) of the per-user event-type Markov
    chain, in nats, with perplexity.

    Determinism: transition counts and row marginals are exact integers
    (the marginals are windows OVER THE |types|² CELL TABLE — the
    chi2/MI one-scan discipline); H = −Σ p(i,j)·ln p(j|i) folds the
    cells in sorted order, and because ln/exp can differ by an ulp
    across engines both emits round at 6 dp (the q_llm_diversity rule;
    perplexity exponentiates the UNROUNDED fold on both sides, then
    rounds).  Plan: one scan, the per-user lag window (user-keyed),
    the cell rollup, then domain-bounded windows and a 1-row fold."""
    ev = observed_time(load(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "event_type",
                    F.lag("event_type").over(w).alias("prev"))
    cells = (seq.filter(F.col("prev").isNotNull())
             .groupBy(F.col("prev").alias("cur"),
                      F.col("event_type").alias("nxt"))
             .agg(F.count(F.lit(1)).alias("o")))
    marg = cells.select(
        "cur", "nxt", "o",
        F.sum("o").over(Window.partitionBy("cur")).cast("long")
        .alias("row_n"),
        F.sum("o").over(Window.partitionBy()).cast("long").alias("n"),
    )
    packed = marg.agg(
        F.max("n").alias("n"),
        F.sort_array(F.collect_list(
            F.struct("cur", "nxt", "o", "row_n", "n"))).alias("ls"),
    )
    h = F.expr(fsum("ls", "-(CAST(e.o AS DOUBLE) / e.n)"
                          " * ln(CAST(e.o AS DOUBLE) / e.row_n)", "e"))
    return packed.select(
        F.col("n").alias("n_transitions"),
        (F.round(h, 6) + 0.0).alias("h_rate_nats"),
        F.round(F.exp(h), 6).alias("perplexity"),
    )


# ---------------------------------------------------------------------------
# Ordered sequence-pattern match (CEP / MATCH_RECOGNIZE shape) — purchases
# preceded by a click that was itself preceded by a view, within 24 h of the view: the 3-step ordered funnel q_ts_funnel's 2-step form
# cannot express.  The Spark side is the SCALE-RIGHT formulation — two
# running-state window passes over one user-keyed sort, no joins at all —
# while the oracle cross-checks it with the naive join formulation.
# ---------------------------------------------------------------------------

# 24 h: at fixture density per-user events sit ~11 h apart, so a 1-hour
# window NEVER fires (measured 0/1672 matches — a vacuous pattern per the
# pii_redact lesson); 24 h matches 143/1672 at sf0.01 and 14/170 at
# sf0.001 — both branches live at every SF.
_PAT_WINDOW_US = 86_400_000_000


@query("q_ts_pattern_match", oracle=f"""
WITH ev2 AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), p AS (
  SELECT * FROM ev2 WHERE event_type = 'purchase'
), c AS (
  SELECT * FROM ev2 WHERE event_type = 'click'
), v AS (
  SELECT * FROM ev2 WHERE event_type = 'view'
), lastc AS (
  SELECT p.user_id, p.event_id AS pid, p.us AS pus,
         MAX(struct_pack(us := c.us, eid := c.event_id)) AS cb
  FROM p JOIN c ON c.user_id = p.user_id
   AND (c.us < p.us OR (c.us = p.us AND c.event_id < p.event_id))
  GROUP BY 1, 2, 3
), lastv AS (
  SELECT lc.user_id, lc.pid, lc.pus, lc.cb,
         MAX(struct_pack(us := v.us, eid := v.event_id)) AS vb
  FROM lastc lc JOIN v ON v.user_id = lc.user_id
   AND (v.us < lc.cb.us OR (v.us = lc.cb.us AND v.event_id < lc.cb.eid))
  GROUP BY 1, 2, 3, 4
), per_purchase AS (
  SELECT p.user_id, p.event_id AS pid,
         CASE WHEN lv.pid IS NOT NULL
               AND p.us - lv.vb.us <= {_PAT_WINDOW_US}
              THEN 1 ELSE 0 END AS matched
  FROM p LEFT JOIN lastv lv ON lv.pid = p.event_id
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(matched) AS BIGINT) AS n_matched,
       SUM(matched) > 0 AS converted
FROM per_purchase GROUP BY 1
""")
def q_ts_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase ordered-pattern match per user (the
    triple must be strictly ordered by (event-time, event_id), and the
    view->purchase span must fit in one hour).

    Determinism: event order is the unique (unix_micros, event_id) key;
    the running states are integer MAXes (monotone under any prefix —
    the running-sum float trap never applies), and the hour predicate
    compares exact integer microseconds (epoch_us ↔ unix_micros, the
    safe pair).  The Spark plan is the CEP shape: ONE user-keyed sort
    feeding two window passes — pass 1 carries "latest view so far",
    pass 2 carries "latest click so far WITH its view state" as a
    struct max — then a user rollup; no joins, no repeated scans.  The
    oracle is the O(pairs-per-user) JOIN formulation of the same
    semantics, so parity also cross-checks the window rewrite against
    the naive definition.  At 100 TB the window form costs one shuffle
    + per-user sort; the join form explodes quadratically per user —
    which is exactly why the engine ships the former."""
    ev = observed_time(load(spark, sf_dir, "events")).filter(
        F.col("user_id").isNotNull())  # class G + class I
    us = F.unix_micros("ts")
    base = ev.select("user_id", "event_id", "event_type", us.alias("us"))
    w_prev = (Window.partitionBy("user_id").orderBy("us", "event_id")
              .rowsBetween(Window.unboundedPreceding, -1))
    s1 = base.select(
        "*",
        F.max(F.when(F.col("event_type") == "view", F.col("us")))
        .over(w_prev).alias("lv"))
    s2 = s1.select(
        "*",
        F.max(F.when(F.col("event_type") == "click",
                     F.struct(F.col("us").alias("cus"),
                              F.col("event_id").alias("ceid"),
                              F.col("lv").alias("vus"))))
        .over(w_prev).alias("cb"))
    per_purchase = (s2.filter(F.col("event_type") == "purchase")
                    .select(
                        "user_id",
                        F.when(F.col("cb").isNotNull()
                               & F.col("cb.vus").isNotNull()
                               & ((F.col("us") - F.col("cb.vus"))
                                  <= _PAT_WINDOW_US), 1)
                        .otherwise(0).alias("matched")))
    return per_purchase.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("matched").cast("long").alias("n_matched"),
        (F.sum("matched") > 0).alias("converted"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b — concordance-based rank association between the daily
# event-count and daily revenue series per type.  The pair-counting
# definition stays in integers end-to-end, so unlike Spearman's rho (which
# needs the 9-dp rounding guard on its big-sum ratio) tau-b is emitted RAW:
# its one sqrt and one division run on bit-identical exact operands.
# ---------------------------------------------------------------------------


@query("q_ts_kendall", oracle="""
WITH daily AS (
  -- class L: the cents sum admits DECIMAL(18,2)-domain values only;
  -- n stays COUNT(*) so daily ACTIVITY still counts unpriced events
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n,
         CAST(SUM(CASE WHEN abs(value) < 1e16
                       THEN CAST(value AS DECIMAL(18,2)) END) * 100
              AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type,
         CASE WHEN (a.n < b.n AND a.v < b.v)
                OR (a.n > b.n AND a.v > b.v) THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.n < b.n AND a.v > b.v)
                OR (a.n > b.n AND a.v < b.v) THEN 1 ELSE 0 END AS disc,
         CASE WHEN a.n = b.n THEN 1 ELSE 0 END AS tie_x,
         CASE WHEN a.v = b.v THEN 1 ELSE 0 END AS tie_y
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
), s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(conc) AS BIGINT) AS concordant,
         CAST(SUM(disc) AS BIGINT) AS discordant,
         CAST(COUNT(*) - SUM(tie_x) AS BIGINT) AS dx,
         CAST(COUNT(*) - SUM(tie_y) AS BIGINT) AS dy
  FROM pairs GROUP BY event_type
)
SELECT event_type, n_pairs, concordant, discordant,
       CASE WHEN dx > 0 AND dy > 0
            THEN CAST(concordant - discordant AS DOUBLE)
                 / sqrt(CAST(dx * dy AS DOUBLE))
            ELSE NULL END AS tau_b
FROM s
""")
def q_ts_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between the daily count and daily revenue-cents
    series per event type.

    Determinism: daily revenue is an exact integer (2-dp values summed
    as DECIMAL(18,2), scaled to cents), so every pair comparison is an
    integer comparison; concordant/discordant/tie counts are integers;
    and tau-b is ONE division by ONE sqrt of an integer product — both
    IEEE ops are correctly rounded on identical bits, so the value is
    emitted raw (no 9-dp guard needed).  Tie correction uses the pair
    form directly: dx/dy = pairs differing in x/y, which equals
    n0 − Σt(t−1)/2 without materializing tie-group sizes.  The fixture
    has x-ties (daily counts repeat) and no y-ties, so the tie path is
    genuinely exercised (vacuity discipline).  Zero-variance series
    emit NULL via the same CASE on both engines.

    Plan: one fact shuffle into the (type, day) rollup; the pair join
    rides a type-keyed exchange over span-bounded data (30 days → 435
    pairs per type; day-grain keeps pairs quadratic in DAYS, never in
    events — ~13 years before 10⁷ pairs per type)."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"),
             (F.sum(F.when(F.abs(F.col("value")) < F.lit(1e16),
                           F.col("value")).cast("decimal(18,2)")) * 100)
             .cast("long").alias("v"))
    )
    a = daily.select(F.col("event_type").alias("et"),
                     F.col("day").alias("d1"),
                     F.col("n").alias("n1"), F.col("v").alias("v1"))
    b = daily.select(F.col("event_type").alias("et_b"),
                     F.col("day").alias("d2"),
                     F.col("n").alias("n2"), F.col("v").alias("v2"))
    up = (F.col("n1") < F.col("n2")) & (F.col("v1") < F.col("v2"))
    dn = (F.col("n1") > F.col("n2")) & (F.col("v1") > F.col("v2"))
    ud = (F.col("n1") < F.col("n2")) & (F.col("v1") > F.col("v2"))
    du = (F.col("n1") > F.col("n2")) & (F.col("v1") < F.col("v2"))
    one = F.lit(1)
    zero = F.lit(0)
    pairs = (
        a.join(b, (F.col("et") == F.col("et_b"))
               & (F.col("d1") < F.col("d2")))
        .select(F.col("et").alias("event_type"),
                F.when(up | dn, one).otherwise(zero).alias("conc"),
                F.when(ud | du, one).otherwise(zero).alias("disc"),
                F.when(F.col("n1") == F.col("n2"), one).otherwise(zero)
                .alias("tie_x"),
                F.when(F.col("v1") == F.col("v2"), one).otherwise(zero)
                .alias("tie_y"))
    )
    s = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("conc").cast("long").alias("concordant"),
        F.sum("disc").cast("long").alias("discordant"),
        (F.count(F.lit(1)) - F.sum("tie_x")).cast("long").alias("dx"),
        (F.count(F.lit(1)) - F.sum("tie_y")).cast("long").alias("dy"),
    )
    tau = F.when(
        (F.col("dx") > 0) & (F.col("dy") > 0),
        (F.col("concordant") - F.col("discordant")).cast("double")
        / F.sqrt((F.col("dx") * F.col("dy")).cast("double")))
    return s.select("event_type", "n_pairs", "concordant", "discordant",
                    tau.alias("tau_b"))


# ---------------------------------------------------------------------------
# Burstiness — the Goh–Barabási B = (σ−μ)/(σ+μ) of per-user inter-event
# gaps: −1 = metronome, 0 = Poisson, →1 = extreme bursts.  The standard
# single-number answer to "is this user's activity clumped or steady?",
# complementing q_ts_sessionize (which segments the clumps) and
# q_ts_volatility (which tracks the value series, not the arrival process).
# ---------------------------------------------------------------------------


@query("q_ts_burstiness", oracle="""
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS gap
  FROM events WHERE ts IS NOT NULL
), s AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(gap AS DECIMAL(19,0))
                  * CAST(gap AS DECIMAL(19,0))) AS DOUBLE) AS s2
  FROM g WHERE gap IS NOT NULL GROUP BY user_id HAVING COUNT(*) >= 2
)
SELECT user_id, n_gaps, s1 / n_gaps AS mean_gap_us,
       round((sqrt(s2 / n_gaps - (s1 / n_gaps) * (s1 / n_gaps))
              - s1 / n_gaps)
             / (sqrt(s2 / n_gaps - (s1 / n_gaps) * (s1 / n_gaps))
                + s1 / n_gaps), 9) + 0.0 AS burstiness
FROM s
""")
def q_ts_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness of the event arrival process.

    Determinism: gaps are exact integer microseconds (unix_micros /
    epoch_us — the documented safe pair) under a (ts, event_id)-unique
    ordering; Σgap rides DECIMAL(38,0) and gap² is squared IN DECIMAL —
    DECIMAL(19,0) operands so the square never touches int64 (it can
    reach ~7e24; squaring in LONG overflows under the driver's ANSI
    default) and DuckDB's multiply takes its int128 path (width>18
    rule); mean_gap_us is one exact
    division (Σgap ≤ the 30-day span in µs ≈ 2.6e12 < 2^53, so its
    double cast is exact) and is emitted raw, while B compounds a
    divergent-capable Σgap² cast through sqrt and is rounded at 9 dp
    with the -0.0 guard (near-Poisson users sit near 0).  Population σ,
    matching the closed-form moment expansion on both sides.

    Plan: one scan, ONE exchange on user_id — the lag window and the
    per-user rollup share the partitioning.  Skewed power users cost a
    within-partition sort, never a global one."""
    ev = observed_time(load(spark, sf_dir, "events"))  # class I
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(us, F.col("event_id"))
    g = ev.select("user_id", (us - F.lag(us).over(w)).alias("gap"))
    d38 = "decimal(38,0)"
    s = (
        g.filter(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_gaps"),
             F.sum(F.col("gap").cast(d38)).cast("double").alias("s1"),
             F.sum(F.col("gap").cast("decimal(19,0)")
                   * F.col("gap").cast("decimal(19,0)"))
             .cast("double").alias("s2"))
        .filter(F.col("n_gaps") >= 2)
    )
    mu = F.col("s1") / F.col("n_gaps")
    sigma = F.sqrt(F.col("s2") / F.col("n_gaps") - mu * mu)
    return s.select(
        "user_id", "n_gaps", mu.alias("mean_gap_us"),
        (F.round((sigma - mu) / (sigma + mu), 9) + 0.0)
        .alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# Classical additive decomposition — daily series = trend + seasonal +
# residual: centered 7-day moving-average trend, day-of-week seasonal
# indices from the detrended interior, residual as what remains.  The
# DECOMPOSITION view of the series (q_ts_holt_winters is the forecasting
# view; q_ts_seasonality detects the cycle, this one splits it out).
# ---------------------------------------------------------------------------


@query("q_ts_decompose", oracle="""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01',
                   CAST(date_trunc('day', ts) AS DATE)) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), ma AS (
  SELECT event_type, d, n,
         CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY d
                           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
              AS BIGINT) AS s7,
         COUNT(*) OVER (PARTITION BY event_type ORDER BY d
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
  FROM daily
), interior AS (
  SELECT * FROM ma WHERE c7 = 7
), seas AS (
  SELECT event_type, d % 7 AS dow,
         CAST(7 * SUM(n) - SUM(s7) AS BIGINT) AS a,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM interior GROUP BY 1, 2
)
SELECT i.event_type, i.d AS day_index, i.n,
       CAST(i.s7 AS DOUBLE) / 7 AS trend,
       CAST(s.a AS DOUBLE) / (7 * s.k) AS seasonal,
       i.n - CAST(i.s7 AS DOUBLE) / 7
           - CAST(s.a AS DOUBLE) / (7 * s.k) AS residual
FROM interior i JOIN seas s
  ON i.event_type = s.event_type AND i.d % 7 = s.dow
""")
def q_ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend/seasonal/residual decomposition of the daily
    count series per event type.

    Determinism: the trend is Σ(7-day window of integer counts)/7 —
    integer ROWS-frame sum (exact under any association), ONE division.
    The day-of-week seasonal mean of the detrended series is NOT a
    float sum: Σ(n_d − s7_d/7) over a dow group is rewritten as the
    INTEGER (7·Σn − Σs7)/(7k) — one exact integer aggregate, one
    division.  The residual chains those two exact quotients through
    two subtractions in the same shape on both engines — identical
    bits, raw emit, no rounding guard needed.  Day-of-week is d % 7 on
    the epoch-day integer (sidesteps the dayofweek() 0=Sunday /
    1=Sunday cross-engine shift).  Seasonal indices are relative to the
    trend, not zero-centered (classical decomposition normalization is
    a constant shift between seasonal and trend; the residuals are
    invariant to it).

    Plan: one fact shuffle to the (type, day) rollup; the MA window
    rides a type-keyed exchange over day-grain data; seasonal indices
    are a 35-row rollup broadcast back."""
    ev = observed_time(load(spark, sf_dir, "events"))
    daily = (
        ev.groupBy("event_type",
                   F.datediff(F.date_trunc("day", "ts").cast("date"),
                              F.lit("1970-01-01").cast("date")).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w7 = (Window.partitionBy("event_type").orderBy("d")
          .rowsBetween(-3, 3))
    ma = daily.select(
        "event_type", "d", "n",
        F.sum("n").over(w7).cast("long").alias("s7"),
        F.count(F.lit(1)).over(w7).alias("c7"),
    )
    interior = ma.filter(F.col("c7") == 7)
    seas = (
        interior.groupBy("event_type", (F.col("d") % 7).alias("dow"))
        .agg((7 * F.sum("n") - F.sum("s7")).cast("long").alias("a"),
             F.count(F.lit(1)).cast("long").alias("k"))
    )
    j = interior.join(
        F.broadcast(seas),
        (interior["event_type"] == seas["event_type"])
        & (interior["d"] % 7 == seas["dow"]),
    ).drop(seas["event_type"])
    trend = F.col("s7").cast("double") / 7
    seasonal = F.col("a").cast("double") / (7 * F.col("k"))
    return j.select(
        "event_type", F.col("d").alias("day_index"), "n",
        trend.alias("trend"), seasonal.alias("seasonal"),
        (F.col("n") - trend - seasonal).alias("residual"),
    )


# ---------------------------------------------------------------------------
# Mann–Kendall trend test — the SIGNIFICANCE complement to q_ts_theil_sen:
# Theil–Sen answers "how steep is the trend", Mann–Kendall answers "is
# there one at all" (nonparametric, the standard monitoring/hydrology
# test).  S = Σ sign(n_j − n_i) over day pairs, variance with the exact
# tie correction, continuity-corrected z.  Everything up to the final
# ratio is INTEGER, so z is emitted raw.
# ---------------------------------------------------------------------------


@query("q_ts_mann_kendall", oracle="""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01',
                   CAST(date_trunc('day', ts) AS DATE)) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), s AS (
  SELECT a.event_type,
         CAST(SUM(CASE WHEN b.n > a.n THEN 1
                       WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.d > a.d
  GROUP BY a.event_type
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m_days FROM daily
  GROUP BY event_type
), ties AS (
  SELECT event_type,
         CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS c
  FROM (SELECT event_type, n, COUNT(*) AS t FROM daily GROUP BY 1, 2)
  GROUP BY event_type
)
SELECT s.event_type, m.m_days, s.s_stat,
       CAST(m.m_days * (m.m_days - 1) * (2 * m.m_days + 5) - ties.c
            AS BIGINT) AS var_s_x18,
       CASE WHEN m.m_days * (m.m_days - 1) * (2 * m.m_days + 5)
                 - ties.c > 0
            THEN (s.s_stat - CASE WHEN s.s_stat > 0 THEN 1
                                  WHEN s.s_stat < 0 THEN -1
                                  ELSE 0 END)
                 / sqrt(CAST(m.m_days * (m.m_days - 1)
                             * (2 * m.m_days + 5) - ties.c
                             AS DOUBLE) / 18)
            ELSE NULL END AS z
FROM s JOIN m USING (event_type) JOIN ties USING (event_type)
""")
def q_ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test on the daily count series per type.

    Determinism: S and the tie-corrected variance numerator (×18) are
    integers; z chains ONE division (by 18, exact operands), ONE sqrt
    and ONE division on identical bits — raw emit, no rounding guard
    (the q_ts_kendall argument).  The continuity correction (S∓1) is
    integer.  Zero-variance series (all days tied) emit NULL through
    the same CASE on both engines.  The fixture's daily counts repeat
    (x-ties exist), so the tie-correction path is genuinely exercised.

    Plan: one fact shuffle to the (type, day) rollup; the pair join,
    the tie rollup and the day count all ride type-keyed exchanges
    over day-grain data (30 days → 435 pairs per type — the Theil–Sen
    bound argument)."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type",
                   F.datediff(F.date_trunc("day", "ts").cast("date"),
                              F.lit("1970-01-01").cast("date")).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = daily.select(F.col("event_type").alias("et"),
                     F.col("d").alias("d1"), F.col("n").alias("n1"))
    b = daily.select(F.col("event_type").alias("et_b"),
                     F.col("d").alias("d2"), F.col("n").alias("n2"))
    s = (
        a.join(b, (F.col("et") == F.col("et_b"))
               & (F.col("d2") > F.col("d1")))
        .groupBy(F.col("et").alias("event_type"))
        .agg(F.sum(F.when(F.col("n2") > F.col("n1"), 1)
                   .when(F.col("n2") < F.col("n1"), -1)
                   .otherwise(0)).cast("long").alias("s_stat"))
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("m_days"))
    t = F.col("t")
    ties = (
        daily.groupBy("event_type", "n")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0))
             .cast("long").alias("c"))
    )
    j = s.join(m, "event_type").join(ties, "event_type")
    md = F.col("m_days")
    var18 = (md * (md - 1) * (2 * md + 5) - F.col("c")).cast("long")
    sgn = (F.when(F.col("s_stat") > 0, 1)
           .when(F.col("s_stat") < 0, -1).otherwise(0))
    z = F.when(
        var18 > 0,
        (F.col("s_stat") - sgn)
        / F.sqrt(var18.cast("double") / 18))
    return j.select("event_type", "m_days", "s_stat",
                    var18.alias("var_s_x18"), z.alias("z"))


# ---------------------------------------------------------------------------
# SLO error-budget burn-rate alerts — the SRE-workbook multiwindow,
# multi-burn-rate policy over the event stream: page when BOTH the fast
# (1 h) and slow (6 h) windows burn budget too fast, ticket on the 24 h
# window.  The alerting layer the reference's downstream dashboards
# [pub:SwarmUI] eyeball by hand, as a deterministic operator.
# ---------------------------------------------------------------------------

SLO_BUDGET_X4 = 1      # error budget = 1/4 of events (noisy fixture's SLO)
BURN_PAGE_FAST_X10 = 12   # page: burn_1h > 1.2 AND burn_6h > 1.0
BURN_TICKET = 1           # ticket: burn_24h > 1.0


@query("q_ops_slo_burn", oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS err,
         CAST(COUNT(*) AS BIGINT) AS tot
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), windows AS (
  SELECT hour, err, tot,
         CAST(SUM(err) OVER w6 AS BIGINT) AS err6,
         CAST(SUM(tot) OVER w6 AS BIGINT) AS tot6,
         CAST(SUM(err) OVER w24 AS BIGINT) AS err24,
         CAST(SUM(tot) OVER w24 AS BIGINT) AS tot24
  FROM hourly
  WINDOW w6 AS (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
         w24 AS (ORDER BY hour ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT strftime(hour, '%Y-%m-%d %H:00') AS hour,
       err AS err_1h, tot AS tot_1h,
       CAST(err * 4 AS DOUBLE) / tot AS burn_1h,
       CAST(err6 * 4 AS DOUBLE) / tot6 AS burn_6h,
       CAST(err24 * 4 AS DOUBLE) / tot24 AS burn_24h,
       err * 40 > tot * 12 AND err6 * 4 > tot6 AS page,
       err24 * 4 > tot24 AS ticket
FROM windows
""")
def q_ops_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow, multi-burn-rate SLO alerting per hour: burn rate =
    error rate / budget (budget = 25% of events on this noisy fixture);
    page when the 1 h burn exceeds 1.2 AND the 6 h burn exceeds 1.0
    (fast + confirming window — the SRE-workbook policy shape), ticket
    when the 24 h burn exceeds 1.0.

    Determinism: every burn rate is ONE division of exact integers
    (err·4 / tot — the ×4 keeps the budget in integer space; no float
    literal ever enters the math, sidestepping the DuckDB
    literal-is-DECIMAL trap), and every alert flag is a PURE INTEGER
    comparison (err·40 > tot·12 ⟺ burn > 1.2) — raw emit, no rounding
    guards anywhere.  Hours render as strings (dates-as-strings rule).
    Both fixture directions are non-vacuous: ~28% of hours exceed the
    page-fast threshold, most do not (probed at sf0.01).

    Plan: one fact shuffle to the hour rollup; the 6 h/24 h frames are
    integer ROWS windows over the HOUR-GRAIN series (720 rows/month —
    value-domain bounded, the accepted single-partition discipline;
    partition by day-range at multi-year scale if ever needed)."""
    ev = observed_time(load(spark, sf_dir, "events"))
    hourly = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.sum(F.when(F.col("event_type") == "error", 1)
                   .otherwise(0)).cast("long").alias("err"),
             F.count(F.lit(1)).cast("long").alias("tot"))
    )
    w6 = Window.orderBy("hour").rowsBetween(-5, 0)
    w24 = Window.orderBy("hour").rowsBetween(-23, 0)
    win = hourly.select(
        "hour", "err", "tot",
        F.sum("err").over(w6).cast("long").alias("err6"),
        F.sum("tot").over(w6).cast("long").alias("tot6"),
        F.sum("err").over(w24).cast("long").alias("err24"),
        F.sum("tot").over(w24).cast("long").alias("tot24"),
    )
    return win.select(
        F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
        F.col("err").alias("err_1h"), F.col("tot").alias("tot_1h"),
        ((F.col("err") * 4).cast("double") / F.col("tot"))
        .alias("burn_1h"),
        ((F.col("err6") * 4).cast("double") / F.col("tot6"))
        .alias("burn_6h"),
        ((F.col("err24") * 4).cast("double") / F.col("tot24"))
        .alias("burn_24h"),
        ((F.col("err") * 40 > F.col("tot") * 12)
         & (F.col("err6") * 4 > F.col("tot6"))).alias("page"),
        (F.col("err24") * 4 > F.col("tot24")).alias("ticket"),
    )
