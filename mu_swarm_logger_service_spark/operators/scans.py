"""Scans, sources-as-batch, and columnar sinks — SURVEY.md §2.1 rows 1-2, 7.

Scale notes: q_scan_pruned demonstrates the engine's contract that filters
and projections reach the parquet scan (PushedFilters / ReadSchema in
.explain) — at 100 TB this is the difference between reading 2 columns of a
few row groups and reading everything.  q_sink_partitioned is the pattern
the triple/log sink uses: partition by day so downstream queries prune.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.numeric import dsum, dsum_sql, measure, measure_sql
from ..core.registry import query
from ..core.tables import (bucketed_table, layout, load, observed_time,
                           round_trip)


@query("q_scan_parquet", oracle="SELECT * FROM supplier")
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-schema scan (row 1) — the engine's equivalent of the reference
    reading its raw source stream [pub:muswarmlogger/main.py]."""
    return load(spark, sf_dir, "supplier")


@query("q_scan_pruned", oracle="""
SELECT l_orderkey, l_quantity
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
  AND l_quantity < 10.0
""")
def q_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning + predicate pushdown (row 2): only 3 columns are read
    and both predicates reach the parquet reader."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
            & (F.col("l_quantity") < 10.0)
        )
        .select("l_orderkey", "l_quantity")
    )


@query("q_sink_partitioned", oracle="""
SELECT strftime(ts, '%Y-%m-%d') AS event_date, COUNT(*) AS n
FROM events
GROUP BY 1
""")
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned columnar sink + read-back (row 7).

    Writes events partitioned by event_date (the 100 TB layout: one
    directory per day → partition pruning for time-ranged queries), then
    proves round-trip fidelity by re-aggregating from the sink.
    """
    ev = load(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    # class K: read back with the writer's schema (an empty source writes
    # a layout with no part files — inference fails).  This also keeps
    # event_date a STRING on read-back instead of the inferred DATE.
    return round_trip(
        "events_by_date",
        lambda d: ev.write.mode("overwrite").partitionBy("event_date")
        .parquet(d),
        lambda d: spark.read.schema(ev.schema).parquet(d)
        .groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("n")))


def _ensure_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Date-partitioned events layout (the 100 TB fact layout; see
    q_sink_partitioned), written once per events generation."""
    ev = load(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    out = layout(sf_dir, "events_dpp", ("events",), lambda d: ev.write.mode(
        "overwrite").partitionBy("event_date").parquet(d))
    # class K: hand the writer's schema to readers — an empty source
    # writes a layout schema inference cannot read.
    return out, ev.schema


@query("q_scan_dpp", oracle="""
WITH dim AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS event_date
  FROM events
  WHERE day(ts) <= 3
)
SELECT e.event_type, COUNT(*) AS n
FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date FROM events) e
JOIN dim USING (event_date)
GROUP BY e.event_type
""")
def q_scan_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is the date-partitioned
    layout, the dim side a filtered date list only known at runtime —
    Catalyst injects a dynamicpruning subquery into the fact scan's
    PartitionFilters, so only the dim's dates are read from disk
    (tests/test_plans.py asserts it).  At 100 TB this is the difference
    between scanning 3 days and scanning the year."""
    path, layout_schema = _ensure_partitioned_events(spark, sf_dir)
    fact = spark.read.schema(layout_schema).parquet(path)
    dim = (
        load(spark, sf_dir, "events")
        .filter(F.dayofmonth("ts") <= 3)
        .select(F.date_format("ts", "yyyy-MM-dd").alias("event_date"))
        .distinct()
    )
    return (
        fact.join(dim, fact.event_date.cast("string") == dim.event_date)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_FMT_SCHEMA = "event_id long, event_type string, value double"


@query("q_source_formats", oracle=f"""
SELECT fmt, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       {dsum_sql('value')} AS sum_value
FROM events CROSS JOIN (VALUES ('csv'), ('json'), ('orc')) t(fmt)
GROUP BY fmt, event_type
""")
def q_source_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/sink format breadth beyond parquet: the same event
    projection round-trips through CSV (schema supplied on read — headers
    carry no types), JSON lines, and ORC, then re-aggregates per format.
    Identical counts/sums across all three prove lossless round-trips —
    Spark's CSV/JSON writers emit shortest-round-trip doubles, so even
    the float column survives textual serialization bit-exactly.

    At 100 TB: columnar formats (parquet/ORC) for facts — pushdown +
    pruning; text formats only at the ingestion edge (the reference's
    world is JSON events [pub:muswarmlogger/main.py]), converted to
    columnar in the first micro-batch.
    """
    base = load(spark, sf_dir, "events").select("event_id", "event_type", "value")

    # The three format writes are INDEPENDENT jobs over the same narrow
    # projection — submit them from a small thread pool so each job's
    # tail back-fills the others' idle cores (guide §2.6 "overlap
    # independent jobs"; r13, measured ~×0.7 on the construction wall).
    # Same writes, same bytes — only the submission overlaps.
    def write(d: str) -> None:
        def one(fmt: str) -> None:
            out = os.path.join(d, fmt)
            if fmt == "csv":
                base.write.option("header", True).csv(out)
            elif fmt == "json":
                base.write.json(out)
            else:
                base.write.orc(out)

        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(one, ("csv", "json", "orc")))

    def read(d: str) -> DataFrame:
        parts = [
            (spark.read.schema(_FMT_SCHEMA).option("header", True)
             .csv(os.path.join(d, "csv")).withColumn("fmt", F.lit("csv"))),
            (spark.read.schema(_FMT_SCHEMA).json(os.path.join(d, "json"))
             .withColumn("fmt", F.lit("json"))),
            spark.read.orc(os.path.join(d, "orc"))
            .withColumn("fmt", F.lit("orc")),
        ]
        allf = parts[0].unionByName(parts[1]).unionByName(parts[2])
        return allf.groupBy("fmt", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("sum_value"))

    return round_trip("formats", write, read)


@query("q_sql_surface", oracle=f"""
SELECT r.r_name,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {dsum_sql('l.l_extendedprice * (1.0 - l.l_discount)')} AS revenue
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
JOIN region r   ON r.r_regionkey = n.n_regionkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY r.r_name
""")
def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's second entry point: the SAME query text a DuckDB user
    would write, executed via ``spark.sql`` over registered views
    (core.tables.register_views) — SQL string → ANTLR parse → the
    identical Catalyst analyzer/optimizer/execution path as the
    DataFrame API (SURVEY.md §3.2 entry point B).  Star-schema revenue
    per region: Catalyst broadcasts the four dims and pushes the
    shipdate filter to the fact scan with no DataFrame-side hints —
    the declarative-plan story in one query."""
    from ..core.tables import register_views

    register_views(spark, sf_dir)
    # dsum_sql emits engine-portable SQL (CASE + CAST + SUM), so the SAME
    # gated text runs on Spark here and on DuckDB in the oracle — the
    # class-L measure gate rides into both from one definition.
    return spark.sql(f"""
        SELECT r.r_name,
               COUNT(*) AS n_items,
               {dsum_sql('l.l_extendedprice * (1.0 - l.l_discount)')}
                 AS revenue
        FROM lineitem l
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n   ON n.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY r.r_name
    """)


@query("q_scan_merge_schema", oracle=f"""
WITH unioned AS (
  SELECT l_orderkey, l_quantity, NULL::DOUBLE AS l_tax
  FROM lineitem WHERE l_orderkey % 2 = 0
  UNION ALL
  SELECT l_orderkey, l_quantity, l_tax
  FROM lineitem WHERE l_orderkey % 2 = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(l_tax) AS BIGINT) AS n_with_tax,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_tax')} AS sum_tax
FROM unioned
""")
def q_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution at the source: a table whose newer files carry an
    added column (l_tax) is read with ``mergeSchema`` — older files
    surface NULL for the missing column, exactly the contract a 100 TB
    corpus needs when producers add fields mid-stream (re-writing old
    files is not an option at that size).  The audit counts rows with
    and without the evolved column and decimal-sums both measures; the
    oracle replays the same union semantics relationally."""
    li = load(spark, sf_dir, "lineitem")

    def write(d: str) -> None:
        (li.filter(F.col("l_orderkey") % 2 == 0)
         .select("l_orderkey", "l_quantity")
         .write.parquet(os.path.join(d, "gen=0")))
        (li.filter(F.col("l_orderkey") % 2 == 1)
         .select("l_orderkey", "l_quantity", "l_tax")
         .write.parquet(os.path.join(d, "gen=1")))

    root = layout(sf_dir, "evolve", ("lineitem",), write)
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(root, "gen=0"), os.path.join(root, "gen=1"))
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_tax").alias("n_with_tax"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_tax")).alias("sum_tax"),
    )


@query("q_cdc_snapshot_diff", oracle="""
WITH snap_a AS (
  SELECT event_id, event_type, user_id, value
  FROM events WHERE event_id % 11 != 0
), snap_b AS (
  SELECT event_id, event_type, user_id,
         CASE WHEN user_id % 97 = 0 THEN value + 1.0 ELSE value END AS value
  FROM events WHERE event_id % 13 != 0
)
SELECT COALESCE(a.event_id, b.event_id) AS event_id,
       CASE WHEN a.event_id IS NULL THEN 'insert'
            WHEN b.event_id IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       a.value AS old_value, b.value AS new_value
FROM snap_a a FULL OUTER JOIN snap_b b ON a.event_id = b.event_id
WHERE a.event_id IS NULL OR b.event_id IS NULL
   OR a.value != b.value OR a.event_type != b.event_type
   OR a.user_id != b.user_id
""")
def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC derivation): classify every key across two
    table versions as insert / update / delete — the primitive behind
    incremental re-processing when the upstream gives you full dumps
    instead of a changelog.  The two snapshots here are deterministic
    views of the events fixture (dropped ids simulate deletes/inserts,
    a perturbed value simulates updates).  Physically: one FULL OUTER
    sort-merge join on the key — the honest large-large shape; at
    100 TB both snapshots would be bucketed by key on write, turning
    the diff into a zero-shuffle zipper per bucket.  Unchanged rows are
    filtered out so the output is change-proportional, not
    snapshot-proportional.  The value perturbation (+1.0) is one IEEE
    op — bit-identical cross-engine."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value")
    snap_a = ev.filter(F.col("event_id") % 11 != 0)
    snap_b = ev.filter(F.col("event_id") % 13 != 0).withColumn(
        "value",
        F.when(F.col("user_id") % 97 == 0, F.col("value") + 1.0)
        .otherwise(F.col("value")))
    a = snap_a.alias("a")
    b = snap_b.alias("b")
    joined = a.join(b, F.col("a.event_id") == F.col("b.event_id"), "full_outer")
    changed = (
        F.col("a.event_id").isNull() | F.col("b.event_id").isNull()
        | (F.col("a.value") != F.col("b.value"))
        | (F.col("a.event_type") != F.col("b.event_type"))
        | (F.col("a.user_id") != F.col("b.user_id"))
    )
    return joined.filter(changed).select(
        F.coalesce(F.col("a.event_id"), F.col("b.event_id")).alias("event_id"),
        F.when(F.col("a.event_id").isNull(), "insert")
        .when(F.col("b.event_id").isNull(), "delete")
        .otherwise("update").alias("change_type"),
        F.col("a.value").alias("old_value"),
        F.col("b.value").alias("new_value"),
    )


@query("q_cdc_scd2", oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev_type
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), changes AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE prev_type IS NULL OR event_type != prev_type
)
SELECT user_id, event_type AS status, ts AS effective_from,
       lead(ts) OVER w2 AS effective_to,
       lead(ts) OVER w2 IS NULL AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def q_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build from a changelog: each
    event sets its user's current status (event_type); the history table
    keeps one row per STATUS RUN with [effective_from, effective_to)
    validity and an is_current flag — the standard warehouse companion to
    q_cdc_snapshot_diff (diff derives the changelog; SCD2 materializes
    queryable history from it).

    Two windows over one user-keyed sort: lag() collapses consecutive
    duplicates (a re-asserted unchanged status opens no new version —
    idempotent under redelivery), lead() closes each version with the
    next change's timestamp.  Physically a single shuffle on user_id;
    both window functions share the partitioning AND ordering, so
    Catalyst evaluates them in one Window operator over one sort.  At
    100 TB the changelog is date-partitioned and the rebuild is
    incremental per partition; ties on ts break on event_id in both
    engines, so the version chain is deterministic."""
    # class I: version validity is a ts interval — observed time only
    ev = observed_time(load(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull()
                | (F.col("event_type") != F.col("prev_type")))
        .select("user_id", "event_type", "ts", "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w2).alias("effective_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


_ZBITS = 8     # bits per dimension (16-bit z-values)
_ZTILE = 256   # rows land in 256 z-tiles of 256 z-values each


def _z_terms_sql(x: str, y: str) -> str:
    terms = []
    for b in range(_ZBITS):
        terms.append(f"(({x} >> {b}) & 1) * {1 << (2 * b)}")
        terms.append(f"(({y} >> {b}) & 1) * {1 << (2 * b + 1)}")
    return " + ".join(terms)


@query("q_layout_zorder", oracle=f"""
WITH q AS (
  SELECT l_orderkey, l_partkey % 256 AS x, l_suppkey % 256 AS y
  FROM lineitem
), z AS (
  SELECT l_orderkey, x, y, {_z_terms_sql('x', 'y')} AS zval
  FROM q
)
SELECT CAST(zval // {_ZTILE} AS BIGINT) AS tile,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(y) AS y_min, MAX(y) AS y_max,
       CAST((MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS BIGINT)
         AS bbox_area
FROM z GROUP BY 1
""")
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout clustering — the multi-dimensional
    data-skipping technique behind Delta/Iceberg OPTIMIZE ZORDER: bit-
    interleave two quantized dimensions into one sort key, tile the curve,
    and report each tile's bounding box.  Because the curve is space-
    filling, every tile's (x, y) bounding box is a small fraction of the
    domain — so per-file min/max stats prune scans on EITHER dimension,
    which no single-column sort gives you.  bbox_area quantifies exactly
    that locality (≪ 256² per tile) and the oracle checks it value-exact:
    the interleave is pure integer bit arithmetic on both engines.

    At 100 TB this is a WRITE-side op: `df.repartitionByRange(F.col
    ("zval")).sortWithinPartitions("zval").write...` lays files out along
    the curve; the tile census here is the audit query a layout job emits.
    One scan, one aggregate, map-side partials."""
    li = load(spark, sf_dir, "lineitem")
    x = (F.col("l_partkey") % 256).alias("x")
    y = (F.col("l_suppkey") % 256).alias("y")
    q = li.select("l_orderkey", x, y)
    zval = None
    for b in range(_ZBITS):
        xt = F.shiftright("x", b).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * b))
        yt = F.shiftright("y", b).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * b + 1))
        zval = xt + yt if zval is None else zval + xt + yt
    z = q.select("l_orderkey", "x", "y", zval.alias("zval"))
    return (
        z.groupBy(F.expr(f"zval div {_ZTILE}").cast("long").alias("tile"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_min"), F.max("x").alias("x_max"),
            F.min("y").alias("y_min"), F.max("y").alias("y_max"),
            ((F.max("x") - F.min("x") + 1) * (F.max("y") - F.min("y") + 1))
            .cast("long").alias("bbox_area"),
        )
    )


@query("q_cdc_incremental_agg", oracle=f"""
WITH effective AS (
  SELECT user_id, value FROM events
  WHERE event_id % 10 != 0 AND event_id % 7 != 0
  UNION ALL
  SELECT user_id, value FROM events WHERE event_id % 10 = 0
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(({measure_sql('value')}) AS DECIMAL(27,6)))
            AS DOUBLE) AS sum_value,
       CAST(SUM(CAST(({measure_sql('value')}) AS DECIMAL(27,6)))
            AS DOUBLE) / COUNT(*) AS avg_value
FROM effective GROUP BY user_id
""")
def q_cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (IVM): a maintained per-user aggregate
    is updated by MERGING SIGNED PARTIAL STATES from a change batch —
    inserts contribute (+count, +sum), retractions (−count, −sum) — and
    groups whose maintained count reaches zero drop out of the view.
    The fixture derives a deterministic changelog from the events table:
    base = event_id % 10 != 0, inserts = the % 10 == 0 rows, retractions
    = base rows with event_id % 7 == 0.

    The Spark side takes the INCREMENTAL path only (three partial
    aggregates unioned and re-merged — never a recompute over the merged
    row set); the oracle recomputes the aggregate from scratch over the
    effective rows.  Matching them IS the IVM correctness statement:
    maintenance ≡ recompute.  Count and decimal sum are the retractable
    aggregates (MAX/MIN are not — a retracted max forces a re-scan,
    which is why production IVM keeps them out of maintained views).

    Scale shape: the delta path touches ONLY the change batch (at 100 TB:
    partial-agg the delta, shuffle delta-sized signed states, merge into
    the stored view by key — the view itself is never re-scanned; here
    the base state is built once from the fixture since there is no
    stored view to start from).  All sums are exact decimals, so merge
    order cannot change a bit; avg is one IEEE divide of exact operands
    (raw quotient, no round — the documented cross-engine-exact form)."""
    from ..core.numeric import DEC

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    base = ev.filter(F.col("event_id") % 10 != 0)
    inserts = ev.filter(F.col("event_id") % 10 == 0)
    retractions = base.filter(F.col("event_id") % 7 == 0)

    def signed_state(df: DataFrame, sign: int) -> DataFrame:
        # measure(): class-L gate — a NaN retraction row must not crash
        # (or poison) the maintained decimal state on either engine
        n = F.count(F.lit(1)) if sign > 0 else -F.count(F.lit(1))
        s = (F.sum(measure(F.col("value")).cast(DEC)) if sign > 0
             else -F.sum(measure(F.col("value")).cast(DEC)))
        return df.groupBy("user_id").agg(n.alias("dn"), s.alias("ds"))

    merged = (
        signed_state(base, +1)
        .unionByName(signed_state(inserts, +1))
        .unionByName(signed_state(retractions, -1))
        .groupBy("user_id")
        .agg(F.sum("dn").alias("n"), F.sum("ds").alias("s"))
        .filter(F.col("n") > 0)
    )
    return merged.select(
        "user_id", "n",
        F.col("s").cast("double").alias("sum_value"),
        (F.col("s").cast("double") / F.col("n")).alias("avg_value"),
    )


@query("q_cdc_merge_upsert", oracle="""
WITH base AS (
  SELECT event_id, user_id, value FROM events WHERE event_id % 2 = 0
), raw_changes AS (
  SELECT event_id, user_id, value + 1.0 AS value, ts,
         CASE WHEN user_id % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op,
         1 AS seq
  FROM events WHERE event_id % 5 = 0
  UNION ALL
  SELECT event_id, user_id, value + 2.0 AS value, ts,
         CASE WHEN user_id % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op,
         2 AS seq
  FROM events WHERE event_id % 10 = 0
), latest AS (
  SELECT event_id, user_id, value, op FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_id ORDER BY seq DESC, ts DESC) AS rn
    FROM raw_changes) WHERE rn = 1
)
SELECT COALESCE(c.event_id, b.event_id) AS event_id,
       COALESCE(c.user_id, b.user_id) AS user_id,
       COALESCE(c.value, b.value) AS value,
       CASE WHEN c.event_id IS NULL THEN 'kept'
            WHEN b.event_id IS NULL THEN 'inserted'
            ELSE 'updated' END AS merge_action
FROM base b FULL OUTER JOIN latest c ON b.event_id = c.event_id
WHERE c.op IS NULL OR c.op != 'delete'
""")
def q_cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (keyed upsert) — the lakehouse write primitive behind
    Delta/Iceberg MERGE: apply a change batch (upserts + deletes, possibly
    several changes per key) onto a base snapshot, latest change winning.
    Semantics: WHEN MATCHED AND op='delete' THEN DELETE / WHEN MATCHED
    THEN UPDATE / WHEN NOT MATCHED AND op!='delete' THEN INSERT — plus
    the pre-step every real MERGE needs: collapse the batch to ONE change
    per key (row_number over (seq, ts) desc) or the join multiplies rows.

    Deterministic fixture from events: base = even event_ids; the change
    batch carries +1.0 versions for %5 keys and later +2.0 versions for
    %10 keys (so latest-wins is actually exercised: %10 keys must surface
    value+2.0); user_id %7 marks deletes.  Both perturbations are single
    IEEE adds — bit-identical cross-engine.

    Physically: one window shuffle on the CHANGE BATCH (change-sized, not
    table-sized) then one key join against base.  At 100 TB base is
    bucketed/partitioned by key on write, so the join prunes to touched
    partitions (copy-on-write MERGE rewrites only matched files — the
    filter-join here is that file-pruning shape) and the window cost
    stays proportional to the delta."""
    ev = load(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value")
    op = (F.when(F.col("user_id") % 7 == 0, "delete")
          .otherwise("upsert").alias("op"))
    raw_changes = (
        ev.filter(F.col("event_id") % 5 == 0)
        .select("event_id", "user_id",
                (F.col("value") + 1.0).alias("value"), "ts", op,
                F.lit(1).alias("seq"))
        .unionByName(
            ev.filter(F.col("event_id") % 10 == 0)
            .select("event_id", "user_id",
                    (F.col("value") + 2.0).alias("value"), "ts", op,
                    F.lit(2).alias("seq")))
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("seq").desc(), F.col("ts").desc())
    latest = (raw_changes.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1)
              .select("event_id", "user_id", "value", "op"))
    b, c = base.alias("b"), latest.alias("c")
    merged = b.join(c, F.col("b.event_id") == F.col("c.event_id"),
                    "full_outer")
    return merged.filter(
        F.col("c.op").isNull() | (F.col("c.op") != "delete")
    ).select(
        F.coalesce(F.col("c.event_id"), F.col("b.event_id")).alias("event_id"),
        F.coalesce(F.col("c.user_id"), F.col("b.user_id")).alias("user_id"),
        F.coalesce(F.col("c.value"), F.col("b.value")).alias("value"),
        F.when(F.col("c.event_id").isNull(), "kept")
        .when(F.col("b.event_id").isNull(), "inserted")
        .otherwise("updated").alias("merge_action"),
    )


@query("q_sql_lateral", oracle="""
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
""")
def q_sql_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (SQL:1999 lateral derived table; Spark 4
    SQL surface): each customer's top-2 orders by price, expressed the
    way a SQL user writes it — a correlated subquery with its own ORDER
    BY + LIMIT joined laterally.

    Catalyst DECORRELATES the lateral subquery: the optimized plan is
    the same per-key rank shape as q_win_topk_group (join + window
    rank ≤ 2), not one subquery execution per outer row — exactly the
    rewrite that makes lateral joins usable at 100 TB, since a naive
    re-execution per customer would be O(customers × orders-scan).
    Tiebreak on o_orderkey keeps the LIMIT deterministic.  The raw
    o_totalprice doubles pass through unaggregated, so both engines
    return identical bits."""
    from ..core.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """)


@query("q_sql_unpivot", oracle=f"""
WITH long AS (
  SELECT 'quantity' AS metric, l_quantity AS val FROM lineitem
  UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'discount', l_discount FROM lineitem
  UNION ALL SELECT 'tax', l_tax FROM lineitem
)
SELECT metric, CAST(COUNT(*) AS BIGINT) AS n,
       {dsum_sql('val')} AS total
FROM long GROUP BY metric
""")
def q_sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long reshape; Spark 4 SQL surface): melt the four
    lineitem measures into (metric, val) rows and aggregate per metric —
    the inverse of q_agg_pivot.  Spark plans UNPIVOT as an Expand node:
    ONE scan emits all four long rows per input row (column pruning
    still applies), versus the 4-scan UNION ALL a user would hand-write
    — the oracle deliberately uses that UNION ALL form, proving the
    Expand plan computes the same relation.  Totals go through the
    decimal path for order-independent float sums.

    INCLUDE NULLS matters: Spark's UNPIVOT drops NULL-measure rows by
    default while the oracle's UNION ALL keeps them in COUNT(*) — the
    fixture happens to have no NULL measures, but the two forms must
    agree by construction, not by luck (r5 advice)."""
    from ..core.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(f"""
        SELECT metric, COUNT(*) AS n,
               {dsum_sql('val')} AS total
        FROM lineitem
        UNPIVOT INCLUDE NULLS (val FOR metric IN (
          l_quantity AS quantity, l_extendedprice AS extendedprice,
          l_discount AS discount, l_tax AS tax))
        GROUP BY metric
    """)


@query("q_layout_compaction", oracle="""
SELECT strftime(ts, '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT event_id % 8) AS BIGINT) AS files_before,
       CAST(1 AS BIGINT) AS files_after
FROM events WHERE ts IS NOT NULL GROUP BY 1
""")
def q_layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (the OPTIMIZE / bin-packing maintenance pass):
    streaming ingestion leaves every date partition fragmented into one
    file per writing task; the compaction job reads a partition's debris
    and rewrites it as one file per partition directory.  Small files are
    THE classic operational failure at scale — a 100 TB table ingested in
    minute-batches accretes millions of KB-files whose open/footer costs
    dominate scans.

    Fully deterministic fixture: the debris writer appends one
    single-file pass PER SHARD (``event_id % 8`` — value identity, not
    ``repartition(8, pmod(...))``, whose hash-of-shard collapses shards
    into shared tasks and makes file counts depend on Spark's hash), so
    the per-day "before" file count is exactly the number of distinct
    shards holding that day's rows — which the DuckDB oracle computes
    relationally.  The compactor repartitions on the partition column
    (each day maps to one task → one file per directory, the "after"
    invariant).  Both counts are AUDITED from the filesystem via
    input_file_name(), not assumed: the query proves the fragmented dirs
    became single-file dirs with zero row loss.

    The debris is a layout, written once per events generation; the
    compacted output is written fresh by every call (round_trip)."""
    # class I: ts is the PARTITION key here — a row with no timestamp
    # has no day directory (hive-default-partition round-trips diverge)
    ev = observed_time(load(spark, sf_dir, "events")).select(
        "event_id", F.date_format("ts", "yyyy-MM-dd").alias("day"))

    def shatter(d: str) -> None:
        for s in range(8):
            (ev.filter(F.pmod(F.col("event_id"), F.lit(8)) == s)
             .coalesce(1)
             .write.mode("append").partitionBy("day").parquet(d))

    debris = layout(sf_dir, "compact_debris", ("events",), shatter)
    # One day= directory per distinct observed day: it sizes the
    # compactor's repartition below with no job.
    n_days = sum(e.startswith("day=") for e in os.listdir(debris))
    # class K: both layouts read back under the writer's schema (an
    # empty source leaves no part files for inference), and the
    # compactor's task count clamps at 1 — repartition(0) is an error.
    layout_schema = ev.schema  # (event_id, day) — day is the partition col
    before = (
        spark.read.schema(layout_schema).parquet(debris)
        .select("day", F.input_file_name().alias("f"))
        .groupBy("day")
        .agg(F.countDistinct("f").alias("files_before"))
    )

    def pack(d: str) -> None:
        (spark.read.schema(layout_schema).parquet(debris)
         .repartition(max(n_days, 1), "day")
         .write.mode("overwrite").partitionBy("day").parquet(d))

    def audit(d: str) -> DataFrame:
        after = (
            spark.read.schema(layout_schema).parquet(d)
            .select("day", "event_id", F.input_file_name().alias("f"))
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.countDistinct("f").alias("files_after"))
        )
        # Partition-column read-back infers DATE; the repo rule is dates
        # as STRINGS in output columns (a typed-date-aware result hash
        # would diverge from the oracle's VARCHAR day — r5 advice).
        return after.join(before, "day").select(
            F.col("day").cast("string").alias("day"),
            "n_rows", "files_before", "files_after")

    return round_trip("compact_packed", pack, audit)


@query("q_sink_bucketed", oracle=f"""
SELECT c.c_nationkey AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_sql('o.o_totalprice')} AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
""")
def q_sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table sink + co-located join — the write-side layout
    technique that pre-pays the shuffle: both sides are written
    ``bucketBy(8, custkey).sortBy(custkey)``, so a later equi-join on the
    bucket key needs NO exchange and NO sort on either side (bucket i
    joins bucket i; within-bucket order is already the join order).  At
    100 TB this turns every repeated fact-fact join on the bucket key
    from a full two-sided shuffle into a zipper per bucket — the single
    biggest recurring-cost lever a table layout owns
    (tests/test_plans.py pins the exchange-free plan with broadcast
    disabled; under default confs Catalyst may still elect a broadcast
    for a small side, which also avoids the shuffle).

    Each side is a core.tables.bucketed_table: external catalog tables
    over layouts of the source's current generation, so a table
    regenerated in place gets new tables, and each side is recreated on
    its own when missing.  Bucket count 8 is the demo scale; production
    sizes buckets so one bucket ≈ one executor-core's working set."""
    o = spark.table(bucketed_table(spark, sf_dir, "orders", "o_custkey"))
    c = spark.table(bucketed_table(spark, sf_dir, "customer", "c_custkey"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             dsum(F.col("o_totalprice")).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Bitemporal state: valid time (when the event happened) vs transaction time
# (when the warehouse LEARNED of it).  The fixtures carry only valid time,
# so ingest latency is MINTED deterministically per event (md5 gate, 0–47 h
# — the parse_url/minting discipline), and the query answers the classic
# bitemporal pair: "what did we BELIEVE each user's state was at decision
# time T?" vs "what do we NOW know it was as of the same valid instant V?"
# — the audit that catches decisions made on late-arriving data.
# ---------------------------------------------------------------------------

BT_V = "2024-01-15 00:00:00"   # valid-time anchor
BT_T_LAG_H = 6                 # decision time T = V + 6 h transaction time


@query("q_cdc_bitemporal", oracle=f"""
WITH ev AS (
  SELECT user_id, event_type, event_id,
         epoch_us(ts) AS valid_us,
         epoch_us(ts) + (ascii(substr(md5(CAST(event_id AS VARCHAR)
                                          || '|tx'), 1, 1)) % 48)
           * CAST(3600000000 AS BIGINT) AS tx_us
  FROM events
), anchors AS (
  SELECT epoch_us(TIMESTAMP '{BT_V}') AS v_us,
         epoch_us(TIMESTAMP '{BT_V}')
           + {BT_T_LAG_H} * CAST(3600000000 AS BIGINT) AS t_us
), believed AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY valid_us DESC, event_id DESC) AS r
  FROM ev, anchors WHERE valid_us <= v_us AND tx_us <= t_us
), known AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY valid_us DESC, event_id DESC) AS r
  FROM ev, anchors WHERE valid_us <= v_us
)
SELECT COALESCE(b.user_id, k.user_id) AS user_id,
       COALESCE(b.event_type, 'none') AS status_believed,
       COALESCE(k.event_type, 'none') AS status_known,
       COALESCE(b.event_type, 'none') <> COALESCE(k.event_type, 'none')
         AS corrected
FROM (SELECT * FROM believed WHERE r = 1) b
FULL OUTER JOIN (SELECT * FROM known WHERE r = 1) k
  ON b.user_id = k.user_id
""")
def q_cdc_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user state at valid instant V as believed at transaction time
    T, versus as known with full hindsight — rows with `corrected` are
    exactly the users whose late-arriving events invalidated a T-time
    decision.

    Determinism: all time arithmetic is exact BIGINT microseconds
    (epoch_us ↔ unix_micros, the safe pair); the minted ingest delay is
    the md5 gate idiom; both rank-1 selects order by the unique
    (valid_us, event_id).  Plan: ONE events scan feeds both ranks (AQE
    reuses the exchange); each is a WindowGroupLimit-eligible rank-1
    over a user-partitioned window, and the final join is user-sized.
    At 100 TB, bitemporal auditing costs two rank-1 windows on the same
    user shuffle — no self-join of the fact against itself."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros("ts").alias("valid_us"),
        (F.unix_micros("ts")
         + (F.ascii(F.substring(F.md5(F.concat(
             F.col("event_id").cast("string"), F.lit("|tx"))), 1, 1)) % 48)
         .cast("long") * F.lit(3600000000).cast("long")).alias("tx_us"),
    )
    v_us = F.unix_micros(F.lit(BT_V).cast("timestamp"))
    t_us = v_us + F.lit(BT_T_LAG_H * 3600000000)
    w = Window.partitionBy("user_id").orderBy(
        F.col("valid_us").desc(), F.col("event_id").desc())

    def rank1(df: DataFrame, out: str) -> DataFrame:
        return (df.withColumn("r", F.row_number().over(w))
                .filter(F.col("r") == 1)
                .select(F.col("user_id").alias(f"{out}_uid"),
                        F.col("event_type").alias(out)))

    believed = rank1(ev.filter((F.col("valid_us") <= v_us)
                               & (F.col("tx_us") <= t_us)), "sb")
    known = rank1(ev.filter(F.col("valid_us") <= v_us), "sk")
    j = believed.join(known, believed.sb_uid == known.sk_uid, "full_outer")
    sb = F.coalesce("sb", F.lit("none"))
    sk = F.coalesce("sk", F.lit("none"))
    return j.select(
        F.coalesce("sb_uid", "sk_uid").alias("user_id"),
        sb.alias("status_believed"), sk.alias("status_known"),
        (sb != sk).alias("corrected"),
    )


# ---------------------------------------------------------------------------
# JOIN-view IVM — incremental maintenance of a JOIN+aggregate view, the
# capability q_cdc_incremental_agg (single-table) stops short of: when
# BOTH sides of o JOIN l receive inserts, the view delta decomposes as
#     Δ(O ⋈ L) = ΔO ⋈ L₀  ∪  O₀ ⋈ ΔL  ∪  ΔO ⋈ ΔL
# and the maintained aggregate merges the three delta-join partials into
# the stored state — never re-scanning the joined base.
# ---------------------------------------------------------------------------


@query("q_cdc_join_ivm", oracle="""
WITH l AS (
  -- class L: unit value only when the product fits DECIMAL(18,4)
  -- (abs < 1e14); out-of-domain lines join and count but add no revenue
  SELECT l_orderkey,
         CAST(CASE WHEN abs(l_extendedprice * (1 - l_discount)) < 1e14
              THEN CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4)) * 10000 END AS BIGINT) AS u4
  FROM lineitem
)
SELECT o.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(CAST(SUM(u4) AS BIGINT) AS DOUBLE) / 10000 AS revenue
FROM orders o JOIN l ON l.l_orderkey = o.o_orderkey
GROUP BY 1
""")
def q_cdc_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-view IVM: per-status item counts + revenue over
    orders ⋈ lineitem, maintained from a two-sided insert batch.

    The fixture derives the changelog deterministically: ΔO = orders
    with o_orderkey % 17 == 0, ΔL = lineitem rows with
    (l_orderkey + l_linenumber) % 11 == 0; the bases are the remainders.
    The Spark side takes ONLY the incremental path — the base-view
    partial plus the three delta-join partials
    (ΔO⋈L₀, O₀⋈ΔL, ΔO⋈ΔL), merged by key with integer sums — while the
    oracle recomputes the view from scratch over the full join.
    Matching them IS the delta-join correctness statement: maintenance ≡
    recompute, with no term double-counted and none missed (a property
    test additionally pins every leg non-empty, so the equality is
    never vacuous on a dead term).

    Determinism: revenue moves as exact scale-4 integer units (the
    discounted price is a product of two 2-dp values carrying up to
    four decimal digits — exact at scale 4, where scale 2 would round
    divergently across engines); counts and sums are
    integers, merge order free.  Scale shape: at 100 TB the two
    big-side terms are delta-keyed joins (ΔO broadcast against L₀'s
    orderkey partitioning; ΔL shuffles only the delta against the
    orderkey-bucketed O₀) and the merge touches |status| rows — the
    stored view is never re-joined; here the base partial stands in for
    the stored state exactly as in q_cdc_incremental_agg."""
    od = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    d_o = F.col("o_orderkey") % 17 == 0
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        # scale-4 units: the discounted price is a product of two 2-dp
        # values, so it carries up to FOUR decimal digits — a scale-2
        # cast would have to round and the engines round differently
        # (the product-of-2dp gotcha); at scale 4 the cast is exact.
        # Class-L gate: only products that FIT DECIMAL(18,4) mint units.
        F.when(
            F.abs(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            < F.lit(1e14),
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(18,4)") * 10000).cast("long").alias("u4"),
        ((F.col("l_orderkey") + F.col("l_linenumber")) % 11 == 0)
        .alias("is_delta"))
    o_base, o_delta = od.filter(~d_o), od.filter(d_o)
    l_base = li.filter(~F.col("is_delta")).select("l_orderkey", "u4")
    l_delta = li.filter(F.col("is_delta")).select("l_orderkey", "u4")

    def part(o: DataFrame, l: DataFrame) -> DataFrame:
        return (o.join(l, o.o_orderkey == l.l_orderkey)
                .groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).alias("dn"),
                     F.sum("u4").alias("dc")))

    merged = (part(o_base, l_base)
              .unionByName(part(o_delta, l_base))
              .unionByName(part(o_base, l_delta))
              .unionByName(part(o_delta, l_delta))
              .groupBy("o_orderstatus")
              .agg(F.sum("dn").cast("long").alias("n_items"),
                   F.sum("dc").cast("long").alias("u4")))
    return merged.select(
        "o_orderstatus", "n_items",
        (F.col("u4").cast("double") / 10000).alias("revenue"))
