"""Join operators — SURVEY.md §2.3 rows 14-25.

The reference's only join is the event→container-inspect key lookup
[pub:muswarmlogger/events.py event.container]; SPARQL adds BGP join,
OPTIONAL (left), FILTER EXISTS (semi), MINUS (anti) [spec:SPARQL 1.1 §18].

Scale posture per join:
- dimension joins are broadcast (`F.broadcast`) — zero shuffle of the fact;
- large-large equi joins go to sort-merge (AQE may downgrade to broadcast
  at runtime when a side is small);
- the as-of join is the union-window pattern: ONE shuffle on (user_id), no
  range cross-product — this is the 100 TB-safe formulation;
- interval joins keep an equi key (user_id) so Spark plans a hash/merge
  join with a range residual, never a BNLJ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.numeric import dsum, dsum_sql, epoch_s
from ..core.registry import query
from ..core.tables import bucketed_table, load, observed_time


@query("q_join_inner_hash", oracle="""
SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
""")
def q_join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query("q_join_broadcast", oracle=f"""
SELECT p.p_brand, COUNT(*) AS n, {dsum_sql('l.l_extendedprice')} AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size > 40
GROUP BY p.p_brand
""")
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the small dimension: the fact table never
    shuffles for the join (only for the final groupBy)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_size") > 40)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum(F.col("l_extendedprice")).alias("revenue"))
    )


@query("q_join_sortmerge", oracle=f"""
SELECT o.o_orderpriority, COUNT(*) AS n, {dsum_sql('l.l_quantity')} AS sum_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""")
def q_join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large equi join pinned to sort-merge — the strategy that scales
    when neither side broadcasts (both shuffle-partitioned on the key)."""
    li = load(spark, sf_dir, "lineitem").hint("merge")
    orders = load(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("l_quantity")).alias("sum_qty"))
    )


@query("q_join_left", oracle="""
SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey
""")
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER = SPARQL OPTIONAL: customers with zero orders kept."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query("q_join_right_full", oracle="""
WITH cust_n AS (
  SELECT c.c_nationkey AS nk, COUNT(o.o_orderkey) AS n_orders,
         COUNT(DISTINCT c.c_custkey) AS n_cust
  FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey
), supp_n AS (
  SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey
)
SELECT COALESCE(c.nk, s.nk) AS nationkey, c.n_orders, c.n_cust, s.n_supp
FROM cust_n c FULL OUTER JOIN supp_n s ON c.nk = s.nk
""")
def q_join_right_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT and FULL OUTER in one plan (engine completeness, row 18)."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    cust_n = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "right")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("o_orderkey").alias("n_orders"),
             F.countDistinct("c_custkey").alias("n_cust"))
    )
    supp_n = supp.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return (
        cust_n.alias("c").join(supp_n.alias("s"),
                               F.col("c.nk") == F.col("s.nk"), "full")
        .select(
            F.coalesce(F.col("c.nk"), F.col("s.nk")).alias("nationkey"),
            "n_orders", "n_cust", "n_supp",
        )
    )


@query("q_join_semi", oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
""")
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI = SPARQL FILTER EXISTS."""
    cust = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query("q_join_anti", oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 250000)
""")
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI = SPARQL MINUS / NOT EXISTS: customers with no
    large (> 250k) order.  The price filter exists for NON-VACUITY: the
    unfiltered form ("customers with no orders at all") returns 0 rows at
    sf0.001/0.01 and 1 at sf0.1 on this fixture, so its driver hash match
    was a 0 == 0 that could not have caught a broken anti join (the
    vacuous-green class rotate_window now re-queues).  Filtered, the
    result is 1/11/108 rows across sf0.001/0.01/0.1, and the filter also
    exercises the planner pushing a right-side predicate below the anti
    join."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 250000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query("q_join_cross", oracle="""
SELECT r.r_name, s.o_orderstatus
FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
""")
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (SPARQL disjoint group graph patterns)."""
    region = load(spark, sf_dir, "region")
    statuses = load(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(statuses).select("r_name", "o_orderstatus")


@query("q_join_theta_range", oracle="""
SELECT s.s_suppkey, COUNT(*) AS n_close
FROM supplier s JOIN customer c
  ON s.s_nationkey = c.c_nationkey
 AND c.c_acctbal BETWEEN s.s_acctbal - 100.0 AND s.s_acctbal + 100.0
GROUP BY s.s_suppkey
""")
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join with an equi anchor: Catalyst plans a hash join
    on nationkey with the band predicate as residual — no BNLJ."""
    supp = load(spark, sf_dir, "supplier")
    cust = load(spark, sf_dir, "customer")
    cond = (
        (supp.s_nationkey == cust.c_nationkey)
        & (cust.c_acctbal >= supp.s_acctbal - 100.0)
        & (cust.c_acctbal <= supp.s_acctbal + 100.0)
    )
    return (
        supp.join(cust, cond)
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_close"))
    )


@query("q_join_asof", oracle="""
-- Explicit window formulation instead of DuckDB's ASOF JOIN: under
-- duplicate click timestamps ASOF picks an arbitrary row, while this
-- engine's spec is deterministic — the max (ts, event_id) click at or
-- before the purchase (found by the 4x-replication sweep, round 7).
SELECT p_event_id, user_id, p_ts, c_event_id, c_ts FROM (
  SELECT p.event_id AS p_event_id, p.user_id, p.ts AS p_ts,
         c.event_id AS c_event_id, c.ts AS c_ts,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
  FROM (SELECT * FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
          AND ts IS NOT NULL) p
  LEFT JOIN (SELECT * FROM events
             WHERE event_type = 'click' AND user_id IS NOT NULL
               AND ts IS NOT NULL) c
    ON p.user_id = c.user_id AND c.ts <= p.ts
) WHERE rn = 1
""")
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (row 23): for each purchase, the latest click by the same
    user at-or-before it.

    Spark has no native ASOF; a range-join + dedup would shuffle a
    cross-product.  Instead: UNION both streams, ONE window over
    (user_id ORDER BY ts, kind) carrying the last-seen click as a struct
    via last(..., ignorenulls) — a single shuffle, O(n log n) per
    partition, skew-safe, and exactly the formulation that scales to 100 TB
    (state is one struct per row, not a join buffer).
    """
    ev = observed_time(load(spark, sf_dir, "events")).filter(
        F.col("user_id").isNotNull())  # class G + class I: identified
        # users on the observed timeline only (the as-of axis is ts)
    # kind 0 = click (sorts before purchases at identical ts → ">=" semantics)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit(0).alias("kind")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("kind")
    )
    unioned = clicks.unionByName(purch)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click = F.last(
        F.when(F.col("kind") == 0, F.struct("event_id", "ts")), ignorenulls=True
    ).over(w)
    return (
        unioned.withColumn("lc", last_click)
        .filter(F.col("kind") == 1)
        .select(
            F.col("event_id").alias("p_event_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("lc.event_id").alias("c_event_id"),
            F.col("lc.ts").alias("c_ts"),
        )
    )


@query("q_join_interval", oracle="""
SELECT p.event_id AS p_event_id, COUNT(c.event_id) AS n_clicks_1h
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts < p.ts
GROUP BY p.event_id
""")
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (row 24): clicks in the hour before each
    purchase.  Equi key (user_id) + time-band residual — the batch shape of
    the watermarked stream-stream join (row 64)."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    c = ev.filter(F.col("event_type") == "click").alias("c")
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c.ts") < F.col("p.ts"))
    )
    return (
        p.join(c, cond, "left")
        .groupBy(F.col("p.event_id").alias("p_event_id"))
        .agg(F.count("c.event_id").alias("n_clicks_1h"))
    )


@query("q_join_self", oracle="""
SELECT e1.user_id, COUNT(*) AS n_pairs
FROM events e1 JOIN events e2
  ON e1.user_id = e2.user_id
 AND e1.event_type = e2.event_type
 AND e1.event_id < e2.event_id
 AND e2.ts >= e1.ts AND e2.ts < e1.ts + INTERVAL 5 MINUTE
GROUP BY e1.user_id
""")
def q_join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self join (row 25): bursts — same-type event pairs within 5 minutes."""
    ev = load(spark, sf_dir, "events")
    e1, e2 = ev.alias("e1"), ev.alias("e2")
    cond = (
        (F.col("e1.user_id") == F.col("e2.user_id"))
        & (F.col("e1.event_type") == F.col("e2.event_type"))
        & (F.col("e1.event_id") < F.col("e2.event_id"))
        & (F.col("e2.ts") >= F.col("e1.ts"))
        & (F.col("e2.ts") < F.col("e1.ts") + F.expr("INTERVAL 5 MINUTE"))
    )
    return (
        e1.join(e2, cond)
        .groupBy(F.col("e1.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query("q_join_bucketed", oracle=f"""
SELECT o.o_orderstatus, COUNT(*) AS n, {dsum_sql('l.l_extendedprice')} AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 150000.0
GROUP BY o.o_orderstatus
""")
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join (SURVEY.md §4 / SCALE.md): both sides
    pre-bucketed on the join key → SortMergeJoin with ZERO Exchange (the
    plan test asserts it).  Result is identical to the shuffled join, so
    the plain-SQL oracle still applies."""
    # hint pins SMJ (at oracle scale AQE would broadcast the filtered side,
    # hiding exactly the no-shuffle property this operator demonstrates)
    li = spark.table(
        bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")).hint("merge")
    orders = spark.table(
        bucketed_table(spark, sf_dir, "orders", "o_orderkey")).filter(
        F.col("o_totalprice") > 150000.0)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum(F.col("l_extendedprice")).alias("revenue"))
    )


N_SALT = 8


@query("q_join_salted", oracle=f"""
SELECT e.event_type, c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       {dsum_sql('e.value')} AS sum_value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id % 150 + 1
GROUP BY e.event_type, c.c_mktsegment
""")
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join for skewed keys: the fact side gets a random-but-
    deterministic salt (xxhash64 of the row id mod N_SALT), the dimension
    side is exploded N_SALT× — each (key, salt) pair now carries ~1/N of
    the hot key's rows, so no single reducer owns a hot key.

    The join result is IDENTICAL to the unsalted join (the oracle runs the
    plain join), which is the point: salting is a physical rewrite, not a
    semantic one.  AQE's skew-join splitting does this automatically for
    sort-merge joins; the manual form is for stable plans under extreme
    single-key skew (the reference's world: one chatty container dominating
    the log stream) and for pre-Spark-3 engines.

    Cite: SURVEY.md §2.3 row 14 (enrichment join) — this is that join
    under a hot-key distribution.
    """
    ev = load(spark, sf_dir, "events").withColumn(
        "join_key", F.col("user_id") % 150 + 1
    ).withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALT)))
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("join_key"), "c_mktsegment"
    ).withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALT)])))
    return (
        ev.join(cust, ["join_key", "salt"])
        .groupBy("event_type", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum(F.col("value")).alias("sum_value"))
    )


BAND_S = 300  # ±5-minute proximity window, whole seconds


@query("q_join_banded", oracle=f"""
WITH e AS (
  SELECT event_id, ts FROM events WHERE event_type = 'error'
), p AS (
  SELECT event_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT e.event_id, CAST(COUNT(p.event_id) AS BIGINT) AS n_nearby_purchases
FROM e LEFT JOIN p
  ON CAST(floor(epoch(p.ts)) AS BIGINT)
     - CAST(floor(epoch(e.ts)) AS BIGINT) BETWEEN -{BAND_S} AND {BAND_S}
GROUP BY e.event_id
""")
def q_join_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join with NO equi anchor — "purchases by ANY user within
    ±5 minutes of each error" — the shape Catalyst can only plan as a
    nested-loop cross product.  The scale path is band bucketing: bucket
    both sides by floor(epoch/band); the probe side keeps its one bucket,
    the build side explodes to {{b-1, b, b+1}} (constant 3× fan-out for a
    window ≤ band width), and the join becomes an EQUI join on bucket id
    with the time predicate as residual — shuffle-partitionable, BNLJ
    eliminated (plan-invariant-tested).  Each qualifying pair meets in
    exactly one bucket (the probe row's own), so no dedup is needed.
    Both engines compare FLOORED whole-second epochs (core.numeric
    epoch_s <-> the oracle's floor(epoch)) so the band edge is exact
    cross-engine for either epoch sign — the truncating unix_timestamp
    only matched the oracle's floor on post-epoch stamps (class H)."""
    ev = load(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type") == "error").select(
        "event_id", epoch_s("ts").alias("es")
    )
    b = F.floor(F.col("es") / BAND_S)
    eb = e.withColumn("band", F.explode(F.array(b - 1, b, b + 1)))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        epoch_s("ts").alias("ps"),
    ).withColumn("band", F.floor(F.col("ps") / BAND_S))
    joined = eb.join(
        p,
        (eb.band == p.band)
        & (F.col("ps") - F.col("es")).between(-BAND_S, BAND_S),
        "left",
    )
    return joined.groupBy("event_id").agg(
        F.count("p_id").alias("n_nearby_purchases")
    )


# ---------------------------------------------------------------------------
# Grid-blocked spatial radius join.  The fixtures carry no geo columns, so
# both engines MINT identical integer coordinates from md5 over the entity
# key (the parse_url/minting discipline) — a point in a 1,000,000² unit
# plane per customer and per supplier — and the operator finds all
# (customer, supplier) pairs within Euclidean radius R.  Blocking is the
# classic grid trick: cell size = R, the supplier side replicates to its
# 3×3 neighborhood, candidates join on the cell key, and the exact d² ≤ R²
# refine runs only inside matched cells.  Everything is BIGINT-exact
# (coords < 1e6 → d² < 2e12), and the emitted distance is ONE IEEE sqrt on
# identical integers — no trig, no float divergence surface at all.
# ---------------------------------------------------------------------------

SPATIAL_SPAN = 1_000_000   # coordinate domain per axis
SPATIAL_R = 50_000         # join radius == grid cell size


def _mint_xy_sql(prefix: str, key: str) -> str:
    """DuckDB twin of the Spark md5-prefix coordinate mint (one axis)."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform("
        f"string_split_regex(substr(md5('{prefix}' || CAST({key} AS VARCHAR)"
        f" || '|' || '{{axis}}'), 1, 8), ''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), "
        f"(a, b) -> a * 16 + b) % {SPATIAL_SPAN}"
    )


@query("q_join_spatial_grid", oracle=f"""
WITH cust AS (
  SELECT c_custkey,
         {_mint_xy_sql('c', 'c_custkey').format(axis='x')} AS x,
         {_mint_xy_sql('c', 'c_custkey').format(axis='y')} AS y
  FROM customer
), supp AS (
  SELECT s_suppkey,
         {_mint_xy_sql('s', 's_suppkey').format(axis='x')} AS x,
         {_mint_xy_sql('s', 's_suppkey').format(axis='y')} AS y
  FROM supplier
), scell AS (
  SELECT s.*, CAST(s.x // {SPATIAL_R} AS BIGINT) + dx.dx AS cx,
         CAST(s.y // {SPATIAL_R} AS BIGINT) + dy.dy AS cy
  FROM supp s, UNNEST([-1, 0, 1]) dx(dx), UNNEST([-1, 0, 1]) dy(dy)
)
SELECT c.c_custkey AS custkey, s.s_suppkey AS suppkey,
       (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS d2,
       sqrt(CAST((c.x - s.x) * (c.x - s.x)
                 + (c.y - s.y) * (c.y - s.y) AS DOUBLE)) AS dist
FROM cust c
JOIN scell s ON CAST(c.x // {SPATIAL_R} AS BIGINT) = s.cx
            AND CAST(c.y // {SPATIAL_R} AS BIGINT) = s.cy
WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
      <= CAST({SPATIAL_R} AS BIGINT) * {SPATIAL_R}
""")
def q_join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All (customer, supplier) pairs within radius R on the minted plane.

    Scale shape: the 9× replication happens on the SMALL (supplier) side
    only; candidates meet in a cell-key equi-join (hash- or broadcast-
    able, never a cross join), and each true pair is found exactly once
    because the replicated cells of one supplier are distinct.  Cell size
    = R is the textbook guarantee that every within-R pair shares one of
    the 9 neighbor cells.  At 100 TB the same plan holds with both sides
    large: the cell key is the shuffle key and skewed cells respond to
    AQE skew-join like any hot hash key.

    Determinism: coordinates are md5-minted integers (identical in both
    engines — the hex-prefix fold idiom), d² is exact BIGINT, the radius
    gate compares integers, and dist is a single IEEE sqrt on identical
    operands (correctly rounded in both engines) — raw emit."""
    span, r = F.lit(SPATIAL_SPAN), SPATIAL_R

    def mint(prefix: str, key: F.Column, axis: str) -> F.Column:
        h = F.md5(F.concat(F.lit(prefix), key.cast("string"),
                           F.lit("|" + axis)))
        return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
                % span)

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        mint("c", F.col("c_custkey"), "x").alias("x"),
        mint("c", F.col("c_custkey"), "y").alias("y"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        mint("s", F.col("s_suppkey"), "x").alias("sx"),
        mint("s", F.col("s_suppkey"), "y").alias("sy"),
    )
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    scell = (supp.select("*", F.explode(offsets).alias("o"))
             .select("s_suppkey", "sx", "sy",
                     ((F.col("sx") / r).cast("long")
                      + F.col("o.dx")).alias("cx"),
                     ((F.col("sy") / r).cast("long")
                      + F.col("o.dy")).alias("cy")))
    d2 = ((F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx"))
          + (F.col("y") - F.col("sy")) * (F.col("y") - F.col("sy")))
    return (
        cust.join(scell,
                  ((F.col("x") / r).cast("long") == F.col("cx"))
                  & ((F.col("y") / r).cast("long") == F.col("cy")))
        .filter(d2 <= r * r)
        .select(F.col("c_custkey").alias("custkey"),
                F.col("s_suppkey").alias("suppkey"),
                d2.alias("d2"),
                F.sqrt(d2.cast("double")).alias("dist"))
    )


# ---------------------------------------------------------------------------
# Point-in-time (PIT) feature join — the feature-store primitive: for every
# label event (a purchase), fetch each user feature exactly as it stood
# STRICTLY BEFORE that event.  Using any same-or-later row is label
# leakage; the frame bound `ROWS ... AND 1 PRECEDING` is the whole
# correctness story, and one user-partitioned window pass computes every
# feature (no per-feature as-of join).  q_join_asof is the two-table
# special case; this is the k-feature generalization.
# ---------------------------------------------------------------------------


@query("q_join_pit_features", oracle="""
SELECT event_id, user_id,
       epoch_us(ts) AS label_us,
       CAST(n_prior_views AS BIGINT) AS n_prior_views,
       CAST(n_prior_events AS BIGINT) AS n_prior_events,
       last_value, prev_us
FROM (
  SELECT event_id, user_id, ts, event_type,
         COUNT(*) FILTER (WHERE event_type = 'view') OVER w
           AS n_prior_views,
         COUNT(*) OVER w AS n_prior_events,
         LAST_VALUE(value) OVER w AS last_value,
         CAST(LAST_VALUE(epoch_us(ts)) OVER w AS BIGINT) AS prev_us
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
WHERE event_type = 'purchase'
""")
def q_join_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free features for every purchase label row.

    Determinism: the window orders by the unique (exact-microsecond ts,
    event_id) pair; counts are integers, `value` carries 2 decimals
    (fixture-exact), and the previous-event timestamp stays in BIGINT
    micros.  The strictly-prior frame (`1 PRECEDING`) guarantees no
    feature can see the label row or its future — the property a
    training-set builder must prove, pinned in tests/test_properties.py
    by replaying the features against a driver-side prefix scan.

    Plan: ONE events scan, ONE user-keyed exchange; all four features
    ride the same window sort, and the label filter prunes after — at
    100 TB this is the minimum any per-entity feature extraction can
    cost (q_join_asof's union trick, amortized over k features)."""
    ev = observed_time(load(spark, sf_dir, "events"))
    us = F.unix_micros("ts")
    w = (Window.partitionBy("user_id").orderBy(us.asc(), F.col("event_id"))
         .rowsBetween(Window.unboundedPreceding, -1))
    feat = ev.select(
        "event_id", "user_id", "event_type",
        us.alias("label_us"),
        F.count(F.when(F.col("event_type") == "view", 1)).over(w)
        .alias("n_prior_views"),
        F.count(F.lit(1)).over(w).alias("n_prior_events"),
        F.last("value").over(w).alias("last_value"),
        F.last(us).over(w).cast("long").alias("prev_us"),
    )
    return (feat.filter(F.col("event_type") == "purchase")
            .drop("event_type"))


# ---------------------------------------------------------------------------
# Nearest as-of join — the sensor-alignment variant completing the as-of
# family: q_join_asof finds the latest click AT-OR-BEFORE each purchase;
# this finds the click NEAREST IN TIME in either direction (ties prefer
# the backward candidate; within a timestamp, backward keeps the max
# event_id and forward the min — all deterministic).
# ---------------------------------------------------------------------------


@query("q_join_asof_nearest", oracle="""
-- Explicit ranked formulation (DuckDB ASOF can't express "nearest" and
-- picks arbitrary rows under ties — the q_join_asof precedent).
SELECT p_event_id, user_id, p_ts, c_event_id, c_ts, delta_us FROM (
  SELECT p.event_id AS p_event_id, p.user_id, p.ts AS p_ts,
         c.event_id AS c_event_id, c.ts AS c_ts,
         epoch_us(c.ts) - epoch_us(p.ts) AS delta_us,
         row_number() OVER (
           PARTITION BY p.event_id
           ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)),
                    CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END,
                    CASE WHEN c.ts <= p.ts THEN -c.event_id
                         ELSE c.event_id END) AS rn
  FROM (SELECT * FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
          AND ts IS NOT NULL) p
  LEFT JOIN (SELECT * FROM events
             WHERE event_type = 'click' AND user_id IS NOT NULL
               AND ts IS NOT NULL) c
    ON p.user_id = c.user_id
) WHERE rn = 1
""")
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join: for each purchase, the same user's
    click minimizing |Δt| in either direction.

    Spark-first shape: the q_join_asof union-window trick run TWICE
    over ONE user_id exchange — an ascending pass carries the last
    click at-or-before (backward candidate, max event_id within a
    timestamp), a descending pass carries the first click at-or-after
    (forward candidate, min event_id within a timestamp) — then a
    row-local nearest pick with backward preferred on distance ties.
    No join operator, no cross-product buffer: one shuffle, two
    in-partition sorts, O(1) carried state per row (the 100 TB
    argument from q_join_asof, doubled).

    Determinism: distances are exact integer µs (unix_micros ↔
    epoch_us); every ordering carries kind and event_id; the oracle's
    ranked join mirrors the backward/forward tiebreaks exactly."""
    ev = observed_time(load(spark, sf_dir, "events")).filter(
        F.col("user_id").isNotNull())  # class G + class I: identified
        # users on the observed timeline only (the as-of axis is ts)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit(0).alias("kind"))
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("kind"))
    unioned = clicks.unionByName(purch)
    us = F.unix_micros("ts")
    w_b = (Window.partitionBy("user_id")
           .orderBy("ts", "kind", "event_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_f = (Window.partitionBy("user_id")
           .orderBy(F.col("ts").desc(), F.col("kind").asc(),
                    F.col("event_id").desc())
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    click_struct = F.when(F.col("kind") == 0,
                          F.struct(F.col("event_id"), F.col("ts"),
                                   us.alias("us")))
    both = (
        unioned
        .withColumn("bw", F.last(click_struct, ignorenulls=True).over(w_b))
        .withColumn("fw", F.last(click_struct, ignorenulls=True).over(w_f))
        .filter(F.col("kind") == 1)
    )
    p_us = F.unix_micros("ts")
    db = p_us - F.col("bw.us")            # >= 0
    df = F.col("fw.us") - p_us            # >= 0
    take_bw = F.col("fw").isNull() | (F.col("bw").isNotNull() & (db <= df))
    nearest = F.when(take_bw, F.col("bw")).otherwise(F.col("fw"))
    return both.select(
        F.col("event_id").alias("p_event_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        nearest.getField("event_id").alias("c_event_id"),
        nearest.getField("ts").alias("c_ts"),
        (nearest.getField("us") - p_us).alias("delta_us"),
    )
