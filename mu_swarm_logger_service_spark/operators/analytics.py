"""Composed analytical queries — multi-operator showcase plans.

The single-operator queries in this package isolate one primitive each;
these compose them the way the reference's downstream dashboards would
(SwarmUI-style multi-pattern SPARQL ≈ multi-join SQL): the classic TPC-H
query shapes adapted to the testdata's trimmed star schema (no partsupp,
no commit/receipt dates — see FIXTURES.md) — broadcast dims, one fact
shuffle per query, top-k pushdown, subqueries decorrelated into joins,
all in single Catalyst plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.folds import fsum
from ..core.numeric import (davg, davg_sql, dsum, dsum_sql,
                            in_measure_domain, measure, measure_sql)
from ..core.registry import query
from ..core.tables import load

_REV = "l.l_extendedprice * (1.0 - l.l_discount)"


def _revenue() -> F.Column:
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


@query("q_analytics_shipping_priority", oracle=f"""
SELECT l.l_orderkey,
       {dsum_sql('l.l_extendedprice * (1.0 - l.l_discount)')} AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""")
def q_analytics_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3 shape: selective dim filter → broadcast → fact join →
    grouped revenue → top-10.  One fact pass, one shuffle (the groupBy),
    TakeOrderedAndProject for the limit."""
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    cutoff = F.lit("1995-03-15").cast("timestamp")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(orders.join(F.broadcast(cust),
                                        orders.o_custkey == cust.c_custkey)),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(revenue).alias("revenue"))
        .select("l_orderkey", "revenue",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query("q_analytics_regional_revenue", oracle=f"""
SELECT n.n_name AS nation,
       {dsum_sql('l.l_extendedprice * (1.0 - l.l_discount)')} AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN supplier s ON s.s_nationkey = n.n_nationkey
JOIN lineitem l ON l.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE r.r_name IN ('ASIA', 'EUROPE')
  AND o.o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
GROUP BY n.n_name
""")
def q_analytics_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5 shape: a 5-table star join — region→nation→supplier chain
    collapses into one broadcast dim, lineitem⋈orders is the single
    large-large join, then one groupBy shuffle."""
    region = load(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    nation = load(spark, sf_dir, "nation")
    supp = load(spark, sf_dir, "supplier")
    dim = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "n_name")
    )
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dim), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(revenue).alias("revenue"))
    )


@query("q_analytics_promo_revenue", oracle=f"""
SELECT strftime(date_trunc('month', l.l_shipdate), '%Y-%m') AS ship_month,
       100.0 * {dsum_sql(f"CASE WHEN p.p_type = 'PROMO' THEN {_REV} ELSE 0.0 END")}
             / {dsum_sql(_REV)} AS promo_pct,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY date_trunc('month', l.l_shipdate)
""")
def q_analytics_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14 shape: promotional-revenue share per ship month.  The
    part dimension broadcasts (fact never shuffles for the join); the
    conditional aggregate computes numerator and denominator in ONE fact
    pass; the ratio divides two exact-decimal-derived doubles, so both
    engines agree bit-for-bit."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part")
    rev = _revenue()
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM")
                 .alias("ship_month"))
        .agg(
            (F.lit(100.0)
             * dsum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
             / dsum(rev)).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query("q_analytics_returned_items", oracle=f"""
SELECT c.c_custkey, c.c_name,
       {dsum_sql(_REV)} AS revenue,
       c.c_acctbal, n.n_name AS nation
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""")
def q_analytics_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10 shape: top-20 customers by revenue lost to returned items
    in a half-year window.  Selective fact filter first (pushdown), then a
    single groupBy shuffle keyed by customer; nation broadcasts; top-20 via
    TakeOrderedAndProject with c_custkey as the unique tiebreaker."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal",
                 F.col("n_name").alias("nation"))
        .agg(dsum(_revenue()).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query("q_analytics_large_orders", oracle=f"""
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_totalprice + 0.0 AS o_totalprice,
       {dsum_sql('l.l_quantity')} AS sum_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(27,6))) > 250
)
GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
""")
def q_analytics_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18 shape: customers with orders whose total quantity exceeds
    250.  The IN-subquery decorrelates into a semi join against the grouped
    lineitem aggregate; the surviving key set is tiny, so AQE converts the
    orders join to broadcast at runtime — the fact shuffles once (groupBy
    l_orderkey), never for a join."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(27,6)")).alias("_q"))
        .filter(F.col("_q") > 250)
        .select("l_orderkey")
    )
    orders = load(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "semi"
    )
    cust = load(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                 "o_totalprice")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        # + 0.0: a raw -0.0 group key renders '-0.0' in DuckDB while
        # Spark's NormalizeFloatingNumbers rewrites the key to +0.0
        # (class-L -0.0 injection) — normalize the EMITTED value on both
        # sides; grouping itself already agrees (-0.0 == 0.0 in both).
        .select("c_custkey", "c_name", "o_orderkey",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                (F.col("o_totalprice") + F.lit(0.0)).alias("o_totalprice"),
                "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@query("q_analytics_late_orders", oracle="""
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o.o_orderpriority
""")
def q_analytics_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4 shape (adapted: no commit/receipt dates in the trimmed
    schema — "late" = any line shipped >90 days after the order date).
    The correlated EXISTS decorrelates into a left-semi join whose
    non-equi part rides along as a residual condition on the hash join."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        "semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query("q_analytics_small_qty_revenue", oracle=f"""
WITH pa AS (
  SELECT l_partkey, {davg_sql('l_quantity')} AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
       {dsum_sql('l.l_extendedprice')} AS total_rev
FROM lineitem l
JOIN pa ON l.l_partkey = pa.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3'
  AND l.l_quantity < 0.2 * pa.avg_qty
""")
def q_analytics_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17 shape: revenue from small-quantity lines of one brand,
    where "small" compares against the per-part average quantity — a
    correlated scalar subquery decorrelated into an aggregate + self
    join.  The per-part average uses the exact-decimal path, so the 0.2×
    threshold is bit-identical across engines."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        davg(F.col("l_quantity")).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(pa, li.l_partkey == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(F.count(F.lit(1)).alias("n_small"),
             dsum(F.col("l_extendedprice")).alias("total_rev"))
    )


@query("q_analytics_disjunctive_revenue", oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
       {dsum_sql(_REV)} AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 21)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 40)
""")
def q_analytics_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19 shape: disjunction of conjunctive brand/size/quantity
    clauses across the join.  Catalyst extracts the common sub-predicates
    (brand IN (...), size/quantity upper bounds) and pushes them below the
    join into both scans, so the broadcast join sees pre-filtered inputs —
    the classic OR-predicate-pushdown showcase."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & s.between(1, 15) & q.between(1, 21))
        | ((b == "Brand#2") & s.between(1, 25) & q.between(10, 30))
        | ((b == "Brand#3") & s.between(1, 35) & q.between(20, 40))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(F.count(F.lit(1)).alias("n_items"),
             dsum(_revenue()).alias("revenue"))
    )


@query("q_analytics_volume_shipping", oracle=f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       {dsum_sql(_REV)} AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation ns ON ns.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation nc ON nc.n_nationkey = c.c_nationkey
WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY ns.n_name, nc.n_name, year(l.l_shipdate)
""")
def q_analytics_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7 shape: bilateral trade volume between two nations by ship
    year.  Supplier→nation and customer→nation collapse into two broadcast
    dims; the disjunctive nation-pair filter applies after both joins;
    lineitem⋈orders is the single large-large join."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    nation = load(spark, sf_dir, "nation")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nation),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = load(spark, sf_dir, "orders")
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(dsum(_revenue()).alias("revenue"))
    )


@query("q_analytics_market_share", oracle=f"""
SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       {dsum_sql(f"CASE WHEN ns.n_name = 'NATION_5' THEN {_REV} ELSE 0.0 END")}
         / {dsum_sql(_REV)} AS mkt_share
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation ns ON ns.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation nc ON nc.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = nc.n_regionkey
WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
GROUP BY year(o.o_orderdate)
""")
def q_analytics_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8 shape: NATION_5's share of ECONOMY-part revenue sold into
    ASIA, per order year.  Numerator and denominator come out of ONE
    conditional aggregate over one fact pass; every dimension broadcasts;
    the share divides two exact-decimal-derived doubles."""
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_asia = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nation),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    rev = _revenue()
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_asia), orders.o_custkey == F.col("c_custkey"), "semi")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (dsum(F.when(F.col("supp_nation") == "NATION_5", rev)
                  .otherwise(F.lit(0.0)))
             / dsum(rev)).alias("mkt_share")
        )
    )


@query("q_analytics_idle_customers", oracle=f"""
WITH avg_bal AS (
  SELECT {davg_sql('c_acctbal')} AS ab FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_custs,
       {dsum_sql('c.c_acctbal')} AS total_bal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.ab
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY c.c_nationkey
""")
def q_analytics_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22 shape: above-average-balance customers with no recent
    (1999+) orders, grouped by nation.  The uncorrelated scalar subquery
    (global average balance) becomes a broadcast 1-row cross join — no
    collect(), the threshold never leaves the cluster; NOT EXISTS becomes
    a left-anti join on the filtered orders key set."""
    cust = load(spark, sf_dir, "customer")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(davg(F.col("c_acctbal")).alias("ab"))
    )
    recent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent.select(F.col("o_custkey").alias("c_custkey")),
              "c_custkey", "anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_custs"),
             dsum(F.col("c_acctbal")).alias("total_bal"))
    )


@query("q_analytics_forecast_revenue", oracle=f"""
SELECT {dsum_sql('l_extendedprice * l_discount')} AS potential_revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24.0
""")
def q_analytics_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6 shape: pure scan-filter-aggregate, the pushdown showcase —
    all three predicates reach the Parquet reader (row-group min/max
    skipping), no join, no groupBy shuffle; the global aggregate is one
    partial-per-partition + single final reduce."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"))
             .alias("potential_revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


@query("q_analytics_product_profit", oracle=f"""
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       {dsum_sql('l.l_extendedprice * (1.0 - l.l_discount)'
                 ' - 0.1 * p.p_retailprice * l.l_quantity')} AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, year(o.o_orderdate)
""")
def q_analytics_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9 shape: product profit by supplier nation × order year.
    The testdata has no partsupp (FIXTURES.md), so unit cost is proxied as
    10% of p_retailprice — the plan shape is the point: three broadcast
    dims, one large-large join (lineitem⋈orders), one groupBy shuffle."""
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    dim = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    amount = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dim), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(dsum(amount).alias("profit"))
    )


@query("q_analytics_important_parts", oracle=f"""
WITH total AS (
  SELECT {dsum_sql('l_extendedprice * l_quantity')} AS tv,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS np
  FROM lineitem
)
SELECT l.l_partkey AS partkey,
       {dsum_sql('l.l_extendedprice * l.l_quantity')} AS part_value
FROM lineitem l, total
GROUP BY l.l_partkey, total.tv, total.np
HAVING {dsum_sql('l.l_extendedprice * l.l_quantity')}
       > 1.25 * ANY_VALUE(total.tv) / ANY_VALUE(total.np)
""")
def q_analytics_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11 shape: parts whose traded value exceeds a multiple of the
    MEAN part value — the uncorrelated scalar subquery in HAVING.  The
    threshold is 1.25× the mean (tv / np), not a fixed fraction of the
    total: a fixed 0.002·total passes only when the part count is below
    500, so it returned rows at sf0.001 and 0 rows at sf0.01/0.1 — a
    vacuous driver green (the class rotate_window now re-queues).  The
    mean-relative form yields 25/289/2996 rows across sf0.001/0.01/0.1
    and is the shape that stays meaningful at any corpus size.  Exactness:
    tv is the decimal-path sum (identical bits both engines), np a BIGINT,
    1.25 an exact binary fraction — the threshold is two IEEE ops on
    identical operands, so the comparison cannot straddle an ulp.

    The total is a 1-row aggregate broadcast into the per-part HAVING
    filter; the fact table is scanned twice but shuffled once (the
    groupBy); no collect() — the threshold never leaves the cluster."""
    li = load(spark, sf_dir, "lineitem")
    value = F.col("l_extendedprice") * F.col("l_quantity")
    total = li.agg(dsum(value).alias("tv"),
                   F.countDistinct("l_partkey").alias("np"))
    return (
        li.groupBy(F.col("l_partkey").alias("partkey"))
        .agg(dsum(value).alias("part_value"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.lit(1.25) * F.col("tv") / F.col("np"))
        .select("partkey", "part_value")
    )


@query("q_analytics_shipmode_priority", oracle="""
SELECT CAST(FLOOR(date_diff('day', o.o_orderdate, l.l_shipdate) / 90.0)
            AS BIGINT) AS lag_bucket,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= o.o_orderdate
GROUP BY 1
""")
def q_analytics_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12 shape: order-priority counts per shipping-lag bucket
    (no l_shipmode in the testdata — the 90-day lag bucket stands in).
    One large-large join, conditional aggregation in a single pass;
    both engines bucket via FLOOR(double division) so negative lags
    (synthetic data ships before ordering) bucket identically."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") >= F.col("o_orderdate")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lag_days = F.datediff("l_shipdate", "o_orderdate")
    return (
        j.groupBy(F.floor(lag_days / F.lit(90.0)).cast("long")
                  .alias("lag_bucket"))
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"))
    )


@query("q_analytics_order_distribution", oracle="""
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                     AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
""")
def q_analytics_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13 shape: distribution of customers by order count — the
    double-aggregation query.  LEFT join keeps order-less customers
    (COUNT of a null column = 0); first groupBy shuffles on custkey,
    the second on the (tiny-domain) count."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy(cust.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query("q_analytics_top_supplier", oracle=f"""
WITH rev AS (
  SELECT l_suppkey AS suppkey,
         {dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN rev r ON s.s_suppkey = r.suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
""")
def q_analytics_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15 shape: supplier(s) with the maximum quarterly revenue —
    the view + scalar-MAX-subquery query.  The revenue "view" is computed
    once and reused for both the MAX and the equality filter (Spark plans
    it twice but the scan is pruned to one quarter); the 1-row MAX
    broadcasts.  Revenue equality is safe cross-engine because both sides
    derive from the same exact-decimal sum."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
             .alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mr"))
    supp = load(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mr"))
        .join(F.broadcast(supp), F.col("suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query("q_analytics_part_supp_counts", oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_size IN (1, 5, 9, 14, 20, 27, 33, 40)
  AND NOT EXISTS (SELECT 1 FROM supplier s
                  WHERE s.s_suppkey = l.l_suppkey AND s.s_acctbal < 1000.0)
GROUP BY p.p_brand, p.p_type, p.p_size
""")
def q_analytics_part_supp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16 shape: distinct-supplier counts per (brand, type, size)
    with an excluded-supplier NOT-IN subquery (complaint suppliers →
    negative-balance suppliers here, no s_comment in the testdata).  The
    exclusion list is a broadcast anti join; COUNT(DISTINCT) expands to
    the two-phase distinct aggregate."""
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 5, 9, 14, 20, 27, 33, 40)
    )
    bad_supp = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 1000.0
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(bad_supp), "l_suppkey", "anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@query("q_analytics_blocking_supplier", oracle="""
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 10
""")
def q_analytics_blocking_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21 shape: suppliers whose line was the LAST to ship on
    finished multi-supplier orders (no receipt/commit dates in the
    testdata, so "kept waiting" = latest l_shipdate).  EXISTS → left-semi
    self join, NOT EXISTS → left-anti self join; both are equi joins on
    l_orderkey with a residual predicate, so they hash-partition on the
    order key instead of exploding into a cross product.

    (A decorrelated rewrite — per-(order, supplier) max-shipdate plus
    per-order windows deriving every supplier's other-suppliers-max, so
    lineitem shuffles ONCE instead of three times — was built and
    measured at sf0.1: the window sorts and the join-back cost more than
    the straight self-joins, 1.9 s vs 1.3 s warm, so the simpler form
    stays.  On a real cluster where lineitem is 100 TB and shuffle IO
    dominates compute, re-measure: the one-shuffle form is the likely
    winner there, and the semantics-preserving derivation is in git
    history.)"""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = load(spark, sf_dir, "supplier")
    l1, l2, l3 = li.alias("l1"), li.alias("l2"), li.alias("l3")
    return (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey"))
            & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate")),
            "anti",
        )
        .join(orders, F.col("l1.l_orderkey") == orders.o_orderkey)
        .join(F.broadcast(supp), F.col("l1.l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(10)
    )


@query("q_analytics_min_cost_supplier", oracle=f"""
WITH eur AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'
), cost AS (
  SELECT l.l_partkey, l.l_suppkey,
         {dsum_sql('l.l_extendedprice * (1.0 - l.l_discount)')}
               / SUM(l.l_quantity) AS unit_cost
  FROM lineitem l
  WHERE l.l_extendedprice IS NOT NULL AND l.l_discount IS NOT NULL
    AND l.l_quantity IS NOT NULL
  GROUP BY l.l_partkey, l.l_suppkey
)
SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand, c.unit_cost
FROM cost c
JOIN part p ON p.p_partkey = c.l_partkey
JOIN eur e ON e.s_suppkey = c.l_suppkey
WHERE p.p_type = 'LARGE' AND p.p_size <= 15
QUALIFY row_number() OVER (PARTITION BY c.l_partkey
                           ORDER BY c.unit_cost, c.l_suppkey) = 1
""")
def q_analytics_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2 shape: for each small LARGE-type part, the EUROPE supplier
    offering the minimum effective unit cost (no partsupp in the testdata,
    so cost = discounted revenue / quantity over that (part, supplier)'s
    lineitems — the same correlated-MIN-per-part structure).  The min is a
    per-part window rank with a suppkey tiebreak, not a self-join; part
    and supplier dims broadcast, and the fact side is pre-partitioned on
    partkey alone so the (partkey, suppkey) aggregate and the per-part
    min-rank window share one exchange — one fact shuffle total.  Unit cost is NOT rounded: the
    numerator is an exact decimal sum, the denominator an exact
    integral-double sum, so the single IEEE division yields identical
    bits in both engines — while round() itself diverges by one ulp on
    boundary values (seen at sf0.1).  Ranking on the raw quotient is
    therefore deterministic; suppkey breaks genuine ties.  Null-measure
    policy (hostile class C2): unit cost is defined over fully-observed
    lineitems — a row missing any of price/discount/quantity would
    otherwise bias the quotient or yield a NULL/NaN cost whose rank
    placement the engines disagree on."""
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 15)
    )
    cost = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice").isNotNull()
                & F.col("l_discount").isNotNull()
                & F.col("l_quantity").isNotNull())
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg((dsum(_revenue()) / F.sum("l_quantity")).alias("unit_cost"))
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    return (
        cost.join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .join(F.broadcast(eur), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
                "unit_cost")
    )


@query("q_analytics_dominant_supplier", oracle="""
WITH qty AS (
  SELECT l.l_partkey, l.l_suppkey, SUM(l.l_quantity) AS q,
         SUM(SUM(l.l_quantity)) OVER (PARTITION BY l.l_partkey) AS tot
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_type = 'PROMO'
    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
  GROUP BY l.l_partkey, l.l_suppkey
)
SELECT s.s_name, n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_parts_dominated
FROM qty
JOIN supplier s ON s.s_suppkey = qty.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE qty.q > 0.5 * qty.tot AND r.r_name = 'ASIA'
GROUP BY s.s_name, n.n_name
""")
def q_analytics_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20 shape: ASIA suppliers who shipped more than half of a
    PROMO part's total January-1996 volume (the testdata has no partsupp
    availqty, so "excess stock" becomes volume dominance — the same
    correlated supplier-share-vs-part-total comparison Q20 decorrelates).
    The fact side is pre-partitioned on
    partkey alone so the (part, supplier) aggregate AND the per-part
    window total both reuse that single exchange (partkey partitioning
    satisfies the clustered distribution of both operators) — one fact
    shuffle total, verified by plan invariant.  Quantities are integral doubles, so both the
    share and the strict > threshold are exact in both engines."""
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    qty = (
        li.join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .withColumn("tot",
                    F.sum("q").over(Window.partitionBy("l_partkey")))
        .filter(F.col("q") > 0.5 * F.col("tot"))
    )
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    return (
        qty.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_parts_dominated"))
    )


@query("q_audit_referential", oracle="""
SELECT
  CAST((SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
       AS BIGINT) AS orphan_lineitems,
  CAST((SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
       AS BIGINT) AS orphan_orders,
  CAST((SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey))
       AS BIGINT) AS dangling_part_refs,
  CAST((SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = l.l_suppkey))
       AS BIGINT) AS dangling_supplier_refs
""")
def q_audit_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the pre-training data-quality gate:
    counts of fact rows whose foreign keys resolve to nothing (orphan
    lineitems/orders, dangling part/supplier references).  Each probe is
    an ANTI join; the three dimension probes broadcast their key sets so
    the fact scans as few times as it must with zero fact shuffles — the
    orders probe is the one genuine large-large anti join (SMJ on
    orderkey).  All-zero on sound data; non-zero counts localize the
    broken ingest immediately."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    part = load(spark, sf_dir, "part")
    supp = load(spark, sf_dir, "supplier")
    a = li.join(orders, li.l_orderkey == orders.o_orderkey, "anti").agg(
        F.count(F.lit(1)).alias("orphan_lineitems"))
    b = orders.join(F.broadcast(cust),
                    orders.o_custkey == cust.c_custkey, "anti").agg(
        F.count(F.lit(1)).alias("orphan_orders"))
    c = li.join(F.broadcast(part),
                li.l_partkey == part.p_partkey, "anti").agg(
        F.count(F.lit(1)).alias("dangling_part_refs"))
    d = li.join(F.broadcast(supp),
                li.l_suppkey == supp.s_suppkey, "anti").agg(
        F.count(F.lit(1)).alias("dangling_supplier_refs"))
    return a.crossJoin(b).crossJoin(c).crossJoin(d)


@query("q_audit_expectations", oracle="""
WITH stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS null_custkey,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_orderkey,
         -- class K: a violation count is a COUNT — 0 on an empty batch,
         -- never NULL (SUM over zero rows), so every rule VACUOUSLY
         -- PASSES on empty input instead of emitting a NULL flag (whose
         -- boolean-NULL pandas rendering additionally differs per engine)
         CAST(COALESCE(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END),
                       0) AS BIGINT) AS bad_price,
         CAST(COALESCE(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS bad_status,
         CAST(COALESCE(SUM(CASE WHEN NOT regexp_matches(o_orderpriority,
                                                        '^[1-5]-')
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS bad_priority,
         CAST(COALESCE(SUM(CASE WHEN o_orderdate < TIMESTAMP '1900-01-01'
                         OR o_orderdate >= TIMESTAMP '2100-01-01'
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS bad_date
  FROM orders
)
SELECT 'not_null_custkey' AS rule, n AS n_checked,
       null_custkey AS n_violations, null_custkey = 0 AS passed FROM stats
UNION ALL SELECT 'unique_orderkey', n, dup_orderkey, dup_orderkey = 0
FROM stats
UNION ALL SELECT 'positive_totalprice', n, bad_price, bad_price = 0
FROM stats
UNION ALL SELECT 'status_in_set', n, bad_status, bad_status = 0 FROM stats
UNION ALL SELECT 'priority_pattern', n, bad_priority, bad_priority = 0
FROM stats
UNION ALL SELECT 'orderdate_bounds', n, bad_date, bad_date = 0 FROM stats
""")
def q_audit_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (the Deequ / Great-
    Expectations shape): evaluate a suite of column constraints —
    completeness, key uniqueness, value range, set membership, regex
    pattern, date sanity — and emit one report row per rule with its
    violation count and pass flag.  This is the gate a training-data
    pipeline runs on every ingest batch before the data is admitted.

    The whole suite is ONE scan + ONE single-row aggregate (every rule
    is an agg expression; uniqueness rides the same pass as a
    count-distinct), then a 6-way stack() of that one row into report
    form — versus the naive one-scan-per-rule form the oracle
    deliberately uses.  At 100 TB that is 1 fact pass for N rules, with
    map-side partials and a 1-row shuffle; adding a rule costs an
    expression, not a scan."""
    o = load(spark, sf_dir, "orders")
    stats = o.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("null_custkey"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .alias("dup_orderkey"),
        # class K: COALESCE to 0 — a violation count over an empty batch
        # is 0 (vacuous pass), mirroring the oracle's COALESCE(SUM, 0)
        F.coalesce(F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)),
                   F.lit(0)).alias("bad_price"),
        F.coalesce(F.sum(F.when(~F.col("o_orderstatus").isin("O", "F", "P"),
                                1).otherwise(0)),
                   F.lit(0)).alias("bad_status"),
        F.coalesce(F.sum(F.when(~F.col("o_orderpriority").rlike("^[1-5]-"),
                                1).otherwise(0)),
                   F.lit(0)).alias("bad_priority"),
        F.coalesce(F.sum(F.when(
            (F.col("o_orderdate") < F.lit("1900-01-01").cast("timestamp"))
            | (F.col("o_orderdate") >= F.lit("2100-01-01").cast("timestamp")),
            1).otherwise(0)), F.lit(0)).alias("bad_date"),
    )
    report = stats.select(
        "n",
        F.expr("""stack(6,
            'not_null_custkey', null_custkey,
            'unique_orderkey', dup_orderkey,
            'positive_totalprice', bad_price,
            'status_in_set', bad_status,
            'priority_pattern', bad_priority,
            'orderdate_bounds', bad_date) AS (rule, n_violations)"""),
    )
    return report.select(
        "rule", F.col("n").alias("n_checked"),
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    )


@query("q_analytics_yoy_growth", oracle=f"""
WITH yearly AS (
  SELECT n.n_name AS nation, year(o.o_orderdate) AS yr,
         {dsum_sql('o.o_totalprice')} AS revenue
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n   ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
)
SELECT nation, CAST(yr AS BIGINT) AS yr, revenue,
       lag(revenue) OVER w AS prev_revenue,
       revenue / lag(revenue) OVER w AS growth
FROM yearly
WINDOW w AS (PARTITION BY nation ORDER BY yr)
""")
def q_analytics_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per customer nation — the standard
    BI trend shape: dimension joins broadcast (the fact never shuffles
    for them), one groupBy on (nation, year) with the exact decimal sum,
    then a lag window over the TINY yearly rollup (|nations| × |years|
    rows — the window costs nothing regardless of fact size).  The growth
    ratio is emitted as the RAW quotient: both operands are decimal-sum-
    derived doubles, so the single IEEE division matches DuckDB bitwise
    (round() itself would be the only divergence risk — SKILL.md gotcha).
    The ORDER BY key (yr) is unique per nation, so lag is deterministic."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    yearly = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("long").alias("yr"))
        .agg(dsum(F.col("o_totalprice")).alias("revenue"))
    )
    w = Window.partitionBy("nation").orderBy("yr")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "nation", "yr", "revenue",
        prev.alias("prev_revenue"),
        (F.col("revenue") / prev).alias("growth"),
    )


@query("q_analytics_market_basket", oracle="""
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), n AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events
), s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY 1
), p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both, sa.n AS n_a, sb.n AS n_b,
       round(CAST(n_both AS DOUBLE) * n_users
             / (CAST(sa.n AS DOUBLE) * sb.n), 6) + 0.0 AS lift,
       round(CAST(n_both AS DOUBLE) / sa.n, 6) + 0.0 AS confidence_a_b
FROM p
JOIN s sa ON sa.event_type = p.type_a
JOIN s sb ON sb.event_type = p.type_b
CROSS JOIN n
""")
def q_analytics_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining over user behavior (market-basket on the event
    stream): for every pair of event types, co-occurrence support across
    users, LIFT (co-occurrence vs independence) and directed confidence
    P(b|a) — the "users who did X also did Y" primitive behind feature
    correlation and funnel-hypothesis discovery.

    Shape: one distinct pass builds the (user, type) incidence; the pair
    join is keyed on user_id, so each user contributes only pairs of ITS
    OWN types (bounded by the tiny type domain — never a corpus-wide
    cross join); per-type supports and the user total are scalar/broadcast
    side inputs.  All counts are integers; lift and confidence are
    single same-operand IEEE expressions — exact cross-engine.  At 100 TB
    the incidence distinct is the only event-proportional shuffle; pairs
    are O(users × types²) at worst, types being a small domain."""
    ev = load(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ev.agg(
        F.countDistinct("user_id").alias("n_users"))
    s = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a, b = ut.alias("a"), ut.alias("b")
    p = (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
               & (F.col("a.event_type") < F.col("b.event_type")))
        .groupBy(F.col("a.event_type").alias("type_a"),
                 F.col("b.event_type").alias("type_b"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = s.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = s.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        p.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a", "type_b", "n_both", "n_a", "n_b",
            (F.round(F.col("n_both").cast("double") * F.col("n_users")
                     / (F.col("n_a").cast("double") * F.col("n_b")), 6)
             + 0.0).alias("lift"),
            (F.round(F.col("n_both").cast("double") / F.col("n_a"), 6)
             + 0.0).alias("confidence_a_b"),
        )
    )


_SKY_BLOCKS = 32  # phase-1 partition count for local skylines


@query("q_analytics_skyline", oracle=f"""
WITH per_cust AS (
  SELECT o_custkey,
         {dsum_sql('o_totalprice')} AS spend,
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
), pts AS (
  SELECT spend, CAST(n_orders AS BIGINT) AS n_orders,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(MIN(o_custkey) AS BIGINT) AS first_custkey
  FROM per_cust GROUP BY spend, n_orders
), s AS (
  SELECT *, MAX(n_orders) OVER (
           ORDER BY spend DESC, n_orders DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
  FROM pts
)
SELECT spend, n_orders, n_customers, first_custkey
FROM s WHERE runmax IS NULL OR n_orders > runmax
""")
def q_analytics_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) query: customers not dominated on
    (total spend, order count) — both maximized; a point is dominated
    when another is ≥ on both dimensions and > on at least one.  The
    multi-criteria "best customers" primitive no single ORDER BY can
    answer.

    2-D skyline reduces to a SORT + RUNNING MAX: sweep points by spend
    descending; a point survives iff its n_orders strictly exceeds every
    earlier (higher-spend) point's — O(n log n), no pairwise NOT-EXISTS
    self-join (the naive form is O(n²)).  Exact duplicate points are
    pre-grouped (with multiplicity) so non-strict mutual domination
    can't knock one out.

    Scale shape: the sweep needs a global order, so it runs TWO-PHASE
    exactly like skyline(S) = skyline(∪ local skylines): phase 1 sweeps
    inside {_SKY_BLOCKS} hash blocks (partitioned window — the corpus
    never single-partition-sorts), phase 2 sweeps the surviving
    candidates only (frontier-sized: one point per distinct n_orders
    level at most).  Spend stays on the decimal path; comparisons on
    identical double bits order identically in both engines."""
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(dsum(F.col("o_totalprice")).alias("spend"),
             F.count(F.lit(1)).alias("n_orders"))
    )
    pts = per_cust.groupBy("spend", "n_orders").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("o_custkey").alias("first_custkey"),
    ).withColumn("blk", F.pmod(F.xxhash64("spend", "n_orders"),
                               F.lit(_SKY_BLOCKS)))

    def sweep(df: DataFrame, partition_cols: list) -> DataFrame:
        w = (
            Window.partitionBy(*partition_cols)
            .orderBy(F.col("spend").desc(), F.col("n_orders").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
            if partition_cols else
            Window.orderBy(F.col("spend").desc(), F.col("n_orders").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            df.withColumn("runmax", F.max("n_orders").over(w))
            .filter(F.col("runmax").isNull()
                    | (F.col("n_orders") > F.col("runmax")))
            .drop("runmax")
        )

    candidates = sweep(pts, ["blk"])          # phase 1: local skylines
    return sweep(candidates, []).select(      # phase 2: frontier-sized
        "spend", "n_orders", "n_customers", "first_custkey"
    )


@query("q_analytics_revenue_gini", oracle=f"""
WITH rev AS (
  SELECT n.n_name AS nation, c.c_custkey,
         {dsum_sql('o.o_totalprice')} AS rev
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n   ON n.n_nationkey = c.c_nationkey
  WHERE o.o_totalprice IS NOT NULL
  GROUP BY 1, 2
), ranked AS (
  SELECT nation, rev,
         row_number() OVER (PARTITION BY nation
                            ORDER BY rev, c_custkey) AS i
  FROM rev
), per_nation AS (
  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(CAST(rev AS DECIMAL(27,2))) AS DOUBLE) AS total_revenue,
         CAST(SUM(CAST(i * rev AS DECIMAL(27,2))) AS DOUBLE) AS weighted
  FROM ranked GROUP BY 1
)
SELECT nation, n_customers, total_revenue,
       2.0 * weighted / (n_customers * total_revenue)
         - (n_customers + 1.0) / n_customers AS gini
FROM per_nation
""")
def q_analytics_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per customer nation as a Gini coefficient —
    the inequality audit a marketplace/data-mixture pipeline runs to see
    whether a segment's volume is spread or captured by a few accounts
    (for corpora: whether a source's token mass concentrates in few
    documents).  Gini via the sorted-rank identity
    G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending-ranked revenues.

    Shape: dimension joins broadcast, one fact shuffle into the
    (nation, customer) rollup, then rank windows over the CUSTOMER-sized
    rollup partitioned by nation — never over raw orders.  At extreme
    per-key cardinality the rank step generalizes to a two-phase
    range-partitioned ranking; the per-block window is the right default.

    Determinism: revenues are decimal-path sums (exact doubles both
    engines); ranks tiebreak on c_custkey; i·rev products are IEEE-exact
    identical bits re-summed through the decimal path; the final Gini is
    a fixed-shape expression over identical operands — emitted raw, no
    round() (SKILL.md boundary-value gotcha).  Null-measure policy
    (hostile class C2, found only by the COMBINED fixture: 3% null
    prices x key skew leaves customers whose every order is unpriced,
    and their NULL revenue rides the engines' opposite null sort orders
    into every rank): concentration is over observed revenue only."""
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull())
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "c_custkey")
        .agg(dsum(F.col("o_totalprice")).alias("rev"))
    )
    w = Window.partitionBy("nation").orderBy("rev", "c_custkey")
    ranked = rev.withColumn("i", F.row_number().over(w))
    from ..core.numeric import DEC

    # Nation-level sums carry TWO decimal places, not six: Σ i·rev at
    # sf0.1 is ~6e11, and an exact 6-dp decimal of that magnitude needs
    # ~59 mantissa bits — past 2^53 the final decimal→double cast must
    # round, and Spark and DuckDB were measured rounding it differently
    # by one ulp (sf0.1 sweep, round 6).  At 2 dp the scaled integers
    # stay ≈6e13 < 2^53, so the cast is exact again in both engines.
    # Per-product 2-dp rounding CAN hit exact ties — odd multiples of
    # 0.005 that are also multiples of 0.125 (0.125, 1.875, ...) are
    # exactly representable doubles — but parity holds because both
    # engines break double→decimal(…,2) ties half-AWAY-FROM-ZERO (Spark
    # HALF_UP, DuckDB likewise); a switch to a round-half-even path on
    # either side is the actual hazard (round-6 advice corrected the
    # earlier "ties impossible" claim).  The rounding shifts Gini by
    # O(n·0.005/Σ) ≈ 1e-12 — nothing.
    DEC2 = "decimal(27,2)"
    per_nation = ranked.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("rev").cast(DEC2)).cast("double").alias("total_revenue"),
        F.sum((F.col("i") * F.col("rev")).cast(DEC2)).cast("double")
        .alias("weighted"),
    )
    return per_nation.select(
        "nation", "n_customers", "total_revenue",
        (F.lit(2.0) * F.col("weighted")
         / (F.col("n_customers") * F.col("total_revenue"))
         - (F.col("n_customers") + F.lit(1.0)) / F.col("n_customers"))
        .alias("gini"),
    )


# Shared by the batch audit below AND the streaming incremental variant
# (streaming/queries.q_stream_fingerprint): the streaming merge==recompute
# parity proof depends on the two oracles being byte-identical, exactly as
# the Spark sides share event_row_fingerprint (round-6 review hoisted it).
EVENT_FINGERPRINT_ORACLE_SQL = """
WITH rows_h AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(
             string_split_regex(substr(md5(
               CAST(event_id AS VARCHAR) || '|' ||
               COALESCE(CAST(epoch_us(ts) AS VARCHAR), '\\N') || '|' ||
               COALESCE(CAST(user_id AS VARCHAR), '\\N') || '|' ||
               COALESCE(event_type, '\\N')), 1, 15), ''),
             c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
           (a, b) -> a * 16 + b) AS rh
  FROM events
)
SELECT day, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST(rh AS DECIMAL(38,0))) AS DECIMAL(38,0))
            AS VARCHAR) AS fingerprint
FROM rows_h GROUP BY day
"""


@query("q_audit_dataset_fingerprint", oracle=EVENT_FINGERPRINT_ORACLE_SQL)
def q_audit_dataset_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent dataset content fingerprint per day partition —
    the reproducibility primitive behind snapshot audits: two pipelines
    (or two runs, or pre-/post-migration copies) produced the same
    partition iff the fingerprints match, with NO canonical ordering
    required of either side.

    Each row hashes to md5 over a '|'-joined canonical tuple (ids,
    microsecond epoch — the cross-engine-exact timestamp form — and the
    string key; float columns would join via their decimal-quantized
    form); the top 60 bits fold to a BIGINT and the partition fingerprint
    is their exact DECIMAL(38,0) SUM — associative and commutative, so
    map-side partials and any shuffle order give the same value, and two
    fingerprints are mergeable by addition (file → partition → table
    rollups for free).  One scan, one groupBy(day) whose shuffle carries
    one decimal per partition.  Emitted as a string (decimal-dtype
    gotcha).  md5 prefix folding matches DuckDB's character fold exactly
    (validated: conv(substr(md5,1,15),16,10) == the list_reduce fold)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                  event_row_fingerprint().alias("rh"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum(F.col("rh").cast("decimal(38,0)")).cast("decimal(38,0)")
             .cast("string").alias("fingerprint"))
    )


def event_row_fingerprint():
    """60-bit row-content hash of an events row (md5 of the canonical
    '|'-joined tuple, top 15 hex chars folded to BIGINT) — the summand of
    the order-independent dataset fingerprint.  Shared by the batch audit
    (q_audit_dataset_fingerprint) and the streaming incremental variant
    (streaming/queries.q_stream_fingerprint) so both provably sum the
    same per-row values."""
    # class G: NULLs are CONTENT for a fingerprint — concat_ws would
    # silently DROP a null field (changing the canonical arity), and the
    # oracle's || would null the whole hash input; both sides render
    # missing fields as the explicit \\N sentinel instead.
    # class I: ts is CONTENT here too — an unstamped row still has an
    # identity to fingerprint; concat_ws would silently DROP the null
    # micros field (arity change) while the oracle's || nulls the whole
    # hash input, so both sides render the \N sentinel.
    canon = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.coalesce(F.unix_micros("ts").cast("string"), F.lit("\\N")),
        F.coalesce(F.col("user_id").cast("string"), F.lit("\\N")),
        F.coalesce(F.col("event_type"), F.lit("\\N")),
    )
    return F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# ABC / Pareto classification — inventory analytics: rank parts by revenue
# within their brand and bucket them A (first 70% of brand revenue),
# B (next 20%), C (tail 10%) by CUMULATIVE share.
# ---------------------------------------------------------------------------

@query("q_analytics_abc", oracle="""
WITH rev AS (
  SELECT p.p_brand, l.l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(27,4))) AS r
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE abs(l.l_extendedprice) < 1e21
  GROUP BY p.p_brand, l.l_partkey
), cum AS (
  SELECT p_brand, l_partkey, r,
         SUM(r) OVER (PARTITION BY p_brand
                      ORDER BY r DESC, l_partkey) AS c,
         SUM(r) OVER (PARTITION BY p_brand) AS t,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY r DESC, l_partkey) AS brand_rank
  FROM rev
)
SELECT p_brand, l_partkey, CAST(r AS DOUBLE) AS revenue,
       CAST(brand_rank AS BIGINT) AS brand_rank,
       CASE WHEN 10 * c <= 7 * t THEN 'A'
            WHEN 10 * c <= 9 * t THEN 'B'
            ELSE 'C' END AS abc_class
FROM cum
""")
def q_analytics_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand ABC classification.  Brand-partitioned (not global) by
    design: a global Pareto needs a total-order cumulative — a single
    partition over every part — while per-brand windows scale with the
    catalog (each brand's slice is independent; the part dim broadcasts
    and the fact shuffles once into the (brand, part) rollup, whose
    partitioning the windows reuse).  Determinism: disc_price is 2dp×2dp
    = exactly 4 decimal digits, so every decimal cast and the running
    window SUM are exact in both engines (DuckDB's segment-tree order is
    irrelevant for decimals); the A/B/C thresholds compare
    integer-scaled decimals (10·cum ≤ 7·total) — no division, no float;
    revenue re-emits as a double exactly (scale-4 value ≪ 2^53).
    Class-L: revenue is over observed in-domain money (one NaN/Inf line
    crashes the decimal cast on both engines otherwise)."""
    li = load(spark, sf_dir, "lineitem").filter(
        in_measure_domain(F.col("l_extendedprice")))
    part = load(spark, sf_dir, "part")
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    rev = (
        li.join(F.broadcast(part),
                li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum(disc.cast("decimal(27,4)")).alias("r"))
    )
    w_cum = Window.partitionBy("p_brand").orderBy(
        F.col("r").desc(), "l_partkey")
    w_all = Window.partitionBy("p_brand")
    cum = rev.select(
        "p_brand", "l_partkey", "r",
        F.sum("r").over(w_cum).alias("c"),
        F.sum("r").over(w_all).alias("t"),
        F.row_number().over(w_cum).alias("brand_rank"),
    )
    return cum.select(
        "p_brand", "l_partkey",
        F.col("r").cast("double").alias("revenue"),
        F.col("brand_rank").cast("long").alias("brand_rank"),
        F.when(F.lit(10) * F.col("c") <= F.lit(7) * F.col("t"), "A")
        .when(F.lit(10) * F.col("c") <= F.lit(9) * F.col("t"), "B")
        .otherwise("C").alias("abc_class"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit — the classic fabricated-data / broken-generator
# detector: natural multiplicative amounts follow P(d) = log10(1 + 1/d);
# uniform or hand-entered data does not.  Run per order priority so a single
# corrupted ingestion stream stands out against its peers.
# ---------------------------------------------------------------------------

@query("q_audit_benford", oracle="""
WITH digits AS (
  SELECT o_orderpriority,
         CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS BIGINT) AS d
  -- class L: the digit source must FIT BIGINT after floor (< 1e18);
  -- NaN/Inf fail both bounds identically (NaN orders greatest)
  FROM orders WHERE o_totalprice >= 1.0 AND o_totalprice < 1e18
), counts AS (
  SELECT o_orderpriority, d, COUNT(*) AS n
  FROM digits GROUP BY o_orderpriority, d
), tot AS (
  SELECT o_orderpriority, d, n,
         SUM(n) OVER (PARTITION BY o_orderpriority) AS grp_n
  FROM counts
)
SELECT o_orderpriority, d, CAST(n AS BIGINT) AS n,
       CAST(n AS DOUBLE) / grp_n AS observed_p,
       log10(1.0 + 1.0 / d) AS benford_p,
       CAST(n AS DOUBLE) / grp_n - log10(1.0 + 1.0 / d) AS deviation
FROM tot
""")
def q_audit_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution vs Benford's law per order priority.  The
    digit is taken from the INTEGER part (floor → string head) so both
    engines extract it from exact integers, never from float formatting;
    counts are exact, and the observed/expected/deviation columns are
    single fixed IEEE expressions over those identical integers (raw
    emit, round-divergence rule).  Plan: one scan, one partial-agg
    shuffle on the 45-cell (priority, digit) key, then a tiny window —
    audit cost is one aggregation pass no matter the table size."""
    orders = load(spark, sf_dir, "orders")
    d = (F.substring(F.floor("o_totalprice").cast("long").cast("string"),
                     1, 1).cast("long"))
    counts = (
        orders.filter((F.col("o_totalprice") >= 1.0)
                      & (F.col("o_totalprice") < F.lit(1e18)))
        .select("o_orderpriority", d.alias("d"))
        .groupBy("o_orderpriority", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grp = Window.partitionBy("o_orderpriority")
    obs = F.col("n").cast("double") / F.sum("n").over(grp)
    benford = F.log10(1.0 + 1.0 / F.col("d"))
    return counts.select(
        "o_orderpriority", "d", F.col("n").cast("long").alias("n"),
        obs.alias("observed_p"),
        benford.alias("benford_p"),
        (obs - benford).alias("deviation"),
    )


@query("q_analytics_rfm", oracle=f"""
WITH cust AS (
  SELECT o_custkey,
         CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                        DATE '1998-12-31') AS BIGINT) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         {dsum_sql('o_totalprice')} AS monetary
  FROM orders GROUP BY 1
), scored AS (
  SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment,
         recency_days, frequency, monetary,
         CAST(ntile(5) OVER (PARTITION BY c.c_mktsegment
              ORDER BY recency_days ASC, c.c_custkey) AS BIGINT) AS r_score,
         CAST(ntile(5) OVER (PARTITION BY c.c_mktsegment
              ORDER BY frequency DESC, c.c_custkey) AS BIGINT) AS f_score,
         CAST(ntile(5) OVER (PARTITION BY c.c_mktsegment
              ORDER BY monetary DESC, c.c_custkey) AS BIGINT) AS m_score
  FROM cust JOIN customer c ON c.c_custkey = cust.o_custkey
)
SELECT *, r_score * 100 + f_score * 10 + m_score AS rfm_cell
FROM scored
""")
def q_analytics_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the canonical marketing rollup
    (recency / frequency / monetary quintiles).  Recency anchors on a
    FIXED date (no global max → no SinglePartition); quintiles are
    ntile(5) windows PARTITIONED BY market segment, so the ranking
    shuffle is segment-parallel rather than a global total order — the
    scale-sound choice (a global ntile is a single-partition sort; the
    per-segment variant is also the more useful score).  Determinism:
    every ntile ORDER BY ends in the unique custkey; monetary is the
    exact decimal sum, so its sort key is bit-identical across engines.
    Plan: one fact shuffle on o_custkey for the per-customer rollup,
    broadcast customer dim, then all three windows + the cell arithmetic
    ride ONE customer-rollup-sized exchange on segment."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    anchor = F.lit("1998-12-31").cast("date")
    rolled = (
        orders.groupBy("o_custkey")
        .agg(
            F.datediff(anchor, F.max("o_orderdate").cast("date"))
            .cast("long").alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            dsum(F.col("o_totalprice")).alias("monetary"),
        )
    )
    j = rolled.join(F.broadcast(cust),
                    rolled.o_custkey == cust.c_custkey)
    seg = Window.partitionBy("c_mktsegment")
    wr = seg.orderBy(F.col("recency_days").asc(), F.col("c_custkey"))
    wf = seg.orderBy(F.col("frequency").desc(), F.col("c_custkey"))
    wm = seg.orderBy(F.col("monetary").desc(), F.col("c_custkey"))
    scored = j.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        "recency_days", "frequency", "monetary",
        F.ntile(5).over(wr).cast("long").alias("r_score"),
        F.ntile(5).over(wf).cast("long").alias("f_score"),
        F.ntile(5).over(wm).cast("long").alias("m_score"),
    )
    return scored.withColumn(
        "rfm_cell",
        F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))


@query("q_analytics_hhi", oracle="""
WITH rev AS (
  SELECT p.p_brand, l.l_suppkey,
         CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                       AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS r
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE abs(l.l_extendedprice) < 1e21
  GROUP BY 1, 2
)
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(CAST(SUM(r) AS DECIMAL(19,4)) AS DOUBLE) AS revenue,
       round(CAST(SUM(CAST(r AS DECIMAL(19,4)) * CAST(r AS DECIMAL(19,4)))
                  AS DOUBLE)
             / CAST(CAST(SUM(r) AS DECIMAL(19,4))
                    * CAST(SUM(r) AS DECIMAL(19,4)) AS DOUBLE), 9)
         + 0.0 AS hhi,
       round(CAST(MAX(r) AS DOUBLE)
             / CAST(CAST(SUM(r) AS DECIMAL(19,4)) AS DOUBLE), 9)
         + 0.0 AS top_share
FROM rev
GROUP BY 1
""")
def q_analytics_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman supply-concentration index per brand — the
    antitrust-style concentration metric (Σ market-share², here computed
    as Σr² / (Σr)² so no per-supplier division ever happens).  Numeric
    path: per-row revenue carries ≤4 decimals → DECIMAL(18,4) casts are
    EXACT (numeric.py invariant); squares are widened to 19,4 operands on
    the DuckDB side (int128 path — width-18 multiply overflows int64) and
    stay inside (38,8) in both engines, so every AGGREGATE is exact — but
    the wide-decimal→double CASTS of Σr² and (Σr)² are engine-divergent
    in the last ulp (measured: DuckDB's int128 path double-rounds), so
    the two emitted ratios are rounded to 9 dp (+0.0) on both sides.
    Plan: one lineitem scan, broadcast part dim, partial agg
    into the (brand, supplier) shuffle, then the brand rollup — the
    second shuffle moves only |brands|×|suppliers| rows regardless of
    fact size.  Class-L: observed in-domain money only (the abc policy)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount").filter(
        in_measure_domain(F.col("l_extendedprice")))
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    d18 = "decimal(18,4)"
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum((F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))).cast(d18))
             .cast(d18).alias("r"))
    )
    tot = F.sum("r").cast(d18)  # values fit; keeps the square inside (37,8)
    return rev.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        tot.cast("double").alias("revenue"),
        (F.round(F.sum(F.col("r") * F.col("r")).cast("double")
                 / (tot * tot).cast("double"), 9) + 0.0).alias("hhi"),
        (F.round(F.max("r").cast("double") / tot.cast("double"), 9)
         + 0.0).alias("top_share"),
    )


# ---------------------------------------------------------------------------
# Neighbor-set Jaccard over the supplier–part bipartite graph: which
# suppliers stock near-identical part portfolios?  The set-similarity-join
# shape (pair generation ONLY through shared neighbors + a hub cap) is the
# same discipline the LSH dedup family applies to documents, here on graph
# adjacency instead of shingles.
# ---------------------------------------------------------------------------

OVERLAP_HUB_CAP = 50  # parts stocked by more suppliers than this are hubs


@query("q_analytics_supplier_overlap", oracle=f"""
WITH edges0 AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
), parts_ok AS (
  SELECT p FROM edges0 GROUP BY p HAVING COUNT(*) <= {OVERLAP_HUB_CAP}
), edges AS (
  SELECT e.s, e.p FROM edges0 e JOIN parts_ok USING (p)
), deg AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM edges GROUP BY 1
), pairs AS (
  SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
  FROM edges a JOIN edges b ON a.p = b.p AND a.s < b.s
  GROUP BY 1, 2
)
SELECT s1, s2, shared, da.n AS n1, db.n AS n2,
       CAST(shared AS DOUBLE) / (da.n + db.n - shared) AS jaccard
FROM pairs
JOIN deg da ON da.s = pairs.s1
JOIN deg db ON db.s = pairs.s2
""")
def q_analytics_supplier_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard similarity of supplier part-portfolios.

    Scale shape: candidate pairs are generated ONLY through shared parts
    (an equi-join on partkey — never a supplier×supplier cross join), and
    a hub cap excludes parts stocked by > OVERLAP_HUB_CAP suppliers BEFORE pair
    expansion — the standard quadratic-blowup guard in set-similarity
    joins (a part with k suppliers contributes k² pair rows; hubs are
    where co-occurrence joins die at scale).  The cap is applied to the
    edge set itself, so degrees and intersections describe the same
    (non-hub) universe and the Jaccard stays a true set similarity.
    Numerics: counts are exact integers; the similarity is ONE IEEE
    division on identical operands — raw emit, no rounding needed.
    Plan: distinct on (s, p) is the only fact-sized shuffle; the hub
    filter and self-join reuse the partkey partitioning; degree tables
    are supplier-sized and broadcast into the pair rollup."""
    li = (load(spark, sf_dir, "lineitem")
          .select(F.col("l_suppkey").alias("s"),
                  F.col("l_partkey").alias("p"))
          .distinct())
    parts_ok = (li.groupBy("p").agg(F.count(F.lit(1)).alias("ns"))
                .filter(F.col("ns") <= OVERLAP_HUB_CAP).select("p"))
    edges = li.join(parts_ok, "p")
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("n"))
    a = edges.select(F.col("p").alias("pa"), F.col("s").alias("s1"))
    b = edges.select(F.col("p").alias("pb"), F.col("s").alias("s2"))
    pairs = (
        a.join(b, (F.col("pa") == F.col("pb")) & (F.col("s1") < F.col("s2")))
        .groupBy("s1", "s2").agg(F.count(F.lit(1)).alias("shared"))
    )
    da = deg.select(F.col("s").alias("sa"), F.col("n").alias("n1"))
    db = deg.select(F.col("s").alias("sb"), F.col("n").alias("n2"))
    return (
        pairs.join(F.broadcast(da), F.col("s1") == F.col("sa"))
        .join(F.broadcast(db), F.col("s2") == F.col("sb"))
        .select(
            "s1", "s2", "shared", "n1", "n2",
            (F.col("shared").cast("double")
             / (F.col("n1") + F.col("n2") - F.col("shared")))
            .alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Wilson score interval for daily view→purchase conversion — the interval
# the A/B dashboard should draw instead of the Wald ±z√(pq/n) (which
# collapses at small n / extreme p).  Welch-t (q_agg_ab_ttest) compares
# means; this bounds a RATE.
# ---------------------------------------------------------------------------

WILSON_Z = 1.959963984540054  # 97.5th normal quantile (95% two-sided)


@query("q_analytics_wilson_ci", oracle=f"""
WITH per_user AS (
  SELECT date_trunc('day', ts) AS day, user_id,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS hp
  FROM events GROUP BY 1, 2
), agg AS (
  SELECT day, CAST(SUM(hv) AS BIGINT) AS n,
         CAST(SUM(hv * hp) AS BIGINT) AS s
  FROM per_user GROUP BY 1 HAVING SUM(hv) > 0
), w AS (
  SELECT day, n, s,
         CAST(s AS DOUBLE) / n AS p,
         CAST({WILSON_Z} AS DOUBLE) AS z
  FROM agg
)
SELECT strftime(day, '%Y-%m-%d') AS day, n, s, p AS p_hat,
       (p + z * z / (2 * n)) / (1 + z * z / n)
         - (z * sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
           / (1 + z * z / n) AS ci_low,
       (p + z * z / (2 * n)) / (1 + z * z / n)
         + (z * sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
           / (1 + z * z / n) AS ci_high
FROM w
""")
def q_analytics_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily view→purchase user-conversion rate with its 95% Wilson
    score interval.

    Determinism: trials and successes are exact integers from ONE
    (day, user) flag rollup (a user converts iff they viewed AND
    purchased that day); p̂ is a single division; z enters as the SAME
    shortest-repr double on both sides (F.lit ↔ CAST(... AS DOUBLE) —
    the DuckDB fixed-point-literal gotcha), and the interval is the SAME
    fixed IEEE expression tree in both engines over those identical
    bits — raw emit per the round-divergence rule (exactness is needed
    only of the aggregates; the scalar math just has to be the same op
    sequence).  Plan: one scan, (day, user) partial-agg shuffle, then
    the day rollup — the 100 TB cost is the distinct-user pass any
    funnel metric already pays; the interval math is free."""
    ev = load(spark, sf_dir, "events")
    per_user = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"), "user_id")
        .agg(F.max(F.when(F.col("event_type") == "view", 1)
                   .otherwise(0)).alias("hv"),
             F.max(F.when(F.col("event_type") == "purchase", 1)
                   .otherwise(0)).alias("hp"))
    )
    agg = (per_user.groupBy("day")
           .agg(F.sum("hv").alias("n"),
                F.sum(F.col("hv") * F.col("hp")).alias("s"))
           .filter(F.col("n") > 0))
    n, s = F.col("n"), F.col("s")
    p = s.cast("double") / n
    z = F.lit(WILSON_Z)
    center = (p + z * z / (2 * n)) / (1 + z * z / n)
    half = (z * F.sqrt(p * (1 - p) / n + z * z / (4 * n * n))) \
        / (1 + z * z / n)
    return agg.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        n.cast("long").alias("n"), s.cast("long").alias("s"),
        p.alias("p_hat"),
        (center - half).alias("ci_low"),
        (center + half).alias("ci_high"),
    )


# ---------------------------------------------------------------------------
# Decile gains / lift table — the model-evaluation report: rank users by a
# score (here: view count, the engagement predictor), cut into deciles, and
# ask how concentrated the responders (purchasers) are in the top cuts.
# Scale twist: a naive ntile(10) over users is a SINGLE-PARTITION window
# over the whole user dimension.  This implementation never ranks users
# individually: users collapse into SCORE GROUPS (one row per distinct
# score), the decile of a group follows from the exact cumulative user
# count BEFORE it (ties land together, as gains tables define), and only
# the |distinct scores|-sized table ever sees a global window — bounded by
# the score domain, not the user count.
# ---------------------------------------------------------------------------


@query("q_analytics_decile_lift", oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
           AS score,
         CASE WHEN COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
              THEN 1 ELSE 0 END AS responder
  FROM events GROUP BY 1
), grp AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS users,
         CAST(SUM(responder) AS BIGINT) AS resp
  FROM per_user GROUP BY 1
), tot AS (
  SELECT CAST(SUM(users) AS BIGINT) AS nu,
         CAST(SUM(resp) AS BIGINT) AS nr FROM grp
), cut AS (
  SELECT score, users, resp,
         COALESCE(CAST(SUM(users) OVER (ORDER BY score DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS BIGINT), 0) AS before_n
  FROM grp
), dec AS (
  SELECT CAST(1 + (10 * c.before_n) // t.nu AS BIGINT) AS decile,
         c.users, c.resp
  FROM cut c, tot t
), rolled AS (
  SELECT decile, CAST(SUM(users) AS BIGINT) AS users,
         CAST(SUM(resp) AS BIGINT) AS resp
  FROM dec GROUP BY 1
)
SELECT r.decile, r.users, r.resp,
       CAST(r.resp AS DOUBLE) / r.users AS resp_rate,
       CAST(SUM(r.resp) OVER w AS BIGINT) AS cum_resp,
       CAST(SUM(r.users) OVER w AS BIGINT) AS cum_users,
       (CAST(SUM(r.resp) OVER w AS DOUBLE) / SUM(r.users) OVER w)
         / (CAST(t.nr AS DOUBLE) / t.nu) AS cum_lift
FROM rolled r, tot t
WINDOW w AS (ORDER BY r.decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")
def q_analytics_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains/lift by score decile (score = view count,
    response = any purchase).

    Determinism: every count is an exact integer; tie groups share a
    decile by construction (decile = 1 + ⌊10·cum_before/N⌋, mirrored as
    `//` + BIGINT cast vs `/` + long cast — both truncate nonnegatives);
    rates and lift are fixed IEEE chains on identical integer bits —
    raw emit.  Plan: one fact shuffle into the user rollup, a second
    into the score-group rollup; the only global windows run over the
    |distinct scores| and 10-row tables (bounded by the score domain —
    the SinglePartition exception the cross_corr precedent documents);
    users are never individually ranked."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("score"),
        F.when(F.count(F.when(F.col("event_type") == "purchase", 1)) > 0, 1)
        .otherwise(0).alias("responder"),
    )
    grp = per_user.groupBy("score").agg(
        F.count(F.lit(1)).alias("users"),
        F.sum("responder").alias("resp"))
    tot = grp.agg(F.sum("users").alias("nu"), F.sum("resp").alias("nr"))
    w_before = (Window.orderBy(F.col("score").desc())
                .rowsBetween(Window.unboundedPreceding, -1))
    cut = grp.select(
        "score", "users", "resp",
        F.coalesce(F.sum("users").over(w_before), F.lit(0))
        .alias("before_n"))
    dec = (cut.crossJoin(F.broadcast(tot))
           .select((1 + (10 * F.col("before_n")) / F.col("nu"))
                   .cast("long").alias("decile"), "users", "resp"))
    rolled = dec.groupBy("decile").agg(
        F.sum("users").alias("users"), F.sum("resp").alias("resp"))
    w_cum = (Window.orderBy("decile")
             .rowsBetween(Window.unboundedPreceding, 0))
    cum_r = F.sum("resp").over(w_cum)
    cum_u = F.sum("users").over(w_cum)
    return rolled.crossJoin(F.broadcast(tot)).select(
        "decile",
        F.col("users").cast("long").alias("users"),
        F.col("resp").cast("long").alias("resp"),
        (F.col("resp").cast("double") / F.col("users")).alias("resp_rate"),
        cum_r.cast("long").alias("cum_resp"),
        cum_u.cast("long").alias("cum_users"),
        ((cum_r.cast("double") / cum_u)
         / (F.col("nr").cast("double") / F.col("nu"))).alias("cum_lift"),
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U (Wilcoxon rank-sum) — do URGENT orders carry a different
# totalprice distribution than LOW ones?  The nonparametric two-sample test
# a dashboard should run when money distributions are skewed (Welch-t in
# q_agg_ab_ttest assumes near-normal means; U compares RANKS and is the
# standard robust alternative).  Includes the tie-corrected normal
# approximation and the rank-biserial effect size.
# ---------------------------------------------------------------------------


@query("q_analytics_mann_whitney", oracle="""
WITH f AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    AND abs(o_totalprice) < 1e16
), by_v AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS t, CAST(SUM(g1) AS BIGINT) AS a
  FROM f GROUP BY 1
), r AS (
  SELECT v, t, a,
         COALESCE(CAST(SUM(t) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS BIGINT), 0) AS cb
  FROM by_v
), agg AS (
  SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(t) AS BIGINT) AS n,
         CAST(SUM(a * (2 * cb + t + 1)) AS BIGINT) AS two_r1,
         CAST(SUM(t * t * t - t) AS BIGINT) AS ties
  FROM r
), named AS (
  SELECT n1, n - n1 AS n2, n, two_r1 - n1 * (n1 + 1) AS two_u1, ties
  FROM agg
)
SELECT n1, n2,
       CAST(two_u1 AS DOUBLE) / 2 AS u1,
       (CAST(two_u1 AS DOUBLE) / 2 - CAST(n1 * n2 AS DOUBLE) / 2)
       / sqrt((CAST(n1 AS DOUBLE) * n2 / 12)
              * ((n + 1) - CAST(ties AS DOUBLE)
                           / (CAST(n AS DOUBLE) * (n - 1)))) AS z,
       1 - CAST(two_u1 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)
         AS rank_biserial
FROM named
""")
def q_analytics_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U on o_totalprice, '1-URGENT' vs '5-LOW' priority.

    Determinism: prices enter as EXACT integer cents (2-dp money through
    the exact decimal(18,2) cast — never a float×100 round), so ranks
    live entirely in the integer domain: with average ranks for ties,
    2×(rank sum) = Σ a_v·(2·cum_before + t_v + 1) is an exact integer,
    as are the tie-correction Σ(t³−t) and 2×U.  Every float enters only
    in the FINAL fixed expression (u1, tie-corrected z, rank-biserial),
    written with identical association in both engines over identical
    integer bits — raw emit, no rounding needed.  Plan: one fact scan
    into the per-cents rollup; the ORDER BY v window runs over DISTINCT
    cents values — bounded by the price domain, not the order count (the
    decile-lift score-group pattern) — and the final 1-row aggregate
    folds integers only.  At any corpus size the data-sized cost is the
    single groupBy shuffle.  Null-measure policy (hostile class C2):
    the test is over observed prices — a NULL-cents group would ride
    the engines' opposite null sort orders into every cumulative rank
    (the equidepth-histogram/KS-test mechanism); class L tightens it to
    the cents domain (abs < 1e16, the DECIMAL(18,2) representation
    bound — a NaN/Inf price crashes the cents cast on both engines)."""
    od = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
        & (F.abs(F.col("o_totalprice")) < F.lit(1e16)))
    f = od.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        .alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        .alias("g1"),
    )
    by_v = f.groupBy("v").agg(
        F.count(F.lit(1)).alias("t"),
        F.sum("g1").cast("long").alias("a"),
    )
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, -1))
    r = by_v.select(
        "v", "t", "a",
        F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long").alias("cb"),
    )
    agg = r.agg(
        F.sum("a").cast("long").alias("n1"),
        F.sum("t").cast("long").alias("n"),
        F.sum(F.col("a") * (2 * F.col("cb") + F.col("t") + 1))
        .cast("long").alias("two_r1"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long").alias("ties"),
    )
    named = agg.select(
        "n1", (F.col("n") - F.col("n1")).alias("n2"), "n",
        (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1))
        .alias("two_u1"), "ties")
    n1, n2, n = F.col("n1"), F.col("n2"), F.col("n")
    two_u1, ties = F.col("two_u1"), F.col("ties")
    u1 = two_u1.cast("double") / 2
    mu = (n1 * n2).cast("double") / 2
    var = ((n1.cast("double") * n2 / 12)
           * ((n + 1) - ties.cast("double") / (n.cast("double") * (n - 1))))
    return named.select(
        "n1", "n2", u1.alias("u1"),
        ((u1 - mu) / F.sqrt(var)).alias("z"),
        (F.lit(1) - two_u1.cast("double") / (n1 * n2).cast("double"))
        .alias("rank_biserial"),
    )


# ---------------------------------------------------------------------------
# Kolmogorov–Smirnov two-sample test — are 'view' and 'click' event values
# drawn from the same distribution?  The distribution-drift primitive: the
# same D statistic run between yesterday's and today's feature values is
# the standard production drift monitor, and the integer cross-multiplied
# formulation here is exactly how it stays exact at any scale.
# ---------------------------------------------------------------------------


@query("q_analytics_ks_test", oracle="""
WITH f AS (
  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS g1
  -- observed-values policy (class C), tightened to the cents domain by
  -- class L: a NULL cents group would sit at opposite ends of the two
  -- engines' null orders, and a NaN/Inf value crashes the cents cast
  FROM events WHERE event_type IN ('view', 'click') AND abs(value) < 1e16
), by_v AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS t, CAST(SUM(g1) AS BIGINT) AS a
  FROM f GROUP BY 1
), cum AS (
  SELECT v,
         CAST(SUM(a) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS c1,
         CAST(SUM(t - a) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS c2,
         CAST(SUM(a) OVER () AS BIGINT) AS n1,
         CAST(SUM(t - a) OVER () AS BIGINT) AS n2
  FROM by_v
), diffs AS (
  SELECT v, n1, n2, abs(n2 * c1 - n1 * c2) AS num FROM cum
), best AS (
  SELECT MAX(n1) AS n1, MAX(n2) AS n2, MAX(num) AS maxnum,
         MIN(CASE WHEN num = (SELECT MAX(num) FROM diffs) THEN v END)
           AS at_cents
  FROM diffs
)
SELECT n1, n2,
       CAST(maxnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2) AS ks_d,
       at_cents,
       CAST(maxnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)
         * sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)) AS ks_z
FROM best
""")
def q_analytics_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS distance between 'view' and 'click' value
    distributions, with the tie-safe argmax location.

    Determinism: values enter as exact integer cents (decimal(18,2)
    cast); both empirical CDFs are INTEGER cumulative counts over the
    distinct-cents order, and the statistic is maximized on the exact
    integer cross-product |n2·c1 − n1·c2| — D itself becomes one double
    division at the very end (identical bits, raw emit), and the argmax
    location ties break to the SMALLEST cents value (MIN over the argmax
    set), never an arbitrary max_by.  Plan: one fact scan into the
    per-cents rollup; all windows run over DISTINCT cents — bounded by
    the value domain (~49k cells here, fixed by the price grid at any
    corpus size) — and the final aggregate is 1-row.  The only
    data-sized cost is the single groupBy shuffle."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
        # cents domain (class L): NaN/Inf crashes the cents cast; the
        # predicate also excludes NULL (abs(NULL) < x is NULL)
        & (F.abs(F.col("value")) < F.lit(1e16)))
    f = ev.select(
        (F.col("value").cast("decimal(18,2)") * 100).cast("long")
        .alias("v"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("g1"),
    )
    by_v = f.groupBy("v").agg(
        F.count(F.lit(1)).alias("t"),
        F.sum("g1").cast("long").alias("a"),
    )
    w_run = (Window.orderBy("v")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    cum = by_v.select(
        "v",
        F.sum("a").over(w_run).cast("long").alias("c1"),
        F.sum(F.col("t") - F.col("a")).over(w_run).cast("long")
        .alias("c2"),
        F.sum("a").over(w_all).cast("long").alias("n1"),
        F.sum(F.col("t") - F.col("a")).over(w_all).cast("long")
        .alias("n2"),
    )
    diffs = cum.select(
        "v", "n1", "n2",
        F.abs(F.col("n2") * F.col("c1") - F.col("n1") * F.col("c2"))
        .alias("num"),
    )
    w_max = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    best = (diffs
            .withColumn("maxnum", F.max("num").over(w_max))
            .agg(F.max("n1").alias("n1"), F.max("n2").alias("n2"),
                 F.max("num").alias("maxnum"),
                 F.min(F.when(F.col("num") == F.col("maxnum"),
                              F.col("v"))).alias("at_cents")))
    n1d = F.col("n1").cast("double")
    ks_d = F.col("maxnum").cast("double") / (n1d * F.col("n2"))
    return best.select(
        "n1", "n2", ks_d.alias("ks_d"), "at_cents",
        (ks_d * F.sqrt(n1d * F.col("n2") / (F.col("n1") + F.col("n2"))))
        .alias("ks_z"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV curves — cumulative revenue per acquisition cohort by account
# age in months: the lifetime-value grid behind every payback-period
# decision (q_ts_retention counts PRESENCE by day; this accumulates MONEY
# by month, which needs the exact-cents discipline).
# ---------------------------------------------------------------------------


@query("q_analytics_cohort_ltv", oracle="""
WITH o AS (
  SELECT o_custkey AS c,
         CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) - 1
           AS m,
         strftime(date_trunc('month', o_orderdate), '%Y-%m') AS ym,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  -- cents domain (class L): LTV is over PRICED orders; NaN/Inf/1e22
  -- crashes the cents cast on both engines
  FROM orders WHERE abs(o_totalprice) < 1e16
), w AS (
  SELECT c, m, cents,
         MIN(m) OVER (PARTITION BY c) AS m0,
         MIN(ym) OVER (PARTITION BY c) AS cohort
  FROM o
), cell AS (
  SELECT cohort, m - m0 AS age,
         CAST(COUNT(DISTINCT c) AS BIGINT) AS n_customers,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM w GROUP BY 1, 2
)
SELECT cohort, age, n_customers, n_orders,
       CAST(cents AS DOUBLE) / 100 AS revenue,
       CAST(CAST(SUM(cents) OVER (PARTITION BY cohort ORDER BY age
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS DOUBLE) / 100 AS cum_revenue
FROM cell
""")
def q_analytics_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue by (first-order cohort month, age-in-months).

    Determinism: money moves as EXACT integer cents end-to-end (the
    decimal(18,2) cast, never float math); the running LTV is an
    INTEGER cumulative window (the running-sum-of-doubles segment-tree
    trap never applies), converted to currency by ONE division at emit;
    the cohort label is a MIN over 'yyyy-MM' strings (lexicographic ==
    chronological).  Plan: one orders scan; the first-order month is a
    custkey-partitioned window MIN (no self-join, no second scan), then
    the (cohort, age) rollup and a cohort-keyed cumulative — three
    key-parallel exchanges, rows bounded by cohorts × months after the
    rollup.  At 100 TB the data-sized cost is the per-customer window
    pass any cohort analysis already pays.  Class-L: priced orders only
    (cents domain; see oracle comment)."""
    od = load(spark, sf_dir, "orders").filter(
        F.abs(F.col("o_totalprice")) < F.lit(1e16))
    o = od.select(
        F.col("o_custkey").alias("c"),
        (F.year("o_orderdate").cast("long") * 12
         + F.month("o_orderdate") - 1).alias("m"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        .alias("cents"),
    )
    wc = Window.partitionBy("c")
    w = o.select(
        "c", "m", "cents",
        F.min("m").over(wc).alias("m0"),
        F.min("ym").over(wc).alias("cohort"),
    )
    cell = w.groupBy("cohort", (F.col("m") - F.col("m0")).alias("age")).agg(
        F.countDistinct("c").cast("long").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").cast("long").alias("cents"),
    )
    w_cum = (Window.partitionBy("cohort").orderBy("age")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return cell.select(
        "cohort", "age", "n_customers", "n_orders",
        (F.col("cents").cast("double") / 100).alias("revenue"),
        (F.sum("cents").over(w_cum).cast("long").cast("double") / 100)
        .alias("cum_revenue"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences — the quasi-experimental panel estimate: how
# much did the treated arm's mean purchase value move, net of the shared
# time trend, across a pinned pre/post boundary?  The 2×2 means table,
# the DID point estimate, and its unpooled (Welch-style) standard error —
# the minimum a launch-review dashboard needs to read an A/B-with-ramp.
# ---------------------------------------------------------------------------

DID_SPLIT = "2024-01-16"  # post-period starts here (fixture midpoint)


def _did_cell_sql(grp: int, post: int) -> str:
    cond = (f"user_id % 2 = {grp} AND "
            f"(ts >= TIMESTAMP '{DID_SPLIT}') = {'TRUE' if post else 'FALSE'}")
    return f"""
         CAST(COUNT(CASE WHEN {cond} THEN 1 END) AS BIGINT)
           AS n_{grp}{post},
         CAST(SUM(CASE WHEN {cond}
              THEN CAST(value AS DECIMAL(27,6)) END) AS DOUBLE)
           AS s_{grp}{post},
         CAST(SUM(CASE WHEN {cond}
              THEN CAST(value * value AS DECIMAL(27,6)) END) AS DOUBLE)
           AS q_{grp}{post}"""


@query("q_analytics_did", oracle=f"""
WITH cells AS (
  SELECT {", ".join(_did_cell_sql(g, p) for g in (0, 1) for p in (0, 1))}
  FROM events WHERE event_type = 'purchase' AND abs(value) < 1e21
), means AS (
  SELECT n_00, n_01, n_10, n_11,
         s_00 / n_00 AS m_00, s_01 / n_01 AS m_01,
         s_10 / n_10 AS m_10, s_11 / n_11 AS m_11,
         (q_00 - s_00 * s_00 / n_00) / (n_00 - 1) / n_00 AS v_00,
         (q_01 - s_01 * s_01 / n_01) / (n_01 - 1) / n_01 AS v_01,
         (q_10 - s_10 * s_10 / n_10) / (n_10 - 1) / n_10 AS v_10,
         (q_11 - s_11 * s_11 / n_11) / (n_11 - 1) / n_11 AS v_11
  FROM cells
)
SELECT n_00, n_01, n_10, n_11, m_00, m_01, m_10, m_11,
       (m_11 - m_10) - (m_01 - m_00) AS did,
       sqrt(v_00 + v_01 + v_10 + v_11) AS se,
       ((m_11 - m_10) - (m_01 - m_00))
         / sqrt(v_00 + v_01 + v_10 + v_11) AS t_stat
FROM means
""")
def q_analytics_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 difference-in-differences on purchase value (arm = user_id
    parity, pre/post split at a pinned date).

    Determinism: per-cell sums go through the exact decimal path (value
    is 2-dp so Σy is exact; y² carries 4 decimal digits — exact at
    scale 6, the product-of-2dp rule), counts are integers, and every
    mean/variance/DID/SE is the SAME fixed IEEE expression over those
    identical bits in both engines — raw emit.  The four cells come
    from ONE conditional-aggregate pass (no pivot, no self-join, no
    4-way union).  Plan: one fact scan with the purchase filter pushed
    down into a single partial-aggregated 1-row global agg — the
    SinglePartition stage merges 32 partial rows, nothing more.  At
    100 TB this is the cheapest possible shape: one pass, one row.
    Class-L: in-domain values only (the linreg observed-domain policy —
    cell n and moments must count the same rows)."""
    ev = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & in_measure_domain(F.col("value")))
    split = F.lit(DID_SPLIT).cast("timestamp")
    aggs = []
    for g in (0, 1):
        for p in (0, 1):
            cond = ((F.col("user_id") % 2 == g)
                    & ((F.col("ts") >= split) == bool(p)))
            v = F.when(cond, F.col("value"))
            aggs += [
                F.count(F.when(cond, 1)).cast("long").alias(f"n_{g}{p}"),
                F.sum(v.cast("decimal(27,6)")).cast("double")
                .alias(f"s_{g}{p}"),
                F.sum(F.when(cond, F.col("value") * F.col("value"))
                      .cast("decimal(27,6)")).cast("double")
                .alias(f"q_{g}{p}"),
            ]
    cells = ev.agg(*aggs)
    m, v = {}, {}
    for g in (0, 1):
        for p in (0, 1):
            n = F.col(f"n_{g}{p}")
            s = F.col(f"s_{g}{p}")
            q = F.col(f"q_{g}{p}")
            m[g, p] = (s / n).alias(f"m_{g}{p}")
            v[g, p] = (q - s * s / n) / (n - 1) / n
    did = ((F.col("m_11") - F.col("m_10"))
           - (F.col("m_01") - F.col("m_00")))
    means = cells.select(
        "n_00", "n_01", "n_10", "n_11",
        m[0, 0], m[0, 1], m[1, 0], m[1, 1],
        (v[0, 0] + v[0, 1] + v[1, 0] + v[1, 1]).alias("var_sum"),
    )
    return means.select(
        "n_00", "n_01", "n_10", "n_11",
        "m_00", "m_01", "m_10", "m_11",
        did.alias("did"),
        F.sqrt(F.col("var_sum")).alias("se"),
        (did / F.sqrt(F.col("var_sum"))).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# Mutual information — how much does WEEKDAY tell you about WHAT users do?
# The information-theoretic association between two categoricals, the
# feature-selection cousin of q_agg_chi2's significance test (chi2 asks
# "is there any dependence"; MI measures HOW MUCH, in nats, with its
# normalized variant comparable across tables).
# ---------------------------------------------------------------------------


@query("q_analytics_mutual_info", oracle="""
WITH cells AS (
  -- DuckDB dayofweek() is 0=Sunday; Spark's is 1=Sunday (gotcha) — +1.
  SELECT event_type AS x, dayofweek(ts) + 1 AS wd,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
), marg AS (
  SELECT x, wd, o,
         CAST(SUM(o) OVER (PARTITION BY x) AS BIGINT) AS rx,
         CAST(SUM(o) OVER (PARTITION BY wd) AS BIGINT) AS cy,
         CAST(SUM(o) OVER () AS BIGINT) AS n
  FROM cells
), packed AS (
  SELECT MAX(n) AS n,
         list_sort(list(struct_pack(x := x, wd := wd, o := o,
                                    rx := rx, cy := cy, n := n))) AS ls
  FROM marg
)
SELECT n,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(ls, e ->
           (CAST(e.o AS DOUBLE) / e.n)
           * ln((CAST(e.o AS DOUBLE) * e.n)
                / (CAST(e.rx AS DOUBLE) * e.cy)))),
         (a, v) -> a + v), 6) + 0.0 AS mi_nats,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(ls, e ->
           (CAST(e.o AS DOUBLE) / e.n)
           * ln((CAST(e.o AS DOUBLE) * e.n)
                / (CAST(e.rx AS DOUBLE) * e.cy)))),
         (a, v) -> a + v)
       / sqrt(
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(ls, e ->
             -(CAST(e.o AS DOUBLE) / e.n)
             * ln(CAST(e.rx AS DOUBLE) / e.n))),
           (a, v) -> a + v)
         * list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(ls, e ->
             -(CAST(e.o AS DOUBLE) / e.n)
             * ln(CAST(e.cy AS DOUBLE) / e.n))),
           (a, v) -> a + v)), 6) + 0.0 AS nmi
FROM packed
""")
def q_analytics_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between event type and weekday, plus
    the sqrt-normalized NMI.

    Determinism: cell counts and both marginals are exact integers
    (marginals via windows OVER THE CELL TABLE — the q_agg_chi2 one-scan
    discipline); each pointwise term is a fixed expression over those
    integers, folded in (x, weekday)-SORTED order; the marginal
    entropies ride the SAME cell fold via H(X) = -SUM (o/n) ln(rx/n)
    (grouping one x's cells contributes (rx/n) ln(rx/n) exactly —
    DuckDB cannot list_distinct structs, so no distinct pass).  ln can
    differ by an ulp across engines (libm vs java.lang.Math), so both
    emits are rounded at 6 dp with the -0.0 guard — the q_llm_diversity
    precedent.  The weekday is shifted +1 on the SQL side (DuckDB
    dayofweek is 0=Sunday, Spark 1=Sunday — documented gotcha).  Plan:
    one fact scan, the cell rollup, then windows and a 1-row fold over
    |types|×7 structs — category-domain-bounded after the first
    shuffle."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(F.col("event_type").alias("x"),
                       F.dayofweek("ts").alias("wd")).agg(
        F.count(F.lit(1)).alias("o"))
    marg = cells.select(
        "x", "wd", "o",
        F.sum("o").over(Window.partitionBy("x")).cast("long").alias("rx"),
        F.sum("o").over(Window.partitionBy("wd")).cast("long").alias("cy"),
        F.sum("o").over(Window.partitionBy()).cast("long").alias("n"),
    )
    packed = marg.agg(
        F.max("n").alias("n"),
        F.sort_array(F.collect_list(
            F.struct("x", "wd", "o", "rx", "cy", "n"))).alias("ls"),
    )
    mi = F.expr(fsum("ls", "(CAST(e.o AS DOUBLE) / e.n)"
                           " * ln((CAST(e.o AS DOUBLE) * e.n)"
                           " / (CAST(e.rx AS DOUBLE) * e.cy))", "e"))

    def h(field_m: str):
        # H(X) = -SUM_cells (o/n) ln(rx/n): grouping the cells of one x
        # contributes (rx/n) ln(rx/n) exactly, so the marginal entropy
        # rides the SAME sorted cell fold (no struct-distinct, which
        # DuckDB cannot list_distinct).
        return F.expr(fsum("ls", f"-(CAST(e.o AS DOUBLE) / e.n)"
                                 f" * ln(CAST(e.{field_m} AS DOUBLE) / e.n)",
                           "e"))

    # class K / degenerate cardinality: NMI's denominator sqrt(Hx*Hy) is
    # 0 when either marginal entropy is 0 — a SINGLE event type (or
    # single weekday), and the empty table, are both legal shapes.
    # try_divide yields NULL there, mirroring DuckDB's /0 -> NULL;
    # ANSI division would crash instead.
    return packed.select(
        "n",
        (F.round(mi, 6) + 0.0).alias("mi_nats"),
        (F.round(F.try_divide(mi, F.sqrt(h("rx") * h("cy"))), 6) + 0.0)
        .alias("nmi"),
    )


# ---------------------------------------------------------------------------
# Shapley-value channel attribution — the game-theoretic credit split
# (q_ts_multi_touch divides equally; last-touch picks one winner; Shapley
# is the axiomatically-fair division marketing actually asks for).  The
# simplified coalition game over touchsets: v(S) = conversion rate of
# users whose touched-channel set is exactly S, and each channel's value
# is the factorial-weighted average of its marginal contributions over
# all 2^(n-1) coalitions.
# ---------------------------------------------------------------------------

SHAP_CHANNELS = ("click", "error", "signup", "view")  # bit order, sorted
# |S|!(n-|S|-1)!/n! for n=4, indexed by |S| — 1/4 and 1/12; written as
# divisions of exact literals so both engines start from identical bits.
_SHAP_W_SQL = "CASE bit_count({s}) WHEN 0 THEN CAST(1.0 AS DOUBLE) / 4 " \
              "WHEN 1 THEN CAST(1.0 AS DOUBLE) / 12 " \
              "WHEN 2 THEN CAST(1.0 AS DOUBLE) / 12 " \
              "ELSE CAST(1.0 AS DOUBLE) / 4 END"


@query("q_analytics_shapley", oracle=f"""
WITH per_user AS (
  -- High-value touches/conversions only (value >= 200): at fixture
  -- density every user touches every channel and converts, which
  -- collapses Shapley to the symmetric 1/4 — the thresholds keep the
  -- masks AND the outcome varied (vacuous-pair discipline).
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' AND value >= 200
             THEN 1 ELSE 0 END)
         + 2 * MAX(CASE WHEN event_type = 'error' AND value >= 200
                   THEN 1 ELSE 0 END)
         + 4 * MAX(CASE WHEN event_type = 'signup' AND value >= 200
                   THEN 1 ELSE 0 END)
         + 8 * MAX(CASE WHEN event_type = 'view' AND value >= 200
                   THEN 1 ELSE 0 END) AS mask,
         MAX(CASE WHEN event_type = 'purchase' AND value >= 200
             THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
), cells AS (
  SELECT mask, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(conv) AS BIGINT) AS c
  FROM per_user GROUP BY 1
), packed AS (
  SELECT list_sort(list(struct_pack(mask := mask, n := n, c := c))) AS ls
  FROM cells
), vtab AS (
  -- v indexed by mask+1; coalitions with no users contribute v = 0.
  SELECT list_transform(range(0, 16), m ->
           coalesce(list_transform(list_filter(ls, e -> e.mask = m),
                                   e -> CAST(e.c AS DOUBLE) / e.n)[1],
                    CAST(0.0 AS DOUBLE))) AS v
  FROM packed
), chan AS (
  SELECT * FROM (VALUES ('click', 1), ('error', 2), ('signup', 4),
                        ('view', 8)) AS t(channel, bit)
)
SELECT c.channel,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(list_filter(range(0, 16),
                                    s -> (s & c.bit) = 0),
           s -> ({_SHAP_W_SQL.format(s="s")})
                * (v.v[(s | c.bit) + 1] - v.v[s + 1]))),
         (a, x) -> a + x) AS shapley
FROM chan c CROSS JOIN vtab v
""")
def q_analytics_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley attribution of conversion over the four touch channels.

    Determinism: coalition rates v(S) are single divisions of exact
    integers from one (user → mask) rollup; the 16-slot v table is
    built identically in both engines (empty coalitions pinned to 0 —
    a deterministic rule, not an engine artifact), the factorial
    weights are divisions of exact literals (the fixed-point-literal
    gotcha: CAST(1.0 AS DOUBLE)/12 on both sides), and each channel's
    8-term marginal sum folds in ascending-mask order — identical op
    sequence on identical bits, raw emit.  Efficiency (sum of Shapley
    values == v(full set) - v(empty)) is pinned by a property test.
    Plan: one fact scan, the per-user rollup (the only data-sized
    shuffle), the 16-row mask rollup, then a 1-row collect crossed with
    the 4-row channel table — everything after the user rollup is
    2^channels-bounded."""
    ev = load(spark, sf_dir, "events")
    has = lambda t: F.max(  # noqa: E731
        F.when((F.col("event_type") == t) & (F.col("value") >= 200), 1)
        .otherwise(0))
    per_user = ev.groupBy("user_id").agg(
        (has("click") + 2 * has("error") + 4 * has("signup")
         + 8 * has("view")).alias("mask"),
        has("purchase").alias("conv"),
    )
    cells = per_user.groupBy("mask").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").cast("long").alias("c"),
    )
    packed = cells.agg(F.sort_array(F.collect_list(
        F.struct("mask", "n", "c"))).alias("ls"))
    vtab = packed.select(F.expr(
        # get() (not [0]) — ANSI brackets THROW on the empty coalitions.
        "transform(sequence(0, 15), m -> "
        "coalesce(get(transform(filter(ls, e -> e.mask = m), "
        "e -> CAST(e.c AS DOUBLE) / e.n), 0), CAST(0.0 AS DOUBLE)))"
    ).alias("v"))
    chan = spark.createDataFrame(
        [(name, 1 << i) for i, name in enumerate(SHAP_CHANNELS)],
        "channel string, bit int")
    w_sql = ("CASE bit_count(s) WHEN 0 THEN CAST(1.0 AS DOUBLE) / 4 "
             "WHEN 1 THEN CAST(1.0 AS DOUBLE) / 12 "
             "WHEN 2 THEN CAST(1.0 AS DOUBLE) / 12 "
             "ELSE CAST(1.0 AS DOUBLE) / 4 END")
    shap = F.expr(fsum(
        "filter(sequence(0, 15), s -> (s & bit) = 0)",
        f"({w_sql}) * (element_at(v, (s | bit) + 1) - element_at(v, s + 1))",
        "s"))
    return (chan.crossJoin(F.broadcast(vtab))
            .select("channel", shap.alias("shapley")))


# ---------------------------------------------------------------------------
# Sample-ratio mismatch — the A/B pipeline's smoke alarm: the assignment
# hash promises 50/50, so a significant deviation in ARM COUNTS means the
# experiment is corrupted (redirects, bot filtering, logging loss) and
# every downstream metric is invalid.  Overall z/chi2 plus the worst
# single day — SRM that comes and goes intra-experiment is the classic
# deploy-window smell.
# ---------------------------------------------------------------------------


@query("q_analytics_srm", oracle="""
WITH pu AS (
  -- Bit 21 of the Knuth hash: consecutive fixture ids are a
  -- low-discrepancy lattice under the multiplier, so low bits (and raw
  -- parity — an odd multiplier PRESERVES parity) split exactly 50/50
  -- and the overall statistic would be vacuously 0.0; bit 21 deviates
  -- like a real hash assignment at every SF (80/70 at sf0.01).
  SELECT DISTINCT user_id,
         ((user_id * 2654435761) % 4294967296) // 2097152 % 2 AS arm
  FROM events
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a0,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1
  FROM pu
), daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(COUNT(DISTINCT CASE WHEN
                    ((user_id * 2654435761) % 4294967296) // 2097152 % 2
                    = 0 THEN user_id END) AS BIGINT) AS d0,
         CAST(COUNT(DISTINCT CASE WHEN
                    ((user_id * 2654435761) % 4294967296) // 2097152 % 2
                    = 1 THEN user_id END) AS BIGINT) AS d1
  FROM events GROUP BY 1
), worst AS (
  SELECT MAX(struct_pack(
           z := round(abs(CAST(d0 - d1 AS DOUBLE))
                      / sqrt(CAST(d0 + d1 AS DOUBLE)), 9),
           day := strftime(day, '%Y-%m-%d'))) AS w
  FROM daily WHERE d0 + d1 > 0
)
SELECT t.n, t.a0, t.a1,
       CAST(t.a0 - t.n / 2.0 AS DOUBLE) * (t.a0 - t.n / 2.0)
         / (t.n / 2.0)
       + CAST(t.a1 - t.n / 2.0 AS DOUBLE) * (t.a1 - t.n / 2.0)
         / (t.n / 2.0) AS chi2_srm,
       CAST(t.a0 - t.a1 AS DOUBLE) / sqrt(CAST(t.n AS DOUBLE)) AS z,
       abs(CAST(t.a0 - t.a1 AS DOUBLE) / sqrt(CAST(t.n AS DOUBLE))) > 3
         AS srm_flag,
       w.w.day AS worst_day, w.w.z + 0.0 AS worst_day_abs_z
FROM tot t, worst w
WHERE t.n > 0
""")
def q_analytics_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check on the hash-bit-21 assignment:
    overall chi2/z against the promised 50/50, plus the worst single
    day's |z| and its date.

    Determinism: arm counts are exact integers (per-user distinct, then
    per-day distinct); chi2/z are fixed IEEE expressions on those
    integers — raw emit; the worst day maximizes a (rounded |z|, day)
    STRUCT so ties break on the date string, never an arbitrary max_by
    (the KS argmax discipline), and the rounded z gets the +0.0 guard.
    Plan: one scan feeds both rollups (user-distinct and day-grain
    distinct); the worst-day reduce and the final 1-row cross are
    day-domain-bounded.  At 100 TB this costs the two distinct passes
    any assignment audit pays."""
    ev = load(spark, sf_dir, "events")
    arm_of = lambda c: (((c * F.lit(2654435761))  # noqa: E731
                         % F.lit(4294967296))
                        / 2097152).cast("long") % 2
    pu = ev.select("user_id").distinct().select(
        "user_id", arm_of(F.col("user_id")).alias("arm"))
    tot = pu.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long")
        .alias("a0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long")
        .alias("a1"),
    )
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.countDistinct(F.when(arm_of(F.col("user_id")) == 0,
                               F.col("user_id"))).cast("long").alias("d0"),
        F.countDistinct(F.when(arm_of(F.col("user_id")) == 1,
                               F.col("user_id"))).cast("long").alias("d1"),
    )
    zd = (F.abs((F.col("d0") - F.col("d1")).cast("double"))
          / F.sqrt((F.col("d0") + F.col("d1")).cast("double")))
    worst = (daily.filter(F.col("d0") + F.col("d1") > 0)
             .agg(F.max(F.struct(
                 F.round(zd, 9).alias("z"),
                 F.date_format("day", "yyyy-MM-dd").alias("day")))
                 .alias("w")))
    n, a0, a1 = F.col("n"), F.col("a0"), F.col("a1")
    e = n / 2.0
    z = (a0 - a1).cast("double") / F.sqrt(n.cast("double"))
    # class K: an assignment audit with ZERO observed users emits no row
    # (both sides filter n > 0) — the all-NULL statistics row it would
    # otherwise produce renders its NULL boolean flag differently per
    # engine (pandas None vs NaN) and asserts nothing anyway.
    tot = tot.filter(F.col("n") > 0)
    return tot.crossJoin(F.broadcast(worst)).select(
        "n", "a0", "a1",
        ((a0 - e).cast("double") * (a0 - e) / e
         + (a1 - e).cast("double") * (a1 - e) / e).alias("chi2_srm"),
        z.alias("z"),
        (F.abs(z) > 3).alias("srm_flag"),
        F.col("w.day").alias("worst_day"),
        (F.col("w.z") + 0.0).alias("worst_day_abs_z"),
    )


# ---------------------------------------------------------------------------
# Power analysis — the experiment-design number the A/B family still
# lacked: given each event type's observed value variance, how many users
# per arm does a two-sample test need to detect a 5% lift in mean value
# at alpha = 0.05 (two-sided), power = 0.8?  The planning query run
# BEFORE q_agg_ab_ttest / q_analytics_did ever get their data.
# ---------------------------------------------------------------------------

_PWR_Z_ALPHA = 1.959963984540054  # 97.5th normal quantile (alpha .05 / 2)
_PWR_Z_BETA = 0.8416212335729143  # 80th normal quantile (power 0.8)
_PWR_MDE = 0.05                   # minimum detectable effect: 5% of mean


@query("q_analytics_power", oracle=f"""
WITH s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value * value AS DECIMAL(27,6))) AS DOUBLE) AS s2
  FROM events WHERE abs(value) < 1e21 GROUP BY 1
), m AS (
  SELECT event_type, n, s1 / n AS mu,
         (s2 - s1 * s1 / n) / (n - 1) AS var_s
  FROM s
)
SELECT event_type, n, mu AS mean_value,
       CAST({_PWR_MDE} AS DOUBLE) * mu AS delta,
       CAST(ceil(2 * (CAST({_PWR_Z_ALPHA} AS DOUBLE)
                 + CAST({_PWR_Z_BETA} AS DOUBLE))
              * (CAST({_PWR_Z_ALPHA} AS DOUBLE)
                 + CAST({_PWR_Z_BETA} AS DOUBLE))
              * var_s
            / ((CAST({_PWR_MDE} AS DOUBLE) * mu)
               * (CAST({_PWR_MDE} AS DOUBLE) * mu))) AS BIGINT)
         AS n_per_arm
FROM m
""")
def q_analytics_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type sample size for a 5%-lift two-sample test
    (alpha 0.05 two-sided, power 0.8): n/arm = 2(z_a+z_b)^2 sigma^2 / delta^2.

    Determinism: mean and sample variance come from exact decimal sums
    (one division each — Σy² here stays under the 2^53 window because
    it is never re-scaled; n_per_arm applies ceil AFTER a fixed IEEE
    chain whose z-constants enter as the same shortest-repr doubles on
    both sides (F.lit ↔ CAST literal — the fixed-point-literal gotcha).
    ceil on an exact-identical double is identical; a boundary-exact
    integer quotient cannot arise from these irrational z's.  Plan: one
    scan, one partial-aggregated rollup — a q_agg_stats-weight query.
    Class-L: in-domain values only (the linreg observed-domain policy)."""
    ev = load(spark, sf_dir, "events").filter(
        in_measure_domain(F.col("value")))
    y = F.col("value")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y.cast("decimal(27,6)")).cast("double").alias("s1"),
        F.sum((y * y).cast("decimal(27,6)")).cast("double").alias("s2"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    var_s = (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1)
    z = F.lit(_PWR_Z_ALPHA) + F.lit(_PWR_Z_BETA)
    delta = F.lit(_PWR_MDE) * mu
    return s.select(
        "event_type", "n", mu.alias("mean_value"), delta.alias("delta"),
        F.ceil(2 * z * z * var_s / (delta * delta)).alias("n_per_arm"),
    )


# ---------------------------------------------------------------------------
# Price indices — Laspeyres (base-quantity weights), Paasche (current-
# quantity weights) and their Fisher geometric mean, per ship month against
# the first month as base: the econometric "is revenue moving because of
# PRICE or VOLUME?" decomposition that q_analytics_yoy_growth (raw growth)
# cannot answer.  Prices are part-month unit values from the lineitem fact.
# ---------------------------------------------------------------------------


@query("q_analytics_price_index", oracle="""
WITH cells AS (
  SELECT l_partkey AS pk, date_trunc('month', l_shipdate) AS m,
         CAST(SUM(l_quantity) AS BIGINT) AS q,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                   AS DOUBLE) AS DOUBLE) AS rev
  -- cents/18,2 domain (class L): priced lines only
  FROM lineitem WHERE abs(l_extendedprice) < 1e16 GROUP BY 1, 2
), base AS (
  SELECT pk, q AS q0, rev / q AS p0
  FROM cells WHERE m = (SELECT MIN(m) FROM cells)
), cur AS (
  SELECT pk, m, q AS q1, rev / q AS p1 FROM cells
  WHERE m > (SELECT MIN(m) FROM cells)
), joined AS (
  SELECT c.m,
         CAST(FLOOR(c.p1 * b.q0 * 10000) AS BIGINT) AS l_num,
         CAST(FLOOR(b.p0 * b.q0 * 10000) AS BIGINT) AS l_den,
         CAST(FLOOR(c.p1 * c.q1 * 10000) AS BIGINT) AS p_num,
         CAST(FLOOR(b.p0 * c.q1 * 10000) AS BIGINT) AS p_den
  FROM cur c JOIN base b USING (pk)
), idx AS (
  SELECT strftime(m, '%Y-%m') AS month,
         CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(l_num) AS DOUBLE) / CAST(SUM(l_den) AS DOUBLE)
           AS laspeyres,
         CAST(SUM(p_num) AS DOUBLE) / CAST(SUM(p_den) AS DOUBLE)
           AS paasche
  FROM joined GROUP BY 1
)
SELECT month, n_parts,
       round(laspeyres, 9) + 0.0 AS laspeyres,
       round(paasche, 9) + 0.0 AS paasche,
       -- declared sqrt domain (class F): refund-heavy months can turn an
       -- index negative; DuckDB hard-errors on sqrt(negative) where Spark
       -- NaNs, so the Fisher mean is NULL outside the domain on BOTH sides
       CASE WHEN laspeyres * paasche >= 0
            THEN round(sqrt(laspeyres * paasche), 9) + 0.0 END AS fisher
FROM idx
""")
def q_analytics_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices per ship month vs the
    first month, over parts traded in both periods.

    Determinism: part-month unit values are ONE division of exact
    operands (decimal revenue sum cast to double — cell revenue is far
    under the 2^53 window — over an integer quantity), so p0/p1 are
    bit-identical across engines; each cross-period product p·q is an
    engine-identical double FLOORED at 4 dp into an integer (the
    cross_corr product-quantization rule — a raw decimal cast of a
    many-digit product would round divergently), so the four index sums
    are exact integers; the final ratios and the Fisher sqrt run on
    their (possibly >2^53, hence rounded) double casts and carry the
    9-dp guard.  Basket = inner join on part (matched-sample indices;
    entering/exiting parts are excluded by construction — documented,
    standard for fixed-basket indices).

    Plan: one fact shuffle into part-month cells, MATERIALIZED once
    (eager localCheckpoint — the clustering edge-set discipline; the
    base slice, the current slice and the base-month 1-row aggregate
    all reuse it, where the lazy plan re-scanned the fact four times);
    the base month joins back as two 1-row broadcasts and the pairing
    is a part-keyed broadcast join; the index rollup is month-grain.
    Class-L: priced lines only (DECIMAL(18,2) domain; see oracle)."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.abs(F.col("l_extendedprice")) < F.lit(1e16))
    cells = (
        li.groupBy(F.col("l_partkey").alias("pk"),
                   F.date_trunc("month", "l_shipdate").alias("m"))
        .agg(F.sum("l_quantity").cast("long").alias("q"),
             F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
             .cast("double").alias("rev"))
    ).localCheckpoint(eager=True)
    m0 = cells.agg(F.min("m").alias("m0"))
    base = (
        cells.join(F.broadcast(m0), cells["m"] == m0["m0"])
        .select("pk", F.col("q").alias("q0"),
                (F.col("rev") / F.col("q")).alias("p0"))
    )
    cur = (
        cells.join(F.broadcast(m0), cells["m"] > m0["m0"])
        .select("pk", "m", F.col("q").alias("q1"),
                (F.col("rev") / F.col("q")).alias("p1"))
    )
    q10k = lambda c: F.floor(c * 10000).cast("long")  # noqa: E731
    joined = cur.join(F.broadcast(base), "pk").select(
        "m",
        q10k(F.col("p1") * F.col("q0")).alias("l_num"),
        q10k(F.col("p0") * F.col("q0")).alias("l_den"),
        q10k(F.col("p1") * F.col("q1")).alias("p_num"),
        q10k(F.col("p0") * F.col("q1")).alias("p_den"),
    )
    idx = joined.groupBy(
        F.date_format("m", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        (F.sum("l_num").cast("double")
         / F.sum("l_den").cast("double")).alias("laspeyres"),
        (F.sum("p_num").cast("double")
         / F.sum("p_den").cast("double")).alias("paasche"),
    )
    return idx.select(
        "month", "n_parts",
        (F.round(F.col("laspeyres"), 9) + 0.0).alias("laspeyres"),
        (F.round(F.col("paasche"), 9) + 0.0).alias("paasche"),
        F.when(F.col("laspeyres") * F.col("paasche") >= 0,
               F.round(F.sqrt(F.col("laspeyres") * F.col("paasche")), 9)
               + 0.0).alias("fisher"),
    )
