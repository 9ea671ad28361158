"""SPARQL 1.1 query-form parity beyond SELECT — SURVEY.md §2 [Q] surface.

The reference's query capability is the SPARQL 1.1 endpoint it feeds
[pub:muswarmlogger/main.py via MU_SPARQL_ENDPOINT]; SURVEY.md §2 covered
the SELECT algebra (BGP, OPTIONAL, FILTER, aggregates).  This module adds
the remaining query forms [spec:SPARQL 1.1 Query §16] plus property paths
[spec:SPARQL 1.1 §9], which §2.12 deferred:

- **property path** (`dependsOn+`): transitive closure via semi-naive
  BFS iteration — each round joins the previous frontier with the edge
  relation, exactly how Datalog engines evaluate recursion.  The frontier
  shrinks geometrically on tree/DAG-shaped graphs (depth ≤ log n here),
  so at 100 TB the loop runs O(log n) shuffles on an ever-smaller input.
  The loop is `core.tables.iterate`: each round's frontier is a lazy
  local checkpoint that the round's emptiness check materializes, so the
  plan stays one round deep without a separate materialization job.
- **CONSTRUCT**: a graph-producing query — solution sequence → new
  triples, i.e. groupBy + per-predicate projection UNION.
- **ASK**: boolean existence — a global aggregate over the BGP.
- **DESCRIBE**: all triples about one resource — a pushdown-friendly
  subject filter on the narrow table.

The dependency graph for the path query is minted deterministically from
the event data (container c_i depends on c_{i//2} — a binary tree over
the 150 container ids at sf0.01), so the DuckDB WITH RECURSIVE oracle is
value-exact.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.numeric import dsum_sql
from ..core.registry import query
from ..core.tables import iterate, load, unpersist_cp
from .triples import DCT, RDF_TYPE, SWARMUI


def container_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic `swarmui:dependsOn` edge relation: container c_i
    depends on c_{i//2} (binary tree rooted at c0) over the distinct
    container ids present in the event stream."""
    ids = (
        load(spark, sf_dir, "events")
        .select(F.col("user_id").cast("long").alias("uid"))
        .distinct()
    )
    return ids.filter(F.col("uid") >= 1).select(
        F.concat(F.lit("c"), F.col("uid").cast("string")).alias("child"),
        F.concat(F.lit("c"), (F.col("uid") / 2).cast("long").cast("string"))
        .alias("parent"),
    )


@query("q_sparql_path", oracle="""
WITH RECURSIVE ids AS (
  SELECT DISTINCT CAST(user_id AS BIGINT) AS uid FROM events
), edges AS (
  SELECT 'c' || CAST(uid AS VARCHAR) AS child,
         'c' || CAST(uid // 2 AS VARCHAR) AS parent
  FROM ids WHERE uid >= 1
), paths AS (
  SELECT child AS src, parent AS dst, 1 AS depth FROM edges
  UNION ALL
  SELECT p.src, e.parent, p.depth + 1
  FROM paths p JOIN edges e ON p.dst = e.child
)
SELECT src, dst, CAST(depth AS BIGINT) AS depth FROM paths
""")
def q_sparql_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property path `?src swarmui:dependsOn+ ?dst` [spec:SPARQL
    1.1 §9.1]: transitive closure by semi-naive iteration.  Only the
    NEW pairs found in round k join the edges in round k+1 (the frontier),
    so total work is O(edges × depth) not O(pairs × depth); the loop stops
    on the first empty frontier (depth ≈ log₂ n on this tree)."""
    edges = container_edges(spark, sf_dir)
    edges = edges.localCheckpoint(eager=True)  # reused every round

    depth1 = edges.select(
        F.col("child").alias("src"), F.col("parent").alias("dst"),
        F.lit(1).cast("long").alias("depth"),
    ).localCheckpoint(eager=True)

    def extend(frontier: DataFrame) -> DataFrame:
        # PIN the broadcast of the container-scale edge relation (r12,
        # guide §3.1): the per-round join stays a map-side hash join even
        # if a stats-less replanning would pick SMJ.  Round-body plans
        # (plans/r12/q_sparql_path_roundbody_*.txt) are identical at bench
        # scale, A/B neutral (1.360 / 1.432 s at sf0.1).
        return (
            frontier.join(F.broadcast(edges), frontier.dst == edges.child)
            .select(frontier.src, F.col("parent").alias("dst"),
                    (frontier.depth + 1).alias("depth"))
        )

    # Container ids are non-negative BIGINTs, so the c_i -> c_{i//2}
    # tree is at most 63 deep: round 63 finds the empty frontier at the
    # latest, and the cap only turns a broken edge builder into an error.
    rounds = iterate(depth1, extend, rounds=64,
                     until=lambda nxt: nxt.isEmpty())
    # The last round is the empty frontier; every round is materialized,
    # so `paths` no longer reads the edge relation.
    paths = reduce(DataFrame.union, rounds[:-1], depth1)
    unpersist_cp(edges)
    return paths


@query("q_sparql_construct", oracle=f"""
WITH alerts AS (
  SELECT 'c' || CAST(user_id AS VARCHAR) AS c, COUNT(*) AS n
  FROM events WHERE event_type = 'error'
  GROUP BY user_id HAVING COUNT(*) >= 20
), res AS (
  SELECT 'http://swarmui.semte.ch/resources/containers/' || c AS s, n
  FROM alerts
)
SELECT s, '{RDF_TYPE}' AS p, '{SWARMUI}AlertedContainer' AS o FROM res
UNION ALL
SELECT s, '{SWARMUI}alertCount', CAST(n AS VARCHAR) FROM res
""")
def q_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT [spec:SPARQL 1.1 §16.2] — graph-producing query:

        CONSTRUCT { ?c a swarmui:AlertedContainer ;
                    swarmui:alertCount ?n }
        WHERE { ?e swarmui:eventType "error" ; swarmui:container ?c }
        GROUP BY ?c HAVING (COUNT(*) >= 20)

    The solution sequence (alert-worthy containers) turns into new
    triples via one inline explode — template instantiation is a
    projection, not a second scan."""
    ev = load(spark, sf_dir, "events")
    alerts = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 20)
    )
    subj = F.concat(
        F.lit("http://swarmui.semte.ch/resources/containers/c"),
        F.col("user_id").cast("string"),
    )
    triple = lambda p, o: F.struct(  # noqa: E731
        F.lit(p).alias("p"), o.cast("string").alias("o")
    )
    return alerts.select(
        subj.alias("s"),
        F.explode(F.array(
            triple(RDF_TYPE, F.lit(SWARMUI + "AlertedContainer")),
            triple(SWARMUI + "alertCount", F.col("n")),
        )).alias("po"),
    ).select("s", F.col("po.p").alias("p"), F.col("po.o").alias("o"))


@query("q_sparql_ask", oracle="""
SELECT EXISTS (
  SELECT 1 FROM events
  WHERE event_type = 'error' AND user_id = 7
) AS answer
""")
def q_sparql_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK [spec:SPARQL 1.1 §16.3] — boolean existence of a BGP
    match (`ASK { ?e swarmui:eventType "error" ; swarmui:container "c7" }`).
    Planned as a LIMIT-1 scan aggregated to one boolean — Spark stops at
    the first matching row, it never counts the full table."""
    ev = load(spark, sf_dir, "events")
    hit = (
        ev.filter((F.col("event_type") == "error") & (F.col("user_id") == 7))
        .limit(1)
        .select(F.lit(True).alias("answer"))
    )
    return hit.unionAll(
        ev.sparkSession.range(1).select(F.lit(False).alias("answer"))
    ).orderBy(F.col("answer").desc()).limit(1)


@query("q_sparql_describe", oracle=f"""
WITH per_container AS (
  SELECT 'c' || CAST(user_id AS VARCHAR) AS c,
         COUNT(*) AS n,
         MAX(strftime(ts, '%Y-%m-%dT%H:%M:%SZ')) AS last_seen
  FROM events
  GROUP BY user_id
), target AS (
  SELECT * FROM per_container ORDER BY n DESC, c LIMIT 1
), res AS (
  SELECT 'http://swarmui.semte.ch/resources/containers/' || c AS s, n, last_seen
  FROM target
)
SELECT s, '{RDF_TYPE}' AS p, '{SWARMUI}Container' AS o FROM res
UNION ALL
SELECT s, '{SWARMUI}eventCount', CAST(n AS VARCHAR) FROM res
UNION ALL
SELECT s, '{DCT}modified', last_seen FROM res
""")
def q_sparql_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE [spec:SPARQL 1.1 §16.4] — all triples about one
    resource: the busiest container (max event count, id as tiebreaker).
    The top-1 selection is a TakeOrderedAndProject; the description
    itself is template projection, mirroring how a triplestore answers
    DESCRIBE with a subject-bounded scan."""
    ev = load(spark, sf_dir, "events")
    per = (
        ev.groupBy(F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.max(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"))
             .alias("last_seen"))
        .withColumn("c", F.concat(F.lit("c"), F.col("user_id").cast("string")))
    )
    target = per.orderBy(F.col("n").desc(), F.col("c")).limit(1)
    subj = F.concat(F.lit("http://swarmui.semte.ch/resources/containers/"),
                    F.col("c"))
    triple = lambda p, o: F.struct(  # noqa: E731
        F.lit(p).alias("p"), o.cast("string").alias("o")
    )
    return target.select(
        subj.alias("s"),
        F.explode(F.array(
            triple(RDF_TYPE, F.lit(SWARMUI + "Container")),
            triple(SWARMUI + "eventCount", F.col("n")),
            triple(DCT + "modified", F.col("last_seen")),
        )).alias("po"),
    ).select("s", F.col("po.p").alias("p"), F.col("po.o").alias("o"))


@query("q_sql_recursive_cte", oracle="""
WITH RECURSIVE ids AS (
  SELECT DISTINCT CAST(user_id AS BIGINT) AS uid FROM events
), edges AS (
  SELECT 'c' || CAST(uid AS VARCHAR) AS child,
         'c' || CAST(uid // 2 AS VARCHAR) AS parent
  FROM ids WHERE uid >= 1
), paths AS (
  SELECT child AS src, parent AS dst, 1 AS depth FROM edges
  UNION ALL
  SELECT p.src, e.parent, p.depth + 1
  FROM paths p JOIN edges e ON p.dst = e.child
)
SELECT src, dst, CAST(depth AS BIGINT) AS depth FROM paths
""")
def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same `dependsOn+` transitive closure as q_sparql_path, but as a
    DECLARATIVE `WITH RECURSIVE` CTE (new in Spark 4): the engine runs the
    fixpoint — driver code never loops, checkpoints, or tests a frontier.
    Catalyst plans each recursion step as a self-join on the working
    relation, terminating when the step produces zero rows, i.e. the
    semi-naive evaluation the hand-written loop implements manually.

    Both forms stay registered on purpose: the CTE is the right API for a
    SQL user; the explicit loop (q_sparql_path) remains the template for
    iterations whose step is NOT pure SQL (PageRank's decimal re-ranking,
    label propagation) or that need per-round control (early exit on a
    driver-side metric).  Identical output, same DuckDB oracle shape."""
    from ..core.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        WITH RECURSIVE ids AS (
          SELECT DISTINCT CAST(user_id AS BIGINT) AS uid FROM events
        ), edges AS (
          SELECT concat('c', CAST(uid AS STRING)) AS child,
                 concat('c', CAST(uid div 2 AS STRING)) AS parent
          FROM ids WHERE uid >= 1
        ), paths AS (
          SELECT child AS src, parent AS dst, 1 AS depth FROM edges
          UNION ALL
          SELECT p.src, e.parent, p.depth + 1
          FROM paths p JOIN edges e ON p.dst = e.child
        )
        SELECT src, dst, CAST(depth AS BIGINT) AS depth FROM paths
    """)


# --------------------------------------------------------------------------
# SPARQL 1.1 SELECT algebra remainder: aggregates/GROUP_CONCAT, UNION with
# unbound variables, MINUS vs FILTER NOT EXISTS, VALUES+BIND, subquery
# [spec:SPARQL 1.1 Query §8, §10.2, §11, §12, §18.5].  Together with the
# BGP/OPTIONAL/path/negation/CONSTRUCT/ASK/DESCRIBE queries above this
# closes the full algebra a SwarmUI-style dashboard can send the
# reference's endpoint [pub:muswarmlogger/main.py via MU_SPARQL_ENDPOINT].
# --------------------------------------------------------------------------


@query("q_sparql_aggregate", oracle=f"""
SELECT 'c' || CAST(user_id AS VARCHAR) AS container,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
       {dsum_sql('value')} AS total_value
FROM events
GROUP BY user_id
HAVING COUNT(*) >= 60
""")
def q_sparql_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL aggregates [spec:SPARQL 1.1 §11]:

        SELECT ?c (COUNT(*) AS ?n)
               (GROUP_CONCAT(DISTINCT ?t; separator=",") AS ?types)
               (SUM(?v) AS ?total)
        WHERE { ?e swarmui:container ?c ; swarmui:eventType ?t ;
                   swarmui:value ?v }
        GROUP BY ?c HAVING (COUNT(*) >= 60)

    GROUP_CONCAT's separator/order is engine-defined in SPARQL; pinned
    here to sorted-distinct so the result is a set, not an ordering
    accident (array_sort∘collect_set — both engines agree exactly).
    SUM(?v) goes through the decimal path (core/numeric.dsum) for
    order-independent float aggregation.  One hash aggregate with
    map-side partial combine; no shuffle beyond the groupBy — at 100 TB
    this is the canonical scalable shape."""
    ev = load(spark, sf_dir, "events")
    from ..core.numeric import dsum

    return (
        ev.groupBy(F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(F.array_sort(F.collect_set("event_type")), ",")
            .alias("types"),
            dsum(F.col("value")).alias("total_value"),
        )
        .filter(F.col("n_events") >= 60)
        .select(
            F.concat(F.lit("c"), F.col("user_id").cast("string"))
            .alias("container"),
            "n_events", "types", "total_value",
        )
    )


@query("q_sparql_union", oracle=f"""
WITH sols AS (
  SELECT 'c' || CAST(user_id AS VARCHAR) AS container,
         CAST(NULL AS DOUBLE) AS v
  FROM events WHERE event_type = 'error'
  UNION ALL
  SELECT 'c' || CAST(user_id AS VARCHAR), value
  FROM events WHERE event_type = 'purchase'
)
SELECT container,
       CAST(COUNT(*) AS BIGINT) AS n_solutions,
       CAST(COUNT(v) AS BIGINT) AS n_bound,
       {dsum_sql('v')} AS sum_value
FROM sols GROUP BY container
""")
def q_sparql_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION with differently-bound variables [spec:SPARQL 1.1 §8.2]:

        SELECT ?c ?v WHERE {
          { ?e swarmui:eventType "error" ; swarmui:container ?c }
          UNION
          { ?e swarmui:eventType "purchase" ; swarmui:container ?c ;
               swarmui:value ?v } }

    The left branch leaves ?v UNBOUND — in the solution multiset that is
    a hole, not a value; engine-side unionByName(allowMissingColumns)
    pads the missing column with NULL, and COUNT(?v) counts only bound
    solutions (exactly SPARQL's aggregate-over-unbound rule, same rule
    q_triples_optional exercises for OPTIONAL).  Both branch scans push
    their event_type filter into the parquet scan; the union is a
    zero-cost plan node (no shuffle until the groupBy)."""
    ev = load(spark, sf_dir, "events")
    c = F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("container")
    errors = ev.filter(F.col("event_type") == "error").select(c)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        c, F.col("value").alias("v")
    )
    sols = errors.unionByName(purchases, allowMissingColumns=True)
    from ..core.numeric import dsum

    return sols.groupBy("container").agg(
        F.count(F.lit(1)).alias("n_solutions"),
        F.count("v").alias("n_bound"),
        dsum(F.col("v")).alias("sum_value"),
    )


@query("q_sparql_minus", oracle="""
WITH sols AS (
  SELECT event_id AS e, 'c' || CAST(user_id AS VARCHAR) AS container
  FROM events WHERE event_type = 'signup'
), shared_inner AS (
  SELECT event_id AS e FROM events WHERE value > 100
), click_exists AS (
  SELECT COUNT(*) > 0 AS hit FROM events WHERE event_type = 'click'
)
SELECT 'minus_shared' AS op,
       CAST((SELECT COUNT(*) FROM sols
             WHERE e NOT IN (SELECT e FROM shared_inner)) AS BIGINT) AS n
UNION ALL
SELECT 'not_exists_shared',
       CAST((SELECT COUNT(*) FROM sols s
             WHERE NOT EXISTS (SELECT 1 FROM shared_inner i
                               WHERE i.e = s.e)) AS BIGINT)
UNION ALL
SELECT 'minus_disjoint', CAST((SELECT COUNT(*) FROM sols) AS BIGINT)
UNION ALL
SELECT 'not_exists_disjoint',
       CAST((SELECT CASE WHEN (SELECT hit FROM click_exists)
                         THEN 0 ELSE (SELECT COUNT(*) FROM sols) END)
            AS BIGINT)
""")
def q_sparql_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINUS vs FILTER NOT EXISTS [spec:SPARQL 1.1 §8.3] — the spec's own
    subtlety, exercised both ways:

      solutions: { ?e swarmui:eventType "signup" ; swarmui:container ?c }
      shared inner  { ?e swarmui:value ?v . FILTER(?v > 100) } — shares ?e:
          MINUS and NOT EXISTS agree (drop signups with value > 100);
          engine-side both are ONE left-anti join on e.
      disjoint inner { ?x swarmui:eventType "click" } — shares NO variable:
          MINUS removes nothing (no shared domain ⇒ solutions are never
          compatible-and-overlapping), while FILTER NOT EXISTS removes
          EVERYTHING whenever any click event exists.

    The disjoint-case existence flag is a one-row global aggregate
    crossJoin(broadcast(...))-ed onto the count — no driver-side collect,
    so the same plan runs unchanged on a cluster."""
    ev = load(spark, sf_dir, "events")
    sols = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("e"),
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("container"),
    )
    inner = ev.filter(F.col("value") > 100).select(F.col("event_id").alias("e"))
    anti_n = (
        sols.join(inner, "e", "anti").agg(F.count(F.lit(1)).alias("n"))
    )
    shared_minus = anti_n.select(F.lit("minus_shared").alias("op"), "n")
    shared_ne = anti_n.select(F.lit("not_exists_shared").alias("op"), "n")
    all_n = sols.agg(F.count(F.lit(1)).alias("n"))
    disjoint_minus = all_n.select(F.lit("minus_disjoint").alias("op"), "n")
    click_hit = ev.filter(F.col("event_type") == "click").agg(
        (F.count(F.lit(1)) > 0).alias("hit")
    )
    disjoint_ne = (
        all_n.crossJoin(F.broadcast(click_hit))
        .select(
            F.lit("not_exists_disjoint").alias("op"),
            F.when(F.col("hit"), F.lit(0).cast("long"))
            .otherwise(F.col("n")).alias("n"),
        )
    )
    return (
        shared_minus.unionByName(shared_ne)
        .unionByName(disjoint_minus)
        .unionByName(disjoint_ne)
    )


@query("q_sparql_values_bind", oracle="""
WITH sev(t, severity) AS (
  VALUES ('error', 'high'), ('signup', 'medium'), ('view', 'low')
)
SELECT s.severity,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN('c' || CAST(e.user_id AS VARCHAR) || '/' || s.severity) AS first_key
FROM events e JOIN sev s ON e.event_type = s.t
GROUP BY s.severity
""")
def q_sparql_values_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES inline data + BIND computed variable [spec:SPARQL 1.1 §10.2,
    §11.5]:

        SELECT ?severity (COUNT(*) AS ?n) (MIN(?key) AS ?first_key)
        WHERE { ?e swarmui:eventType ?t ; swarmui:container ?c .
                VALUES (?t ?severity)
                  { ("error" "high") ("signup" "medium") ("view" "low") }
                BIND(CONCAT(?c, "/", ?severity) AS ?key) }
        GROUP BY ?severity

    VALUES is an inline solution multiset joined into the pattern — the
    textbook broadcast join (3 rows vs the fact scan; no shuffle of the
    events side).  BIND is a pure projection.  MIN over the BIND'd key is
    deterministic (string min)."""
    ev = load(spark, sf_dir, "events")
    sev = spark.createDataFrame(
        [("error", "high"), ("signup", "medium"), ("view", "low")],
        "t string, severity string",
    )
    return (
        ev.join(F.broadcast(sev), ev.event_type == sev.t)
        .withColumn(
            "key",
            F.concat(F.lit("c"), F.col("user_id").cast("string"),
                     F.lit("/"), F.col("severity")),
        )
        .groupBy("severity")
        .agg(F.count(F.lit(1)).alias("n"), F.min("key").alias("first_key"))
    )


@query("q_sparql_subquery", oracle="""
WITH created AS (
  SELECT event_id, 'c' || CAST(user_id AS VARCHAR) AS container,
         strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS created, event_type
  FROM events
), latest AS (
  SELECT container, MAX(created) AS last FROM created GROUP BY container
)
SELECT l.container, l.last, MIN(c.event_type) AS first_type
FROM latest l JOIN created c
  ON c.container = l.container AND c.created = l.last
GROUP BY l.container, l.last
""")
def q_sparql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL subquery [spec:SPARQL 1.1 §12] — inner SELECT computes each
    container's latest dct:created, the outer pattern joins back to fetch
    what happened then:

        SELECT ?c ?last (MIN(?t) AS ?first_type) WHERE {
          { SELECT ?c (MAX(?created) AS ?last)
            WHERE { ?e swarmui:container ?c ; dct:created ?created }
            GROUP BY ?c }
          ?e2 swarmui:container ?c ; dct:created ?last ;
              swarmui:eventType ?t }
        GROUP BY ?c ?last

    Second-granularity timestamps can tie, so the outer level aggregates
    MIN(?t) — deterministic under ties.  Engine-side this is the classic
    agg → self-join-back shape; the join key (container, created) arrives
    pre-partitioned from the inner groupBy, so AQE plans the probe
    without a second full shuffle of the aggregated side."""
    ev = load(spark, sf_dir, "events")
    created = ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("container"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("created"),
        "event_type",
    )
    latest = created.groupBy("container").agg(F.max("created").alias("last"))
    return (
        latest.join(
            created,
            (latest.container == created.container)
            & (latest.last == created.created),
        )
        .groupBy(latest.container, latest.last)
        .agg(F.min("event_type").alias("first_type"))
        .select(latest.container.alias("container"), F.col("last"),
                "first_type")
    )
