"""RDF triple sink (SURVEY.md §2.1 rows 6-7; §1.3 graph layer).

The reference turns every event/log line into RDF triples and POSTs an
``INSERT DATA { GRAPH <g> { ... } }`` per record to its SPARQL endpoint
[pub:muswarmlogger/loggers/docker.py via aiosparql Triples].  Engine-side:
the wide→narrow (g,s,p,o) transform is a Catalyst UNION of per-predicate
projections, and the sink is bulk, columnar, partitioned, and idempotent —
replacing O(1 HTTP round-trip per line) with O(1 append per micro-batch)
(the reference's main perf defect, SURVEY.md §4.1).

Vocabulary (mu.semte.ch conventions the reference uses [spec:mu.semte.ch]):
  swarmui: http://swarmui.semte.ch/vocabularies/core/
  dct:     http://purl.org/dc/terms/
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.registry import query
from ..core.tables import load, round_trip

GRAPH = "http://mu.semte.ch/application"
SWARMUI = "http://swarmui.semte.ch/vocabularies/core/"
DCT = "http://purl.org/dc/terms/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def events_to_triples(events: DataFrame) -> DataFrame:
    """Wide event rows → narrow (g, s, p, o) triples.

    Subject IRIs are minted DETERMINISTICALLY (sha256 of the natural key),
    not with uuid() — replayable ingestion needs stable IRIs (SURVEY.md
    §4.3).  One row becomes 4 triples via a single inline explode (no
    4-way union scan: the source is read once).
    """
    subj = F.concat(
        F.lit("http://swarmui.semte.ch/resources/events/"),
        F.sha2(F.col("event_id").cast("string"), 256),
    )
    triple = lambda p, o: F.struct(  # noqa: E731
        F.lit(p).alias("p"), o.cast("string").alias("o")
    )
    return events.select(
        F.lit(GRAPH).alias("g"),
        subj.alias("s"),
        F.explode(F.array(
            triple(RDF_TYPE, F.lit(SWARMUI + "Event")),
            triple(SWARMUI + "eventType", F.col("event_type")),
            triple(SWARMUI + "container",
                   F.concat(F.lit("c"), F.col("user_id").cast("string"))),
            triple(DCT + "created",
                   F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")),
        )).alias("po"),
    ).select("g", "s", F.col("po.p").alias("p"), F.col("po.o").alias("o"))


_TRIPLES_SQL = f"""
WITH t AS (
  SELECT 'http://swarmui.semte.ch/resources/events/'
           || sha256(CAST(event_id AS VARCHAR)) AS s,
         event_type, user_id, ts
  FROM events
), triples AS (
  SELECT s, '{RDF_TYPE}' AS p, '{SWARMUI}Event' AS o FROM t
  UNION ALL
  SELECT s, '{SWARMUI}eventType', event_type FROM t
  UNION ALL
  SELECT s, '{SWARMUI}container', 'c' || CAST(user_id AS VARCHAR) FROM t
  UNION ALL
  SELECT s, '{DCT}created', strftime(ts, '%Y-%m-%dT%H:%M:%SZ') FROM t
)
SELECT p, COUNT(*) AS n, COUNT(DISTINCT s) AS n_subjects,
       MIN(o) AS min_o, MAX(o) AS max_o
FROM triples GROUP BY p
"""


@query("q_sink_triples", oracle=_TRIPLES_SQL)
def q_sink_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows 6 end-to-end: events → (g,s,p,o) triples → partitioned parquet
    sink (partitioned by predicate: the narrow table's pruning key) →
    read-back → per-predicate audit.  The oracle rebuilds the triples
    relationally, value-checking IRI minting, literal formatting, and sink
    round-trip fidelity."""
    triples = events_to_triples(load(spark, sf_dir, "events"))
    # predicate-partitioned layout: queries touching one predicate (the
    # SPARQL access pattern) prune 3/4 of the data at the directory level.
    part = triples.withColumn(
        "p_part", F.regexp_replace("p", "[^a-zA-Z]", "_"))
    # class K: read back with the WRITER's schema — a zero-row source
    # writes a layout with no part files, which schema inference cannot
    # read (UNABLE_TO_INFER_SCHEMA).  Every sink→read-back pair carries
    # its schema explicitly.
    return round_trip(
        "triple_sink",
        lambda d: part.write.mode("overwrite").partitionBy("p_part").parquet(d),
        lambda d: spark.read.schema(part.schema).parquet(d).groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"),
             F.countDistinct("s").alias("n_subjects"),
             F.min("o").alias("min_o"), F.max("o").alias("max_o")))


@query("q_triples_bgp", oracle=f"""
WITH t AS (
  SELECT 'http://swarmui.semte.ch/resources/events/'
           || sha256(CAST(event_id AS VARCHAR)) AS s,
         event_type, user_id, ts
  FROM events
), triples AS (
  SELECT s, '{RDF_TYPE}' AS p, '{SWARMUI}Event' AS o FROM t
  UNION ALL
  SELECT s, '{SWARMUI}eventType', event_type FROM t
  UNION ALL
  SELECT s, '{SWARMUI}container', 'c' || CAST(user_id AS VARCHAR) FROM t
  UNION ALL
  SELECT s, '{DCT}created', strftime(ts, '%Y-%m-%dT%H:%M:%SZ') FROM t
)
SELECT tc.o AS container, COUNT(*) AS n_errors,
       MAX(cr.o) AS last_created
FROM triples te
JOIN triples tc ON tc.s = te.s AND tc.p = '{SWARMUI}container'
JOIN triples cr ON cr.s = te.s AND cr.p = '{DCT}created'
WHERE te.p = '{SWARMUI}eventType' AND te.o = 'error'
GROUP BY tc.o
""")
def q_triples_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL basic-graph-pattern parity on the narrow triple table: the
    SwarmUI-style dashboard query "error events per container with last
    timestamp" — i.e. the SPARQL

        SELECT ?container (COUNT(*) AS ?n) (MAX(?created) AS ?last)
        WHERE { ?e swarmui:eventType "error" ;
                   swarmui:container ?container ;
                   dct:created ?created } GROUP BY ?container

    executed as self-joins on subject over (s,p,o) — each triple pattern is
    a filtered scan, each shared variable an equi join, exactly how a
    triplestore's BGP plan decomposes [spec:SPARQL 1.1 §18.2].  On the
    predicate-partitioned sink layout each pattern scan prunes to one
    partition directory.
    """
    triples = events_to_triples(load(spark, sf_dir, "events"))
    te = triples.filter(
        (F.col("p") == SWARMUI + "eventType") & (F.col("o") == "error")
    ).select(F.col("s").alias("es"))
    tc = triples.filter(F.col("p") == SWARMUI + "container").select(
        F.col("s").alias("cs"), F.col("o").alias("container")
    )
    cr = triples.filter(F.col("p") == DCT + "created").select(
        F.col("s").alias("rs"), F.col("o").alias("created")
    )
    return (
        te.join(tc, F.col("es") == F.col("cs"))
        .join(cr, F.col("es") == F.col("rs"))
        .groupBy("container")
        .agg(F.count(F.lit(1)).alias("n_errors"),
             F.max("created").alias("last_created"))
    )


@query("q_triples_optional", oracle=f"""
WITH t AS (
  SELECT 'http://swarmui.semte.ch/resources/events/'
           || sha256(CAST(event_id AS VARCHAR)) AS s,
         event_type, user_id, ts
  FROM events
), triples AS (
  SELECT s, '{SWARMUI}eventType' AS p, event_type AS o FROM t
  UNION ALL
  SELECT s, '{SWARMUI}container', 'c' || CAST(user_id AS VARCHAR) FROM t
  UNION ALL
  SELECT s, '{SWARMUI}errorValue', CAST(user_id % 5 AS VARCHAR)
  FROM t WHERE event_type = 'error'
)
SELECT tc.o AS container,
       COUNT(*) AS n_events,
       COUNT(ev.o) AS n_with_error_value
FROM triples te
JOIN triples tc ON tc.s = te.s AND tc.p = '{SWARMUI}container'
LEFT JOIN triples ev ON ev.s = te.s AND ev.p = '{SWARMUI}errorValue'
WHERE te.p = '{SWARMUI}eventType'
GROUP BY tc.o
""")
def q_triples_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL over the triple table [spec:SPARQL 1.1 LeftJoin]:

        SELECT ?container (COUNT(*) AS ?n) (COUNT(?v) AS ?nv)
        WHERE { ?e swarmui:eventType ?t ; swarmui:container ?container .
                OPTIONAL { ?e swarmui:errorValue ?v } } GROUP BY ?container

    — the optional pattern becomes a LEFT JOIN on subject; COUNT(?v) counts
    only bound solutions, exactly SPARQL's unbound-variable semantics.
    errorValue triples exist only for error events (sparse predicate)."""
    ev = load(spark, sf_dir, "events")
    subj = F.concat(
        F.lit("http://swarmui.semte.ch/resources/events/"),
        F.sha2(F.col("event_id").cast("string"), 256),
    )
    base = ev.select(subj.alias("s"), "event_type", "user_id")
    te = base.select(F.col("s").alias("es"))
    tc = base.select(F.col("s").alias("cs"),
                     F.concat(F.lit("c"), F.col("user_id").cast("string"))
                     .alias("container"))
    errv = base.filter(F.col("event_type") == "error").select(
        F.col("s").alias("vs"), (F.col("user_id") % 5).cast("string").alias("v")
    )
    return (
        te.join(tc, F.col("es") == F.col("cs"))
        .join(errv, F.col("es") == F.col("vs"), "left")
        .groupBy("container")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.count("v").alias("n_with_error_value"))
    )


@query("q_sparql_delete_where", oracle=f"""
WITH t AS (
  SELECT 'http://swarmui.semte.ch/resources/events/'
           || sha256(CAST(event_id AS VARCHAR)) AS s,
         event_type, user_id, ts
  FROM events
), triples AS (
  SELECT s, '{RDF_TYPE}' AS p, '{SWARMUI}Event' AS o FROM t
  UNION ALL
  SELECT s, '{SWARMUI}eventType', event_type FROM t
  UNION ALL
  SELECT s, '{SWARMUI}container', 'c' || CAST(user_id AS VARCHAR) FROM t
  UNION ALL
  SELECT s, '{DCT}created', strftime(ts, '%Y-%m-%dT%H:%M:%SZ') FROM t
), doomed AS (
  SELECT DISTINCT s FROM triples
  WHERE p = '{SWARMUI}eventType' AND o = 'view'
), retained AS (
  SELECT * FROM triples WHERE s NOT IN (SELECT s FROM doomed)
)
SELECT p, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT s) AS BIGINT) AS n_subjects
FROM retained GROUP BY p
""")
def q_sparql_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 Update ``DELETE WHERE { ?s swarmui:eventType "view" .
    ?s ?p ?o }`` — the retention-policy purge the reference's triplestore
    would run to drop noisy view events and every triple about them
    [spec:SPARQL 1.1 Update §3.1.3].  In algebra: evaluate the pattern to
    a subject binding set, then store MINUS bound triples — engine-side a
    filtered scan for the doomed subjects and one anti join on subject
    over the narrow store (on the predicate-partitioned layout the
    pattern scan prunes to one predicate directory).  Returns the
    per-predicate audit of the RETAINED store, proving the delete took
    all four triples of each doomed event and nothing else."""
    triples = events_to_triples(load(spark, sf_dir, "events"))
    doomed = triples.filter(
        (F.col("p") == SWARMUI + "eventType") & (F.col("o") == "view")
    ).select("s").distinct()
    retained = triples.join(doomed, "s", "anti")
    return retained.groupBy("p").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("s").alias("n_subjects"),
    )


@query("q_sparql_path_features", oracle=f"""
WITH t AS (
  SELECT 'http://swarmui.semte.ch/resources/events/'
           || sha256(CAST(event_id AS VARCHAR)) AS s,
         event_type, user_id, ts
  FROM events
), triples AS (
  SELECT s, '{RDF_TYPE}' AS p, '{SWARMUI}Event' AS o FROM t
  UNION ALL
  SELECT s, '{SWARMUI}eventType', event_type FROM t
  UNION ALL
  SELECT s, '{SWARMUI}container', 'c' || CAST(user_id AS VARCHAR) FROM t
  UNION ALL
  SELECT s, '{DCT}created', strftime(ts, '%Y-%m-%dT%H:%M:%SZ') FROM t
), inv AS (          -- ^swarmui:container : container -> event
  SELECT o AS container, s AS ev FROM triples
  WHERE p = '{SWARMUI}container'
), alt AS (          -- (swarmui:eventType | rdf:type) : event -> label
  SELECT s AS ev, o FROM triples
  WHERE p IN ('{SWARMUI}eventType', '{RDF_TYPE}')
), created AS (      -- dct:created : event -> literal
  SELECT s AS ev, o FROM triples WHERE p = '{DCT}created'
)
SELECT i.container,
       CAST(COUNT(DISTINCT i.ev) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT a.o) AS BIGINT) AS n_labels,
       MIN(c.o) AS first_created
FROM inv i JOIN alt a ON a.ev = i.ev
           JOIN created c ON c.ev = i.ev
GROUP BY i.container
""")
def q_sparql_path_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property-path feature set beyond the transitive closure
    (q_sparql_path covers `+`): INVERSE `^container` walks from each
    container node back to its event subjects, SEQUENCE `/dct:created`
    continues to the timestamp literal, and ALTERNATION
    `(eventType | rdf:type)` unions two predicate patterns — evaluated
    exactly as the algebra prescribes [spec:SPARQL 1.1 §9.1: inverse =
    swapped pattern, sequence = join, alternation = union].  Per
    container: events reached, distinct labels over the alternation,
    earliest creation literal.  The three pattern scans prune to single
    predicate partitions on the sink layout; joins co-key on the event
    subject before one container-keyed aggregate."""
    triples = events_to_triples(load(spark, sf_dir, "events"))
    inv = triples.filter(F.col("p") == SWARMUI + "container").select(
        F.col("o").alias("container"), F.col("s").alias("ev")
    )
    alt = triples.filter(
        F.col("p").isin(SWARMUI + "eventType", RDF_TYPE)
    ).select(F.col("s").alias("ev"), F.col("o").alias("label"))
    created = triples.filter(F.col("p") == DCT + "created").select(
        F.col("s").alias("ev"), F.col("o").alias("created_o")
    )
    return (
        inv.join(alt, "ev").join(created, "ev")
        .groupBy("container")
        .agg(
            F.count_distinct("ev").alias("n_events"),
            F.count_distinct("label").alias("n_labels"),
            F.min("created_o").alias("first_created"),
        )
    )


@query("q_sparql_negated_propset", oracle=f"""
WITH t AS (
  SELECT 'http://swarmui.semte.ch/resources/events/'
           || sha256(CAST(event_id AS VARCHAR)) AS s,
         event_type, user_id, ts
  FROM events
), triples AS (
  SELECT s, '{RDF_TYPE}' AS p, '{SWARMUI}Event' AS o FROM t
  UNION ALL
  SELECT s, '{SWARMUI}eventType', event_type FROM t
  UNION ALL
  SELECT s, '{SWARMUI}container', 'c' || CAST(user_id AS VARCHAR) FROM t
  UNION ALL
  SELECT s, '{DCT}created', strftime(ts, '%Y-%m-%dT%H:%M:%SZ') FROM t
)
SELECT p, CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(COUNT(DISTINCT o) AS BIGINT) AS n_objects
FROM triples
WHERE p NOT IN ('{RDF_TYPE}', '{DCT}created')
GROUP BY p
""")
def q_sparql_negated_propset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL negated property set `?s !(rdf:type|dct:created) ?o`
    [spec:SPARQL 1.1 §9.1 NPS: any edge whose predicate is NOT in the
    set] — the last property-path feature beyond +/inverse/sequence/
    alternation (q_sparql_path, q_sparql_path_features).  Relationally
    it is a predicate anti-membership filter before a per-predicate
    rollup; on the partitioned sink layout (partitionBy p) the NOT IN
    prunes whole predicate partitions at plan time — the scan never
    reads the excluded edges."""
    triples = events_to_triples(load(spark, sf_dir, "events"))
    return (
        triples.filter(~F.col("p").isin(RDF_TYPE, DCT + "created"))
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.count_distinct("o").alias("n_objects"),
        )
    )
