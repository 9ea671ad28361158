"""Docker event-stream source (SURVEY.md §2.1 rows 3, 5).

The reference loops over the Docker daemon's /events socket and wraps each
JSON dict as a ContainerEvent [pub:muswarmlogger/main.py,
muswarmlogger/events.py].  Spark-first replacement: an explicit-schema JSON
source (file-backed here; socket→object-store landing in production) whose
records follow the Docker Engine API event shape [spec:Docker Engine API
/events]:

    {"Type": "container", "Action": "start",
     "Actor": {"ID": "...", "Attributes": {"name": ..., "image": ...}},
     "time": <unix secs>, "timeNano": <unix nanos>}

The fixture stream is SYNTHESIZED DETERMINISTICALLY from the driver's
events table (event_type → lifecycle action), which is what makes the
whole source → decode → filter → enrich pipeline oracle-checkable: DuckDB
reproduces the same mapping relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.numeric import epoch_s
from ..core.registry import query
from ..core.tables import layout, load

# [spec:Docker Engine API /events] — MapType because label keys are open.
EVENT_SCHEMA = T.StructType([
    T.StructField("Type", T.StringType()),
    T.StructField("Action", T.StringType()),
    T.StructField("Actor", T.StructType([
        T.StructField("ID", T.StringType()),
        T.StructField("Attributes", T.MapType(T.StringType(), T.StringType())),
    ])),
    T.StructField("time", T.LongType()),
    T.StructField("timeNano", T.LongType()),
])

# events.event_type → Docker container lifecycle action (deterministic).
_ACTION = {
    "signup": "create", "click": "start", "view": "exec_start",
    "purchase": "commit", "error": "die",
}
_ACTION_SQL = ("CASE event_type "
               + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _ACTION.items())
               + " END")


def docker_events_json_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the synthetic Docker event stream as JSONL (the engine's
    stand-in for the daemon socket): a core.tables.layout, minted once per
    events generation.  The mint-logic version rides the layout name (v3:
    sign-safe epoch_s), so a change to the line-synthesis code invalidates
    dirs built by older logic, not just older data."""

    def write(d: str) -> None:
        ev = load(spark, sf_dir, "events")
        action = F.coalesce(*[F.when(F.col("event_type") == k, F.lit(v))
                              for k, v in _ACTION.items()])
        user = F.col("user_id").cast("string")
        docker_shaped = ev.select(F.to_json(F.struct(
            F.lit("container").alias("Type"),
            action.alias("Action"),
            F.struct(
                F.concat(F.lit("c"), user).alias("ID"),
                F.create_map(
                    F.lit("name"), F.concat(F.lit("svc-"), user),
                    F.lit("event_id"), F.col("event_id").cast("string"),
                ).alias("Attributes"),
            ).alias("Actor"),
            # sign-safe floor pair (core.numeric epoch_s): the Docker API
            # emits unix seconds; a pre-epoch clock-garbage stamp must land
            # on the same second in the mint and in the oracle's
            # floor(epoch) (class H: unix_timestamp truncates, -1us -> 0).
            epoch_s("ts").alias("time"),
            (epoch_s("ts") * F.lit(1_000_000_000)).alias("timeNano"),
        )).alias("value"))
        docker_shaped.coalesce(4).write.mode("overwrite").text(d)

    return layout(sf_dir, "docker_events_v3", ("events",), write)


def read_docker_events(spark: SparkSession, sf_dir: str,
                       streaming: bool = False) -> DataFrame:
    """Decode the Docker event stream with the explicit schema (row 3).
    Schema-on-read, no inference pass — mandatory for a production stream."""
    path = docker_events_json_dir(spark, sf_dir)
    reader = spark.readStream if streaming else spark.read
    return reader.schema(EVENT_SCHEMA).json(path)


def lifecycle_filter(events: DataFrame) -> DataFrame:
    """The reference's per-handler status guard [pub:muswarmlogger/loggers/
    docker.py]: keep container lifecycle events only."""
    return events.filter(
        (F.col("Type") == "container")
        & F.col("Action").isin("create", "start", "die")
    )


@query("q_source_docker_events", oracle=f"""
SELECT
  'container' AS event_kind,
  {_ACTION_SQL} AS action,
  'c' || CAST(user_id AS VARCHAR) AS container_id,
  'svc-' || CAST(user_id AS VARCHAR) AS container_name,
  CAST(floor(epoch(ts)) AS BIGINT) AS time_s,
  COUNT(*) AS n
FROM events
WHERE {_ACTION_SQL} IN ('create', 'start', 'die')
GROUP BY 1, 2, 3, 4, 5
""")
def q_source_docker_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row 3 end-to-end: JSON source → schema decode → lifecycle filter →
    typed projection (map access incl.) → aggregate.  The DuckDB oracle
    reproduces the synthesis mapping relationally, so the entire ingestion
    path is value-checked, not just row-counted."""
    ev = lifecycle_filter(read_docker_events(spark, sf_dir))
    return (
        ev.select(
            F.col("Type").alias("event_kind"),
            F.col("Action").alias("action"),
            F.col("Actor.ID").alias("container_id"),
            F.element_at(F.col("Actor.Attributes"), "name").alias("container_name"),
            F.col("time").alias("time_s"),
        )
        .groupBy("event_kind", "action", "container_id", "container_name", "time_s")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query("q_source_startup_scan", oracle="""
SELECT 'c' || CAST(user_id AS VARCHAR) AS container_id,
       'svc-' || CAST(user_id AS VARCHAR) AS container_name,
       MIN(ts) AS first_seen,
       MAX(ts) AS last_seen,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
""")
def q_source_startup_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row 5: the reference's on-startup reconciliation — enumerate known
    containers and their activity bounds so log readers can re-attach
    [pub:muswarmlogger/main.py on_startup].  Engine-side: one aggregation
    building the container dimension from the event history."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.concat(F.lit("c"), F.col("user_id").cast("string"))
            .alias("container_id"),
            F.concat(F.lit("svc-"), F.col("user_id").cast("string"))
            .alias("container_name"),
        )
        .agg(F.min("ts").alias("first_seen"), F.max("ts").alias("last_seen"),
             F.count(F.lit(1)).alias("n_events"))
    )
