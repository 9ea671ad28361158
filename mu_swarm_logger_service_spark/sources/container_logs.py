"""Container log-line source (SURVEY.md §2.1 row 4).

The reference attaches to each container's stdout/stderr with
``logs(stream=True, follow=True, timestamps=True)`` and parses the leading
RFC3339 timestamp off every line [pub:muswarmlogger/loggers/docker.py].
Spark-first: a text source (one directory per container in production;
``input_file_name`` recovers the container id) parsed with one
regexp_extract pass — Catalyst-native, whole-stage codegen, no Python.

Line format (Docker's timestamped multiplexed log stream):
    2024-01-05T12:34:56.000000Z stdout some message text
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.registry import query
from ..core.tables import layout, load

_LINE_RE = r"^(\S+) (stdout|stderr) (.*)$"


def container_logs_text_dir(spark: SparkSession, sf_dir: str) -> str:
    """Synthesize the raw log stream from the events table (deterministic:
    error events → stderr, everything else → stdout): a core.tables.layout,
    minted once per events generation.  The mint-logic version rides the
    layout name (v4, class I: a NULL ts renders as the '-' missing marker
    — the CLF convention; concat_ws used to DROP the null timestamp
    token, which shifted 'stdout' into the timestamp slot and crashed the
    ANSI re-parse), so a change to the line-synthesis code invalidates
    dirs built by older logic, not just older data."""

    def write(d: str) -> None:
        ev = load(spark, sf_dir, "events")
        stamp = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
        line = F.concat_ws(
            " ",
            F.coalesce(stamp, F.lit("-")),
            F.when(F.col("event_type") == "error", "stderr")
            .otherwise("stdout"),
            F.concat(F.lit("evt="), F.col("event_id").cast("string"),
                     F.lit(" type="),
                     F.coalesce(F.col("event_type"), F.lit("null")),
                     F.lit(" value="),
                     F.coalesce(F.col("value").cast("string"), F.lit("null"))),
        )
        ev.select(line.alias("value")).coalesce(4).write.mode(
            "overwrite").text(d)

    return layout(sf_dir, "container_logs_v4", ("events",), write)


def parse_log_lines(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """One-regexp parse of the Docker log-line format (row 4's core
    transform).  Returns (ts timestamp, stream, message)."""
    v = F.col(value_col)
    # try_to_timestamp: the docker daemon always stamps, but the minted
    # stand-ins carry the '-' missing marker for unstamped events (class
    # I), and a tolerant parser (NULL ts, line kept) matches the
    # reference's behavior on malformed lines better than an ANSI crash.
    return raw.select(
        F.try_to_timestamp(
            F.regexp_extract(v, _LINE_RE, 1),
            F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
        ).alias("ts"),
        F.regexp_extract(v, _LINE_RE, 2).alias("stream"),
        F.regexp_extract(v, _LINE_RE, 3).alias("message"),
    )


def read_container_logs(spark: SparkSession, sf_dir: str,
                        streaming: bool = False) -> DataFrame:
    path = container_logs_text_dir(spark, sf_dir)
    reader = spark.readStream if streaming else spark.read
    return parse_log_lines(reader.text(path))


@query("q_source_container_logs", oracle="""
SELECT
  CASE WHEN event_type = 'error' THEN 'stderr' ELSE 'stdout' END AS stream,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
  COUNT(*) AS n_lines,
  CAST(SUM(CASE WHEN message LIKE '%type=purchase%' THEN 1 ELSE 0 END)
       AS BIGINT) AS n_purchase_lines
FROM (
  SELECT event_type, ts,
         'evt=' || CAST(event_id AS VARCHAR) || ' type='
           || COALESCE(event_type, 'null')
           || ' value=' || COALESCE(CAST(value AS VARCHAR), 'null') AS message
  FROM events
)
GROUP BY 1
""")
def q_source_container_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row 4 end-to-end: raw text → regexp timestamp/stream/message parse →
    per-stream aggregate.  The oracle rebuilds the same lines relationally,
    value-checking the parser (incl. the RFC3339 round-trip the reference
    does per line [pub:muswarmlogger/loggers/docker.py])."""
    logs = read_container_logs(spark, sf_dir)
    return logs.groupBy("stream").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("message").like("%type=purchase%"), 1).otherwise(0))
        .alias("n_purchase_lines"),
    )


# ---------------------------------------------------------------------------
# Syslog decode — the other wire format a container logger meets besides
# the Docker JSON stream: RFC3164-style lines with a <PRI> header whose
# single integer multiplexes facility and severity.  Lines are MINTED
# deterministically from events (the parse_url discipline — the fixture
# has no syslog column), then PARSED back with the real regex pipeline,
# so the decode path (regex capture -> PRI arithmetic -> name lookup) is
# value-checked end to end.
# ---------------------------------------------------------------------------

_SYSLOG_SEV = ("emerg", "alert", "crit", "err",
               "warning", "notice", "info", "debug")
_SEV_CASE_SQL = "CASE pri % 8 " + " ".join(
    f"WHEN {i} THEN '{n}'" for i, n in enumerate(_SYSLOG_SEV)) + " END"


@query("q_source_syslog", oracle=f"""
WITH minted AS (
  SELECT event_id,
         '<' || (event_id % 192) || '>'
         || strftime(ts, '%b %-d %H:%M:%S') || ' host'
         || (user_id % 10) || ' app[' || (event_id % 1000) || ']: '
         || COALESCE(event_type, 'null')
         || ' value=' || COALESCE(CAST(value AS VARCHAR), 'null') AS line
  FROM events
), parsed AS (
  SELECT event_id, line,
         CAST(regexp_extract(line, '^<(\\d+)>', 1) AS BIGINT) AS pri,
         regexp_extract(line, '^<\\d+>\\S+\\s+\\S+\\s+\\S+\\s+(host\\d+)',
                        1) AS host,
         regexp_extract(line, '(\\w+)\\[(\\d+)\\]', 1) AS prog,
         CAST(regexp_extract(line, '(\\w+)\\[(\\d+)\\]', 2) AS BIGINT)
           AS pid,
         regexp_extract(line, '\\]: (\\w+) value=', 1) AS msg_type
  FROM minted
)
SELECT CAST(pri // 8 AS BIGINT) AS facility, pri % 8 AS severity,
       {_SEV_CASE_SQL} AS severity_name,
       host, prog,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(MIN(event_id) AS BIGINT) AS first_event,
       CAST(COUNT(DISTINCT msg_type) AS BIGINT) AS n_msg_types
FROM parsed
GROUP BY 1, 2, 3, 4, 5
""")
def q_source_syslog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syslog line decode: mint RFC3164-style lines, parse them back
    (PRI regex, facility = pri//8, severity = pri%8 with the standard
    name table, host/program/pid captures), roll up per
    (facility, severity, host, program).

    Determinism: minting is pure string assembly from fixture columns
    (the %-d day strftime matches Spark's unpadded d pattern); both
    engines then run their OWN regex engines over identical lines —
    simple character-class patterns with no engine-divergent syntax
    (the regexp family precedent), with patterns kept OUT of F.expr
    strings (the backslash-eating gotcha: F.regexp_extract takes the
    pattern as a Python argument).  PRI decode is integer div/mod.
    Plan: one scan, pure per-row projection, one rollup shuffle on the
    (facility, severity, host, prog) key — log-pipeline-shaped: at
    100 TB this is a straight map + partial-agg pass."""
    ev = load(spark, sf_dir, "events")
    minted = ev.select(
        "event_id",
        F.concat(
            F.lit("<"), (F.col("event_id") % 192).cast("string"),
            F.lit(">"),
            F.date_format("ts", "MMM d HH:mm:ss"), F.lit(" host"),
            (F.col("user_id") % 10).cast("string"),
            F.lit(" app["), (F.col("event_id") % 1000).cast("string"),
            F.lit("]: "), F.coalesce(F.col("event_type"), F.lit("null")),
            F.lit(" value="),
            F.coalesce(F.col("value").cast("string"), F.lit("null")),
        ).alias("line"))
    parsed = minted.select(
        "event_id", "line",
        F.regexp_extract("line", r"^<(\d+)>", 1).cast("long").alias("pri"),
        F.regexp_extract("line", r"^<\d+>\S+\s+\S+\s+\S+\s+(host\d+)", 1)
        .alias("host"),
        F.regexp_extract("line", r"(\w+)\[(\d+)\]", 1).alias("prog"),
        F.regexp_extract("line", r"(\w+)\[(\d+)\]", 2).cast("long")
        .alias("pid"),
        F.regexp_extract("line", r"\]: (\w+) value=", 1).alias("msg_type"),
    )
    sev = F.col("pri") % 8
    # Gate on a parsed PRI: element_at with a NULL index does NOT return
    # NULL (measured: an unparseable line's severity named 'debug'
    # Spark-side while the oracle's CASE yields NULL) — class G.
    sev_name = F.when(sev.isNotNull(), F.element_at(
        F.array(*[F.lit(n) for n in _SYSLOG_SEV]), (sev + 1).cast("int")))
    return parsed.groupBy(
        (F.col("pri") / 8).cast("long").alias("facility"),
        sev.alias("severity"),
        sev_name.alias("severity_name"),
        "host", "prog",
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("event_id").cast("long").alias("first_event"),
        F.countDistinct("msg_type").cast("long").alias("n_msg_types"),
    )


# ---------------------------------------------------------------------------
# Combined/common access-log decode — the third wire format of the log
# family (docker JSON, syslog <PRI>, now CLF): mint Apache-style lines
# from fixture columns, parse them back with the real regex pipeline,
# and roll up the ops dashboard (per status-class x method traffic,
# bytes, path cardinality, p95 transfer size).
# ---------------------------------------------------------------------------


# DuckDB mint of the CLF line, shared by the accesslog decode and the
# template-mining oracles — one copy to keep in sync with clf_lines().
CLF_LINES_SQL = """
WITH minted AS (
  SELECT event_id,
         ((user_id * 2654435761) % 4294967296) AS ip32,
         CASE WHEN event_type IN ('purchase', 'signup') THEN 'POST'
              ELSE 'GET' END AS m0,
         '/' || event_type || '/' || (event_id % 50) AS p0,
         CASE WHEN event_type = 'error'
              THEN CASE WHEN event_id % 2 = 0 THEN 500 ELSE 404 END
              WHEN event_id % 20 = 0 THEN 304 ELSE 200 END AS s0,
         CASE WHEN value >= 0 AND value < 1e16
              THEN CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                        AS VARCHAR)
              ELSE '-' END AS b0,
         ts
  FROM events
)
SELECT event_id,
       (ip32 // 16777216) || '.' || ((ip32 // 65536) % 256) || '.'
       || ((ip32 // 256) % 256) || '.' || (ip32 % 256)
       || ' - - [' || strftime(ts, '%d/%b/%Y:%H:%M:%S') || ' +0000] "'
       || m0 || ' ' || p0 || ' HTTP/1.1" ' || s0 || ' ' || b0 AS line
FROM minted
"""


def clf_lines(ev: DataFrame) -> DataFrame:
    """Mint deterministic Apache CLF lines (event_id, line) from the
    events fixture — Knuth-hash IPs, type-derived method/path/status,
    decimal-exact byte counts.  Shared by q_source_accesslog (decode +
    ops rollup) and q_ops_log_templates (template mining); the SQL twin
    is CLF_LINES_SQL.  Byte-count convention (hostile classes F + L): a
    byte count mints ONLY from the CLF byte domain [0, 1e16) — missing,
    negative, NaN/Inf, and magnitude-garbage measures all render as '-',
    CLF's own notation for "no size" — so every line always parses; the
    decoder's gated integral parse reads '-' back as NULL bytes.  The
    domain predicate needs no isnan arm: NaN >= 0 is TRUE but
    NaN < 1e16 is FALSE in both engines (NaN orders greatest)."""
    ip32 = (F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296)
    o = lambda div: (F.col("ip32") / div).cast("long") % 256  # noqa: E731
    minted = ev.select(
        "event_id", "ts", ip32.alias("ip32"),
        F.when(F.col("event_type").isin("purchase", "signup"), "POST")
        .otherwise("GET").alias("m0"),
        F.concat(F.lit("/"), F.col("event_type"), F.lit("/"),
                 (F.col("event_id") % 50).cast("string")).alias("p0"),
        F.when(F.col("event_type") == "error",
               F.when(F.col("event_id") % 2 == 0, 500).otherwise(404))
        .when(F.col("event_id") % 20 == 0, 304).otherwise(200)
        .alias("s0"),
        F.when((F.col("value") >= 0) & (F.col("value") < F.lit(1e16)),
               (F.col("value").cast("decimal(18,2)") * 100)
               .cast("long").cast("string"))
        .otherwise(F.lit("-"))
        .alias("b0"))
    line = F.concat(
        o(16777216).cast("string"), F.lit("."), o(65536).cast("string"),
        F.lit("."), o(256).cast("string"), F.lit("."),
        (F.col("ip32") % 256).cast("string"),
        F.lit(" - - ["), F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss"),
        F.lit(" +0000] \""), F.col("m0"), F.lit(" "), F.col("p0"),
        F.lit(" HTTP/1.1\" "), F.col("s0").cast("string"), F.lit(" "),
        F.col("b0").cast("string"))
    return minted.select("event_id", line.alias("line"))


@query("q_source_accesslog", oracle="""
WITH minted AS (
  SELECT event_id,
         ((user_id * 2654435761) % 4294967296) AS ip32,
         CASE WHEN event_type IN ('purchase', 'signup') THEN 'POST'
              ELSE 'GET' END AS m0,
         '/' || event_type || '/' || (event_id % 50) AS p0,
         CASE WHEN event_type = 'error'
              THEN CASE WHEN event_id % 2 = 0 THEN 500 ELSE 404 END
              WHEN event_id % 20 = 0 THEN 304 ELSE 200 END AS s0,
         CASE WHEN value >= 0 AND value < 1e16
              THEN CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                        AS VARCHAR)
              ELSE '-' END AS b0,
         ts
  FROM events
), lines AS (
  SELECT event_id,
         (ip32 // 16777216) || '.' || ((ip32 // 65536) % 256) || '.'
         || ((ip32 // 256) % 256) || '.' || (ip32 % 256)
         || ' - - [' || strftime(ts, '%d/%b/%Y:%H:%M:%S') || ' +0000] "'
         || m0 || ' ' || p0 || ' HTTP/1.1" ' || s0 || ' ' || b0 AS line
  FROM minted
), parsed AS (
  SELECT event_id,
         regexp_extract(line, '^(\\S+) - - ', 1) AS ip,
         regexp_extract(line, '"(\\w+) ([^ ]+) HTTP', 1) AS method,
         regexp_extract(line, '"(\\w+) ([^ ]+) HTTP', 2) AS path,
         CAST(regexp_extract(line, 'HTTP/1.1" (\\d+) ', 1) AS BIGINT)
           AS status,
         CASE WHEN regexp_matches(regexp_extract(line, ' (\\S+)$', 1),
                                  '^[0-9]+$')
              THEN CAST(regexp_extract(line, ' (\\S+)$', 1) AS BIGINT)
         END AS bytes
  FROM lines
)
SELECT (status // 100) || 'xx' AS status_class, method,
       CAST(COUNT(*) AS BIGINT) AS n_req,
       CAST(SUM(bytes) AS BIGINT) AS total_bytes,
       CAST(COUNT(DISTINCT path) AS BIGINT) AS n_paths,
       CAST(COUNT(DISTINCT ip) AS BIGINT) AS n_ips,
       round(quantile_cont(bytes, 0.95), 6) AS p95_bytes
FROM parsed
GROUP BY 1, 2
""")
def q_source_accesslog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache combined-log decode + ops rollup per (status class,
    method).

    Determinism: the mint is pure integer/string assembly (Knuth-hash
    IPs, decimal-exact byte counts, a deterministic status mix with all
    four classes firing); both engines parse with their own regex over
    identical lines (patterns as Python args — the F.expr backslash
    gotcha), the rollup is integer counts/sums over distinct parses,
    and the p95 rides the interpolating-percentile pair
    (percentile() ↔ quantile_cont, rounded at 6 dp — the
    q_agg_percentile precedent) on exact integer bytes.  Plan: one
    scan, per-row mint+parse map, one two-phase rollup (the distinct
    counts) — the same log-pipeline shape as q_source_syslog."""
    lines = clf_lines(load(spark, sf_dir, "events"))
    parsed = lines.select(
        "event_id",
        F.regexp_extract("line", r"^(\S+) - - ", 1).alias("ip"),
        F.regexp_extract("line", r'"(\w+) ([^ ]+) HTTP', 1).alias("method"),
        F.regexp_extract("line", r'"(\w+) ([^ ]+) HTTP', 2).alias("path"),
        F.regexp_extract("line", r'HTTP/1.1" (\d+) ', 1).cast("long")
        .alias("status"),
        F.when(F.regexp_extract("line", r" (\S+)$", 1).rlike("^[0-9]+$"),
               F.regexp_extract("line", r" (\S+)$", 1)).cast("long")
        .alias("bytes"),
    )
    return parsed.groupBy(
        F.concat((F.col("status") / 100).cast("long").cast("string"),
                 F.lit("xx")).alias("status_class"),
        "method",
    ).agg(
        F.count(F.lit(1)).alias("n_req"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.countDistinct("path").cast("long").alias("n_paths"),
        F.countDistinct("ip").cast("long").alias("n_ips"),
        F.round(F.expr("percentile(bytes, 0.95)"), 6).alias("p95_bytes"),
    )


# ---------------------------------------------------------------------------
# Log-template mining (Drain-lite) — collapse raw log lines to their
# constant skeleton by masking variable tokens (numbers, IPs, bracketed
# timestamps), then group: the "what distinct things does this service
# actually log, and how often" operator every log platform ships, and the
# precondition for novelty detection (a NEW template is the alert).
# ---------------------------------------------------------------------------


@query("q_ops_log_templates", oracle=f"""
WITH lines AS ({CLF_LINES_SQL}
), masked AS (
  SELECT event_id, line,
         regexp_replace(
           regexp_replace(
             regexp_replace(line, '\\[[^\\]]*\\]', '<TS>', 'g'),
             '(\\d+\\.){{3}}\\d+', '<IP>', 'g'),
           '\\d+', '<N>', 'g') AS template
  FROM lines
), grouped AS (
  SELECT template,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(MIN(event_id) AS BIGINT) AS first_event,
         arg_min(line, event_id) AS example
  FROM masked GROUP BY template
)
SELECT template, n_lines, first_event, example,
       CAST(n_lines AS DOUBLE) / SUM(n_lines) OVER () AS share
FROM grouped
""")
def q_ops_log_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template mining over the CLF line stream: mask bracketed
    timestamps, dotted IPs, then digit runs; group identical skeletons;
    report count, share, and the earliest concrete example per
    template.

    Determinism: masking is three regexp_replace passes over identical
    minted lines — Spark replaces all matches by default, DuckDB needs
    the 'g' flag (documented gotcha), and patterns ride as Python
    args / SQL literals, never through F.expr (the backslash-eating
    trap).  The example line is arg-min by the UNIQUE event id
    (min_by ↔ arg_min); share is one exact integer division (the
    template-count window is template-cardinality sized).

    Plan: one scan, per-row mint+mask map, one template rollup; the
    share window runs over the TEMPLATE table (tens of rows — the
    value-domain-bounded discipline).  At 100 TB templates stay
    domain-bounded while lines grow — exactly why platforms store
    templates, not lines."""
    lines = clf_lines(load(spark, sf_dir, "events"))
    template = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("line", r"\[[^\]]*\]", "<TS>"),
            r"(\d+\.){3}\d+", "<IP>"),
        r"\d+", "<N>")
    masked = lines.select("event_id", "line",
                          template.alias("template"))
    grouped = masked.groupBy("template").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.min("event_id").cast("long").alias("first_event"),
        F.min_by("line", "event_id").alias("example"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    return grouped.select(
        "template", "n_lines", "first_event", "example",
        (F.col("n_lines").cast("double") / F.sum("n_lines").over(w_all))
        .alias("share"),
    )
