"""Scalar function family queries (SURVEY.md §2.8 rows 49-57).

One query per family, each exercising the family's functions with an exact
DuckDB oracle.  SPARQL builtin → Spark mapping per SURVEY.md §2.8; the
reference itself uses only a handful of these (timestamp parsing of log
lines, IRI minting [pub:muswarmlogger/loggers/docker.py]) — the rest are
the query surface its triplestore provides.

Cross-engine gotchas handled here:
- DuckDB ``regexp_replace`` replaces the FIRST match unless the 'g' flag is
  passed; Spark replaces all → always pass 'g'.
- Spark ``ceil/floor`` return BIGINT, DuckDB return DOUBLE → cast.
- DATE-typed outputs → ISO strings (representation-ambiguous via pandas).
- transcendentals (exp/ln/sqrt) are IEEE-deterministic for identical input
  bits, but we round(6) anyway to be safe against libm differences.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.folds import fsum
from ..core.numeric import epoch_s
from ..core.registry import query
from ..core.tables import load


@query("q_fn_string", oracle="""
SELECT
  doc_id,
  upper(lang) AS lang_u,
  lower(source) AS source_l,
  length(text) AS n_chars,
  substr(text, 1, 20) AS prefix20,
  lang || ':' || source AS lang_source,  -- || propagates NULL like Spark concat
  split_part(text, ' ', 1) AS first_word,
  regexp_replace(text, 'a+', '_', 'g') AS no_as,
  trim('  ' || lang || '  ') AS trimmed,
  lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded_id,
  reverse(lang) AS lang_rev,
  len(string_split(text, ' ')) AS n_words
FROM documents
""")
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family (row 49): CONCAT/SUBSTR/UCASE/LCASE/STRLEN/REPLACE/
    STRBEFORE/trim/lpad/split — the SPARQL 17.4.3 library.  Null-tag
    policy (hostile class G): assembling with a missing tag yields NULL —
    Spark concat propagates NULLs but DuckDB's concat() SKIPS them, so
    the oracle uses || (which propagates) for every assembly."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper("lang").alias("lang_u"),
        F.lower("source").alias("source_l"),
        F.length("text").alias("n_chars"),
        F.substring("text", 1, 20).alias("prefix20"),
        F.concat(F.col("lang"), F.lit(":"), F.col("source")).alias("lang_source"),
        F.substring_index("text", " ", 1).alias("first_word"),
        F.regexp_replace("text", "a+", "_").alias("no_as"),
        F.trim(F.concat(F.lit("  "), F.col("lang"), F.lit("  "))).alias("trimmed"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded_id"),
        F.reverse("lang").alias("lang_rev"),
        F.size(F.split("text", " ")).alias("n_words"),
    )


@query("q_fn_hash_uuid", oracle="""
SELECT
  doc_id,
  md5(text) AS text_md5,
  sha256(text) AS text_sha256,
  concat('urn:doc:', sha256(concat(CAST(doc_id AS VARCHAR), '|', text)))
    AS doc_iri
FROM documents
""")
def q_fn_hash_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash / IRI-minting family (row 50).  The reference mints per-log-line
    resource IRIs [pub:muswarmlogger/loggers/docker.py]; nondeterministic
    ``uuid()`` is replaced by the deterministic content-hash IRI so the
    oracle can check it (SURVEY.md §4.3)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
        F.concat(
            F.lit("urn:doc:"),
            F.sha2(F.concat(F.col("doc_id").cast("string"), F.lit("|"),
                            F.col("text")), 256),
        ).alias("doc_iri"),
    )


@query("q_fn_datetime", oracle="""
SELECT
  event_id,
  year(ts) AS y, month(ts) AS mo, day(ts) AS d,
  hour(ts) AS h, minute(ts) AS mi, CAST(floor(second(ts)) AS BIGINT) AS s,
  date_trunc('hour', ts) AS ts_hour,
  strftime(ts + INTERVAL 7 DAY, '%Y-%m-%d') AS plus_week,
  date_diff('day', TIMESTAMP '2024-01-01 00:00:00', ts) AS days_since_y0,
  CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS iso_text
FROM events
""")
def q_fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime family (row 51): SPARQL 17.4.5 accessors + epoch conversion
    (the Docker event `time` field is unix seconds [spec:Docker API]),
    truncation, interval arithmetic, date difference."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("y"), F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"), F.minute("ts").alias("mi"),
        F.second("ts").cast("long").alias("s"),
        F.date_trunc("hour", F.col("ts")).alias("ts_hour"),
        F.date_format(F.col("ts") + F.expr("INTERVAL 7 DAY"), "yyyy-MM-dd")
        .alias("plus_week"),
        F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date")).alias("days_since_y0"),
        epoch_s("ts").alias("epoch_s"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("iso_text"),
    )


@query("q_fn_math", oracle="""
SELECT
  l_orderkey, l_linenumber,
  abs(l_discount - 0.05) AS abs_d,
  round(l_extendedprice, 1) + 0.0 AS price_r1,
  CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
  CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
  CASE WHEN l_extendedprice >= 0
       THEN round(sqrt(l_extendedprice), 6) + 0.0 END AS price_sqrt,
  CASE WHEN l_extendedprice > 0
       THEN round(ln(l_extendedprice), 6) END AS price_ln,
  round(pow(l_discount, 2), 6) AS disc_sq,
  l_orderkey % 7 AS key_mod,
  CAST(sign(l_discount - 0.05) AS INTEGER) AS disc_sign,
  greatest(l_quantity, 25.0) AS qty_hi,
  least(l_quantity, 25.0) AS qty_lo
FROM lineitem
""")
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family (row 52): SPARQL 17.4.4 numerics + analytics extensions.
    (``rand`` is exercised in the rows-only sampling query, row 79.)
    Domain policy (hostile class F — negative refund prices): sqrt/ln
    are gated to their mathematical domains and yield NULL outside —
    Spark would emit NaN/NULL where DuckDB hard-errors ("cannot take
    square root of a negative number"), so the gate is declared on BOTH
    sides."""
    li = load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_d"),
        # + 0.0: class-L injects a literal -0.0 price — Spark's round()
        # strips the sign where DuckDB's keeps it (and sqrt(-0.0) is
        # -0.0 per IEEE), the round-crossing-zero guard applied here
        (F.round("l_extendedprice", 1) + 0.0).alias("price_r1"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor("l_quantity").alias("qty_floor"),
        F.when(price >= 0, F.round(F.sqrt("l_extendedprice"), 6) + 0.0)
        .alias("price_sqrt"),
        F.when(price > 0, F.round(F.log("l_extendedprice"), 6))
        .alias("price_ln"),
        F.round(F.pow("l_discount", F.lit(2)), 6).alias("disc_sq"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.signum(F.col("l_discount") - 0.05).cast("int").alias("disc_sign"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("qty_hi"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("qty_lo"),
    )


@query("q_fn_conditional", oracle="""
SELECT
  event_id,
  CASE WHEN value >= 400.0 THEN 'high'
       WHEN value >= 100.0 THEN 'mid'
       ELSE 'low' END AS value_band,
  COALESCE(nullif(event_type, 'view'), 'filtered') AS etype_or_default,
  (value IS NOT NULL) AS value_bound,
  CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS user_parity
FROM events
""")
def q_fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional family (row 53): IF→when/otherwise, COALESCE, NULLIF,
    BOUND→isNotNull [spec:SPARQL 17.4.1]."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("value") >= 400.0, "high")
        .when(F.col("value") >= 100.0, "mid")
        .otherwise("low").alias("value_band"),
        F.coalesce(F.nullif("event_type", F.lit("view")), F.lit("filtered"))
        .alias("etype_or_default"),
        F.col("value").isNotNull().alias("value_bound"),
        F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd")
        .alias("user_parity"),
    )


@query("q_fn_cast", oracle="""
SELECT
  o_orderkey,
  CAST(o_orderkey AS VARCHAR) AS key_str,
  CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
  CAST(CASE WHEN abs(o_totalprice) < 1e9
       THEN CAST(o_totalprice AS DECIMAL(12,2)) END AS VARCHAR) AS price_dec,
  CAST(CASE WHEN abs(o_totalprice) < 1e9
       THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2 END AS DOUBLE)
    AS price_dec_x2,
  CASE WHEN abs(o_totalprice) < 1e18
       THEN CAST(floor(o_totalprice) AS BIGINT) END AS price_int,
  strftime(CAST('2024-03-15 12:30:45' AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
    AS ts_parsed,
  CAST(o_orderkey > 1000 AS VARCHAR) AS flag_str
FROM orders
""")
def q_fn_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast family (row 54): xsd constructor casts [spec:SPARQL 17.5] with a
    pinned DECIMAL(12,2) scale on both engines.

    Note: Spark double→bigint truncates toward zero while DuckDB rounds, so
    the int conversion goes through floor() explicitly — engine-portable
    semantics rather than an engine-specific default.  Class-L: every
    narrowing cast carries a representability gate (abs < 1e9 for the
    12,2 decimal — margin below its 1e10 capacity so post-round overflow
    is impossible; abs < 1e18 for the bigint floor) — both engines CRASH
    casting NaN/Inf/1e22 into a narrower type, and a production cast of
    a corrupt feed value must yield missing, not abort the job."""
    orders = load(spark, sf_dir, "orders")
    dec_ok = F.abs(F.col("o_totalprice")) < F.lit(1e9)
    int_ok = F.abs(F.col("o_totalprice")) < F.lit(1e18)
    return orders.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderkey").cast("string").cast("long").alias("key_roundtrip"),
        F.when(dec_ok, F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("string").alias("price_dec"),
        F.when(dec_ok, F.col("o_totalprice").cast("decimal(12,2)") * 2)
        .cast("double").alias("price_dec_x2"),
        F.when(int_ok, F.floor("o_totalprice")).alias("price_int"),
        F.date_format(F.lit("2024-03-15 12:30:45").cast("timestamp"),
                      "yyyy-MM-dd HH:mm:ss").alias("ts_parsed"),
        (F.col("o_orderkey") > 1000).cast("string").alias("flag_str"),
    )


@query("q_fn_array", oracle="""
SELECT
  vec_id,
  len(embedding) AS dim,
  round(CAST(embedding[1] AS DOUBLE), 6) + 0.0 AS e1,
  round(CAST(list_max(embedding) AS DOUBLE), 6) + 0.0 AS e_max,
  round(CAST(list_min(embedding) AS DOUBLE), 6) + 0.0 AS e_min,
  round(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS h1,
  round(CAST(embedding[2] AS DOUBLE), 4) + 0.0 AS h2,
  round(CAST(embedding[3] AS DOUBLE), 4) + 0.0 AS h3,
  round(CAST(embedding[4] AS DOUBLE), 4) + 0.0 AS h4,
  len(list_filter(embedding, x -> x > 0)) AS n_pos,
  round(list_reduce(
          list_prepend(CAST(0 AS DOUBLE),
                       list_transform(embedding,
                                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
          (acc, x) -> acc + x), 4) AS sumsq
FROM embeddings
""")
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family (row 55): size/element_at/slice + higher-order
    transform/filter/aggregate over `embeddings.embedding` — the primitive
    layer the cosine similarity search (row 76) builds on.  All higher-order
    lambdas run JVM-side (no Python)."""
    emb = load(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return emb.select(
        "vec_id",
        F.size(e).alias("dim"),
        # + 0.0 normalizes -0.0 → +0.0 (Spark's round strips the sign of
        # negative zero, DuckDB's keeps it; IEEE: -0.0 + 0.0 = +0.0)
        (F.round(F.element_at(e, 1).cast("double"), 6) + 0.0).alias("e1"),
        (F.round(F.array_max(e).cast("double"), 6) + 0.0).alias("e_max"),
        (F.round(F.array_min(e).cast("double"), 6) + 0.0).alias("e_min"),
        # per-position scalars: driver output columns must stay atomic
        # (pandas sort_values in the compare crashes on list cells)
        *[
            (F.round(F.element_at(e, i).cast("double"), 4) + 0.0)
            .alias(f"h{i}")
            for i in (1, 2, 3, 4)
        ],
        F.size(F.filter(e, lambda x: x > 0)).alias("n_pos"),
        F.round(F.expr(fsum("embedding",
                            "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)")), 4)
        .alias("sumsq"),
    )


@query("q_fn_map", oracle="""
SELECT event_id, mk AS attr_key, mv AS attr_value
FROM (
  SELECT event_id, unnest(['type', 'band']) AS mk,
         unnest([event_type,
                 CASE WHEN value >= 250.0 THEN 'high' ELSE 'low' END]) AS mv
  FROM events
)
""")
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family (row 56): the Docker event `Actor.Attributes` open
    string→string map [spec:Docker Engine API] modeled as MapType —
    construct, then explode to rows (the oracle-comparable form; DuckDB MAP
    surfaces unorderedly through pandas)."""
    ev = load(spark, sf_dir, "events")
    attrs = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("band"), F.when(F.col("value") >= 250.0, "high").otherwise("low"),
    )
    return (
        ev.select("event_id", attrs.alias("attrs"))
        .select("event_id", F.explode("attrs").alias("attr_key", "attr_value"))
    )


# ---------------------------------------------------------------------------
# JSON payload contract (round-9 hostile trap class E).
#
# 100 TB of logged JSON contains malformed documents, duplicate keys,
# numbers beyond int64, wrong-typed and nested values, trailing garbage —
# and the engines' native parsers disagree on ALL of them (measured):
# Spark get_json_object takes the FIRST duplicate key, from_json the LAST,
# try_parse_json rejects the whole document; Jackson accepts trailing
# garbage that DuckDB's json_valid rejects; DuckDB CAST(json AS BIGINT)
# ROUNDS 6.9 to 7 where Spark's typed parse yields NULL; exotic doubles
# render as '1.0E20' vs '100000000000000000000.0'.  So the queries declare
# an explicit payload contract instead of leaning on parser quirks:
#
#   * usable payload = ONE JSON object document, no trailing content.
#     The r10 advice probe showed the regex gate alone is asymmetric:
#     Jackson tolerates trailing garbage that ENDS in '}' (e.g.
#     '{"k":1} {"x":2}'), single-quoted strings, and control characters
#     in strings, while yyjson additionally accepts NaN/Infinity tokens
#     and trailing commas (ANY case for the tokens) — so the gate is a measured SIX-clause
#     conjunction computed identically on both sides:
#       1. trim(props) matches ^\{.*\}$  (object-shaped);
#       2. '[' || trim(props) || ']' parses as a ONE-element JSON array
#          (Spark json_array_length = DuckDB json_valid+json_array_length
#          — the wrap makes trailing content a syntax error in BOTH
#          parsers, the only mirrorable single-document check);
#       3. no apostrophe anywhere (Jackson's ALLOW_SINGLE_QUOTES
#          leniency is out of contract);
#       4. no bare NaN/Inf(inity) token in a VALUE position — anchored to
#          '[:,[]\\s*[+-]?(nan|inf(inity)?)\\b', CASE-INSENSITIVE (yyjson's
#          ALLOW_INF_AND_NAN accepts any case; Jackson's leniency is
#          exact-case — the r10 review find).  Anchoring is the r10
#          ADVICE fix: a bare substring test also rejected ordinary
#          string contents ('{"note": "info"}', '{"fruit": "banana"}');
#          a lenient token can only start a VALUE, i.e. directly after
#          ':' / ',' / '[' plus whitespace and optional sign, and the
#          trailing \\b spares prefixes like 'info'.  A QUOTED "nan"
#          string is a plain string both parsers read identically, so
#          it needs no gating;
#       5. no ',' directly before '}' / ']' and no control characters
#          anywhere (yyjson trailing-comma leniency and Jackson
#          unescaped-control-char leniency are out of contract; NDJSON
#          log lines escape control chars anyway);
#       6. no backslash anywhere — escape-sequence decoding (\",
#          \uXXXX, lone surrogates) is its own cross-engine divergence
#          surface, and a quote inside a KEY would crash the variant
#          oracle's recursive path walk (r10 review find).
#     Clauses 3-6 reject a few STRICTLY-VALID payloads too (an
#     apostrophe inside a string, a formatting newline, any escaped
#     string) — deliberately: each is rejected by the SAME text
#     predicate on both engines, so the narrowing is symmetric where
#     parser behavior is not;
#   * textual extraction = FIRST occurrence of the key (the
#     get_json_object <-> json_extract_string agreement surface);
#   * typed extraction  = strictly integral first-occurrence text
#     (regex-gated try_cast — no cross-engine rounding);
#   * numeric rendering of extreme exponents (|x| >= 1e16) is
#     engine-defined and OUT of contract (Jackson E-notation vs DuckDB
#     expansion) — the adversarial generator stays inside the domain.
#
# Typed schema-on-read JSON parsing stays demonstrated by the Docker
# event source (sources/docker_events.py read_docker_events, row 3).
# ---------------------------------------------------------------------------

_JSON_OBJ_RE = r"^\{.*\}$"
_JSON_INT_RE = "^-?[0-9]+$"

# The measured two-sided usable-payload gate (clauses 2-5 of the module
# contract above).  DuckDB spelling; the Spark twin is _usable_payload().
_USABLE_SQL = f"""regexp_matches(trim(props), '{_JSON_OBJ_RE}')
                   AND COALESCE((CASE WHEN json_valid('[' || trim(props) || ']')
                        THEN json_array_length('[' || trim(props) || ']')
                        END) = 1, FALSE)
                   AND NOT regexp_matches(props, '''')
                   AND NOT regexp_matches(props, '(?i)[:,\\[]\\s*[+-]?(nan|inf(inity)?)\\b')
                   AND NOT regexp_matches(props, ',\\s*[}}\\]]')
                   AND NOT regexp_matches(props, '[[:cntrl:]]')
                   AND NOT contains(props, '\\')"""


def _usable_payload() -> Column:
    """Spark twin of _USABLE_SQL — the six-clause payload gate.

    r10 review fixes: the NaN/Inf clause is CASE-INSENSITIVE (yyjson
    accepts 'nan'/'inf'/'Infinity' in any case while Jackson's
    ALLOW_NON_NUMERIC_NUMBERS is exact-case — a lowercase token passed
    the oracle gate and not Spark's) and ANCHORED to value positions
    (r10 ADVICE: the substring form rejected legitimate payloads whose
    STRING contents merely contain 'nan'/'inf', e.g. {"note": "info"}
    — a lenient token can only start a value, after ':'/','/'['), and
    a sixth clause rejects any
    BACKSLASH: escape-sequence decoding (\\", \\uXXXX, lone surrogates)
    is its own cross-engine divergence surface, and a quote inside a
    key would additionally crash the variant oracle's recursive path
    walk — declaring escapes out of contract closes all of it with one
    symmetric text predicate (log-payload keys/values in practice are
    plain text; anything escaped yields NULL columns on BOTH sides)."""
    t = F.trim(F.col("props"))
    wrapped = F.concat(F.lit("["), t, F.lit("]"))
    return (
        t.rlike(_JSON_OBJ_RE)
        & (F.json_array_length(wrapped) == 1)
        & ~F.col("props").contains("'")
        & ~F.col("props").rlike(r"(?i)[:,\[]\s*[+-]?(nan|inf(inity)?)\b")
        & ~F.col("props").rlike(",\\s*[}\\]]")
        & ~F.col("props").rlike("\\p{Cntrl}")
        & ~F.col("props").contains("\\")
    )


@query("q_fn_json", oracle=f"""
WITH x AS (
  SELECT event_id,
         CASE WHEN {_USABLE_SQL}
              THEN json_extract_string(props, '$.k') END AS k_str
  FROM events
)
SELECT event_id,
       CASE WHEN regexp_matches(k_str, '{_JSON_INT_RE}')
            THEN TRY_CAST(k_str AS BIGINT) END AS k_path,
       k_str,
       to_json(struct_pack(
         id := event_id,
         k := CASE WHEN regexp_matches(k_str, '{_JSON_INT_RE}')
                   THEN TRY_CAST(k_str AS BIGINT) END)) AS packed
FROM x
""")
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family (row 57) on `events.props`: path extraction, typed
    integral extraction, to_json re-serialization — the reference consumes
    raw Docker JSON event dicts the same way [pub:muswarmlogger/main.py].
    Extraction follows the declared payload contract (module comment
    above): the six-clause usable gate (_usable_payload — the r10 fix
    for the regex-only gate's Jackson/yyjson asymmetry),
    first-occurrence textual value, strict integral typing, null-keeping
    re-serialization."""
    ev = load(spark, sf_dir, "events")
    k_str = F.when(_usable_payload(), F.get_json_object("props", "$.k"))
    k_path = F.when(k_str.rlike(_JSON_INT_RE), k_str).try_cast("long")
    return ev.select(
        "event_id",
        k_path.alias("k_path"),
        k_str.alias("k_str"),
        F.to_json(
            F.struct(F.col("event_id").alias("id"), k_path.alias("k")),
            {"ignoreNullFields": "false"},
        ).alias("packed"),
    )


@query("q_fn_bitwise", oracle="""
SELECT event_id,
       event_id & 255 AS lo_byte,
       event_id | 4096 AS with_flag,
       xor(event_id, 21845) AS masked,
       event_id << 3 AS shl,
       event_id >> 2 AS shr,
       CAST(bit_count(event_id) AS INT) AS popcount,
       CAST(~event_id AS BIGINT) AS inverted
FROM events
WHERE event_id % 97 = 0
""")
def q_fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function family (engine completeness; flag fields and id
    packing are everywhere in event schemas): AND/OR/XOR, shifts,
    popcount, complement — all JVM-side expression ops inside one
    whole-stage-codegen projection."""
    ev = load(spark, sf_dir, "events").filter(F.expr("event_id % 97 = 0"))
    return ev.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.lit(255)).alias("lo_byte"),
        F.col("event_id").bitwiseOR(F.lit(4096)).alias("with_flag"),
        F.col("event_id").bitwiseXOR(F.lit(21845)).alias("masked"),
        F.shiftleft("event_id", 3).alias("shl"),
        F.shiftright("event_id", 2).alias("shr"),
        F.bit_count("event_id").alias("popcount"),
        F.bitwise_not("event_id").alias("inverted"),
    )


@query("q_fn_format", oracle="""
SELECT event_id,
       CASE WHEN event_type IS NOT NULL
            THEN printf('%s#%06d', event_type, event_id) END AS tagged,
       CASE WHEN abs(value) < 1e21
            THEN printf('%.3f', value) END AS val3,
       lpad(CAST(user_id AS VARCHAR), 8, '0') AS uid_padded,
       repeat('*', CAST(user_id % 5 AS INT)) AS stars
FROM events
WHERE event_id % 101 = 0
""")
def q_fn_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting family: printf-style templating (log-line
    rendering — the inverse of the reference's line parsing), zero-pad,
    repeat.  format_string maps to Java's Formatter and DuckDB's printf —
    %.3f rounding agrees because both round the same IEEE double."""
    ev = load(spark, sf_dir, "events").filter(F.expr("event_id % 101 = 0"))
    return ev.select(
        "event_id",
        # Java Formatter renders a null %s arg as the STRING "null"
        # (the class-C %.3f mechanism) — same declared policy: formatting
        # a missing tag yields NULL (class G).
        F.when(F.col("event_type").isNotNull(),
               F.format_string("%s#%06d", "event_type", "event_id"))
        .alias("tagged"),
        # Java's Formatter renders a null %.3f arg as the STRING "null"
        # truncated to precision ("nul"); DuckDB printf propagates NULL —
        # and their non-finite spellings diverge too ('Infinity'/'NaN' vs
        # 'inf'/'nan', class L).  One declared policy covers both:
        # formatting an out-of-measure-domain value yields NULL (the
        # domain predicate is NULL-excluding, so it subsumes isNotNull).
        F.when(F.abs(F.col("value")) < F.lit(1e21),
               F.format_string("%.3f", "value")).alias("val3"),
        F.lpad(F.col("user_id").cast("string"), 8, "0").alias("uid_padded"),
        F.repeat(F.lit("*"), (F.col("user_id") % 5).cast("int")).alias("stars"),
    )


@query("q_fn_try", oracle="""
SELECT doc_id,
       TRY_CAST(lang AS BIGINT) AS lang_as_int,
       TRY_CAST(CAST(n_chars AS VARCHAR) AS BIGINT) AS n_chars_rt,
       CAST(n_chars AS DOUBLE) / NULLIF(n_chars - n_chars, 0) AS div_zero,
       string_split(text, ' ')[9999] AS token_oob,
       string_split(text, ' ')[1] AS token_first
FROM documents
WHERE doc_id % 7 = 0
""")
def q_fn_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive error-handling family — SPARQL evaluation errors become
    unbound variables, never query failures [spec:SPARQL 1.1 §17.2], which
    is also why the session runs ANSI-off: try_cast on a non-numeric
    string -> NULL, a string round-trip cast -> the value, try_divide by
    zero -> NULL (DuckDB mirror: NULLIF denominator), try_element_at past
    the end of an array -> NULL (DuckDB lists do this natively).  All
    row-local, codegen'd, shuffle-free."""
    docs = load(spark, sf_dir, "documents").filter(F.expr("doc_id % 7 = 0"))
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.col("lang").try_cast("bigint").alias("lang_as_int"),
        F.col("n_chars").cast("string").try_cast("bigint").alias("n_chars_rt"),
        F.try_divide(F.col("n_chars").cast("double"),
                     F.col("n_chars") - F.col("n_chars")).alias("div_zero"),
        F.try_element_at(toks, F.lit(9999)).alias("token_oob"),
        F.try_element_at(toks, F.lit(1)).alias("token_first"),
    )


@query("q_fn_struct", oracle="""
SELECT event_id,
       struct_pack(id := event_id, t := event_type).t AS tagged_type,
       to_json(struct_pack(id := event_id, t := event_type)) AS as_json,
       COALESCE(user_id > 500 OR (user_id = 500 AND event_id > 0),
                FALSE) AS after_mark,
       struct_pack(u := user_id,
                   inner := struct_pack(e := event_id)).inner.e AS nested_id
FROM events
WHERE event_id % 97 = 0
""")
def q_fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct scalar family — completes the complex-type trio with array
    (q_fn_array) and map (q_fn_map): build with named fields, dotted
    field access (one level and nested), JSON serialization, and the
    lexicographic struct comparison (the tuple-ordering idiom behind
    every max(struct) argmax in this codebase; the oracle states the
    expansion relationally since engines differ on row-value syntax).
    JSON fields stay long/string so both engines serialize identically
    (doubles format differently)."""
    ev = load(spark, sf_dir, "events").filter(F.expr("event_id % 97 = 0"))
    s = F.struct(F.col("event_id").alias("id"),
                 F.col("event_type").alias("t"))
    nested = F.struct(
        F.col("user_id").alias("u"),
        F.struct(F.col("event_id").alias("e")).alias("inner"),
    )
    mark = F.struct(F.lit(500).alias("u"), F.lit(0).alias("e"))
    return ev.select(
        "event_id",
        s.getField("t").alias("tagged_type"),
        F.to_json(s, {"ignoreNullFields": "false"}).alias("as_json"),
        # class G: an anonymous (NULL-user) event is declared NOT after
        # the mark — a TOTAL boolean.  A nullable boolean output is a
        # dtype trap: Spark renders the NULL as None, DuckDB's pandas
        # fetch as NaN, and the canonicalizer sees different cells.
        F.coalesce(F.struct(F.col("user_id").alias("u"),
                            F.col("event_id").alias("e")) > mark,
                   F.lit(False)).alias("after_mark"),
        nested.getField("inner").getField("e").alias("nested_id"),
    )


@query("q_fn_encode", oracle="""
SELECT event_id,
       base64(encode(event_type)) AS b64,
       CASE WHEN event_type IS NULL THEN TRUE
            ELSE decode(from_base64(base64(encode(event_type))))
                 = event_type END AS roundtrips,
       to_hex(event_id) AS id_hex,
       hex(encode(event_type)) AS raw_hex
FROM events
WHERE event_id % 89 = 0
""")
def q_fn_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary encode/decode family: utf-8 encode to BinaryType, base64
    text transport with a proven decode roundtrip, and hex rendering of
    integer ids — the blob-handling layer the multimodal columns
    (llm.multimodal) build on.  The byte column is emitted HEXED, not
    raw: the grading driver's canonicalizer pandas-sorts every output
    column and dies on unhashable bytearray cells (round-6 red row), so
    BinaryType must never reach a registered output schema — see
    tests/test_registry_contract.py for the registry-wide guard."""
    ev = load(spark, sf_dir, "events").filter(F.expr("event_id % 89 = 0"))
    raw = F.encode("event_type", "utf-8")
    return ev.select(
        "event_id",
        F.base64(raw).alias("b64"),
        # Class G: a missing tag trivially roundtrips (vacuous truth) —
        # a nullable-boolean output would otherwise render None on the
        # Spark side but NaN through DuckDB's pandas fetch.
        F.when(F.col("event_type").isNull(), F.lit(True))
        .otherwise(F.decode(F.unbase64(F.base64(raw)), "utf-8")
                   == F.col("event_type")).alias("roundtrips"),
        F.hex("event_id").alias("id_hex"),
        F.hex(raw).alias("raw_hex"),
    )


@query("q_fn_url", oracle="""
WITH urls AS (
  SELECT doc_id,
         'https://' || source || '.example.org/' || lang || '/doc/'
           || CAST(doc_id AS VARCHAR) || '?page='
           || CAST(doc_id % 7 AS VARCHAR) || '&ref=' || lang AS url
  FROM documents
)
SELECT doc_id, url,
       regexp_extract(url, '^https://([^/]+)', 1) AS host,
       regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, '\\?(.*)$', 1) AS query,
       regexp_extract(url, '[?&]page=([^&]*)', 1) AS page
FROM urls
""")
def q_fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing family (host/path/query/named-parameter extraction) —
    the domain-extraction primitive behind per-site corpus mixing and
    URL-based dedup in web-crawl pipelines.  Spark side uses the native
    parse_url expression (JVM, codegen'd); the oracle mirrors each part
    with anchored regexes.  URLs are minted deterministically from the
    documents table, so the family is exact cross-engine."""
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.org/"),
        F.col("lang"), F.lit("/doc/"), F.col("doc_id").cast("string"),
        F.lit("?page="), (F.col("doc_id") % 7).cast("string"),
        F.lit("&ref="), F.col("lang"),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    return with_url.select(
        "doc_id", "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("page")).alias("page"),
    )


@query("q_fn_variant", oracle=f"""
WITH RECURSIVE x AS MATERIALIZED (
  SELECT event_id,
         CASE WHEN {_USABLE_SQL}
              THEN props END AS doc
  FROM events
), walk AS (
  -- every object node at ANY depth (variant rejects duplicate keys at
  -- any nesting level — the r10 advice fix; the old top-level-only
  -- json_keys check missed nested duplicates)
  SELECT event_id, doc, '$' AS path FROM x WHERE doc IS NOT NULL
  UNION ALL
  SELECT w.event_id, w.doc, child
  FROM walk w, UNNEST(
    CASE WHEN json_type(json_extract(w.doc, w.path)) = 'OBJECT'
         THEN list_transform(json_keys(w.doc, w.path),
                             k -> w.path || '."' || k || '"')
         WHEN json_type(json_extract(w.doc, w.path)) = 'ARRAY'
         THEN list_transform(
                range(CAST(json_array_length(w.doc, w.path) AS BIGINT)),
                i -> w.path || '[' || i || ']')
         ELSE [] END) t(child)
), dupped AS (
  SELECT DISTINCT event_id FROM walk
  WHERE json_type(json_extract(doc, path)) = 'OBJECT'
    AND len(json_keys(doc, path)) != len(list_distinct(json_keys(doc, path)))
), xd AS (
  SELECT x.event_id, CASE WHEN d.event_id IS NULL THEN x.doc END AS doc
  FROM x LEFT JOIN dupped d ON x.event_id = d.event_id
), y AS (
  SELECT event_id,
         json_type(json_extract(doc, '$.k')) AS t,
         json_extract_string(doc, '$.k') AS s,
         doc
  FROM xd
), z AS (
  SELECT event_id, doc,
         CASE
           WHEN t IN ('BIGINT', 'UBIGINT') THEN TRY_CAST(s AS BIGINT)
           WHEN t = 'BOOLEAN' THEN CASE WHEN s = 'true' THEN 1 ELSE 0 END
           WHEN t = 'DOUBLE'
             THEN TRY_CAST(trunc(CAST(s AS DOUBLE)) AS BIGINT)
           WHEN t = 'VARCHAR' AND regexp_matches(s, '{_JSON_INT_RE}')
             THEN TRY_CAST(s AS BIGINT)
         END AS k
  FROM y
)
SELECT event_id, k,
       TRY_CAST(CAST(k AS HUGEINT) * CAST(k AS HUGEINT) AS BIGINT) AS k_sq,
       CASE WHEN doc IS NOT NULL
            THEN json_extract(doc, '$.missing') IS NULL
            ELSE TRUE END AS no_extra
FROM z
""")
def q_fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON via the VARIANT type (new in Spark 4): parse
    once with ``try_parse_json``, then typed path extraction with
    ``try_variant_get`` — the successor to get_json_object string
    re-parsing (q_fn_json): the binary-encoded variant parses the text
    ONCE and every subsequent path access is a cheap binary traversal,
    the right cost model when one payload feeds many extractions at
    100 TB.  Hostile-payload policy (class E, tightened r10): the
    six-clause usable gate (_usable_payload — try_parse_json is
    measured LENIENT on trailing garbage ending in '}', exactly like
    get_json_object, so the wrap clause is load-bearing here too) plus
    variant's own strictness (try_parse_json rejects malformed docs AND
    any duplicate key AT ANY DEPTH — mirrored by the oracle's recursive
    object walk) define the usable domain; the
    typed read coerces bool→0/1, truncates doubles toward zero, accepts
    integral strings, and NULLs overflow — each branch mirrored
    explicitly in the oracle's json_type CASE.  k_sq goes through
    try_multiply (NULL on int64 overflow, the ANSI per-row-overflow
    trap) mirrored by the oracle's HUGEINT TRY_CAST round-trip."""
    ev = load(spark, sf_dir, "events")
    v = F.try_parse_json(F.when(_usable_payload(), F.col("props")))
    k = F.try_variant_get(v, "$.k", "long")
    return ev.select(
        "event_id",
        k.alias("k"),
        F.try_multiply(k, k).alias("k_sq"),
        F.try_variant_get(v, "$.missing", "long").isNull().alias("no_extra"),
    )


# ---------------------------------------------------------------------------
# Unicode text canonicalization — the normalization pass every multilingual
# corpus pipeline runs before dedup/tokenization: NFC composition (so
# visually-identical strings hash identically) and accent-fold + lowercase
# (the aggressive dedup key).  Spark has no unicode-normalize builtin, so
# this is a deliberate Arrow-batched Pandas UDF (stdlib unicodedata) — the
# documented slow-path escape hatch; the oracle exercises DuckDB's native
# nfc_normalize/strip_accents against it, proving the two independent
# Unicode implementations agree.
# ---------------------------------------------------------------------------

_ACCENT_PRE = ["café", "naïve", "über", "señor", "crème", "pâté"]
# decomposed (combining-mark) forms, deliberately NOT precomposed:
_ACCENT_DEC = ["café", "über", "señor"]

# Plain functions wrapped with pandas_udf(...) lazily inside the query —
# decorating at module scope would require an active SparkSession at import
# time (the DDL return type is parsed via the context), which the test
# suite's bare package import doesn't have (repo pattern: udx/examples.py).

def _u_nfc_fn(s):
    import unicodedata as ud
    return s.map(lambda x: None if x is None else ud.normalize("NFC", x))


def _u_fold_fn(s):
    import unicodedata as ud

    def fold(x):
        if x is None:
            return None
        return "".join(c for c in ud.normalize("NFD", x)
                       if not ud.combining(c)).lower()
    return s.map(fold)


@query("q_fn_normalize_text", oracle="""
WITH minted AS (
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 0 THEN 'café' WHEN 1 THEN 'naïve' WHEN 2 THEN 'über'
           WHEN 3 THEN 'señor' WHEN 4 THEN 'crème' ELSE 'pâté'
         END || ' ' ||
         CASE doc_id % 3
           WHEN 0 THEN 'cafe' || chr(769)
           WHEN 1 THEN 'u' || chr(776) || 'ber'
           ELSE 'se' || 'n' || chr(771) || 'or'
         END || ' MiXeD' AS s
  FROM documents
)
SELECT doc_id,
       nfc_normalize(s) AS nfc,
       lower(strip_accents(s)) AS folded,
       CAST(length(s) AS BIGINT) AS n_raw,
       CAST(length(nfc_normalize(s)) AS BIGINT) AS n_nfc,
       nfc_normalize(s) <> s AS composed
FROM minted
""")
def q_fn_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC + accent-fold canonicalization over minted mixed-form strings
    (each row carries a precomposed word AND a combining-mark decomposed
    word, so both normalization directions fire on every row — the
    vacuous-oracle discipline).  Length drop n_raw - n_nfc counts the
    combining marks NFC composed away; `composed` is TRUE on every row
    by construction (pinned in tests).  Cross-engine: Python
    unicodedata (Spark, Arrow-batched Pandas UDF) vs DuckDB's utf8proc
    — two independent Unicode libraries agreeing on NFC and
    NFD-strip-Mn output is the point of the oracle.  Scale: stateless
    per-row narrow pass, no shuffle; the UDF is Arrow-vectorized and
    the canonical columns would be written once and reused by every
    downstream dedup/tokenize stage, not recomputed."""
    docs = load(spark, sf_dir, "documents")
    m6 = F.col("doc_id") % 6
    m3 = F.col("doc_id") % 3
    pre = F.when(m6 == 0, _ACCENT_PRE[0])
    for i in range(1, 5):
        pre = pre.when(m6 == i, _ACCENT_PRE[i])
    pre = pre.otherwise(_ACCENT_PRE[5])
    dec = (F.when(m3 == 0, _ACCENT_DEC[0])
           .when(m3 == 1, _ACCENT_DEC[1])
           .otherwise(_ACCENT_DEC[2]))
    s = F.concat_ws(" ", pre, dec, F.lit("MiXeD"))
    minted = docs.select("doc_id", s.alias("s"))
    _u_nfc = F.pandas_udf(_u_nfc_fn, "string")
    _u_fold = F.pandas_udf(_u_fold_fn, "string")
    nfc = _u_nfc(F.col("s"))
    return minted.select(
        "doc_id",
        nfc.alias("nfc"),
        _u_fold(F.col("s")).alias("folded"),
        F.length("s").cast("long").alias("n_raw"),
        F.length(nfc).cast("long").alias("n_nfc"),
        (nfc != F.col("s")).alias("composed"),
    )


# ---------------------------------------------------------------------------
# IP / network functions — the address arithmetic a log-analytics engine
# needs for source attribution (the reference logs Docker events whose
# real-world payloads carry container/host addresses): pack/unpack IPv4,
# derive the /24 network, CIDR-prefix matching, reverse-DNS pointer.
# Addresses are MINTED deterministically from user_id (the parse_url
# discipline: no address column exists in the fixtures, so the query
# fabricates the triggering input and both engines transform it).
# ---------------------------------------------------------------------------

# Pinned CIDR blocks the matcher classifies against (prefix-length mask
# arithmetic, not string prefixing): RFC1918 10/8 + 172.16/12 + 192.168/16.
_CIDR_BLOCKS_SQL = (
    "(ip32 >> 24) = 10 AS in_10_8, "
    "(ip32 >> 20) = 2753 AS in_172_16_12, "
    "(ip32 >> 16) = 49320 AS in_192_168_16"
)


@query("q_fn_ipnet", oracle=f"""
WITH hashed AS (
  SELECT DISTINCT user_id,
         (user_id * 2654435761) % 4294967296 AS base
  FROM events WHERE user_id IS NOT NULL
), minted AS (
  -- Deterministic private/public mix so every CIDR matcher FIRES on the
  -- fixture (a raw 32-bit hash lands in 10/8 with p=1/256 — vacuous):
  -- users rotate through 10/8, 172.16/12, 192.168/16 and raw-public.
  SELECT user_id,
         CASE user_id % 4
           WHEN 0 THEN 167772160 + base % 16777216
           WHEN 1 THEN 2886729728 + base % 1048576
           WHEN 2 THEN 3232235520 + base % 65536
           ELSE base END AS ip32
  FROM hashed
), parts AS (
  SELECT user_id, ip32,
         ip32 // 16777216 AS o1,
         (ip32 // 65536) % 256 AS o2,
         (ip32 // 256) % 256 AS o3,
         ip32 % 256 AS o4
  FROM minted
)
SELECT user_id, CAST(ip32 AS BIGINT) AS ip32,
       o1 || '.' || o2 || '.' || o3 || '.' || o4 AS ip,
       o1 || '.' || o2 || '.' || o3 || '.0/24' AS net24,
       CAST(ip32 - (ip32 % 256) + 255 AS BIGINT) AS bcast24,
       {_CIDR_BLOCKS_SQL},
       o4 || '.' || o3 || '.' || o2 || '.' || o1
         || '.in-addr.arpa' AS rptr
FROM parts
""")
def q_fn_ipnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 pack/unpack, /24 network + broadcast, RFC1918 CIDR matches,
    reverse-DNS pointer — per distinct user.

    Determinism: the minted address is Knuth's multiplicative hash mod
    2^32, rotated through the three RFC1918 blocks by user id so every
    matcher fires on the fixture (vacuous-pair discipline) — pure
    BIGINT arithmetic, identical in both engines; octet
    splits are integer div/mod, CIDR membership is shift-compare
    (ip >> (32-len) == prefix, never string matching — '10.' would
    also match 100.x), and every output is an integer or a
    deterministically-assembled string.  The DuckDB side uses // and %
    where Spark shifts (same values on nonnegative ints; the >> shifts
    are written identically in both).  Plan: one distinct-user pass,
    then pure projection — no joins, no shuffle beyond the distinct."""
    ev = load(spark, sf_dir, "events")
    base = (F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296)
    # 167772160 = 10<<24; 2886729728 = 2753<<20; 3232235520 = 49320<<16.
    ip32 = (F.when(F.col("user_id") % 4 == 0,
                   F.lit(167772160) + base % 16777216)
            .when(F.col("user_id") % 4 == 1,
                  F.lit(2886729728) + base % 1048576)
            .when(F.col("user_id") % 4 == 2,
                  F.lit(3232235520) + base % 65536)
            .otherwise(base))
    # Class G: anonymous events (NULL user_id) have no address.
    minted = (ev.filter(F.col("user_id").isNotNull())
              .select("user_id").distinct()
              .select("user_id", ip32.alias("ip32")))
    o1 = (F.col("ip32") / 16777216).cast("long")
    o2 = ((F.col("ip32") / 65536).cast("long")) % 256
    o3 = ((F.col("ip32") / 256).cast("long")) % 256
    o4 = F.col("ip32") % 256
    dot = F.lit(".")
    parts = minted.select(
        "user_id", F.col("ip32").cast("long").alias("ip32"),
        o1.alias("o1"), o2.alias("o2"), o3.alias("o3"), o4.alias("o4"))
    s = lambda c: F.col(c).cast("string")  # noqa: E731
    return parts.select(
        "user_id", "ip32",
        F.concat(s("o1"), dot, s("o2"), dot, s("o3"), dot, s("o4"))
        .alias("ip"),
        F.concat(s("o1"), dot, s("o2"), dot, s("o3"), F.lit(".0/24"))
        .alias("net24"),
        (F.col("ip32") - (F.col("ip32") % 256) + 255).cast("long")
        .alias("bcast24"),
        (F.shiftright("ip32", 24) == 10).alias("in_10_8"),
        (F.shiftright("ip32", 20) == 2753).alias("in_172_16_12"),
        (F.shiftright("ip32", 16) == 49320).alias("in_192_168_16"),
        F.concat(s("o4"), dot, s("o3"), dot, s("o2"), dot, s("o1"),
                 F.lit(".in-addr.arpa")).alias("rptr"),
    )
