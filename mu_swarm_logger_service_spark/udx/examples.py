"""UDF / UDAF / UDTF examples (SURVEY.md §2.10 rows 67-73), each with an
exact DuckDB oracle proving the Python boundary preserves semantics.

Performance tiers demonstrated (SURVEY.md §4.2, SNIPPETS.md patterns):
row-at-a-time Python UDF (row 67 — the documented slow path), Arrow-batched
scalar pandas UDF (row 68, ~10-100× faster), grouped-agg pandas UDF
(row 69), applyInPandas grouped map (row 70), mapInPandas partition
iterator (row 71), SQL-registered UDTF (row 72) and scalar UDF (row 73).
"""

from __future__ import annotations

import uuid
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf, udtf

from ..core.registry import query
from ..core.tables import load


# ---------------------------------------------------------------------------
# Row 67 — row-at-a-time Python UDF (slow path; kept tiny on purpose).
# ---------------------------------------------------------------------------

def _band_py_fn(value: float) -> str:
    # Class-L: out-of-domain (NaN/±Inf/magnitude garbage) is the MISSING
    # band — Python comparisons are IEEE (NaN >= 400 is False → would
    # fall to 'low') while both SQL engines total-order NaN greatest
    # (→ 'high'); the explicit domain branch is the only banding that
    # means the same thing in all three runtimes.
    if value is None or not abs(value) < 1e21:
        return "none"
    if value >= 400.0:
        return "high"
    if value >= 100.0:
        return "mid"
    return "low"


@query("q_udf_python", oracle="""
SELECT event_id,
       CASE WHEN abs(value) < 1e21 THEN
              CASE WHEN value >= 400.0 THEN 'high'
                   WHEN value >= 100.0 THEN 'mid'
                   ELSE 'low' END
            ELSE 'none' END AS band
FROM events
""")
def q_udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (row 67).  One pickle round-trip per row —
    the formulation q_fn_conditional does JVM-side; the finite bands
    agree, while out-of-domain values band 'none' here (Python IEEE
    comparisons vs the SQL engines' NaN-greatest total order make any
    bare-comparison banding runtime-dependent — class L)."""
    ev = load(spark, sf_dir, "events")
    band_py = udf(_band_py_fn, "string")
    return ev.select("event_id", band_py("value").alias("band"))


# ---------------------------------------------------------------------------
# Row 68 — vectorized scalar pandas UDF (Arrow batches).
# ---------------------------------------------------------------------------

def _log_score_fn(v: pd.Series) -> pd.Series:
    import numpy as np
    return np.log1p(v.clip(lower=0.0)) * 10.0


@query("q_udf_pandas_scalar", oracle="""
SELECT event_id,
       CASE WHEN value IS NULL THEN NULL
            ELSE ROUND(ln(1 + greatest(value, 0.0)) * 10.0, 6) END
         AS log_score
FROM events
""")
def q_udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (row 68): whole Arrow batches into numpy —
    vectorized log1p, no per-row Python.

    Null-measure policy: a missing value scores NULL, gated JVM-side with
    F.when (pandas sees nulls as NaN, and NaN would flow through
    clip/log1p as NaN — rendered 'NaN', not NULL — while DuckDB's
    greatest() SKIPS the NULL and would score it 0.0; both wrong)."""
    ev = load(spark, sf_dir, "events")
    log_score = pandas_udf(_log_score_fn, "double")
    return ev.select(
        "event_id",
        F.when(F.col("value").isNotNull(),
               F.round(log_score("value"), 6)).alias("log_score"),
    )


# ---------------------------------------------------------------------------
# Row 69 — grouped-aggregate pandas UDF (custom UDAF: weighted mean).
# ---------------------------------------------------------------------------

def _weighted_mean_fn(v: pd.Series, w: pd.Series) -> float:
    # Measure-domain gate (class L): pandas .sum(skipna) silently skips a
    # true NaN the way it skips a null, while the oracle's SUM propagates
    # it — and a ±Inf poisons both differently.  Observed in-domain pairs
    # only, weights included (a quarantined value must not drag its
    # weight into the denominator).  abs(NaN) < 1e21 is False in pandas
    # like everywhere else.
    ok = v.abs() < 1e21
    return float((v[ok] * w[ok]).sum() / w[ok].sum())


@query("q_udaf_pandas", oracle="""
SELECT event_type,
       ROUND(SUM(CASE WHEN abs(value) < 1e21
                 THEN value * (1 + user_id % 10) END)
             / SUM(CASE WHEN abs(value) < 1e21
                   THEN 1 + user_id % 10 END), 6)
         AS wmean_value
FROM events
GROUP BY event_type
""")
def q_udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF (row 69): weighted mean with weights derived
    from user_id — the custom-aggregate shape SQL can't express without a
    rewrite (oracle does the rewrite: SUM(v*w)/SUM(w), both sides over
    observed in-domain values per the class-L measure contract)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "w", (1 + F.col("user_id") % 10).cast("double")
    )
    weighted_mean = pandas_udf(_weighted_mean_fn, "double")
    return ev.groupBy("event_type").agg(
        F.round(weighted_mean("value", "w"), 6).alias("wmean_value")
    )


# ---------------------------------------------------------------------------
# Row 70 — grouped map (applyInPandas): per-group normalization.
# ---------------------------------------------------------------------------

def _zscore(pdf: pd.DataFrame) -> pd.DataFrame:
    mu = pdf["value"].mean()
    sd = pdf["value"].std(ddof=1)  # sample stddev, matches stddev_samp
    out = pdf[["event_id", "event_type"]].copy()
    out["z"] = ((pdf["value"] - mu) / sd).round(6)
    return out


@query("q_udtf_grouped_map", oracle="""
SELECT event_id, event_type,
       ROUND((value - AVG(value) OVER (PARTITION BY event_type))
             / stddev_samp(value) OVER (PARTITION BY event_type), 6) AS z
FROM events WHERE abs(value) < 1e21
""")
def q_udtf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped map (row 70): per-event-type z-score.  Whole
    group as one pandas frame (the contract that enables sklearn-style
    per-group logic); oracle is the equivalent window SQL.  Class-L:
    in-domain values only — one Inf makes DuckDB's stddev hard-error
    where pandas yields NaN, and a quarantined value must not shift a
    group's mean."""
    ev = load(spark, sf_dir, "events").filter(
        F.abs(F.col("value")) < F.lit(1e21))
    return ev.groupBy("event_type").applyInPandas(
        _zscore, schema="event_id long, event_type string, z double"
    )


# ---------------------------------------------------------------------------
# Row 71 — mapInPandas: partition-wise iterator transform.
# ---------------------------------------------------------------------------

@query("q_udtf_map_iter", oracle="""
SELECT event_id, value, value * value AS value_sq
FROM events
WHERE event_type = 'purchase' AND value > 100.0 AND abs(value) < 1e21
""")
def q_udtf_map_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas (row 71): streaming iterator of Arrow batches — filter +
    derive without materializing a partition at once (constant memory at
    100 TB).  Filter applied Python-side on purpose; the JVM-side
    event_type predicate still pushes to the scan.

    Class-L seam this query exists to pin: Python comparisons are IEEE
    (NaN > 100 is False) while both SQL engines TOTAL-ORDER NaN greatest
    (NaN > 100 is TRUE) — a bare `value > 100` filter keeps different
    rowsets in Python vs SQL the moment a true NaN arrives.  The
    declared in-domain conjunct closes the gap identically on all three
    runtimes."""

    def flt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = pdf[(pdf["value"] > 100.0) & (pdf["value"].abs() < 1e21)]
            yield pd.DataFrame({
                "event_id": keep["event_id"],
                "value": keep["value"],
                "value_sq": keep["value"] * keep["value"],
            })

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return ev.mapInPandas(flt, schema="event_id long, value double, value_sq double")


# ---------------------------------------------------------------------------
# Row 72 — SQL-callable table function (Spark 4 @udtf).
# ---------------------------------------------------------------------------

class _SquaresUDTF:
    """Yields (i, i²) for i in [start, stop] — the Spark 4 UDTF shape."""

    def eval(self, start: int, stop: int):
        for i in range(start, stop + 1):
            yield i, i * i


@query("q_udtf_sql", oracle="""
SELECT i, i * i AS sq FROM generate_series(0, 31) t(i)
""")
def q_udtf_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-registered UDTF (row 72): table-valued function callable from
    the FROM clause.  Registered under a fresh name and dropped once the
    query is analyzed (the `spark.sql(..., df=...)` view discipline), so
    no session-wide function name outlives the call."""
    name = f"squares_udtf_{uuid.uuid4().hex}"
    spark.udtf.register(name, udtf(_SquaresUDTF, returnType="i int, sq int"))
    try:
        return spark.sql(f"SELECT i, sq FROM {name}(0, 31)")
    finally:
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")


# ---------------------------------------------------------------------------
# Row 73 — UDF registered for the SQL surface.
# ---------------------------------------------------------------------------

@query("q_udf_register_sql", oracle="""
SELECT event_id,
       CASE WHEN abs(value) < 1e21
            THEN least(value, 250.0) END AS value_clipped
FROM events
""")
def q_udf_register_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.udf.register (row 73): the pandas UDF becomes callable from SQL
    text — entry point B (SURVEY.md §3.2) reaching the Python tier.

    Null-measure policy: clipping a missing value yields NULL, preserved
    IN the UDF via the nullable Float64 extension dtype (a plain float64
    return carries the null back as NaN — rendered 'NaN', not NULL —
    while DuckDB's least() SKIPS the NULL and would emit 250.0).
    Class-L extends the same policy to out-of-domain values: a true NaN
    sails through .clip() and would render 'NaN' where the oracle's
    least() yields nan-vs-250 engine soup — the UDF masks everything
    outside the measure domain to NA (abs(NaN) < 1e21 is False in
    pandas, so one predicate covers NaN/±Inf/garbage)."""

    @pandas_udf("double")
    def clip250(v: pd.Series) -> pd.Series:
        out = v.clip(upper=250.0).astype("Float64")
        out[~(v.abs() < 1e21)] = pd.NA
        return out

    name = f"clip250_{uuid.uuid4().hex}"
    spark.udf.register(name, clip250)
    try:
        return spark.sql(
            f"SELECT event_id, {name}(value) AS value_clipped FROM {{events}}",
            events=load(spark, sf_dir, "events"),
        )
    finally:
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")


# ---------------------------------------------------------------------------
# mapInArrow — the zero-copy tier below mapInPandas (no pandas conversion).
# ---------------------------------------------------------------------------

@query("q_udtf_map_arrow", oracle="""
SELECT event_id, CAST(floor(value) AS BIGINT) AS value_floor
FROM events
WHERE event_type = 'view' AND abs(value) < 1e18
""")
def q_udtf_map_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: operate on raw pyarrow RecordBatches — skips the
    Arrow→pandas conversion entirely, the fastest Python tier for
    columnar-in/columnar-out work (the shape multimodal decode uses when
    the codec takes buffers, not Series).  Class-L: the floor must fit
    int64, and pyarrow's checked cast throws on NaN/Inf exactly like the
    ANSI engines — rows outside the bin domain (abs < 1e18, the benford
    bound) are filtered in the SAME Arrow batch pass (arrow comparisons
    are IEEE: NaN < x is false; nulls drop explicitly via fill_null)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def floors(batches):
        for batch in batches:
            ok = pc.fill_null(
                pc.less(pc.abs(batch.column("value")), pa.scalar(1e18)),
                False)
            batch = batch.filter(ok)
            yield pa.RecordBatch.from_arrays(
                [batch.column("event_id"),
                 pc.cast(pc.floor(batch.column("value")), pa.int64())],
                names=["event_id", "value_floor"],
            )

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    return ev.mapInArrow(floors, schema="event_id long, value_floor long")
