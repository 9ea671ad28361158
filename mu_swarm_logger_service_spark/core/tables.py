"""Table loaders for the driver-generated testdata (TESTDATA.md, FIXTURES.md).

At 100 TB these reads become partitioned-directory scans; the loader keeps a
single entry point so partition-pruning columns / bucketing specs can be
added without touching query code.
"""

from __future__ import annotations

import os
import tempfile
import weakref
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PYFILES_SHIPPED: set[int] = set()

# Per-session ANALYZED-PLAN cache for the base table loaders (r13).
# ``spark.read.parquet`` pays a py4j round-trip plus a schema/footer
# analysis on EVERY call — measured ~95 ms warm, on every load() of every
# query (the single widest fixed cost in the registry).  A DataFrame is
# an immutable PLAN, not data: each action re-reads the parquet files, so
# reusing the plan caches no results.  Freshness: the key carries
# stat_sig (mtime_ns, size) — regenerating a fixture in place is a cache
# miss (the round-9 stale-derived-layout discipline; the plan's file
# index would otherwise pin stale splits).  Keyed weakly per
# SparkSession so a stopped session's plans die with it.
_PLAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary())


def _plan_cached(spark: SparkSession, kind: str, sf_dir: str, name: str,
                 build):
    sig = stat_sig(sf_dir, name)
    per = _PLAN_CACHE.setdefault(spark, {})
    key = (kind, sf_dir, name)
    hit = per.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    df = build()
    per[key] = (sig, df)
    return df


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers regardless of
    the driver's cwd/PYTHONPATH (pandas UDFs pickle module functions by
    reference, so workers must be able to ``import`` us).  Zips the package
    once and registers it via addPyFile — idempotent per SparkContext."""
    sc = spark.sparkContext
    if id(sc) in _PYFILES_SHIPPED:
        return
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parent = os.path.dirname(pkg_root)
    zpath = os.path.join(
        tempfile.gettempdir(), "mu_swarm_logger_service_spark_pkg.zip"
    )
    tmp = f"{zpath}.{os.getpid()}"
    with zipfile.ZipFile(tmp, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, parent))
    os.replace(tmp, zpath)  # atomic: concurrent sessions never see a partial zip
    sc.addPyFile(zpath)
    _PYFILES_SHIPPED.add(id(sc))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimensions small enough to broadcast at ANY scale factor (they scale with
# sf but stay orders of magnitude below the facts — classic star schema).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})


def stat_sig(sf_dir: str, table: str) -> tuple[int, int]:
    """(mtime_ns, size) of a source parquet — the freshness component every
    derived-layout cache key must carry.  A derived layout (partitioned
    copy, JSONL materialization, generation split) keyed by PATH alone
    serves stale data the moment its source is regenerated in place —
    exactly how a refreshed upstream partition behaves at 100 TB.  Found
    live in round 9: regenerating /tmp/sfadv under path-keyed q_scan_dpp /
    q_source_docker_events caches red both oracles with stale bytes."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    return (st.st_mtime_ns, st.st_size)


def stat_sig_str(sf_dir: str, table: str) -> str:
    return "_".join(map(str, stat_sig(sf_dir, table)))


def spread(df: DataFrame) -> DataFrame:
    """Give a COMPUTE-dense narrow pipeline full-cluster parallelism.

    Scan parallelism tracks input splits, and shuffle parallelism is sized
    by AQE on DATA volume — both are blind to per-row compute.  A stage
    whose cost is arithmetic per row (per-pair cosines over a broadcast
    query set, per-pair set intersections) can therefore collapse onto one
    core when its input is a single small file.  This helper round-robin
    repartitions to the session's default parallelism ONLY when the plan
    has fewer partitions than cores: at real scale inputs arrive with
    natural split parallelism and this is a no-op, so it never inserts a
    gratuitous exchange of a 100 TB table.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


# ---------------------------------------------------------------------------
# Observed-time policy (r11 hostile trap class I: NULL timestamps).
#
# An event with no timestamp has no position on the time axis, so every
# operator for which TIME IS THE AXIS — windows ordered by ts, session /
# gap analytics, as-of joins, day/hour-grain series, event-time streams —
# declares observed-time events only, with the identical predicate on the
# oracle side (TS_OBSERVED_SQL).  This is the time-axis member of the
# existing policy family: class C2 (observed measures), class G
# (identified keys).  It is also FORCED on the streaming side: Spark's
# watermark operators drop null event-time rows outright, and a pandas
# state fold reading NaT.value gets int64-min garbage, so a batch twin
# that kept null-ts rows could never equal its stream.  Operators where
# ts is CONTENT, not the axis (fingerprints, minted log lines), instead
# render NULL through their format's own missing marker (\N sentinel,
# CLF '-') — never silently drop.  The calendar family's ts_domain
# already excludes NULL on both sides (NULL fails ts >= lo identically).
TS_OBSERVED_SQL = "ts IS NOT NULL"


def observed_time(df: DataFrame) -> DataFrame:
    """Spark twin of TS_OBSERVED_SQL: keep observed-time events only."""
    return df.filter(F.col("ts").isNotNull())


def unpersist_cp(df: DataFrame) -> None:
    """Deterministically free the block-store memory behind a
    materialized ``localCheckpoint``'ed DataFrame (r13, guide §5).

    A local checkpoint TRUNCATES lineage: the persisted blocks are the
    only copy of the data, so this must run only after the LAST consumer
    of ``df`` has executed (e.g. the next loop round's checkpoint is
    materialized, or a sink write completed).  Without it the blocks
    wait on the ContextCleaner, which only unpins them after a DRIVER
    JVM GC collects the RDD handle — a marathon session accumulates
    every dropped checkpoint until a GC happens to run
    (OPTIMIZATION_r12 §5 measured that lag OOMing a 1 GiB heap).
    Intermediates whose consumers are in the RETURNED lazy plan can
    never be unpersisted here — callers haven't run them yet."""
    try:
        df._jdf.logicalPlan().rdd().unpersist(False)
    except Exception:
        pass  # best-effort hygiene: not a LogicalRDD-backed frame


def iterate(state, step, *, rounds: int, until=None,
            free: bool = False) -> list[DataFrame]:
    """Run ``state = step(state)`` round by round and return every round's
    state (the input excluded, the round that satisfied ``until``
    included) — the one loop every iterative query runs on.

    Each round is ``localCheckpoint``'ed, so the plan a round builds on
    stays one round deep (unchecked, BPE's plan compounded to 9 scans /
    25 exchanges in three rounds).  The checkpoint is LAZY: the first
    job that reads the round materializes it — ``until``, else the next
    round's shuffle or the caller's action — instead of a separate
    ``count()`` job.  ``until(state) -> bool`` is the round's only
    action: a job over the whole round (``isEmpty``, ``count``, a
    checksum — Spark's local checkpoint computes any partition a partial
    action like ``isEmpty`` skipped) that both materializes it and
    decides to stop (star contraction: 2 jobs per round -> 1, r12).
    With ``until`` the loop stops at the first True and raises
    ``RuntimeError`` naming the query after ``rounds`` rounds without
    one; without it exactly ``rounds`` run.

    ``free=True`` frees round i-1 (the input too) with ``unpersist_cp``
    once round i is materialized, instead of leaving its blocks to the
    ContextCleaner, which unpins them only after a driver GC (r13).  Only
    for loops that read just the previous round and keep just the last:
    earlier returned states are freed.  Without ``until`` nothing else
    would materialize a round before its predecessor is freed, so only
    those rounds are checkpointed eagerly."""
    eager = free and until is None
    states = []
    for _ in range(rounds):
        states.append(step(state).localCheckpoint(eager=eager))
        done = until is not None and until(states[-1])
        if free:
            unpersist_cp(state)
        state = states[-1]
        if done:
            return states
    if until is not None:
        name = step.__qualname__.split(".")[0]
        raise RuntimeError(f"{name}: no fixpoint after {rounds} rounds")
    return states


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _ship_package(spark)
    if name == "events":
        return _plan_cached(
            spark, "load", sf_dir, name,
            lambda: _normalize_events_ts(_read_events(spark, sf_dir)))
    return _plan_cached(
        spark, "load", sf_dir, name,
        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
    # generations (Spark 4 rejects it outright without the legacy flag) and
    # TIMESTAMP(MICROS) in others; enable the legacy nanos-as-long read so
    # both load, then normalize in _normalize_events_ts.  The flag is scoped
    # to this read: it is restored afterwards so an unrelated parquet read of
    # a NANOS column elsewhere in the session still fails loudly instead of
    # silently yielding int64.
    def build():
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/events.parquet")
            df.schema  # force analysis (and the footer read) under the flag
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        return df

    return _plan_cached(spark, "raw", sf_dir, "events", build)


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-zone TIMESTAMP (µs) regardless of
    how the parquet writer encoded it: int64 nanos (legacy flag), NTZ micros,
    or already LTZ.  DuckDB's view of the same file agrees under UTC."""
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """SQL entry point (SURVEY.md §3.2 entry point B): expose every table
    as a temp view so raw ``spark.sql(...)`` strings — the ANTLR parser
    path — run against the same loaders (and the same ns→µs events
    normalization) as the DataFrame API.  Idempotent; views are session-
    scoped, so concurrent sessions on different sf_dirs don't collide."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
