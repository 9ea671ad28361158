"""Table loaders for the driver-generated testdata (TESTDATA.md, FIXTURES.md).

At 100 TB these reads become partitioned-directory scans; the loader keeps a
single entry point so partition-pruning columns / bucketing specs can be
added without touching query code.

It also owns the files a query writes: ``layout`` for files derived once
per source generation, ``round_trip`` for files written fresh per call.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile
import uuid
import weakref
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PYFILES_SHIPPED: set[int] = set()

# Per-session values that depend on one source table, each kept for the
# table's latest generation only: the base loaders' ANALYZED PLANS (r13:
# ``spark.read.parquet`` pays a py4j round-trip plus a schema/footer
# analysis on every call, ~95 ms warm; a DataFrame is a plan, not data, so
# each action still re-reads the files) and the admission guards' size
# measurements.  The key carries no stat_sig, the entry does: regenerating
# a fixture in place is a miss that replaces the entry (a plan's file index
# would otherwise pin stale splits, a guard would admit on a stale size).
# Keyed weakly per SparkSession so a stopped session's entries die with it.
_PER_GENERATION: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary())


def per_generation(spark: SparkSession, kind, sf_dir: str, table: str,
                   build):
    """``build()``, memoized per (session, ``kind``, sf_dir, ``table``)
    for the current generation (stat_sig) of ``table``."""
    sig = stat_sig(sf_dir, table)
    per = _PER_GENERATION.setdefault(spark, {})
    key = (kind, sf_dir, table)
    hit = per.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    value = build()
    per[key] = (sig, value)
    return value


def generation(sf_dir: str, name: str, sources) -> str:
    """Digest naming one generation of a layout derived from ``sources``:
    ``<home>_<sigs>``, where home digests ``name`` (a mint version rides
    it) with the absolute ``sf_dir`` and sigs digests each source's
    stat_sig, so a source regenerated in place gets a new name."""
    sigs = tuple(stat_sig(sf_dir, t) for t in sources)
    return "_".join(hashlib.sha256(repr(part).encode()).hexdigest()[:12]
                    for part in ((name, os.path.abspath(sf_dir)), sigs))


def layout(sf_dir: str, name: str, sources, write) -> str:
    """The directory holding the current generation of a layout derived
    from the ``sources`` tables of ``sf_dir`` (a partitioned copy, a minted
    text stream): the one place a query keeps files across calls.

    A published generation is complete and never rewritten, so it is
    served as is.  Otherwise ``write(d)`` fills a private temp directory
    and one ``os.rename`` publishes it: readers see no partial layout.  A
    rename that finds the target taken lost a race to an identical
    builder, whose copy is served; the winner removes the older
    generations of the same (name, sf_dir)."""
    root = tempfile.gettempdir()
    target = os.path.join(root, f"spark_graft_{name}_"
                          + generation(sf_dir, name, sources))
    if os.path.isdir(target):
        return target
    tmp = tempfile.mkdtemp(prefix=f".{os.path.basename(target)}.", dir=root)
    try:
        write(tmp)
        os.rename(tmp, target)
    except OSError:
        if not os.path.isdir(target):
            raise
        return target  # an identical builder published first
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(target.rsplit("_", 1)[0] + "_*"):
        if old != target:
            shutil.rmtree(old, ignore_errors=True)
    return target


def round_trip(name: str, write, read) -> DataFrame:
    """Files written fresh by one call: ``write(d)`` fills a new temp
    directory and ``read(d)`` is checkpointed eagerly, so the returned
    frame holds its rows and no later call can pull its files away; the
    directory is removed in ``finally``, also when a step raises."""
    d = tempfile.mkdtemp(prefix=f"spark_graft_{name}_")
    try:
        write(d)
        return read(d).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


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
        return per_generation(
            spark, "load", sf_dir, name,
            lambda: _normalize_events_ts(_read_events(spark, sf_dir)))
    return per_generation(
        spark, "load", sf_dir, name,
        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
    # generations and TIMESTAMP(MICROS) in others.  Spark 4 refuses to
    # infer a NANOS column, but reads it as int64 nanos under an explicit
    # ``ts long`` schema, with no session conf involved;
    # _normalize_events_ts then converts either encoding.
    def build():
        path = f"{sf_dir}/events.parquet"
        schema = _nanos_ts_schema(path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(path)

    return per_generation(spark, "raw", sf_dir, "events", build)


def _nanos_ts_schema(path: str):
    """The Spark schema of a file- or directory-shaped events parquet with
    ``ts`` as long, when the footer of its first file types ``ts`` as
    TIMESTAMP(NANOS); otherwise None (Spark infers the schema)."""
    import json

    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    for first in ds.dataset(path, format="parquet").files[:1]:
        footer = pq.ParquetFile(first)
        ts = footer.schema.column(footer.schema.names.index("ts")).logical_type
        if json.loads(ts.to_json()).get("timeUnit") == "nanoseconds":
            arrow = footer.schema_arrow
            return from_arrow_schema(arrow.set(
                arrow.get_field_index("ts"), pa.field("ts", pa.int64())))
    return None


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-zone TIMESTAMP (µs) regardless of
    how the parquet writer encoded it: int64 nanos (read as long), NTZ micros,
    or already LTZ.  DuckDB's view of the same file agrees under UTC."""
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def bucketed_table(spark: SparkSession, sf_dir: str, table: str,
                   key: str) -> str:
    """Name of a session-catalog copy of ``table`` bucketed 8 ways on
    ``key`` and sorted in-bucket: the co-located layout that lets an
    equi-join on the bucket key skip both shuffles.  The files are a
    layout of the table's current generation and the name carries the
    same digest, so a table regenerated in place gets a new table.  The
    catalog entry is external (its files outlive the session, away from
    the cwd-dependent warehouse dir) and is created on first use per
    session: Spark cannot write buckets to a bare path, so the layout
    writes them through a throwaway table name."""
    name = f"bucketed_{table}_{key}"
    t = f"{table}_by_{key}_{generation(sf_dir, name, (table,))}"
    if spark.catalog.tableExists(t):
        return t
    df = load(spark, sf_dir, table)

    def write(d: str) -> None:
        tmp = f"tmp_{uuid.uuid4().hex[:12]}"
        (df.write.mode("overwrite").format("parquet")
         .bucketBy(8, key).sortBy(key).option("path", d).saveAsTable(tmp))
        spark.sql(f"DROP TABLE {tmp}")  # external: the files stay

    path = layout(sf_dir, name, (table,), write)
    spark.sql(f"CREATE TABLE IF NOT EXISTS {t} ({df.schema.toDDL()}) "
              f"USING parquet CLUSTERED BY ({key}) SORTED BY ({key}) "
              f"INTO 8 BUCKETS LOCATION '{path}'")
    return t


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """SQL entry point (SURVEY.md §3.2 entry point B): expose every table
    as a temp view so raw ``spark.sql(...)`` strings — the ANTLR parser
    path — run against the same loaders (and the same ns→µs events
    normalization) as the DataFrame API.  Idempotent; views are session-
    scoped, so concurrent sessions on different sf_dirs don't collide."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
