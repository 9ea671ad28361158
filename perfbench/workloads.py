"""The benchmark's workloads: each runs closed loop, one client.

``ingest``      drains a backlog of event files through the engine's
                streaming ingest (events -> RDF triples -> parquet sink),
                one file per micro-batch.  An operation is a micro-batch;
                a pass is one drain of the whole backlog.  The backlog is
                read with Spark's file source directly: the engine's
                ``stream_events`` stages the single file
                ``<dir>/events.parquet`` and reads no rows when that path
                is a directory of files.
``interactive`` is an analyst session: registered queries one after another
                in a seeded order, each materialized in full with the noop
                sink.  An operation is a query; a pass is the whole session.

Both run in the same steps: ``prepare()`` writes the inputs and the
oracle's answers before the engine starts, ``start()`` binds the session,
``warm_up()`` brings the JIT to a steady state, ``run_pass()`` times one
pass (traced or not) and ``check()`` compares the results with the oracle.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import numpy as np

import check
import fixtures
import layers

# The analyst session: a subset of the engine's interactive queries that
# fits the benchmark's time budget (a cold pass over the full fourteen-query
# set plus one timed pass exceeds a run's share of it).  It keeps a query
# per layer: construction-heavy loops (q_sparql_path), construction and
# planning of a basic graph pattern (q_triples_bgp), the flagship
# aggregation, scan/filter planning, a window, the Arrow UDF boundary
# (q_llm_media_pipeline) and a stateful stream whose state is folded by
# pandas under applyInPandasWithState (q_stream_holt).
SESSION = (
    "q_scan_pruned", "q_filter_like_regex", "q_agg_groupby",
    "q_agg_grouping_sets", "q_win_topk_group", "q_triples_bgp",
    "q_sparql_path", "q_llm_media_pipeline", "q_stream_holt",
)

BACKLOG_REPLICAS = 3     # copies of the sf0.01 events table: 30,000 events
BACKLOG_FILES = 6
INGEST_PARTITIONS = 4    # one per core: a one-file micro-batch is one split
INGEST_WARM_DRAINS = 4
SESSION_WARM_PASSES = 3  # the first collects the results the run checks


class PassStats:
    """Per-operation figures of one pass."""

    def __init__(self):
        self.latencies_ms: list[float] = []
        self.names: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}

    def add_layers(self, counts: dict) -> None:
        for k, v in counts.items():
            self.layers[k] = self.layers.get(k, 0.0) + v


class Interactive:
    items = len(SESSION)  # queries per pass

    def __init__(self, work: str, seed: int):
        self.data = os.path.join(work, "data")
        self.seed = seed
        self.rng = np.random.default_rng(seed)

    def prepare(self) -> None:
        """Inputs and the oracle's answers; runs before the engine starts."""
        from mu_swarm_logger_service_spark import all_oracle_sql
        fixtures.write_tables(self.data, self.seed)
        sqls = all_oracle_sql()
        missing = [q for q in SESSION if q not in sqls]
        if missing:
            raise ValueError(f"no oracle for {missing}")
        con = check.oracle_connection(self.data)
        self.expected = check.oracle_digests(con, {q: sqls[q] for q in SESSION})
        con.close()

    def start(self, spark, tracer=None, status=None, progress=None, plans=None) -> None:
        from mu_swarm_logger_service_spark import all_queries
        self.spark = spark
        self.queries = all_queries()
        self.tracer, self.status, self.progress = tracer, status, progress
        self.plans = plans
        self.n_ops = 0

    def warm_up(self) -> None:
        """A pass that collects every result, for the check, then plain
        passes until compilation and the engine's plan caches settle."""
        self.got = {}
        for q in self.order():
            self.got[q] = check.digest(self.queries[q](self.spark, self.data).toPandas())
        for _ in range(SESSION_WARM_PASSES - 1):
            self.run_pass()

    def check(self) -> tuple[int, int]:
        bad = [q for q in SESSION if self.got.get(q) != self.expected[q]]
        for q in bad:
            print(f"# check: {q} got {self.got.get(q)} expected {self.expected[q]}")
        return len(SESSION), len(bad)

    def order(self):
        """The next pass's query order."""
        return [SESSION[i] for i in self.rng.permutation(len(SESSION))]

    def run_pass(self, traced: bool = False, order=None) -> tuple[float, PassStats]:
        op = PassStats()
        t0 = time.perf_counter()
        for q in order or self.order():
            op.attempted += 1
            try:
                self._run_query(q, op, traced)
            except Exception as exc:  # noqa: BLE001 - a failed query is counted
                op.failed += 1
                print(f"# failed: {q}: {exc!r}"[:500])
        return time.perf_counter() - t0, op

    def _run_query(self, q: str, op: PassStats, traced: bool) -> None:
        self.n_ops += 1
        group = f"perfbench-{self.n_ops}"
        self.spark.sparkContext.setJobGroup(group, q)
        if traced:
            # drop what earlier operations left on the listener bus
            self.status.settle()
            self.plans.take()
            sql_mark = self.status.sql_mark()
            stream_mark = set(self.progress.started)
        t0 = time.time()
        df = self.queries[q](self.spark, self.data)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        op.latencies_ms.append((t2 - t0) * 1000.0)
        op.names.append(q)
        if traced:
            self._trace(q, op, group, (t0, t1, t2), sql_mark, stream_mark)

    def _trace(self, q, op, group, times, sql_mark, stream_mark) -> None:
        t0, t1, t2 = times
        runs = self.progress.runs_since(stream_mark)
        self.progress.wait_terminated(runs)
        self.status.settle()
        tr = self.tracer
        root = tr.add("op", t0, t2, op=self.n_ops, query=q)
        construct = tr.add("construct", t0, t1, parent=root, op=self.n_ops)
        action = tr.add("action", t1, t2, parent=root, op=self.n_ops)
        op.add_layers(layers.plan_spans(
            tr, self.plans.take(),
            [(root, t0, t2), (construct, t0, t1), (action, t1, t2)], self.n_ops))
        layers.batch_spans(tr, self.progress, runs, construct, self.n_ops)
        construct_jobs, action_jobs = self.status.split_jobs([group], t1)
        # every stream the query started ran inside its construction
        stream_jobs = self.status.job_ids(runs)
        op.add_layers({"construct.ms": (t1 - t0) * 1000.0,
                       "construct.jobs": len(construct_jobs | stream_jobs),
                       "action.ms": (t2 - t1) * 1000.0})
        op.add_layers(self.status.exec_counts(construct_jobs | action_jobs | stream_jobs))
        op.add_layers(self.status.udf_counts(sql_mark))
        op.add_layers(layers.stream_counts(self.progress, runs))


class Ingest:
    def __init__(self, work: str, seed: int):
        self.data = os.path.join(work, "backlog")
        self.sinks = os.path.join(work, "sinks")
        self.seed = seed

    def prepare(self) -> None:
        from mu_swarm_logger_service_spark.sources.triples import _TRIPLES_SQL
        self.items = self.n_events = fixtures.write_backlog(
            self.data, self.seed, BACKLOG_REPLICAS, BACKLOG_FILES)
        con = check.oracle_connection(
            self.data, events_glob=os.path.join(self.data, "events.parquet", "*.parquet"))
        self.expected = check.digest(con.execute(_TRIPLES_SQL).fetchdf())
        con.close()
        os.makedirs(self.sinks, exist_ok=True)

    def start(self, spark, tracer=None, status=None, progress=None, plans=None) -> None:
        self.spark = spark
        self.tracer, self.status, self.progress = tracer, status, progress
        self.plans = plans
        self.n_ops = 0
        self.last_sink = None
        self.source = os.path.join(self.data, "events.parquet")
        self.schema = spark.read.parquet(self.source).schema

    def warm_up(self) -> None:
        for _ in range(INGEST_WARM_DRAINS):
            self.run_pass()

    def order(self):
        return None

    def check(self) -> tuple[int, int]:
        """The last drain's sink, read back, against the oracle's audit."""
        from pyspark.sql import functions as F
        back = self.spark.read.parquet(self.last_sink)
        audit = (back.groupBy("p")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.countDistinct("s").alias("n_subjects"),
                      F.min("o").alias("min_o"), F.max("o").alias("max_o"))
                 .toPandas())
        got = check.digest(audit)
        ok = got == self.expected and int(audit["n"].sum()) == 4 * self.n_events
        if not ok:
            print(f"# check: sink audit {got} expected {self.expected}")
        return 1, 0 if ok else 1

    def run_pass(self, traced: bool = False, order=None) -> tuple[float, PassStats]:
        from pyspark.sql import functions as F

        from mu_swarm_logger_service_spark.sources.triples import events_to_triples

        self.n_ops += 1
        op_id = self.n_ops
        op = PassStats()
        sink = tempfile.mkdtemp(prefix="sink-", dir=self.sinks)
        ckpt = tempfile.mkdtemp(prefix="ckpt-", dir=self.sinks)
        sink_spans = {}

        def write_batch(bdf, batch_id):
            t0 = time.time()
            bdf.write.mode("overwrite").parquet(os.path.join(sink, f"batch={batch_id}"))
            sink_spans[batch_id] = (t0, time.time())

        if traced:
            self.status.settle()
            self.plans.take()
            stream_mark = set(self.progress.started)
        t0 = time.time()
        events = (self.spark.readStream.schema(self.schema)
                  .option("maxFilesPerTrigger", 1).parquet(self.source)
                  # the ts normalization stream_events applies to NTZ input
                  .withColumn("ts", F.col("ts").cast("timestamp"))
                  .repartition(INGEST_PARTITIONS))
        stream = events_to_triples(events)
        query = (stream.writeStream.foreachBatch(write_batch)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
        t1 = time.time()
        query.awaitTermination()
        t2 = time.time()
        batches = query.recentProgress
        rows = sum(p.numInputRows for p in batches)
        op.attempted = len(batches)
        if rows != self.n_events or len(batches) < BACKLOG_FILES:
            op.failed = op.attempted
            print(f"# failed: drain read {rows} events in {len(batches)} batches")
        op.latencies_ms = [float(p.durationMs["triggerExecution"]) for p in batches]
        if self.last_sink:
            shutil.rmtree(self.last_sink, ignore_errors=True)
            shutil.rmtree(self.last_ckpt, ignore_errors=True)
        self.last_sink, self.last_ckpt = sink, ckpt
        if traced:
            self._trace(op, op_id, query, stream_mark, (t0, t1, t2), sink, sink_spans)
        return t2 - t0, op

    def _trace(self, op, op_id, query, stream_mark, times, sink, sink_spans):
        t0, t1, t2 = times
        tr = self.tracer
        run = str(query.runId)
        runs = self.progress.runs_since(stream_mark)
        self.progress.wait_terminated(runs)
        root = tr.add("op", t0, t2, op=op_id, query="ingest")
        tr.add("construct", t0, t1, parent=root, op=op_id)
        action = tr.add("action", t1, t2, parent=root, op=op_id)
        spans = layers.batch_spans(tr, self.progress, runs, action, op_id)
        parents = [(root, t0, t2), (action, t1, t2)]
        for batch_id, (a, b) in sink_spans.items():
            sid = tr.add("sink", a, b, parent=spans.get((run, batch_id), action), op=op_id)
            parents.append((sid, a, b))
        self.status.settle()
        # the sink body's writes are the only queries Catalyst plans here
        op.add_layers(layers.plan_spans(tr, self.plans.take(), parents, op_id))
        files = nbytes = 0
        for dirpath, _dirs, names in os.walk(sink):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, n))
        op.add_layers({
            "construct.ms": (t1 - t0) * 1000.0,
            "action.ms": (t2 - t1) * 1000.0,
            "sink.write_ms": sum(b - a for a, b in sink_spans.values()) * 1000.0,
            "sink.files": files,
            "sink.bytes": nbytes,
            "sink.bytes_per_event": nbytes / self.n_events,
        })
        op.add_layers(self.status.exec_counts(self.status.job_ids(runs)))
        op.add_layers(layers.stream_counts(self.progress, runs))


WORKLOADS = {"ingest": Ingest, "interactive": Interactive}
