#!/usr/bin/env python
"""Profile registered queries from Spark's own status stores, with no
Spark UI and no plan text: one JSON line per (query, fixture, rep).

A record has ``query``, ``sf_dir``, ``rep`` and the per-layer metrics of
``BENCHMARK.json``: ``construct.*`` (the query function call, with the jobs
and streams it runs eagerly), ``action.ms`` (a ``noop`` write of the
result, never ``count()``), ``plan.*_ms``, ``exec.*``, ``udf.*`` and, for
stream-executed queries, ``stream.*`` and ``state.*``.  ``operators`` sums
the SQL metrics of every plan-graph node of the query's executions per
node name (``Exchange``, ``HashAggregate`` ...), ``nodes`` counting them.
A query that raises gets ``error`` instead.  The counts come from the
benchmark's readers in ``perfbench/layers.py``.

    python tools/query_profile.py --sf DIR [--sf DIR ...] [--reps N]
                                  [--out FILE] [query ...]

With no query names every registered query is profiled.  Construction
against execution, warm: ``--reps 3 q_a q_b`` and reps 2-3 of
``construct.ms`` and ``action.ms``.  Scaling: one ``--sf`` per replicated
fixture, reading ``exec.tasks`` or ``state.rows_total``.
"""
from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import uuid
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from mu_swarm_logger_service_spark import all_queries, get_spark  # noqa: E402
from perfbench.layers import (  # noqa: E402
    PlanLog,
    ProgressLog,
    StatusReader,
    Tracer,
    _metric_value,
    plan_spans,
    start_callbacks,
    stream_counts,
)

_SUFFIX = re.compile(r"\s*\(\d+\)$")          # "WholeStageCodegen (3)"
_DURATION = re.compile(r"\s*[\d.,]+\s*(s|m|h)\b")  # "1.2 s": a timing in s/m/h
_DURATION_MS = {"s": 1e3, "m": 6e4, "h": 3.6e6}
_GROUP = "spark.jobGroup.id"


def profile(spark, name: str, sf_dir: str, rep: int = 1) -> dict:
    """Run registered query ``name`` on ``sf_dir`` once and return its
    record.  The listeners are attached for this call only."""
    fn = all_queries()[name]
    sc = spark.sparkContext
    status, progress, plans = StatusReader(spark), ProgressLog(), PlanLog()
    # removing a listener compares it with the others by ``equals``, which
    # Py4J forwards to the Python object
    plans.equals = lambda other: other is plans
    start_callbacks(spark)
    prev_group = sc.getLocalProperty(_GROUP)
    group = f"query-profile-{uuid.uuid4().hex}"
    rec: dict = {"query": name, "sf_dir": sf_dir, "rep": rep}
    # ``unregister`` needs the Java proxy ``register`` made: passing the
    # Python object again makes a new proxy that matches no listener
    manager = spark._jsparkSession.listenerManager()
    manager.register(plans)
    jplans = manager.listListeners()[-1]
    spark.streams.addListener(progress)
    try:
        sc.setLocalProperty(_GROUP, group)
        status.settle()
        plans.take()  # drop what earlier operations left on the bus
        last_id = _last_execution_id(status)
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - recorded, not raised
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            return rec
        t2 = time.time()
        runs = progress.runs_since(set())
        progress.wait_terminated(runs)
        status.settle()
        construct_jobs, action_jobs = status.split_jobs([group], t1)
        # every stream the query started ran inside its construction
        stream_jobs = status.job_ids(runs)
        rec.update({"construct.ms": (t1 - t0) * 1000.0,
                    "construct.jobs": len(construct_jobs | stream_jobs),
                    "action.ms": (t2 - t1) * 1000.0})
        rec.update({f"plan.{p}_ms": 0.0
                    for p in ("analysis", "optimization", "planning")})
        rec.update(plan_spans(Tracer(), plans.take(), [(0, t0, t2)], None))
        rec.update(status.exec_counts(construct_jobs | action_jobs | stream_jobs))
        execs = _executions_after(status, last_id)
        rec.update(status.udf_counts(status.sql_mark() - len(execs)))
        rec.update(stream_counts(progress, runs))
        rec["operators"] = _operators(status, execs)
        return rec
    finally:
        spark.streams.removeListener(progress)
        manager.unregister(jplans)
        sc.setLocalProperty(_GROUP, prev_group)


def _last_execution_id(status: StatusReader) -> int:
    execs = status.sql_store.executionsList()
    return int(execs.last().executionId()) if execs.size() else -1


def _executions_after(status: StatusReader, last_id: int) -> list[int]:
    """Ids of the SQL executions newer than ``last_id``, oldest first.  The
    store lists executions by id and trims the oldest beyond
    ``spark.sql.ui.retainedExecutions``, so the new ones are its tail."""
    execs = status.sql_store.executionsList()
    out = []
    for i in reversed(range(execs.size())):
        eid = int(execs.apply(i).executionId())
        if eid <= last_id:
            break
        out.append(eid)
    return out[::-1]


def _operators(status: StatusReader, execs) -> dict[str, dict[str, float]]:
    """SQL metrics per plan-graph node name, summed over ``execs``: each
    node's metrics are joined to the execution's final values by
    accumulator id."""
    jlong = status.jvm.java.lang.Long
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for eid in execs:
        values = status.sql_store.executionMetrics(eid)
        nodes = status.sql_store.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            agg = out[_SUFFIX.sub("", node.name())]
            agg["nodes"] += 1
            metrics = node.metrics()
            for m in range(metrics.size()):
                metric = metrics.apply(m)
                v = values.get(jlong.valueOf(metric.accumulatorId()))
                if v.isDefined():
                    agg[metric.name()] += _value(v.get())
    return {n: dict(ms) for n, ms in sorted(out.items())}


def _value(text: str) -> float:
    """``_metric_value``, with timings rendered in s, m or h read as ms."""
    line = text.strip().splitlines()[-1]
    m = _DURATION.match(line)
    scale = _DURATION_MS[m.group(1)] if m else 1.0
    return _metric_value(text) * scale


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", action="append", required=True,
                    help="fixture directory; repeat to profile several")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--out", help="JSONL file (default: stdout)")
    ap.add_argument("queries", nargs="*", help="default: every registered query")
    args = ap.parse_args(argv)
    names = args.queries or sorted(all_queries())
    spark = get_spark("query-profile", extra_conf={
        "spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    out = open(args.out, "w") if args.out else sys.stdout
    try:
        for sf_dir in args.sf:
            for name in names:
                for rep in range(1, args.reps + 1):
                    rec = profile(spark, name, sf_dir, rep)
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    print(f"# {name} rep{rep} {sf_dir}: {rec.get('error', 'ok')}",
                          file=sys.stderr, flush=True)
    finally:
        if out is not sys.stdout:
            out.close()
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
