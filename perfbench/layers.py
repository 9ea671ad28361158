"""Tracing for the benchmark: spans at layer boundaries, and per-layer
counts read from Spark's own status stores.

Spans are recorded around the benchmark's own calls into the engine (a
query function, the noop action, a micro-batch, the sink body) and from
the phase times Catalyst records for every query it runs; nothing is
traced inside the package.  Counts come from:

- the job/stage status store (``sc.statusStore()``), for the jobs of each
  operation's job group and of every stream the operation started;
- the SQL status store, for the Python/Arrow UDF node metrics;
- a ``QueryExecutionListener``, for the analysis, optimization and planning
  phases of each query execution (``QueryExecution.tracker()``);
- ``StreamingQueryProgress`` events, for per-micro-batch and state costs.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

_PY_NODE = re.compile(r"Python|Pandas|Arrow")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
STREAM_DURATIONS = {  # per-layer name -> StreamingQueryProgress.durationMs key
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.latest_offset_ms": "latestOffset",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}


class Tracer:
    """Spans kept in memory and written as JSON lines at the end."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name, start, end, parent=None, op=None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "op": op, **attrs})
        return sid

    def self_ms(self) -> dict[str, float]:
        """Per span name: duration minus the part its children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] += (s["end"] - s["start"] - covered) * 1000.0
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class ProgressLog(StreamingQueryListener):
    """Collects start and progress events of every stream, keyed by run id.

    Events arrive on the listener bus asynchronously; ``wait_terminated``
    blocks until every started stream has reported its end."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: dict[str, float] = {}
        self.progress: dict[str, list] = defaultdict(list)
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        with self.lock:
            self.started[str(event.runId)] = _iso_s(event.timestamp)

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.progress[str(p.runId)].append({
                "batch": p.batchId,
                "start": _iso_s(p.timestamp),
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state": [{"rows": s.numRowsTotal, "mem": s.memoryUsedBytes,
                           "commit_ms": s.commitTimeMs,
                           "parts": s.numShufflePartitions}
                          for s in p.stateOperators],
            })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated.add(str(event.runId))

    def runs_since(self, mark: set) -> list[str]:
        with self.lock:
            return [r for r in self.started if r not in mark]

    def wait_terminated(self, runs, timeout=30.0) -> None:
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if all(r in self.terminated for r in runs):
                    return
            time.sleep(0.01)
        raise TimeoutError(f"no termination event for streams {runs}")


class PlanLog:
    """A ``QueryExecutionListener``: the Catalyst phases of every query
    execution that completes, as (action name, {phase: (start s, end s)}).

    The listener bus calls it after the execution has run, so the phases
    are those of the plan the action executed.  ``take`` after
    ``StatusReader.settle`` sees every execution finished so far."""

    def __init__(self):
        self.lock = threading.Lock()
        self.done: list[tuple[str, dict]] = []

    def onSuccess(self, func_name, qe, duration_ns):
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            summary = kv._2()
            phases[kv._1()] = (summary.startTimeMs() / 1000.0,
                               summary.endTimeMs() / 1000.0)
        with self.lock:
            self.done.append((func_name, phases))

    def onFailure(self, func_name, qe, exception):
        pass

    def take(self) -> list[tuple[str, dict]]:
        with self.lock:
            out, self.done = self.done, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def attach(spark, progress: "ProgressLog", plans: PlanLog) -> None:
    """Register both listeners; only the traced pass runs with them."""
    spark.streams.addListener(progress)
    spark._jsparkSession.listenerManager().register(plans)


def start_callbacks(spark) -> None:
    """Start the Py4J callback server the listeners need, before timing."""
    from pyspark.java_gateway import ensure_callback_server_started
    ensure_callback_server_started(spark.sparkContext._gateway)


def detach(spark, progress: "ProgressLog", plans: PlanLog) -> None:
    spark.streams.removeListener(progress)
    spark._jsparkSession.listenerManager().unregister(plans)


def plan_spans(tracer: Tracer, plans, parents, op) -> dict[str, float]:
    """One ``plan`` span per phase of each execution, under the innermost of
    ``parents`` ([(span id, start, end)], outermost first) that holds its
    start; returns the phase totals as ``plan.<phase>_ms``."""
    out: dict[str, float] = defaultdict(float)
    for func, phases in plans:
        for phase, (a, b) in phases.items():
            # phase times have millisecond resolution
            parent = [sid for sid, s, e in parents if s - 0.001 <= a <= e][-1:]
            tracer.add("plan", a, b, parent=parent[0] if parent else parents[0][0],
                       op=op, phase=phase, action=func)
            out[f"plan.{phase}_ms"] += (b - a) * 1000.0
    return dict(out)


def _iso_s(ts: str) -> float:
    from datetime import datetime
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def stream_counts(log: ProgressLog, runs) -> dict[str, float]:
    """Per-micro-batch and state-store totals over the given streams."""
    out = defaultdict(float)
    for r in runs:
        batches = log.progress.get(r, [])
        out["stream.batches"] += len(batches)
        out["stream.nodata_batches"] += sum(1 for b in batches if b["rows"] == 0)
        if batches and r in log.started:
            out["stream.startup_ms"] += (batches[0]["start"] - log.started[r]) * 1000.0
        for b in batches:
            for name, key in STREAM_DURATIONS.items():
                out[name] += b["ms"].get(key, 0)
            out["state.commit_ms"] += sum(s["commit_ms"] for s in b["state"])
        if batches:  # state size is what the last batch left behind
            last = batches[-1]["state"]
            out["state.rows_total"] += sum(s["rows"] for s in last)
            out["state.memory_bytes"] += sum(s["mem"] for s in last)
            out["state.partitions"] += sum(s["parts"] for s in last)
    return dict(out)


def batch_spans(tracer: Tracer, log: ProgressLog, runs, parent, op) -> dict:
    """One span per micro-batch, from its trigger start and duration;
    returns {batch id: span id}."""
    ids = {}
    for r in runs:
        for b in log.progress.get(r, []):
            start = b["start"]
            ids[(r, b["batch"])] = tracer.add(
                "batch", start, start + b["ms"].get("triggerExecution", 0) / 1000.0,
                parent=parent, op=op, rows=b["rows"])
    return ids


class StatusReader:
    """Job, stage and SQL-node counts for one operation."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.app_store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far to
        the status stores."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def sql_mark(self) -> int:
        return int(self.sql_store.executionsCount())

    def job_ids(self, groups) -> set[int]:
        tracker = self.sc.statusTracker()
        ids: set[int] = set()
        for g in groups:
            ids.update(tracker.getJobIdsForGroup(g))
        return ids

    def split_jobs(self, groups, t: float) -> tuple[set[int], set[int]]:
        """The groups' jobs submitted before and from time ``t``; call after
        ``settle`` so that every job's start has reached the store."""
        before, after = set(), set()
        for j in self.job_ids(groups):
            sub = self.app_store.job(j).submissionTime()
            if sub.isDefined() and sub.get().getTime() / 1000.0 < t:
                before.add(j)
            else:
                after.add(j)
        return before, after

    def exec_counts(self, job_ids) -> dict[str, float]:
        out = defaultdict(float)
        out["exec.jobs"] = len(job_ids)
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = self.app_store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += st.numTasks()
            out["exec.failed_tasks"] += st.numFailedTasks()
            out["exec.run_ms"] += st.executorRunTime()
            out["exec.cpu_ms"] += st.executorCpuTime() / 1e6
            out["exec.gc_ms"] += st.jvmGcTime()
            out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["exec.input_bytes"] += st.inputBytes()
        return dict(out)

    def udf_counts(self, since: int) -> dict[str, float]:
        """Python/Arrow node metrics of the SQL executions after ``since``."""
        out = {"udf.rows": 0.0, "udf.bytes_sent": 0.0, "udf.bytes_received": 0.0}
        n = self.sql_mark() - since
        if n <= 0:
            return out
        execs = self.sql_store.executionsList(since, n)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not _PY_NODE.search(node.name()):
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    key = {"number of output rows": "udf.rows",
                           "data sent to Python workers": "udf.bytes_sent",
                           "data returned from Python workers": "udf.bytes_received",
                           }.get(metric.name())
                    if key is None:
                        continue
                    v = values.get(self.jvm.java.lang.Long.valueOf(metric.accumulatorId()))
                    if v.isDefined():
                        out[key] += _metric_value(v.get())
        return out


def _metric_value(text: str) -> float:
    """A SQL metric as the status store renders it: a plain count
    ("1,234") or a size total ("total (min, med, max ...)\\n1.2 KiB (...)")."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "B", 1)
