#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run derives its inputs from the seed
under ``.perfbench/``, computes the DuckDB oracle's answers, starts the
engine at ``local[4]``, warms the workload up (collecting the results it
checks), times whole passes for at least ``--seconds``, checks the results
and prints, as its last stdout line,
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (see BENCHMARK.json).
``--trace 1`` times the same pass untraced, traced and untraced again,
writes the traced pass's spans as JSON lines to ``.perfbench/trace-<workload>-<seed>.jsonl``
and reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
CONTROL_ROWS = 50_000_000
# The median of at least four passes leaves out a first pass that still
# pays for compilation, and a pass that a busy neighbour on the host slowed.
MIN_PASSES = 4

# Wall-clock latency (pass_s, op_ms_p50) is printed as a diagnostic, not
# gated: on a host whose hypervisor steals CPU in phases of minutes, its
# spread across seeds reached 0.3 of the median in one window, above any
# usable bound, while the CPU the process tree spends per pass moved far
# less.


def metric_units(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics a run reports, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the engine, Spark and its JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_GRAFT_LOCAL", None)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


# The JVM compiles with C1 only, so every figure is a C1 figure.  With the
# default tiered JIT, C2 kept compiling through every pass a run can afford
# (CPU per pass fell from 9.4 to 6.2 s over three passes), so its compile
# work, not the engine, set the spread; stopping at C1 settles within the
# warm-up.  C1 alone gets a 48 MB code cache, which Spark's generated code
# filled within a minute: the sweeper's flushes and the recompiles after
# them doubled the CPU of a pass, so the cache gets the tiered default.
JVM_FLAGS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def start_engine(work: str, trace: bool):
    from mu_swarm_logger_service_spark import get_spark
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} {JVM_FLAGS}",
    }
    if trace:
        # the traced run finds an operation's SQL executions by position
        conf["spark.sql.ui.retainedExecutions"] = "100000"
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


def stop_engine(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def host_control(spark) -> float:
    """A fixed job independent of engine code: sum of 0..5e7-1."""
    t0 = time.perf_counter()
    got = spark.range(CONTROL_ROWS).selectExpr("sum(id) AS s").collect()[0].s
    dt = time.perf_counter() - t0
    if got != CONTROL_ROWS * (CONTROL_ROWS - 1) // 2:
        raise RuntimeError(f"host control summed to {got}")
    return dt


def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and its descendants: this process, the JVM and its
    Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def retained_mb(spark) -> float:
    """JVM heap and non-heap memory in use after a full collection: what
    the engine keeps across operations.

    Peak RSS is not reported: with the heap left to grow, it follows G1's
    sizing decisions (its spread across seeds was 0.16 of the median); with
    the heap pinned, it reads the pinned size whatever the engine keeps."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


def cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by the process tree, reaped children
    included.  Time the hypervisor steals from the guest is not in it."""
    ticks = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tail(values, n_beyond=10):
    """(percentile, value): the highest percentile with ``n_beyond``
    samples above it, or None when the sample is too small."""
    n = len(values)
    pct = 100 * (n - n_beyond) // n if n > n_beyond else 0
    if pct <= 50:
        return None
    return pct, statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads  # noqa: E402  (needs HERE on the path)

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(work)
    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        t = time.perf_counter()
        wl.prepare()
        print(f"# inputs and oracle: {time.perf_counter() - t:.2f}s", flush=True)

        t_setup = time.perf_counter()
        spark = start_engine(work, args.trace)
        t_session = time.perf_counter() - t_setup
        tracer = status = progress = plans = None
        if args.trace:
            import layers
            tracer, status = layers.Tracer(), layers.StatusReader(spark)
            progress, plans = layers.ProgressLog(), layers.PlanLog()
            layers.start_callbacks(spark)
        wl.start(spark, tracer, status, progress, plans)
        wl.warm_up()
        setup_s = time.perf_counter() - t_setup

        # the control's first run in a JVM compiles its job; time the second
        host_control(spark)
        control = [host_control(spark)]
        # start the timed window from a collected heap on both sides
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if args.trace:
            result, attempted, failed = traced_run(spark, wl, args)
        else:
            result, attempted, failed, diag = timed_run(wl, args.seconds)
            result["setup_s"] = setup_s
            diag.update(workload=args.workload, seed=args.seed,
                        session_start_s=round(t_session, 3),
                        warm_up_s=round(setup_s - t_session, 3))
        control.append(host_control(spark))
        if args.trace:
            result["host.control_s"] = statistics.mean(control)
        else:
            diag["host_control_s"] = [round(c, 3) for c in control]
            print("# " + json.dumps(diag))
        checked, wrong = wl.check()
        attempted += checked
        failed += wrong
        metrics = {k: {"value": round(float(result.get(k, 0.0)), 6), "unit": u}
                   for k, u in metric_units(args.trace).items()}
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def timed_run(wl, seconds: float):
    """Whole passes until ``seconds`` have elapsed, and at least
    ``MIN_PASSES``; returns the end-to-end metrics, the operation counts
    and diagnostics."""
    passes, cpu, ops = [], [], []
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        c0 = cpu_s(os.getpid())
        wall, op = wl.run_pass()
        cpu.append(cpu_s(os.getpid()) - c0)
        passes.append(wall)
        ops.append(op)
    lat = [x for op in ops for x in op.latencies_ms]
    result = {
        "pass_cpu_s": statistics.median(cpu),
        "retained_mb": retained_mb(wl.spark),
    }
    by_name: dict[str, list[float]] = {}
    for op in ops:
        for name, ms in zip(op.names, op.latencies_ms):
            by_name.setdefault(name, []).append(ms)
    t = tail(lat)
    diag = {
        "pass_s": round(statistics.median(passes), 3),
        "op_ms_p50": round(statistics.median(lat), 3),
        "ops": len(lat),
        "tail": {"percentile": t[0], "ms": round(t[1], 3)} if t else None,
        "items_per_s": round(wl.items / statistics.median(passes), 1),
        "passes_s": [round(p, 3) for p in passes],
        "passes_cpu_s": [round(c, 2) for c in cpu],
        "op_ms_p50_by_query": {k: round(statistics.median(v), 1)
                               for k, v in sorted(by_name.items())},
    }
    return (result, sum(op.attempted for op in ops),
            sum(op.failed for op in ops), diag)


def traced_run(spark, wl, args):
    """The same pass untraced, traced and untraced again; per-layer totals
    are per traced pass, and the overhead is against the untraced mean."""
    import layers
    order = wl.order()
    before_s, before = wl.run_pass(order=order)
    t0 = time.perf_counter()
    layers.attach(spark, wl.progress, wl.plans)
    _, op = wl.run_pass(traced=True, order=order)
    layers.detach(spark, wl.progress, wl.plans)
    traced_wall = time.perf_counter() - t0
    after_s, after = wl.run_pass(order=order)
    plain_s = (before_s + after_s) / 2
    out = dict(op.layers)
    # construction jobs count too: executor time over the operations' wall
    wall_ms = (out.get("construct.ms", 0.0) + out.get("action.ms", 0.0)) * CORES
    out["exec.busy_share"] = out.get("exec.run_ms", 0.0) / wall_ms if wall_ms else 0.0
    batches = out.get("stream.batches", 0.0)
    out["stream.nodata_share"] = (out.pop("stream.nodata_batches", 0.0) / batches
                                  if batches else 0.0)
    for name, ms in wl.tracer.self_ms().items():
        out[f"self.{name}_ms"] = ms
    out["trace.overhead_share"] = traced_wall / plain_s - 1.0
    path = os.path.join(ROOT, ".perfbench",
                        f"trace-{args.workload}-{args.seed}.jsonl")
    wl.tracer.write(path)
    print(f"# spans: {path}; untraced pass {plain_s:.3f}s, traced {traced_wall:.3f}s")
    return (out, before.attempted + op.attempted + after.attempted,
            before.failed + op.failed + after.failed)


if __name__ == "__main__":
    sys.exit(main())
