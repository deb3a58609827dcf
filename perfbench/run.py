"""Benchmark of the inde1_spark engine, measured from outside the program.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Everything is made from ``--seed``, in one
process on ``local[<cores>]`` through the program's ``session.get_spark()``;
the inputs, checkpoints, Spark scratch space and the traced run's event log
and spans live under ``.perfbench_work/`` in the checkout. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import parking  # noqa: E402
import queries  # noqa: E402
from stats import geomean, tail_percentile  # noqa: E402

ALL_QUERIES = queries.ITERATIVE + queries.ONESHOT
END_TO_END = {"setup_s": "s", "pass_s": "s", "op_geomean_ms": "ms"}
SETUP_REPS = 3
DRIVER_MEMORY = "2g"


def _per_layer() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    m = {"setup.jvm_launch_s": "s", "setup.warmup_s": "s",
         "operators.build_ms": "ms", "operators.build_jobs": "count",
         "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
         "catalyst.planning_ms": "ms", "spark.action_ms": "ms",
         "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
         "spark.task_run_ms": "ms", "spark.sched_delay_ms": "ms", "spark.gc_ms": "ms",
         "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
         "spark.spill_bytes": "bytes", "spark.task_skew": "ratio",
         "spark.task_tail_ms": "ms", "spark.task_tail_pct": "%",
         "spark.core_busy_ratio": "ratio", "trace.pass_s": "s",
         "memory.peak_rss_mb": "MB"}
    for q in ALL_QUERIES:
        m[f"operators.build_ms.{q}"] = "ms"
        m[f"spark.action_ms.{q}"] = "ms"
    m["streaming.events_per_s"] = "1/s"
    m["streaming.batches"] = "count"
    for d in parking.DRAINS:
        for k in ("batch_p50_ms", "add_batch_ms", "latest_offset_ms", "planning_ms",
                  "wal_commit_ms", "commit_ms", "sink_ms"):
            m[f"streaming.{k}.{d}"] = "ms"
    m.update({"state.rows_total": "count", "state.memory_bytes": "bytes",
              "state.commit_ms": "ms", "state.rows_dropped": "count"})
    for j in parking.JOBS:
        m[f"jobs.{j}_ms"] = "ms"
    m["sources.archive_files"] = "count"
    return m


class Context:
    """What a workload needs from the harness: the session, the seed, the
    tracer and the per-query layer records of a traced run."""

    def __init__(self, seed: int, tracer, cores: int) -> None:
        self.seed, self.tracer, self.cores = seed, tracer, cores
        self.spark = None
        self.tag = ""
        self.run_span = None
        self.queries: list[dict] = []
        self.measure_start_ms = self.measure_end_ms = 0.0
        # progress reports stamp micro-batches in wall-clock time
        self._clock_offset = time.time() - time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def perf_time(self, iso: str) -> float:
        wall = datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
        return wall - self._clock_offset

    def query_detail(self, name: str, df, build_s: float, action_s: float) -> None:
        """Traced run only: the Catalyst phase times of the query's plan.
        Optimization and planning run lazily, so the plan is forced here,
        after the timed action."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()

        def phase(key):
            p = phases.get(key)
            return float(p.get().durationMs()) if p.isDefined() else 0.0

        self.queries.append({
            "tag": self.tag, "query": name,
            "build_ms": build_s * 1000, "action_ms": action_s * 1000,
            "analysis_ms": phase("analysis"), "optimization_ms": phase("optimization"),
            "planning_ms": phase("planning"),
        })


def _workload(name: str):
    if name == "iterative_queries":
        return queries.QueryWorkload(queries.ITERATIVE)
    if name == "oneshot_queries":
        return queries.QueryWorkload(queries.ONESHOT)
    if name == "parking_replay":
        return parking.ParkingWorkload()
    raise SystemExit(f"unknown workload {name!r}")


def _session(ctx: Context, work: str, out: str, trace: bool):
    from inde1_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # keep every micro-batch's progress report, not the last 100
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": f"file://{out}/eventlog"})
    ctx.spark = get_spark(app_name="perfbench", master=f"local[{ctx.cores}]",
                          extra_conf=conf)
    return ctx.spark


def _peak_rss_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it: it exits when its stdin
    closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _query_layers(ctx: Context, log) -> dict[str, float]:
    med = statistics.median
    # a pass's figures come from each query's first run in it
    tags = sorted({q["tag"] for q in ctx.queries
                   if q["tag"].startswith("p") and "." not in q["tag"]})
    per_pass = []
    for tag in tags:
        qs = [q for q in ctx.queries if q["tag"] == tag]
        acts = [log.by_group(f"{tag}:{q['query']}:action") for q in qs]
        act_ms = sum(q["action_ms"] for q in qs)
        row = {k: sum(q[k] for q in qs) for k in
               ("build_ms", "analysis_ms", "optimization_ms", "planning_ms", "action_ms")}
        row["build_jobs"] = sum(log.by_group(f"{tag}:{q['query']}:build").jobs for q in qs)
        for f in ("jobs", "stages", "tasks", "task_run_ms", "sched_delay_ms", "gc_ms",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            row[f] = sum(getattr(a, f) for a in acts)
        row["task_skew"] = max(a.task_skew for a in acts)
        row["task_tail_pct"], row["task_tail_ms"] = _tail(
            [r for a in acts for r in a.task_runs_ms])
        row["core_busy_ratio"] = row["task_run_ms"] / (act_ms * ctx.cores)
        per_pass.append(row)
    out = {f"operators.{k}": med(r[k] for r in per_pass) for k in ("build_ms", "build_jobs")}
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        out[f"catalyst.{k}"] = med(r[k] for r in per_pass)
    for k in ("action_ms", "jobs", "stages", "tasks", "task_run_ms", "sched_delay_ms",
              "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "task_skew", "task_tail_pct", "task_tail_ms", "core_busy_ratio"):
        out[f"spark.{k}"] = med(r[k] for r in per_pass)
    for name in ALL_QUERIES:
        qs = [q for q in ctx.queries if q["query"] == name and q["tag"] in tags]
        out[f"operators.build_ms.{name}"] = med(q["build_ms"] for q in qs) if qs else 0.0
        out[f"spark.action_ms.{name}"] = med(q["action_ms"] for q in qs) if qs else 0.0
    return out


def _interval_layers(ctx: Context, log, passes: int) -> dict[str, float]:
    a = log.in_interval(ctx.measure_start_ms, ctx.measure_end_ms)
    wall = ctx.measure_end_ms - ctx.measure_start_ms
    out = {f"spark.{f}": getattr(a, f) / passes for f in
           ("jobs", "stages", "tasks", "task_run_ms", "sched_delay_ms", "gc_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")}
    out["spark.task_skew"] = a.task_skew
    out["spark.task_tail_pct"], out["spark.task_tail_ms"] = _tail(a.task_runs_ms)
    out["spark.core_busy_ratio"] = a.core_busy_ratio(wall, ctx.cores)
    return out


def _tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile of task run time with
    at least ten tasks beyond it; (0, 0) when there are too few tasks."""
    return tail_percentile(samples) or (0.0, 0.0)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tables", metavar="DIR",
                    help="query workloads: read the tables from DIR (for example the "
                         "repository's test data) instead of generating them")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "__spark_entry__.py")):
        print("perfbench: run from the root of an inde1_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    import eventlog
    from spans import Tracer

    per_layer = _per_layer()

    wl = _workload(args.workload)
    if args.tables and not isinstance(wl, queries.QueryWorkload):
        ap.error("--tables applies to the query workloads only")
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    out = os.path.join(base, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    for d in (f"{work}/tmp", f"{work}/spark-local") + ((f"{out}/eventlog",) if args.trace else ()):
        os.makedirs(d)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(bool(args.trace))
    ctx = Context(args.seed, tracer, cores)
    try:
        t0 = time.perf_counter()
        _session(ctx, work, out, args.trace)
        jvm_launch_s = time.perf_counter() - t0
        ctx.spark.stop()
        if args.tables:
            dirs = [os.path.abspath(args.tables)] * SETUP_REPS
        else:
            dirs = [os.path.join(work, f"inputs{i}") for i in range(SETUP_REPS)]
            for d in dirs:
                wl.write_inputs(args.seed, d)
        # set-up = a fresh session + this seed's inputs opened through the
        # program's readers; repeated in the same JVM on a fresh copy of the
        # inputs each time (written beforehand, not timed), the median is
        # reported
        reps = []
        for i, d in enumerate(dirs):
            t0 = time.perf_counter()
            with tracer.span("setup", rep=i):
                _session(ctx, work, out, args.trace)
                wl.open(ctx, d)
            reps.append(time.perf_counter() - t0)
            if i + 1 < SETUP_REPS:
                ctx.spark.stop()
        # warm-up, which also checks outputs, in the session that is timed
        t0 = time.perf_counter()
        with tracer.span("warm-up"):
            checks = wl.warm_up(ctx)
        warmup_s = time.perf_counter() - t0
        with tracer.span("run", workload=args.workload) as ctx.run_span:
            result = wl.measure(ctx, args.seconds, checks)
        peak = _peak_rss_mb(ctx.spark)
        app_id = ctx.spark.sparkContext.applicationId
        ctx.spark.stop()
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        with open(os.path.join(out, "eventlog", app_id)) as f:
            log = eventlog.parse(f)
        if args.workload == "parking_replay":
            layers = _interval_layers(ctx, log, len(result["passes"]))
            layers.update(wl.layers(result))
        else:
            layers = _query_layers(ctx, log)
        layers["setup.jvm_launch_s"] = jvm_launch_s
        layers["setup.warmup_s"] = warmup_s
        layers["trace.pass_s"] = sum(result["per_query_s"])
        layers["memory.peak_rss_mb"] = peak
        # a layer this workload does not reach reads 0
        metrics = {k: (layers.get(k, 0.0), u) for k, u in per_layer.items()}
        with open(os.path.join(out, "queries.json"), "w") as f:
            json.dump(ctx.queries, f)
        tracer.write(os.path.join(out, "trace.json"))
    else:
        values = {
            "setup_s": statistics.median(reps),
            "pass_s": sum(result["per_query_s"]),
            "op_geomean_ms": geomean(result["per_query_s"]) * 1000,
        }
        metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
