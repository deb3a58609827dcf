"""Per-query overhead profiler for the optimization round.

For each headline query: time the DataFrame BUILD (py4j expression
construction — inside the driver's timed region in bench.py), the first
count (analysis+optimization+execution) and steady-state counts, and
record how many Spark jobs/stages/tasks the steady-state rep launched.
Optionally writes .explain("formatted") to plans/r11/<name>_before.txt.

Usage: python tools/profile_bench.py [name ...]   (default: full HEADLINE)
Env: SPARK_GRAFT_PROFILE_EXPLAIN=1 to write plan files;
     SPARK_GRAFT_PROFILE_SUFFIX=_after (default _before) names them.
NEVER run concurrently with pytest or bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_REPS = 3
WRITE_EXPLAIN = os.environ.get("SPARK_GRAFT_PROFILE_EXPLAIN", "0") == "1"
PLAN_SUFFIX = os.environ.get("SPARK_GRAFT_PROFILE_SUFFIX", "_before")
PLANS_DIR = os.path.join(HERE, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r12"))


def main() -> None:
    from inde1_spark.session import get_spark

    import __spark_entry__ as entry_mod
    from bench import HEADLINE
    from inde1_spark.plans.lifecycle import release_persisted

    spark = get_spark(app_name="inde1-profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    queries = {**entry_mod.staged_queries(), **entry_mod.queries()}
    names = sys.argv[1:] or list(HEADLINE)

    spark.read.parquet(f"{SF_DIR}/region.parquet").count()

    if WRITE_EXPLAIN:
        os.makedirs(PLANS_DIR, exist_ok=True)

    out: dict[str, dict] = {}
    for name in names:
        fn = queries[name]
        sc.setJobDescription(f"profile:{name}")
        # warmup (also builds once untimed for JIT fairness)
        fn(spark, SF_DIR).count()
        builds: list[float] = []
        counts: list[float] = []
        jobs0 = set(tracker.getJobIdsForGroup(None))
        stages = 0
        tasks = 0
        for rep in range(N_REPS):
            spark.catalog.clearCache()
            release_persisted()
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            t1 = time.perf_counter()
            df.count()
            t2 = time.perf_counter()
            builds.append(round(t1 - t0, 3))
            counts.append(round(t2 - t1, 3))
        release_persisted()
        jobs1 = set(tracker.getJobIdsForGroup(None))
        new_jobs = sorted(jobs1 - jobs0)
        stage_ids: set[int] = set()
        for jid in new_jobs:
            ji = tracker.getJobInfo(jid)
            if ji is not None:
                stage_ids.update(ji.stageIds)
        for sid in stage_ids:
            si = tracker.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
        stages = len(stage_ids)
        med_b = sorted(builds)[N_REPS // 2]
        med_c = sorted(counts)[N_REPS // 2]
        out[name] = {
            "build_sec": med_b,
            "count_sec": med_c,
            "total_sec": round(med_b + med_c, 3),
            "builds": builds,
            "counts": counts,
            "jobs_3reps": len(new_jobs),
            "stages_3reps": stages,
            "tasks_3reps": tasks,
        }
        print(
            f"# {name}: build {med_b:.3f}s count {med_c:.3f}s "
            f"jobs {len(new_jobs)} stages {stages} tasks {tasks}",
            file=sys.stderr,
            flush=True,
        )
        if WRITE_EXPLAIN:
            df = fn(spark, SF_DIR)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(PLANS_DIR, f"{name}{PLAN_SUFFIX}.txt"), "w") as f:
                f.write(plan)
            release_persisted()
        sc.setJobDescription(None)

    with open(os.path.join(HERE, "tools", "profile_out.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v["total_sec"] for k, v in out.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
