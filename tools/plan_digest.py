"""Normalized optimized-plan digest of every registered query.

Builds each ``queries()``, ``staged_queries()`` and ``test_only_queries()``
entry on one scale factor (sf0.001 by default), writes its optimized logical plan to a JSON
file ``{name: plan}``, and diffs two such files. A refactor that must not
change any plan is checked by dumping before and after and diffing:

    python tools/plan_digest.py OUT.json [--sf DIR]
    python tools/plan_digest.py --diff A.json B.json

Expression ids (``#123L``), RDD ids (``[12]`` after an RDD class name,
``rddId=``) and ``plan_id=`` tags differ from process to process and are
replaced with placeholders before writing. Persisted and checkpointed
intermediates are released after each entry, so no entry's plan picks up
another entry's cached data. Some builders fire jobs while building (lazy
checkpoints under AQE); a full dump at sf0.001 takes about 160 s on 4
cores. Never run it beside pytest or a benchmark.

Compare only dumps taken with the same ``SPARK_GRAFT_CPUS``: scan-parallel
loads (``Repartition <cores>``), ``Range`` splits and adaptive stage ids in
checkpointed plans follow the core count, and so does the session's shuffle
width (one partition per core unless ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` sets
it), which sizes every ``spread`` and the exchanges inside checkpointed
plans. Each dump records both under the ``_session`` key, and ``--diff``
warns when they differ.

Known unstable entries: ``cdc_chunk_stats``, ``cross_source_dup_matrix``,
``state_size_profile`` and ``retention_policy_sweep`` differ between two
fresh processes on the same commit. In each, Spark's distinct-aggregate
rewrite emits the ``Expand`` projections in a different order per run.
``coverage_select`` does too: its checkpointed rounds keep their executed
adaptive plans, and how many query stages adaptive execution creates
before it finds a round's relation empty (so the stage and codegen ids)
varies per run.
``--diff`` lists them apart; compare those through their deep parity tests
(``SPARK_GRAFT_DEEP=1 python -m pytest tests/test_oracle_parity.py
tests/test_staged_parity.py -k <name>``) instead.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

UNSTABLE = (
    "cdc_chunk_stats",
    "cross_source_dup_matrix",
    "state_size_profile",
    "retention_policy_sweep",
    "coverage_select",
)

SESSION = "_session"

_NORMALIZE = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"(RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"rddId=\d+"), "rddId=N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
)


def normalize(plan: str) -> str:
    for pat, repl in _NORMALIZE:
        plan = pat.sub(repl, plan)
    return plan


def dump(out_path: str, sf_dir: str) -> None:
    import __spark_entry__ as entry_mod
    from inde1_spark.plans.lifecycle import release_persisted
    from inde1_spark.session import get_spark

    spark = get_spark(app_name="inde1-plan-digest")
    spark.sparkContext.setLogLevel("ERROR")
    registry = {
        **entry_mod.queries(),
        **entry_mod.staged_queries(),
        **entry_mod.test_only_queries(),
    }
    plans: dict = {SESSION: {
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "defaultParallelism": spark.sparkContext.defaultParallelism,
    }}
    for name, fn in registry.items():
        df = fn(spark, sf_dir)
        plans[name] = normalize(df._jdf.queryExecution().optimizedPlan().toString())
        release_persisted()
        spark.catalog.clearCache()
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(plans, f, indent=1, sort_keys=True)
    print(f"{len(plans) - 1} plans -> {out_path}")


def diff(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    sa, sb = a.pop(SESSION, None), b.pop(SESSION, None)
    if sa != sb:
        print(f"warning: session settings differ: {a_path} {sa}, {b_path} {sb}")
    only_a, only_b = sorted(a.keys() - b.keys()), sorted(b.keys() - a.keys())
    changed = sorted(k for k in a.keys() & b.keys() if a[k] != b[k])
    stable = [k for k in changed if k not in UNSTABLE]
    for k in only_a:
        print(f"only in {a_path}: {k}")
    for k in only_b:
        print(f"only in {b_path}: {k}")
    for k in changed:
        note = " (unstable across runs, check its parity test)" if k in UNSTABLE else ""
        print(f"differs{note}: {k}")
    n_same = len(a.keys() & b.keys()) - len(changed)
    print(f"{n_same} identical, {len(stable)} differ, "
          f"{len(changed) - len(stable)} unstable differ, "
          f"{len(only_a) + len(only_b)} unmatched")
    return 1 if stable or only_a or only_b else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out", nargs="?", help="JSON file to write the digest to")
    ap.add_argument("--sf", help="scale-factor directory of the parquet "
                    "tables (default: the entry module's SF0001)")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"),
                    help="list the entries whose plans differ between two digests")
    args = ap.parse_args()
    if args.diff:
        return diff(*args.diff)
    if not args.out:
        ap.error("give an output file or --diff A B")
    import __spark_entry__ as entry_mod

    dump(args.out, args.sf or entry_mod.SF0001)
    return 0


if __name__ == "__main__":
    sys.exit(main())
