"""Normalized optimized-plan digest of every registered query.

Builds each ``queries()``, ``staged_queries()`` and ``test_only_queries()``
entry on one scale factor (sf0.001 by default), writes its optimized logical
plan to a JSON file ``{name: plan}``, and diffs two such files. A refactor
that must not change any plan is checked by dumping before and after and
diffing:

    python tools/plan_digest.py OUT.json [--sf DIR]
    python tools/plan_digest.py --diff A.json B.json

Each dump also records each accessor's names in accessor order (``_order``)
and the md5 of each name's oracle SQL (``_oracles``). ``--diff`` lists every
name that moved within its accessor's order (outside the blocks difflib
matches between the two orders), entered or left the driver's gate window
(the first ``GATE_WINDOW`` of ``queries()``), changed accessor, or whose
oracle SQL changed, and exits 1 on any of them. A dump without those keys,
taken by an older version of this tool, gets one warning line and only its
plans are compared.

Each entry is built under its own job group, and the number of Spark jobs
its build fired before any action is recorded under ``_build_jobs``. That
count moves from run to run for a builder that checkpoints while building,
so an entry that fired jobs is built a second time and the record is the
range ``[min, max]`` of the two counts. ``--diff`` prints one info line per
entry whose two ranges do not overlap; these lines do not change the exit
code. When either dump has no such record, the counts are not compared.

A chain behind ``lazy_checkpoint`` ends at a ``LogicalRDD`` leaf in the
entry's plan, so the optimized plan of every round is also recorded, as the
round is checkpointed, under ``_rounds`` (``{name: [plan, ...]}``).
``--diff`` compares each round like an entry of its own, named
``<name> round <i>``. Optimized logical plans do not depend on adaptive
execution, so a change of how rounds are converted digests the same rounds.
When either dump has no such record, rounds are not compared.

Expression ids (``#123L``), RDD ids (``[12]`` after an RDD class name,
``rddId=``), ``plan_id=`` tags and the numbered names of higher-order
function variables (``lambda x_241``) differ from process to process, and
with the order entries are built in, and are replaced with placeholders
before writing. Persisted and checkpointed intermediates are released after
each entry, so no entry's plan picks up another entry's cached data. Some
builders fire jobs while building (lazy checkpoints under AQE); a full dump
at sf0.001 takes about 100 s on 4 cores. Never run it beside pytest or a
benchmark.

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
``temporal_leakage_audit`` is stable run to run, but its ``Expand`` order
follows the order the entries are built in, so a dump whose registry order
changed lists it as differing.
``--diff`` lists the five unstable entries apart; compare those (and
``temporal_leakage_audit`` after a reorder) through their deep parity tests
(``SPARK_GRAFT_DEEP=1 python -m pytest tests/test_oracle_parity.py
tests/test_staged_parity.py -k <name>``) instead.
"""

from __future__ import annotations

import argparse
import difflib
import hashlib
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
ORDER = "_order"
ORACLES = "_oracles"
BUILD_JOBS = "_build_jobs"
ROUNDS = "_rounds"
ACCESSORS = ("queries", "staged_queries", "test_only_queries")
ORACLE_ACCESSORS = ("oracle_sql", "staged_oracle_sql", "test_only_oracle_sql")
GATE_WINDOW = 50  # the driver's correctness gate verifies the first 50 queries()

_NORMALIZE = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"(RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"rddId=\d+"), "rddId=N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # higher-order function variables take fresh names from one JVM-wide
    # counter (x_241), so they depend on how many were built before
    (re.compile(r"(lambda [xyz])_\d+"), r"\1_N"),
)


def normalize(plan: str) -> str:
    for pat, repl in _NORMALIZE:
        plan = pat.sub(repl, plan)
    return plan


def _digest_rounds(rounds: list) -> None:
    """Make every loaded ``lazy_checkpoint`` binding append the normalized
    optimized plan of each round to ``rounds`` before checkpointing it.
    The lifecycle module's own name is rebound too, so a module imported
    later binds the recording version.

    A round's plan is optimized without cached-data substitution: a
    persisted intermediate appears as its logical plan, not as the
    physical plan inside its ``InMemoryRelation``, which shows how far
    adaptive execution has run that plan by the time the round is built."""
    from inde1_spark.plans import lifecycle

    checkpoint = lifecycle.lazy_checkpoint

    def recording(df, *args, **kwargs):
        optimizer = df.sparkSession._jsparkSession.sessionState().optimizer()
        plan = optimizer.execute(df._jdf.queryExecution().analyzed())
        rounds.append(normalize(plan.toString()))
        return checkpoint(df, *args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith("inde1_spark") and getattr(mod, "lazy_checkpoint", None) is checkpoint:
            mod.lazy_checkpoint = recording


def dump(out_path: str, sf_dir: str) -> None:
    import __spark_entry__ as entry_mod
    from inde1_spark.plans.lifecycle import release_persisted
    from inde1_spark.session import get_spark

    spark = get_spark(app_name="inde1-plan-digest")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracker = sc.statusTracker()
    surfaces = {acc: getattr(entry_mod, acc)() for acc in ACCESSORS}
    registry = {k: v for qs in surfaces.values() for k, v in qs.items()}
    oracles = {
        name: hashlib.md5(sql.encode()).hexdigest()
        for acc in ORACLE_ACCESSORS
        for name, sql in getattr(entry_mod, acc)().items()
    }
    plans: dict = {
        SESSION: {
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "defaultParallelism": spark.sparkContext.defaultParallelism,
        },
        ORDER: {acc: list(qs) for acc, qs in surfaces.items()},
        ORACLES: oracles,
        BUILD_JOBS: {},
        ROUNDS: {},
    }
    rounds: list = []
    _digest_rounds(rounds)

    def build(name: str, fn, run: int):
        group = f"plan-digest:{name}:{run}"
        sc.setJobGroup(group, name)
        df = fn(spark, sf_dir)
        # job events reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return df, len(tracker.getJobIdsForGroup(group))

    for name, fn in registry.items():
        rounds.clear()
        df, jobs = build(name, fn, 1)
        plans[name] = normalize(df._jdf.queryExecution().optimizedPlan().toString())
        if rounds:
            plans[ROUNDS][name] = list(rounds)
        counts = [jobs]
        release_persisted()
        spark.catalog.clearCache()
        if jobs:
            counts.append(build(name, fn, 2)[1])
            release_persisted()
            spark.catalog.clearCache()
        plans[BUILD_JOBS][name] = [min(counts), max(counts)]
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(plans, f, indent=1, sort_keys=True)
    print(f"{len(registry)} plans -> {out_path}")


def _moved(a: list[str], b: list[str]) -> set[str]:
    """Names in both orders that lie outside the blocks difflib matches
    between them: for a block of entries moved elsewhere, those entries."""
    common = set(a) & set(b)
    a, b = [k for k in a if k in common], [k for k in b if k in common]
    sm = difflib.SequenceMatcher(None, a, b, autojunk=False)
    return common - {k for m in sm.get_matching_blocks() for k in a[m.a:m.a + m.size]}


def _order_changes(a: dict, b: dict, a_path: str, b_path: str) -> list[str]:
    lines = []
    for acc in sorted(a.keys() | b.keys()):
        oa, ob = a.get(acc, []), b.get(acc, [])
        pa, pb = {k: i for i, k in enumerate(oa)}, {k: i for i, k in enumerate(ob)}
        crossed = set()
        if acc == "queries":
            crossed = {k for k in pa.keys() & pb.keys()
                       if (pa[k] < GATE_WINDOW) != (pb[k] < GATE_WINDOW)}
        for k in sorted(_moved(oa, ob) | crossed, key=pb.get):
            note = ""
            if k in crossed:
                note = (" (enters the gate window)" if pb[k] < GATE_WINDOW
                        else " (leaves the gate window)")
            lines.append(f"moved in {acc}: {k} {pa[k]} -> {pb[k]}{note}")
        lines += [f"only in {a_path} {acc}: {k}" for k in oa if k not in pb]
        lines += [f"only in {b_path} {acc}: {k}" for k in ob if k not in pa]
    return lines


def _entry(key: str) -> str:
    """The entry a compared key belongs to (``<name> round <i>`` -> name)."""
    return key.split(" round ")[0]


def _job_range(jobs) -> tuple[int, int]:
    """A ``_build_jobs`` record as (min, max); a dump taken before ranges
    were recorded holds one count."""
    return (jobs, jobs) if isinstance(jobs, int) else tuple(jobs)


def _show_range(lo: int, hi: int) -> str:
    return str(lo) if lo == hi else f"{lo}-{hi}"


def diff(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    sa, sb = a.pop(SESSION, None), b.pop(SESSION, None)
    if sa != sb:
        print(f"warning: session settings differ: {a_path} {sa}, {b_path} {sb}")
    order_a, order_b = a.pop(ORDER, None), b.pop(ORDER, None)
    oracles_a, oracles_b = a.pop(ORACLES, None), b.pop(ORACLES, None)
    jobs_a, jobs_b = a.pop(BUILD_JOBS, None), b.pop(BUILD_JOBS, None)
    rounds_a, rounds_b = a.pop(ROUNDS, None), b.pop(ROUNDS, None)
    if rounds_a is not None and rounds_b is not None:
        for d, rounds in ((a, rounds_a), (b, rounds_b)):
            d.update({f"{k} round {i}": p for k, ps in rounds.items()
                      for i, p in enumerate(ps, 1)})
    old = sorted({p for p, d in ((a_path, order_a), (a_path, oracles_a),
                                 (b_path, order_b), (b_path, oracles_b)) if d is None})
    order_lines, oracle_lines = [], []
    if old:
        print(f"warning: no order or oracle record in {', '.join(old)} "
              "(old dump); only plans are compared")
    else:
        order_lines = _order_changes(order_a, order_b, a_path, b_path)
        oracle_lines = [
            f"oracle differs: {k}" if k in oracles_a and k in oracles_b
            else f"oracle only in {a_path if k in oracles_a else b_path}: {k}"
            for k in sorted(oracles_a.keys() | oracles_b.keys())
            if oracles_a.get(k) != oracles_b.get(k)
        ]
    only_a, only_b = sorted(a.keys() - b.keys()), sorted(b.keys() - a.keys())
    changed = sorted(k for k in a.keys() & b.keys() if a[k] != b[k])
    stable = [k for k in changed if _entry(k) not in UNSTABLE]
    for k in only_a:
        print(f"only in {a_path}: {k}")
    for k in only_b:
        print(f"only in {b_path}: {k}")
    for k in changed:
        note = (" (unstable across runs, check its parity test)"
                if _entry(k) in UNSTABLE else "")
        print(f"differs{note}: {k}")
    for line in order_lines + oracle_lines:
        print(line)
    if jobs_a is not None and jobs_b is not None:
        for k in sorted(jobs_a.keys() & jobs_b.keys()):
            (lo_a, hi_a), (lo_b, hi_b) = _job_range(jobs_a[k]), _job_range(jobs_b[k])
            if hi_a < lo_b or hi_b < lo_a:
                print(f"info: build jobs of {k}: {_show_range(lo_a, hi_a)} -> "
                      f"{_show_range(lo_b, hi_b)}")
    n_same = len(a.keys() & b.keys()) - len(changed)
    print(f"{n_same} identical, {len(stable)} differ, "
          f"{len(changed) - len(stable)} unstable differ, "
          f"{len(only_a) + len(only_b)} unmatched, "
          f"{len(order_lines)} order changes, {len(oracle_lines)} oracle changes")
    return 1 if stable or only_a or only_b or order_lines or oracle_lines else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out", nargs="?", help="JSON file to write the digest to")
    ap.add_argument("--sf", help="scale-factor directory of the parquet "
                    "tables (default: the entry module's SF0001)")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"),
                    help="list the entries whose plans, order or oracles differ "
                    "between two digests")
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
