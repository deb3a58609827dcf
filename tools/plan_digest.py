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

Expression ids (``#123L``), RDD ids (``[12]`` after an RDD class name,
``rddId=``), ``plan_id=`` tags and the numbered names of higher-order
function variables (``lambda x_241``) differ from process to process, and
with the order entries are built in, and are replaced with placeholders
before writing. Persisted and checkpointed intermediates are released after
each entry, so no entry's plan picks up another entry's cached data. Some
builders fire jobs while building (lazy checkpoints under AQE); a full dump
at sf0.001 takes about 160 s on 4 cores. Never run it beside pytest or a
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


def dump(out_path: str, sf_dir: str) -> None:
    import __spark_entry__ as entry_mod
    from inde1_spark.plans.lifecycle import release_persisted
    from inde1_spark.session import get_spark

    spark = get_spark(app_name="inde1-plan-digest")
    spark.sparkContext.setLogLevel("ERROR")
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
    }
    for name, fn in registry.items():
        df = fn(spark, sf_dir)
        plans[name] = normalize(df._jdf.queryExecution().optimizedPlan().toString())
        release_persisted()
        spark.catalog.clearCache()
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
    stable = [k for k in changed if k not in UNSTABLE]
    for k in only_a:
        print(f"only in {a_path}: {k}")
    for k in only_b:
        print(f"only in {b_path}: {k}")
    for k in changed:
        note = " (unstable across runs, check its parity test)" if k in UNSTABLE else ""
        print(f"differs{note}: {k}")
    for line in order_lines + oracle_lines:
        print(line)
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
