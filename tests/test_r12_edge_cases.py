"""Semantics + plan invariants for the r12 STAGED batch (first tranche).

Same style as test_r10/r11_edge_cases: planted micro-datasets exercise the
property each operator's docstring claims; plan-shape pins hold the engine
invariants (column pruning, join strategy, no cartesian) so a later change
that breaks the 100 TB posture fails here before it reaches a gate window.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
from datetime import datetime, timedelta
from fractions import Fraction

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from inde1_spark.plans.explain import plan_report
from tests.conftest import SF_SMOKE

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]
T0 = datetime(2024, 3, 4, 0, 0, 0)


def _py_hash_bucket(key: int, mod: int = 100) -> int:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) % mod


def _rhu(num: int, den: int) -> int:
    """round_half_up(num/den) for nonnegative exact ints."""
    return (num * 2 + den) // (2 * den)


def _events(spark, rows):
    # rows: (event_id, hour, event_type, value)
    return spark.createDataFrame(
        [
            (i, T0 + timedelta(hours=h), i, et, float(v), "{}")
            for i, h, et, v in rows
        ],
        EVENT_COLS,
    )


# ---------------------------------------------------------------------------
# jonckheere_terpstra_trend
# ---------------------------------------------------------------------------


def _py_jt(samples: dict[int, list[float]]):
    """Pure-python JT with ties: U, E[U], micro-rounded tie-corrected Var."""
    groups = sorted(samples)
    u2 = 0
    for gi in groups:
        for gj in groups:
            if gi < gj:
                for x in samples[gi]:
                    for y in samples[gj]:
                        u2 += 2 if x < y else (1 if x == y else 0)
    ns = [len(samples[g]) for g in groups]
    n = sum(ns)
    from collections import Counter

    ties = Counter(v for vs in samples.values() for v in vs)
    e2h = (n * n - sum(x * x for x in ns)) // 2
    a = (
        n * (n - 1) * (2 * n + 5)
        - sum(x * (x - 1) * (2 * x + 5) for x in ns)
        - sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    )
    b_num = sum(x * (x - 1) * (x - 2) for x in ns) * sum(
        t * (t - 1) * (t - 2) for t in ties.values()
    )
    c_num = sum(x * (x - 1) for x in ns) * sum(
        t * (t - 1) for t in ties.values()
    )
    sgn = -1 if a < 0 else 1
    var_micro = (
        sgn * _rhu(abs(a) * 10**6, 72)
        + _rhu(b_num * 10**6, 36 * n * (n - 1) * (n - 2))
        + _rhu(c_num * 10**6, 8 * n * (n - 1))
    )
    return u2 / 2.0, e2h / 2.0, var_micro / 1e6


def test_jt_matches_pure_python_mirror(spark):
    from inde1_spark.operators.analytics import jonckheere_terpstra_trend

    # increasing trend across the four day quarters, with cross-group ties
    samples = {
        0: [1.0, 2.0, 2.0],
        1: [2.0, 3.0],
        2: [3.0, 4.0, 4.0],
        3: [5.0, 6.0],
    }
    rows, eid = [], 0
    for g, vals in samples.items():
        for v in vals:
            eid += 1
            rows.append((eid, g * 6 + 1, "view", v))
    out = jonckheere_terpstra_trend(_events(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    u, e, var = _py_jt(samples)
    assert r["n_total"] == 10 and r["k_groups"] == 4
    assert r["u_stat"] == u and r["mean_u"] == e and r["var_u"] == var
    assert r["z_stat"] == (u - e) / var**0.5
    assert r["z_stat"] > 2.0  # the planted monotone trend is detected


def test_jt_no_trend_and_degenerate_inputs(spark):
    from inde1_spark.operators.analytics import jonckheere_terpstra_trend

    # identical distributions in every quarter: U == E[U], z == 0
    rows, eid = [], 0
    for g in range(4):
        for v in (1.0, 2.0, 3.0):
            eid += 1
            rows.append((eid, g * 6, "view", v))
    r = jonckheere_terpstra_trend(_events(spark, rows)).collect()
    assert len(r) == 1 and r[0]["z_stat"] == 0.0
    # one group only -> filtered (no k-sample question to ask)
    one = [(1, 1, "view", 1.0), (2, 2, "view", 2.0)]
    assert jonckheere_terpstra_trend(_events(spark, one)).count() == 0
    # every value tied -> zero variance -> filtered, never a divide error
    tied = [(i, 6 * (i % 4), "view", 7.0) for i in range(1, 9)]
    assert jonckheere_terpstra_trend(_events(spark, tied)).count() == 0


def test_jt_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["jonckheere_terpstra_trend"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    # the global-min pass prunes to value alone; the histogram needs both
    assert schemas <= {"ts:timestamp_ntz,value:double", "value:double"}
    assert "InMemoryTableScan" in r.raw  # histogram built once, read 4 ways


# ---------------------------------------------------------------------------
# mantel_haenszel_or
# ---------------------------------------------------------------------------


def test_mh_or_matches_hand_computed_strata(spark):
    from inde1_spark.operators.analytics import mantel_haenszel_or

    # day 1: a=2 b=1 c=1 d=2 (n=6); day 2: a=1 b=2 c=2 d=1 (n=6)
    rows, eid = [], 0

    def add(day, hour, et, k):
        nonlocal eid
        for _ in range(k):
            eid += 1
            rows.append(
                (eid, T0 + timedelta(days=day, hours=hour), eid, et, 1.0, "{}")
            )

    add(0, 13, "click", 2); add(0, 14, "view", 1)
    add(0, 3, "click", 1);  add(0, 4, "view", 2)
    add(1, 13, "click", 1); add(1, 14, "view", 2)
    add(1, 3, "click", 2);  add(1, 4, "view", 1)
    df = spark.createDataFrame(rows, EVENT_COLS)
    out = mantel_haenszel_or(df).collect()
    assert len(out) == 1
    r = out[0]
    num = _rhu(2 * 2 * 10**6, 6) + _rhu(1 * 1 * 10**6, 6)
    den = _rhu(1 * 1 * 10**6, 6) + _rhu(2 * 2 * 10**6, 6)
    assert r["n_strata"] == 2
    assert r["sum_ad_n"] == num / 1e6 and r["sum_bc_n"] == den / 1e6
    assert r["or_mh"] == float(num) / float(den)


def test_mh_or_undefined_filters_out(spark):
    from inde1_spark.operators.analytics import mantel_haenszel_or

    # no unexposed outcomes anywhere: b*c sums to zero -> OR undefined
    rows = [
        (1, T0 + timedelta(hours=13), 1, "click", 1.0, "{}"),
        (2, T0 + timedelta(hours=14), 2, "view", 1.0, "{}"),
        (3, T0 + timedelta(hours=3), 3, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(rows, EVENT_COLS)
    assert mantel_haenszel_or(df).count() == 0


def test_mh_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["mantel_haenszel_or"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"ts:timestamp_ntz,event_type:string"}
    assert "PushedFilters" in r.raw  # the entry/exit IN-filter reaches the scan


# ---------------------------------------------------------------------------
# range_partition_plan
# ---------------------------------------------------------------------------


def test_range_plan_uniform_values_balance_exactly(spark):
    from inde1_spark.operators.analytics import range_partition_plan

    rows = [(i, i % 24, "view", float(i)) for i in range(1, 17)]
    out = range_partition_plan(_events(spark, rows)).collect()
    assert [r["part"] for r in out] == list(range(8))
    assert all(r["n_rows"] == 2 and r["fill_pct"] == 100.0 for r in out)
    # boundaries tile the domain in order without overlap
    for a, b in zip(out, out[1:]):
        assert a["hi_value"] < b["lo_value"]


def test_range_plan_hot_value_overfills_one_partition(spark):
    from inde1_spark.operators.analytics import range_partition_plan

    # 12 rows of one hot value + 4 distinct: the hot value cannot split
    # across boundaries (range layout is value-atomic), so its partition
    # overfills and the plan SHOWS it — the salting hand-off signal
    rows = [(i, 0, "view", 5.0) for i in range(12)]
    rows += [(100 + j, 0, "view", float(j)) for j in range(4)]
    out = range_partition_plan(spark.createDataFrame(
        [
            (i, T0 + timedelta(hours=h), i, et, float(v), "{}")
            for i, h, et, v in rows
        ],
        EVENT_COLS,
    )).collect()
    assert sum(r["n_rows"] for r in out) == 16
    hot = [r for r in out if r["lo_value"] <= 5.0 <= r["hi_value"]]
    assert len(hot) == 1 and hot[0]["n_rows"] >= 12
    assert hot[0]["fill_pct"] >= 600.0  # 12 rows vs ideal 2
    assert len(out) <= 8


def test_range_plan_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["range_partition_plan"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"value:double"}
    assert "InMemoryTableScan" in r.raw  # histogram built once


# ---------------------------------------------------------------------------
# join_size_estimate_audit
# ---------------------------------------------------------------------------


def test_jse_exact_equals_brute_join_and_classic_formula(spark):
    from inde1_spark.operators.analytics import join_size_estimate_audit

    # tiny warehouse with skew on one key
    events = spark.createDataFrame(
        [
            (i, T0 + timedelta(hours=i % 24), uid, "view", 1.0, "{}")
            for i, uid in enumerate([1, 1, 1, 2, 3, 3, 9])
        ],
        EVENT_COLS,
    )
    customer = spark.createDataFrame(
        [(k, "n", 0) for k in (1, 2, 3, 4)],
        ["c_custkey", "c_name", "c_nationkey"],
    )
    orders = spark.createDataFrame(
        [(o, k) for o, k in ((10, 1), (11, 1), (12, 2))],
        ["o_orderkey", "o_custkey"],
    )
    lineitem = spark.createDataFrame(
        [(o, p) for o, p in ((10, 7), (10, 8), (11, 7), (99, 7))],
        ["l_orderkey", "l_partkey"],
    )
    part = spark.createDataFrame(
        [(7, "x"), (8, "y")], ["p_partkey", "p_name"]
    )
    out = {
        r["join_name"]: r
        for r in join_size_estimate_audit(
            events, customer, orders, lineitem, part
        ).collect()
    }
    assert set(out) == {
        "events_customer", "orders_customer", "lineitem_orders",
        "lineitem_part",
    }
    # exact == the actual inner-join row count, per join
    checks = (
        ("events_customer", events.join(
            customer, events.user_id == customer.c_custkey).count()),
        ("orders_customer", orders.join(
            customer, orders.o_custkey == customer.c_custkey).count()),
        ("lineitem_orders", lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey).count()),
        ("lineitem_part", lineitem.join(
            part, lineitem.l_partkey == part.p_partkey).count()),
    )
    for name, n in checks:
        assert out[name]["exact_rows"] == str(n), name
    # the classic System-R formula, verbatim
    r = out["events_customer"]
    nl, nr = r["n_left"], r["n_right"]
    m = max(r["ndv_left"], r["ndv_right"])
    assert r["est_classic"] == str((nl * nr + m - 1) // m)
    # signed error: the uniform-key assumption misprices the skewed join
    assert r["err_classic_pct"] != 0.0
    # est_sampled pin (r10 ADVICE 1): the lanes are CORRELATED — both
    # sides hash the key VALUE — so the unbiased scale is 100/pct, and
    # the estimate is exactly scale * sum over in-lane keys of cA*cB.
    import hashlib

    def in_lane(k):
        return int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % 100 < 10

    pairs = {
        "events_customer": ([1, 1, 1, 2, 3, 3, 9], [1, 2, 3, 4]),
        "orders_customer": ([1, 1, 2], [1, 2, 3, 4]),
        "lineitem_orders": ([10, 10, 11, 99], [10, 11, 12]),
        "lineitem_part": ([7, 8, 7, 7], [7, 8]),
    }
    from collections import Counter

    for name, (lks, rks) in pairs.items():
        cl, cr = Counter(lks), Counter(rks)
        expect = 10 * sum(
            cl[k] * cr[k] for k in cl.keys() & cr.keys() if in_lane(k)
        )
        assert out[name]["est_sampled"] == str(expect), name


def test_jse_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["join_size_estimate_audit"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    # every scan pruned to its single join-key column
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert all(len(x.split(",")) == 1 for x in schemas if x), schemas
    assert "InMemoryTableScan" in r.raw  # per-key tables built once


# ---------------------------------------------------------------------------
# langid_calibration_audit
# ---------------------------------------------------------------------------


def test_calibration_bins_and_ece_identity(spark):
    from inde1_spark.operators.text import (
        CALIB_N_BINS,
        langid_calibration_audit,
    )

    # confident-correct ('the a data' -> en 3/3), confident-wrong (labeled
    # fr), and split-confidence docs ('the window' -> en 1 de 1 -> conf 1/2)
    docs = [
        (1, "the a data", "en", "s", 10),      # conf 1.0, correct
        (2, "the a data", "fr", "s", 10),      # conf 1.0, wrong
        (3, "the window", "en", "s", 10),      # conf 0.5, correct (tie->de? no: en vs de tie -> 'de' alphabetical)
        (4, "window group", "de", "s", 13),    # conf 1.0, correct
        (5, "xxx yyy", "en", "s", 7),          # no markers: excluded
    ]
    out = {
        r["bin"]: r
        for r in langid_calibration_audit(
            spark.createDataFrame(docs, DOC_COLS)
        ).collect()
    }
    # doc 3: en=1 ('the'), de=1 ('window') -> tie breaks to 'de'
    # (alphabetically first argmax), so it is WRONG with conf 1/2 -> bin 5
    assert set(out) == {5, CALIB_N_BINS - 1}
    top = out[CALIB_N_BINS - 1]
    assert (top["n_docs"], top["n_correct"]) == (3, 2)
    assert top["acc_pct"] == 66.67 and top["avg_conf_pct"] == 100.0
    assert top["gap_pct"] == 33.33
    mid = out[5]
    assert (mid["n_docs"], mid["n_correct"]) == (1, 0)
    assert mid["acc_pct"] == 0.0 and mid["avg_conf_pct"] == 50.0
    assert mid["gap_pct"] == 50.0
    # ECE identity from the emitted integers: sum over bins of
    # |n_correct*1e6 - sum_conf|/N equals the weighted gap sum
    n_total = sum(r["n_docs"] for r in out.values())
    ece = sum(
        abs(r["n_correct"] * 10**6 - r["n_docs"] * round(r["avg_conf_pct"] * 10**4))
        for r in out.values()
    ) / (n_total * 1e6)
    assert 0.0 <= ece <= 1.0


def test_calibration_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["langid_calibration_audit"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"text:string,lang:string"}
    assert r.exchanges <= 2  # one per-bin aggregate exchange (+ AQE read)


# ---------------------------------------------------------------------------
# batch-level plan invariants
# ---------------------------------------------------------------------------

R12_BATCH = (
    "jonckheere_terpstra_trend",
    "mantel_haenszel_or",
    "range_partition_plan",
    "join_size_estimate_audit",
    "langid_calibration_audit",
    "graph_modularity_audit",
    "bm25_parameter_sweep",
    "session_gap_sweep",
    "predicate_selectivity_audit",
)


def test_r12_batch_plan_invariants(spark):
    import __spark_entry__ as entrymod

    Q = entrymod.staged_queries()
    assert set(R12_BATCH) <= set(Q)
    for name in R12_BATCH:
        r = plan_report(Q[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in r.raw, f"{name}: cartesian"
        assert "BatchEvalPython" not in r.raw, f"{name}: row Python UDF"
        for node in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert node not in r.raw, f"{name}: unexpected {node}"


# ---------------------------------------------------------------------------
# graph_modularity_audit
# ---------------------------------------------------------------------------


def test_modularity_two_cliques_near_half(spark):
    from inde1_spark.operators.dedup import graph_modularity_audit

    # two identical-text families (complete near-dup cliques, no cross
    # edges): LPA converges within each; Q for two equal cliques under
    # their own partition is exactly 1/2 (intra=all, D_c = m per side)
    fam_a = "alpha beta gamma delta epsilon zeta eta theta"
    fam_b = "one two three four five six seven eight"
    rows = [(i, fam_a, "en", "s", len(fam_a)) for i in range(4)]
    rows += [(10 + i, fam_b, "en", "s", len(fam_b)) for i in range(4)]
    out = graph_modularity_audit(
        spark.createDataFrame(rows, DOC_COLS)
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_nodes"] == 8 and r["n_edges"] == 12  # 2 x C(4,2)
    assert r["n_communities"] == 2
    assert r["intra_edge_pct"] == 100.0
    assert r["modularity"] == 0.5


def test_modularity_single_family_is_zero(spark):
    from inde1_spark.operators.dedup import graph_modularity_audit

    # one clique, one community: L_c = m, D_c = 2m -> Q = 1 - 1 = 0
    t = "same text family shared by every document here"
    rows = [(i, t, "en", "s", len(t)) for i in range(5)]
    out = graph_modularity_audit(
        spark.createDataFrame(rows, DOC_COLS)
    ).collect()
    assert len(out) == 1
    assert out[0]["modularity"] == 0.0
    assert out[0]["intra_edge_pct"] == 100.0


def test_modularity_empty_graph_filters_out(spark):
    from inde1_spark.operators.dedup import graph_modularity_audit

    rows = [
        (1, "completely unrelated words aa bb cc", "en", "s", 30),
        (2, "different text entirely xx yy zz qq", "en", "s", 30),
    ]
    assert graph_modularity_audit(
        spark.createDataFrame(rows, DOC_COLS)
    ).count() == 0


def test_modularity_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["graph_modularity_audit"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    assert "InMemoryTableScan" in r.raw  # edges persisted


# ---------------------------------------------------------------------------
# bm25_parameter_sweep
# ---------------------------------------------------------------------------


def test_bm25_sweep_default_row_is_identity(spark):
    from inde1_spark.operators.scoring import (
        BM25_B,
        BM25_K1,
        bm25_parameter_sweep,
        bm25_score,
    )

    docs = [
        (1, "query join stream query", "en", "s", 24),
        (2, "query join other words here", "en", "s", 27),
        (3, "stream stream stream join", "en", "s", 25),
        (4, "nothing relevant at all", "en", "s", 23),
        (5, "query " * 5, "en", "s", 30),
    ]
    df = spark.createDataFrame(docs, DOC_COLS)
    out = {
        (r["k1"], r["b"]): r for r in bm25_parameter_sweep(df).collect()
    }
    d = out[(BM25_K1, BM25_B)]
    # the default config overlaps itself 100% and reproduces bm25_score's
    # own top-k mean (same contributions, same snapping)
    assert d["overlap_default_pct"] == 100.0
    ref = bm25_score(df).collect()
    assert d["n_topk"] == len(ref)
    assert d["mean_bm25"] == pytest.approx(
        sum(r["bm25"] for r in ref) / len(ref), abs=1e-9
    )


def test_bm25_sweep_matches_pure_python_mirror(spark):
    import math

    from inde1_spark.operators.scoring import (
        BM25_QUERY,
        BM25_SWEEP_CONFIGS,
        LOG_SCALE,
        SCORE_SCALE,
        bm25_parameter_sweep,
    )

    docs = [
        (1, "query", "en", "s", 5),
        (2, "query " + " ".join(["pad"] * 30), "en", "s", 120),
        (3, "join join", "en", "s", 9),
        (4, "stream join query words", "en", "s", 23),
    ]
    df = spark.createDataFrame(docs, DOC_COLS)
    rows = bm25_parameter_sweep(df).collect()
    assert {r["n_topk"] for r in rows} == {4}
    # only 4 candidate docs: every config keeps the same top-k SET
    assert all(r["overlap_default_pct"] == 100.0 for r in rows)

    # pure-python mirror of the scoring discipline (nano idf, micro
    # contributions, LONG sums) — pins mean_bm25 exactly per config
    toks = {i: t.split() for i, t, *_ in docs}
    n_docs = float(len(docs))
    dfreq = {
        q: float(sum(1 for ts in toks.values() if q in ts))
        for q in BM25_QUERY
    }
    def half_up(x):
        return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)
    def mean_key(k1, b):
        keys = []
        for i, ts in toks.items():
            key, matched = 0, False
            for q in BM25_QUERY:
                tf = ts.count(q)
                if not tf:
                    continue
                matched = True
                idf = half_up(
                    math.log((n_docs - dfreq[q] + 0.5) / (dfreq[q] + 0.5))
                    * LOG_SCALE
                ) / LOG_SCALE
                denom = tf + k1 * ((1.0 - b) + b * len(ts) / (
                    sum(len(x) for x in toks.values()) / n_docs))
                key += half_up(idf * (tf * (k1 + 1.0)) / denom * SCORE_SCALE)
            if matched:  # a zero key still ranks (idf can be exactly 0)
                keys.append(key)
        return sum(keys) / len(keys) / SCORE_SCALE

    got = {(r["k1"], r["b"]): r["mean_bm25"] for r in rows}
    for k1, b in BM25_SWEEP_CONFIGS:
        assert got[(k1, b)] == pytest.approx(mean_key(k1, b), abs=1e-12), (
            k1, b,
        )


def test_bm25_sweep_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["bm25_parameter_sweep"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    # the avgdl stats pass prunes to text alone; the tf pass needs both
    assert schemas <= {"doc_id:bigint,text:string", "text:string"}
    assert "InMemoryTableScan" in r.raw  # tf scanned once for all configs
    assert "TakeOrderedAndProject" in r.raw  # top-k, never a global sort


# ---------------------------------------------------------------------------
# session_gap_sweep
# ---------------------------------------------------------------------------


def test_session_gap_sweep_exact_split_counts(spark):
    from inde1_spark.operators.analytics import (
        SESSION_GAP_SWEEP_MIN,
        session_gap_sweep,
    )

    # one user with gaps of 20m, 45m, 90m, 300m; a second single-event user
    offsets = [0, 20, 65, 155, 455]
    rows = [
        (i + 1, T0 + timedelta(minutes=m), 1, "view", 1.0, "{}")
        for i, m in enumerate(offsets)
    ]
    rows.append((9, T0, 2, "view", 1.0, "{}"))
    out = {
        r["gap_minutes"]: r
        for r in session_gap_sweep(
            spark.createDataFrame(rows, EVENT_COLS)
        ).collect()
    }
    assert set(out) == set(SESSION_GAP_SWEEP_MIN)
    # splits per threshold: >15 -> 4, >30 -> 3, >60 -> 2, >120 -> 1, >240 -> 1
    expected_sessions = {15: 4 + 2, 30: 3 + 2, 60: 2 + 2, 120: 1 + 2, 240: 1 + 2}
    for g, ns in expected_sessions.items():
        assert out[g]["n_sessions"] == ns, g
    # identity columns: events/session and split-pair share, exact half-up
    r = out[60]
    assert r["events_per_session_x100"] == _rhu(6 * 100 * 100, 4) / 100
    assert r["split_pair_pct"] == 50.0  # 2 of 4 adjacent pairs split
    # monotone: a larger gap never creates more sessions
    ses = [out[g]["n_sessions"] for g in sorted(out)]
    assert ses == sorted(ses, reverse=True)


def test_session_gap_sweep_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["session_gap_sweep"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"event_id:bigint,ts:timestamp_ntz,user_id:bigint"}
    # one lag pass feeds all rows: the gap grid fans out of the 1-row
    # aggregate via ONE inline(array(...)) generator, so there are no
    # per-threshold union branches and no persisted aggregate to re-read
    assert r.parquet_scans == 1
    assert "Union" not in r.raw
    assert "InMemoryTableScan" not in r.raw
    assert r.raw.count("Generate") >= 1


# ---------------------------------------------------------------------------
# predicate_selectivity_audit
# ---------------------------------------------------------------------------


def test_selectivity_models_vs_actuals_exact(spark):
    from inde1_spark.operators.analytics import (
        predicate_selectivity_audit,
    )

    # 4 types (est 25% each) but 'view' is actually 70%: equality model
    # misprices; values uniform on [0, 100] -> range model near-exact
    rows = []
    for i in range(100):
        et = "view" if i < 70 else ("click", "error", "other")[i % 3]
        rows.append(
            (i, T0 + timedelta(hours=i % 24), i, et, float(i), "{}")
        )
    out = {
        r["predicate"]: r
        for r in predicate_selectivity_audit(
            spark.createDataFrame(rows, EVENT_COLS)
        ).collect()
    }
    eq = out["event_type_eq_entry"]
    assert eq["n_actual"] == 70 and eq["act_ppm"] == 700_000
    assert eq["est_ppm"] == 250_000  # 1/ndv uniformity model
    assert eq["err_pp"] == -45.0     # the model under-prices by 45 points
    gt = out["value_gt_cut"]
    # values 0..99, cut 50: actual 49/100; model (99-50)/99
    assert gt["n_actual"] == 49
    assert gt["est_ppm"] == _rhu((99 - 50) * 10**6, 99)
    hr = out["hour_business_range"]
    assert hr["est_ppm"] == _rhu(10 * 10**6, 24)
    # uniform hours 0..23 repeated: actual share ~10/24 too
    assert abs(hr["err_pp"]) < 2.0


def test_selectivity_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["predicate_selectivity_audit"](
            spark, SF_SMOKE
        )
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"ts:timestamp_ntz,event_type:string,value:double"}
    assert "InMemoryTableScan" in r.raw  # one aggregate row, three rows out


# ---------------------------------------------------------------------------
# restart_cost_audit
# ---------------------------------------------------------------------------


def test_restart_cost_replay_and_state_exact(spark):
    from inde1_spark.operators.analytics import restart_cost_audit

    def ev(eid, day, hh, mm, uid):
        return (
            eid,
            T0 + timedelta(days=day, hours=hh, minutes=mm),
            uid,
            "view",
            1.0,
            "{}",
        )

    rows = [
        # day 0: user 1 in the tail hour (23:30), user 2 mid-day; user 7
        # EXACTLY at 23:00:00 pins the inclusive >= boundary (86400-3600)
        ev(1, 0, 23, 30, 1), ev(2, 0, 10, 0, 2), ev(3, 0, 23, 0, 7),
        # day 1: users 3, 4 in tail hour; user 3 again mid-day (distinct!)
        ev(4, 1, 23, 10, 3), ev(5, 1, 23, 50, 4), ev(6, 1, 9, 0, 3),
        # day 2: no tail-hour activity
        ev(7, 2, 12, 0, 5),
        # day 3 (max_day): the replay head
        ev(8, 3, 1, 0, 6), ev(9, 3, 2, 0, 6), ev(10, 3, 3, 0, 8),
    ]
    out = {
        r["checkpoint_age_days"]: r
        for r in restart_cost_audit(
            spark.createDataFrame(rows, EVENT_COLS)
        ).collect()
    }
    assert set(out) == {1, 3, 7, 14}
    # age 1: checkpoint at end of day 2 -> replay day 3 only; day 2 had
    # no tail-hour users, so no session state to rebuild
    a1 = out[1]
    assert (a1["n_replay_events"], a1["n_state_keys"]) == (3, 0)
    assert a1["replay_pct"] == 30.0
    assert a1["est_replay_sec"] == 1  # ceil(3/5000)
    # age 3: checkpoint at end of day 0 -> replay days 1..3 (7 events);
    # day-0 tail-hour users = {1, 7} (23:00:00 inclusive)
    a3 = out[3]
    assert (a3["n_replay_events"], a3["n_state_keys"]) == (7, 2)
    assert a3["replay_pct"] == 70.0
    # ages beyond the span: replay everything, no boundary day -> state 0
    for age in (7, 14):
        r = out[age]
        assert (r["n_replay_events"], r["n_state_keys"]) == (10, 0)
        assert r["replay_pct"] == 100.0 and r["est_replay_sec"] == 1


def test_restart_cost_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["restart_cost_audit"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"ts:timestamp_ntz,user_id:bigint"}
    assert "InMemoryTableScan" in r.raw  # manifest built once, read twice


# ---------------------------------------------------------------------------
# backfill_skew_audit
# ---------------------------------------------------------------------------


def test_backfill_skew_matches_python_mirror(spark):
    from inde1_spark.operators.analytics import (
        BACKFILL_SHARDS,
        backfill_skew_audit,
    )

    # 12 events across two days, minute-spaced: the mirror recomputes
    # shard/seq/slot skew per K from first principles
    rows = [
        (eid, T0 + timedelta(days=eid % 2, minutes=7 * eid), eid, "view",
         1.0, "{}")
        for eid in range(1, 13)
    ]
    df = spark.createDataFrame(rows, EVENT_COLS)
    out = {r["n_shards"]: r for r in backfill_skew_audit(df).collect()}
    assert set(out) == set(BACKFILL_SHARDS)

    base = [
        (eid, (T0 + timedelta(days=eid % 2)).toordinal(),  # day identity
         int((T0 + timedelta(days=eid % 2, minutes=7 * eid))
             .timestamp()))
        for eid in range(1, 13)
    ]
    for k in BACKFILL_SHARDS:
        slots: dict = {}
        per_shard: dict = {}
        for eid, day, ts_s in sorted(base, key=lambda t: (t[2], t[0])):
            shard = _py_hash_bucket(eid, k)
            seq = per_shard.get((shard, day), 0) + 1
            per_shard[(shard, day)] = seq
            slots.setdefault((day, seq), []).append(ts_s)
        skews = [max(v) - min(v) for v in slots.values()]
        r = out[k]
        assert r["n_slots"] == len(skews), k
        assert r["max_skew_s"] == max(skews), k
        assert r["mean_skew_s"] == _rhu(sum(skews) * 100, len(skews)) / 100, k
        assert r["wm_delay_min"] == (max(skews) + 59) // 60, k


def test_backfill_skew_single_shard_per_slot_is_zero(spark):
    from inde1_spark.operators.analytics import backfill_skew_audit

    # one event per day: every (day, seq) slot holds a single shard's
    # event -> skew 0 at every K, delay 0 minutes
    rows = [
        (eid, T0 + timedelta(days=eid), eid, "view", 1.0, "{}")
        for eid in range(1, 5)
    ]
    for r in backfill_skew_audit(spark.createDataFrame(rows, EVENT_COLS)).collect():
        assert r["max_skew_s"] == 0 and r["mean_skew_s"] == 0.0
        assert r["wm_delay_min"] == 0 and r["n_slots"] == 4


def test_backfill_skew_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["backfill_skew_audit"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"event_id:bigint,ts:timestamp_ntz"}


# ---------------------------------------------------------------------------
# fk_integrity_audit
# ---------------------------------------------------------------------------


def test_fk_integrity_orphans_nulls_coverage_exact(spark):
    from inde1_spark.operators.analytics import fk_integrity_audit

    events = spark.createDataFrame(
        [
            (i, T0 + timedelta(hours=i), u, "view", 1.0, "{}")
            for i, u in enumerate([1, 1, 2, 9, None])
        ],
        EVENT_COLS,
    )
    customer = spark.createDataFrame(
        [(k, "n", 0) for k in (1, 2, 3)], ["c_custkey", "c_name", "c_nationkey"]
    )
    orders = spark.createDataFrame(
        [(10, 1), (11, 3), (12, 7)], ["o_orderkey", "o_custkey"]
    )
    lineitem = spark.createDataFrame(
        [(10, 5), (10, 6), (11, 5), (99, 5)], ["l_orderkey", "l_partkey"]
    )
    part = spark.createDataFrame(
        [(5, "x"), (6, "y"), (7, "z")], ["p_partkey", "p_name"]
    )
    documents = spark.createDataFrame(
        [(d, "t", "en", "s", 1) for d in (0, 1, 2)], DOC_COLS
    )
    embeddings = spark.createDataFrame(
        [(v, [0.0], 0) for v in (0, 1, 7)], ["vec_id", "embedding", "label"]
    )
    out = {
        r["edge_name"]: r
        for r in fk_integrity_audit(
            events, customer, orders, lineitem, part, documents, embeddings
        ).collect()
    }
    assert set(out) == {
        "embeddings_documents", "events_customer", "lineitem_orders",
        "lineitem_part", "orders_customer",
    }
    e = out["events_customer"]
    assert (e["n_child_rows"], e["n_null_keys"], e["n_orphan_rows"]) == (5, 1, 1)
    assert e["orphan_pct"] == 20.0
    assert (e["n_parent_keys"], e["n_referenced_keys"]) == (3, 2)
    assert e["coverage_pct"] == _rhu(2 * 100 * 100, 3) / 100  # 66.67
    o = out["orders_customer"]
    assert (o["n_orphan_rows"], o["n_referenced_keys"]) == (1, 2)
    lo = out["lineitem_orders"]
    assert (lo["n_child_rows"], lo["n_orphan_rows"]) == (4, 1)
    assert (lo["n_parent_keys"], lo["n_referenced_keys"]) == (3, 2)
    lp = out["lineitem_part"]
    assert (lp["n_orphan_rows"], lp["n_referenced_keys"]) == (0, 2)
    assert lp["orphan_pct"] == 0.0
    ed = out["embeddings_documents"]
    assert (ed["n_child_rows"], ed["n_orphan_rows"]) == (3, 1)
    assert ed["orphan_pct"] == _rhu(1 * 100 * 100, 3) / 100  # 33.33


def test_fk_integrity_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["fk_integrity_audit"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    # every scan pruned to exactly its key column
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert all(len(x.split(",")) == 1 for x in schemas if x), schemas
