"""Semantics + plan invariants for the r11 batch (promoted to the
production surface in the r11 window rotation; pins retargeted to
queries()).

Same style as test_r09/r10_edge_cases: planted micro-datasets exercise the
property each operator's docstring claims; plan-shape pins hold the engine
invariants (column pruning, join strategy, no cartesian) so a later change
that breaks the 100 TB posture fails here before it reaches a gate window.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import re

from inde1_spark.plans.explain import plan_report
from tests.conftest import SF_SMOKE

DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _py_hash_bucket(key: int, mod: int = 100) -> int:
    """Python mirror of operators/text.py:hash_bucket (md5 first-8 hex)."""
    return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) % mod


def _docs(spark, rows):
    # (doc_id, source, n_chars) triples; text/lang are irrelevant here
    return spark.createDataFrame(
        [(i, "x", "en", s, n) for i, s, n in rows], DOC_COLS
    )


# ---------------------------------------------------------------------------
# source_length_drift
# ---------------------------------------------------------------------------


def test_length_drift_identical_histograms_zero(spark):
    from inde1_spark.operators.analytics import source_length_drift

    # same binned histogram ({bin0: 1, bin1: 1}) on both sides -> TVD 0
    out = source_length_drift(
        _docs(spark, [(1, "a", 10), (2, "a", 60), (3, "b", 20), (4, "b", 55)])
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"]) == ("a", "b")
    assert r["n_a"] == 2 and r["n_b"] == 2 and r["tvd"] == 0.0


def test_length_drift_disjoint_bins_and_cap(spark):
    from inde1_spark.operators.analytics import source_length_drift

    # 5000 chars lands in the capped top bin (19), 10 chars in bin 0:
    # disjoint histograms -> TVD exactly 1; the 49-vs-50 pair pins the
    # exact integer bin boundary (50 belongs to bin 1)
    out = {
        (r["source_a"], r["source_b"]): r["tvd"]
        for r in source_length_drift(
            _docs(spark, [(1, "a", 10), (2, "b", 5000), (3, "c", 49), (4, "d", 50)])
        ).collect()
    }
    assert out[("a", "b")] == 1.0
    assert out[("c", "d")] == 1.0  # 49 -> bin 0, 50 -> bin 1
    assert len(out) == 6  # every unordered pair exactly once


def test_length_drift_exact_ratio_uneven_sizes(spark):
    from inde1_spark.operators.analytics import source_length_drift

    # A: bins {0: 2, 1: 1} over n=3; B: {0: 1} over n=1
    # TVD = (|2*1-1*3| + |1*1-0*3|) / (2*3*1) = 2/6 -> 0.3333 (round-half-up)
    out = source_length_drift(
        _docs(spark, [(1, "a", 10), (2, "a", 20), (3, "a", 60), (4, "b", 30)])
    ).collect()
    assert len(out) == 1
    assert out[0]["tvd"] == 0.3333


def test_length_drift_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.queries()["source_length_drift"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    assert r.sort_merge_joins == 0  # grid + fill-in ride broadcasts
    # the corpus scan is pruned to exactly (source, n_chars) and happens
    # once: every downstream consumer reads the persisted histogram
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"source:string,n_chars:bigint"}
    assert "InMemoryTableScan" in r.raw


# ---------------------------------------------------------------------------
# copartition_audit
# ---------------------------------------------------------------------------


def _copart_tables(spark, events_keys, cust_keys, orders_cust, orders_key,
                   li_order, li_part, part_keys):
    ev = spark.createDataFrame([(k,) for k in events_keys], ["user_id"])
    cu = spark.createDataFrame([(k,) for k in cust_keys], ["c_custkey"])
    od = spark.createDataFrame(
        list(zip(orders_cust, orders_key)), ["o_custkey", "o_orderkey"]
    )
    li = spark.createDataFrame(
        list(zip(li_order, li_part)), ["l_orderkey", "l_partkey"]
    )
    pt = spark.createDataFrame([(k,) for k in part_keys], ["p_partkey"])
    return ev, cu, od, li, pt


def test_copartition_broadcast_wins_over_skew(spark):
    from inde1_spark.operators.analytics import copartition_audit

    # tiny tables: every join's small side is under the broadcast row
    # limit, so even a pathologically skewed probe key reads 'broadcast'
    # (a broadcast join has no shuffle for skew to break)
    ev, cu, od, li, pt = _copart_tables(
        spark,
        events_keys=[1] * 9,  # one hot key
        cust_keys=[1, 2],
        orders_cust=[1, 1, 2],
        orders_key=[10, 11, 12],
        li_order=[10, 10, 11],
        li_part=[5, 5, 6],
        part_keys=[5, 6],
    )
    out = {r["join_name"]: r for r in copartition_audit(ev, cu, od, li, pt).collect()}
    assert len(out) == 4
    assert all(r["strategy"] == "broadcast" for r in out.values())
    e = out["events_customer"]
    assert e["n_left"] == 9 and e["n_right"] == 2
    assert e["probe_max_key_rows"] == 9  # skew measured even when broadcast
    assert e["nb_left"] == 1 and e["nb_right"] == 1 and e["rehash_factor"] == 1
    assert e["co_located"]


def test_copartition_cobucket_and_salt_branches(spark, monkeypatch):
    from inde1_spark.operators import analytics as A

    # shrink the ladder's constants so a 10-row fixture exercises it:
    # broadcast only under 1 row (never), 2 rows per bucket
    monkeypatch.setattr(A, "COPART_BROADCAST_ROWS", 1)
    monkeypatch.setattr(A, "BUCKET_TARGET_ROWS", 2)
    ev, cu, od, li, pt = _copart_tables(
        spark,
        events_keys=list(range(8)),       # 8 rows, flat -> nb 4, maxk 1
        cust_keys=[1, 2],                 # 2 rows -> nb 1
        orders_cust=[7, 7, 7, 7, 7],      # hot probe key: maxk 5 > target 2
        orders_key=[10, 11, 12, 13, 14],  # flat unique
        li_order=[10, 10, 11, 12],        # maxk 2 <= target 2
        li_part=[5, 5, 5, 6],             # probe is l_orderkey side for order join
        part_keys=[5, 6],
    )
    out = {
        r["join_name"]: r
        for r in A.copartition_audit(ev, cu, od, li, pt).collect()
    }
    # events(8 rows, nb 4) x customer(2 rows, nb 1): flat keys -> cobucket,
    # the larger layout hashes down 4x onto the smaller
    e = out["events_customer"]
    assert e["strategy"] == "cobucket"
    assert (e["nb_left"], e["nb_right"]) == (4, 1)
    assert e["rehash_factor"] == 4 and e["co_located"]
    # orders(probe side, one key holding 5 rows) x customer: no bucket
    # count can balance a key that alone overflows the target -> salt
    o = out["orders_customer"]
    assert o["probe_max_key_rows"] == 5 and o["strategy"] == "salt"
    # lineitem(4 rows) x orders(5 rows): the probe is the LARGER side —
    # orders, whose o_orderkey is flat -> cobucket (lineitem's maxk 2 is
    # not consulted; the smaller side rides the bucketed layout)
    lo = out["lineitem_orders"]
    assert lo["probe_max_key_rows"] == 1 and lo["strategy"] == "cobucket"
    # lineitem x part on l_partkey: probe (lineitem) maxk 3 > 2 -> salt
    lp = out["lineitem_part"]
    assert lp["probe_max_key_rows"] == 3 and lp["strategy"] == "salt"


def test_copartition_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.queries()["copartition_audit"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    # 4 single-row x single-row combines; nothing sort-merges
    assert r.sort_merge_joins == 0
    # every per-side scan is pruned to exactly its key column
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {
        "user_id:bigint",
        "c_custkey:bigint",
        "o_custkey:bigint",
        "o_orderkey:bigint",
        "l_orderkey:bigint",
        "l_partkey:bigint",
        "p_partkey:bigint",
    }


# ---------------------------------------------------------------------------
# semdedup_incremental
# ---------------------------------------------------------------------------

EMB_COLS = "vec_id long, embedding array<float>, label int"

# md5 hash lanes (mirror checked below): 2, 9, 10, 44 land in the default
# 10-percent batch lane; 1, 3, 4, 5 stand in the corpus
BATCH_IDS = (2, 9, 10, 44)
STANDING_IDS = (1, 3, 4, 5)


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in rows], EMB_COLS
    )


def test_semdedup_incremental_lanes_mirror():
    for i in BATCH_IDS:
        assert _py_hash_bucket(i) < 10
    for i in STANDING_IDS:
        assert _py_hash_bucket(i) >= 10


def test_semdedup_incremental_admission_verdicts(spark):
    from inde1_spark.operators.clustering import semdedup_incremental

    rows = [
        (1, [1.0, 0.0]),    # standing
        (3, [1.0, 0.0]),    # standing twin of 1 (same cluster after Lloyd)
        (4, [0.0, 1.0]),    # standing
        (5, [0.6, 0.8]),    # standing
        (2, [2.0, 0.0]),    # batch: scaled copy of [1,0] -> exact cos 1.0
        (9, [-1.0, 0.001]),  # batch: near-orthogonal to its cluster -> admit
        (10, [0.6, 0.8]),   # batch: identical to standing 5
        (44, [-0.7, 0.7]),  # batch: routes to [0,1], cos ~0.707 -> dup of 4
    ]
    out = {r["vec_new"]: r for r in semdedup_incremental(_emb(spark, rows)).collect()}
    assert set(out) == set(BATCH_IDS)
    # equal-cos tie between standing 1 and 3 breaks to the HIGHER id
    assert out[2]["dup_of"] == 3 and out[2]["cos_sim"] == 1.0 and not out[2]["admit"]
    assert out[10]["dup_of"] == 5 and out[10]["cos_sim"] == 1.0 and not out[10]["admit"]
    assert out[44]["dup_of"] == 4 and not out[44]["admit"]
    assert 0.7 < out[44]["cos_sim"] < 0.72
    # the admitted vector reports no match at all
    assert out[9]["admit"] and out[9]["dup_of"] is None and out[9]["cos_sim"] is None


def test_semdedup_incremental_degenerate_splits(spark):
    from inde1_spark.operators.clustering import semdedup_incremental

    rows = [(i, [1.0, 0.0]) for i in BATCH_IDS + STANDING_IDS]
    # empty standing corpus: nothing to match against -> everything admits
    all_batch = semdedup_incremental(_emb(spark, rows), batch_pct=100).collect()
    assert len(all_batch) == len(BATCH_IDS + STANDING_IDS)
    assert all(r["admit"] and r["dup_of"] is None for r in all_batch)
    # empty batch: no arrivals -> empty verdict table
    assert semdedup_incremental(_emb(spark, rows), batch_pct=0).count() == 0


def test_semdedup_incremental_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.queries()["semdedup_incremental"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    # centroids travel as broadcasts; the only sort-merge is the verify
    # payload join downstream of the explicit candidate repartition
    assert r.broadcast_hash_joins >= 2
    assert r.sort_merge_joins <= 1
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    # embedding scans never read the label column
    assert all("label" not in s for s in schemas)


# ---------------------------------------------------------------------------
# repetition_rules
# ---------------------------------------------------------------------------


def _doc(spark, text, doc_id=1):
    return spark.createDataFrame(
        [(doc_id, text, "en", "s", len(text))], DOC_COLS
    )


def test_repetition_rules_degenerate_doc_fails_all(spark):
    from inde1_spark.operators.text import repetition_rules

    r = repetition_rules(_doc(spark, "a b a b a b")).collect()[0]
    # unigrams a:3 b:3 of 6 -> 50.0; bigrams 'a b':3 of 5 -> 60.0;
    # trigrams 'a b a':2 + 'b a b':2, all repeated -> 100.0
    assert r["n_tokens"] == 6
    assert r["top1_pct"] == 50.0 and not r["flag_top1"]
    assert r["top2_pct"] == 60.0 and not r["flag_top2"]
    assert r["dup3_pct"] == 100.0 and not r["flag_dup3"]
    assert not r["keep"]


def test_repetition_rules_short_and_empty_docs(spark):
    from inde1_spark.operators.text import repetition_rules

    rows = {
        r["doc_id"]: r
        for r in repetition_rules(
            spark.createDataFrame(
                [(1, "", "en", "s", 0), (2, "x", "en", "s", 1)], DOC_COLS
            )
        ).collect()
    }
    # empty doc: no grams at any level -> all 0, keep (the spine join)
    e = rows[1]
    assert e["n_tokens"] == 0 and e["top1_pct"] == 0.0 and e["keep"]
    # single token: top1 is trivially 100 (fails); bigram/trigram levels
    # are absent -> 0 percent, their flags pass, keep fails on top1
    s = rows[2]
    assert s["n_tokens"] == 1 and s["top1_pct"] == 100.0
    assert not s["flag_top1"] and s["flag_top2"] and s["flag_dup3"]
    assert not s["keep"]


def test_repetition_rules_threshold_boundary_inclusive(spark):
    from inde1_spark.operators.text import REP_TOP1_MAX, repetition_rules

    assert REP_TOP1_MAX == 12.0
    # 3 of 25 tokens = exactly 12.00 percent -> flag passes (<=)
    text = " ".join(["a"] * 3 + [f"t{i}" for i in range(22)])
    r = repetition_rules(_doc(spark, text)).collect()[0]
    assert r["n_tokens"] == 25 and r["top1_pct"] == 12.0
    assert r["flag_top1"]


def test_repetition_rules_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.queries()["repetition_rules"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    assert r.sort_merge_joins <= 1  # the doc-id spine join at most
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    # gram scan prunes to (doc_id, text); the spine scan to doc_id alone
    assert schemas <= {"doc_id:bigint,text:string", "doc_id:bigint"}


# ---------------------------------------------------------------------------
# second tranche (staged in r10)
# ---------------------------------------------------------------------------

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _py_hash_bucket_str(key: str, mod: int = 100) -> int:
    """Python mirror of hash_bucket on a STRING key (md5 of the raw text)."""
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % mod


def _batch_index_ids(n_batch: int, n_index: int) -> tuple[list[int], list[int]]:
    """First ids whose md5 bucket puts them in the 10% batch / 90% index
    lane — self-maintaining against the hash function."""
    batch = [i for i in range(500) if _py_hash_bucket(i) < 10][:n_batch]
    index = [i for i in range(500) if _py_hash_bucket(i) >= 10][:n_index]
    return batch, index


# ---------------------------------------------------------------------------
# dedup_winnow_incremental
# ---------------------------------------------------------------------------


def test_winnow_incremental_copy_rejected_fresh_admitted(spark):
    from inde1_spark.operators.dedup import dedup_winnow_incremental

    (b_copy, b_fresh, b_short), (i_orig, i_other) = _batch_index_ids(3, 2)
    copied = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (b_copy, copied, "en", "s", len(copied)),          # verbatim of i_orig
        (b_fresh, "completely unrelated words here xyzq", "en", "s", 36),
        (b_short, "ab", "en", "s", 2),                      # < WINNOW_K chars
        (i_orig, copied, "en", "s", len(copied)),
        (i_other, "different standing index document text", "en", "s", 38),
    ]
    out = {
        r["doc_id"]: r
        for r in dedup_winnow_incremental(
            spark.createDataFrame(rows, DOC_COLS)
        ).collect()
    }
    assert set(out) == {b_copy, b_fresh, b_short}  # index side never emitted
    c = out[b_copy]
    assert c["best_doc_idx"] == i_orig
    assert c["n_shared"] == c["n_fp"] and c["containment_pct"] == 100.0
    assert not c["admitted"]
    f = out[b_fresh]
    assert f["best_doc_idx"] is None and f["n_shared"] == 0
    assert f["containment_pct"] == 0.0 and f["admitted"]
    s = out[b_short]
    assert s["n_fp"] == 0 and s["admitted"] and s["containment_pct"] == 0.0


def test_winnow_incremental_batch_vs_batch_not_scored(spark):
    from inde1_spark.operators.dedup import dedup_winnow_incremental

    # two identical BATCH docs and no index copy: both admitted (in-batch
    # dedup belongs to the batch's own pipeline, the dedup_incremental rule)
    (b1, b2), (i1,) = _batch_index_ids(2, 1)
    t = "some shared batch text that is long enough to fingerprint"
    rows = [
        (b1, t, "en", "s", len(t)),
        (b2, t, "en", "s", len(t)),
        (i1, "standing index content entirely different", "en", "s", 42),
    ]
    out = dedup_winnow_incremental(
        spark.createDataFrame(rows, DOC_COLS)
    ).collect()
    assert all(r["admitted"] for r in out)
    assert all(r["best_doc_idx"] is None for r in out)


def test_winnow_incremental_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.queries()["dedup_winnow_incremental"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas <= {"doc_id:bigint,text:string", "doc_id:bigint"}
    assert "InMemoryTableScan" in r.raw  # fp table built once, read 4 ways


# ---------------------------------------------------------------------------
# shingle_df_cap_sweep
# ---------------------------------------------------------------------------


def test_cap_sweep_exact_pair_and_posting_math(spark):
    from inde1_spark.operators.dedup import shingle_df_cap_sweep

    # one shingle with df=5 ("a b c" x5 docs), one with df=1
    rows = [(i, "a b c", "en", "s", 5) for i in range(5)]
    rows.append((9, "x y z", "en", "s", 5))
    out = {
        r["cap"]: r
        for r in shingle_df_cap_sweep(
            spark.createDataFrame(rows, DOC_COLS)
        ).collect()
    }
    assert set(out) == {4, 16, 64, 256}
    r4 = out[4]
    # uncapped pairs C(5,2)=10; cap 4 keeps C(4,2)=6 -> 40% shed;
    # postings 6 -> 5 kept -> 16.67% lost
    assert r4["n_candidate_pairs"] == "6"
    assert r4["pairs_shed_pct"] == 40.0
    assert r4["postings_lost_pct"] == 16.67
    for cap in (16, 64, 256):  # cap above max df: the sweep is a no-op
        assert out[cap]["n_candidate_pairs"] == "10"
        assert out[cap]["pairs_shed_pct"] == 0.0
        assert out[cap]["postings_lost_pct"] == 0.0


def test_cap_sweep_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.queries()["shingle_df_cap_sweep"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"doc_id:bigint,text:string"}
    assert r.raw.count("BroadcastHashJoin") + r.raw.count(
        "BroadcastNestedLoopJoin"
    ) >= 1  # the bounded cap grid rides a broadcast
    assert r.sort_merge_joins == 0


# ---------------------------------------------------------------------------
# schema_evolution_audit
# ---------------------------------------------------------------------------


def test_schema_evolution_verdict_ladder(spark):
    from datetime import datetime

    from inde1_spark.operators.analytics import schema_evolution_audit

    def ev(eid, day, props):
        return (eid, datetime(2024, 3, day, 12, 0, 0), 1, "view", 1.0, props)

    rows = [
        # day 1 (baseline): a int, b string (dominant 2 string vs 1 int)
        ev(1, 1, '{"a": 1, "b": "x"}'),
        ev(2, 1, '{"a": 2, "b": "y"}'),
        ev(3, 1, '{"a": 3, "b": 4}'),
        # day 2: b's dominant flips to float (breaking) + c added
        ev(4, 2, '{"a": 1, "b": 2.5, "c": "z"}'),
        # day 3: d added, nothing removed/changed (backward compatible)
        ev(5, 3, '{"a": 1, "b": 2.5, "c": "z", "d": 7}'),
        # day 4: identical inventory (stable)
        ev(6, 4, '{"a": 1, "b": 2.5, "c": "z", "d": 7}'),
        # day 5: d removed (breaking)
        ev(7, 5, '{"a": 1, "b": 2.5, "c": "z"}'),
    ]
    out = {
        r["day"]: r
        for r in schema_evolution_audit(
            spark.createDataFrame(rows, EVENT_COLS)
        ).collect()
    }
    assert out["2024-03-01"]["verdict"] == "baseline"
    assert out["2024-03-01"]["n_keys"] == 2
    d2 = out["2024-03-02"]
    assert (d2["n_added"], d2["n_removed"], d2["n_type_changed"]) == (1, 0, 1)
    assert d2["verdict"] == "breaking"
    d3 = out["2024-03-03"]
    assert (d3["n_added"], d3["n_removed"], d3["n_type_changed"]) == (1, 0, 0)
    assert d3["verdict"] == "backward_compatible"
    assert out["2024-03-04"]["verdict"] == "stable"
    d5 = out["2024-03-05"]
    assert (d5["n_added"], d5["n_removed"], d5["n_type_changed"]) == (0, 1, 0)
    assert d5["verdict"] == "breaking"


def test_schema_evolution_dominant_type_tie_breaks_alphabetical(spark):
    from datetime import datetime

    from inde1_spark.operators.analytics import schema_evolution_audit

    # day 1: t is 1x int / 1x string (tie -> 'int', alphabetical);
    # day 2: t is 2x string -> dominant string -> type change -> breaking
    rows = [
        (1, datetime(2024, 3, 1, 8), 1, "view", 1.0, '{"t": 1}'),
        (2, datetime(2024, 3, 1, 9), 1, "view", 1.0, '{"t": "q"}'),
        (3, datetime(2024, 3, 2, 8), 1, "view", 1.0, '{"t": "q"}'),
        (4, datetime(2024, 3, 2, 9), 1, "view", 1.0, '{"t": "r"}'),
    ]
    out = {
        r["day"]: r
        for r in schema_evolution_audit(
            spark.createDataFrame(rows, EVENT_COLS)
        ).collect()
    }
    assert out["2024-03-02"]["n_type_changed"] == 1
    assert out["2024-03-02"]["verdict"] == "breaking"


def test_schema_evolution_double_tostring_boundary(spark):
    """from_json(map<string,string>) renders number tokens through
    java.lang.Double.toString: |x| >= 1e7 or < 1e-3 comes out in
    exponent form ('1.23456785E7') and classifies as 'string', not
    'float' — the boundary schema_drift_stream mirrors (r10 ADVICE 3).
    In-range magnitudes stay decimal-form floats, so only the
    out-of-range key alarms."""
    from datetime import datetime

    from inde1_spark.operators.analytics import schema_evolution_audit

    rows = [
        (1, datetime(2024, 3, 1, 8), 1, "view", 1.0,
         '{"x": 2.5, "y": 3.5}'),
        # x crosses into Double.toString exponent form -> type change;
        # y moves within the decimal-form range -> still float, silent
        (2, datetime(2024, 3, 2, 8), 1, "view", 1.0,
         '{"x": 12345678.5, "y": 9999999.5}'),
    ]
    out = {
        r["day"]: r
        for r in schema_evolution_audit(
            spark.createDataFrame(rows, EVENT_COLS)
        ).collect()
    }
    d2 = out["2024-03-02"]
    assert (d2["n_added"], d2["n_removed"], d2["n_type_changed"]) == (0, 0, 1)
    assert d2["verdict"] == "breaking"


def test_schema_evolution_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.queries()["schema_evolution_audit"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"ts:timestamp_ntz,props:string"}


# ---------------------------------------------------------------------------
# compression_ratio_audit
# ---------------------------------------------------------------------------


def test_compression_audit_encoding_ladder(spark):
    from datetime import datetime, timedelta

    from inde1_spark.operators.analytics import compression_ratio_audit

    t0 = datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        (
            i,
            t0 + timedelta(minutes=i),
            i,                                # user_id: all distinct
            "A" if i < 10 else "B",           # two runs of 10
            float(1 + i % 2),                 # alternate 1.0/2.0, ndv 2
            "{}",                             # constant
        )
        for i in range(20)
    ]
    out = {
        r["column_name"]: r
        for r in compression_ratio_audit(
            spark.createDataFrame(rows, EVENT_COLS)
        ).collect()
    }
    et = out["event_type"]
    assert (et["n_runs"], et["n_distinct"]) == (2, 2)
    assert et["mean_run_len"] == 10.0 and et["encoding"] == "rle"
    uid = out["user_id"]
    assert (uid["n_runs"], uid["n_distinct"]) == (20, 20)
    assert uid["encoding"] == "plain"
    val = out["value"]
    assert (val["n_runs"], val["n_distinct"]) == (20, 2)
    # ndv*100 == DICT_MAX_NDV_PCT*n exactly: the dict boundary is inclusive
    assert val["ndv_pct"] == 10.0 and val["encoding"] == "dict"
    pr = out["props"]
    assert (pr["n_runs"], pr["n_distinct"]) == (1, 1)
    assert pr["encoding"] == "rle"


def test_compression_audit_runs_restart_per_day_and_null_safe(spark):
    from datetime import datetime

    from inde1_spark.operators.analytics import compression_ratio_audit

    rows = [
        # same constant value across two days: the run restarts at the
        # day boundary (writers lay rows down per partition)
        (1, datetime(2024, 3, 1, 8), 1, "A", None, "{}"),
        (2, datetime(2024, 3, 1, 9), 1, "A", None, "{}"),
        (3, datetime(2024, 3, 2, 8), 1, "A", 1.0, "{}"),
    ]
    out = {
        r["column_name"]: r
        for r in compression_ratio_audit(
            spark.createDataFrame(rows, EVENT_COLS)
        ).collect()
    }
    assert out["event_type"]["n_runs"] == 2  # day boundary restarts the run
    # null==null is NOT a run break (eqNullSafe); NDV ignores nulls
    assert out["value"]["n_runs"] == 2
    assert out["value"]["n_distinct"] == 1


def test_compression_audit_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.queries()["compression_ratio_audit"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert all(
        set(x.split(","))
        <= {
            "ts:timestamp_ntz",
            "event_id:bigint",
            "event_type:string",
            "user_id:bigint",
            "value:double",
            "props:string",
        }
        for x in schemas
    )
    assert "InMemoryTableScan" in r.raw  # one agg row feeds all 4 rows


# ---------------------------------------------------------------------------
# corpus_prep_cost_audit
# ---------------------------------------------------------------------------

# 50 tokens, mean word length in [3,10], two distinct stopwords -> gopher keep
_PASSING_TEXT = "the a " + " ".join(["word"] * 48)


def test_prep_cost_stage_funnel_exact(spark):
    from inde1_spark.operators.corpus import corpus_prep_cost_audit

    train_src = next(
        s for s in ("s%d" % i for i in range(100))
        if _py_hash_bucket_str(s) < 80
    )
    test_src = next(
        s for s in ("s%d" % i for i in range(100))
        if _py_hash_bucket_str(s) >= 90
    )
    rows = [
        # dup pair, both gopher-passing: exactly one (min doc_id) survives
        (1, _PASSING_TEXT, "en", train_src, len(_PASSING_TEXT)),
        (2, _PASSING_TEXT, "en", train_src, len(_PASSING_TEXT)),
        # gopher reject (2 tokens < 50): never reaches dedup or split
        (3, "tiny doc", "en", train_src, 8),
        # unique passing doc routed to test by its source hash
        (4, _PASSING_TEXT + " extra", "en", test_src, len(_PASSING_TEXT) + 6),
    ]
    out = {
        r["stage"]: r
        for r in corpus_prep_cost_audit(
            spark.createDataFrame(rows, DOC_COLS)
        ).collect()
    }
    assert [out[s]["stage_idx"] for s in (
        "raw", "quality", "exact_dedup", "split_train", "split_val",
        "split_test",
    )] == [0, 1, 2, 3, 4, 5]
    assert out["raw"]["n_docs"] == 4 and out["raw"]["token_retention_pct"] == 100.0
    assert out["quality"]["n_docs"] == 3      # doc 3 rejected
    assert out["exact_dedup"]["n_docs"] == 2  # doc 2 deduped against doc 1
    assert out["split_train"]["n_docs"] == 1 and out["split_test"]["n_docs"] == 1
    assert out["split_val"]["n_docs"] == 0
    # monotone mass: every stage <= its predecessor, all three currencies
    order = ["raw", "quality", "exact_dedup"]
    for a, b in zip(order, order[1:]):
        for m in ("n_docs", "n_tokens", "n_chars"):
            assert out[b][m] <= out[a][m]
    # splits partition the dedup survivors exactly
    for m in ("n_docs", "n_tokens", "n_chars"):
        assert (
            out["split_train"][m] + out["split_val"][m] + out["split_test"][m]
            == out["exact_dedup"][m]
        )


def test_prep_cost_matches_jobs_corpus_prep(spark):
    """The audit's survivor set IS jobs.corpus_prep's output, by count."""
    from inde1_spark.jobs import corpus_prep
    from inde1_spark.operators.corpus import corpus_prep_cost_audit

    rows = [
        (i, _PASSING_TEXT + (" pad" * (i % 3)), "en", "src%d" % (i % 4), 200)
        for i in range(12)
    ] + [(99, "too short", "en", "src0", 9)]
    df = spark.createDataFrame(rows, DOC_COLS)
    prepared = corpus_prep(df)
    audit = {
        r["stage"]: r for r in corpus_prep_cost_audit(df).collect()
    }
    assert audit["exact_dedup"]["n_docs"] == prepared.count()
    per_split = {
        r["split"]: r["n"]
        for r in prepared.groupBy("split").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    for s in ("train", "val", "test"):
        assert audit[f"split_{s}"]["n_docs"] == per_split.get(s, 0)


def test_prep_cost_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.queries()["corpus_prep_cost_audit"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"doc_id:bigint,text:string,source:string,n_chars:bigint"}
    # one corpus pass feeds all 6 stages: the stage rows fan out of the
    # 1-row aggregate via ONE inline(array(...)) generator, so there are
    # no per-stage union branches and no persisted aggregate to re-read
    assert r.parquet_scans == 1
    assert "Union" not in r.raw
    assert "InMemoryTableScan" not in r.raw
    assert r.raw.count("Generate") >= 1


# ---------------------------------------------------------------------------
# mixture_epoch_plan
# ---------------------------------------------------------------------------


def test_epoch_plan_sqrt_weights_exact(spark):
    from inde1_spark.operators.corpus import mixture_epoch_plan

    # a: 100 tokens, b: 1 token -> w = (10/11, 1/11) exactly on the nano grid
    rows = [
        (i, " ".join(["w"] * 10), "en", "a", 20) for i in range(10)
    ] + [(100, "solo", "en", "b", 4)]
    out = {
        r["source"]: r
        for r in mixture_epoch_plan(
            spark.createDataFrame(rows, DOC_COLS)
        ).collect()
    }
    a, b = out["a"], out["b"]
    assert a["n_tokens"] == 100 and b["n_tokens"] == 1
    assert a["weight_ppm"] == 909091   # round(1e6 * 10/11)
    assert b["weight_ppm"] == 90909    # round(1e6 * 1/11)
    # epochs = T*w/n: a serves 101*10/11 over 100 unique -> 0.918 epochs;
    # b serves 101/11 over 1 unique -> 9.182 epochs (over the 4-epoch cap)
    assert a["epochs_milli"] == 918 and not a["over_epoch_cap"]
    assert b["epochs_milli"] == 9182 and b["over_epoch_cap"]


def test_epoch_plan_uniform_sources_one_epoch(spark):
    from inde1_spark.operators.corpus import mixture_epoch_plan

    # equal sources: sqrt flattening is a no-op, every source runs 1 epoch
    rows = [
        (i, " ".join(["w"] * 5), "en", "s%d" % (i % 4), 10) for i in range(8)
    ]
    out = mixture_epoch_plan(spark.createDataFrame(rows, DOC_COLS)).collect()
    assert len(out) == 4
    for r in out:
        assert r["epochs_milli"] == 1000 and not r["over_epoch_cap"]
        assert r["weight_ppm"] == 250000


def test_epoch_plan_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.queries()["mixture_epoch_plan"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"text:string,source:string"}
    assert r.sort_merge_joins == 0  # totals ride a 1-row broadcast


# ---------------------------------------------------------------------------
# split_balance_audit
# ---------------------------------------------------------------------------


def test_split_balance_single_source_is_balanced(spark):
    from inde1_spark.operators.corpus import split_balance_audit

    # one source == the whole corpus: its split distribution IS the global
    # one, TVD exactly 0 whatever the hash did
    rows = [(i, "t", "en", "only", 5) for i in range(40)]
    out = split_balance_audit(spark.createDataFrame(rows, DOC_COLS)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 40
    assert r["n_train"] + r["n_val"] + r["n_test"] == 40
    assert r["split_tvd"] == 0.0 and r["balanced"]


def test_split_balance_skewed_source_flagged(spark):
    from inde1_spark.operators.corpus import split_balance_audit

    train_ids = [i for i in range(500) if _py_hash_bucket(i) < 80]
    test_ids = [i for i in range(500) if _py_hash_bucket(i) >= 90]
    # a: one train doc; b: one test doc. Global = {train: 1, test: 1}.
    # TVD per source = (|1*2-1*1| + |0*2-1*1|) / (2*1*2) = 0.5
    rows = [
        (train_ids[0], "t", "en", "a", 5),
        (test_ids[0], "t", "en", "b", 5),
    ]
    out = {
        r["source"]: r
        for r in split_balance_audit(
            spark.createDataFrame(rows, DOC_COLS)
        ).collect()
    }
    for s in ("a", "b"):
        assert out[s]["split_tvd"] == 0.5 and not out[s]["balanced"]
    assert out["a"]["n_train"] == 1 and out["a"]["n_test"] == 0
    assert out["b"]["n_test"] == 1 and out["b"]["n_train"] == 0


def test_split_balance_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.queries()["split_balance_audit"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"doc_id:bigint,source:string"}
    assert r.sort_merge_joins == 0  # grid/fill-in ride broadcasts
    assert "InMemoryTableScan" in r.raw  # counts built once, read 4 ways


# ---------------------------------------------------------------------------
# perplexity_filter_sweep
# ---------------------------------------------------------------------------


def _py_lp_mirror(docs):
    """Pure-python mirror of unigram_logprob's nano-log math."""
    import math

    from inde1_spark.operators.scoring import LOG_SCALE

    vocab: dict[str, int] = {}
    for _, text in docs:
        for t in text.split():
            if t:
                vocab[t] = vocab.get(t, 0) + 1
    total = float(sum(vocab.values()))
    out = {}
    for doc_id, text in docs:
        toks = [t for t in text.split() if t]
        if not toks:
            continue
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        lp_sum = sum(
            n * round(math.log(vocab[t] / total) * LOG_SCALE)
            for t, n in tf.items()
        )
        out[doc_id] = (len(toks), float(lp_sum) / LOG_SCALE / len(toks))
    return out


def _py_rr(num: int, den: int, scale: int) -> float:
    p = 10**scale
    return float((num * 2 * p + den) // (2 * den)) / p


def test_perplexity_sweep_matches_pure_python_mirror(spark):
    from inde1_spark.operators.scoring import (
        LP_SWEEP_THRESHOLDS,
        perplexity_filter_sweep,
    )

    # skewed vocabulary so scores straddle the corpus-calibrated grid
    docs = [
        (1, " ".join(["common"] * 30)),
        (2, " ".join(["common"] * 20 + ["rare1"])),
        (3, "rare2 rare3 rare4"),
        (4, " ".join(["common"] * 5 + ["rare5"] * 5)),
    ]
    rows = [(i, t, "en", "s", len(t)) for i, t in docs]
    got = {
        (r["source"], r["threshold"]): r
        for r in perplexity_filter_sweep(
            spark.createDataFrame(rows, DOC_COLS)
        ).collect()
    }
    mirror = _py_lp_mirror(docs)
    n_docs = len(mirror)
    n_toks = sum(d for d, _ in mirror.values())
    for t in LP_SWEEP_THRESHOLDS:
        kept = [(d, a) for d, a in mirror.values() if a >= t]
        r = got[("s", float(t))]
        assert r["n_docs_kept"] == len(kept)
        assert r["n_tokens_kept"] == sum(d for d, _ in kept)
        assert r["doc_retention_pct"] == _py_rr(
            len(kept) * 100, max(n_docs, 1), 2
        )
        assert r["token_retention_pct"] == _py_rr(
            sum(d for d, _ in kept) * 100, max(n_toks, 1), 2
        )


def test_perplexity_sweep_monotone_and_uniform_corpus(spark):
    from inde1_spark.operators.scoring import perplexity_filter_sweep

    # uniform corpus: every doc scores ln(1) = 0 >= every threshold
    rows = [(i, "w w w", "en", "u", 5) for i in range(6)]
    out = perplexity_filter_sweep(
        spark.createDataFrame(rows, DOC_COLS)
    ).collect()
    assert all(r["doc_retention_pct"] == 100.0 for r in out)
    # retention is monotone non-increasing as the threshold rises
    by_thr = [r["n_docs_kept"] for r in sorted(out, key=lambda r: r["threshold"])]
    assert by_thr == sorted(by_thr, reverse=True)


def test_perplexity_sweep_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.queries()["perplexity_filter_sweep"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas <= {
        "doc_id:bigint,text:string",
        "doc_id:bigint,source:string",
    }
    # r12: the threshold grid fans out of the k-source aggregate via ONE
    # inline(array(...)) generator — no per-threshold union branches, so
    # the persist (and its InMemoryTableScan) is gone and the plan holds
    # a single Generate over the aggregate
    assert "Union" not in r.raw
    assert "InMemoryTableScan" not in r.raw
    assert r.raw.count("Generate") >= 1


# ---------------------------------------------------------------------------
# batch-level plan invariants (the test_plan_quality discipline)
# ---------------------------------------------------------------------------

R11_BATCH = (
    "source_length_drift",
    "copartition_audit",
    "semdedup_incremental",
    "repetition_rules",
    "dedup_winnow_incremental",
    "shingle_df_cap_sweep",
    "schema_evolution_audit",
    "compression_ratio_audit",
    "corpus_prep_cost_audit",
    "mixture_epoch_plan",
    "split_balance_audit",
    "perplexity_filter_sweep",
)


def test_r11_batch_plan_invariants(spark):
    import __spark_entry__ as entrymod

    Q = entrymod.queries()
    assert set(R11_BATCH) <= set(Q)  # r12 candidates accumulate behind
    for name in R11_BATCH:
        r = plan_report(Q[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in r.raw, f"{name}: cartesian"
        assert "BatchEvalPython" not in r.raw, f"{name}: row Python UDF"
        for node in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert node not in r.raw, f"{name}: unexpected {node}"
