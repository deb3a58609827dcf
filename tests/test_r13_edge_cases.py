"""Semantics + plan invariants for the r13 STAGED batch (first tranche).

Same style as test_r11/r12_edge_cases: planted micro-datasets exercise the
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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from inde1_spark.plans.explain import plan_report
from tests.conftest import SF_SMOKE

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]
T0 = datetime(2024, 3, 4, 0, 0, 0)


def _rhu(num: int, den: int) -> int:
    """round_half_up(num/den) for nonnegative exact ints."""
    return (num * 2 + den) // (2 * den)


# ---------------------------------------------------------------------------
# cdc_mask_sweep
# ---------------------------------------------------------------------------


def _py_cdc_chunks(text: str, avg_chunk: int, min_words: int = 4):
    """Pure-python mirror of operators/dedup.py:cdc_chunk_table."""
    toks = [t for t in text.split(" ") if t]
    if not toks:
        return []
    starts = [1] + [
        i
        for i in range(2, len(toks) + 1)
        if int(
            hashlib.md5(
                f"{toks[i - 2]} {toks[i - 1]}".encode()
            ).hexdigest()[:8],
            16,
        )
        % avg_chunk
        == 0
    ]
    chunks = []
    for k, s in enumerate(starts):
        e = starts[k + 1] - 1 if k + 1 < len(starts) else len(toks)
        nw = e - s + 1
        if nw >= min_words:
            chunks.append((" ".join(toks[s - 1 : e]), nw))
    return chunks


def test_cdc_mask_sweep_matches_python_mirror(spark):
    from inde1_spark.operators.dedup import CDC_MASK_GRID, cdc_mask_sweep

    # a boilerplate sentence pasted into several otherwise-distinct docs
    boiler = "license header text applies to every file in this repo"
    texts = [
        f"{boiler} alpha beta gamma delta epsilon zeta eta theta",
        f"{boiler} one two three four five six seven eight nine ten",
        f"{boiler} lorem ipsum dolor sit amet consectetur adipiscing elit",
        "completely different content with no shared words at all here",
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)], DOC_COLS
    )
    out = {r["avg_chunk_words"]: r for r in cdc_mask_sweep(docs).collect()}
    assert set(out) == set(CDC_MASK_GRID)
    for a in CDC_MASK_GRID:
        occ: dict[str, list[int]] = {}
        for t in texts:
            for chunk_text, nw in _py_cdc_chunks(t, a):
                occ.setdefault(chunk_text, []).append(nw)
        n_chunks = sum(len(v) for v in occ.values())
        n_distinct = len(occ)
        total_w = sum(sum(v) for v in occ.values())
        dist_w = sum(v[0] for v in occ.values())
        r = out[a]
        assert r["n_chunks"] == n_chunks, a
        assert r["n_distinct_chunks"] == n_distinct, a
        assert r["mean_chunk_words"] == _rhu(total_w * 100, max(n_chunks, 1)) / 100
        assert r["dup_occurrence_pct"] == (
            _rhu((n_chunks - n_distinct) * 100 * 100, max(n_chunks, 1)) / 100
        )
        assert r["words_saved_pct"] == (
            _rhu((total_w - dist_w) * 100 * 100, max(total_w, 1)) / 100
        )


def test_cdc_mask_sweep_all_unique_saves_nothing(spark):
    from inde1_spark.operators.dedup import cdc_mask_sweep

    docs = spark.createDataFrame(
        [
            (1, "entirely unique words aardvark bobcat cheetah dingo", "en", "s", 50),
            (2, "another disjoint vocabulary emu falcon gecko heron", "en", "s", 50),
        ],
        DOC_COLS,
    )
    for r in cdc_mask_sweep(docs).collect():
        assert r["dup_occurrence_pct"] == 0.0 and r["words_saved_pct"] == 0.0
        assert r["n_chunks"] == r["n_distinct_chunks"]


def test_cdc_mask_sweep_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["cdc_mask_sweep"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    # the sweep reads doc_id only as the key the batch chunker re-spreads
    # by before its bigram hashing; every other documents column
    # (lang, source, n_chars) is pruned from the scan
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"doc_id:bigint,text:string"}


# ---------------------------------------------------------------------------
# quality_dedup_interaction
# ---------------------------------------------------------------------------


def test_quality_dedup_interaction_lift_exact(spark):
    from inde1_spark.operators.corpus import quality_dedup_interaction

    # 4 copies of a short doc (quality 0.52 -> bin 5; 3 redundant) plus
    # 2 unique max-quality docs (quality 1.0 -> bin 9)
    dup_text = "alpha beta gamma delta"
    rows = [(i, dup_text, "en", "s", 20) for i in range(4)]
    rows += [
        (10, "unique content one primus secundus tertius", "en", "s", 500),
        (11, "unique content two quartus quintus sextus", "en", "s", 500),
    ]
    out = {
        r["bin"]: r
        for r in quality_dedup_interaction(
            spark.createDataFrame(rows, DOC_COLS)
        ).collect()
    }
    assert set(out) == {5, 9}
    b5 = out[5]
    assert (b5["n_docs"], b5["n_dup_involved"], b5["n_redundant"]) == (4, 4, 3)
    assert b5["redundant_pct"] == 75.0
    # lift = (3/4) / (3/6) = 1.5 -> 150.00 at the x100 scale
    assert b5["lift_x100"] == 150.0
    b9 = out[9]
    assert (b9["n_docs"], b9["n_dup_involved"], b9["n_redundant"]) == (2, 0, 0)
    assert b9["redundant_pct"] == 0.0 and b9["lift_x100"] == 0.0


def test_quality_dedup_interaction_no_redundancy_null_lift(spark):
    from inde1_spark.operators.corpus import quality_dedup_interaction

    rows = [
        (1, "unique doc number one alpha", "en", "s", 100),
        (2, "unique doc number two beta", "en", "s", 100),
    ]
    out = quality_dedup_interaction(
        spark.createDataFrame(rows, DOC_COLS)
    ).collect()
    assert all(r["lift_x100"] is None for r in out)
    assert all(r["n_redundant"] == 0 for r in out)


def test_quality_dedup_interaction_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["quality_dedup_interaction"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas <= {
        "doc_id:bigint,text:string",
        "doc_id:bigint,text:string,n_chars:bigint",
    }


# ---------------------------------------------------------------------------
# event_order_integrity_audit
# ---------------------------------------------------------------------------


def test_event_order_integrity_exact_counts(spark):
    from inde1_spark.operators.analytics import event_order_integrity_audit

    def ev(eid, sec, uid):
        return (
            eid,
            T0 + timedelta(seconds=sec) if sec is not None else None,
            uid,
            "view",
            1.0,
            "{}",
        )

    rows = [
        # user 1: id order 1, 2 but ts regresses at id 2
        ev(1, 100, 1), ev(2, 95, 1),
        # user 2: ids 3, 4 in order, plus a DUPLICATE of id 1 whose ts
        # makes id 3 a regression in (event_id, ts) order
        ev(3, 100, 2), ev(4, 160, 2), ev(1, 220, 2),
        # excluded from the window pass, counted in the base facts
        ev(5, None, 3),
        ev(6, 100, None),
    ]
    out = event_order_integrity_audit(
        spark.createDataFrame(rows, EVENT_COLS)
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_rows"] == 7
    assert r["n_dup_event_ids"] == 1  # id 1 appears twice
    # u1: 1 regression of 1 pair; u2 (id order 1, 3, 4): ts 220, 100, 160
    # -> regression at id 3 only: 2 of 3 adjacent pairs total
    assert r["n_ts_regressions"] == 2
    assert r["n_adjacent_pairs"] == 3
    assert r["n_users_regressed"] == 2
    assert r["regression_pct"] == _rhu(2 * 100 * 100, 3) / 100  # 66.67
    assert (r["n_null_ids"], r["n_null_ts"], r["n_null_users"]) == (0, 1, 1)


def test_event_order_integrity_clean_archive_all_zero(spark):
    from inde1_spark.operators.analytics import event_order_integrity_audit

    rows = [
        (i, T0 + timedelta(seconds=10 * i), i % 3, "view", 1.0, "{}")
        for i in range(1, 10)
    ]
    r = event_order_integrity_audit(
        spark.createDataFrame(rows, EVENT_COLS)
    ).collect()[0]
    assert r["n_dup_event_ids"] == 0 and r["n_ts_regressions"] == 0
    assert r["regression_pct"] == 0.0 and r["n_users_regressed"] == 0


def test_event_order_integrity_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["event_order_integrity_audit"](
            spark, SF_SMOKE
        )
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"event_id:bigint,ts:timestamp_ntz,user_id:bigint"}


# ---------------------------------------------------------------------------
# minhash_perm_sweep
# ---------------------------------------------------------------------------


def test_minhash_perm_sweep_identical_docs_zero_error(spark):
    from inde1_spark.operators.dedup import (
        MINHASH_PERM_GRID,
        minhash_perm_sweep,
    )

    # two identical docs (jac 1.0, every perm matches at every k) plus a
    # disjoint doc that never bands with them
    same = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, same, "en", "s", len(same)),
            (2, same, "en", "s", len(same)),
            (3, "totally unrelated vocabulary zebra yak xenon walrus vole",
             "en", "s", 50),
        ],
        DOC_COLS,
    )
    out = {r["n_perms"]: r for r in minhash_perm_sweep(docs).collect()}
    assert set(out) == set(MINHASH_PERM_GRID)
    for k, r in out.items():
        assert r["n_pairs"] == 1, k
        assert r["mean_abs_err_ppm"] == 0.0 and r["max_abs_err_ppm"] == 0
        assert r["bias_ppm"] == 0.0


def test_minhash_perm_sweep_k32_consistent_with_est_audit(spark):
    from inde1_spark.operators.dedup import (
        minhash_est_jaccard,
        minhash_perm_sweep,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base + " lambda mu", "en", "s", 60),
            (2, base + " nu xi", "en", "s", 60),
            (3, base + " omicron pi", "en", "s", 60),
            (4, "different words entirely quebec romeo sierra tango uniform",
             "en", "s", 60),
        ],
        DOC_COLS,
    )
    est = minhash_est_jaccard(docs).collect()
    sweep = {r["n_perms"]: r for r in minhash_perm_sweep(docs).collect()}
    r32 = sweep[32]
    assert r32["n_pairs"] == len(est)
    # the k=32 prefix IS the production signature: per-pair errors match
    errs = [round(r["abs_err"] * 1e6) for r in est]
    assert r32["max_abs_err_ppm"] == max(errs)
    assert r32["mean_abs_err_ppm"] == _rhu(sum(errs) * 100, len(errs)) / 100


def test_minhash_perm_sweep_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["minhash_perm_sweep"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    assert "InMemoryTableScan" in r.raw  # one pair table feeds every k row
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"doc_id:bigint,text:string"}


# ---------------------------------------------------------------------------
# curation_order_audit
# ---------------------------------------------------------------------------


def test_curation_order_rescue_exact(spark):
    from inde1_spark.operators.corpus import curation_order_audit

    # group A: canonical copy (doc 1) FAILS quality (short, n_chars 10),
    # doc 2 is an identical-text... no — identical text has identical
    # quality; the rescue case needs same-text groups where copies differ
    # in n_chars (metadata drift: same text, different recorded length).
    # quality = (min(n_chars,500)*n + 500*n)/(1000n) for stopword-free text.
    # 4 tokens, n_chars 10 -> (40 + 2000)/4000 = 0.51 >= 0.5 passes...
    # use n_chars 0 -> 0.5 passes too (>=). Use stopwords to sink quality:
    # 'the of a to' -> n_stop = 4 = n -> quality = (chars*4 + 0)/4000.
    rows = [
        # group A (text with all stopwords): doc 1 n_chars 100 ->
        # (400+0)/4000 = 0.1 FAIL; doc 2 SAME text, n_chars 2000 ->
        # (500*4)/4000 = 0.5 PASS. dedup-first keeps doc 1 -> fails ->
        # group lost; filter-first keeps doc 2 -> rescued.
        (1, "the of a to", "en", "s", 100),
        (2, "the of a to", "en", "s", 2000),
        # group B: both pass; keeper 3 kept on both paths
        (3, "alpha beta gamma delta", "en", "s", 500),
        (4, "alpha beta gamma delta", "en", "s", 500),
        # unique doc failing quality: kept by neither
        (5, "the the the the", "en", "s", 10),
    ]
    out = curation_order_audit(
        spark.createDataFrame(rows, DOC_COLS)
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_total"] == 5
    assert r["n_dedup_first_kept"] == 1       # only doc 3
    assert r["n_filter_first_kept"] == 2      # docs 3 and 2
    assert r["n_rescued"] == 1
    assert r["tokens_dedup_first"] == 4
    assert r["tokens_filter_first"] == 8
    assert r["rescued_token_pct"] == 50.0


def test_curation_order_no_dups_paths_equal(spark):
    from inde1_spark.operators.corpus import curation_order_audit

    rows = [
        (1, "unique alpha beta gamma", "en", "s", 500),
        (2, "unique delta epsilon zeta", "en", "s", 500),
    ]
    r = curation_order_audit(
        spark.createDataFrame(rows, DOC_COLS)
    ).collect()[0]
    assert r["n_dedup_first_kept"] == r["n_filter_first_kept"] == 2
    assert r["n_rescued"] == 0 and r["rescued_token_pct"] == 0.0


def test_curation_order_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["curation_order_audit"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas <= {
        "doc_id:bigint,text:string,n_chars:bigint",
        "doc_id:bigint,text:string",
    }


# ---------------------------------------------------------------------------
# text_normalization_audit
# ---------------------------------------------------------------------------


def test_text_normalization_predicates_exact(spark):
    from inde1_spark.operators.text import text_normalization_audit

    rows = [
        (1, " leading space", "en", "a", 14),        # leading
        (2, "trailing space ", "en", "a", 15),       # trailing
        (3, "double  space", "en", "a", 13),         # double space
        (4, "   ", "en", "a", 3),                    # empty + leading + trailing
        (5, "café au lait", "en", "a", 12),     # non-ascii
        (6, "ALL CAPS TEXT", "en", "a", 13),         # all caps
        (7, "a perfectly normal line", "en", "b", 23),
    ]
    out = {
        r["source"]: r
        for r in text_normalization_audit(
            spark.createDataFrame(rows, DOC_COLS)
        ).collect()
    }
    a = out["a"]
    assert a["n_docs"] == 6
    assert a["n_leading_ws"] == 2      # docs 1, 4
    assert a["n_trailing_ws"] == 2     # docs 2, 4
    assert a["n_double_space"] == 2    # docs 3, 4 ('   ' contains '  ')
    assert a["n_empty"] == 1           # doc 4
    assert a["n_non_ascii"] == 1       # doc 5
    assert a["n_all_caps"] == 1        # doc 6
    assert a["debt_index_pct"] == _rhu((2 + 2 + 2 + 1 + 1 + 1) * 100 * 100, 6 * 6) / 100
    b = out["b"]
    assert b["n_docs"] == 1 and b["debt_index_pct"] == 0.0
    assert all(b[k] == 0 for k in (
        "n_leading_ws", "n_trailing_ws", "n_double_space", "n_empty",
        "n_non_ascii", "n_all_caps",
    ))


def test_text_normalization_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["text_normalization_audit"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"text:string,source:string"}


# ---------------------------------------------------------------------------
# pq_distortion_sweep
# ---------------------------------------------------------------------------


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        ["vec_id", "embedding", "label"],
    )


def test_pq_distortion_codebook_vectors_zero(spark):
    from inde1_spark.operators.similarity import (
        PQ_M_GRID,
        pq_distortion_sweep,
    )

    # corpus == the 8 seed vectors: every vector IS a codebook entry in
    # every subspace, so distortion is exactly 0 at every m
    vecs = [[float(i + 1)] * 64 for i in range(8)]
    out = {r["m_sub"]: r for r in pq_distortion_sweep(_emb(spark, vecs)).collect()}
    assert set(out) == set(PQ_M_GRID)
    for m, r in out.items():
        assert r["n_vectors"] == 8
        assert r["mean_distortion_pico"] == 0.0
        assert r["max_distortion_pico"] == 0, m
        assert r["bits_per_vec"] == 3 * m


def test_pq_distortion_monotone_in_m_and_exact_value(spark):
    from inde1_spark.operators.similarity import pq_distortion_sweep

    # 8 seeds (constant vectors 1..8) + one probe whose halves disagree:
    # first 32 dims ~ 2, last 32 dims ~ 7. With m=2 each half snaps to
    # its own centroid (distortion from the 0.25 offsets only); with
    # m=1... grid starts at 2 — pin m=2 vs m=4/8 monotonicity and the
    # exact pico value of the probe's distortion at m=2.
    vecs = [[float(i + 1)] * 64 for i in range(8)]
    probe = [2.25] * 32 + [6.75] * 32
    out = {
        r["m_sub"]: r
        for r in pq_distortion_sweep(_emb(spark, vecs + [probe])).collect()
    }
    # probe at m=2: halves quantize to centroids 2 and 7 -> per-dim
    # (0.25)^2 = 0.0625 -> 625e8 pico per dim, 32 dims per subspace
    per_dim = int(0.0625 * 1e12 + 0.5)
    assert out[2]["max_distortion_pico"] == per_dim * 64
    # larger m can only refine the factorization: max distortion never grows
    ms = sorted(out)
    maxes = [out[m]["max_distortion_pico"] for m in ms]
    assert maxes == sorted(maxes, reverse=True) or len(set(maxes)) == 1


def test_pq_distortion_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["pq_distortion_sweep"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    # the plan_report regex stops at the first '>', so array<float> captures
    # truncated (the r10 convention); seeds read (vec_id, embedding), the
    # per-vector distortion scan prunes to embedding alone
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert all(
        set(x.split(",")) <= {"vec_id:bigint", "embedding:array<float", ""}
        for x in schemas
    ), schemas


# ---------------------------------------------------------------------------
# lm_order_sweep
# ---------------------------------------------------------------------------


def _py_hash_bucket100(key) -> int:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) % 100


def _py_lm_sweep(docs):
    """Pure-python mirror of scoring.lm_order_sweep (docs: id -> text)."""
    import math
    from collections import Counter

    def rhu_signed_nano(x: float) -> int:
        # Spark F.round(_, 0) / DuckDB round(): half away from zero
        return int(math.floor(abs(x) * 1e9 + 0.5)) * (1 if x >= 0 else -1)

    toks = {i: [t for t in txt.split(" ") if t] for i, txt in docs.items()}
    tr_ids = {i for i in docs if _py_hash_bucket100(i) < 80}
    uni_tr = Counter(t for i in tr_ids for t in toks[i])
    uni_he = Counter(t for i in docs if i not in tr_ids for t in toks[i])
    n_train, v = sum(uni_tr.values()), len(uni_tr)

    def bigrams(ts):
        return [f"{a} {b}" for a, b in zip(ts, ts[1:])]

    bi_tr = Counter(g for i in tr_ids for g in bigrams(toks[i]))
    bi_he = Counter(
        g for i in docs if i not in tr_ids for g in bigrams(toks[i])
    )
    ctx = Counter()
    for g, c in bi_tr.items():
        ctx[g.split(" ")[0]] += c
    rows = {}
    for order, he, tr_c, nt in (
        (1, uni_he, uni_tr, n_train),
        (2, bi_he, bi_tr, sum(bi_tr.values())),
    ):
        n_held = sum(he.values())
        n_oov = sum(c for g, c in he.items() if g not in tr_c)
        lp_sum = 0
        for g, c in he.items():
            den = (
                max(n_train + v, 1)
                if order == 1
                else max(ctx.get(g.split(" ")[0], 0) + v, 1)
            )
            lp_sum += c * rhu_signed_nano(math.log((tr_c.get(g, 0) + 1) / den))
        avg = (_rhu(-lp_sum, max(n_held, 1)) * -1.0) / 1e9 if lp_sum <= 0 else None
        rows[order] = {
            "n_train_grams": nt,
            "n_held_grams": n_held,
            "oov_pct": _rhu(n_oov * 100 * 100, max(n_held, 1)) / 100,
            "avg_logprob": avg,
        }
    return rows


def test_lm_order_sweep_matches_python_mirror(spark):
    from inde1_spark.operators.scoring import lm_order_sweep

    # ids chosen so both lanes are populated (md5 lane membership is
    # data-independent — the mirror recomputes it; ids 8/16/19 sit in
    # the >= 80 held lane, the rest train)
    docs = {
        i: txt
        for i, txt in zip(
            (0, 1, 2, 3, 8, 16, 19, 4),
            [
                "the cat sat on the mat",
                "the dog sat on the rug",
                "a cat and a dog",
                "the cat ran to the dog",
                "completely novel held words maybe",
                "the mat and the rug",
                "dog and cat and mat",
                "on the mat sat a cat",
            ],
        )
    }
    tr = {i for i in docs if _py_hash_bucket100(i) < 80}
    assert 0 < len(tr) < len(docs)  # fixture exercises both lanes
    rows = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs.items()], DOC_COLS
    )
    out = {r["order"]: r for r in lm_order_sweep(rows).collect()}
    want = _py_lm_sweep(docs)
    for order in (1, 2):
        got, exp = out[order], want[order]
        for k in ("n_train_grams", "n_held_grams", "oov_pct", "avg_logprob"):
            assert got[k] == exp[k], (order, k, got[k], exp[k])
    # sanity: smoothed logprobs are strictly negative and the orders
    # genuinely differ (the sweep's decision signal is non-degenerate)
    assert out[1]["avg_logprob"] < 0 and out[2]["avg_logprob"] < 0
    assert out[1]["avg_logprob"] != out[2]["avg_logprob"]


def test_lm_order_sweep_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["lm_order_sweep"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    assert "InMemoryTableScan" in r.raw  # one tokenize pass, four consumers
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"doc_id:bigint,text:string"}


# ---------------------------------------------------------------------------
# keep_policy_audit
# ---------------------------------------------------------------------------


def test_keep_policy_three_rules_diverge(spark):
    from inde1_spark.operators.dedup import keep_policy_audit

    # one near-dup cluster of three docs sharing most 3-gram shingles but
    # differing in length and quality metadata:
    #   doc 1: shortest, mid quality   (min-id keeper)
    #   doc 2: same text + extra words (longest)
    #   doc 3: same text, n_chars 500  (best quality: length score 1.0)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, "en", "s", 60),
        (2, base + " lambda", "en", "s", 67),  # J = 8/9 >= threshold
        (3, base, "en", "s", 500),
    ]
    out = {
        r["policy"]: r
        for r in keep_policy_audit(
            spark.createDataFrame(rows, DOC_COLS)
        ).collect()
    }
    assert set(out) == {"min_id", "best_quality", "longest"}
    for r in out.values():
        assert r["n_members"] == 3 and r["n_kept"] == 1
    assert out["min_id"]["n_differs_from_min_id"] == 0
    assert out["min_id"]["kept_tokens"] == 10
    # longest keeps doc 2 (11 tokens); best-quality keeps doc 3
    assert out["longest"]["kept_tokens"] == 11
    assert out["longest"]["n_differs_from_min_id"] == 1
    assert out["best_quality"]["n_differs_from_min_id"] == 1
    assert (
        out["best_quality"]["mean_kept_quality_micro"]
        > out["min_id"]["mean_kept_quality_micro"]
    )


def test_keep_policy_identical_members_all_agree(spark):
    from inde1_spark.operators.dedup import keep_policy_audit

    # exact copies: every rank key ties, every policy falls back to the
    # doc_id tie-break -> all three keep the same doc
    txt = "one two three four five six seven eight nine ten"
    rows = [(i, txt, "en", "s", 50) for i in (4, 7, 9)]
    out = {
        r["policy"]: r
        for r in keep_policy_audit(
            spark.createDataFrame(rows, DOC_COLS)
        ).collect()
    }
    for r in out.values():
        assert r["n_kept"] == 1 and r["n_differs_from_min_id"] == 0
        assert r["kept_tokens"] == 10


def test_keep_policy_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["keep_policy_audit"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    assert "InMemoryTableScan" in r.raw  # member table built once, 3 rollups


# ---------------------------------------------------------------------------
# hash_width_audit
# ---------------------------------------------------------------------------


def test_hash_width_counts_and_birthday_bound(spark):
    from inde1_spark.operators.dedup import HASH_WIDTH_BITS, hash_width_audit

    texts = [f"document number {i} with its own words" for i in range(20)]
    texts.append(texts[0])  # an exact copy: distinct-text pass removes it
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)], DOC_COLS
    )
    out = {r["bits"]: r for r in hash_width_audit(docs).collect()}
    assert set(out) == set(HASH_WIDTH_BITS)
    for w, r in out.items():
        assert r["n_keys"] == 20  # the copy collapsed
        # python mirror of the prefix distinct count
        hs = {
            int(hashlib.md5(t.encode()).hexdigest()[: w // 4], 16)
            for t in texts[:20]
        }
        assert r["n_hashes"] == len(hs), w
        assert r["n_collisions"] == 20 - len(hs)
        # birthday bound: round_half_up(n(n-1)*1e6 / 2^(w+1))
        assert r["expected_collisions_micro"] == _rhu(
            20 * 19 * 10**6, 2 ** (w + 1)
        )
    # wider prefixes can only separate more
    ns = [out[w]["n_hashes"] for w in sorted(out)]
    assert ns == sorted(ns)


def test_hash_width_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["hash_width_audit"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    assert "InMemoryTableScan" in r.raw  # distinct-hash table built once
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"text:string"}


# ---------------------------------------------------------------------------
# corpus_shard_plan
# ---------------------------------------------------------------------------


def test_corpus_shard_plan_cumulative_fill_exact(spark):
    from inde1_spark.operators.corpus import CORPUS_SHARDS, corpus_shard_plan

    # 16 docs of 4 tokens each: 64 tokens over 8 shards -> 8 tokens/shard,
    # exactly 2 contiguous docs per shard, fill 100.00 everywhere
    rows = [
        (i, "alpha beta gamma delta", "en", "s", 20) for i in range(16)
    ]
    out = corpus_shard_plan(spark.createDataFrame(rows, DOC_COLS)).collect()
    assert len(out) == CORPUS_SHARDS
    for k, r in enumerate(out):
        assert r["shard"] == k
        assert (r["lo_doc_id"], r["hi_doc_id"]) == (2 * k, 2 * k + 1)
        assert r["n_docs"] == 2 and r["n_tokens"] == 8
        assert r["fill_pct"] == 100.0
    # contiguity: ranges tile the id space in order
    for a, b in zip(out, out[1:]):
        assert a["hi_doc_id"] < b["lo_doc_id"]


def test_corpus_shard_plan_giant_doc_overflows_one_shard(spark):
    from inde1_spark.operators.corpus import corpus_shard_plan

    # one 56-token giant among 8 one-token docs (64 total): the giant's
    # shard must overfill and the audit must say by exactly how much
    giant = " ".join(f"w{i}" for i in range(56))
    rows = [(0, giant, "en", "s", 300)] + [
        (i, "solo", "en", "s", 4) for i in range(1, 9)
    ]
    out = {r["shard"]: r for r in corpus_shard_plan(
        spark.createDataFrame(rows, DOC_COLS)
    ).collect()}
    g = out[0]
    assert g["lo_doc_id"] == 0 and g["n_tokens"] == 56
    assert g["fill_pct"] == 700.0  # 56 / (64/8) = 7x the ideal
    total = sum(r["n_tokens"] for r in out.values())
    assert total == 64


def test_corpus_shard_plan_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["corpus_shard_plan"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    # two scans: the sharding pass (doc_id + text) and the total (text)
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas <= {"doc_id:bigint,text:string", "text:string"}
    # two-level cumsum: the CORPUS-sized window partitions by block
    # (windowspecdefinition(block#..., doc_id#...)); only the collapsed
    # block table's running sum may run unpartitioned
    assert re.search(
        r"windowspecdefinition\(block#\d+L, doc_id#\d+L", r.raw
    ), "per-doc cumsum lost its block partitioning"


# ---------------------------------------------------------------------------
# state_size_profile
# ---------------------------------------------------------------------------


def test_state_size_profile_open_keys_exact(spark):
    from inde1_spark.operators.analytics import (
        STATE_BYTES_PER_KEY,
        state_size_profile,
    )

    def ev(eid, day, hh, mm, uid):
        return (
            eid, T0 + timedelta(days=day, hours=hh, minutes=mm), uid,
            "view", 1.0, "{}",
        )

    rows = [
        # day 0: users 1,2,3 active; 1 and 3 in the tail hour (3 EXACTLY
        # at 23:00:00 — the inclusive boundary); user 1 twice
        ev(1, 0, 10, 0, 1), ev(2, 0, 23, 30, 1), ev(3, 0, 12, 0, 2),
        ev(4, 0, 23, 0, 3),
        # day 1: one user, no tail activity -> zero open state
        ev(5, 1, 9, 0, 4),
    ]
    out = {
        r["day"]: r
        for r in state_size_profile(
            spark.createDataFrame(rows, EVENT_COLS)
        ).collect()
    }
    d0 = out["2024-03-04"]
    assert (d0["n_events"], d0["n_active_keys"], d0["n_open_eod"]) == (4, 3, 2)
    assert d0["open_share_pct"] == _rhu(2 * 100 * 100, 3) / 100  # 66.67
    assert d0["events_per_key_x100"] == _rhu(4 * 100 * 100, 3) / 100
    assert d0["state_bytes_est"] == 2 * STATE_BYTES_PER_KEY
    d1 = out["2024-03-05"]
    assert (d1["n_active_keys"], d1["n_open_eod"]) == (1, 0)
    assert d1["open_share_pct"] == 0.0 and d1["state_bytes_est"] == 0


def test_state_size_profile_plan(spark):
    import __spark_entry__ as entrymod

    r = plan_report(
        entrymod.staged_queries()["state_size_profile"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in r.raw and "BatchEvalPython" not in r.raw
    schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", r.raw))
    assert schemas == {"ts:timestamp_ntz,user_id:bigint"}
