"""Production-hash MinHash path: equality against the exact ground truth.

``dedup_minhash_fast`` uses xxhash64 shingle ids (no sorted global
dictionary) — the 100 TB spelling. Not oracle-checkable (engine-specific
hash), so these tests pin its quality instead:

- banded candidates from the fast signatures must recover every planted
  near-duplicate pair the exact n-gram Jaccard ground truth finds
  (recall = 1 at the gate scale), and
- because the verify step is the same exact Jaccard, the full operator
  output must EQUAL the ground truth output (precision is exact by
  construction, so equality == full recall).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from inde1_spark.operators import dedup as D
from inde1_spark.sources.readers import load_table
from tests.conftest import SF_ORACLE


def test_fast_minhash_recall(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in D.dedup_ngram_jaccard(docs).collect()
    }
    assert truth, "ground truth must find the planted near-dups"

    sigs = D.minhash_signatures_fast(docs)
    bands = D.banded_signature(sigs, D.FAST_N_PERM, D.FAST_N_BANDS)
    candidates = {
        (r["doc_a"], r["doc_b"]) for r in D.band_candidates(bands).collect()
    }
    missed = truth - candidates
    assert not missed, f"fast LSH missed planted near-dups: {missed}"


def test_fast_minhash_output_equals_ground_truth(spark):
    """The gated rows-only query: exact verify makes precision 1, and full
    banding recall makes output == dedup_ngram_jaccard, jaccard values
    included."""
    docs = load_table(spark, SF_ORACLE, "documents")
    truth = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in D.dedup_ngram_jaccard(docs).collect()
    }
    fast = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in D.dedup_minhash_fast(docs).collect()
    }
    assert fast == truth


def test_release_persisted_frees_cached_intermediates(spark):
    """Dedup operators persist self-joined intermediates; release_persisted
    must drop them all (long-lived sessions would otherwise accumulate
    cached blocks per invocation — ADVICE r1)."""
    docs = load_table(spark, SF_ORACLE, "documents")
    D.release_persisted()  # clean slate
    D.dedup_minhash_fast(docs).count()
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() > 0
    released = D.release_persisted()
    assert released >= 2  # shingle table + band table
    assert jsc.getPersistentRDDs().size() == 0
    assert D.release_persisted() == 0  # idempotent


def test_hot_shingle_cap_drops_boilerplate_only(spark):
    """cap_shingle_df must remove exactly the shingles above the df cap and
    leave true near-dup pairs findable: two planted near-dups sharing
    low-df shingles survive; a boilerplate shingle spanning every doc is
    dropped from the index."""
    from inde1_spark.operators.dedup import cap_shingle_df, shingle_table

    boiler = "all rights reserved by the site"
    rows = [(i, f"unique{i} text body number {i} " + boiler) for i in range(20)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog today"),
        (101, "the quick brown fox jumps over the lazy dog tonight"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = shingle_table(docs)
    capped = cap_shingle_df(sh, max_df=10)

    surviving = {r["shingle"] for r in capped.select("shingle").distinct().collect()}
    assert "all rights reserved" not in surviving  # df=20 > cap
    assert "quick brown fox" in surviving  # df=2: real dedup signal
    # the planted pair still shares enough shingles to be found
    both = (
        capped.filter(F.col("doc_id").isin(100, 101))
        .groupBy("shingle")
        .count()
        .filter(F.col("count") == 2)
        .count()
    )
    assert both >= 5


def test_fast_simhash_recall_and_precision(spark):
    """``dedup_simhash_fast`` (xxhash64 ids, no dictionary) must behave like
    a SimHash: >=90% of exact-Jaccard near-dup pairs found (Hamming<=3 is
    an approximation — neither id scheme reaches recall 1 on this corpus),
    and >=90% of reported pairs are true near-dups."""
    docs = load_table(spark, SF_ORACLE, "documents")
    truth = {
        (r["doc_a"], r["doc_b"]) for r in D.dedup_ngram_jaccard(docs).collect()
    }
    fast = {
        (r["doc_a"], r["doc_b"]) for r in D.dedup_simhash_fast(docs).collect()
    }
    assert truth and fast
    assert len(truth & fast) / len(truth) >= 0.9
    assert len(truth & fast) / len(fast) >= 0.9


def test_capped_minhash_equal_when_cap_loose_subset_when_tight(spark):
    """The df cap prunes CANDIDATE GENERATION only; verify scores true
    Jaccard. So: a loose cap (64 > max df at this SF) changes nothing,
    and a binding cap can only LOSE pairs, never invent or rescore them
    (precision preserved, recall traded — the documented contract)."""
    docs = load_table(spark, SF_ORACLE, "documents")
    base = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in D.dedup_minhash_fast(docs).collect()
    }
    loose = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in D.dedup_minhash_fast(docs, max_shingle_df=64).collect()
    }
    assert loose == base
    tight = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in D.dedup_minhash_fast(docs, max_shingle_df=3).collect()
    }
    assert tight <= base
    D.release_persisted()


def test_incremental_cap_noop_on_clean_corpus(spark):
    """dedup_incremental defaults to the capped candidate join (the
    production config); on the synthetic corpus no shingle df exceeds the
    cap, so the capped output must EQUAL the uncapped exact one — the
    contract that keeps the gate entry hash-green against the uncapped
    oracle."""
    docs = load_table(spark, SF_ORACLE, "documents")
    capped = {tuple(r) for r in D.dedup_incremental(docs).collect()}
    uncapped = {
        tuple(r) for r in D.dedup_incremental(docs, max_shingle_df=None).collect()
    }
    assert capped == uncapped
    D.release_persisted()


def test_incremental_cap_bounds_boilerplate_posting(spark):
    """A boilerplate shingle spanning every doc must NOT create candidate
    pairs under the cap, while a true near-dup pair (batch doc vs index
    doc) still verifies with its exact uncapped Jaccard."""
    boiler = " copyright terms of service apply here"
    rows = [(i, f"filler{i} words body number {i} item{i}" + boiler) for i in range(30)]
    # a batch/index near-dup pair sharing real content; hash_bucket(doc_id)
    # decides the split, so scan ids until one lands in the batch side
    from inde1_spark.operators.text import hash_bucket
    from pyspark.sql import functions as F

    ids = spark.range(1000, 1100).select(
        F.col("id"), hash_bucket(F.col("id"), 100).alias("b")
    )
    pair = ids.collect()
    batch_id = next(r["id"] for r in pair if r["b"] < D.INCR_BATCH_PCT)
    index_id = next(r["id"] for r in pair if r["b"] >= D.INCR_BATCH_PCT)
    near = "the quick brown fox jumps over the lazy dog every single morning"
    rows += [(batch_id, near + " today"), (index_id, near + " tonight")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    out = {
        r["doc_new"]: (r["dup_of"], r["admit"])
        for r in D.dedup_incremental(docs, threshold=0.5, max_shingle_df=10).collect()
    }
    assert out[batch_id] == (index_id, False)  # real dup found despite cap
    # boilerplate-only batch docs are admitted: the hot shingles are capped
    # out of candidate generation and their true Jaccard is below threshold
    for doc_new, (dup_of, admit) in out.items():
        if doc_new != batch_id:
            assert admit and dup_of is None
    D.release_persisted()


def test_allpairs_output_equals_ground_truth(spark):
    """Prefix filtering is exact (no false negatives — Xiao et al.
    WWW'08), so similarity_join_allpairs must EQUAL the exact Jaccard
    ground truth, values included, on the corpus with planted near-dups."""
    docs = load_table(spark, SF_ORACLE, "documents")
    truth = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in D.dedup_ngram_jaccard(docs).collect()
    }
    assert truth
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in D.similarity_join_allpairs(docs).collect()
    }
    assert got == truth
    D.release_persisted()


# ---------------------------------------------------------------------------
# Adversarial-skew fixtures (r04 verdict item 3): on the clean synthetic
# corpus the df caps never bind, so the gate proves correctness but not that
# the caps actually do their 100 TB job. These fixtures plant boilerplate in
# WELL OVER the cap's worth of documents (150 docs > cap 64) and assert both
# halves of the contract: (a) output still equals the capped DuckDB oracle
# bit-for-bit, and (b) the candidate/pair volume stays bounded — the
# plan-level fact the scale claim rests on.
# ---------------------------------------------------------------------------

_BOILER = " ".join(f"boilerplate{w} chrome{w} footer{w}" for w in range(34))  # 102 words


def _boiler_corpus(spark, extra_rows):
    # 60 unique words per doc before the shared tail: enough unique capped
    # mass that a boundary-alignment subset (docs where a CDC boundary lands
    # exactly at the boilerplate start — ~1/16 of them — share one sub-cap
    # chunk) stays far below the containment threshold.
    rows = [
        (i, " ".join(f"ux{i}w{j}" for j in range(60)) + " " + _BOILER)
        for i in range(150)
    ] + extra_rows
    return spark.createDataFrame(rows, "doc_id long, text string")


def _register_documents(pdf):
    import duckdb

    con = duckdb.connect()
    con.register("documents", pdf)
    return con


def test_levenshtein_cap_binds_on_boilerplate_corpus(spark):
    """150 docs share a 102-word boilerplate tail (df = 150 >> cap 64).
    Uncapped, every boilerplate pair is a candidate (>10k pairs each
    paying an O(len^2) DP); with the production default cap the candidate
    set collapses to the planted near-dup pair only, and the full operator
    output still equals the capped DuckDB oracle exactly."""
    from inde1_spark.oracles import ORACLES
    from tests.conftest import compare_frames

    near = " ".join(f"story{w} detail{w}" for w in range(30))  # 60 unique words
    docs = _boiler_corpus(
        spark,
        [(1000, near + " ending today"), (1001, near + " ending tonight")],
    )

    # (b) plan-level: candidate volume, capped vs uncapped
    sh = D.shingle_table(docs)
    capped_cand = D._shared_shingle_candidates(
        D.cap_shingle_df(sh, D.LEV_MAX_SHINGLE_DF), D.LEV_MIN_SHARED
    )
    assert capped_cand.count() == 1  # ONLY the planted pair survives
    uncapped_cand = D._shared_shingle_candidates(sh, D.LEV_MIN_SHARED)
    assert uncapped_cand.count() > 10_000  # what the cap is protecting against

    # (a) correctness: full operator == capped oracle on the same fixture
    out = D.dedup_levenshtein(docs)
    con = _register_documents(docs.toPandas())
    problems = compare_frames(out.toPandas(), con.execute(ORACLES["dedup_levenshtein"]).fetchdf())
    assert not problems, "; ".join(problems)
    got = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert got == {(1000, 1001)}
    con.close()
    D.release_persisted()


def test_cdc_overlap_cap_binds_on_boilerplate_corpus(spark):
    """Same skew shape at CDC-chunk granularity: the 150-doc boilerplate
    tail yields identical content-defined chunks with df = 150 >> cap 64;
    uncapped the chunk inverted-index join would emit >10k pairs per hot
    chunk, capped it emits only the planted partial-overlap pair — and the
    output still equals the capped DuckDB oracle exactly."""
    from inde1_spark.oracles import ORACLES
    from tests.conftest import compare_frames

    passage = " ".join(f"quote{w} source{w}" for w in range(50))  # 100 unique words
    docs = _boiler_corpus(
        spark,
        [(2000, passage), (2001, passage + " " + " ".join(f"extra{w}" for w in range(20)))],
    )

    # (b) plan-level: pair volume through the chunk inverted index
    dch = (
        D.cdc_chunk_table(docs)
        .groupBy("doc_id", "chunk_hash")
        .agg(F.min("n_words").alias("n_words"))
    )
    dfc = dch.groupBy("chunk_hash").agg(F.count("*").alias("df"))
    hot = dfc.filter(F.col("df") > D.CDC_OVERLAP_MAX_DF).count()
    assert hot >= 1  # the boilerplate chunks really exceed the cap
    a = dch.select(F.col("doc_id").alias("doc_a"), "chunk_hash")
    b = dch.select(F.col("doc_id").alias("doc_b"), "chunk_hash")

    def n_pairs(tbl):
        return (
            a.join(tbl, "chunk_hash").join(b.join(tbl, "chunk_hash"), "chunk_hash")
            .filter(F.col("doc_a") < F.col("doc_b")).count()
        )

    capped_keys = dfc.filter(F.col("df") <= D.CDC_OVERLAP_MAX_DF).select("chunk_hash")
    # a few hundred rows at most (planted pair + boundary-alignment
    # subsets), vs >10k through the uncapped hot chunks
    assert n_pairs(capped_keys) < 500
    assert n_pairs(dfc.select("chunk_hash")) > 10_000

    # (a) correctness: full operator == capped oracle on the same fixture
    out = D.cdc_doc_overlap(docs)
    con = _register_documents(docs.toPandas())
    problems = compare_frames(out.toPandas(), con.execute(ORACLES["cdc_doc_overlap"]).fetchdf())
    assert not problems, "; ".join(problems)
    got = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert got == {(2000, 2001)}  # boilerplate docs produce NO overlap pairs
    con.close()
    D.release_persisted()


def test_minhash_cap_binds_on_boilerplate_corpus(spark):
    """dedup_minhash_fast with the production cap on the skewed corpus:
    banded candidate volume stays bounded (boilerplate shingles leave the
    index, so boilerplate docs stop colliding in every band) and the
    planted near-dup still verifies with its exact uncapped Jaccard."""
    near = " ".join(f"story{w} detail{w}" for w in range(30))
    docs = _boiler_corpus(
        spark,
        [(1000, near + " ending today"), (1001, near + " ending tonight")],
    )
    sigs_capped = D.minhash_signatures_fast(docs, max_shingle_df=64)
    bands = D.banded_signature(sigs_capped, D.FAST_N_PERM, D.FAST_N_BANDS)
    n_cand = D.band_candidates(bands).count()
    assert n_cand < 50  # uncapped, every boilerplate pair collides: >10k

    out = {
        (r["doc_a"], r["doc_b"]) for r in
        D.dedup_minhash_fast(docs, max_shingle_df=64).collect()
    }
    assert (1000, 1001) in out
    # boilerplate-only docs must NOT be reported: their true Jaccard is
    # dominated by the shared tail, so verify against the threshold matters
    assert all(p == (1000, 1001) for p in out)
    D.release_persisted()


def test_rebanding_planner_monotone_tradeoff(spark):
    # finer rows-per-band (sharper S-curve) can only DROP candidates and
    # recall; the most aggressive banding must dominate both columns
    from inde1_spark.operators.dedup import (
        lsh_rebanding_planner,
        release_persisted,
    )
    from inde1_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    out = sorted(
        (
            (r.rows_per_band, r.expected_candidates, r.est_recall)
            for r in lsh_rebanding_planner(docs).collect()
        )
    )
    release_persisted()
    assert len(out) == 4
    for (r0, c0, g0), (r1, c1, g1) in zip(out, out[1:]):
        assert r0 < r1 and c0 >= c1 and g0 >= g1
    # the one-band-of-everything end never exceeds probability mass
    for _, c, g in out:
        assert 0.0 <= g <= 1.0


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "x", len(t)) for i, t in enumerate(texts)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )


def test_kcore_peels_chain_keeps_clique(spark):
    # planted graph: a 4-clique (3-core) plus a pendant chain — peeling
    # must drop the chain entirely and keep the clique intact
    from inde1_spark.operators.dedup import kcore_dup_graph, release_persisted

    # docs 0-3: identical text (4-clique of near-dups at any threshold);
    # docs 4-5: a near-dup pair of each other only (degree-1 after dedup
    # against the clique text) -> peels at k=2
    clique = "alpha beta gamma delta epsilon zeta eta theta"
    pair = "iota kappa lambda mu nu xi omicron pi"
    docs = _docs(spark, [clique] * 4 + [pair] * 2)
    out = {r.k: (r.n_nodes, r.n_edges) for r in kcore_dup_graph(docs).collect()}
    release_persisted()
    # 2-core: the 4-clique survives (deg 3 each); the pair (deg 1) peels
    assert out[2] == (4, 6)
    # 3-core: still the clique
    assert out[3] == (4, 6)


def test_kcore_reports_every_k_with_an_empty_core(spark):
    # every k in the k list gets a row, (k, 0, 0) when its core is empty:
    # the k-tagged chain has no rows left for such a k, so the counts are
    # left-joined from the k list
    from inde1_spark.operators.dedup import kcore_dup_graph, release_persisted

    tri = "alpha beta gamma delta epsilon zeta eta theta"
    pair = "iota kappa lambda mu nu xi omicron pi"
    out = {
        r.k: (r.n_nodes, r.n_edges)
        for r in kcore_dup_graph(_docs(spark, [tri] * 3 + [pair] * 2)).collect()
    }
    release_persisted()
    # 2-core: the triangle (deg 2 each); the pair peels. 3-core: empty
    assert out == {2: (3, 3), 3: (0, 0)}

    # no two documents share a word: no near-duplicate edge at all
    distinct = [tri, pair, "rho sigma tau upsilon phi chi psi omega"]
    out = {
        r.k: (r.n_nodes, r.n_edges)
        for r in kcore_dup_graph(_docs(spark, distinct)).collect()
    }
    release_persisted()
    assert out == {2: (0, 0), 3: (0, 0)}


def test_kcore_peels_every_k_in_one_chain(spark):
    # the edge table is persisted once and every k shares one chain of
    # KCORE_ROUNDS checkpointed peels: 1 + rounds handles, not
    # 1 + len(ks) * rounds
    from inde1_spark.operators.dedup import (
        KCORE_ROUNDS,
        kcore_dup_graph,
        release_persisted,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    release_persisted()  # clean slate
    kcore_dup_graph(_docs(spark, [text] * 4)).collect()
    assert release_persisted() == 1 + KCORE_ROUNDS == 5


def _build_jobs(spark, group, build) -> int:
    """Spark jobs fired while ``build()`` builds a plan (no action)."""
    from inde1_spark.operators.dedup import release_persisted

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        release_persisted()


def test_graph_rounds_fire_no_stage_jobs_while_built(spark):
    # the k-core peels and LPA rounds convert without adaptive execution,
    # so a round does not run its query stages as jobs while the plan is
    # built: k-core fires only the jobs that materialize its edge table,
    # and LPA at most one job per round beyond its first
    from inde1_spark.operators.dedup import (
        LPA_ROUNDS,
        dedup_ngram_jaccard,
        kcore_dup_graph,
        label_propagation_communities,
    )

    clique = "alpha beta gamma delta epsilon zeta eta theta"
    pair = "iota kappa lambda mu nu xi omicron pi"
    docs = _docs(spark, [clique] * 4 + [pair] * 2)
    edge_jobs = _build_jobs(
        spark,
        "kcore-edges",
        lambda: dedup_ngram_jaccard(docs).select("doc_a", "doc_b").collect(),
    )
    assert _build_jobs(spark, "kcore", lambda: kcore_dup_graph(docs)) <= edge_jobs
    first = _build_jobs(
        spark, "lpa-1", lambda: label_propagation_communities(docs, rounds=1)
    )
    every = _build_jobs(
        spark, "lpa", lambda: label_propagation_communities(docs)
    )
    assert every - first <= LPA_ROUNDS - 1


def test_lpa_ties_go_to_the_smallest_label(spark):
    # path 1-2-3-4 and star 10-{11,12,13}: every vote in the first round
    # is a tie, so "ties to the smallest label" pulls both components to
    # their smallest node (ties to the largest gives other labels)
    from inde1_spark.operators.dedup import lpa_labels, release_persisted

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13)],
        "doc_a long, doc_b long",
    )
    labels = {r.u: r.label for r in lpa_labels(edges, 4).collect()}
    release_persisted()
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 13: 10}


def test_threshold_sweep_monotone_and_consistent(spark):
    # retained-pair counts are non-increasing in the threshold; the
    # agreement count never exceeds either side; ratios stay in-range
    from pyspark.sql import functions as F

    from inde1_spark.operators.dedup import dedup_threshold_sweep, release_persisted

    # planted partial-overlap docs so the sweep actually has structure:
    # base pair is identical (j=1.0); the 'near' doc shares a prefix
    # with base (0 < j < 1), candidacy depending on its bands
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    near = "w1 w2 w3 w4 w5 w6 w7 w8 zz yy"
    rows = [
        (0, base, "en", "x", len(base)),
        (1, base, "en", "x", len(base)),
        (2, near, "en", "x", len(near)),
        (3, "qq rr ss tt uu vv ww xx", "en", "x", 24),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = sorted(
        (
            (r.threshold_pct, r.n_exact, r.n_est, r.n_both,
             r.precision_micro, r.recall_micro)
            for r in dedup_threshold_sweep(docs).collect()
        )
    )
    release_persisted()
    assert [t for t, *_ in out] == [50, 60, 70, 80, 90]
    for (t0, e0, s0, b0, *_), (t1, e1, s1, b1, *_) in zip(out, out[1:]):
        assert e0 >= e1 and s0 >= s1 and b0 >= b1
    for _, e, s, b, p, r in out:
        assert b <= min(e, s)
        assert 0 <= p <= 1_000_000 and 0 <= r <= 1_000_000
    # the identical pair survives every threshold
    assert all(e >= 1 for _, e, *_ in out)


def test_bbit_estimator_corrects_collision_floor(spark):
    # identical docs: all 32 low bits match -> corrected estimate exactly
    # 1.0, same as the full estimate; unrelated docs: the 1-bit matches
    # hover near the 50% collision floor and the corrected estimate must
    # come out FAR below the raw match fraction (the whole point of the
    # correction)
    from inde1_spark.operators.dedup import bbit_minhash_est, release_persisted

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, a, "en", "x", len(a)),
        (2, a, "en", "x", len(a)),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = bbit_minhash_est(docs).collect()
    release_persisted()
    assert len(out) == 1
    r = out[0]
    assert r.n_full == 32 and r.n_bbit == 32
    assert r.est_full == 1.0 and r.est_bbit == 1.0
    # the corrected estimator maps the floor itself to exactly 0
    from inde1_spark.operators.dedup import BBIT_B

    pow_b = 1 << BBIT_B
    floor_matches = 32 // pow_b
    assert max(floor_matches * pow_b - 32, 0) == 0


# ---------------------------------------------------------------------------
# dup_link_prediction: the production corpus has a pairs-only dup graph (zero
# open wedges at every threshold), so its gate row proves only the empty
# case. This planted path graph A~B~C (A !~ C) proves the operator actually
# predicts the missing transitive edge — and with the right score.
# ---------------------------------------------------------------------------


def test_dup_link_prediction_predicts_missing_edge(spark):
    """Three docs where A and C each near-duplicate B but differ from each
    other below the threshold: the edge set is exactly {A-B, B-C}, the only
    open wedge is (A, C), and its neighborhood Jaccard is 1.0
    (N(A) = N(C) = {B}: 1 common / (1 + 1 - 1) union)."""
    from inde1_spark.operators.dedup import dup_link_prediction

    base = " ".join(f"w{j}" for j in range(40))
    rows = [
        (1, base + " " + " ".join(f"alpha{j}" for j in range(8))),
        (2, base),
        (3, base + " " + " ".join(f"omega{j}" for j in range(8))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dup_link_prediction(docs).collect()
    assert [(r["doc_a"], r["doc_b"], r["n_common"]) for r in out] == [(1, 3, 1)]
    assert out[0]["jaccard_nbrs"] == 1.0
