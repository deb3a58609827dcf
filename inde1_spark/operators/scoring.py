"""Relevance / language-model scoring over the documents corpus.

The scoring passes a training-data pipeline runs after filtering and before
mixing: TF-IDF term weighting (keyword extraction, topic balance), BM25
retrieval scoring against a probe query (decontamination-by-retrieval,
eval-set mining), and unigram log-probability (the CCNet-style "perplexity"
quality signal, here with the corpus itself as the LM).

Scale shape: one corpus-volume shuffle each (the (doc, term) frequency
groupBy — map-side partials absorb the zipfian term skew before the
exchange), then vocabulary-volume joins on the term key. BM25 prefilters to
the query's terms BEFORE the shuffle, so its frequency table is |matching
docs| x |query terms|, not corpus-sized.

Determinism (DESIGN.md §3): the only transcendental is ln(), snapped to a
fixed-point long immediately (`_log_scaled`) so every downstream product,
sum, and comparison is exact integer math; per-doc accumulation sums longs
(order-independent), and the final score is one integer/integer double
division (IEEE-exact, engine-identical). DuckDB twins mirror this digit for
digit — see oracles.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from inde1_spark.functions.exprs import tokens
from inde1_spark.plans.lifecycle import persist

LOG_SCALE = 1_000_000_000  # ln() snapped to nano precision
TFIDF_TOP_K = 5
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("query", "join", "stream")  # probe terms for the gate query
BM25_TOP_K = 20
SCORE_SCALE = 1_000_000  # per-term contributions snapped to micro precision


def _log_scaled(x: Column) -> Column:
    """ln(x) as a fixed-point long (nano precision).

    ln() itself is libm-identical across engines for the same double input;
    snapping to a long right away means no later float op can compound a
    sub-ulp divergence into a rank flip or hash mismatch.
    """
    return F.round(F.log(x) * F.lit(float(LOG_SCALE)), 0).cast("long")


def _term_freq(documents: DataFrame, only_terms: tuple[str, ...] | None = None) -> DataFrame:
    """(doc_id, term, tf, dl): the corpus frequency pass.

    Document length is computed row-locally BEFORE the explode and carried
    through the groupBy key, so no doc_id self-join is ever needed. With
    ``only_terms`` the filter runs inside the array (row-local) so the
    exchange only carries matching tokens.
    """
    toks = tokens("text")
    if only_terms is not None:
        kept = F.filter(toks, lambda t: t.isin(*only_terms))
    else:
        kept = toks
    return (
        documents.select(
            "doc_id",
            F.size(toks).cast("long").alias("dl"),
            F.explode(kept).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def shared_term_freq(documents: DataFrame) -> DataFrame:
    """Persisted (doc_id, term, tf, dl) table for MULTI-op scoring sessions.

    Build once, pass as ``tf_table`` to ``tfidf_top_terms`` and
    ``unigram_logprob`` so the tokenize/explode/groupBy pass runs once for
    the whole pipeline (2.6s -> 1.1s warm at sf0.1). Deliberately NOT the
    default inside the operators: a single-query plan pays the cache
    build/serialization and never reuses it (unigram_logprob regressed 16%
    the round an unconditional persist landed — r03 verdict). Release via
    lifecycle.release_persisted().
    """
    return persist(_term_freq(documents))


def tfidf_top_terms(
    documents: DataFrame,
    k: int = TFIDF_TOP_K,
    tf_table: DataFrame | None = None,
) -> DataFrame:
    """Top-k TF-IDF terms per document.

    tf from the corpus frequency pass; df = rows per term of that same
    table (a document contributes 1 per distinct term by construction);
    idf = ln(N/df) snapped to a long, so the ranking key tf*idf_scaled is
    exact integer math — ties (equal tf and df) break on term asc. The
    tf<->df join shuffles on the term key; at corpus scale the vocabulary
    is zipfian, and AQE's skew-join split handles the head terms (the df
    side is 1 row per term, never hot).

    tf feeds the df aggregate AND the scoring join; within one plan
    Spark's ReuseExchange dedupes the repeated subtree, so the single-query
    path stays persist-free. Pass ``tf_table=shared_term_freq(docs)`` when
    several scoring ops run in one session.
    """
    tf = tf_table if tf_table is not None else _term_freq(documents)
    df_tbl = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n_docs = documents.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(df_tbl, "term")
        .join(F.broadcast(n_docs))
        .withColumn("idf_scaled", _log_scaled(F.col("n_docs") / F.col("df")))
        .withColumn("score_key", F.col("tf") * F.col("idf_scaled"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_key").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "rank",
            "term",
            "tf",
            F.col("df").alias("doc_freq"),
            (F.col("score_key").cast("double") / F.lit(float(LOG_SCALE))).alias(
                "tfidf"
            ),
        )
    )


def bm25_score(
    documents: DataFrame,
    query: tuple[str, ...] = BM25_QUERY,
    k: int = BM25_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k documents by BM25 score against a fixed term query.

    Okapi BM25: score(d) = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
    with idf(t) = ln((N - df + 0.5)/(df + 0.5)). The token stream is
    prefiltered to the query terms row-locally, so the only corpus-volume
    work is the scan; the frequency table is tiny and every subsequent join
    broadcasts. avgdl is an exact decimal ratio; per-term contributions are
    snapped to fixed-point longs and summed exactly, so the top-k order is
    engine-stable (ties break on doc_id asc).
    """
    tf = _term_freq(documents, only_terms=query)
    stats = documents.agg(
        F.count("*").cast("double").alias("n_docs"),
        (
            F.sum(F.size(tokens("text")).cast("long")).cast("double")
            / F.count("*")
        ).alias("avgdl"),
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = _log_scaled(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    ).alias("idf_scaled")
    scored = (
        tf.join(F.broadcast(df_tbl), "term")
        .join(F.broadcast(stats))
        .withColumn("idf_scaled", idf)
        .withColumn(
            "denom",
            F.col("tf").cast("double")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
            ),
        )
        .withColumn(
            "contrib",
            F.round(
                (F.col("idf_scaled").cast("double") / F.lit(float(LOG_SCALE)))
                * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
                / F.col("denom")
                * F.lit(float(SCORE_SCALE)),
                0,
            ).cast("long"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        (F.sum("contrib").cast("double") / F.lit(float(SCORE_SCALE))).alias(
            "bm25"
        ),
        F.count("*").cast("long").alias("n_terms_matched"),
    )
    return per_doc.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(k)


def unigram_logprob(
    documents: DataFrame, tf_table: DataFrame | None = None
) -> DataFrame:
    """Per-document average unigram log-probability (quality signal).

    The corpus is its own language model: P(t) = count(t)/total_tokens.
    avg_logprob(d) = sum_i ln P(t_i) / dl, tokens counted with
    multiplicity. The (doc, term) frequency table joins the vocabulary on
    the term key — joining tf (distinct terms per doc) instead of the raw
    token stream cuts the join input by the average within-doc repetition
    factor; the per-doc sum weights each ln P by tf. All accumulation is
    long-exact; the final divide is one integer-derived double op.

    Low (very negative) scores = rare-token soup; near-zero = stopword
    soup — the standard CCNet band-filter signal.

    Single-query plans stay persist-free (ReuseExchange covers the tf
    double-consumption); pass ``tf_table=shared_term_freq(docs)`` to share
    the frequency pass across several scoring ops in one session.

    No dl > 0 filter: every tf row has dl >= 1 by construction (a doc
    with zero tokens produces no exploded rows), so the guard was a no-op
    on rows — but Catalyst pushed it below the scoring branch's tf
    aggregate only, de-canonicalizing the two tf subtrees so AQE's
    exchange reuse never fired and the corpus was tokenized TWICE per
    query (r11 verdict item 1). Without it the vocab branch is a
    ReusedExchange of the scoring branch's tf exchange: one tokenize.

    The lp_sum <= 0 guard is provably always TRUE (n_occ <= total_toks
    so every lp_scaled = round(ln(p <= 1)*1e9) <= 0, and tf >= 1 — a sum
    of nonpositive longs is nonpositive): it removes no row. It exists so
    a downstream consumer that doesn't read the score (bench.py's
    count()) cannot prune lp_sum — pruning it collapses the scoring
    branch's tf aggregate to a distinct and breaks the canonical
    equality, putting the extra corpus scans back (measured: 3 scans
    under count() without the guard, 1 with).
    """
    tf = tf_table if tf_table is not None else _term_freq(documents)
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("n_occ"))
    total = vocab.agg(F.sum("n_occ").cast("double").alias("total_toks"))
    lp = (
        tf.join(vocab, "term")
        .join(F.broadcast(total))
        .withColumn(
            "lp_scaled",
            _log_scaled(F.col("n_occ").cast("double") / F.col("total_toks")),
        )
    )
    return (
        lp.groupBy("doc_id", "dl")
        .agg(F.sum(F.col("tf") * F.col("lp_scaled")).alias("lp_sum"))
        .filter(F.col("lp_sum") <= 0)
        .select(
            "doc_id",
            F.col("dl").alias("n_tokens"),
            (
                F.col("lp_sum").cast("double")
                / F.lit(float(LOG_SCALE))
                / F.col("dl").cast("double")
            ).alias("avg_logprob"),
        )
    )


COOC_MIN_LEN = 4     # content-word heuristic: skip short function words
COOC_MIN_DF_PCT = 1  # term must appear in >= 1% of docs to pair (noise floor)
COOC_MAX_DF_PCT = 90 # ... and <= 90% (universal boilerplate carries no PMI)
COOC_DOC_CAP = 64    # distinct kept terms per doc entering the pair join
COOC_TOP_K = 30


def term_cooccurrence(documents: DataFrame, k: int = COOC_TOP_K) -> DataFrame:
    """Top-k co-occurring term pairs with PMI — the collocation /
    topic-signal pass (which terms travel together across documents).

    Pair generation is a self-join on doc_id over the DISTINCT-term table,
    which is quadratic in kept-terms-per-doc — so three guards bound it
    before the join, all deterministic: a length floor (function words
    out), a document-frequency band expressed as PERCENT of corpus size
    (below 1% carries noise, above 90% is universal boilerplate with no
    PMI and df^2 pair blowup — percentages, not absolute counts, so the
    band means the same thing at sf0.01 and at 100 TB), and a per-doc cap
    of ``COOC_DOC_CAP`` terms chosen by md5 order (unbiased,
    engine-portable — an alphabetical cap would skew the vocabulary).
    After the guards the join is Sum(m^2) with m <= 64 — linear in corpus
    size. PMI = ln(N * c_ab / (df_a * df_b)), snapped to nano-longs
    (_log_scaled) so no float compounds; top-k is (count desc, pair asc)
    + limit, which Spark executes as TakeOrdered — no global sort.
    """
    toks = tokens("text")
    terms = documents.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.filter(toks, lambda t: F.length(t) >= COOC_MIN_LEN))
        ).alias("term"),
    )
    total = documents.agg(F.count("*").cast("long").alias("n_docs_l"))
    dfc = (
        terms.groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
        .join(F.broadcast(total))
        .filter(
            (F.col("df") * 100 >= F.col("n_docs_l") * COOC_MIN_DF_PCT)
            & (F.col("df") * 100 <= F.col("n_docs_l") * COOC_MAX_DF_PCT)
        )
        .select("term", "df")
    )
    kept = terms.join(dfc, "term")
    w = Window.partitionBy("doc_id").orderBy(
        F.md5(F.col("term")).asc(), F.col("term").asc()
    )
    # persisted: kept feeds BOTH sides of the pair self-join below — without
    # it the tokenize/df/cap pipeline runs twice
    kept = persist(
        kept.withColumn("r", F.row_number().over(w)).filter(
            F.col("r") <= COOC_DOC_CAP
        )
    )
    a = kept.select("doc_id", F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    b = kept.select("doc_id", F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "df_a", "term_b", "df_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    return (
        pairs.join(F.broadcast(total))
        .select(
            "term_a",
            "term_b",
            "n_both",
            "df_a",
            "df_b",
            _log_scaled(
                F.col("n_both").cast("double")
                * F.col("n_docs_l").cast("double")
                / (F.col("df_a").cast("double") * F.col("df_b").cast("double"))
            ).alias("pmi_nano"),
        )
        .orderBy(
            F.col("n_both").desc(), F.col("term_a").asc(), F.col("term_b").asc()
        )
        .limit(k)
    )


VOCAB_TOP_K = 20


def vocab_coverage(documents: DataFrame, k: int = VOCAB_TOP_K) -> DataFrame:
    """Token coverage of the top-k vocabulary: what fraction of all token
    occurrences a k-entry vocab explains (the tokenizer-budget question).

    One corpus-volume term shuffle builds the count table; it feeds both
    the top-k (TakeOrdered — per-partition partial top-k, no global sort)
    and the corpus total, so it is persisted (registry pattern). Output is
    one audit row; coverage is an exact integer ratio.
    """
    from inde1_spark.functions.exprs import ratio_round

    counts = persist(
        documents.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n_occ"))
    )
    top = (
        counts.orderBy(F.col("n_occ").desc(), F.col("term").asc())
        .limit(k)
        .agg(F.sum("n_occ").cast("long").alias("covered_tokens"))
    )
    total = counts.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("n_occ").cast("long").alias("total_tokens"),
    )
    return (
        top.join(F.broadcast(total))
        .select(
            F.lit(k).cast("long").alias("vocab_k"),
            "n_terms",
            "covered_tokens",
            "total_tokens",
            ratio_round(F.col("covered_tokens"), F.col("total_tokens"), 6).alias(
                "coverage"
            ),
        )
    )


def token_entropy(documents: DataFrame) -> DataFrame:
    """Shannon entropy of the corpus unigram distribution (vocab-diversity
    signal; near-zero = one token dominates, ln|V| = uniform).

    entropy = ln N - (1/N) * sum_t c_t ln c_t — the second form needs one
    pass over the VOCABULARY (1 row per term), not the token stream. Each
    term's c*ln(c) is snapped to a nano-long (the _log_scaled convention)
    and summed exactly, so the corpus-wide sum is order-independent; the
    final expression does the same long->double conversions in any engine.
    """
    counts = (
        documents.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n_occ"))
    )
    per_term = counts.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("n_occ").cast("long").alias("total_tokens"),
        F.sum(F.col("n_occ") * _log_scaled(F.col("n_occ").cast("double")))
        .cast("long")
        .alias("sum_clnc_nano"),
    )
    return per_term.select(
        "n_terms",
        "total_tokens",
        (
            (
                _log_scaled(F.col("total_tokens").cast("double")).cast("double")
                - F.col("sum_clnc_nano").cast("double")
                / F.col("total_tokens").cast("double")
            )
            / F.lit(float(LOG_SCALE))
        ).alias("entropy"),
    )


def bigram_logprob(documents: DataFrame) -> DataFrame:
    """Per-document average bigram conditional log-probability — the
    first-order Markov upgrade of ``unigram_logprob``: ln P(w2 | w1) with
    P = c(w1 w2) / c(w1 ·), both counts from the corpus itself. Documents
    whose transitions are corpus-typical score near zero; rare-transition
    soup (shuffled text, boilerplate stitched mid-sentence, OCR breaks)
    scores very negative even when every individual WORD is common — the
    failure mode the unigram score is blind to.

    MLE needs no smoothing here by construction: every scored bigram came
    from the corpus, so its count is >= 1 and the probability is never
    zero. The per-(doc, bigram) table reduces once (dl carried through
    the key — no doc self-join), the corpus bigram vocabulary and the
    left-word totals are two more map-side-combined reductions over
    bigram keys, and everything joins back on equi-keys. ln snaps to
    nano-longs immediately (`_log_scaled`), the per-doc accumulation is
    long-exact, and one integer-derived double division ends the plan.

    Scale: three shuffles on (bigram / w1 / doc) keys, all AQE-splittable;
    hot bigrams ("of the") are just big counters, never join blowups.
    """
    from inde1_spark.functions.exprs import word_ngrams

    toks = tokens("text")
    bf = (
        documents.select(
            "doc_id",
            F.size(toks).cast("long").alias("dl"),
            F.explode(word_ngrams(tokens("text"), 2)).alias("bigram"),
        )
        .groupBy("doc_id", "dl", "bigram")
        .agg(F.count("*").cast("long").alias("bf"))
    )
    vocab = bf.groupBy("bigram").agg(F.sum("bf").cast("long").alias("c_ab"))
    lefts = vocab.select(
        F.substring_index("bigram", " ", 1).alias("w1"), "c_ab"
    ).groupBy("w1").agg(F.sum("c_ab").cast("long").alias("c_a"))
    scored_vocab = vocab.withColumn(
        "w1", F.substring_index("bigram", " ", 1)
    ).join(lefts, "w1").withColumn(
        "lp_scaled",
        _log_scaled(F.col("c_ab").cast("double") / F.col("c_a").cast("double")),
    )
    return (
        bf.join(scored_vocab.select("bigram", "lp_scaled"), "bigram")
        .groupBy("doc_id", "dl")
        .agg(F.sum(F.col("bf") * F.col("lp_scaled")).alias("lp_sum"))
        .filter(F.col("dl") >= 2)
        .select(
            "doc_id",
            (F.col("dl") - 1).alias("n_bigrams"),
            (
                F.col("lp_sum").cast("double")
                / F.lit(float(LOG_SCALE))
                / (F.col("dl") - 1).cast("double")
            ).alias("avg_logprob"),
        )
    )


ZIPF_TOP_N = 1000


def zipf_fit(documents: DataFrame, top_n: int = ZIPF_TOP_N) -> DataFrame:
    """Zipf-law fit over the corpus unigram distribution: least-squares
    slope/intercept of ln(freq) vs ln(rank) for the top ``top_n`` terms —
    the one-row corpus-health fingerprint (natural language sits near
    slope -1; template/synthetic text flattens the head, boilerplate
    floods steepen it; a drifting slope between crawls is an early
    ingestion alarm).

    The vocabulary reduces once (map-side combined), the top-n selection
    is TakeOrdered (deterministic tie-break on the term), and ranking
    the n surviving rows is a bounded single-partition window. Both
    regression coordinates snap to nano-longs (`_log_scaled`), moments
    accumulate as exact decimal(38,0) (nano-long products pass 2^63
    immediately), and the closed form runs in engine-identical doubles
    after digit-split conversion (the daily_trend_regression spelling).
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    vocab = (
        documents.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n_occ"))
        .orderBy(F.col("n_occ").desc(), F.col("term").asc())
        .limit(top_n)
    )
    ranked = vocab.select(
        _log_scaled(
            F.row_number()
            .over(Window.orderBy(F.col("n_occ").desc(), F.col("term").asc()))
            .cast("double")
        ).alias("x"),
        _log_scaled(F.col("n_occ").cast("double")).alias("y"),
    )
    stats = ranked.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    ).filter(F.col("n_terms") >= 2)
    n = F.col("n_terms").cast("double")
    sx = dec_to_double_exact(F.col("sx"))
    sy = dec_to_double_exact(F.col("sy"))
    sxy = dec_to_double_exact(F.col("sxy"))
    sxx = dec_to_double_exact(F.col("sxx"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return stats.select(
        "n_terms",
        slope.alias("zipf_slope"),
        (intercept / F.lit(float(LOG_SCALE))).alias("ln_c"),
    )


# rank cutoffs sized to the synthetic corpus' 31-term vocabulary (a real
# corpus would run (1e3, 1e4, 1e5)); cutoffs beyond the vocab emit no row
COVERAGE_CUTOFFS = (5, 10, 25)


def vocab_coverage_curve(
    documents: DataFrame, cutoffs: tuple[int, ...] = COVERAGE_CUTOFFS
) -> DataFrame:
    """Token-mass coverage of the top-k vocabulary — the curve behind
    "how big a tokenizer vocab do we need": at each rank cutoff, what
    share of ALL corpus tokens the k most frequent terms cover. A corpus
    whose top-1000 covers 95% is headline-compressible (and vulnerable
    to boilerplate skew); one where coverage grows slowly needs the
    long-tail vocab a byte-level tokenizer provides. Companion to
    ``zipf_fit`` (which fits the same ranked curve's slope).

    Plan: term frequencies (one map-side-combined shuffle), then ONLY
    the top-``max(cutoffs)`` rows via TakeOrdered — the single-partition
    cumulative window runs over a bounded table (1000 rows at any corpus
    size), never the vocabulary. Coverage is an exact integer ratio of
    long token counts; ties at a cutoff boundary break (freq desc, term
    asc), both engines identically. Cutoffs beyond the vocabulary size
    emit no row (mirrored in the oracle).
    """
    from inde1_spark.functions.exprs import ratio_round, tokens

    vocab = (
        documents.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n_occ"))
    )
    total = vocab.agg(F.sum("n_occ").cast("long").alias("total_toks"))
    top = vocab.orderBy(F.col("n_occ").desc(), F.col("term").asc()).limit(
        max(cutoffs)
    )
    w = Window.orderBy(F.col("n_occ").desc(), F.col("term").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = top.select(
        F.row_number()
        .over(
            Window.orderBy(F.col("n_occ").desc(), F.col("term").asc())
        )
        .cast("long")
        .alias("rank_cutoff"),
        F.sum("n_occ").over(w).cast("long").alias("covered_toks"),
    )
    return (
        ranked.filter(F.col("rank_cutoff").isin(*[int(c) for c in cutoffs]))
        .join(F.broadcast(total))
        .select(
            "rank_cutoff",
            "covered_toks",
            "total_toks",
            ratio_round(F.col("covered_toks"), F.col("total_toks"), 6).alias(
                "coverage"
            ),
        )
    )


# ---------------------------------------------------------------------------
# heaps_fit: vocabulary-growth (Heaps' law) exponent
# ---------------------------------------------------------------------------

HEAPS_BUCKETS = 64


def heaps_fit(documents: DataFrame, buckets: int = HEAPS_BUCKETS) -> DataFrame:
    """Heaps'-law fit V(n) ~ K * n^beta of vocabulary size against corpus
    token count — ``zipf_fit``'s growth-side companion (the two exponents
    are theoretically linked): natural text sits near beta ~ 0.4-0.6,
    template/synthetic corpora saturate early (low beta), OCR noise or
    id-like junk inflates it toward 1. Between crawls, a moving beta is
    the "the tail changed" alarm, and the fit is what sizes open-vocab
    budgets before a tokenizer is trained.

    The growth curve needs V at many prefix sizes WITHOUT re-scanning
    per prefix: docs land in ``buckets`` md5 buckets (avalanche-mixed,
    order-free), each term keeps the MIN bucket it appears in (one
    map-side-combined reduce — a term is "new" exactly at its min
    bucket), and both cumulative curves (tokens per bucket, new terms
    per bucket) ride a window over the <=``buckets``-row table. The
    log-log least squares reuses the zipf spelling: nano-long
    coordinates, decimal(38,0) moments, digit-split doubles.
    """
    from inde1_spark.functions.exprs import dec_to_double_exact
    from inde1_spark.operators.text import hash_bucket

    ex = documents.select(
        hash_bucket(F.col("doc_id"), buckets).alias("b"),
        F.explode(tokens("text")).alias("term"),
    )
    new_terms = (
        ex.groupBy("term")
        .agg(F.min("b").cast("long").alias("mb"))
        .groupBy("mb")
        .agg(F.count("*").cast("long").alias("n_new"))
    )
    tok = ex.groupBy("b").agg(F.count("*").cast("long").alias("n_tok"))
    # LEFT join, not FULL: a term's min bucket holds >= 1 token by
    # construction, so new_terms' buckets are a subset of tok's — and a
    # left join keeps the bounded build side broadcastable (a full outer
    # would force a sort-merge)
    grid = (
        tok.join(F.broadcast(new_terms), tok["b"] == new_terms["mb"], "left")
        .select(
            tok["b"].alias("b"),
            F.col("n_tok"),
            F.coalesce("n_new", F.lit(0).cast("long")).alias("n_new"),
        )
    )
    wc = Window.orderBy("b")
    pts = (
        grid.select(
            F.sum("n_tok").over(wc).cast("long").alias("cum_tok"),
            F.sum("n_new").over(wc).cast("long").alias("cum_v"),
        )
        .filter((F.col("cum_tok") > 0) & (F.col("cum_v") > 0))
        .select(
            _log_scaled(F.col("cum_tok").cast("double")).alias("x"),
            _log_scaled(F.col("cum_v").cast("double")).alias("y"),
        )
    )
    stats = pts.agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    ).filter(F.col("n_points") >= 2)
    n = F.col("n_points").cast("double")
    sx = dec_to_double_exact(F.col("sx"))
    sy = dec_to_double_exact(F.col("sy"))
    sxy = dec_to_double_exact(F.col("sxy"))
    sxx = dec_to_double_exact(F.col("sxx"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return stats.select(
        "n_points",
        slope.alias("heaps_beta"),
        (intercept / F.lit(float(LOG_SCALE))).alias("ln_k"),
    )


# ---------------------------------------------------------------------------
# log_odds_distinctive_terms: what vocabulary makes each source ITSELF
# ---------------------------------------------------------------------------

FW_VOCAB = 500
FW_TOP_K = 3


def log_odds_distinctive_terms(
    documents: DataFrame,
    vocab_cap: int = FW_VOCAB,
    k: int = FW_TOP_K,
) -> DataFrame:
    """Per-source distinctive terms via z-scored log-odds with a Dirichlet
    prior (Monroe, Colaresi & Quinn 2008, "Fightin' Words") — the
    principled answer to "what vocabulary distinguishes source X":
    raw-frequency contrast over-weights common words and TF-IDF
    over-weights rarities; the informative-prior log-odds z-score
    handles both tails, which is why it's the standard for corpus
    comparison. Per source, the top-``k`` terms by z against the REST
    of the corpus.

    delta_t = ln((y_st + a)/(n_s + A - y_st - a))
            - ln((y_rt + a)/(n_r + A - y_rt - a)), a = 1, A = |vocab|;
    var ~ 1/(y_st + a) + 1/(y_rt + a); z = delta/sqrt(var).

    Determinism: every count is an exact long; each log's ARGUMENT is a
    division of exact-int doubles (engine-identical), each ln snaps to
    a nano-long immediately (`_log_scaled` — the zipf/PSI precedent),
    delta is a difference of nano-longs, and z divides two
    engine-identical doubles once. Ranking ties break (z desc via the
    nano-exact delta/var ordering, term asc).

    Plan: vocabulary capped to the top-``vocab_cap`` corpus terms
    (TakeOrdered + broadcast semi-join); per-(source, term) counts are
    one map-side-combined shuffle; corpus term totals ride a window
    over the capped vocab; top-k per source is one bounded window.
    """
    ex = documents.select("source", F.explode(tokens("text")).alias("term"))
    vocab = (
        ex.groupBy("term")
        .agg(F.count("*").cast("long").alias("n_occ"))
        .orderBy(F.desc("n_occ"), F.asc("term"))
        .limit(vocab_cap)
        .select("term")
    )
    st = (
        ex.join(F.broadcast(vocab), "term", "semi")
        .groupBy("source", "term")
        .agg(F.count("*").cast("long").alias("y_st"))
    )
    wt = Window.partitionBy("term")
    wsrc = Window.partitionBy("source")
    wg = Window.partitionBy()
    cts = st.select(
        "source",
        "term",
        "y_st",
        F.sum("y_st").over(wt).cast("long").alias("y_t"),
        F.sum("y_st").over(wsrc).cast("long").alias("n_s"),
        F.sum("y_st").over(wg).cast("long").alias("n_all"),
        F.size(F.collect_set("term").over(wg)).cast("long").alias("v"),
    )

    def _lo(y, n):
        num = (y + 1).cast("double")
        den = (n + F.col("v") - y - 1).cast("double")
        return _log_scaled(num / den)

    y_r = F.col("y_t") - F.col("y_st")
    n_r = F.col("n_all") - F.col("n_s")
    delta_nano = _lo(F.col("y_st"), F.col("n_s")) - _lo(y_r, n_r)
    var = (
        F.lit(1.0) / (F.col("y_st") + 1).cast("double")
        + F.lit(1.0) / (y_r + 1).cast("double")
    )
    scored = cts.select(
        "source",
        "term",
        "y_st",
        (F.col("y_t") - F.col("y_st")).alias("y_rest"),
        delta_nano.alias("delta_nano"),
        var.alias("var_lo"),
    ).withColumn(
        "z",
        (F.col("delta_nano").cast("double") / F.lit(float(LOG_SCALE)))
        / F.sqrt(F.col("var_lo")),
    )
    pick = Window.partitionBy("source").orderBy(
        F.col("delta_nano").desc(), F.col("var_lo").asc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") <= k)
        .select(
            "source",
            F.col("rn").cast("long").alias("rank"),
            "term",
            "y_st",
            "y_rest",
            (F.col("delta_nano").cast("double") / F.lit(float(LOG_SCALE))).alias(
                "log_odds_delta"
            ),
            "z",
        )
    )


def cross_source_perplexity(documents: DataFrame) -> DataFrame:
    """Cross-source LM drift matrix: average cross-entropy (nats/token) of
    each source's text under every other source's add-1 unigram LM — the
    language-model-level view of corpus heterogeneity that quality_emd
    (score drift) and log_odds_distinctive_terms (term drift) don't give:
    H(B|A) >> H(B|B) means source B is linguistically foreign to A's
    model, the signal behind domain-mixture and curriculum decisions.

    Never materializes the sources x vocab probability grid: with add-1
    smoothing, ln p_A(t) = ln(c_A(t)+1) - ln(n_A+V), and absent terms
    contribute ln(1) = 0 — so the per-pair sum needs only the INNER join
    of the two sources' term tables, and the smoothing constant folds
    into one per-source scalar. One corpus term-count pass (persisted,
    three consumers); everything after is bounded by vocab x sources.
    Arithmetic: nano-snapped logs, wide-decimal products and floor-div —
    exact in both engines.
    """
    def d38(c):
        return c.cast("decimal(38,0)")

    st = persist(
        documents.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    ns = st.groupBy("source").agg(F.sum("c").cast("long").alias("n_toks"))
    vocab = st.select("term").distinct().agg(
        F.count("*").cast("long").alias("v")
    )
    lm = st.select(
        F.col("source").alias("train_source"),
        "term",
        _log_scaled(F.col("c").cast("double") + F.lit(1.0)).alias("lsc"),
    )
    tf = st.select(
        F.col("source").alias("eval_source"), "term", F.col("c").alias("tf")
    )
    pair_sums = (
        tf.join(lm, "term")
        .groupBy("train_source", "eval_source")
        .agg(
            F.sum(d38(F.col("tf")) * d38(F.col("lsc"))).alias("s"),
            F.count("*").cast("long").alias("shared_terms"),
        )
    )
    grid = (
        ns.select(F.col("source").alias("train_source"), F.col("n_toks").alias("n_train"))
        .join(F.broadcast(vocab))
        .select(
            "train_source",
            _log_scaled((F.col("n_train") + F.col("v")).cast("double")).alias(
                "lsc_tot"
            ),
        )
        .join(
            F.broadcast(
                ns.select(
                    F.col("source").alias("eval_source"),
                    F.col("n_toks").alias("n_eval_tokens"),
                )
            )
        )
    )
    num = d38(F.col("n_eval_tokens")) * d38(F.col("lsc_tot")) - F.coalesce(
        F.col("s"), F.lit(0).cast("decimal(38,0)")
    )
    den = d38(F.col("n_eval_tokens"))
    return (
        grid.join(pair_sums, ["train_source", "eval_source"], "left")
        .select(
            "train_source",
            "eval_source",
            "n_eval_tokens",
            F.coalesce("shared_terms", F.lit(0).cast("long")).alias(
                "shared_terms"
            ),
            (
                ((num - num % den) / den).cast("long").cast("double")
                / F.lit(1e9)
            ).alias("avg_xent"),
        )
        .orderBy("train_source", "eval_source")
    )


IMPACT_K = 5
IMPACT_SALTS = 8


def impact_postings(
    documents: DataFrame, k: int = IMPACT_K, salts: int = IMPACT_SALTS
) -> DataFrame:
    """Impact-ordered posting heads: for every term, the top-k documents
    by term frequency plus the term's document/collection frequency — the
    index artifact WAND/top-k retrieval reads instead of full posting
    lists.

    The scale problem is grouped TOP-K under Zipf skew: a plain
    row_number window on the term partition funnels a stopword's billion
    postings through one task. This is the two-stage salted spelling
    (the top-k twin of ``salted_group_count``): stage 1 takes a local
    top-k within (term, doc-derived salt) — bounded partitions, k rows
    survive per salt; stage 2 re-ranks the <= k * salts survivors per
    term. Exact by construction: every global top-k row is necessarily
    in its own salt's local top-k, so the oracle is the plain one-window
    SQL. Ties broken by doc_id; one persisted corpus frequency pass
    feeds both the ranking and the df/cf sidecar.
    """
    tf = persist(
        _term_freq(documents).select("term", "doc_id", "tf")
    )
    stats = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    salted = tf.withColumn("salt", F.col("doc_id") % F.lit(salts))
    w1 = Window.partitionBy("term", "salt").orderBy(
        F.col("tf").desc(), F.col("doc_id").asc()
    )
    local = (
        salted.withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") <= k)
        .drop("rk", "salt")
    )
    w2 = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .join(stats, "term")
        .select("term", "rank", "doc_id", "tf", "df", "cf")
        .orderBy("term", "rank")
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between source unigram distributions
# ---------------------------------------------------------------------------

LN2_NANO = 693147181  # round(ln(2) * 1e9) — Python-precomputed, same in oracle


def jsd_sources(documents: DataFrame) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source unigram
    distributions — the SYMMETRIC, bounded-[0, ln 2] member of the
    source-comparison family: ``cross_source_perplexity`` is asymmetric
    cross-entropy and ``source_drift_ks``/``quality_emd`` compare scalar
    quality marginals; JSD compares the full token distributions and is
    the standard mixture-design distance.

    Exact-to-hash decomposition: with integer counts a, b and totals
    N1, N2, each intersection term is
        p ln(2p / (p+q)) = (a/N1) * [ln(2 a N2) - ln(a N2 + b N1)],
    every ln over an INTEGER product (< 2^53 up to ~1e5-doc sources on
    the test corpus; quantize counts past that), nano-snapped and
    accumulated in decimal(38,0). One-sided terms need NO vocabulary
    walk: a term absent from the other source contributes exactly
    p ln 2, and those sum to (N1 - A_int) * ln2 / N1 in closed form —
    so only the INTERSECTION equi-join is ever materialized. Source
    pairs with disjoint vocabularies (JSD identically ln 2) drop out of
    the join by contract.

    Scale: one corpus-volume (source, term) count (map-side combined,
    zipfian skew absorbed by the partial agg), then a vocabulary-volume
    self-equi-join on term; per-term source fan-out is bounded by the
    source count.
    """

    def d38(c):
        return c.cast("decimal(38,0)")

    def lnn(c):
        return F.round(F.log(c.cast("double")) * F.lit(1e9), 0).cast("long")

    from inde1_spark.functions.exprs import dec_to_double_exact

    # persisted: the (source, term) count table feeds the totals agg and
    # BOTH sides of the pair self-join — without it each consumer replays
    # the corpus tokenize+explode
    terms = persist(
        documents.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    totals = terms.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.count("*").cast("long").alias("n_vocab"),
    )
    t = terms.join(F.broadcast(totals), "source")
    t1 = t.select(
        F.col("source").alias("source_a"),
        "term",
        F.col("c").alias("a"),
        F.col("n_tok").alias("n1"),
        F.col("n_vocab").alias("v1"),
    )
    t2 = t.select(
        F.col("source").alias("source_b"),
        "term",
        F.col("c").alias("b"),
        F.col("n_tok").alias("n2"),
        F.col("n_vocab").alias("v2"),
    )
    inter = t1.join(t2, "term").filter(F.col("source_a") < F.col("source_b"))
    mix_ln = lnn(F.col("a") * F.col("n2") + F.col("b") * F.col("n1"))
    g = inter.groupBy("source_a", "source_b", "n1", "n2", "v1", "v2").agg(
        F.count("*").cast("long").alias("n_common"),
        F.sum("a").cast("long").alias("a_int"),
        F.sum("b").cast("long").alias("b_int"),
        F.sum(
            d38(F.col("a"))
            * d38(lnn(F.lit(2) * F.col("a") * F.col("n2")) - mix_ln)
        ).alias("sa"),
        F.sum(
            d38(F.col("b"))
            * d38(lnn(F.lit(2) * F.col("b") * F.col("n1")) - mix_ln)
        ).alias("sb"),
    )
    sa_tot = (
        F.col("sa")
        + d38(F.col("n1") - F.col("a_int")) * d38(F.lit(LN2_NANO))
    ).cast("decimal(38,0)")
    sb_tot = (
        F.col("sb")
        + d38(F.col("n2") - F.col("b_int")) * d38(F.lit(LN2_NANO))
    ).cast("decimal(38,0)")
    return g.select(
        "source_a",
        "source_b",
        (F.col("v1") + F.col("v2") - F.col("n_common")).alias("n_terms_union"),
        (
            (
                dec_to_double_exact(sa_tot) / F.col("n1").cast("double")
                + dec_to_double_exact(sb_tot) / F.col("n2").cast("double")
            )
            / F.lit(1e9)
            / F.lit(2.0)
        ).alias("jsd_nats"),
    ).orderBy("source_a", "source_b")


# ---------------------------------------------------------------------------
# Query-likelihood retrieval with Dirichlet smoothing
# ---------------------------------------------------------------------------

DIRICHLET_MU = 2000  # the standard smoothing mass (Zhai & Lafferty 2001)


def dirichlet_query_likelihood(
    documents: DataFrame,
    query: tuple[str, ...] = BM25_QUERY,
    k: int = BM25_TOP_K,
    mu: int = DIRICHLET_MU,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval — the language-model
    member completing the classic scoring triple (TF-IDF, BM25, QL):
    score(d) = Sum_q ln((c_dq + mu * c_q / N) / (|d| + mu)), the standard
    LM ranking for decontamination-by-retrieval probes.

    Hash-exact form: every ln runs over an INTEGER product —
    ln(c_dq N + mu c_q) - ln(N (|d| + mu)) — nano-snapped. Documents
    missing a query term contribute the closed-form smoothing-only mass,
    so only docs CONTAINING query terms join anything: the base term
    Sum_q ln(mu c_q) - |Q| ln(N(|d|+mu)) is row-local per doc (broadcast
    scalar constants), and the correction joins the prefiltered (doc,
    term) counts only. Query terms absent from the corpus drop in both
    engines (ln 0 guard).

    Scale: the BM25 prefilter shape — the (doc, term) shuffle carries
    only query-term postings; everything else is row-local over one
    corpus pass + a TakeOrdered top-k.
    """
    def lnn(c):
        return F.round(F.log(c.cast("double")) * F.lit(1e9), 0).cast("long")

    qlist = [str(t) for t in query]
    toks = documents.select("doc_id", F.explode(tokens("text")).alias("term"))
    dl = documents.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("dlen")
    )
    ntot = dl.agg(F.sum("dlen").cast("long").alias("n_tok"))
    qtoks = toks.filter(F.col("term").isin(qlist))
    cq = persist(
        qtoks.groupBy("term").agg(F.count("*").cast("long").alias("c_q"))
    )
    const = cq.join(F.broadcast(ntot)).agg(
        F.sum(lnn(F.lit(mu) * F.col("c_q"))).cast("long").alias("base_nano"),
        F.count("*").cast("long").alias("n_q"),
    )
    dq = (
        qtoks.groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("c_dq"))
        .join(F.broadcast(cq), "term")
        .join(F.broadcast(ntot))
    )
    delta = dq.groupBy("doc_id").agg(
        F.sum(
            lnn(F.col("c_dq") * F.col("n_tok") + F.lit(mu) * F.col("c_q"))
            - lnn(F.lit(mu) * F.col("c_q"))
        )
        .cast("long")
        .alias("delta_nano")
    )
    scored = (
        dl.join(F.broadcast(ntot))
        .join(F.broadcast(const))
        # bounded by docs CONTAINING query terms — broadcast, never SMJ
        .join(F.broadcast(delta), "doc_id", "left")
        .select(
            "doc_id",
            "dlen",
            (
                F.col("base_nano")
                + F.coalesce(F.col("delta_nano"), F.lit(0).cast("long"))
                - F.col("n_q")
                * lnn(F.col("n_tok") * (F.col("dlen") + F.lit(mu)))
            ).alias("score_nano"),
        )
    )
    return (
        scored.orderBy(F.desc("score_nano"), F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id",
            "dlen",
            (F.col("score_nano").cast("double") / F.lit(1e9)).alias("ql_score"),
        )
    )


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM (interpolated, absolute discount 3/4)
# ---------------------------------------------------------------------------

KN_DISCOUNT_X4 = 3  # D = 3/4 as an exact quarter-integer


def kneser_ney_logprob(documents: DataFrame) -> DataFrame:
    """Per-document average INTERPOLATED KNESER-NEY bigram log-probability
    — the production LM smoothing (Chen & Goodman 1999) upgrading
    ``bigram_logprob``'s raw MLE: absolute discount D=3/4 reserves mass
    for the continuation distribution P_cont(w2) = N1-(w2)/|bigram
    types|, which scores how PROMISCUOUSLY a word continues contexts
    rather than how often it occurs ("Francisco" is frequent but only
    follows "San"). The score that separates natural text from stitched
    boilerplate better than MLE when transitions are sparse.

    Exact rational form (every scored bigram has c12 >= 1, so the
    max(c12 - D, 0) clamp never binds):
      P = [(4 c12 - 3) B + 3 N1+(w1) N1-(w2)] / (4 c1 B),
    one integer numerator and denominator per bigram type, nano-log
    snapped (products < 2^53 up to ~1e6-type corpora per factor — past
    that, promote through decimal and coarsen; the snap is the
    contract). Per-doc accumulation and the final divide mirror
    bigram_logprob.

    Scale: same three AQE-splittable shuffles as bigram_logprob plus one
    more bounded-key reduce (right continuation counts); the bigram type
    table is NOT persisted (r12): a cached vocab forces the cache-fill
    plan into its own query execution, so the corpus tokenize+ngram pass
    ran TWICE (once for the fill, once for the scoring join — AQE stage
    reuse cannot cross executions). Unpersisted, every consumer's subtree
    is canonically identical and AQE reuses the bf exchange once and the
    vocab exchange three times: ONE corpus pass at any scale. Two guards
    keep the subtrees canonical: the dl >= 2 doc filter is omitted (a doc
    with a bigram has dl >= 2 by construction — the pushed-down filter
    de-canonicalized the scoring branch), and rights/btot count vocab
    rows via count(when(c_ab >= 1, 1)) — exactly count(*) since c_ab is
    a sum of counts >= 1 — so RemoveRedundantAggregates cannot collapse
    their (unused-c_ab) branches into a separate text-only corpus scan.
    """
    from inde1_spark.functions.exprs import word_ngrams

    def lnn(c):
        return F.round(F.log(c.cast("double")) * F.lit(1e9), 0).cast("long")

    toks = tokens("text")
    bf = (
        documents.select(
            "doc_id",
            F.size(toks).cast("long").alias("dl"),
            F.explode(word_ngrams(tokens("text"), 2)).alias("bigram"),
        )
        .groupBy("doc_id", "dl", "bigram")
        .agg(F.count("*").cast("long").alias("bf"))
    )
    vocab = bf.groupBy("bigram").agg(F.sum("bf").cast("long").alias("c_ab"))
    w1w2 = vocab.select(
        "bigram",
        F.substring_index("bigram", " ", 1).alias("w1"),
        F.substring_index("bigram", " ", -1).alias("w2"),
        "c_ab",
    )

    def nz_count():
        return F.count(F.when(F.col("c_ab") >= 1, 1)).cast("long")

    lefts = w1w2.groupBy("w1").agg(
        F.sum("c_ab").cast("long").alias("c_a"),
        nz_count().alias("n1p"),
    )
    rights = w1w2.groupBy("w2").agg(nz_count().alias("n1m"))
    btot = vocab.agg(nz_count().alias("b_types"))
    num = (F.lit(4) * F.col("c_ab") - F.lit(KN_DISCOUNT_X4)) * F.col(
        "b_types"
    ) + F.lit(KN_DISCOUNT_X4) * F.col("n1p") * F.col("n1m")
    den = F.lit(4) * F.col("c_a") * F.col("b_types")
    sv = (
        w1w2.join(lefts, "w1")
        .join(rights, "w2")
        .join(F.broadcast(btot))
        .select("bigram", (lnn(num) - lnn(den)).alias("lp_scaled"))
    )
    return (
        bf.join(sv, "bigram")
        .groupBy("doc_id", "dl")
        .agg(F.sum(F.col("bf") * F.col("lp_scaled")).alias("lp_sum"))
        # always-true count()-pruning guard (see unigram_logprob): each
        # interpolated-KN P(w2|w1) <= 1 (the per-context terms are positive
        # and sum to exactly 1 over w2, with integer num <= den), so every
        # lp_scaled <= 0 and bf >= 1 — lp_sum <= 0 removes no row but keeps
        # the scoring branch's bf aggregate canonical under a bare count()
        .filter(F.col("lp_sum") <= 0)
        .select(
            "doc_id",
            (F.col("dl") - 1).alias("n_bigrams"),
            (
                F.col("lp_sum").cast("double")
                / F.lit(1e9)
                / (F.col("dl") - 1).cast("double")
            ).alias("avg_logprob_kn"),
        )
    )


# ---------------------------------------------------------------------------
# RM3-style pseudo-relevance feedback expansion
# ---------------------------------------------------------------------------

RM3_FB_DOCS = 10      # feedback depth
RM3_TOP_TERMS = 15    # expansion terms emitted
RM3_RANK_SCALE = 2520  # lcm(1..10): 1/rank doc weights as exact integers


def rm3_expansion(
    documents: DataFrame,
    query: tuple[str, ...] = BM25_QUERY,
    fb_docs: int = RM3_FB_DOCS,
    top_terms: int = RM3_TOP_TERMS,
) -> DataFrame:
    """RM3-style pseudo-relevance-feedback query expansion — the missing
    step between the retrieval scorers and a second-pass query: take the
    top feedback documents for the probe query, build a relevance model
    over THEIR vocabulary, and emit the top expansion terms. The
    decontamination-by-retrieval loop runs exactly this to widen a probe
    beyond its literal tokens.

    Deterministic relevance model: document weights are the exact
    rational 1/rank (scaled by lcm(1..10) so they are integers — the
    RBO recipe), term contributions are round-half-up micro quotients
    wgt * tf * 1e6 / |d| (the kruskal contract) summed per term in
    decimal(38,0); original query terms are excluded, ties break on the
    term. Fully hash-exact; no floats until nothing is left to compute.

    Scale: the feedback set is fb_docs rows — every join after the
    (already prefiltered) QL probe broadcasts; the one corpus-volume
    pass is _term_freq restricted to feedback docs by a broadcast join.
    """
    from inde1_spark.functions.exprs import dec_floordiv
    from pyspark.sql import Window

    def d38(c):
        return c.cast("decimal(38,0)")

    fb = dirichlet_query_likelihood(documents, query=query, k=fb_docs)
    fb = fb.select(
        "doc_id",
        F.expr(f"{RM3_RANK_SCALE} div CAST(row_number() OVER "
               f"(ORDER BY ql_score DESC, doc_id ASC) AS BIGINT)")
        .alias("wgt"),
    )
    tf = _term_freq(documents).join(F.broadcast(fb), "doc_id")
    contrib = dec_floordiv(
        (
            d38(F.col("wgt") * F.col("tf")) * F.lit(1_000_000) * F.lit(2)
            + d38(F.col("dl"))
        ).cast("decimal(38,0)"),
        (d38(F.col("dl")) * F.lit(2)).cast("decimal(38,0)"),
    )
    g = (
        tf.filter(~F.col("term").isin(*[str(t) for t in query]))
        .select("term", contrib.cast("decimal(38,0)").alias("c"))
        .groupBy("term")
        .agg(F.sum("c").cast("decimal(38,0)").alias("w"))
    )
    return (
        g.orderBy(F.col("w").desc(), F.col("term").asc())
        .limit(top_terms)
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("w").desc(), F.col("term").asc()))
            .cast("long")
            .alias("rank"),
            "term",
            F.col("w").cast("long").alias("weight_micro"),
        )
    )


# ---------------------------------------------------------------------------
# r09 staged: Jelinek-Mercer query likelihood (implemented + oracle-twinned
# in r08; enters queries() with the r09 window)
# ---------------------------------------------------------------------------

JM_LAMBDA_NUM = 1  # lambda = 1/4 collection weight as an exact quarter
JM_LAMBDA_DEN = 4


def jm_query_likelihood(
    documents: DataFrame,
    query: tuple[str, ...] = BM25_QUERY,
    k: int = BM25_TOP_K,
) -> DataFrame:
    """Jelinek-Mercer-smoothed query likelihood — the fixed-interpolation
    sibling of ``dirichlet_query_likelihood``: score(d) = Sum_q
    ln((1-l) c_dq/|d| + l c_q/N) with l = 1/4. JM smooths every document
    by the SAME collection weight where Dirichlet adapts to |d| — the
    standard A/B pair in LM retrieval (Zhai & Lafferty 2001); verbose
    queries rank differently under the two, so a retrieval-based
    decontamination probe wants both.

    Hash-exact form: with l = 1/4, the mixture is the integer ratio
    (3 c_dq N + c_q |d|) / (4 |d| N), so every ln runs over integer
    products — ln(3 c_dq N + c_q dlen) - ln(4 dlen N) — nano-snapped,
    summed in longs. Docs missing a term contribute the c_dq = 0 row of
    the SAME formula (the per-(doc, qterm) grid is the bounded |Q|-way
    fan-out of the doc-length table, SHUFFLE-joined to the query-term
    postings — both sides are corpus-proportional, so neither is ever
    broadcast). Query terms absent from the corpus and zero-token
    documents drop in both engines (ln 0 guards, mirrored WHERE).

    Scale: the (doc, term) shuffle carries only query-term postings plus
    the |Q|-way doc grid; the scored arithmetic is row-local + a
    TakeOrdered top-k.
    """
    def lnn(c):
        return F.round(F.log(c.cast("double")) * F.lit(1e9), 0).cast("long")

    qlist = [str(t) for t in query]
    toks = documents.select("doc_id", F.explode(tokens("text")).alias("term"))
    dl = documents.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("dlen")
    ).filter(F.col("dlen") > 0)
    ntot = dl.agg(F.sum("dlen").cast("long").alias("n_tok"))
    qtoks = toks.filter(F.col("term").isin(qlist))
    cq = persist(
        qtoks.groupBy("term").agg(F.count("*").cast("long").alias("c_q"))
    )
    dq = qtoks.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("c_dq")
    )
    grid = (
        dl.join(F.broadcast(cq))  # bounded |Q|-way fan-out per doc
        .join(F.broadcast(ntot))
        # dq is the query-term POSTINGS — corpus-proportional, never
        # broadcast (ADVICE r08): one shuffled equi-join on (doc_id, term)
        # against the equally corpus-proportional grid is the 100 TB shape
        .join(dq, ["doc_id", "term"], "left")
        .select(
            "doc_id",
            "dlen",
            (
                lnn(
                    F.lit(3) * F.coalesce(F.col("c_dq"), F.lit(0)) * F.col("n_tok")
                    + F.col("c_q") * F.col("dlen")
                )
                - lnn(F.lit(4) * F.col("dlen") * F.col("n_tok"))
            ).alias("term_nano"),
        )
    )
    scored = grid.groupBy("doc_id", "dlen").agg(
        F.sum("term_nano").cast("long").alias("score_nano")
    )
    return (
        scored.orderBy(F.desc("score_nano"), F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id",
            "dlen",
            (F.col("score_nano").cast("double") / F.lit(1e9)).alias(
                "jm_score"
            ),
        )
    )


def morisita_horn_overlap(documents: DataFrame) -> DataFrame:
    """Pairwise Morisita-Horn overlap between per-source unigram
    distributions — the ABUNDANCE-weighted member of the source-overlap
    family: ``cross_source_overlap`` counts shared vocabulary
    (presence/absence), ``jsd_sources`` measures distribution distance;
    MH = 2 Sum_t xa xb * Na Nb / (Sum xa^2 * Nb^2 + Sum xb^2 * Na^2)
    weights terms by frequency, is 1 for identical relative abundances,
    0 for disjoint vocabularies, and is the standard index for "do two
    corpora have the same head?" where rare-tail noise should not count.

    Everything left of the single division is exact integers: the
    cleared-denominator form above multiplies through by Na^2 Nb^2, so
    both sides are decimal(38,0) products of longs, converted once by
    digit-split. Only the INTERSECTION join is materialized (disjoint
    pairs would be 0; per-source squared sums come from the same
    persisted (source, term) count table).

    Scale: the jsd_sources shape — one corpus-volume (source, term)
    count, a vocabulary-volume self-equi-join, bounded source fan-out.
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    def d38(c):
        return c.cast("decimal(38,0)")

    terms = persist(
        documents.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    moments = terms.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.sum(d38(F.col("c")) * d38(F.col("c")))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    a = terms.select(
        F.col("source").alias("source_a"),
        "term",
        F.col("c").alias("ca"),
    )
    b = terms.select(
        F.col("source").alias("source_b"),
        "term",
        F.col("c").alias("cb"),
    )
    cross = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(d38(F.col("ca")) * d38(F.col("cb")))
            .cast("decimal(38,0)")
            .alias("sxy")
        )
    )
    ma = moments.select(
        F.col("source").alias("source_a"),
        F.col("n_tok").alias("na"),
        F.col("ss").alias("ssa"),
    )
    mb = moments.select(
        F.col("source").alias("source_b"),
        F.col("n_tok").alias("nb"),
        F.col("ss").alias("ssb"),
    )
    num = dec_to_double_exact(
        (
            F.lit(2).cast("decimal(38,0)")
            * F.col("sxy")
            * d38(F.col("na"))
            * d38(F.col("nb"))
        ).cast("decimal(38,0)")
    )
    den = dec_to_double_exact(
        (
            F.col("ssa") * d38(F.col("nb")) * d38(F.col("nb"))
            + F.col("ssb") * d38(F.col("na")) * d38(F.col("na"))
        ).cast("decimal(38,0)")
    )
    return (
        cross.join(F.broadcast(ma), "source_a")
        .join(F.broadcast(mb), "source_b")
        .select(
            "source_a",
            "source_b",
            (num / den).alias("morisita_horn"),
        )
        .orderBy("source_a", "source_b")
    )


# CCNet-style LM-score filter grid (avg unigram logprob thresholds);
# values sit on the corpus's measured score distribution at the gate SFs —
# ~5/25/50/75/95th percentiles at sf0.001 AND sf0.01 (measured via the
# twin's own CTE chain) — so every threshold row discriminates (the
# repetition_rules calibration rule)
LP_SWEEP_THRESHOLDS = (-3.4200, -3.4050, -3.4015, -3.3985, -3.3940)


def perplexity_filter_sweep(
    documents: DataFrame, tf_table: DataFrame | None = None
) -> DataFrame:
    """Retention curve of an LM-score quality filter per source — the
    CCNet move (Wenzek et al. 2020: filter/band web text by language-
    model perplexity) priced BEFORE a corpus commits to a threshold: for
    each cutoff in the sweep grid, how many documents and how much token
    mass each source keeps if docs below the cutoff are dropped. The
    per-source view is the point: a single global threshold removes
    sources unevenly (rare-token-heavy sources score low wholesale), and
    this table is where that shows up as a mixture shift, not after
    training.

    Score = ``unigram_logprob``'s avg per-token log-probability (the
    corpus as its own LM — nano-fixed-point inside, deterministic
    double out; thresholds are injected literals so comparisons are
    engine-identical). The sweep multiplies NO rows: the bounded grid
    is unrolled into conditional sums inside ONE per-source aggregate
    (same posture as semdedup_threshold_sweep), and the per-threshold
    output rows are projections of that k-source table. Retentions are
    exact round-half-up percents.
    """
    from inde1_spark.functions.exprs import ratio_round

    lp = unigram_logprob(documents, tf_table)
    scored = lp.join(documents.select("doc_id", "source"), "doc_id")
    aggs = []
    for i, t in enumerate(LP_SWEEP_THRESHOLDS):
        keep = F.col("avg_logprob") >= F.lit(float(t))
        aggs.append(
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias(f"_d{i}")
        )
        aggs.append(
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias(f"_t{i}")
        )
    per = scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        *aggs,
    )
    # r12: the k-source table fans out to the threshold grid via ONE
    # inline(array(...)) generator over a single pass (the
    # minhash_band_sweep pattern) — the old per-threshold union needed
    # the table persisted because each branch re-read it; one consumer
    # needs neither the union nor the persist (Union 4 -> 0 in the plan)
    grid = F.array(
        *[
            F.struct(
                F.lit(float(t)).alias("threshold"),
                F.col(f"_d{i}").alias("n_docs_kept"),
                F.col(f"_t{i}").alias("n_tokens_kept"),
                ratio_round(
                    F.col(f"_d{i}") * 100,
                    F.greatest(F.col("n_docs"), F.lit(1).cast("long")),
                    2,
                ).alias("doc_retention_pct"),
                ratio_round(
                    F.col(f"_t{i}") * 100,
                    F.greatest(F.col("n_tokens"), F.lit(1).cast("long")),
                    2,
                ).alias("token_retention_pct"),
            )
            for i, t in enumerate(LP_SWEEP_THRESHOLDS)
        ]
    )
    return per.select("source", F.inline(grid)).orderBy("source", "threshold")


# (k1, b) grid: the default Okapi config first (the baseline the overlap
# column compares against), then the standard tuning corners — low-k1
# saturating, high-k1 linear-ish, b=0 (no length norm), b=1 (full norm)
BM25_SWEEP_CONFIGS = (
    (BM25_K1, BM25_B),
    (0.9, 0.4),
    (1.5, 0.75),
    (1.2, 0.0),
    (2.0, 1.0),
)


def bm25_parameter_sweep(
    documents: DataFrame,
    query: tuple[str, ...] = BM25_QUERY,
    k: int = BM25_TOP_K,
    configs: tuple[tuple[float, float], ...] = BM25_SWEEP_CONFIGS,
) -> DataFrame:
    """(k1, b) tuning sweep for BM25 — what a retrieval stack measures
    BEFORE changing scoring constants on a production index: for every
    config, how much does the top-k LIST actually move vs the deployed
    default (overlap@k — rank changes below k are free; membership
    changes are re-ranked results a user sees), and where does the score
    mass go (exact mean top-k score). ``bm25_score`` prices one config;
    the sweep prices the grid from ONE corpus pass.

    The token stream prefilters to the query terms row-locally, and the
    resulting tf table is persisted — so the corpus is scanned once and
    each config reuses the same (tiny) frequency table. The whole grid's
    per-doc score keys come out of ONE aggregation over that table (one
    LONG sum column per config — integer sums, so identical to summing
    each config separately); per config cost is then a top-k over the
    persisted per-doc table plus one broadcast-join+aggregate pass that
    produces overlap and score mass together (the r11 shape — the
    previous per-config plan evaluated its top-k subtree twice, once for
    the semi-join and once for the stats, 58 jobs per run vs ~15 now).
    Scores keep ``bm25_score``'s exact discipline (nano-snapped idf,
    micro-snapped per-term contributions, LONG score keys, ties to
    doc_id asc); k1/b enter as Python-computed double literals so
    neither engine does decimal-literal arithmetic (CLAUDE.md
    float-literal rule). The mean divides one exact LONG sum, once.
    """
    tf = persist(_term_freq(documents, only_terms=query))
    stats = persist(
        documents.agg(
            F.count("*").cast("double").alias("n_docs"),
            (
                F.sum(F.size(tokens("text")).cast("long")).cast("double")
                / F.count("*")
            ).alias("avgdl"),
        )
    )
    df_tbl = persist(
        tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    )
    idf = _log_scaled(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    base = tf.join(F.broadcast(df_tbl), "term").join(
        F.broadcast(stats)
    ).withColumn("idf_scaled", idf)

    def contrib(k1: float, b: float) -> Column:
        denom = F.col("tf").cast("double") + F.lit(float(k1)) * (
            F.lit(float(1.0 - b))
            + F.lit(float(b)) * F.col("dl").cast("double") / F.col("avgdl")
        )
        return F.round(
            (F.col("idf_scaled").cast("double") / F.lit(float(LOG_SCALE)))
            * (F.col("tf").cast("double") * F.lit(float(k1 + 1.0)))
            / denom
            * F.lit(float(SCORE_SCALE)),
            0,
        ).cast("long")

    per_doc = persist(
        base.groupBy("doc_id").agg(
            *[
                F.sum(contrib(k1, b)).cast("long").alias(f"sk_{i}")
                for i, (k1, b) in enumerate(configs)
            ]
        )
    )

    def topk(i: int) -> DataFrame:
        return (
            per_doc.select("doc_id", F.col(f"sk_{i}").alias("score_key"))
            .orderBy(F.col("score_key").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    from inde1_spark.functions.exprs import ratio_round

    default = persist(
        topk(0).select("doc_id", F.lit(1).alias("_in_default"))
    )
    out = None
    for i, (k1, b) in enumerate(configs):
        row = (
            topk(i)
            .join(F.broadcast(default), "doc_id", "left")
            .agg(
                F.count("*").cast("long").alias("n_topk"),
                F.coalesce(F.sum("score_key"), F.lit(0))
                .cast("long")
                .alias("sum_key"),
                F.count("_in_default").cast("long").alias("n_overlap"),
            )
            .select(
                F.lit(float(k1)).alias("k1"),
                F.lit(float(b)).alias("b"),
                F.col("n_topk"),
                ratio_round(
                    F.col("n_overlap") * 100,
                    F.greatest(F.col("n_topk"), F.lit(1).cast("long")),
                    2,
                ).alias("overlap_default_pct"),
                (
                    F.col("sum_key").cast("double")
                    / F.greatest(F.col("n_topk"), F.lit(1).cast("long"))
                    .cast("double")
                    / F.lit(float(SCORE_SCALE))
                ).alias("mean_bm25"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("k1", "b")


LM_SWEEP_TRAIN_PCT = 80  # md5 doc lane: the train_test_split convention


def lm_order_sweep(documents: DataFrame) -> DataFrame:
    """Language-model ORDER selection on held-out data — does the
    perplexity filter need a bigram model, or is unigram enough? The
    per-document scorers (``unigram_logprob``, ``bigram_logprob``)
    score against the corpus ITSELF (in-sample, MLE); this sweep does
    the honest evaluation: train add-1-smoothed models of order 1 and 2
    on the md5 80% doc lane and score the HELD-OUT 20%, reporting the
    average held-out log-probability per gram and the OOV share per
    order. Higher-order models win on held-out data only when the
    corpus has enough transitions to estimate them — this table is that
    decision for ``perplexity_filter_sweep``'s scorer.

    One tokenize pass (persisted — four consumers), one (split, gram)
    count shuffle per order, key-equi joins of held grams against train
    counts, bounded rollups. Add-1: P(t) = (c+1)/(N+V) and
    P(w2|w1) = (c_ab+1)/(c_a+V), V the train unigram vocabulary — OOV
    grams get the uniform floor instead of -inf. ln snaps to nano longs
    immediately (the ``_log_scaled`` contract); sums accumulate in
    DECIMAL(38,0) (nano-scaled logprobs pass 2^63 at corpus scale);
    the averages divide back to doubles once, mirrored operation-for-
    operation in the twin.
    """
    from inde1_spark.functions.exprs import (
        dec_ratio_round,
        ratio_round,
        word_ngrams,
    )
    from inde1_spark.operators.text import hash_bucket

    d38 = "decimal(38,0)"
    is_train = hash_bucket(F.col("doc_id"), 100) < LM_SWEEP_TRAIN_PCT
    base = persist(
        documents.select(is_train.alias("tr"), tokens("text").alias("toks"))
    )
    uni = (
        base.select("tr", F.explode("toks").alias("g"))
        .groupBy("tr", "g")
        .agg(F.count("*").cast("long").alias("c"))
    )
    bi = (
        base.select("tr", F.explode(word_ngrams(F.col("toks"), 2)).alias("g"))
        .groupBy("tr", "g")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tr_uni = uni.filter(F.col("tr")).select("g", F.col("c").alias("c_tr"))
    stats = tr_uni.agg(
        F.coalesce(F.sum("c_tr"), F.lit(0)).cast("long").alias("n_train"),
        F.count("*").cast("long").alias("v"),
    )
    tr_bi = bi.filter(F.col("tr")).select("g", F.col("c").alias("c_tr"))
    ctx = (
        tr_bi.select(F.substring_index("g", " ", 1).alias("w1"), "c_tr")
        .groupBy("w1")
        .agg(F.sum("c_tr").cast("long").alias("c_a"))
    )
    n_train_bi = tr_bi.agg(
        F.coalesce(F.sum("c_tr"), F.lit(0)).cast("long").alias("n_train")
    )

    def rollup(held, lp, n_train_col):
        susp = F.col("hf").cast(d38) * F.col("lp").cast(d38)
        agg = held.select(
            F.col("c").alias("hf"),
            lp.alias("lp"),
            F.col("c_tr").isNull().alias("oov"),
        ).agg(
            F.coalesce(F.sum("hf"), F.lit(0)).cast("long").alias("n_held"),
            F.coalesce(
                F.sum(F.when(F.col("oov"), F.col("hf")).otherwise(0)),
                F.lit(0),
            ).cast("long").alias("n_oov"),
            F.coalesce(
                F.sum(susp), F.lit(0).cast(d38)
            ).alias("lp_sum"),  # negative: ln of probs < 1
        )
        return agg.join(F.broadcast(n_train_col)).select(
            F.col("n_train").alias("n_train_grams"),
            F.col("n_held").alias("n_held_grams"),
            ratio_round(
                F.col("n_oov") * 100,
                F.greatest(F.col("n_held"), F.lit(1).cast("long")),
                2,
            ).alias("oov_pct"),
            (
                dec_ratio_round(
                    (F.lit(0).cast(d38) - F.col("lp_sum")).cast(d38),
                    F.greatest(F.col("n_held"), F.lit(1)).cast("long"),
                    0,
                )
                * F.lit(-1.0)
                / F.lit(1e9)
            ).alias("avg_logprob"),
        )

    g_uni = F.greatest(F.col("n_train") + F.col("v"), F.lit(1).cast("long"))
    held_uni = (
        uni.filter(~F.col("tr"))
        .join(tr_uni, "g", "left")
        .join(F.broadcast(stats))
    )
    lp1 = _log_scaled(
        (F.coalesce(F.col("c_tr"), F.lit(0)) + 1).cast("double")
        / g_uni.cast("double")
    )
    row1 = rollup(held_uni, lp1, stats.select("n_train")).select(
        F.lit(1).cast("long").alias("order"), "*"
    )
    g_bi = F.greatest(
        F.coalesce(F.col("c_a"), F.lit(0)) + F.col("v"),
        F.lit(1).cast("long"),
    )
    held_bi = (
        bi.filter(~F.col("tr"))
        .join(tr_bi, "g", "left")
        .withColumn("w1", F.substring_index("g", " ", 1))
        .join(ctx, "w1", "left")
        .join(F.broadcast(stats.select("v")))
    )
    lp2 = _log_scaled(
        (F.coalesce(F.col("c_tr"), F.lit(0)) + 1).cast("double")
        / g_bi.cast("double")
    )
    row2 = rollup(held_bi, lp2, n_train_bi).select(
        F.lit(2).cast("long").alias("order"), "*"
    )
    return row1.unionByName(row2).orderBy("order")
