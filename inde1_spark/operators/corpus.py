"""Corpus-preparation operators for a training-data pipeline.

The ops a 100 TB pretraining pipeline runs between "raw documents" and
"training shards": token-budget packing, vocabulary statistics, train/test
contamination auditing, source mixture sampling, and outlier trimming.
All built-in JVM expressions over one or two corpus passes — the only
shuffles are the ones the semantics require (a groupBy on the n-gram key,
a window per packer/stratum), each keyed to spread evenly at scale.

Determinism: every numeric output follows DESIGN.md §3 (exact integer /
decimal accumulation, ratio_round) so the DuckDB oracles hash-match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from inde1_spark.functions.exprs import (
    dec_to_double_exact,
    ratio_round,
    tokens,
    word_shingles,
)
from inde1_spark.operators.text import TRAIN_PCT, VAL_PCT, _split_label, hash_bucket
from inde1_spark.plans.lifecycle import lazy_checkpoint, persist, spread

PACK_BUDGET = 2048  # tokens per training shard
PACK_PACKERS = 8    # parallel packer lanes (raise with cluster size)


def pack_sequences(
    documents: DataFrame, budget: int = PACK_BUDGET, packers: int = PACK_PACKERS
) -> DataFrame:
    """Token-budget packing: concatenate-and-chunk documents into shards.

    The standard pretraining layout: documents are laid end-to-end in a
    deterministic pseudorandom order and cut every ``budget`` tokens; a
    document belongs to the shard its first token lands in. One global
    sequence would serialize on a single cumulative sum, so the corpus is
    first split into ``packers`` independent lanes by document hash — each
    lane packs in parallel (its window is partitioned BY the lane), which
    is exactly how N writer tasks would emit N shard streams at scale.

    Output per document: lane, shard within the lane, and the token offset
    where the document starts — enough for a writer to materialize shards
    without re-deriving the order.
    """
    toks = tokens("text")
    h = hash_bucket(F.col("doc_id"), 1_000_003)
    base = documents.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        hash_bucket(F.col("doc_id"), packers).alias("packer"),
        h.alias("h"),
    )
    w = (
        Window.partitionBy("packer")
        .orderBy(F.col("h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    off = cum % F.lit(budget)
    return base.select(
        "doc_id",
        "packer",
        ((cum - off) / F.lit(budget)).cast("long").alias("shard"),
        off.alias("tok_offset"),
        "n_tokens",
    )


NGRAM_N = 2
NGRAM_TOP_K = 50


def ngram_vocab(
    documents: DataFrame, n: int = NGRAM_N, k: int = NGRAM_TOP_K
) -> DataFrame:
    """Top-k n-gram frequency table (the vocabulary-building corpus pass).

    Non-distinct n-grams per document (frequency counting, unlike the
    dedup shingles) -> explode -> count by gram -> distributed top-k.
    The ordering is (count desc, ngram asc) + limit, which Spark executes
    as TakeOrdered — per-partition partial top-k merged on the driver, no
    global sort of the vocabulary. Rank is attached after the limit, over
    k rows only.

    Formulation note: a posexplode + lead-window spelling is ~3x faster on
    local[32] (codegen vs interpreted HOF) but shuffles the full token
    stream on doc_id before the gram count — a second corpus-volume
    exchange. This row-local spelling keeps the gram groupBy as the only
    corpus-volume shuffle, the right trade at cluster scale.
    """
    from inde1_spark.functions.exprs import word_ngrams

    grams = word_ngrams(tokens("text"), n)
    counted = (
        documents.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
    return counted.select(
        F.row_number().over(w).cast("long").alias("rank"), "ngram", "n_occurrences"
    )


CONTAM_NGRAM = 5


def contamination_check(documents: DataFrame, n: int = CONTAM_NGRAM) -> DataFrame:
    """Train->test contamination audit: word n-gram overlap per test doc.

    Recomputes the hash split (same function as ``train_test_split``),
    builds the distinct-shingle inverted index of the TRAIN side, and
    counts, for every TEST document, how many of its distinct shingles
    appear anywhere in train. The shingle equi-join is the same
    inverted-index shape as ``dedup_ngram_jaccard`` — candidates meet on
    the shingle key, nothing quadratic. Test docs with no shingles (< n
    tokens) are kept with zero counts.
    """
    split = _split_label(hash_bucket(F.col("doc_id"), 100))
    toks = tokens("text")
    with_split = documents.select(
        "doc_id", split.alias("split"), word_shingles(toks, n).alias("shingles")
    )
    train_set = (
        with_split.filter(F.col("split") == "train")
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
        .withColumn("hit", F.lit(1).cast("long"))
    )
    test_docs = with_split.filter(F.col("split") == "test")
    test_shingles = test_docs.select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    per_doc = (
        test_shingles.join(train_set, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0).cast("long")).alias("n_contaminated"),
        )
    )
    return (
        test_docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0).cast("long")).alias("n_shingles"),
            F.coalesce("n_contaminated", F.lit(0).cast("long")).alias("n_contaminated"),
            ratio_round(
                F.coalesce("n_contaminated", F.lit(0).cast("long")),
                F.greatest(
                    F.coalesce("n_shingles", F.lit(0).cast("long")),
                    F.lit(1).cast("long"),
                ),
                4,
            ).alias("contamination"),
        )
    )


MIXTURE_RATES = (100, 50, 25, 10)  # keep-percent by source index mod 4


def mixture_rate(source: Column) -> Column:
    """Per-source keep rate: sources are weighted by their index mod 4
    (the testdata stand-in for a curated mixture table: some sources kept
    whole, others downsampled)."""
    idx = F.regexp_extract(source, "([0-9]+)$", 1).cast("long")
    arr = F.array(*[F.lit(r) for r in MIXTURE_RATES])
    return F.element_at(arr, (idx % len(MIXTURE_RATES) + 1).cast("int")).cast("long")


def mixture_sample(documents: DataFrame) -> DataFrame:
    """Source-mixture sampling: keep each document with its source's rate.

    The data-mixing step of a training pipeline: every source gets a keep
    percentage, documents are kept iff an engine-portable hash of
    (source, doc_id) falls under it — reproducible across runs, engines
    and partitionings, unlike ``df.sample``. Reports per-source kept/total
    so the realized mixture is auditable against the target rates.
    """
    rate = mixture_rate(F.col("source"))
    keep = hash_bucket(
        F.concat_ws(":", F.col("source"), F.col("doc_id")), 100
    ) < rate
    return (
        documents.groupBy("source")
        .agg(
            F.max(rate).alias("rate_pct"),
            F.count("*").alias("n_total"),
            F.sum(keep.cast("long")).alias("n_kept"),
            F.sum(
                F.when(keep, F.col("n_chars")).otherwise(0).cast("decimal(18,0)")
            )
            .cast("long")
            .alias("n_chars_kept"),
        )
    )


TRIM_PCT = 5


def source_stats(documents: DataFrame) -> DataFrame:
    """Per-source corpus inventory: docs, tokens, chars, and doc share.

    The first query anyone runs on a new crawl dump ("what's in here, and
    how is it distributed?"). One shuffle keyed on source; token counting
    is row-local before the exchange. The share ratio is exact integer
    round-half-up (ratio_round) against a 1-row broadcast total, so the
    output hashes identically in any engine.
    """
    per = documents.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text")).cast("long")).alias("n_tokens"),
        F.sum(F.col("n_chars").cast("long")).alias("n_chars"),
    )
    total = per.agg(F.sum("n_docs").alias("total_docs"))
    return per.join(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        ratio_round(F.col("n_docs"), F.col("total_docs"), 6).alias("doc_share"),
    )


def trim_outliers(documents: DataFrame, pct: int = TRIM_PCT) -> DataFrame:
    """Rank-based length trimming: drop the shortest and longest ``pct``
    percent of documents per language.

    Quantile filters on real pipelines use exact ranks, not interpolated
    percentiles (engine-ambiguous at boundaries): cut = floor(N*pct/100)
    rows off each tail of the (n_chars, doc_id) order. Per-language window
    + count — one shuffle on the language key. Reports survivors and the
    surviving length range per language.
    """
    w_rank = Window.partitionBy("lang").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    w_all = Window.partitionBy("lang")
    ranked = documents.select(
        "lang",
        "n_chars",
        F.row_number().over(w_rank).cast("long").alias("r"),
        F.count("*").over(w_all).cast("long").alias("n_in"),
    )
    cut = (F.col("n_in") * pct - (F.col("n_in") * pct) % 100) / F.lit(100)
    kept = ranked.filter(
        (F.col("r") > cut) & (F.col("r") <= F.col("n_in") - cut)
    )
    return kept.groupBy("lang").agg(
        F.max("n_in").alias("n_in"),
        F.count("*").alias("n_kept"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("long").alias("sum_chars"),
    )


CHUNK_TOKENS = 128  # tokens per training chunk
CHUNK_STRIDE = 96   # start-to-start distance: 32-token overlap between chunks


def chunk_tokens(
    documents: DataFrame, chunk: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Sliding-window token chunking: cut each document into fixed-size
    token windows with overlap (the context-window prep step for training
    and embedding pipelines; stride < chunk keeps ``chunk - stride`` tokens
    of continuity across boundaries).

    Entirely row-local — the chunk list is built per document (sequence of
    start offsets -> explode -> O(1) slice), so at 100 TB this is a
    zero-shuffle projection that pipelines with the scan; output volume is
    ~chunk/stride x corpus. chunk_idx is exact integer division of the
    start offset, so chunk identity is engine-portable.
    """
    toks = tokens("text")
    base = documents.select(
        "doc_id", toks.alias("toks"), F.size(toks).cast("long").alias("n_tokens")
    )
    starts = F.when(
        F.col("n_tokens") > 0,
        F.sequence(
            F.lit(1).cast("long"), F.col("n_tokens"), F.lit(stride).cast("long")
        ),
    ).otherwise(F.array().cast("array<long>"))
    ex = base.select(
        "doc_id", "n_tokens", "toks", F.explode(starts).alias("tok_start")
    )
    s0 = F.col("tok_start") - 1
    chunk_len = F.least(
        F.lit(chunk).cast("long"), F.col("n_tokens") - F.col("tok_start") + 1
    )
    return ex.select(
        "doc_id",
        ((s0 - s0 % stride) / F.lit(stride)).cast("long").alias("chunk_idx"),
        "tok_start",
        chunk_len.alias("chunk_len"),
        F.concat_ws(
            " ", F.slice(F.col("toks"), F.col("tok_start"), chunk_len)
        ).alias("chunk_text"),
    )


def dsir_sample(documents: DataFrame) -> DataFrame:
    """Importance resampling: accept each document with probability equal to
    its quality score (the DSIR recipe — Xie et al. 2023 — with the quality
    heuristic standing in for the target/raw log-ratio weight; swap the
    weight column, keep the plan).

    Acceptance is hash-thresholded, not ``rand()``: doc kept iff
    md5-bucket(doc_id) < quality*10^4 — reproducible across runs, engines
    and partitionings, and the threshold stays in exact integer math
    (``ratio_scaled``) end to end. Row-local accept + one per-language
    aggregate; reports realized acceptance so the resampled mixture is
    auditable.
    """
    from inde1_spark.operators.text import quality_parts

    n_tokens, _, q_scaled = quality_parts()
    keep = hash_bucket(F.col("doc_id"), 10_000) < q_scaled
    return (
        documents.groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(keep.cast("long")).cast("long").alias("n_kept"),
            F.sum(
                F.when(keep, n_tokens).otherwise(F.lit(0).cast("long")).cast(
                    "decimal(18,0)"
                )
            )
            .cast("long")
            .alias("kept_tokens"),
        )
        .select(
            "lang",
            "n_total",
            "n_kept",
            "kept_tokens",
            ratio_round(F.col("n_kept"), F.col("n_total"), 4).alias("accept_rate"),
        )
    )


CROSS_SOURCE_MAX_DF = 16  # shingle present in > this many sources = boilerplate


def cross_source_overlap(
    documents: DataFrame, n: int = 3, max_df: int = CROSS_SOURCE_MAX_DF
) -> DataFrame:
    """Source-level duplication forensics: how many distinct word shingles
    each pair of sources shares ("is crawl B a re-scrape of crawl A?").

    The same inverted-index shape as ``dedup_ngram_jaccard`` lifted from
    documents to sources: distinct (source, shingle) -> source-frequency
    cap (a shingle in > ``max_df`` sources is cross-source boilerplate —
    df^2 join blowup, zero signal) -> shingle-keyed self-join -> per-pair
    counts. Posting lists are bounded by the source count (thousands, not
    documents), and the cap bounds the pair fan-out per shingle, so the
    join stays collision-sized at corpus scale. Overlap ratio is exact
    (``ratio_round`` vs the smaller source's shingle set).

    Plan-sharing note: the deduped (source, shingle) table feeds four
    consumers (the cap, the sizes, both join sides). A groupBy+join cap
    spelling makes each consumer its own subtree and the shingle pipeline
    runs 4x (measured 6.9 s cold at sf0.1); spelling the cap as a COUNT
    window over the shingle key gives every consumer the IDENTICAL
    exchange subtree, which Catalyst deduplicates via ReusedExchange — the
    tokenize/shingle/distinct pass runs once, no persist, no action
    (2.9 s cold). The window partition is a shingle's posting list,
    bounded by the source count — never corpus-sized.
    """
    # repartition before shingling — the dedup.shingle_table rule: a
    # single-file corpus otherwise runs the CPU-heavy explode on one core
    sh = (
        spread(documents.select("doc_id", "source", "text"), "doc_id")
        .select(
            "source",
            F.explode(word_shingles(tokens("text"), n)).alias("shingle"),
        )
        .distinct()
    )
    w_sh = Window.partitionBy("shingle")
    kept = (
        sh.withColumn("df", F.count("*").over(w_sh))
        .filter(F.col("df") <= max_df)
        .select("source", "shingle")
    )
    sizes = kept.groupBy("source").agg(F.count("*").cast("long").alias("sz"))
    a = kept.select(F.col("source").alias("source_a"), "shingle")
    b = kept.select(F.col("source").alias("source_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("sz").alias("sz_b"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            ratio_round(
                F.col("n_shared"), F.least("sz_a", "sz_b"), 4
            ).alias("overlap"),
        )
    )


MAD_K = 3  # flag docs outside median +- K * MAD


def length_mad_outliers(documents: DataFrame, k_mad: int = MAD_K) -> DataFrame:
    """Robust per-language length-outlier audit: median + MAD bounds.

    Median/MAD beat mean/stddev on corpus lengths (heavy right tail), and
    both are computed WITHOUT sorting documents: lengths collapse to a
    per-language VALUE HISTOGRAM (distinct lengths are bounded, documents
    are not), the lower median is the smallest value whose running count
    reaches ceil(N/2), and the MAD repeats the construction on absolute
    deviations. Corpus-volume work is two map-side-combined groupBys; the
    windows order histogram rows only. Exact integer math end to end —
    interpolated percentile() is engine-ambiguous at even counts.
    """
    w_all = Window.partitionBy("lang")

    def _lower_median(values: DataFrame, val: str) -> DataFrame:
        # values: (lang, <val>, n) histogram -> (lang, median of <val>)
        w = (
            Window.partitionBy("lang")
            .orderBy(F.col(val).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = F.sum("n").over(w)
        tot = F.sum("n").over(w_all)
        m = tot + 1
        rank_med = ((m - m % 2) / 2).cast("long")  # ceil(N/2), exact
        return (
            values.select("lang", val, cum.alias("cum"), rank_med.alias("rm"))
            .filter(F.col("cum") >= F.col("rm"))
            .groupBy("lang")
            .agg(F.min(val).cast("long").alias(f"median_{val}"))
        )

    lens = documents.select("lang", F.col("n_chars").cast("long").alias("len"))
    hist = lens.groupBy("lang", "len").agg(F.count("*").alias("n"))
    med = _lower_median(hist, "len").withColumnRenamed("median_len", "median_chars")
    dev = lens.join(F.broadcast(med), "lang").select(
        "lang", F.abs(F.col("len") - F.col("median_chars")).alias("dev")
    )
    dev_hist = dev.groupBy("lang", "dev").agg(F.count("*").alias("n"))
    mad = _lower_median(dev_hist, "dev").withColumnRenamed("median_dev", "mad_chars")
    bounds = med.join(mad, "lang").select(
        "lang",
        "median_chars",
        "mad_chars",
        (F.col("median_chars") - k_mad * F.col("mad_chars")).alias("lo"),
        (F.col("median_chars") + k_mad * F.col("mad_chars")).alias("hi"),
    )
    return (
        lens.join(F.broadcast(bounds), "lang")
        .groupBy("lang", "median_chars", "mad_chars", "lo", "hi")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                ((F.col("len") < F.col("lo")) | (F.col("len") > F.col("hi"))).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


SHARD_COUNT = 32  # shards per epoch; raise so a shard ~1-4 GB at corpus scale


def shuffle_shards(documents: DataFrame, n_shards: int = SHARD_COUNT) -> DataFrame:
    """Deterministic global shuffle: assign every document a training shard
    and a position within it.

    Trainers need the corpus in pseudorandom order, reproducibly —
    ``df.orderBy(rand(seed))`` is partitioning-dependent and a full global
    sort. Instead: shard = md5 bucket of doc_id (avalanche-mixed, so any
    id-correlated input structure is destroyed), pos = rank of md5(doc_id)
    within the shard. One shuffle on the shard key + a per-shard sort;
    shards are independent, so at 100 TB each sorts locally in its own
    task (size ``n_shards`` so a shard fits one task ~1-4 GB).
    """
    from inde1_spark.operators.text import hash_bucket

    h = F.md5(F.col("doc_id").cast("string"))
    shard = hash_bucket(F.col("doc_id"), n_shards)
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        documents.select("doc_id", shard.alias("shard"), h.alias("h"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


def dup_rate_by_source(documents: DataFrame) -> DataFrame:
    """Where does duplication concentrate? Near-dup document rate per source.

    Joins the exact n-gram-Jaccard ground-truth pairs back onto the source
    dimension: a document is 'dup' if it appears in any near-dup pair.
    The pair table is collision-sized (inverted-index join, never
    quadratic); the explode-distinct of pair endpoints is bounded by
    2x|pairs|; the final count is one groupBy on source. At corpus scale
    swap the ground-truth pair source for ``dedup_minhash_fast`` — same
    downstream plan (documented; the gate variant keeps the oracle-exact
    pair set).
    """
    from inde1_spark.operators.dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(documents)
    dup_ids = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1).cast("long"))
    )
    return (
        documents.select("doc_id", "source")
        .join(dup_ids, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("is_dup"), F.lit(0).cast("long")).alias("n_dup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            ratio_round(F.col("n_dup_docs"), F.col("n_docs"), 4).alias("dup_rate"),
        )
    )


WEIGHTED_SAMPLE_K = 50


def weighted_sample(documents: DataFrame, k: int = WEIGHTED_SAMPLE_K) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    P(doc in sample) increases with its weight (here n_chars — favor long
    documents), computed distributed with NO RNG state.

    Each doc gets key = ln(u)/w with u a hash-derived uniform in (0,1];
    the k largest keys ARE the weighted sample — the classic distributed
    one-pass spelling (per-partition top-k merges associatively, so Spark
    executes it as TakeOrdered — no global sort, no sequential reservoir).
    Engine-portable: u comes from the md5 bucket hash (identical in
    DuckDB) and ln is snapped to nano-longs before the weight division
    (libm agrees to 1 ulp; the snap removes even that) — the ranking
    can't flip. Rank is attached over k rows only, after the limit.
    """
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
    )
    u = (h + F.lit(1)) / F.lit(4294967297.0)  # (0, 1]: 2^32 + 1 denominator
    # ln() is libm-identical across engines except for rare 1-ulp cases —
    # snap to nano-longs first (the _log_scaled convention); the snap
    # absorbs any sub-ulp divergence before it can flip a rank or a hash
    lnu_nano = F.round(F.log(u) * F.lit(1e9), 0).cast("long")
    key = lnu_nano.cast("double") / F.lit(1e9) / F.col("n_chars").cast("double")
    picked = (
        documents.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"), key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
    return picked.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "n_chars",
        "es_key",
    )


NOVELTY_N_BATCHES = 10


def shingle_novelty(
    documents: DataFrame, n_batches: int = NOVELTY_N_BATCHES
) -> DataFrame:
    """Content novelty per ingestion batch: the fraction of each batch's
    distinct shingles never seen in ANY earlier batch — the freshness
    curve that tells a healthy crawl (high novelty) from re-crawling the
    same sites (novelty decaying to the boilerplate floor), and sizes how
    much an incremental dedup pass (dedup_incremental) will actually
    admit.

    Batches are an md5 hash split of doc_id (the testdata's stand-in for
    arrival order, same device as train_test_split). Per shingle the
    FIRST batch is one min-aggregate over the shingle table; per batch,
    novel = shingles whose first batch is this one, seen = distinct
    shingles present — both ride one more aggregate each, so the whole
    audit is two shingle-key shuffles and a k-row output. Exact integer
    ratios.
    """
    sh = documents.select(
        (hash_bucket(F.col("doc_id"), n_batches)).alias("batch"),
        F.explode(word_shingles(tokens("text"))).alias("shingle"),
    )
    per = sh.distinct()  # (batch, shingle) presence
    firsts = per.groupBy("shingle").agg(F.min("batch").alias("first_batch"))
    seen = per.groupBy("batch").agg(
        F.count("*").cast("long").alias("n_shingles_seen")
    )
    novel = firsts.groupBy(F.col("first_batch").alias("batch")).agg(
        F.count("*").cast("long").alias("n_shingles_novel")
    )
    return (
        seen.join(novel, "batch", "left")
        .select(
            F.col("batch").cast("long").alias("batch"),
            "n_shingles_seen",
            F.coalesce("n_shingles_novel", F.lit(0).cast("long")).alias(
                "n_shingles_novel"
            ),
            ratio_round(
                F.coalesce("n_shingles_novel", F.lit(0).cast("long")),
                F.col("n_shingles_seen"),
                4,
            ).alias("novelty"),
        )
    )


def source_drift_ks(documents: DataFrame) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift audit per source: the KS
    statistic between each source's quality-score distribution and the
    REST of the corpus — "which feeds changed shape", the go/no-go for
    mixture re-weighting and the standard ingestion drift alarm
    (`dup_rate_by_source` catches copying; this catches distribution
    shift that duplicates nothing).

    KS needs both CDFs on a shared value grid; quality_scaled lives in
    [0, 10000], so the grid is DOMAIN-bounded (observed distinct values),
    never corpus-bounded — the sources x grid expansion is a broadcast
    cross join of two tiny tables, and every cumulative window runs over
    at most |grid| rows per source. D = max_q |F_s(q) - F_r(q)| is
    computed as exact integer cross-multiplication |cum_s*n_r - cum_r*n_s|
    (promoted to decimal(38,0): the product is corpus^2-sized), the
    argmax breaks ties on the smallest q, and the final ratio is one
    exact floor division. Sources covering the whole corpus (n_r = 0)
    are excluded: a one-source corpus has no rest to drift from.
    """
    from inde1_spark.operators.text import quality_parts

    _, _, q_scaled = quality_parts()
    counts = (
        documents.select("source", q_scaled.alias("q"))
        .groupBy("source", "q")
        .agg(F.count("*").cast("long").alias("c"))
    )
    qgrid = counts.select("q").distinct()
    srcs = counts.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    total = srcs.agg(F.sum("n_s").cast("long").alias("n_all"))
    perq = counts.groupBy("q").agg(F.sum("c").cast("long").alias("cq"))
    cum_all_tbl = perq.select(
        "q", F.sum("cq").over(Window.orderBy("q")).cast("long").alias("cum_all")
    )
    filled = (
        srcs.join(F.broadcast(qgrid))
        .join(counts, ["source", "q"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0).cast("long")))
    )
    cum_s = (
        F.sum("c").over(Window.partitionBy("source").orderBy("q")).cast("long")
    )
    j = (
        filled.withColumn("cum_s", cum_s)
        .join(F.broadcast(cum_all_tbl), "q")
        .join(F.broadcast(total))
        .filter(F.col("n_s") < F.col("n_all"))
        .withColumn(
            "num",
            F.abs(
                F.col("cum_s").cast("decimal(38,0)")
                * (F.col("n_all") - F.col("n_s"))
                - (F.col("cum_all") - F.col("cum_s")).cast("decimal(38,0)")
                * F.col("n_s")
            ),
        )
    )
    pick = Window.partitionBy("source").orderBy(
        F.col("num").desc(), F.col("q").asc()
    )
    return (
        j.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("n_s").alias("n_docs"),
            (
                F.expr(
                    "CAST((num * 1000000 - (num * 1000000) %"
                    " (CAST(n_s AS DECIMAL(38,0)) * (n_all - n_s)))"
                    " / (CAST(n_s AS DECIMAL(38,0)) * (n_all - n_s))"
                    " AS BIGINT)"
                ).cast("double")
                / F.lit(1e6)
            ).alias("ks"),
            F.col("q").alias("at_quality_scaled"),
        )
    )


TEMP_BUDGET_PCT = 50  # overall keep budget for the temperature-flattened mix
TEMP_RATE_SCALE = 1_000_000  # per-source keep rates as exact ppm thresholds


def mixture_temperature(
    documents: DataFrame, budget_pct: int = TEMP_BUDGET_PCT
) -> DataFrame:
    """Temperature-flattened source mixing at alpha = 0.5: target source
    shares proportional to sqrt(n_s) instead of n_s — the multilingual /
    multi-source rebalancing move (GPT-3 / XLM-R style) that upsamples
    the long tail's SHARE without duplicating rows, by thinning dominant
    sources harder. alpha is fixed at 0.5 because sqrt is the one
    fractional power IEEE guarantees correctly rounded — an arbitrary
    pow() differs between libm implementations and would break the
    engine/oracle hash (DESIGN §3).

    Per-source keep rate: r_s = budget * N * w_s / n_s with w_s =
    sqrt(n_s)/sum(sqrt), capped at 1 and materialized as an exact ppm
    threshold — sqrt snaps to a nano-grid long first, the share arithmetic
    runs in DECIMAL(38,0) with the mod-subtract floor-div spelling
    (decimal `div` wraps, CLAUDE invariant), and membership is the
    engine-portable md5 bucket over (source, doc_id). Audit-shaped
    output: per source, the rate, kept/total counts and the realized
    share — one corpus pass + a k-row broadcast of source stats.
    """
    stats = documents.groupBy("source").agg(F.count("*").cast("long").alias("n_s"))
    qs = F.floor(F.sqrt(F.col("n_s").cast("double")) * F.lit(1e9) + F.lit(0.5)).cast(
        "long"
    )
    per = stats.select("source", "n_s", qs.alias("q_s"))
    tot = per.agg(
        F.sum("n_s").cast("long").alias("n_total"),
        F.sum("q_s").cast("long").alias("q_total"),
    )
    # rate_ppm = floor(budget_pct/100 * n_total * q_s * 1e6 / (q_total * n_s)),
    # capped at 1e6 — exact decimal floor division
    num = (
        F.col("n_total").cast("decimal(38,0)")
        * F.col("q_s").cast("decimal(38,0)")
        * F.lit(budget_pct * TEMP_RATE_SCALE).cast("decimal(38,0)")
    )
    den = (
        F.col("q_total").cast("decimal(38,0)")
        * F.col("n_s").cast("decimal(38,0)")
        * F.lit(100).cast("decimal(38,0)")
    )
    rate = F.least(
        ((num - num % den) / den).cast("long"), F.lit(TEMP_RATE_SCALE).cast("long")
    )
    rated = per.join(F.broadcast(tot)).select(
        "source", "n_s", "n_total", rate.alias("rate_ppm")
    )
    keep = (
        hash_bucket(
            F.concat_ws(":", F.col("source"), F.col("doc_id")), TEMP_RATE_SCALE
        )
        < F.col("rate_ppm")
    )
    kept = (
        documents.join(F.broadcast(rated), "source")
        .groupBy("source", "n_s", "n_total", "rate_ppm")
        .agg(F.sum(keep.cast("long")).cast("long").alias("n_kept"))
    )
    return kept.select(
        "source",
        F.col("n_s").alias("n_total_source"),
        "rate_ppm",
        "n_kept",
        ratio_round(F.col("n_s"), F.col("n_total"), 6).alias("share_before"),
        ratio_round(F.col("n_kept"), F.greatest(F.col("n_total"), F.lit(1)), 6).alias(
            "share_of_corpus_kept"
        ),
    )


def gini_token_concentration(documents: DataFrame) -> DataFrame:
    """Per-source Gini coefficient of document token counts — the
    inequality audit behind mixture balancing: a source whose token mass
    is concentrated in a few giant documents (G -> 1) contributes far
    less DIVERSITY per sampled token than its row count suggests, and
    packing/trimming decisions (``pack_sequences``, ``trim_outliers``)
    behave very differently on it than on a uniform source (G -> 0).

    Scale spelling: the textbook rank formula G = (2*sum(i*x_i) -
    (n+1)*sum(x)) / (n*sum(x)) needs a full per-source sort, which at
    corpus scale serializes each source onto one task. Token counts are
    small integers, so the sort is collapsed to the VALUE HISTOGRAM:
    group by (source, n_tokens) -> cnt, one tiny per-source window over
    DISTINCT values for the cumulative count m below each value, and the
    tied-block rank sum in closed form: sum of i*x over a block of cnt
    equal values after m smaller ones is x*cnt*(2m+cnt+1)/2. The window
    now runs over |distinct lengths| rows per source (bounded), not
    |docs|. All moments accumulate in DECIMAL(38,0) (rank*value products
    pass 2^63 at corpus scale) and the final ratio is the exact decimal
    round-half-up spelling; empty-token sources emit G = 0.
    """
    from inde1_spark.functions.exprs import dec_floordiv

    x = F.size(tokens("text")).cast("long")
    grp = (
        documents.select("source", x.alias("x"))
        .groupBy("source", "x")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grp.withColumn(
        "m", F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long")
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    # S = 2 * sum(rank*x): x*cnt*(2m+cnt+1) summed per source
    s_term = d("x") * d("cnt") * (d("m") * 2 + d("cnt") + 1)
    agg = cum.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.sum(d("x") * d("cnt")).alias("sx"),
        F.sum(s_term).alias("s2"),
    )
    num = (F.col("s2") - (d("n_docs") + 1) * F.col("sx")).cast("decimal(38,0)")
    den = (d("n_docs") * F.col("sx")).cast("decimal(38,0)")
    g_scaled = dec_floordiv(
        (num * 2_000_000 + den).cast("decimal(38,0)"),
        (den * 2).cast("decimal(38,0)"),
    ).cast("long")
    return agg.select(
        "source",
        "n_docs",
        F.col("sx").cast("long").alias("n_tokens"),
        F.when(F.col("sx") == 0, F.lit(0.0))
        .otherwise(g_scaled.cast("double") / F.lit(1e6))
        .alias("gini"),
    )


# ---------------------------------------------------------------------------
# quality_emd: 1-D Wasserstein drift per source (KS's integrated companion)
# ---------------------------------------------------------------------------


def quality_emd(documents: DataFrame) -> DataFrame:
    """1-D earth-mover (Wasserstein-1) distance between each source's
    quality distribution and the REST of the corpus — ``source_drift_ks``
    measures the WORST single gap between the CDFs, this integrates ALL
    of them (W1 = integral |F_s - F_r| dq): a source whose distribution
    shifted a little everywhere alarms here while KS barely moves, and
    vice versa for one sharp kink. Emitted in quality-scaled units and
    normalized by the observed domain span.

    Same scale shape as the KS audit: the grid is DOMAIN-bounded
    (observed distinct quality values), per-source CDFs ride windows
    over at most |grid| rows, and the integrand is the exact integer
    cross-multiplication |cum_s*n_r - cum_r*n_s| times the exact grid
    step, accumulated in decimal(38,0) and floor-divided once at the
    end (micro grid). Sources covering the whole corpus are excluded.
    """
    from inde1_spark.functions.exprs import dec_floordiv
    from inde1_spark.operators.text import quality_parts

    _, _, q_scaled = quality_parts()
    counts = (
        documents.select("source", q_scaled.alias("q"))
        .groupBy("source", "q")
        .agg(F.count("*").cast("long").alias("c"))
    )
    qgrid = counts.select("q").distinct()
    srcs = counts.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    total = srcs.agg(F.sum("n_s").cast("long").alias("n_all"))
    perq = counts.groupBy("q").agg(F.sum("c").cast("long").alias("cq"))
    cum_all_tbl = perq.select(
        "q", F.sum("cq").over(Window.orderBy("q")).cast("long").alias("cum_all")
    )
    filled = (
        srcs.join(F.broadcast(qgrid))
        .join(counts, ["source", "q"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0).cast("long")))
    )
    ws = Window.partitionBy("source").orderBy("q")
    j = (
        filled.withColumn("cum_s", F.sum("c").over(ws).cast("long"))
        .withColumn("dq", F.coalesce(F.lead("q").over(ws) - F.col("q"), F.lit(0)))
        .join(F.broadcast(cum_all_tbl), "q")
        .join(F.broadcast(total))
        .filter(F.col("n_s") < F.col("n_all"))
        .withColumn(
            "num",
            F.abs(
                F.col("cum_s").cast("decimal(38,0)")
                * (F.col("n_all") - F.col("n_s"))
                - (F.col("cum_all") - F.col("cum_s")).cast("decimal(38,0)")
                * F.col("n_s")
            ),
        )
    )
    agg = j.groupBy("source").agg(
        F.max("n_s").alias("n_docs"),
        F.max("n_all").alias("n_all"),
        F.sum((F.col("num") * F.col("dq")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("snd"),
        (F.max("q") - F.min("q")).cast("long").alias("span"),
    )

    def d38(c):
        return c.cast("decimal(38,0)")

    den = (d38(F.col("n_docs")) * (F.col("n_all") - F.col("n_docs"))).cast(
        "decimal(38,0)"
    )
    emd_micro = dec_floordiv(
        (F.col("snd") * 1_000_000 * 2 + den).cast("decimal(38,0)"),
        (den * 2).cast("decimal(38,0)"),
    ).cast("long")
    den_n = (den * F.greatest(F.col("span"), F.lit(1))).cast("decimal(38,0)")
    norm_micro = dec_floordiv(
        (F.col("snd") * 1_000_000 * 2 + den_n).cast("decimal(38,0)"),
        (den_n * 2).cast("decimal(38,0)"),
    ).cast("long")
    return (
        agg.withColumn("emd_micro", emd_micro)
        .withColumn("norm_micro", norm_micro)
        .select(
            "source",
            "n_docs",
            (F.col("emd_micro").cast("double") / F.lit(1e6)).alias(
                "emd_quality_units"
            ),
            (F.col("norm_micro").cast("double") / F.lit(1e6)).alias("emd_norm"),
        )
    )


QNORM_SCALE = 1_000_000_000  # nano-grid CDF positions (exact integers)


def quality_quantile_normalize(documents: DataFrame) -> DataFrame:
    """Cross-source quantile normalization of the quality score: map each
    source's score distribution onto the POOLED corpus distribution, so a
    filter threshold means the same thing for every source — the
    calibration step heterogeneous-corpus curation needs before a single
    quality cutoff is defensible (a web source's 0.6 and a books source's
    0.6 are different quantiles of different distributions).

    Rank-based mapping on VALUE-DOMAIN tables only: quality is an exact
    4-decimal ratio, so per-source and pooled distributions reduce to
    bounded (source x <=10001-value) histograms — every window here runs
    over that grid, never over documents (the quality_ntile rule). Each
    source value's Hazen CDF position ((2*cum - cnt) / 2n, exact nano
    integers via wide-decimal floor-div) is mapped through the pooled
    left-continuous inverse CDF by the union-and-backfill as-of trick:
    pooled grid rows are tagged into every source's partition, one
    ordered window back-fills the last pooled value at-or-below the
    source position, with the pooled minimum as the left-edge fallback.

    Output is the bounded mapping table (source, quality -> norm_quality,
    with doc counts); applying it to documents is one broadcast join.
    """
    from inde1_spark.operators.text import _quality_col

    def d38(c):
        return c.cast("decimal(38,0)")

    def cdf_nano(cum, cnt, n):
        num = d38(F.lit(2) * cum - cnt) * d38(F.lit(QNORM_SCALE))
        den = d38(F.lit(2) * n)
        return ((num - num % den) / den).cast("long")

    # the one corpus-sized pass; persisted because the pooled histogram,
    # the per-source totals and the union all derive from it
    vals = persist(
        documents.select("source", _quality_col().alias("quality"))
        .groupBy("source", "quality")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    w_s = (
        Window.partitionBy("source")
        .orderBy("quality")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    n_s = vals.groupBy("source").agg(F.sum("n_docs").cast("long").alias("n_s"))
    src = (
        vals.withColumn("cum", F.sum("n_docs").over(w_s).cast("long"))
        .join(F.broadcast(n_s), "source")
        .select(
            "source",
            "quality",
            "n_docs",
            cdf_nano(F.col("cum"), F.col("n_docs"), F.col("n_s")).alias("cdf"),
            F.lit(0).alias("is_global"),
            F.lit(None).cast("double").alias("gq"),
        )
    )
    glob = vals.groupBy("quality").agg(F.sum("n_docs").cast("long").alias("n_g"))
    w_g = Window.orderBy("quality").rowsBetween(Window.unboundedPreceding, 0)
    n_all = glob.agg(F.sum("n_g").cast("long").alias("n_all"))
    gcdf = (
        glob.withColumn("cum", F.sum("n_g").over(w_g).cast("long"))
        .join(F.broadcast(n_all))
        .select(
            F.col("quality").alias("gq"),
            cdf_nano(F.col("cum"), F.col("n_g"), F.col("n_all")).alias("cdf"),
        )
    )
    gx = (
        vals.select("source")
        .distinct()
        .join(F.broadcast(gcdf))
        .select(
            "source",
            F.lit(None).cast("double").alias("quality"),
            F.lit(None).cast("long").alias("n_docs"),
            "cdf",
            F.lit(1).alias("is_global"),
            "gq",
        )
    )
    gmin = glob.agg(F.min("quality").alias("g_min"))
    w_u = Window.partitionBy("source").orderBy(
        F.col("cdf").asc(), F.col("is_global").desc()
    )
    return (
        src.unionByName(gx)
        .withColumn(
            "mapped",
            F.last("gq", ignorenulls=True).over(
                w_u.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .filter(F.col("is_global") == 0)
        .join(F.broadcast(gmin))
        .select(
            "source",
            "quality",
            "n_docs",
            F.coalesce("mapped", "g_min").alias("norm_quality"),
        )
        .orderBy("source", "quality")
    )


CORRUPT_WINDOW = 20  # one masked span per 20-token window ...
CORRUPT_SPAN = 3     # ... of this length: exactly 15% noise density


def span_corruption_plan(
    documents: DataFrame,
    window: int = CORRUPT_WINDOW,
    span: int = CORRUPT_SPAN,
) -> DataFrame:
    """Deterministic span-corruption mask plan (the T5/UL2 denoising
    objective's DATA side): for each document, the token spans to mask,
    at exactly span/window noise density with non-overlapping spans.

    The classic sampler draws span starts sequentially (rejection on
    overlap) — a per-document sequential loop. This spelling partitions
    each document into fixed ``window``-token windows and derives ONE
    span offset per window from md5(doc_id, window_idx): same density
    and mean span length, non-overlap BY CONSTRUCTION, and the whole
    plan is a row-local HOF projection over the token array — no
    shuffle before the explode, seedless, engine-portable (the md5
    convention of the dedup audits), reproducible token-for-token on
    any cluster size. Emits one row per span (doc_id, span_idx,
    start_token 1-based, span_len) — the join-ready mask table a
    masking/packing step consumes.
    """
    toks = tokens("text")
    n = F.size(toks)
    n_win = F.floor(n / F.lit(window)).cast("int")
    off_mod = window - span + 1
    w_idx = F.explode(F.sequence(F.lit(0), F.col("n_win") - 1)).alias("w")
    base = documents.select(
        "doc_id", n.alias("n_tokens"), n_win.alias("n_win")
    ).filter(F.col("n_win") >= 1)
    offset = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.col("doc_id"), F.col("w"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % F.lit(off_mod)
    )
    return (
        base.select("doc_id", "n_tokens", w_idx)
        .select(
            "doc_id",
            "n_tokens",
            F.col("w").cast("long").alias("span_idx"),
            (F.col("w") * window + offset + 1).cast("long").alias("start_token"),
            F.lit(span).cast("long").alias("span_len"),
        )
        .orderBy("doc_id", "span_idx")
    )


COVER_K = 3  # greedy max-coverage selection rounds


def coverage_select(documents: DataFrame, k: int = COVER_K) -> DataFrame:
    """Greedy maximum-coverage subset selection: pick documents one at a
    time, each maximizing the count of vocabulary terms not yet covered
    — the submodular data-curation primitive (facility-location family)
    behind "choose the k docs that teach the most new things", with the
    classic (1 - 1/e) greedy guarantee.

    Greedy is sequential in k, so the rounds are UNROLLED (the MMR
    rule): each round anti-joins the doc-term table against the covered
    set (vocab-bounded, broadcastable), counts marginal gains with one
    combinable groupBy, and takes a global argmax via TakeOrdered-style
    window over the gains table. The doc-term table is the one
    corpus-sized pass, persisted; already-selected docs vanish naturally
    (their marginal gain is zero, so they produce no gain rows). Rounds
    where every remaining doc has zero gain emit nothing — in both
    engines. Output: selection round, doc, marginal gain, cumulative
    covered-term count.
    """
    dt = persist(
        documents.select(
            "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("term")
        )
    )
    out = None
    covered = None
    for r in range(1, k + 1):
        rem = dt if covered is None else dt.join(covered, "term", "left_anti")
        gains = rem.groupBy("doc_id").agg(
            F.count("*").cast("long").alias("marginal_gain")
        )
        # global argmax WITHOUT a single-partition window over the
        # corpus-sized gains table: 1-row max broadcast back, min doc id
        # breaks ties — both map-side-combinable aggregates
        mx = gains.agg(F.max("marginal_gain").alias("mg"))
        # the 1-row selection feeds new_terms AND the output row: cache it
        # so the anti-join + gains aggregate runs once per round, not once
        # per reference (still lazy — no action)
        sel = persist(
            gains.join(F.broadcast(mx))
            .filter(F.col("marginal_gain") == F.col("mg"))
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.max("mg").alias("marginal_gain"),
            )
            # an exhausted round (every term covered) aggregates an empty
            # table to one all-NULL row in BOTH engines — drop it
            .filter(F.col("doc_id").isNotNull())
        )
        new_terms = rem.join(
            sel.select("doc_id"), "doc_id"
        ).select("term").distinct()
        # each round's covered set references the previous round's THREE
        # times (rem, the union, cum) — a lazy localCheckpoint keeps the
        # unrolled plan linear instead of re-executing the whole prefix
        # per round (the connected_components rule; vocab-bounded rows)
        covered = lazy_checkpoint(
            new_terms
            if covered is None
            else covered.unionByName(new_terms).distinct()
        )
        cum = covered.agg(F.count("*").cast("long").alias("covered_terms"))
        row = sel.join(F.broadcast(cum)).select(
            F.lit(r).cast("long").alias("round"),
            "doc_id",
            "marginal_gain",
            "covered_terms",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("round")


STRAT_PCT_DIV = 10  # stratified budget = total_docs div 10 (a 10% sample)


def stratified_sample_mad(documents: DataFrame, pct_div: int = STRAT_PCT_DIV) -> DataFrame:
    """Neyman-style stratified sampling with a ROBUST dispersion weight:
    per-source allocation proportional to N_h * MAD_h (doc count times
    the median absolute deviation of doc length), so heterogeneous
    sources get proportionally more of the budget than uniform ones —
    the variance-minimizing idea of Neyman allocation with MAD standing
    in for sigma, which keeps the whole computation in EXACT integers
    (no sqrt, no float allocation: the CLAUDE.md determinism rule is
    what rules sigma out, not statistics).

    Medians and MADs come from per-source value HISTOGRAMS (lower
    median at rank ceil(n/2) — no row sort); the integer allocation uses
    largest-remainder apportionment (floor shares, then +1 to the
    largest exact remainders, ties broken by source), capped at N_h.
    Selection inside a stratum is the md5-prefix hash order (engine-
    portable, seed-free): rank-by-hash <= alloc_h. The output is the
    per-source audit row, with the selected docs' total chars as the
    selection-identity check.

    Scale: two bounded-key shuffles (per-source length histograms), one
    per-stratum top-alloc rank; strata counts are small by construction,
    so every window here runs over bounded tables.
    """
    from inde1_spark.functions.exprs import dec_floordiv

    def d38(c):
        return c.cast("decimal(38,0)")

    docs = documents.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    sizes = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))

    def lower_median(df: DataFrame, val: str, out: str) -> DataFrame:
        hist = df.groupBy("source", val).agg(F.count("*").cast("long").alias("m"))
        ws = Window.partitionBy("source").orderBy(val)
        cum = hist.withColumn(
            "cum", F.sum("m").over(ws.rowsBetween(Window.unboundedPreceding, 0))
        ).join(F.broadcast(sizes), "source")
        return (
            cum.filter(
                F.col("cum") >= F.expr("(n_docs + 1) div CAST(2 AS BIGINT)")
            )
            .groupBy("source")
            .agg(F.min(val).cast("long").alias(out))
        )

    med = lower_median(docs, "n_chars", "median_chars")
    dev = docs.join(F.broadcast(med), "source").select(
        "source", F.abs(F.col("n_chars") - F.col("median_chars")).alias("adev")
    )
    mad = lower_median(dev, "adev", "mad_chars")
    strata = (
        sizes.join(F.broadcast(med), "source")
        .join(F.broadcast(mad), "source")
        .withColumn(
            "weight",
            F.col("n_docs") * F.greatest(F.col("mad_chars"), F.lit(1).cast("long")),
        )
    )
    wg = Window.partitionBy()
    strata = strata.withColumn("w_total", F.sum("weight").over(wg).cast("long"))
    strata = strata.withColumn(
        "budget",
        F.expr(f"CAST(SUM(n_docs) OVER () div CAST({pct_div} AS BIGINT) AS BIGINT)"),
    )
    bw = (d38(F.col("budget")) * d38(F.col("weight"))).cast("decimal(38,0)")
    a0 = dec_floordiv(bw, d38(F.col("w_total"))).cast("long")
    strata = strata.withColumn("a0", a0).withColumn(
        "rem",
        (bw - d38(F.col("a0")) * d38(F.col("w_total"))).cast("decimal(38,0)"),
    )
    strata = strata.withColumn(
        "leftover", (F.col("budget") - F.sum("a0").over(wg)).cast("long")
    )
    wr = Window.orderBy(F.col("rem").desc(), F.col("source").asc())

    # persisted: the |sources|-row allocation table is consumed by both the
    # selection join and the final output — and its lineage re-derives every
    # median/MAD histogram, so replaying it would re-scan the corpus
    strata = persist(
        strata.withColumn(
            "alloc",
            F.least(
                F.col("a0")
                + F.when(
                    F.row_number().over(wr).cast("long") <= F.col("leftover"),
                    F.lit(1),
                ).otherwise(F.lit(0)).cast("long"),
                F.col("n_docs"),
            ),
        )
    )
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    wsel = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    sel = (
        docs.withColumn("rk", F.row_number().over(wsel).cast("long"))
        .join(F.broadcast(strata.select("source", "alloc")), "source")
        .filter(F.col("rk") <= F.col("alloc"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_selected"),
            F.sum("n_chars").cast("long").alias("sel_chars"),
        )
    )
    return (
        strata.join(F.broadcast(sel), "source", "left")
        .select(
            "source",
            "n_docs",
            "median_chars",
            "mad_chars",
            "weight",
            "alloc",
            F.coalesce(F.col("n_selected"), F.lit(0).cast("long")).alias("n_selected"),
            F.coalesce(F.col("sel_chars"), F.lit(0).cast("long")).alias("sel_chars"),
        )
        .orderBy("source")
    )


CURRICULUM_BUDGET_DIV = 2  # token budget = total tokens div 2 (a 50% cut)


def token_budget_curriculum(documents: DataFrame, budget_div: int = CURRICULUM_BUDGET_DIV) -> DataFrame:
    """Quality-first token-budget curriculum: sources ranked by mean
    quality score, then the global token budget fills greedily down the
    ranking — full sources until the budget breaks, a partial take at
    the boundary source, zero after. The planning table a data-mixture
    owner reads before a training run: what makes the cut, what gets
    truncated, what falls out entirely.

    Exact throughout: the per-source mean quality is an integer
    quotient at nano scale (sum of 1e4-scaled quality units * 1e6 div
    n_docs — round() on the 4dp quality doubles recovers their exact
    integer units first), cumulative tokens are plain long sums over
    the bounded source table, and the boundary take is
    clamp(budget - cum_before, 0, tokens_h).

    Scale: one corpus pass for per-doc token counts + quality units,
    one bounded-key shuffle to the per-source table; the ranking window
    runs over |sources| rows.
    """
    from inde1_spark.functions.exprs import dec_floordiv
    from inde1_spark.operators.text import quality_score

    def d38(c):
        return c.cast("decimal(38,0)")

    from inde1_spark.functions.exprs import tokens as _tok

    q = quality_score(documents).select(
        "doc_id",
        F.round(F.col("quality") * F.lit(1e4), 0).cast("long").alias("q4"),
    )
    per_doc = documents.select(
        "doc_id", "source", F.size(_tok("text")).cast("long").alias("n_tokens")
    ).join(q, "doc_id")
    per_src = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_h"),
        F.sum("q4").cast("long").alias("sq4"),
    )
    key = dec_floordiv(
        (d38(F.col("sq4")) * F.lit(1_000_000)).cast("decimal(38,0)"),
        d38(F.col("n_docs")),
    ).cast("long")
    per_src = per_src.withColumn("q_nano", key)
    wr = Window.orderBy(F.col("q_nano").desc(), F.col("source").asc())
    ranked = per_src.withColumn("rank", F.row_number().over(wr).cast("long"))
    ranked = ranked.withColumn(
        "budget",
        F.expr(f"CAST(SUM(tokens_h) OVER () div CAST({budget_div} AS BIGINT) AS BIGINT)"),
    ).withColumn(
        "cum_before",
        F.coalesce(
            F.sum("tokens_h").over(
                Window.orderBy(F.col("rank")).rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0).cast("long"),
        ),
    )
    take = F.greatest(
        F.least(F.col("budget") - F.col("cum_before"), F.col("tokens_h")),
        F.lit(0).cast("long"),
    )
    from inde1_spark.functions.exprs import ratio_round

    return ranked.select(
        "rank",
        "source",
        "n_docs",
        "tokens_h",
        (F.col("q_nano").cast("double") / F.lit(1e10)).alias("mean_quality"),
        (F.col("cum_before") + F.col("tokens_h")).alias("cum_tokens"),
        take.alias("take_tokens"),
        ratio_round(take, F.col("tokens_h"), 4).alias("take_frac"),
    ).orderBy("rank")


PACKING_BUDGETS = (512, 1024, 2048, 4096)


def padding_waste_sweep(documents: DataFrame, budgets: tuple = PACKING_BUDGETS) -> DataFrame:
    """Padding-waste sweep for the per-document chunking strategy: for
    each candidate sequence budget B, every document costs
    ceil(tokens/B) training rows and the last row of each doc carries
    (ceil*B - tokens) padding — the sheet that picks the context length
    BEFORE a packing run commits (the chunk-per-doc counterpart of
    ``pack_sequences``' concat-and-chunk lanes, which waste ~0 padding
    but split documents across shard boundaries; this sweep prices the
    document-preserving alternative).

    One corpus pass computes per-doc token counts; the budget fan-out is
    a row-local sequence explode BEFORE the bounded (|budgets|-key)
    aggregate, so map-side combine collapses everything in-stage. Waste
    share is exact ppm.
    """
    from inde1_spark.functions.exprs import ratio_round, tokens

    toks = documents.select(F.size(tokens("text")).cast("long").alias("n_tokens"))
    fan = toks.select(
        "n_tokens",
        F.explode(F.array(*[F.lit(b).cast("long") for b in budgets])).alias(
            "budget"
        ),
    )
    n_rows = F.expr("(n_tokens + budget - 1) div budget")
    per = fan.select(
        "budget",
        "n_tokens",
        n_rows.alias("n_rows"),
        (n_rows * F.col("budget") - F.col("n_tokens")).alias("pad"),
    )
    return (
        per.groupBy("budget")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.sum("n_rows").cast("long").alias("train_rows"),
            F.sum("pad").cast("long").alias("pad_tokens"),
        )
        .select(
            "budget",
            "n_docs",
            "tokens_total",
            "train_rows",
            "pad_tokens",
            ratio_round(
                F.col("pad_tokens"),
                F.greatest(
                    F.col("pad_tokens") + F.col("tokens_total"),
                    F.lit(1).cast("long"),
                ),
                6,
            ).alias("pad_share"),
        )
        .orderBy("budget")
    )


# ---------------------------------------------------------------------------
# Theil inequality decomposition (within/between sources)
# ---------------------------------------------------------------------------

def theil_index(documents: DataFrame) -> DataFrame:
    """Theil T inequality of document sizes, DECOMPOSED by source — the
    member of the concentration family that ``gini_token_concentration``
    cannot provide: Theil is the unique inequality index that splits
    EXACTLY into within-group + between-group terms, so a curator can
    read "is my size imbalance a few bloated sources, or bloat inside
    every source" from one table.

    Per source g: T_g = (1/X_g) * Sum_i x_i * ln(x_i * n_g / X_g),
    emitted with the nano-log convention (every ln runs over an INTEGER
    product — x_i * n_g stays < 2^53 for documents under ~1e9 chars and
    sources under ~1e4 docs at a time; past that, pre-bucket sizes) and
    decimal(38,0) accumulation; the single divide by X_g runs once in
    doubles. between_term = (X_g/X) * ln((X_g/X)/(n_g/N)) nano-snapped
    the same way; Sum(share_g * theil_within) + Sum(between_term) is the
    corpus total.

    Scale: one corpus pass for the per-doc terms (map-side combined on
    |sources| keys); the share/between arithmetic rides a broadcast of
    the 1-row corpus total.
    """

    def d38(c):
        return c.cast("decimal(38,0)")

    def lnn(c):
        return F.round(F.log(c.cast("double")) * F.lit(1e9), 0).cast("long")

    base = documents.select(
        "source", F.col("n_chars").cast("long").alias("x")
    ).filter(F.col("x") > 0)
    # persisted: the |sources|-row table feeds the per-doc term join, the
    # corpus total and the output join — one corpus aggregation, three reads
    per_src = persist(
        base.groupBy("source").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("x").cast("long").alias("x_sum"),
        )
    )
    # per-doc terms need n_g and X_g alongside every row: broadcast the
    # bounded per-source table back onto the corpus
    terms = (
        base.join(F.broadcast(per_src), "source")
        .select(
            "source",
            (
                d38(F.col("x"))
                * d38(lnn(F.col("x") * F.col("n_docs")) - lnn(F.col("x_sum")))
            ).alias("t"),
        )
        .groupBy("source")
        .agg(F.sum("t").alias("t_sum"))
    )
    tot = per_src.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
        F.sum("x_sum").cast("long").alias("x_total"),
    )
    joined = per_src.join(terms, "source").join(F.broadcast(tot))
    share = F.col("x_sum").cast("double") / F.col("x_total").cast("double")
    theil_within = (
        dec_to_double_exact(F.col("t_sum"))
        / F.lit(1e9)
        / F.col("x_sum").cast("double")
    )
    between_nano = lnn(F.col("x_sum") * F.col("n_total")) - lnn(
        F.col("x_total") * F.col("n_docs")
    )
    return joined.select(
        "source",
        "n_docs",
        "x_sum",
        share.alias("size_share"),
        theil_within.alias("theil_within"),
        (share * between_nano.cast("double") / F.lit(1e9)).alias("between_term"),
    ).orderBy("source")


def diversity_profile(documents: DataFrame) -> DataFrame:
    """Per-source lexical diversity panel: Simpson concentration
    (collision probability of two random tokens — the inverse-diversity
    member), Shannon entropy, and Pielou evenness H/ln V — the
    one-table answer to "which sources are template farms" that
    complements ``gini_token_concentration`` (inequality of the SAME
    distribution) and ``ttr_profile`` (vocab growth).

    Exact contract: Simpson's numerator Sum c(c-1) and denominator
    C(C-1) are exact decimal(38,0); the ratio is micro-rounded half-up
    (the kruskal quotient recipe). Shannon follows the token_entropy
    convention (nano-snapped integer-count logs, decimal accumulation,
    one double divide); evenness is one further IEEE divide by the
    nano-snapped ln V. Sources with a single token or term filter out
    (ANSI-safe denominators).

    Scale: one corpus-volume (source, term) reduce, map-side combined;
    everything after runs on the bounded per-source table.
    """
    from inde1_spark.functions.exprs import dec_floordiv

    def d38(c):
        return c.cast("decimal(38,0)")

    def lnn(c):
        return F.round(F.log(c.cast("double")) * F.lit(1e9), 0).cast("long")

    terms = (
        documents.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    g = terms.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.sum(d38(F.col("c")) * d38(F.col("c") - 1)).alias("s2"),
        F.sum(d38(F.col("c")) * d38(lnn(F.col("c")))).alias("clnc"),
    ).filter((F.col("n_tokens") > 1) & (F.col("vocab") > 1))
    den = (d38(F.col("n_tokens")) * d38(F.col("n_tokens") - 1)).cast(
        "decimal(38,0)"
    )
    simpson_micro = dec_floordiv(
        (F.col("s2") * F.lit(1_000_000) * F.lit(2) + den).cast("decimal(38,0)"),
        (den * F.lit(2)).cast("decimal(38,0)"),
    )
    shannon = (
        lnn(F.col("n_tokens")).cast("double")
        - dec_to_double_exact(F.col("clnc")) / F.col("n_tokens").cast("double")
    ) / F.lit(1e9)
    return g.select(
        "source",
        "n_tokens",
        "vocab",
        simpson_micro.cast("long").alias("simpson_micro"),
        shannon.alias("shannon"),
        (shannon / (lnn(F.col("vocab")).cast("double") / F.lit(1e9))).alias(
            "evenness"
        ),
    ).orderBy("source")


def lorenz_curve(documents: DataFrame) -> DataFrame:
    """Lorenz curve of document sizes in deciles — the TABLE behind
    ``gini_token_concentration``'s single number: cumulative share of
    total characters held by the smallest 10%, 20%, ... of documents,
    which is what a curation review actually plots ("the top decile
    holds 38% of the corpus" is actionable; a Gini of 0.41 is not).

    Exact: rank by (n_chars, doc_id) — a total order — decile =
    ceil(10 r / n) spelled with integer arithmetic ((10r + n - 1) div
    n), per-decile sums in decimal(38,0), cumulative shares as
    round-half-up micro ratios (ratio_round on the running decimals).

    Scale: the global rank is the one deliberate single-task sort —
    over doc COUNT, and only of (n_chars, doc_id) pairs; at petabyte
    doc counts switch the rank to a histogram cumulative (the spearman
    trick) with identical decile math.
    """
    w = Window.orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    wg = Window.partitionBy()
    ranked = documents.select(
        F.col("n_chars").cast("long").alias("x"),
        F.row_number().over(w).cast("long").alias("r"),
        F.count("*").over(wg).cast("long").alias("n"),
    )
    dec = ranked.select(
        F.expr("(10 * r + n - 1) div n").alias("decile"), "x", "n"
    ).groupBy("decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("chars"),
        F.max("n").alias("n_total"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = dec.select(
        "decile",
        "n_docs",
        F.sum("n_docs").over(wc).cast("long").alias("cum_docs"),
        F.sum("chars").over(wc).cast("decimal(38,0)").alias("cum_chars"),
        F.sum("chars").over(Window.partitionBy()).cast("decimal(38,0)").alias(
            "tot_chars"
        ),
        "n_total",
    )
    return cum.select(
        "decile",
        "n_docs",
        ratio_round(F.col("cum_docs"), F.col("n_total"), 6).alias(
            "cum_docs_share"
        ),
        ratio_round(F.col("cum_chars"), F.col("tot_chars"), 6).alias(
            "cum_chars_share"
        ),
    ).orderBy("decile")


def lognormal_length_fit(documents: DataFrame) -> DataFrame:
    """Lognormal fit of the document-length distribution (the standard
    model for natural-corpus lengths) with a built-in adequacy check:
    moment estimates (mu, sigma) of ln(n_chars), plus the gap between
    mu and the EXACT empirical median of the logs — for a true
    lognormal the two coincide, so a large standardized gap says the
    corpus is mixture-shaped (e.g. boilerplate spikes) and
    length-threshold curation should not assume one mode.

    Determinism: each ln runs over an INTEGER n_chars and micro-snaps
    (the _log_scaled convention); micro-longs sum in decimal(38,0) with
    digit-split conversions; the empirical median is the exact lower
    order statistic of the snapped logs by the (value, doc_id) total
    order — no quantile-definition ambiguity anywhere.

    Scale: one projection pass for the snapped logs, one bounded rank
    for the median (the exact path; approx_percentile swap documented
    at 100 TB), one moments reduce.
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    def d38(c):
        return c.cast("decimal(38,0)")

    logs = documents.filter(F.col("n_chars") > 0).select(
        "doc_id",
        F.round(F.log(F.col("n_chars").cast("double")) * F.lit(1e6), 0)
        .cast("long")
        .alias("l"),
    )
    wg = Window.partitionBy()
    wo = Window.orderBy("l", "doc_id")
    med = (
        logs.select(
            "l",
            F.row_number().over(wo).cast("long").alias("rn"),
            F.count("*").over(wg).cast("long").alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("l").alias("med_micro"))
    )
    agg = logs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("l").cast("decimal(38,0)").alias("s"),
        F.sum(d38(F.col("l")) * d38(F.col("l"))).alias("ss"),
    ).filter(F.col("n_docs") >= 2)
    n_d = F.col("n_docs").cast("double")
    mu = dec_to_double_exact(F.col("s")) / n_d / F.lit(1e6)
    var_num = (
        d38(F.col("n_docs")) * F.col("ss").cast("decimal(38,0)")
        - F.col("s").cast("decimal(38,0)") * F.col("s").cast("decimal(38,0)")
    ).cast("decimal(38,0)")
    sigma = F.sqrt(
        F.greatest(dec_to_double_exact(var_num), F.lit(0.0))
        / (n_d * n_d * F.greatest(n_d - F.lit(1.0), F.lit(1.0)))
    ) / F.lit(1e6)
    out = agg.join(F.broadcast(med))
    med_log = F.col("med_micro").cast("double") / F.lit(1e6)
    gap = mu - med_log
    return out.select(
        "n_docs",
        mu.alias("mu_log"),
        sigma.alias("sigma_log"),
        med_log.alias("empirical_median_log"),
        gap.alias("mean_median_gap"),
        F.when(sigma <= 0, F.lit(False)).otherwise(
            F.abs(gap) > F.lit(0.1) * sigma
        ).alias("asymmetric_flag"),
    )


PREP_STAGES = ("raw", "quality", "exact_dedup", "split_train", "split_val",
               "split_test")


def corpus_prep_cost_audit(documents: DataFrame) -> DataFrame:
    """Cost/row accounting of the DEPLOYED corpus-preparation job
    (jobs.corpus_prep: Gopher keep -> exact dedup among survivors ->
    contamination-safe source-hash split) as a first-class query — the
    data-card table for the job layer, which was pytest-only until now.
    ``dedup_pipeline_funnel`` prices a generic per-source gate ladder;
    this audit prices the job's OWN stages, globally, in all three
    currencies a capacity plan needs (docs, tokens, chars), so a config
    change to the job shows up as a diff in this table before a 100 TB
    run pays for it.

    Stage semantics mirror jobs.corpus_prep exactly: the dedup keeper is
    the min doc_id among QUALITY SURVIVORS of the same md5(text) (the
    job dedups after filtering, so a kept duplicate whose keeper was
    quality-rejected must elect a new keeper), and the split is the
    md5 bucket of ``source``. One pass computes all per-doc stage flags
    (one window shuffle on the text hash); the stage table is six
    projections of a single global aggregate row — no per-stage rescans.
    Retention is an exact round-half-up percent of the raw token mass.
    """
    from inde1_spark.operators.text import gopher_keep

    keeper = F.min(F.when(gopher_keep(), F.col("doc_id"))).over(
        Window.partitionBy(F.md5("text"))
    )
    flags = documents.select(
        F.size(tokens("text")).cast("long").alias("n_tok"),
        F.col("n_chars").cast("long").alias("n_chr"),
        gopher_keep().alias("keep_q"),
        (gopher_keep() & (F.col("doc_id") == keeper)).alias("keep_d"),
        _split_label(hash_bucket(F.col("source"), 100)).alias("split"),
    )

    def _m(cond, tag):
        c = F.when(cond, 1).otherwise(0)
        return [
            F.sum(c).cast("long").alias(f"docs_{tag}"),
            F.sum(F.when(cond, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias(f"toks_{tag}"),
            F.sum(F.when(cond, F.col("n_chr")).otherwise(0))
            .cast("long")
            .alias(f"chrs_{tag}"),
        ]

    agg = flags.agg(
        *_m(F.lit(True), "raw"),
        *_m(F.col("keep_q"), "quality"),
        *_m(F.col("keep_d"), "exact_dedup"),
        *_m(F.col("keep_d") & (F.col("split") == "train"), "split_train"),
        *_m(F.col("keep_d") & (F.col("split") == "val"), "split_val"),
        *_m(F.col("keep_d") & (F.col("split") == "test"), "split_test"),
    )
    # r12: the six stage rows fan out of the 1-row aggregate via ONE
    # inline(array(...)) generator (minhash_band_sweep pattern) — the old
    # per-stage union needed the aggregate persisted because each branch
    # re-read it; one consumer needs neither the union nor the persist
    grid = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("stage_idx"),
                F.lit(s).alias("stage"),
                F.col(f"docs_{s}").alias("n_docs"),
                F.col(f"toks_{s}").alias("n_tokens"),
                F.col(f"chrs_{s}").alias("n_chars"),
                ratio_round(
                    F.col(f"toks_{s}") * 100,
                    F.greatest(F.col("toks_raw"), F.lit(1).cast("long")),
                    2,
                ).alias("token_retention_pct"),
            )
            for i, s in enumerate(PREP_STAGES)
        ]
    )
    return agg.select(F.inline(grid)).orderBy("stage_idx")


EPOCH_CAP_MILLI = 4000  # ~4 epochs: the data-constrained diminishing-returns line


def mixture_epoch_plan(documents: DataFrame) -> DataFrame:
    """Per-source epoch (repetition) plan under a one-corpus-equivalent
    token budget with sqrt-temperature mixture weights — the
    data-constrained-scaling planning table (Muennighoff et al. 2023:
    past ~4 epochs, repeated tokens stop buying loss). Where
    ``mixture_temperature`` THINS dominant sources to hit a budget by
    deletion, this plans the complementary REPETITION side: serve the
    whole budget at the temperature-flattened shares and report how many
    times each source's unique tokens must repeat — epochs_milli =
    round(1000 * T * w_s / n_s) with w_s = sqrt(n_s)/sum(sqrt) over
    token counts and T the total corpus token mass. Sources pushed past
    EPOCH_CAP_MILLI get flagged: their upsampled share is paid in
    diminishing-returns repeats, the signal to re-temper or go collect
    more of that source.

    sqrt is the one fractional power IEEE guarantees correctly rounded
    (the mixture_temperature rationale); it snaps to a nano-grid long
    immediately and every share/epoch after runs in DECIMAL(38,0)
    round-half-up (dec_ratio_round) — T*q_s products pass 2^63 long
    before a corpus is even large, the exact regime the wide-decimal
    rule exists for. One corpus pass (map-side-combinable token sums),
    then k-row broadcast arithmetic.
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    per = documents.groupBy("source").agg(
        F.sum(F.size(tokens("text")).cast("long")).alias("n_tokens")
    )
    qs = F.floor(
        F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    scored = per.select("source", "n_tokens", qs.alias("q_s"))
    tot = scored.agg(
        F.sum("n_tokens").cast("long").alias("t_total"),
        F.sum("q_s").cast("long").alias("q_total"),
    )
    d38 = "decimal(38,0)"
    epochs_milli = dec_ratio_round(
        F.col("t_total").cast(d38)
        * F.col("q_s").cast(d38)
        * F.lit(1000).cast(d38),
        F.col("q_total").cast(d38)
        * F.greatest(F.col("n_tokens"), F.lit(1)).cast(d38),
        0,
    ).cast("long")
    return (
        scored.join(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            dec_ratio_round(
                F.col("q_s").cast(d38) * F.lit(1_000_000).cast(d38),
                F.col("q_total").cast(d38),
                0,
            ).cast("long").alias("weight_ppm"),
            epochs_milli.alias("epochs_milli"),
            (epochs_milli > F.lit(EPOCH_CAP_MILLI)).alias("over_epoch_cap"),
        )
        .orderBy("source")
    )


def split_balance_audit(documents: DataFrame) -> DataFrame:
    """Stratification audit of the deterministic hash split: per source,
    does the doc-id md5 split land train/val/test shares NEAR the global
    shares — the pre-training sanity check that a source didn't get
    unlucky in the hash (a small source CAN land 100% in test; its eval
    numbers would then measure that source, not the model). Deviation is
    total variation distance between the source's split distribution and
    the corpus-wide one, in the exact common-denominator integer identity
    (the value_drift/source_length_drift spelling): TVD_s = sum_splits
    |n_{s,split}*N - N_split*n_s| / (2*n_s*N) — no float ratios, no
    reference distribution to zero out. The balance flag is the same
    comparison cleared of its denominator (10*num <= n_s*N, i.e.
    TVD <= 0.05), so the verdict is pure integer math.

    One map-side-combinable (source, split) count; the 3-bin fill-in and
    the totals ride a broadcast of the k-source table.
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    split = _split_label(hash_bucket(F.col("doc_id"), 100))
    # counts feeds per-source totals, global split shares, the grand total
    # AND the grid fill-in: persist the tiny (source x split) table so the
    # corpus scan happens exactly once
    counts = persist(documents.groupBy(
        "source", split.alias("split")
    ).agg(F.count("*").cast("long").alias("c")))
    # fixed 3-bin grid so missing splits contribute their full global mass;
    # built from a range, not local Python rows: those would make every
    # action that reads the grid start a Python worker per partition
    bins = documents.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(s) for s in ("train", "val", "test")]))
        .alias("split")
    )
    per_source = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_s")
    )
    global_split = counts.groupBy("split").agg(
        F.sum("c").cast("long").alias("g")
    )
    total = counts.agg(F.sum("c").cast("long").alias("n_total"))
    grid = (
        per_source.join(F.broadcast(bins))
        .join(F.broadcast(counts), ["source", "split"], "left")
        .join(F.broadcast(global_split), "split")
        .join(F.broadcast(total))
        .select(
            "source",
            "split",
            "n_s",
            "n_total",
            F.coalesce(F.col("c"), F.lit(0).cast("long")).alias("c"),
            "g",
        )
    )
    d38 = "decimal(38,0)"
    cell = F.abs(
        F.col("c").cast(d38) * F.col("n_total").cast(d38)
        - F.col("g").cast(d38) * F.col("n_s").cast(d38)
    )
    pivoted = grid.groupBy("source", "n_s", "n_total").agg(
        F.sum(cell).alias("num"),
        F.sum(F.when(F.col("split") == "train", F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )
    den = (
        F.col("n_s").cast(d38)
        * F.col("n_total").cast(d38)
        * F.lit(2).cast(d38)
    )
    return pivoted.select(
        "source",
        F.col("n_s").alias("n_docs"),
        "n_train",
        "n_val",
        "n_test",
        dec_ratio_round(F.col("num"), den, 4).alias("split_tvd"),
        (
            F.lit(10).cast(d38) * F.col("num")
            <= F.col("n_s").cast(d38) * F.col("n_total").cast(d38)
        ).alias("balanced"),
    ).orderBy("source")


def quality_dedup_interaction(documents: DataFrame) -> DataFrame:
    """Interaction audit between the quality filter and exact dedup — do
    the two curation passes remove the SAME mass? Per fixed-width
    quality decile (``quality_bins``'s row-local binning): the docs in
    a duplicate group (md5(text) seen >= 2x), the REDUNDANT docs exact
    dedup would actually drop (every group member but the kept min
    doc_id — ``dedup_exact``'s keep rule), and the bin's redundancy
    LIFT vs the corpus rate. Lift >> 1 in the low-quality bins means
    quality filtering already removes most dup mass (a cheaper filter
    order); lift ~1 everywhere means the passes are independent and
    both earn their cost — the pipeline-ordering evidence
    ``dedup_pipeline_funnel`` measures one fixed order of.

    One md5-key groupBy prices the dup groups (hash only, never text),
    one row-local quality projection, a key-equi join between them, a
    10-row rollup; the corpus lift denominator rides a 1-row broadcast.
    Lift is wide-decimal round-half-up (doc_count products pass 2^53
    long before a corpus is large); bins with zero corpus redundancy
    emit NULL lift in both engines.
    """
    from inde1_spark.functions.exprs import dec_ratio_round, ratio_round
    from inde1_spark.operators.text import quality_parts

    _, quality, _ = quality_parts()
    groups = (
        documents.groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.count("*").cast("long").alias("n_in_group"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )
    docs = documents.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.least(
            F.floor(quality * F.lit(10.0)).cast("long"), F.lit(9).cast("long")
        ).alias("bin"),
    )
    flagged = docs.join(groups, "text_md5").select(
        "bin",
        (F.col("n_in_group") >= 2).alias("is_dup_involved"),
        (
            (F.col("n_in_group") >= 2)
            & (F.col("doc_id") != F.col("keep_doc_id"))
        ).alias("is_redundant"),
    )
    per_bin = flagged.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("is_dup_involved"), 1).otherwise(0))
        .cast("long")
        .alias("n_dup_involved"),
        F.sum(F.when(F.col("is_redundant"), 1).otherwise(0))
        .cast("long")
        .alias("n_redundant"),
    )
    totals = per_bin.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
        F.sum("n_redundant").cast("long").alias("r_total"),
    )
    d38 = "decimal(38,0)"
    return per_bin.join(F.broadcast(totals)).select(
        "bin",
        "n_docs",
        "n_dup_involved",
        "n_redundant",
        ratio_round(
            F.col("n_redundant") * 100,
            F.greatest(F.col("n_docs"), F.lit(1).cast("long")),
            2,
        ).alias("redundant_pct"),
        F.when(
            F.col("r_total") > 0,
            dec_ratio_round(
                (
                    F.col("n_redundant").cast(d38)
                    * F.col("n_total").cast(d38)
                    * F.lit(100).cast(d38)
                ).cast(d38),
                (F.col("n_docs").cast(d38) * F.col("r_total").cast(d38)).cast(
                    d38
                ),
                2,
            ),
        ).alias("lift_x100"),
    ).orderBy("bin")


def curation_order_audit(documents: DataFrame) -> DataFrame:
    """Pipeline-ORDER interaction audit: dedup-then-filter vs
    filter-then-dedup over the engine's own gates (``dedup_exact``'s
    keep-lowest-doc-id rule, the funnel's quality cut) — the one-row
    answer to a real pipeline-design question ``dedup_pipeline_funnel``
    (which measures ONE fixed order) cannot ask: when the canonical
    copy of a duplicate group fails the quality gate, dedup-first
    throws the whole group away, while filter-first keeps the best
    SURVIVING copy. The rescued doc/token mass is exactly the cost of
    running dedup before filtering; the kept sets nest (dedup-first ⊆
    filter-first), so 'rescued' is the complete difference.

    One text-hash window pass computes both keepers (min doc_id over
    the group, and min over the quality-passing members — a null when
    the group has none, which correctly keeps nothing); one global
    aggregate folds both paths. Percents exact round-half-up.
    """
    from inde1_spark.functions.exprs import ratio_round
    from inde1_spark.operators.dedup import FUNNEL_QUALITY_MIN
    from inde1_spark.operators.text import quality_parts

    n_tokens, quality, _ = quality_parts()
    w = Window.partitionBy(F.md5("text"))
    q = quality >= F.lit(FUNNEL_QUALITY_MIN)
    flags = documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        q.alias("q"),
        F.min("doc_id").over(w).alias("keeper_all"),
        F.min(F.when(q, F.col("doc_id"))).over(w).alias("keeper_q"),
    )
    dedup_first = F.col("q") & (F.col("doc_id") == F.col("keeper_all"))
    filter_first = F.col("q") & (F.col("doc_id") == F.col("keeper_q"))
    agg = flags.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(F.when(dedup_first, 1).otherwise(0))
        .cast("long")
        .alias("n_dedup_first_kept"),
        F.sum(F.when(filter_first, 1).otherwise(0))
        .cast("long")
        .alias("n_filter_first_kept"),
        F.coalesce(F.sum(F.when(dedup_first, F.col("n_tokens"))), F.lit(0))
        .cast("long")
        .alias("tokens_dedup_first"),
        F.coalesce(F.sum(F.when(filter_first, F.col("n_tokens"))), F.lit(0))
        .cast("long")
        .alias("tokens_filter_first"),
    )
    return agg.select(
        "n_total",
        "n_dedup_first_kept",
        "n_filter_first_kept",
        (F.col("n_filter_first_kept") - F.col("n_dedup_first_kept"))
        .cast("long")
        .alias("n_rescued"),
        "tokens_dedup_first",
        "tokens_filter_first",
        ratio_round(
            (F.col("tokens_filter_first") - F.col("tokens_dedup_first")) * 100,
            F.greatest(F.col("tokens_filter_first"), F.lit(1).cast("long")),
            2,
        ).alias("rescued_token_pct"),
    )


CORPUS_SHARDS = 8      # target export shards for the plan
SHARD_BLOCK = 1024     # doc_id block width for the two-level cumulative sum


def corpus_shard_plan(
    documents: DataFrame, n_shards: int = CORPUS_SHARDS
) -> DataFrame:
    """Token-weighted export sharding planner — ``file_compaction_plan``
    for the CORPUS: assign contiguous doc_id ranges to ``n_shards``
    output shards so each carries ~equal TOKENS (docs vary in length;
    equal doc counts give unequal training shards), by the cumulative-
    fill rule shard = floor(cum_tokens_before * S / total). Contiguity
    preserves id-range locality (resumable exports, range-prunable
    reads); the fill column exposes where one giant document forces
    imbalance no contiguous plan can fix.

    The cumulative sum is TWO-LEVEL so no stage sorts the corpus in one
    task: per-doc-id-block totals first (keyed groupBy), a running sum
    over the collapsed block table (corpus/1024 rows), then an in-block
    running sum (window partitioned by block — bounded partitions at
    any corpus size); cum_before = block prefix + in-block prefix. The
    shard assignment divides in DECIMAL(38,0) (cum * S passes 2^63 at
    corpus scale — the wide-decimal rule); fill percents are exact
    round-half-up.
    """
    from inde1_spark.functions.exprs import dec_floordiv, ratio_round

    d38 = "decimal(38,0)"
    toks = documents.select(
        "doc_id",
        (F.floor(F.col("doc_id") / F.lit(SHARD_BLOCK))).cast("long").alias(
            "block"
        ),
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    block_tot = toks.groupBy("block").agg(
        F.sum("n_tokens").cast("long").alias("bt")
    )
    w_blocks = Window.orderBy("block").rowsBetween(
        Window.unboundedPreceding, -1
    )
    block_pre = block_tot.select(
        "block",
        F.coalesce(F.sum("bt").over(w_blocks), F.lit(0))
        .cast("long")
        .alias("block_before"),
    )
    w_in = Window.partitionBy("block").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = toks.withColumn(
        "in_before",
        F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)).cast("long"),
    ).join(block_pre, "block")
    total = toks.agg(
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("total")
    )
    cum_before = (F.col("block_before") + F.col("in_before")).cast("long")
    shard = F.least(
        dec_floordiv(
            (cum_before.cast(d38) * F.lit(int(n_shards)).cast(d38)).cast(d38),
            F.greatest(F.col("total"), F.lit(1)).cast(d38),
        ).cast("long"),
        F.lit(int(n_shards) - 1).cast("long"),
    )
    assigned = cum.join(F.broadcast(total)).select(
        shard.alias("shard"), "doc_id", "n_tokens", "total"
    )
    return (
        assigned.groupBy("shard", "total")
        .agg(
            F.min("doc_id").alias("lo_doc_id"),
            F.max("doc_id").alias("hi_doc_id"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .select(
            "shard",
            "lo_doc_id",
            "hi_doc_id",
            "n_docs",
            "n_tokens",
            # fill = n_tokens / (total/S) as exact percent
            ratio_round(
                F.col("n_tokens") * F.lit(int(n_shards)) * 100,
                F.greatest(F.col("total"), F.lit(1).cast("long")),
                2,
            ).alias("fill_pct"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# truncation_loss_sweep: context-length price list over the document corpus
# ---------------------------------------------------------------------------

# candidate maximum sequence lengths (tokens) the sweep prices
SEQ_LEN_GRID = (128, 512, 2048, 8192)


def truncation_loss_sweep(
    documents: DataFrame, lens: tuple[int, ...] = SEQ_LEN_GRID
) -> DataFrame:
    """Context-length price list — what does each candidate max sequence
    length cost in truncated documents and discarded tokens? The
    sibling decision table to ``pack_sequences`` (which lays documents
    into shards at ONE budget): before committing a budget, this sweep
    prices the grid — per candidate length L, the documents longer than
    L (their tails are cut), the share of corpus tokens those cut tails
    contain, and the corpus maximum (the smallest L that truncates
    nothing). A knee where token loss collapses while doc truncation is
    still high is the signature of a few long outliers — route those to
    ``length_outliers`` trimming instead of buying context for them.

    One projection computes each document's exact whitespace token
    count (the ``tokens`` convention shared with pack_sequences /
    vocab_coverage); the grid is a bounded literal explode and the
    rollup map-side combines — no shuffle keyed on anything but the
    4-row grid. Token sums are exact longs; shares are wide-decimal
    round-half-up (corpus-scale token counts pass 2^53 * pct).
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    base = documents.select(
        F.size(tokens("text")).cast("long").alias("n_tok")
    )
    out = (
        base.select(
            "n_tok",
            F.explode(
                F.array(*[F.lit(int(n)).cast("long") for n in lens])
            ).alias("max_len"),
        )
        .groupBy("max_len")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("n_tok") > F.col("max_len"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_docs_truncated"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum(
                F.greatest(
                    F.col("n_tok") - F.col("max_len"),
                    F.lit(0).cast("long"),
                )
            )
            .cast("long")
            .alias("tokens_lost"),
            F.max("n_tok").cast("long").alias("max_doc_tokens"),
        )
    )
    return out.select(
        "max_len",
        "n_docs",
        "n_docs_truncated",
        "n_tokens",
        "tokens_lost",
        "max_doc_tokens",
        dec_ratio_round(
            F.col("n_docs_truncated") * 100,
            F.greatest(F.col("n_docs"), F.lit(1).cast("long")),
            4,
        ).alias("trunc_doc_pct"),
        dec_ratio_round(
            F.col("tokens_lost") * 100,
            F.greatest(F.col("n_tokens"), F.lit(1).cast("long")),
            4,
        ).alias("token_loss_pct"),
    ).orderBy("max_len")


# ---------------------------------------------------------------------------
# pack_budget_sweep: shard token-budget price list for the packing layout
# ---------------------------------------------------------------------------

# candidate shard token budgets the sweep prices
PACK_BUDGET_GRID = (512, 2048, 8192, 32768)


def pack_budget_sweep(
    documents: DataFrame,
    budgets: tuple[int, ...] = PACK_BUDGET_GRID,
    packers: int = PACK_PACKERS,
) -> DataFrame:
    """Shard-budget price list for ``pack_sequences``' layout knob —
    ``truncation_loss_sweep`` prices what a context budget cuts from
    DOCUMENTS; this prices what it wastes in SHARDS: per candidate
    budget B, the exact shard count the packer-lane layout emits
    (ceil(lane_tokens/B) per lane — each lane's final partial shard is
    the only slack, so bigger B means fewer, fuller shards but coarser
    units for the trainer to shuffle), the total slack tokens, the
    fill rate, and the documents LONGER than B (which a
    concatenate-and-chunk layout must split across shard boundaries —
    acceptable for pretraining, the count to watch when shards must
    hold whole documents). Read the two sweeps together to pick the
    budget: token loss on one side, shard fill and fragmentation on
    the other.

    ONE token-count pass feeds both aggregates (per-lane totals via the
    engine-portable md5 lane assignment — the pack_sequences spelling —
    and the per-doc over-budget counts); the budget grid is a bounded
    literal explode; the two per-budget tables join on the 4-row grid.
    Exact longs; wide-decimal round-half-up shares (corpus token counts
    times 100 pass 2^53).
    """
    from inde1_spark.functions.exprs import dec_ratio_round
    from inde1_spark.operators.text import hash_bucket

    base = documents.select(
        F.size(tokens("text")).cast("long").alias("n_tok"),
        hash_bucket(F.col("doc_id"), packers).alias("packer"),
    )
    grid = F.explode(
        F.array(*[F.lit(int(b)).cast("long") for b in budgets])
    ).alias("budget")
    lanes = base.groupBy("packer").agg(
        F.sum("n_tok").cast("long").alias("lane_tokens")
    )
    per_budget = (
        lanes.select("lane_tokens", grid)
        .select(
            "budget",
            "lane_tokens",
            F.expr("(lane_tokens + budget - 1) div budget").alias("shards"),
        )
        .groupBy("budget")
        .agg(
            F.count("*").cast("long").alias("n_lanes"),
            F.sum("lane_tokens").cast("long").alias("total_tokens"),
            F.sum("shards").cast("long").alias("n_shards"),
        )
    )
    overs = (
        base.select("n_tok", grid)
        .groupBy("budget")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_tok") > F.col("budget"), 1).otherwise(0))
            .cast("long")
            .alias("n_docs_over"),
        )
    )
    out = per_budget.join(F.broadcast(overs), "budget")
    cap = F.col("n_shards") * F.col("budget")
    return out.select(
        "budget",
        "n_lanes",
        "n_docs",
        "total_tokens",
        "n_shards",
        (cap - F.col("total_tokens")).alias("slack_tokens"),
        dec_ratio_round(
            F.col("total_tokens") * 100,
            F.greatest(cap, F.lit(1).cast("long")),
            2,
        ).alias("fill_pct"),
        "n_docs_over",
        dec_ratio_round(
            F.col("n_docs_over") * 100,
            F.greatest(F.col("n_docs"), F.lit(1).cast("long")),
            4,
        ).alias("over_doc_pct"),
    ).orderBy("budget")
