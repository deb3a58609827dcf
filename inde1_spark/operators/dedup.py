"""Deduplication operators for large-scale training-data pipelines.

Five family members, all pure DataFrame plans over the ``documents`` /
``embeddings`` tables:

- exact:          md5-hash groupBy (one shuffle on the hash)
- n-gram Jaccard: exact near-dup ground truth via inverted-index pair join
- MinHash + LSH:  shingle -> minhash signature -> banded bucket join -> verify
- SimHash:        32-bit signature -> banded bucket join -> Hamming verify
- embedding:      cosine near-dup over the embedding column

Scale notes (the part that matters at 100 TB):
- Nothing collects to the driver; every step is a join/groupBy Catalyst can
  shuffle-partition and AQE can skew-split.
- The LSH band join is the scale path: candidate pairs are generated only
  within equal (band, signature) buckets, so cost tracks true-duplicate
  density instead of |docs|^2. The exact Jaccard verify runs only on
  candidates.
- DETERMINISM TRADE-OFF: shingle/token ids here come from a sorted global
  dictionary (row_number over distinct shingles) so the DuckDB oracle can
  reproduce signatures bit-for-bit. In production replace the dictionary
  with ``F.xxhash64(shingle)`` — no global sort, no dictionary join
  (see ``minhash_signatures_fast``); the LSH math is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from inde1_spark.functions.exprs import (
    dot_exact,
    norm_exact,
    ratio_round,
    ratio_scaled,
    tokens,
    word_shingles,
)
from inde1_spark.plans.lifecycle import lazy_checkpoint, persist, spread

# re-exported: perfbench/queries.py imports release_persisted from here
from inde1_spark.plans.lifecycle import release_persisted  # noqa: F401

# MinHash parameters — shared with the DuckDB oracle (inde1_spark/oracles.py).
MINHASH_PRIME = 2147483647  # 2^31 - 1
N_PERM = 16
N_BANDS = 4  # 4 bands x 4 rows: P(candidate) = 1-(1-j^4)^4; j=0.8 -> 0.93, j=0.97 -> ~1
PERMS = [
    (i, (2654435761 * (i + 1)) % MINHASH_PRIME, (40503 * (i + 7) + 1) % MINHASH_PRIME)
    for i in range(N_PERM)
]
JACCARD_THRESHOLD = 0.8

# Production path uses a deeper signature: 32 perms x 8 bands of 4 raises
# banding recall at j=0.95 from ~0.9993 (a deterministic miss was observed
# at 16x4) to 1 - 5e-7. Cost: 32 min-aggregates in the same single groupBy.
FAST_N_PERM = 32
FAST_N_BANDS = 8
PERMS_FAST = [
    (i, (2246822519 * (i + 3)) % MINHASH_PRIME, (3266489917 * (i + 11) + 5) % MINHASH_PRIME)
    for i in range(FAST_N_PERM)
]

# SimHash parameters (32-bit signature, 4 bands x 8 bits; Hamming<=3 implies
# at least one intact band by pigeonhole, so the band join has full recall).
SIMHASH_BITS = 32
SIMHASH_BAND_BITS = 8
SIMHASH_MULT = 2654435761  # Knuth multiplicative hash
HAMMING_MAX = 3

COSINE_DEDUP_THRESHOLD = 0.45  # testdata has no planted vector near-dups; this
# surfaces the top-0.01% most-similar pairs (14 pairs at sf0.01)


def shingle_table(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word n-gram shingles per document.

    Repartitions on doc_id before shingling: tokenize+explode is the
    CPU-heavy step, and a small corpus arriving as one parquet file would
    otherwise run it on a single core. One cheap shuffle of raw text buys
    full-cluster parallelism for everything downstream (at 100 TB the scan
    has thousands of splits and Catalyst elides this into the existing
    exchange).
    """
    return spread(documents.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.explode(word_shingles(tokens("text"), n)).alias("shingle")
    )


def shingle_dict(shingles: DataFrame) -> DataFrame:
    """Deterministic shingle ids: row_number over sorted distinct shingles.

    Oracle-reproducible id assignment. The global sort is the price of
    engine-neutral determinism; production uses xxhash64 instead (no sort).
    """
    return (
        shingles.select("shingle")
        .distinct()
        .withColumn("sid", F.row_number().over(Window.orderBy("shingle")).cast("long"))
    )


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id.

    One shuffle on md5(text). At 100 TB, group by the hash (fixed 32 bytes),
    never by the raw text; AQE handles the (rare) hot hash.
    """
    return (
        documents.groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def _shared_shingle_candidates(sh: DataFrame, min_shared: int = 1) -> DataFrame:
    """(doc_a, doc_b): pairs sharing >= ``min_shared`` shingles of ``sh``
    (pass the df-CAPPED table — the posting self-join is the part the cap
    bounds). One spelling for the levenshtein/containment family — keep in
    sync with the oracle CTEs.
    """
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("doc_a", "doc_b")
    )


def _pair_overlap(sh: DataFrame, pairs_filter: DataFrame | None = None) -> DataFrame:
    """(doc_a, doc_b, n_inter, sz_a, sz_b): exact shingle intersection and
    set sizes for doc pairs (inverted-index join over the UNCAPPED table).

    If ``pairs_filter`` (doc_a, doc_b) is given, only those pairs are
    scored (the candidate-first verify path): the filter joins BEFORE the
    shingle intersection, so the quadratic posting-list explosion never
    happens — cost is |candidates| x |shingles per doc|, not sum(df^2)
    over shingles.
    """
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    if pairs_filter is None:
        inter = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        inter = (
            pairs_filter.join(a, "doc_a")
            .join(b, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def _pair_jaccard(sh: DataFrame, pairs_filter: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard over ``_pair_overlap`` (see there for the cost model)."""
    return _pair_overlap(sh, pairs_filter).select(
        "doc_a",
        "doc_b",
        ratio_round(
            F.col("n_inter"),
            F.col("sz_a") + F.col("sz_b") - F.col("n_inter"),
            6,
        ).alias("jaccard"),
    )


def dedup_ngram_jaccard(documents: DataFrame, threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Exact near-dup ground truth: word-3-gram Jaccard >= threshold.

    Pair generation via the shingle inverted index (posting-list join), not a
    cross join — cost is bounded by shingle co-occurrence. Hot shingles
    (boilerplate) are the skew risk at scale; production mitigations: drop
    shingles with document frequency above a cap (they carry no dedup
    signal), and let AQE skew-split the join. Here the full exact variant is
    the oracle ground truth for the LSH variants below.
    """
    return _pair_jaccard(shingle_table(documents)).filter(
        F.col("jaccard") >= threshold
    )


def minhash_signatures(
    sh_ids: DataFrame, perms: list[tuple[int, int, int]] = PERMS
) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): all minhashes in ONE aggregation pass.

    Each permutation is an independent min-aggregate over the same rows, so
    k signatures cost one groupBy — no row explosion, map-side partial
    mins, one shuffle on doc_id. (A pid-exploded variant costs k x the
    shuffle volume for identical results.)
    """
    # one SQL string per signature column instead of ~10 py4j Column calls
    # each: the k-perm agg used to cost ~10k gateway round-trips per build
    # (r11 measured ~0.8s for k=32 on an idle local[32]); the expression
    # trees are identical (int literals, same arithmetic, same aliases)
    return sh_ids.groupBy("doc_id").agg(
        *[
            F.expr(f"min(({a} * sid + {b}) % {MINHASH_PRIME}) AS mh_{pid}")
            for pid, a, b in perms
        ]
    )


def cap_shingle_df(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    The hot-shingle skew guard for the inverted-index and LSH paths:
    boilerplate n-grams (headers, licenses, navigation chrome) appear in
    millions of documents, carry no dedup signal, and their posting lists
    dominate both the pair join (df^2 pairs) and the band buckets. A
    window-free spelling: count df per shingle (map-side partial
    aggregation), broadcast-join nothing — the filter rides the same
    shuffle as the count.
    """
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return (
        sh.join(df_counts.filter(F.col("df") <= max_df), "shingle")
        .select(*sh.columns)
    )


def minhash_signatures_fast(
    documents: DataFrame, n: int = 3, max_shingle_df: int | None = None
) -> DataFrame:
    """Production signature path: xxhash64 shingles, no global dictionary.

    Same LSH math as ``minhash_signatures`` but the shingle id is a 64-bit
    hash computed row-locally — no sorted dictionary, no extra join, fully
    scalable — and the signature is deeper (PERMS_FAST: 32 perms, 8 bands)
    for near-certain recall at the dup threshold. Not oracle-checkable
    (xxhash64 is Spark-specific); pinned by the recall test against the
    exact ground truth instead (tests/test_dedup_fast_path.py).

    The explode + groupBy spelling is deliberate: exploded shingle rows
    stay co-located with their document, so the map-side partial min
    reduces each doc to ONE 32-value signature row before the exchange —
    the shuffle moves a signature table, not the shingle table. (The
    tempting zero-shuffle alternative — 32 ``array_min``s over transformed
    shingle arrays — is 4x SLOWER: higher-order functions run interpreted
    with no common-subexpression elimination, so the shingle+hash pipeline
    re-executes once per signature column.)

    ``max_shingle_df`` enables the hot-shingle cap (``cap_shingle_df``) —
    at corpus scale ALWAYS set it (a boilerplate shingle shared by 1M docs
    adds 10^12 candidate pairs and zero signal); default off so the gated
    sf0.01 output is bit-stable against the ground-truth equality test.
    """
    sh = shingle_table(documents, n)
    if max_shingle_df is not None:
        sh = cap_shingle_df(sh, max_shingle_df)
    sh = sh.select(
        "doc_id", (F.abs(F.xxhash64("shingle")) % F.lit(MINHASH_PRIME)).alias("sid")
    )
    return minhash_signatures(sh, perms=PERMS_FAST)


def banded_signature(sigs: DataFrame, n_perm: int, n_bands: int) -> DataFrame:
    """(doc_id, band, sig): minhash columns folded into per-band bucket keys.

    Shared by the oracle-deterministic and production LSH paths (and the
    recall test) — one spelling of the banding math.
    """
    rows_per_band = n_perm // n_bands
    # single selectExpr string (inline == explode-struct + project, same
    # rows in array order) — the per-band struct/concat loop built ~300
    # py4j Columns per call before r11
    structs = ", ".join(
        f"struct({b} AS band, concat_ws(',', "
        + ", ".join(
            f"CAST(mh_{b * rows_per_band + r} AS STRING)"
            for r in range(rows_per_band)
        )
        + ") AS sig)"
        for b in range(n_bands)
    )
    return sigs.selectExpr("doc_id", f"inline(array({structs}))")


def band_candidates(bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b): distinct pairs sharing >=1 (band, sig) bucket.

    The band table feeds both sides of the bucket self-join, so it is
    persisted — without it the signature pipeline runs
    twice.
    """
    bands = persist(bands)
    ba = bands.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    bb = bands.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    return (
        ba.join(bb, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def dedup_minhash_lsh(
    documents: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """MinHash+LSH near-dup detection — the default name, now the scale path.

    Delegates to ``dedup_minhash_fast`` (xxhash64 shingle ids, 32x8 bands,
    candidate-first exact-Jaccard verify — no global-sort dictionary). The
    bit-reproducible dictionary variant used as the DuckDB twin lives on as
    ``dedup_minhash_oracle``; it is test infrastructure, not the plan to
    run at corpus scale.
    """
    return dedup_minhash_fast(documents, threshold)


def dedup_minhash_oracle(
    documents: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """MinHash+LSH near-dup detection with exact-Jaccard verification.

    shingle -> 16 minhashes -> 4 bands of 4 -> band-bucket join for candidate
    pairs -> exact Jaccard on candidates only -> >= threshold.

    At j=0.8 the candidate probability is 1-(1-0.8^4)^4 = 0.93; at the
    planted-dup level (j~0.97) it is ~1. The band join touches only bucket
    collisions — this is the operator that replaces the quadratic pair join
    at 100 TB.

    ORACLE VARIANT: shingle ids come from the sorted global dictionary so
    DuckDB reproduces signatures bit-for-bit; the dictionary's global sort
    is a single-task bottleneck at scale. The production spelling is
    ``dedup_minhash_fast`` (xxhash64 ids, no dictionary, deeper signature) —
    same banding, same exact verify, no global sort.

    The shingle table feeds four consumers (dictionary, signatures, both
    sides of the verify join); it is persisted so the tokenize/shingle pass
    runs once per job instead of four times (the reference caches its reused
    scan the same way, MainHourly.scala:89).
    """
    sh = persist(shingle_table(documents))
    sh_ids = sh.join(shingle_dict(sh), "shingle").select("doc_id", "sid")
    candidates = band_candidates(banded_signature(minhash_signatures(sh_ids), N_PERM, N_BANDS))
    return _pair_jaccard(sh, pairs_filter=candidates).filter(
        F.col("jaccard") >= threshold
    )


def dedup_minhash_fast(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    n: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Production MinHash+LSH dedup: the 100 TB path, end to end.

    xxhash64 shingle ids (row-local, no global-sort dictionary, no extra
    join) -> 32 minhashes (zero-shuffle array projection, see
    ``minhash_signatures_fast``) -> 8 bands of 4 -> bucket join ->
    exact-Jaccard verify. Banding miss probability at j=0.95 is ~5e-7 per
    pair, so the output EQUALS the exact ``dedup_ngram_jaccard`` ground
    truth (pinned by tests/test_dedup_fast_path.py) — which makes the
    ground-truth SQL itself a valid hash-grade DuckDB oracle for this
    query even though xxhash64 has no DuckDB twin: every pair row and
    jaccard value is verified, not just counts. The only shuffles left
    are the band-bucket join and the candidate verify — both bounded by
    collisions, not corpus size.

    ``max_shingle_df`` caps hot shingles in CANDIDATE GENERATION only (the
    verify join still scores true, uncapped Jaccard, so precision is
    unaffected — the cap can only lose candidates whose similarity lives in
    boilerplate shingles, which is the point). At corpus scale ALWAYS set
    it; the uncapped default exists so the sf0.01 gate output is bit-equal
    to the exact ground truth. The capped plan is benched alongside the
    uncapped one (bench.py ``dedup_minhash_capped``) so the recommended
    100 TB configuration is the one measured.
    """
    sh = persist(shingle_table(documents, n))
    candidates = band_candidates(
        banded_signature(
            minhash_signatures_fast(documents, n, max_shingle_df=max_shingle_df),
            FAST_N_PERM,
            FAST_N_BANDS,
        )
    )
    return _pair_jaccard(sh, pairs_filter=candidates).filter(
        F.col("jaccard") >= threshold
    )


# MOSS-style relatedness: shared fingerprints / smaller fingerprint set.
# Exact integer threshold DEN*n_shared >= NUM*min(|A|,|B|) — no float at
# the decision boundary. 7/20 = 0.35 sits between the corpus's unrelated-
# pair ceiling (~0.33, common-vocabulary noise) and the planted near-dup
# band (~0.42-0.57), measured at sf0.01.
WINNOW_OVERLAP_NUM, WINNOW_OVERLAP_DEN = 7, 20
WINNOW_MAX_FP_DF = 64  # document-frequency cap: drop ubiquitous fingerprints


def dedup_winnow(
    documents: DataFrame, max_fp_df: int = WINNOW_MAX_FP_DF
) -> DataFrame:
    """Winnowing-based near-dup pairs: docs whose winnowed rolling-hash
    fingerprint sets overlap strongly (the MOSS scheme applied corpus-wide).

    Complements MinHash: winnowing guarantees any shared substring of
    length >= k+w-1 chars leaves a shared fingerprint, so it catches
    verbatim-passage overlap (quotes, boilerplate reuse) that token-set
    Jaccard dilutes away on long documents. Inverted-index equi-join on
    fingerprint with a document-frequency cap (ubiquitous fingerprints
    carry no signal and drive df^2 join blowup — same guard as
    cap_shingle_df); pairs scored by shared-count / smaller-set-size.
    """
    from inde1_spark.operators.text import winnow_fp_table

    fp = winnow_fp_table(documents)
    sizes = fp.groupBy("doc_id").agg(F.count("*").alias("sz"))
    df_counts = fp.groupBy("fp").agg(F.count("*").alias("df"))
    fp = fp.join(df_counts.filter(F.col("df") <= max_fp_df), "fp").select(
        "doc_id", "fp"
    )
    a = fp.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.lit(WINNOW_OVERLAP_DEN) * F.col("n_shared")
            >= F.lit(WINNOW_OVERLAP_NUM) * F.least("sz_a", "sz_b")
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            ratio_round(F.col("n_shared"), F.least("sz_a", "sz_b"), 4).alias(
                "overlap"
            ),
        )
    )


SPAN_TOKENS = 15  # non-overlapping token window = the dedup unit


def dedup_spans(documents: DataFrame, span_tokens: int = SPAN_TOKENS) -> DataFrame:
    """Span-level dedup: drop repeated token windows corpus-wide (C4-style).

    The sub-document dedup step of web-corpus pipelines (Raffel et al. 2020
    §2.2 dedupe repeated three-sentence spans; RefinedWeb's substring
    variant): the corpus is cut into non-overlapping ``span_tokens``-token
    windows, and every occurrence of a span after its first (in the total
    order (doc_id, span_idx)) is removed. Returns per-doc span counts and
    the md5 of the cleaned text (kept spans joined in order) — the rewrite
    is verified by hash without shipping documents through the compare.

    Scale shape: first-occurrence is ``min(struct(doc_id, span_idx))`` per
    span — a map-side-combinable aggregate followed by an equi-join back,
    NOT a ``row_number() OVER (PARTITION BY span)`` window: a boilerplate
    span repeated millions of times would funnel one window partition
    through one task, while the min-agg combines locally and AQE can split
    the skewed join. The exploded span table feeds both the aggregate and
    the join, so it is persisted.
    """
    # tokenize into a REAL column first: a lambda that captures the raw
    # tokens("text") expression re-runs the whole tokenize per span
    # (interpreted HOFs have no CSE — the word_ngrams lesson); a column
    # reference is free to re-read
    tokenized = documents.select("doc_id", tokens("text").alias("toks"))
    toks = F.col("toks")
    n_sp = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int")
    spans = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_sp, F.lit(1)) - 1),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i * span_tokens + 1, span_tokens)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = persist(
        tokenized.select("doc_id", spans.alias("spans")).select(
            "doc_id", F.posexplode("spans").alias("span_idx", "span")
        )
    )
    first = exploded.groupBy("span").agg(
        F.min(F.struct("doc_id", "span_idx")).alias("first")
    )
    marked = exploded.join(first, "span").withColumn(
        "is_first",
        F.struct("doc_id", "span_idx") == F.col("first"),
    )
    kept = F.when(
        F.col("is_first"), F.struct(F.col("span_idx"), F.col("span"))
    )  # null (skipped by collect_list) for removed spans
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.count(F.when(F.col("is_first"), 1)).cast("long").alias("n_spans_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda s: s["span"]
                ),
            )
        ).alias("clean_fp"),
    )


def simhash_signatures(sh_ids: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit SimHash over shingle ids.

    bit_j(id) = (id * KNUTH_MULT mod 2^32) >> j & 1; signature bit j is the
    sign of sum(+1/-1) over the document's shingles. All 32 bit-sums are
    independent conditional aggregates over the same rows — one groupBy,
    map-side partials, no row explosion.
    """
    h = (F.col("sid") * F.lit(SIMHASH_MULT)) % F.lit(2**32)
    bit_sums = sh_ids.withColumn("h", h).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j) % 2 == 1, 1).otherwise(-1)
            ).alias(f"bs_{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    simhash = sum(
        F.when(F.col(f"bs_{j}") >= 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for j in range(SIMHASH_BITS)
    )
    return bit_sums.select("doc_id", simhash.alias("simhash"))


def dedup_simhash(documents: DataFrame, max_hamming: int = HAMMING_MAX) -> DataFrame:
    """SimHash near-dup pairs — the default name, now the scale path.

    Delegates to ``dedup_simhash_fast`` (row-local xxhash64 term ids, no
    global dictionary). The bit-reproducible dictionary variant used as the
    DuckDB twin lives on as ``dedup_simhash_oracle``.
    """
    return dedup_simhash_fast(documents, max_hamming)


def dedup_simhash_oracle(
    documents: DataFrame, max_hamming: int = HAMMING_MAX
) -> DataFrame:
    """SimHash near-dup pairs: Hamming(sig_a, sig_b) <= max_hamming.

    Banded candidate generation (4 bands x 8 bits): Hamming <= 3 flips at
    most 3 bands, so at least one band matches exactly — the band join has
    full recall and replaces the quadratic pair scan. Hamming distance is
    computed as an explicit 32-term bit sum (portable to the oracle; Spark
    also has bit_count for the production spelling).
    """
    sh = persist(shingle_table(documents))
    sh_ids = sh.join(shingle_dict(sh), "shingle").select("doc_id", "sid")
    return _simhash_pairs(simhash_signatures(sh_ids), max_hamming)


def dedup_simhash_fast(
    documents: DataFrame,
    max_hamming: int = HAMMING_MAX,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Production SimHash path: xxhash64 shingle ids, no global dictionary.

    Same banding and Hamming verify as ``dedup_simhash``, but the shingle
    id is hashed row-locally (``abs(xxhash64) % 2^31-1``, the minhash-fast
    convention) — no sorted dictionary, no dictionary join, nothing
    serializes through one task at corpus scale. The pair output is not
    oracle-checkable (xxhash64 is Spark-specific and Hamming<=3 only
    approximates the Jaccard truth), so the gate verifies
    ``dedup_simhash_contract`` — exact ground-truth count plus >=90%
    recall/precision booleans — and the recall pytest pins the same
    bound. ``max_shingle_df`` caps hot boilerplate shingles (always set
    it at corpus scale).
    """
    sh = shingle_table(documents)
    if max_shingle_df is not None:
        sh = cap_shingle_df(sh, max_shingle_df)
    sh_ids = sh.select(
        "doc_id", (F.abs(F.xxhash64("shingle")) % F.lit(MINHASH_PRIME)).alias("sid")
    )
    return _simhash_pairs(simhash_signatures(sh_ids), max_hamming)


def _simhash_pairs(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """Banded candidate join + exact Hamming verify over (doc_id, simhash).

    4 bands x 8 bits: Hamming <= 3 flips at most 3 bands, so at least one
    band matches exactly — full recall without the quadratic pair scan.
    """
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    band_cols = [
        (
            F.shiftright(F.col("simhash"), q * SIMHASH_BAND_BITS)
            % F.lit(2**SIMHASH_BAND_BITS)
        ).alias(f"band_{q}")
        for q in range(n_bands)
    ]
    banded = sigs.select("doc_id", "simhash", *band_cols)
    bands_long = banded.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(q).alias("q"), F.col(f"band_{q}").alias("bv"))
                    for q in range(n_bands)
                ]
            )
        ).alias("bq"),
    ).select("doc_id", "simhash", F.col("bq.q").alias("q"), F.col("bq.bv").alias("bv"))
    # persisted: self-joined below (see dedup_minhash_lsh)
    bands_long = persist(bands_long)

    ba = bands_long.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"), "q", "bv"
    )
    bb = bands_long.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"), "q", "bv"
    )
    cand = (
        ba.join(bb, ["q", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    xor = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    hamming = sum(
        (F.shiftright(xor, j) % 2).cast("long") for j in range(SIMHASH_BITS)
    )
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# Contract floors hold with margin at every measured scale — the bound is
# corpus-dependent (SimHash has no distribution-free guarantee vs token
# Jaccard): measured recall/precision 0.96/1.00 at sf0.001, 0.92/1.00 at
# sf0.01, 0.87/0.91 at sf0.1 (recall decays as the corpus grows because
# Hamming<=3 on 32 bits admits relatively fewer of the borderline pairs).
SIMHASH_MIN_RECALL_PCT = 80
SIMHASH_MIN_PRECISION_PCT = 85


def dedup_simhash_contract(
    documents: DataFrame,
    max_hamming: int = HAMMING_MAX,
    min_recall_pct: int = SIMHASH_MIN_RECALL_PCT,
    min_precision_pct: int = SIMHASH_MIN_PRECISION_PCT,
) -> DataFrame:
    """Accuracy contract for the production SimHash path, DuckDB-checkable.

    ``dedup_simhash_fast``'s pair output is engine-specific (xxhash64 term
    ids feed the signature, and Hamming<=3 is an approximation of the
    Jaccard ground truth — unlike MinHash-fast there is no exact-verify
    step that forces equality). What IS checkable is the quality contract
    the recall pytest pins: against the exact n-gram-Jaccard ground truth,
    recall and precision are both >= 90% on this corpus. This query emits
    the exact ground-truth pair count (hash-verified against the oracle's
    identical SQL) next to the contract booleans, the approx_distinct
    pattern: the engine-specific side is asserted, the exact side is
    value-checked. The thresholds are corpus-measured across sf0.001/0.01/
    0.1 with margin (SimHash carries no distribution-free guarantee vs
    token Jaccard; see the constants' measured table), same epistemic
    status as the pytest pin — a regression in the fast path flips a
    boolean and breaks the gate hash.

    Both pair sets are bounded by true-duplicate density (candidate-first
    plans, no cartesians); the three counts are 1-row aggregates and the
    final join is a 1x1x1 cross of literal rows.
    """
    fast = persist(
        dedup_simhash_fast(documents, max_hamming).select("doc_a", "doc_b")
    )
    truth = persist(dedup_ngram_jaccard(documents).select("doc_a", "doc_b"))
    matched = fast.join(truth, ["doc_a", "doc_b"])
    nt = truth.agg(F.count("*").cast("long").alias("n_ground_truth_dups"))
    nf = fast.agg(F.count("*").cast("long").alias("n_found"))
    nm = matched.agg(F.count("*").cast("long").alias("n_matched"))
    return (
        nt.crossJoin(nf)
        .crossJoin(nm)
        .select(
            "n_ground_truth_dups",
            (
                F.col("n_matched") * 100
                >= F.col("n_ground_truth_dups") * min_recall_pct
            ).alias("recall_ok"),
            (F.col("n_matched") * 100 >= F.col("n_found") * min_precision_pct).alias(
                "precision_ok"
            ),
        )
    )


def dedup_embedding(
    embeddings: DataFrame, threshold: float = COSINE_DEDUP_THRESHOLD
) -> DataFrame:
    """Embedding near-dup pairs — the default name, now the scale path.

    Delegates to ``dedup_embedding_lsh`` (banded sign-LSH candidates +
    exact-cosine verify — no cross join). The quadratic exact ground truth
    lives on as ``dedup_embedding_oracle``; it is the labeled baseline and
    the DuckDB twin, not the plan to run at corpus scale.
    """
    return dedup_embedding_lsh(embeddings, threshold)


def dedup_embedding_oracle(
    embeddings: DataFrame, threshold: float = COSINE_DEDUP_THRESHOLD
) -> DataFrame:
    """Embedding-cosine near-dup pairs: cosine(a, b) >= threshold.

    Brute-force pair join with row-local exact dot products (zip_with +
    decimal accumulate — no explode, no per-element shuffle). Quadratic by
    nature — this is the exact GROUND TRUTH; the scale path is
    ``dedup_embedding_lsh`` (sign-bucket candidates, no cross join).
    """
    e = spread(embeddings, "vec_id").select(
        "vec_id", "embedding", norm_exact(F.col("embedding")).alias("nrm")
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    pairs = a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
    cos = dot_exact(F.col("emb_a"), F.col("emb_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    return (
        pairs.withColumn("cos_sim", F.round(cos, 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


EMB_BAND_BITS = 8   # sign bits per band -> 256 buckets per band
EMB_N_BANDS = 8     # bands * bits = 64 = EMB_DIM: every coordinate used once


def sign_bands(emb: F.Column, n_bands: int = EMB_N_BANDS, band_bits: int = EMB_BAND_BITS) -> F.Column:
    """Banded sign signature: band q = integer from the sign pattern of
    coordinates [q*band_bits, (q+1)*band_bits). Row-local, no UDF."""
    return F.array(
        *[
            sum(
                F.when(
                    F.element_at(emb, q * band_bits + j + 1) >= 0, F.lit(2**j)
                ).otherwise(F.lit(0))
                for j in range(band_bits)
            ).cast("long")
            for q in range(n_bands)
        ]
    )


def dedup_embedding_lsh(
    embeddings: DataFrame,
    threshold: float = COSINE_DEDUP_THRESHOLD,
    n_bands: int = EMB_N_BANDS,
    band_bits: int = EMB_BAND_BITS,
) -> DataFrame:
    """Embedding near-dup via banded sign-LSH + exact-cosine verify.

    The scale path promised by ``dedup_embedding``'s docstring, as code:
    ``n_bands`` independent hash tables, each keyed by the sign pattern of
    ``band_bits`` coordinates (the MinHash/SimHash banding layout applied
    to random-hyperplane LSH). A pair is a candidate iff some band matches
    exactly — per-band bucket occupancy is corpus/2^band_bits, so the band
    join scans ~corpus^2 * n_bands / 2^band_bits pairs instead of all
    pairs, and recall at true near-dup similarity (cos >= 0.9, per-bit
    agreement ~0.86) is 1-(1-0.86^8)^8 ~ 0.94. (A single-table multi-probe
    layout needs ~20x more candidates for the same recall — measured 27 s
    vs 2 s at sf0.1.) Each pair is emitted by its FIRST matching band only
    (earlier-band values are compared in the join filter), so no distinct
    shuffle and no re-join. Exact decimal cosine verifies candidates:
    precision is exact, recall is the documented LSH trade.

    Deterministic end to end (sign bands + exact cosine), so the DuckDB
    oracle reproduces it bit-for-bit — unlike the minhash fast path this
    scale operator is fully hash-gated.

    The banded table feeds BOTH sides of the bucket self-join, so it is
    persisted: sign/norm compute and the repartition run
    once, not once per side — measured 2.3x end-to-end at sf0.1. The
    repartition itself buys parallelism for the row-local band math when
    the source is a single file (at corpus scale the scan is already
    parallel and AQE elides the no-op exchange).
    """
    e = persist(
        spread(embeddings, "vec_id").select(
            "vec_id",
            "embedding",
            norm_exact(F.col("embedding")).alias("nrm"),
            sign_bands(F.col("embedding"), n_bands, band_bits).alias("bands"),
        )
    )
    banded = e.select(
        "vec_id", "embedding", "nrm", "bands", F.posexplode("bands").alias("q", "bv")
    )
    a = banded.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        F.col("bands").alias("bands_a"),
        "q",
        "bv",
    )
    b = banded.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        F.col("bands").alias("bands_b"),
        "q",
        "bv",
    )
    # emit each pair only at its first matching band: all earlier bands differ
    first_match = F.forall(
        F.zip_with(
            F.slice(F.col("bands_a"), 1, F.col("q")),
            F.slice(F.col("bands_b"), 1, F.col("q")),
            lambda x, y: x != y,
        ),
        lambda z: z,
    )
    pairs = (
        a.join(b, ["q", "bv"])
        .filter((F.col("vec_a") < F.col("vec_b")) & first_match)
    )
    cos = dot_exact(F.col("emb_a"), F.col("emb_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    return (
        pairs.withColumn("cos_sim", F.round(cos, 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


# ---------------------------------------------------------------------------
# Cluster assignment: near-dup pairs -> connected components -> keepers
# ---------------------------------------------------------------------------

CC_ROUNDS = 6  # unrolled rounds; reach ~2^rounds hops (see docstring)


def connected_components(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b", rounds: int = CC_ROUNDS
) -> DataFrame:
    """Min-label connected components over an undirected pair list.

    The step every dedup pipeline needs between "near-dup pairs" and "which
    docs to drop": transitively-connected docs form one cluster, labeled by
    its smallest member id. Each round propagates the min label one hop
    (edge join + min-aggregate) and then pointer-jumps (label <- label's
    label), so reach roughly doubles per round: ``rounds`` = 6 resolves any
    component of diameter ~2^6 — far beyond real near-dup clusters, which
    are dense (LSH pairs within a band bucket are near-cliques, diameter
    2-3). The loop is UNROLLED into one declarative DAG: no eager actions,
    no mutable state, shuffles only on doc-id keys (GraphFrames'
    large-star/small-star is the same dance).

    Lineage control: each round references the previous labels twice, so a
    naive unroll hands the analyzer a tree that doubles twice per round
    (4^rounds copies of the pair-generation subplan — observed as a
    plan-time JVM OOM). Lazy ``localCheckpoint(eager=False)`` on the pair
    list and on each round's labels turns them into lineage leaves: the
    plan stays O(rounds), nothing materializes until the caller's action,
    and each round's result is computed exactly once when it does.
    """
    pairs = lazy_checkpoint(pairs)
    nodes = (
        pairs.select(F.col(src).alias("doc_id"))
        .union(pairs.select(F.col(dst).alias("doc_id")))
        .distinct()
    )
    edges = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).union(
        pairs.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    labels = nodes.select("doc_id", F.col("doc_id").alias("label"))
    for _ in range(rounds):
        nbr = (
            edges.join(labels.withColumnRenamed("doc_id", "u"), "u")
            .groupBy(F.col("v").alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        labels = labels.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
        )
        jump = labels.select(
            F.col("doc_id").alias("lkey"), F.col("label").alias("plabel")
        )
        labels = labels.join(jump, labels.label == jump.lkey, "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("plabel", "label")).alias("label"),
        )
        labels = lazy_checkpoint(labels)
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def dedup_keep_best(documents: DataFrame) -> DataFrame:
    """Representative selection: keep the best-quality doc per dup cluster.

    The step after clustering that real pipelines run instead of
    keep-smallest-id: rank cluster members by the heuristic quality score
    (text.quality_score — exact integer ratios, so the ranking key is
    engine-stable) and keep the top one, ties on doc_id asc. One window
    per cluster key — clusters are near-dup groups, so partitions are
    tiny and skew-free by construction.
    """
    from inde1_spark.operators.text import quality_score

    clusters = dedup_clusters(documents)
    q = quality_score(documents).select("doc_id", "quality")
    joined = clusters.join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return joined.select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        "quality",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def dedup_clusters(documents: DataFrame) -> DataFrame:
    """Near-dup cluster assignment: Jaccard pairs -> components -> sizes.

    Composes the exact pair ground truth with connected components; the
    cluster id doubles as the canonical keeper (smallest doc_id), so
    "drop duplicates" downstream is ``filter(doc_id != cluster_id)``.
    Only docs that participate in at least one near-dup pair appear.
    """
    cc = connected_components(dedup_ngram_jaccard(documents))
    sizes = cc.groupBy(F.col("cluster_id").alias("cid")).agg(
        F.count("*").alias("cluster_size")
    )
    return cc.join(sizes, cc.cluster_id == sizes.cid).select(
        "doc_id", "cluster_id", "cluster_size"
    )


INCR_BATCH_PCT = 10  # hash share of the corpus standing in for "today's shard"


INCR_MAX_SHINGLE_DF = 64  # hot-shingle cap for the candidate join


def dedup_incremental(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    batch_pct: int = INCR_BATCH_PCT,
    max_shingle_df: int | None = INCR_MAX_SHINGLE_DF,
) -> DataFrame:
    """Incremental dedup: score an incoming shard against the existing
    corpus index only — the daily-ingest shape of a production pipeline
    (nobody re-deduplicates 100 TB to admit one day's crawl).

    The testdata stand-in: an md5 hash split carves ``batch_pct`` percent
    of documents into the "incoming batch"; the rest is the standing
    index. Only batch x index pairs are generated (batch-vs-batch dedup
    happens in the batch's own pipeline; index-vs-index happened when
    those docs were admitted), so the inverted-index join cost is
    |batch shingles| x posting-list length, proportional to the INCREMENT
    — not the corpus. Per batch doc the verdict aggregates its best index
    match: keep iff no index doc clears the Jaccard threshold. At real
    scale the index side is the persisted/bucketed shingle table the
    admission pipeline maintains; the plan is unchanged.

    ``max_shingle_df`` (default ON — this is the production config) caps
    hot shingles in CANDIDATE GENERATION only: one boilerplate shingle
    present in nearly every index doc would otherwise make a single
    posting list corpus-sized and the batch x index join quadratic. The
    Jaccard verify then re-scores candidates over the UNCAPPED shingle
    table (exact n_inter, exact set sizes), so the cap cannot invent or
    rescore a pair — only lose candidates whose entire similarity lives
    in boilerplate (the minhash-fast contract; on the clean synthetic
    corpus the cap is a no-op and the gate hash-checks the capped plan
    against the exact uncapped oracle).
    """
    from inde1_spark.operators.text import hash_bucket

    sh = persist(shingle_table(documents))
    is_batch = hash_bucket(F.col("doc_id"), 100) < batch_pct
    split = documents.select("doc_id", is_batch.alias("is_batch"))
    batch_ids = split.filter(F.col("is_batch")).select("doc_id")
    index_ids = split.filter(~F.col("is_batch")).select("doc_id")
    batch_sh = sh.join(batch_ids, "doc_id").select(
        F.col("doc_id").alias("doc_new"), "shingle"
    )
    index_sh = sh.join(index_ids, "doc_id").select(
        F.col("doc_id").alias("doc_idx"), "shingle"
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    if max_shingle_df is None:
        inter = (
            batch_sh.join(index_sh, "shingle")
            .groupBy("doc_new", "doc_idx")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        capped = cap_shingle_df(sh, max_shingle_df)
        cand = (
            capped.join(batch_ids, "doc_id")
            .select(F.col("doc_id").alias("doc_new"), "shingle")
            .join(
                capped.join(index_ids, "doc_id").select(
                    F.col("doc_id").alias("doc_idx"), "shingle"
                ),
                "shingle",
            )
            .select("doc_new", "doc_idx")
            .distinct()
        )
        inter = (
            cand.join(batch_sh, "doc_new")
            .join(index_sh, ["doc_idx", "shingle"])
            .groupBy("doc_new", "doc_idx")
            .agg(F.count("*").alias("n_inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_new"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_idx"), F.col("sz").alias("sz_b"))
    jac = ratio_round(
        F.col("n_inter"),
        F.col("sz_a") + F.col("sz_b") - F.col("n_inter"),
        6,
    )
    scored = (
        inter.join(sa, "doc_new")
        .join(sb, "doc_idx")
        .select("doc_new", "doc_idx", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    # per-batch-doc verdict: best match (if any) + admit decision
    best = scored.groupBy("doc_new").agg(
        F.max(F.struct("jaccard", "doc_idx")).alias("best")
    )
    batch_docs = split.filter(F.col("is_batch")).select(
        F.col("doc_id").alias("doc_new")
    )
    return (
        batch_docs.join(best, "doc_new", "left")
        .select(
            "doc_new",
            F.col("best")["doc_idx"].alias("dup_of"),
            F.col("best")["jaccard"].alias("jaccard"),
            F.col("best").isNull().alias("admit"),
        )
    )


LEV_MAX_EDIT_PCT = 20     # pairs within 20% edit distance of the longer text
LEV_MAX_SHINGLE_DF = 64   # hot-shingle cap for candidate generation


LEV_MIN_SHARED = 3        # candidate pairs must share >= this many shingles


def dedup_levenshtein(
    documents: DataFrame,
    max_edit_pct: int = LEV_MAX_EDIT_PCT,
    max_shingle_df: int = LEV_MAX_SHINGLE_DF,
    min_shared: int = LEV_MIN_SHARED,
) -> DataFrame:
    """Edit-distance near-dup pairs: the family member that catches
    CHARACTER-level mutation (OCR noise, typo farms, template fills) that
    token-set Jaccard under-counts (one typo kills three shingles) and
    MinHash inherits.

    Levenshtein is the expensive verify (O(len^2) per pair), so candidate
    generation must be far more selective than "shares one shingle" (that
    set is ~1.1M pairs at just sf0.1 — a measured scale-killer). Two
    pre-verify guards, both cheap and sound for the target pairs:
    candidates must share >= ``min_shared`` df-capped shingles (computed
    in the same posting-list aggregation — a real near-dup shares
    dozens), and must pass the LENGTH-BAND necessary condition
    |len_a - len_b| <= lev(a,b), so any pair whose length gap alone
    exceeds the edit budget is dropped before the DP runs (provably no
    false dismissal). Together: 1.1M -> ~5k verified pairs at sf0.1. At
    100 TB also bound the compared length (substring / thresholded
    levenshtein early exit).
    """
    # persisted: feeds both sides of the posting self-join
    sh = persist(cap_shingle_df(shingle_table(documents), max_shingle_df))
    # explicit partition COUNT: each candidate costs an O(len^2) DP in the
    # verify, so the tiny table must spread across cores (semdedup idiom)
    cand = spread(_shared_shingle_candidates(sh, min_shared), "doc_a", "doc_b")
    ta = documents.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
        F.length("text").cast("long").alias("len_a"),
    )
    tb = documents.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
        F.length("text").cast("long").alias("len_b"),
    )
    lev = F.levenshtein("text_a", "text_b").cast("long")
    max_len = F.greatest("len_a", "len_b")
    banded = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("max_len", max_len)
        # |len diff| <= lev: the length band prunes BEFORE the O(len^2) DP
        .filter(
            F.abs(F.col("len_a") - F.col("len_b")) * 100
            <= F.lit(max_edit_pct) * F.col("max_len")
        )
    )
    return (
        banded.withColumn("edit_distance", lev)
        .filter(F.col("edit_distance") * 100 <= F.lit(max_edit_pct) * F.col("max_len"))
        .select("doc_a", "doc_b", "edit_distance", "max_len")
    )


CONTAINMENT_THRESHOLD = 0.9   # smaller doc's shingles covered by the pair
CONT_MAX_SHINGLE_DF = 64
CONT_MIN_SHARED = 3


def dedup_containment(
    documents: DataFrame,
    threshold: float = CONTAINMENT_THRESHOLD,
    max_shingle_df: int = CONT_MAX_SHINGLE_DF,
    min_shared: int = CONT_MIN_SHARED,
) -> DataFrame:
    """Containment near-dup pairs: |A ∩ B| / min(|A|, |B|) >= threshold —
    the ASYMMETRIC-duplication detector. Jaccard divides by the union, so
    a short document quoted wholesale inside a long one scores near zero
    and survives every Jaccard-based pass; containment normalizes by the
    smaller set and catches quote-inclusion, excerpt farms, and
    wrapper-page reuse.

    Same bounded candidate machinery as the siblings: df-capped posting
    join, >= ``min_shared`` shared shingles to enter the verify (a
    contained doc shares nearly all of its shingles by definition, so
    the floor cannot lose a qualifying pair with >= min_shared/threshold
    shingles), then exact intersection and set sizes over the uncapped
    table. Containment and Jaccard are both emitted (exact integer
    ratios) so downstream policy can distinguish symmetric near-dups
    from true containment.
    """
    sh = persist(shingle_table(documents))
    cand = _shared_shingle_candidates(cap_shingle_df(sh, max_shingle_df), min_shared)
    return (
        _pair_overlap(sh, pairs_filter=cand)
        .withColumn(
            "containment",
            ratio_round(F.col("n_inter"), F.least("sz_a", "sz_b"), 6),
        )
        .withColumn(
            "jaccard",
            ratio_round(
                F.col("n_inter"),
                F.col("sz_a") + F.col("sz_b") - F.col("n_inter"),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment", "jaccard")
    )


PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85


def pagerank_dup_graph(
    documents: DataFrame,
    iters: int = PAGERANK_ITERS,
) -> DataFrame:
    """PageRank over the near-duplicate graph: which documents sit at the
    CENTER of duplication clusters (high rank = the canonical/most-copied
    text; leaves = one-off variants). Complements the connected-component
    pass (`dedup_clusters` says WHICH docs group; this ranks WITHIN and
    across groups) — the keep-best policy for star-shaped template farms
    where min-label or quality picks a leaf.

    The iterative-join family member beyond label propagation: ranks
    update as r = (1-d)/N + d * sum(r_u / deg_u) over in-edges, ``iters``
    rounds. Each round is one edge join + one aggregate — at corpus scale
    both shuffle on the node key and AQE handles hub skew. The rank chain
    is lazily checkpointed per round (kmeans/components invariant: plan
    stays linear, no eager action). Ranks are nano-scaled longs, the
    per-edge contribution is an exact integer division, and the damping
    update re-derives the same long from the same doubles in both engines
    — the DuckDB twin unrolls the same rounds as chained CTEs.
    """
    pairs = dedup_ngram_jaccard(documents).select("doc_a", "doc_b")
    edges = persist(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).union(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
    )
    deg = edges.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    total = deg.agg(F.count("*").cast("double").alias("n_nodes"))
    rank = deg.join(F.broadcast(total)).select(
        "u",
        "deg",
        "n_nodes",
        F.floor(F.lit(1e9) / F.col("n_nodes") + F.lit(0.5))
        .cast("long")
        .alias("r_nano"),
    )
    # one SQL string for the damping update (same trees; see markov_stationary)
    upd_sql = (
        f"CAST(FLOOR(({(1.0 - PAGERANK_DAMPING)!r}D / n_nodes) * 1.0E9 "
        f"+ {PAGERANK_DAMPING!r}D * coalesce(s_nano, 0L) + 0.5D) AS BIGINT) "
        "AS r_nano"
    )
    for _ in range(iters):
        contrib = edges.join(rank, "u").select(
            F.col("v").alias("u"), F.expr("r_nano div deg").alias("c")
        )
        s = contrib.groupBy("u").agg(F.sum("c").cast("long").alias("s_nano"))
        rank = lazy_checkpoint(
            rank.join(s, "u", "left").selectExpr("u", "deg", "n_nodes", upd_sql)
        )
    return rank.select(
        F.col("u").alias("doc_id"),
        "deg",
        (F.col("r_nano").cast("double") / F.lit(1e9)).alias("pagerank"),
    )


ALLPAIRS_THRESHOLD = JACCARD_THRESHOLD  # same contract as the MinHash family


def similarity_join_allpairs(
    documents: DataFrame, threshold: float = ALLPAIRS_THRESHOLD
) -> DataFrame:
    """Exact set-similarity self-join via PREFIX FILTERING (AllPairs /
    PPJoin, Xiao et al. WWW'08): every doc pair with shingle-set Jaccard
    >= ``threshold`` — the third spelling of the near-dup contract, and
    the exact-at-scale one. ``dedup_ngram_jaccard`` is exact but joins
    every co-occurring shingle (quadratic in posting length);
    ``dedup_minhash_fast`` is subquadratic but probabilistic; prefix
    filtering is exact AND subquadratic, so its output EQUALS the ground
    truth and shares its oracle.

    Order each document's shingles by GLOBAL document frequency ascending
    (rarest first, ties by shingle); a pair at Jaccard >= t must share a
    shingle within the first |d| - ceil(t|d|) + 1 of both docs (sharing
    none leaves the overlap short of t even if the entire remainder
    matches), so the inverted index is built over prefixes only — and
    rarest-first makes those prefix posting lists the SHORTEST in the
    corpus: boilerplate shingles land deep in every suffix and never
    enter the index (the df-cap effect, derived instead of configured).
    A size band (t x max <= min, exact integers) prunes further; exact
    intersection over the full shingle table verifies survivors. All
    integer math; no false negatives.

    Scale shape: df ranking is one shingle shuffle + a bounded per-doc
    window; candidates are an equi-join on prefix shingles; verify cost
    is |candidates| x shingles-per-doc. At 100 TB add PPJoin's positional
    upper-bound filter to tighten candidates further.
    """
    t10 = int(round(threshold * 10))
    sh = persist(shingle_table(documents))
    df_sh = sh.groupBy("shingle").agg(F.count("*").cast("long").alias("df"))
    ranked = sh.join(df_sh, "shingle").select(
        "doc_id",
        "shingle",
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy(
                F.col("df").asc(), F.col("shingle").asc()
            )
        )
        .alias("pos"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("n_sh"),
    )
    # prefix length |d| - ceil(t|d|) + 1, ceil as exact integer div
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("n_sh") - F.expr(f"(n_sh * {t10} + 9) div 10") + F.lit(1)
    ).select("doc_id", "shingle", "n_sh")
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), "shingle", F.col("n_sh").alias("n_a")
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), "shingle", F.col("n_sh").alias("n_b")
    )
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # size band: Jaccard >= t forces min >= t x max (exact ints)
            & (F.least("n_a", "n_b") * 10 >= F.greatest("n_a", "n_b") * t10)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return (
        _pair_jaccard(sh, pairs_filter=cand)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# Content-defined chunking: boundary probability 1/CDC_AVG_CHUNK per word
# position -> expected chunk length ~CDC_AVG_CHUNK words; md5-bucket rule so
# the DuckDB twin reproduces boundaries exactly (operators/text.py:hash_bucket).
CDC_AVG_CHUNK = 16
CDC_MIN_WORDS = 4  # FastCDC-style floor: a 1-word shared "chunk" is noise
CDC_TOP_K = 200


def cdc_chunk_table(
    documents: DataFrame,
    avg_chunk: int = CDC_AVG_CHUNK,
    min_words: int = CDC_MIN_WORDS,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, [carry...], chunk_hash, n_words): content-defined chunks
    per document. ``carry`` columns pass through unchanged (e.g. the
    event-time stamp a streaming caller needs to keep its watermark).

    The CDC property (rsync/LBFS/FastCDC family, here at word
    granularity): a boundary falls before word ``i`` whenever the hash
    bucket of the bigram ``(w[i-1], w[i])`` over ``avg_chunk`` buckets is
    0, so boundaries depend only on LOCAL content — insert a paragraph
    and every downstream chunk boundary re-synchronizes, unlike
    fixed-size blocks where one edit shifts every subsequent block hash.
    Expected chunk length is ``avg_chunk`` words; chunks shorter than
    ``min_words`` are dropped on the map side (FastCDC-style floor — a
    1-word shared "chunk" is noise).

    Chunking is entirely ROW-LOCAL array math (boundary positions -> zip
    with shifted ends -> slice+join), so the corpus pass stays in one
    projection and only (chunk_hash, n_words) rows — never chunk text —
    survive it. Lambdas index projected column references (toks) per the
    HOF-CSE rule.
    """
    toks_col = tokens("text")
    # batch inputs re-spread before the chunk math (one md5 per token
    # bigram — the heaviest row-local pass in the dedup family): a
    # single-file corpus would otherwise run it all on one core (r12;
    # streaming callers keep their micro-batch partitioning)
    src = documents if documents.isStreaming else spread(documents, "doc_id")
    d = src.select("doc_id", *carry, toks_col.alias("toks")).filter(
        F.size("toks") >= 1
    )
    n = F.size(F.col("toks"))
    bigram_bucket = lambda i: (  # noqa: E731 — local expression builder
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        " ",
                        F.element_at(F.col("toks"), i - 1),
                        F.element_at(F.col("toks"), i),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % F.lit(avg_chunk)
    )
    starts = F.concat(
        F.array(F.lit(1)),
        F.when(
            n >= 2,
            F.filter(
                F.sequence(F.lit(2), F.greatest(n, F.lit(2))),
                lambda i: bigram_bucket(i) == 0,
            ),
        ).otherwise(F.array().cast("array<int>")),
    )
    with_starts = d.select("doc_id", *carry, "toks", starts.alias("bp"))
    # end of chunk k = next start - 1, last chunk ends at n
    ends = F.concat(
        F.transform(
            F.slice(
                F.col("bp"), 2, F.greatest(F.size("bp") - 1, F.lit(1))
            ),
            lambda x: x - 1,
        ),
        F.array(F.size("toks")),
    )
    chunks = F.zip_with(
        F.col("bp"),
        ends,
        lambda s, e: F.struct(
            (e - s + F.lit(1)).cast("long").alias("nw"),
            F.md5(
                F.concat_ws(
                    " ", F.slice(F.col("toks"), s, e - s + F.lit(1))
                )
            ).alias("h"),
        ),
    )
    return (
        with_starts.select("doc_id", *carry, F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            *carry,
            F.col("c.nw").alias("n_words"),
            F.col("c.h").alias("chunk_hash"),
        )
        # floor BEFORE the shuffle: sub-minimum chunks never leave the map side
        .filter(F.col("n_words") >= min_words)
    )


def chunk_dedup_cdc(
    documents: DataFrame,
    avg_chunk: int = CDC_AVG_CHUNK,
    min_words: int = CDC_MIN_WORDS,
    top_k: int = CDC_TOP_K,
) -> DataFrame:
    """Chunk-level dedup via content-defined chunking: hash every CDC
    chunk and surface chunks shared across documents — the sub-document
    complement to whole-doc MinHash (reference scope: INDE1 dedups whole
    records; a training corpus needs to find the license header pasted
    into 10k otherwise-distinct files, which no whole-doc Jaccard
    threshold catches and fixed-offset blocking misses after one
    inserted word).

    Plan shape: row-local chunking (see ``cdc_chunk_table``), one
    groupBy shuffle of (chunk_hash, n_words) rows, TakeOrdered top-k —
    no global sort. Hot boilerplate chunks are exactly what the operator
    reports, and the map-side partial aggregation absorbs their key skew.
    """
    ch = cdc_chunk_table(documents, avg_chunk, min_words)
    shared = (
        ch.groupBy("chunk_hash")
        .agg(
            F.min("n_words").alias("n_words"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return shared.orderBy(
        F.col("n_docs").desc(),
        F.col("n_occurrences").desc(),
        F.col("chunk_hash").asc(),
    ).limit(top_k)


def dup_graph_transitivity(
    documents: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Transitivity audit of the near-duplicate graph: how often does
    A~B and B~C imply A~C at the working threshold? Near-duplicate
    similarity is NOT transitive (a chain of 0.8-Jaccard hops can span
    arbitrarily different texts), yet `dedup_clusters` merges by
    connected components — exactly right when transitivity is high,
    catastrophic over-merging (one giant cluster eats the corpus) when
    it collapses. This one-row audit is the number that says which
    regime the corpus is in before a destructive keep-one-per-cluster
    pass runs.

    Global clustering coefficient over the exact-Jaccard edge set:
    triangles via the ordered two-hop join (a<b<c — each triangle
    counted once), wedges as sum(deg*(deg-1))/2, transitivity =
    3*triangles/wedges. The edge set is persisted once and reused by
    the three edge scans; at corpus scale every join is an equi-join on
    a node key (AQE skew-splits hub nodes) and the output is one row.
    All counts exact longs; the ratio is exact integer round-half-up.
    """
    edges = persist(
        dedup_ngram_jaccard(documents, threshold).select("doc_a", "doc_b")
    )
    deg = (
        edges.select(F.col("doc_a").alias("u"))
        .union(edges.select(F.col("doc_b").alias("u")))
        .groupBy("u")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    # coalesce to 0 so an empty edge set (zero near-dup pairs) still emits
    # the oracle's COALESCE(SUM(...),0)/COALESCE(MAX(...),0) row, not NULLs
    deg_stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.coalesce(
            F.sum(F.col("deg") * (F.col("deg") - 1)), F.lit(0)
        ).cast("long").alias("wedges2"),
        F.coalesce(F.max("deg"), F.lit(0)).cast("long").alias("max_degree"),
    )
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    n_edges = edges.agg(F.count("*").cast("long").alias("n_edges"))
    out = (
        deg_stats.join(F.broadcast(tri))
        .join(F.broadcast(n_edges))
        .select(
            "n_nodes",
            "n_edges",
            "max_degree",
            F.expr("wedges2 div 2").cast("long").alias("n_wedges"),
            "n_triangles",
            ratio_round(
                F.col("n_triangles") * 3,
                F.greatest(F.expr("wedges2 div 2"), F.lit(1)),
                6,
            ).alias("transitivity"),
        )
    )
    return out


CDC_OVERLAP_MAX_DF = 64  # boilerplate guard: chunks in more docs carry no signal
CDC_OVERLAP_THRESHOLD = 0.5  # containment: shared words / smaller doc's words


def cdc_doc_overlap(
    documents: DataFrame,
    avg_chunk: int = CDC_AVG_CHUNK,
    min_words: int = CDC_MIN_WORDS,
    max_chunk_df: int = CDC_OVERLAP_MAX_DF,
    threshold: float = CDC_OVERLAP_THRESHOLD,
) -> DataFrame:
    """Document-pair PARTIAL-overlap detection: containment of shared CDC
    chunk mass — shared_words / min(doc words) over content-defined
    chunks. Finds the doc that embeds half of another doc (quote farms,
    aggregators, version-N+1 articles), which whole-doc Jaccard scores
    near zero when the host doc is large — the asymmetric case
    ``dedup_containment``'s shingle variant covers at n-gram granularity,
    here at paragraph-ish granularity where the pair-join volume is
    ~avg_chunk x smaller.

    The overlap metric is defined over chunks appearing in at most
    ``max_chunk_df`` documents (df cap on BOTH candidate generation and
    scoring — boilerplate chunks are not "overlap", they're chrome; the
    DuckDB twin applies the identical cap, so the gate hashes the whole
    contract). Distinct chunk sets per doc; word masses count each
    distinct chunk once.

    Plan: row-local chunking -> (doc, chunk) distinct -> df-capped
    inverted-index pair join (equi-join on chunk_hash, posting lists
    bounded by the cap, AQE skew-splits the rest) -> one pair aggregate.
    The chunk table is persisted once and reused by the doc-mass,
    df-count and pair scans. Exact integer masses; exact-rounded ratio.
    """
    dch = persist(
        cdc_chunk_table(documents, avg_chunk, min_words)
        .groupBy("doc_id", "chunk_hash")
        .agg(F.min("n_words").alias("n_words"))
    )
    keep = (
        dch.groupBy("chunk_hash")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_chunk_df)
        .select("chunk_hash")
    )
    capped = dch.join(keep, "chunk_hash")
    w = capped.groupBy("doc_id").agg(
        F.sum("n_words").cast("long").alias("w_total"),
    )
    a = capped.select(
        F.col("doc_id").alias("doc_a"), "chunk_hash", F.col("n_words").alias("nw")
    )
    b = capped.select(F.col("doc_id").alias("doc_b"), "chunk_hash")
    pairs = (
        a.join(b, "chunk_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").cast("long").alias("n_shared_chunks"),
            F.sum("nw").cast("long").alias("shared_words"),
        )
    )
    wa = w.select(F.col("doc_id").alias("doc_a"), F.col("w_total").alias("w_a"))
    wb = w.select(F.col("doc_id").alias("doc_b"), F.col("w_total").alias("w_b"))
    scored = (
        pairs.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_chunks",
            "shared_words",
            "w_a",
            "w_b",
            ratio_round(
                F.col("shared_words"), F.least("w_a", "w_b"), 6
            ).alias("containment"),
        )
    )
    return scored.filter(F.col("containment") >= threshold)


def _fast_audit_pipeline(
    documents: DataFrame, n: int, persist_sh: bool
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(sh, sigs, cand): the md5-portable shingle/signature/banded-candidate
    pipeline shared by the estimator audits (minhash_est_jaccard,
    bbit_minhash_est) — one spelling so a perm-table or banding change
    cannot desync them. ``persist_sh`` caches the corpus-sized shingle
    table only when the caller has multiple shingle consumers."""
    sh = shingle_table(documents, n)
    if persist_sh:
        sh = persist(sh)
    sid = (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
        % F.lit(MINHASH_PRIME)
    )
    sh_ids = sh.select("doc_id", sid.alias("sid"))
    sigs = persist(minhash_signatures(sh_ids, PERMS_FAST))
    cand = band_candidates(banded_signature(sigs, FAST_N_PERM, FAST_N_BANDS))
    return sh, sigs, cand


def minhash_est_jaccard(documents: DataFrame, n: int = 3) -> DataFrame:
    """Estimator-quality audit of the production MinHash configuration:
    signature-ESTIMATED Jaccard (matching permutations / 32) next to the
    EXACT Jaccard on every banded candidate pair. This is the number that
    justifies the band/permutation choice before anyone trusts the
    estimate at corpus scale — E[est] = J, and the observed |est - J|
    distribution is the empirical check of that contract (plus of the
    band recall curve P(candidate) = 1-(1-J^4)^8 at the working
    threshold).

    Shingle ids here are md5-derived (``conv(substring(md5(s),1,8))``),
    NOT the xxhash64 production ids: the md5 spelling is equally
    dictionary-free and row-local (no global sort, fully scalable) and
    is reproducible in DuckDB, so the whole audit — candidates,
    signatures, estimates, errors — hash-checks against the oracle
    rather than gating rows-only. Same banding math and the same
    candidate-first verify join as ``dedup_minhash_fast``; the only
    extra cost over a dedup pass is the 32-column signature equality
    per candidate. Error arithmetic is exact ppm integers end-to-end
    (est_ppm = matches * 31250 since 10^6/32 is integral; jac_ppm is
    the exact scaled ratio), divided back to doubles only for output.
    """
    sh, sigs, cand = _fast_audit_pipeline(documents, n, persist_sh=True)
    sa = sigs.selectExpr(
        "doc_id AS doc_a", *[f"mh_{i} AS a_{i}" for i in range(FAST_N_PERM)]
    )
    sb = sigs.selectExpr(
        "doc_id AS doc_b", *[f"mh_{i} AS b_{i}" for i in range(FAST_N_PERM)]
    )
    matches = F.expr(
        "CAST("
        + " + ".join(
            f"(CASE WHEN a_{i} = b_{i} THEN 1 ELSE 0 END)"
            for i in range(FAST_N_PERM)
        )
        + " AS BIGINT)"
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    est_ppm = (F.col("n_match_perms") * F.lit(1_000_000 // FAST_N_PERM)).cast("long")
    union = F.col("sz_a") + F.col("sz_b") - F.col("n_inter")
    jac_ppm = ratio_scaled(F.col("n_inter"), union, 6)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", matches.alias("n_match_perms"))
        # left join: a hash-collision candidate with zero shared shingles
        # must stay in the audit (est > 0, exact = 0), not silently drop
        .join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)).cast("long"))
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .withColumn("est_ppm", est_ppm)
        .withColumn("jac_ppm", jac_ppm)
        .select(
            "doc_a",
            "doc_b",
            "n_match_perms",
            (F.col("est_ppm").cast("double") / F.lit(1e6)).alias("est_jaccard"),
            (F.col("jac_ppm").cast("double") / F.lit(1e6)).alias("jaccard"),
            (
                F.abs(F.col("est_ppm") - F.col("jac_ppm")).cast("double") / F.lit(1e6)
            ).alias("abs_err"),
        )
    )


def dup_cluster_histogram(documents: DataFrame) -> DataFrame:
    """Duplicate-cluster size distribution — the one-screen audit of how
    duplication is STRUCTURED: a long tail of pairs (mirrors, reposts)
    deduplicates safely, while a few giant clusters (template farms, or
    transitivity collapse — see ``dup_graph_transitivity``) mean
    keep-one-per-cluster would delete real content. Per observed cluster
    size: how many clusters and how many documents; docs in no near-dup
    pair appear as the size-1 row, so the doc counts always sum to the
    corpus.

    Plan: the cluster assignment's own bounded output (docs-in-pairs
    rows) aggregates to at most |distinct sizes| rows; the singleton row
    joins two 1-row counts. Nothing here touches corpus volume beyond
    what ``dedup_clusters`` already does.
    """
    cl = dedup_clusters(documents)
    hist = cl.groupBy(F.col("cluster_size").cast("long").alias("cluster_size")).agg(
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        F.count("*").cast("long").alias("n_docs"),
    )
    total = documents.agg(F.count("*").cast("long").alias("n_total"))
    in_cl = cl.agg(F.count("*").cast("long").alias("n_in"))
    singles = (
        total.join(F.broadcast(in_cl))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("n_total") - F.col("n_in")).alias("n_clusters"),
            (F.col("n_total") - F.col("n_in")).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 0)
    )
    return hist.unionByName(singles)


def cdc_chunk_stats(
    documents: DataFrame,
    avg_chunk: int = CDC_AVG_CHUNK,
    min_words: int = CDC_MIN_WORDS,
) -> DataFrame:
    """Health audit of the content-defined chunker: the chunk-length
    value histogram with per-length dedup ratios. CDC's guarantees rest
    on its length distribution — expected length ``avg_chunk`` with a
    geometric tail — so a histogram that skews short (degenerate
    boundary hash), long (boilerplate defeating the bigram rule) or
    bimodal (mixed tokenization) says the avg_chunk/min_words constants
    are wrong for this corpus BEFORE a chunk-level dedup pass trusts
    them. n_distinct/n_chunks per length is the dedup leverage curve:
    lengths where occurrences far exceed distinct hashes are where
    chunk dedup will actually save bytes.

    Plan: the row-local chunk projection, then one groupBy on the
    small-integer length key; the distinct counts expand to
    (n_words, hash) partials map-side, so the exchange carries distinct
    chunk hashes once, never occurrence volume.
    """
    ch = cdc_chunk_table(documents, avg_chunk, min_words)
    return ch.groupBy(F.col("n_words").cast("long").alias("n_words")).agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.countDistinct("chunk_hash").cast("long").alias("n_distinct_chunks"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


def cross_source_dup_matrix(documents: DataFrame) -> DataFrame:
    """WHO duplicates WHOM: the near-dup pair set rolled up to a
    source-pair matrix — pairs, involved docs and mean similarity per
    (source, source) cell. The provenance view of duplication: a hot
    off-diagonal cell is one source republishing another (mirror,
    scraper, syndication) and the right fix is a source-level rule, not
    per-document dedup; hot diagonal cells are self-templated sources.
    Complements ``corpus.cross_source_overlap`` (shingle-level overlap
    mass) with the verified near-dup relation.

    Plan: the exact pair set (posting-list join, df-bounded as always)
    joined twice to the tiny (doc_id, source) projection; the matrix
    groupBy is bounded by |sources|^2. Mean jaccard is an exact ppm
    integer mean (sum of exact ppm values / count, round-half-up).
    """
    from inde1_spark.functions.exprs import ratio_round

    pairs = dedup_ngram_jaccard(documents)
    src = documents.select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b")),
            "doc_b",
        )
        # ppm snap is exact: jaccard is q/1e6 by construction (ratio_round)
        .withColumn(
            "jac_ppm", F.floor(F.col("jaccard") * 1e6 + F.lit(0.5)).cast("long")
        )
    )
    return labeled.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.countDistinct("doc_a").cast("long").alias("n_docs_a"),
        F.countDistinct("doc_b").cast("long").alias("n_docs_b"),
        ratio_round(F.sum("jac_ppm"), F.count("*") * 1_000_000, 6).alias(
            "mean_jaccard"
        ),
    )


PLANNER_CONFIGS = ((16, 2), (8, 4), (4, 8), (2, 16))  # b x r = 32 perms
PLANNER_DUP_MIN_PERMS = 24  # est Jaccard >= 0.75 counts as a true dup pair


def lsh_rebanding_planner(documents: DataFrame, n: int = 3) -> DataFrame:
    """Re-banding planner for the 32-perm MinHash signature: for every
    (bands x rows) split of the SAME signature, the predicted candidate
    volume and dup recall on THIS corpus — the measured answer to "should
    we trade candidates for recall" before re-running dedup at scale.
    S-curve: P(candidate | est similarity s) = 1 - (1 - s^r)^b.

    Works off the md5-portable estimator audit (``minhash_est_jaccard``):
    per-pair matching-perm counts collapse to a <= 33-row histogram
    (k/32 is the estimated similarity), the S-curve is evaluated per k
    with REPEATED SQUARING only (r and b are powers of two; identical
    IEEE multiply chains in both engines — no pow()), and expectations
    are exact sums of per-k micro-unit longs. Everything after the
    audit's own candidate join is bounded by the histogram x 4 configs.
    """
    est = minhash_est_jaccard(documents, n).select("n_match_perms")
    # persisted: the <=33-row histogram is referenced once per config, and
    # without the persist its LINEAGE reruns the estimator audit's whole
    # candidate join per reference (4x the dominant cost for 33 rows)
    kh = persist(
        est.groupBy(F.col("n_match_perms").alias("k")).agg(
            F.count("*").cast("long").alias("cnt")
        )
    )

    def sq(col, e):
        while e > 1:
            col = col * col
            e //= 2
        return col

    out = None
    for bands, rows_pb in PLANNER_CONFIGS:
        s = F.col("k").cast("double") / F.lit(32.0)
        p = F.lit(1.0) - sq(F.lit(1.0) - sq(s, rows_pb), bands)
        p_micro = F.round(p * F.lit(1e6), 0).cast("long")
        is_dup = F.col("k") >= PLANNER_DUP_MIN_PERMS
        cfg = kh.select(
            F.lit(bands).cast("long").alias("bands"),
            F.lit(rows_pb).cast("long").alias("rows_per_band"),
            "k",
            "cnt",
            p_micro.alias("p_micro"),
            is_dup.alias("is_dup"),
        )
        out = cfg if out is None else out.unionByName(cfg)
    agg = out.groupBy("bands", "rows_per_band").agg(
        F.sum("cnt").cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("is_dup"), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_dup_pairs"),
        F.sum(F.col("cnt") * F.col("p_micro")).cast("long").alias("ret_micro"),
        F.sum(
            F.when(F.col("is_dup"), F.col("cnt") * F.col("p_micro")).otherwise(0)
        )
        .cast("long")
        .alias("dup_ret_micro"),
    )
    return agg.select(
        "bands",
        "rows_per_band",
        "n_pairs",
        "n_dup_pairs",
        (F.col("ret_micro").cast("double") / F.lit(1e6)).alias(
            "expected_candidates"
        ),
        (
            F.expr(
                "dup_ret_micro div greatest(n_dup_pairs, CAST(1 AS BIGINT))"
            ).cast("double")
            / F.lit(1e6)
        ).alias("est_recall"),
    ).orderBy(F.col("bands").desc())


KCORE_KS = (2, 3)
KCORE_ROUNDS = 4  # peeling rounds; extra rounds past convergence are no-ops


def kcore_dup_graph(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    ks: tuple[int, ...] = KCORE_KS,
    rounds: int = KCORE_ROUNDS,
) -> DataFrame:
    """k-core summary of the near-duplicate graph: iteratively peel nodes
    of degree < k and report what survives — the DENSE-substructure
    detector that complements ``dup_graph_transitivity``'s global number:
    a large 3-core is a template farm / boilerplate clique (delete-all
    candidates), while chains and stars (transitivity hazards) peel away
    entirely.

    Peeling is the standard iterative kernel, run for every k at once:
    each edge is tagged with each k, and ONE chain of ``rounds`` peels is
    keyed on (k, node). Each round recomputes degrees (one combinable
    groupBy(k, u) on the endpoint union) and keeps edges whose BOTH
    endpoints have degree >= k — two (k, node)-keyed semi-joins, lazily
    checkpointed so the unrolled plan stays linear (the
    connected-components invariant). ``rounds`` is fixed so the DuckDB
    twin can unroll the same chained CTEs; rounds past the fixpoint are
    no-ops in both engines, and the testdata graphs converge in <= 3.
    Output: one row per k (surviving nodes/edges), counted by one
    groupBy(k) and left-joined from the k list, so a k whose core is
    empty still reports (k, 0, 0).
    """
    edges0 = persist(
        dedup_ngram_jaccard(documents, threshold).select("doc_a", "doc_b")
    )
    each_k = F.explode(F.array(*[F.lit(k).cast("long") for k in ks])).alias("k")
    e = edges0.select(each_k, "doc_a", "doc_b")
    for _ in range(rounds):
        deg = (
            e.select("k", F.col("doc_a").alias("u"))
            .union(e.select("k", F.col("doc_b").alias("u")))
            .groupBy("k", "u")
            .agg(F.count("*").cast("long").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= F.col("k")).select("k", "u")
        e = lazy_checkpoint(
            e.join(keep.withColumnRenamed("u", "doc_a"), ["k", "doc_a"]).join(
                keep.withColumnRenamed("u", "doc_b"), ["k", "doc_b"]
            ),
            adaptive=False,
        )
    # each surviving edge contributes both endpoints: |E_k| = rows / 2
    counts = (
        e.select("k", F.col("doc_a").alias("u"))
        .union(e.select("k", F.col("doc_b").alias("u")))
        .groupBy("k")
        .agg(
            F.countDistinct("u").cast("long").alias("n_nodes"),
            F.expr("count(*) div 2").cast("long").alias("n_edges"),
        )
    )
    # the k list is built from a range, not local Python rows: those would
    # make the action start a Python worker per partition to read them
    return (
        edges0.sparkSession.range(1)
        .select(each_k)
        .join(counts, "k", "left")
        .select(
            "k",
            F.coalesce("n_nodes", F.lit(0).cast("long")).alias("n_nodes"),
            F.coalesce("n_edges", F.lit(0).cast("long")).alias("n_edges"),
        )
        .orderBy("k")
    )


SWEEP_THRESHOLDS_PCT = (50, 60, 70, 80, 90)


def dedup_threshold_sweep(
    documents: DataFrame,
    n: int = 3,
    thresholds_pct: tuple[int, ...] = SWEEP_THRESHOLDS_PCT,
) -> DataFrame:
    """Threshold-selection sweep for signature-based dedup: at each
    candidate Jaccard cutoff, how many pairs the EXACT similarity keeps,
    how many the 32-perm ESTIMATE keeps, and the estimator's precision/
    recall against the exact decision — the companion planner to
    ``lsh_rebanding_planner`` (that one picks the banding, this one
    picks the threshold the banding must serve).

    Rides the md5-portable estimator audit once (persisted inside it);
    the sweep is five row-local predicates over the bounded candidate
    table, so cost is one audit pass regardless of how many thresholds
    are scored. ppm values are re-snapped to longs before comparison —
    no float-threshold edge cases — and ratios are exact micro-unit
    floor-divs with guarded denominators.
    """
    # persisted: each threshold row is a separate aggregate consumer of
    # the (tiny) ppm pair table — without this the audit pipeline would
    # re-run per threshold
    est = persist(
        minhash_est_jaccard(documents, n).select(
            F.round(F.col("est_jaccard") * F.lit(1e6), 0)
            .cast("long")
            .alias("est_ppm"),
            F.round(F.col("jaccard") * F.lit(1e6), 0)
            .cast("long")
            .alias("jac_ppm"),
        )
    )
    out = None
    for t in thresholds_pct:
        t_ppm = t * 10_000
        ex = F.col("jac_ppm") >= t_ppm
        es = F.col("est_ppm") >= t_ppm
        row = est.agg(
            F.lit(t).cast("long").alias("threshold_pct"),
            F.sum(F.when(ex, 1).otherwise(0)).cast("long").alias("n_exact"),
            F.sum(F.when(es, 1).otherwise(0)).cast("long").alias("n_est"),
            F.sum(F.when(ex & es, 1).otherwise(0)).cast("long").alias("n_both"),
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        "threshold_pct",
        "n_exact",
        "n_est",
        "n_both",
        F.expr(
            "(n_both * CAST(1000000 AS BIGINT))"
            " div greatest(n_est, CAST(1 AS BIGINT))"
        ).alias("precision_micro"),
        F.expr(
            "(n_both * CAST(1000000 AS BIGINT))"
            " div greatest(n_exact, CAST(1 AS BIGINT))"
        ).alias("recall_micro"),
    ).orderBy("threshold_pct")


BBIT_B = 1  # keep only the lowest b bits of each minhash (32x compression)


def bbit_minhash_est(documents: DataFrame, n: int = 3, b: int = BBIT_B) -> DataFrame:
    """b-bit minwise hashing (Li & Koenig): store only the lowest ``b``
    bits of each of the 32 minhash values — a 32/b-fold signature
    compression — and recover Jaccard with the collision-corrected
    estimator J = (f - C) / (1 - C), where f is the observed b-bit match
    fraction and C = 2^-b the random-collision floor. The audit emits,
    per banded candidate pair, the b-bit estimate next to the full
    32-value estimate and the exact Jaccard, so the compression's
    accuracy cost is measured on THIS corpus before anyone ships the
    smaller index.

    Rides the md5-portable estimator audit's signatures; the only new
    work is one masked 32-column equality per candidate pair. The
    corrected estimate is exact ppm integer algebra: with C = 1/2^b,
    J_ppm = ((f_matches * 2^b - 32) * 10^6) div (32 * (2^b - 1)),
    clamped at 0 (f below the collision floor estimates negative) —
    wide-decimal floor-div, identical in both engines.
    """
    _, sigs, cand = _fast_audit_pipeline(documents, n, persist_sh=False)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(FAST_N_PERM)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(FAST_N_PERM)],
    )
    mask = (1 << b) - 1
    full_matches = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(FAST_N_PERM)
    ).cast("long")
    bbit_matches = sum(
        F.when(
            F.col(f"a_{i}").bitwiseAND(F.lit(mask))
            == F.col(f"b_{i}").bitwiseAND(F.lit(mask)),
            1,
        ).otherwise(0)
        for i in range(FAST_N_PERM)
    ).cast("long")
    pow_b = 1 << b
    est_full_ppm = (F.col("n_full") * F.lit(1_000_000 // FAST_N_PERM)).cast(
        "long"
    )
    # clamp BEFORE dividing: a sub-collision-floor match count estimates
    # negative, and negative integer division truncates in Spark but
    # floors in DuckDB — keeping the numerator nonnegative sidesteps it
    est_bbit_ppm = F.expr(
        f"(greatest(n_bbit * {pow_b} - {FAST_N_PERM}, CAST(0 AS BIGINT))"
        f" * CAST(1000000 AS BIGINT))"
        f" div CAST({FAST_N_PERM * (pow_b - 1)} AS BIGINT)"
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            full_matches.alias("n_full"),
            bbit_matches.alias("n_bbit"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_full",
            "n_bbit",
            (est_full_ppm.cast("double") / F.lit(1e6)).alias("est_full"),
            (est_bbit_ppm.cast("double") / F.lit(1e6)).alias("est_bbit"),
        )
        .orderBy("doc_a", "doc_b")
    )


def simhash_hamming_histogram(documents: DataFrame) -> DataFrame:
    """Hamming-distance distribution over the SimHash banding candidates:
    the threshold-setting audit for the simhash family. The banding join
    (4x8 bands) surfaces every pair sharing a band; the histogram of
    their exact Hamming distances shows where the duplicate mass sits —
    a clean corpus bimodally separates (near-0 dup cloud vs ~16 random
    cloud), and the valley between them is the right HAMMING_MAX. The
    companion to ``lsh_rebanding_planner``, on the simhash side.

    Dictionary-sid signatures (the bit-reproducible twin path), banding
    candidates only — the histogram deliberately measures what the
    production banding CAN see, so its tail is also the recall ceiling.
    Cum share relative to all candidate pairs is exact integer rounding.

    Scale: identical cost envelope to dedup_simhash_oracle (band join on
    bounded band keys, hub bands skew-split by AQE) plus one bounded
    33-key aggregate.
    """
    sh = persist(shingle_table(documents))
    sh_ids = sh.join(shingle_dict(sh), "shingle").select("doc_id", "sid")
    pairs = _simhash_pairs(simhash_signatures(sh_ids), SIMHASH_BITS)
    hist = pairs.groupBy(F.col("hamming").cast("long").alias("hamming")).agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    wv = Window.orderBy("hamming")
    wg = Window.partitionBy()
    return (
        hist.select(
            "hamming",
            "n_pairs",
            F.sum("n_pairs")
            .over(wv.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long")
            .alias("cum_pairs"),
            F.sum("n_pairs").over(wg).cast("long").alias("total_pairs"),
        )
        .select(
            "hamming",
            "n_pairs",
            "cum_pairs",
            ratio_round(F.col("cum_pairs"), F.col("total_pairs"), 6).alias(
                "cum_share"
            ),
        )
        .orderBy("hamming")
    )


LINKPRED_TOP_K = 20


def dup_link_prediction(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    k: int = LINKPRED_TOP_K,
) -> DataFrame:
    """Link prediction on the near-duplicate graph: for every NON-edge
    two-hop pair, the neighborhood-Jaccard score |N(u) n N(v)| /
    |N(u) u N(v)| — the classic common-neighbors signal. High-scoring
    non-edges are pairs the pairwise threshold missed but the graph
    structure insists are duplicates (both near-identical to the same
    third documents): the recall-audit list a human reviews before
    tightening the threshold, and the quantitative answer to "is the
    banding missing pairs transitivity would catch".

    Exact edge set (``dedup_ngram_jaccard``); candidates from the
    ordered wedge join (u < v through shared neighbor x), direct edges
    removed by anti-join; degrees from one bounded aggregate. Top-k by
    (score desc, pair asc) — a TakeOrdered, never a global sort.

    Scale: the wedge join is the transitivity-audit join (hub nodes are
    AQE-skew-split); candidate volume is sum(deg^2), the same envelope
    every triangle/transitivity audit already pays. Score arithmetic is exact
    integer micro-rounding.
    """
    edges = persist(
        dedup_ngram_jaccard(documents, threshold).select("doc_a", "doc_b")
    )
    und = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    deg = und.groupBy(F.col("doc_a").alias("u")).agg(
        F.count("*").cast("long").alias("deg")
    )
    w1 = und.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("x"))
    w2 = und.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("v"))
    wedges = (
        w1.join(w2, "x")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    non_edges = wedges.join(
        edges.select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        ),
        ["u", "v"],
        "left_anti",
    )
    scored = (
        non_edges.join(deg.select(F.col("u"), F.col("deg").alias("deg_u")), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v")), "v"
        )
        .select(
            F.col("u").alias("doc_a"),
            F.col("v").alias("doc_b"),
            "n_common",
            ratio_round(
                F.col("n_common"),
                F.col("deg_u") + F.col("deg_v") - F.col("n_common"),
                6,
            ).alias("jaccard_nbrs"),
        )
    )
    return scored.orderBy(
        F.col("jaccard_nbrs").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    ).limit(k)


def dedup_savings_by_source(documents: DataFrame) -> DataFrame:
    """The dedup SAVINGS REPORT: per source, how many documents and
    TOKENS a keep-best-per-cluster pass would remove — the number the
    pipeline owner actually budgets by (storage, tokenizer throughput,
    epoch length), rolled up by provenance so the savings can be traced
    to the syndicating sources. Composes the exact pair ground truth ->
    components -> quality keeper with per-doc token counts.

    Exact integers throughout; removal share is ppm round-half-up. Every
    source appears (sources with no near-dup pairs report zero savings).

    Scale: the expensive part is the dedup machinery this already
    shares (df-capped pair join, pointer-jumping components); the
    report itself adds one token-count corpus pass and a bounded
    source-key rollup.
    """
    from inde1_spark.functions.exprs import tokens

    keep = dedup_keep_best(documents).select("doc_id", "keep")
    toks = documents.select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    joined = toks.join(keep, "doc_id", "left").select(
        "source",
        "n_tokens",
        F.coalesce(F.col("keep"), F.lit(True)).alias("keep"),
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("long").alias(
                "n_removed"
            ),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.sum(F.when(~F.col("keep"), F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tokens_removed"),
        )
        .select(
            "source",
            "n_docs",
            "n_removed",
            "tokens_total",
            "tokens_removed",
            ratio_round(
                F.col("tokens_removed"),
                F.greatest(F.col("tokens_total"), F.lit(1).cast("long")),
                6,
            ).alias("removed_share"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter record-linkage weights (learned from the dedup ground truth)
# ---------------------------------------------------------------------------

FS_LEN_BAND = 256  # n_chars band width for the length-agreement feature


def fellegi_sunter_linkage(documents: DataFrame) -> DataFrame:
    """Fellegi-Sunter (1969) record-linkage weights learned from the
    corpus's own near-dup ground truth — the probabilistic-matching
    layer the dedup family was missing: given cheap field-agreement
    features, what LOG-ODDS weight does each contribute to "same
    record"? Downstream, unlabeled candidate pairs are scored by summing
    the weights of their agreeing/disagreeing features — the classic
    blocking+scoring linkage pipeline, with the minhash/shingle
    candidates as the blocking stage.

    Comparison space = all shingle-co-occurring pairs (the posting-list
    join, never a cartesian); label = exact 3-gram Jaccard >=
    JACCARD_THRESHOLD (the engine's dedup ground truth); features =
    lang / source / length-band agreement. m_k = P(agree | match) and
    u_k = P(agree | non-match) are exact count ratios; the agreement and
    disagreement weights ln(m/u), ln((1-m)/(1-u)) are emitted through
    nano-snapped logs of INTEGER count products (< 2^53 up to ~3e6
    labeled pairs per side; downsample the comparison space past that).
    Degenerate features (zero agreement mass on either side) emit NULL
    weights identically in both engines.

    Scale: the pair join is the dedup_ngram_jaccard plan (df-capped in
    production via cap_shingle_df); the melt is 3x bounded pair rows;
    everything after is a 3-key aggregate.
    """

    def lnn(c):
        return F.round(F.log(c.cast("double")) * F.lit(1e9), 0).cast("long")

    pairs = _pair_jaccard(shingle_table(documents))
    meta = documents.select(
        "doc_id",
        "lang",
        "source",
        F.expr(f"n_chars div {FS_LEN_BAND}").alias("lb"),
    )
    m1, m2 = meta.alias("m1"), meta.alias("m2")
    feats = (
        pairs.join(m1, F.col("doc_a") == F.col("m1.doc_id"))
        .join(m2, F.col("doc_b") == F.col("m2.doc_id"))
        .select(
            (F.col("jaccard") >= F.lit(JACCARD_THRESHOLD)).alias("is_match"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit("lang").alias("feature"),
                        (F.col("m1.lang") == F.col("m2.lang"))
                        .cast("long")
                        .alias("agree"),
                    ),
                    F.struct(
                        F.lit("source").alias("feature"),
                        (F.col("m1.source") == F.col("m2.source"))
                        .cast("long")
                        .alias("agree"),
                    ),
                    F.struct(
                        F.lit("len_band").alias("feature"),
                        (F.col("m1.lb") == F.col("m2.lb"))
                        .cast("long")
                        .alias("agree"),
                    ),
                )
            ).alias("s"),
        )
        .select("is_match", "s.feature", "s.agree")
    )
    g = feats.groupBy("feature").agg(
        F.sum(F.when(F.col("is_match"), 1).otherwise(0)).cast("long").alias("n_match"),
        F.sum(F.when(~F.col("is_match"), 1).otherwise(0))
        .cast("long")
        .alias("n_nonmatch"),
        F.sum(F.when(F.col("is_match"), F.col("agree")).otherwise(0))
        .cast("long")
        .alias("agree_m"),
        F.sum(F.when(~F.col("is_match"), F.col("agree")).otherwise(0))
        .cast("long")
        .alias("agree_u"),
    )
    w_agree = F.when(
        (F.col("agree_m") > 0)
        & (F.col("agree_u") > 0)
        & (F.col("n_match") > 0)
        & (F.col("n_nonmatch") > 0),
        (
            lnn(F.col("agree_m") * F.col("n_nonmatch"))
            - lnn(F.col("agree_u") * F.col("n_match"))
        ).cast("double")
        / F.lit(1e9),
    )
    w_disagree = F.when(
        (F.col("n_match") - F.col("agree_m") > 0)
        & (F.col("n_nonmatch") - F.col("agree_u") > 0)
        & (F.col("n_match") > 0)
        & (F.col("n_nonmatch") > 0),
        (
            lnn((F.col("n_match") - F.col("agree_m")) * F.col("n_nonmatch"))
            - lnn((F.col("n_nonmatch") - F.col("agree_u")) * F.col("n_match"))
        ).cast("double")
        / F.lit(1e9),
    )
    return g.select(
        "feature",
        "n_match",
        "n_nonmatch",
        "agree_m",
        "agree_u",
        w_agree.alias("w_agree"),
        w_disagree.alias("w_disagree"),
    ).orderBy("feature")


def degree_assortativity(
    documents: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Degree assortativity of the near-duplicate graph: do high-degree
    documents link to other high-degree documents (template/boilerplate
    hubs clustering together, r > 0) or to low-degree satellites (a
    few canonical pages each duplicated by many one-off copies, r < 0)?
    The structural companion to ``dup_graph_transitivity``: transitivity
    says whether components over-merge; assortativity says what SHAPE
    the duplication economy has, which decides keep-best policy (hub
    corpora want cluster-level curation, star corpora want per-hub
    canonicalization).

    Pearson correlation of endpoint degrees over the DIRECTED edge list
    (each undirected edge contributes both orientations — the standard
    Newman formulation, which also makes Sx == Sy by construction).
    Degrees are exact longs; the centered moments n*Sxy - Sx*Sy
    accumulate in decimal(38,0) and convert by digit-split; a
    degree-regular graph (zero variance) emits r = 0.

    Scale: the edge set is the capped candidate join (never all-pairs);
    degrees and moments are two equi-join passes over it.
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    def d38(c):
        return c.cast("decimal(38,0)")

    edges = persist(
        dedup_ngram_jaccard(documents, threshold).select("doc_a", "doc_b")
    )
    deg = (
        edges.select(F.col("doc_a").alias("u"))
        .union(edges.select(F.col("doc_b").alias("u")))
        .groupBy("u")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    directed = edges.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).union(edges.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    du = deg.select(F.col("u"), F.col("deg").alias("dx"))
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("dy"))
    pairs = directed.join(du, "u").join(dv, "v")
    s = pairs.agg(
        F.count("*").cast("long").alias("m2"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(d38(F.col("dx")) * d38(F.col("dx"))).alias("sxx"),
        F.sum(d38(F.col("dy")) * d38(F.col("dy"))).alias("syy"),
        F.sum(d38(F.col("dx")) * d38(F.col("dy"))).alias("sxy"),
    )
    nodes = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.coalesce(F.max("deg"), F.lit(0)).cast("long").alias("max_degree"),
    )

    def cen(spp, s1, s2):
        return dec_to_double_exact(
            (
                d38(F.col("m2")) * F.col(spp).cast("decimal(38,0)")
                - d38(F.col(s1)) * d38(F.col(s2))
            ).cast("decimal(38,0)")
        )

    cxx, cyy, cxy = cen("sxx", "sx", "sx"), cen("syy", "sy", "sy"), cen(
        "sxy", "sx", "sy"
    )
    r = F.when((F.col("m2") == 0) | (cxx <= 0) | (cyy <= 0), F.lit(0.0)).otherwise(
        cxy / F.sqrt(cxx * cyy)
    )
    return nodes.join(F.broadcast(s)).select(
        "n_nodes",
        F.expr("m2 div 2").cast("long").alias("n_edges"),
        "max_degree",
        r.alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# r09 staged batch B: community structure of the near-duplicate graph
# (implemented + oracle-twinned in r08; enters queries() with the r09 window)
# ---------------------------------------------------------------------------

LPA_ROUNDS = 4  # fixed synchronous label-propagation rounds


def label_propagation_communities(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    rounds: int = LPA_ROUNDS,
) -> DataFrame:
    """Synchronous label propagation over the near-duplicate graph — the
    DENSITY community structure that ``connected_components`` (pure
    connectivity) cannot see: a thin 0.8-Jaccard bridge chains two dense
    boilerplate families into one component, but LPA labels converge
    within each dense side and the bridge stays a minority vote. The
    community histogram is the curation view that says whether dedup
    clusters are a few templated families or many small near-pairs.

    Deterministic synchronous LPA: label_0(u) = u; each round every node
    adopts the most frequent label among its neighbors AND itself, ties
    broken to the SMALLEST label — ``mode(label, deterministic=True)``
    over the node's adjacency with a self-loop (the node's own vote), a
    partially aggregated per-node aggregate (never a per-node sorted
    window). Fixed ``rounds`` synchronous rounds (engine-free semantics,
    same unroll in the oracle); each round ends in a lazy
    localCheckpoint so the plan stays linear (the connected-components
    rule). Nodes outside the edge set are singletons by definition and
    excluded (documented; the histogram covers the GRAPH).

    Output: community size -> number of communities of that size.

    Scale: per round one equi-join on a node key (the adjacency is cached
    partitioned by it) + one aggregate keyed on the node; state is one
    (node, label) row per node.
    """
    edges = persist(
        dedup_ngram_jaccard(documents, threshold).select("doc_a", "doc_b")
    )
    return lpa_histogram(edges, rounds)


def lpa_labels(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """The LPA label table (u, label) after ``rounds`` synchronous rounds
    over an ALREADY MATERIALIZED (doc_a, doc_b) edge table — the shared
    core under ``lpa_histogram`` (batch + streaming sink) and
    ``graph_modularity_audit``. The caller owns persistence of ``edges``
    (it is read only to build the persisted adjacency).

    The adjacency holds both directions of every edge plus a (u, u)
    self-loop, which is u's vote for its own label, so each round is one
    join of the adjacency with the label table and one
    ``mode(label, deterministic=True)`` per node: the most frequent label,
    ties to the smallest.
    """
    directed = edges.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).union(
        edges.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    self_loops = directed.select("u").distinct().select(
        "u", F.col("u").alias("v")
    )
    # r12: cache the adjacency PARTITIONED BY the per-round join key —
    # InMemoryTableScan keeps the child's outputPartitioning, so every
    # round's neighbor join reads it shuffle-free instead of re-exchanging
    # 2|E| rows per round (A/B: build 2.9-3.1 -> 2.5-2.9 s, same rows)
    nbrs = persist(spread(directed.union(self_loops), "v"))
    labels = (
        nbrs.select("u")
        .distinct()
        .select("u", F.col("u").alias("label"))
    )
    for _ in range(rounds):
        labels = lazy_checkpoint(
            nbrs.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.mode("label", deterministic=True).alias("label")),
            adaptive=False,
        )
    return labels


def lpa_histogram(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """The LPA community-size histogram over an ALREADY MATERIALIZED
    (doc_a, doc_b) edge table — shared verbatim by the batch operator and
    the streaming incremental-recompute sink
    (``streaming/corpus.py:lpa_communities_stream``), so stream and batch
    provably run the same rounds (the label core is ``lpa_labels``).
    """
    sizes = lpa_labels(edges, rounds).groupBy("label").agg(
        F.count("*").cast("long").alias("community_size")
    )
    return (
        sizes.groupBy("community_size")
        .agg(F.count("*").cast("long").alias("n_communities"))
        .orderBy("community_size")
    )


SUBSTRING_WINDOW_TOKENS = 15  # rolling exact-match window width


def dedup_substring_windows(
    documents: DataFrame, w: int = SUBSTRING_WINDOW_TOKENS
) -> DataFrame:
    """Overlapping exact-substring duplication audit — the rolling-window
    spelling of training-data substring dedup (Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better": any w-token span appearing
    in more than one document is duplicated text). ``dedup_spans`` cuts
    NON-overlapping windows (C4-style removal at fixed boundaries) and
    misses duplicates at any other offset; this audit slides the window
    over EVERY token position, so a copied paragraph is caught wherever it
    lands. Per document: how many of its w-token positions sit inside a
    span that exists elsewhere in the corpus — the substring-level dup
    mass that document-level (minhash/simhash) dedup cannot see.

    LINEAR plan, no pair join: explode the per-position windows (the
    zip-of-shifted-slices n-gram spelling — interpreted-HOF-safe), hash
    each window (md5: engine-portable), count distinct docs per window
    hash (map-side combinable), and join the per-position table back on
    the hash — every step an equi-join/aggregate on a key; AQE
    skew-splits hot boilerplate windows. Docs shorter than w tokens have
    no window and are excluded (mirrored WHERE).

    Scale: the explode multiplies the corpus by ~|tokens| rows of 32-char
    hashes; everything downstream is combinable or keyed. At 100 TB the
    same plan runs with a doc-frequency cap on the window table if the
    per-window distinct-doc count itself becomes the hot aggregate
    (documented swap, same as the minhash cap).
    """
    from inde1_spark.functions.exprs import ratio_round, word_ngrams

    # re-spread before the per-position window explode + md5 (the heavy
    # map pass, and it runs TWICE: the dfreq branch and the join-back
    # branch exchange separately) — a single-file corpus would pin both
    # passes to one core (r12)
    tokenized = spread(
        documents.select("doc_id", tokens("text").alias("toks")), "doc_id"
    ).filter(F.size("toks") >= w)
    wins = tokenized.select(
        "doc_id",
        F.explode(word_ngrams(F.col("toks"), w)).alias("win"),
    ).select("doc_id", F.md5("win").alias("h"))
    dfreq = wins.groupBy("h").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    per_doc = (
        wins.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_positions"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_windows",
        "n_shared_positions",
        ratio_round(
            F.col("n_shared_positions") * 100, F.col("n_windows"), 2
        ).alias("substring_dup_pct"),
    ).orderBy("doc_id")


def bridge_edges_audit(
    documents: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Triangle-support histogram of the near-duplicate graph — names the
    OVER-MERGING CULPRITS that ``dup_graph_transitivity`` only counts in
    aggregate: an edge with zero common neighbors (support 0) is a
    bridge, and bridges are exactly how connected-components dedup
    chains two unrelated boilerplate families into one cluster. The
    histogram (common-neighbor count -> number of edges) says how much
    of the graph is triangle-supported (safe to merge) vs bridge-like
    (a containment/levenshtein verify should gate the merge).

    Support per edge by the ordered wedge join: adjacency both
    directions, join the two endpoints' neighbor sets on the shared
    neighbor — every step an equi-join on a node key (AQE skew-splits
    hubs), edges persisted once and reused.
    """
    edges = persist(
        dedup_ngram_jaccard(documents, threshold).select("doc_a", "doc_b")
    )
    adj = edges.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).union(
        edges.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    support = (
        edges.join(
            adj.select(F.col("u").alias("doc_a"), F.col("v").alias("w1")),
            "doc_a",
        )
        .join(
            adj.select(F.col("u").alias("doc_b"), F.col("v").alias("w2")),
            "doc_b",
        )
        .filter(F.col("w1") == F.col("w2"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("cn"))
    )
    per_edge = edges.join(support, ["doc_a", "doc_b"], "left").select(
        F.coalesce(F.col("cn"), F.lit(0).cast("long")).alias(
            "common_neighbors"
        )
    )
    return (
        per_edge.groupBy("common_neighbors")
        .agg(F.count("*").cast("long").alias("n_edges"))
        .orderBy("common_neighbors")
    )


SUBSTRING_INCR_PCT = INCR_BATCH_PCT  # same hash lane as dedup_incremental
SUBSTRING_ADMIT_MAX_PCT = 50.0  # admit iff < half the positions are covered


def dedup_substring_incremental(
    documents: DataFrame,
    w: int = SUBSTRING_WINDOW_TOKENS,
    batch_pct: int = SUBSTRING_INCR_PCT,
) -> DataFrame:
    """Admission-control variant of ``dedup_substring_windows`` — the
    daily-ingest shape (same contract as ``dedup_incremental``, substring
    granularity): score an INCOMING shard's rolling w-token windows
    against the standing corpus index only, and admit each new document
    iff less than ``SUBSTRING_ADMIT_MAX_PCT`` of its token positions are
    spans the index already contains. Document-level incremental dedup
    (Jaccard) admits a crawl page that pads copied paragraphs with fresh
    boilerplate; the substring admission gate measures the copied mass
    directly (Lee et al. 2022's dup definition, applied at the ingest
    boundary instead of corpus-wide).

    The md5 hash-lane split stands in for the shard boundary; the index
    side reduces to DISTINCT window hashes (membership is all admission
    needs — no per-index-doc counts), so the join cost is |batch
    windows| x 1 posting row, proportional to the INCREMENT. Every step
    is an equi-join/aggregate on the window hash; incoming docs shorter
    than w tokens have no window and are admitted with dup_pct 0 (left
    join keeps them). At real scale the index is the persisted window-
    hash table the admission pipeline maintains; the plan is unchanged.
    """
    from inde1_spark.functions.exprs import ratio_round, word_ngrams
    from inde1_spark.operators.text import hash_bucket

    is_batch = hash_bucket(F.col("doc_id"), 100) < batch_pct
    tokenized = documents.select(
        "doc_id", is_batch.alias("is_batch"), tokens("text").alias("toks")
    )
    wins = tokenized.filter(F.size("toks") >= w).select(
        "doc_id",
        "is_batch",
        F.explode(word_ngrams(F.col("toks"), w)).alias("win"),
    ).select("doc_id", "is_batch", F.md5("win").alias("h"))
    index_h = (
        wins.filter(~F.col("is_batch")).select("h").distinct()
        .withColumn("_hit", F.lit(1))
    )
    scored = (
        wins.filter(F.col("is_batch"))
        .join(index_h, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
    )
    incoming = tokenized.filter(F.col("is_batch")).select("doc_id")
    out = incoming.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_windows"), F.lit(0).cast("long")).alias("n_windows"),
        F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
    )
    dup_pct = F.when(
        F.col("n_windows") > 0,
        ratio_round(F.col("n_hits") * 100, F.col("n_windows"), 2),
    ).otherwise(F.lit(0.0))
    return out.select(
        "doc_id",
        "n_windows",
        "n_hits",
        dup_pct.alias("dup_pct"),
        (dup_pct < F.lit(SUBSTRING_ADMIT_MAX_PCT)).alias("admitted"),
    ).orderBy("doc_id")


FUNNEL_QUALITY_MIN = 0.5  # exact 4-decimal quality gate for the funnel
FUNNEL_LANG = "en"


def dedup_pipeline_funnel(documents: DataFrame) -> DataFrame:
    """End-to-end curation-funnel accounting per source: raw -> exact
    dedup survivors -> quality-gate survivors -> language-gate survivors
    — the retention table every training-data pipeline publishes before
    a corpus ships (which source lost how much mass at which stage, the
    number that decides whether a filter is mistuned or a source is
    junk). Stages compose this engine's own gates: ``dedup_exact``'s
    keep-lowest-doc-id rule, ``quality_score``'s exact 4-decimal ratio
    at the 0.5 boundary (a dyadic double — engine-identical), and the
    lang column.

    One pass computes all per-doc stage flags (the exact-dedup keeper via
    a window min over the text hash — one shuffle on the hash key); the
    funnel is a single per-source aggregate of nested conditionals, so
    stage counts are monotone by construction.
    """
    from inde1_spark.functions.exprs import ratio_round
    from inde1_spark.operators.text import quality_parts

    _, quality, _ = quality_parts()
    keeper = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    flags = documents.select(
        "source",
        (F.col("doc_id") == keeper).alias("keep_exact"),
        quality.alias("q"),
        "lang",
    )
    pass_q = F.col("keep_exact") & (F.col("q") >= F.lit(FUNNEL_QUALITY_MIN))
    pass_l = pass_q & (F.col("lang") == F.lit(FUNNEL_LANG))
    funnel = flags.groupBy("source").agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(F.when(F.col("keep_exact"), 1).otherwise(0))
        .cast("long")
        .alias("n_after_exact"),
        F.sum(F.when(pass_q, 1).otherwise(0)).cast("long").alias("n_after_quality"),
        F.sum(F.when(pass_l, 1).otherwise(0)).cast("long").alias("n_after_lang"),
    )
    return funnel.select(
        "source",
        "n_total",
        "n_after_exact",
        "n_after_quality",
        "n_after_lang",
        ratio_round(F.col("n_after_lang") * 100, F.col("n_total"), 2).alias(
            "retention_pct"
        ),
    ).orderBy("source")


BAND_SWEEP_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))  # bands x rows = 16


def minhash_band_sweep(
    documents: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """LSH banding-configuration sweep — the measured form of
    ``lsh_rebanding_planner``'s S-curve arithmetic: for every (bands,
    rows-per-band) split of a 16-permutation MinHash signature, the
    ACTUAL candidate-pair count, precision and recall against this
    corpus's exact-Jaccard ground truth. The planner predicts the
    S-curve from theory; this audit prices each config in real
    candidate volume (the verify-join cost) and real recall (the misses)
    — the two numbers that pick a production banding before a 100 TB
    dedup run commits to one. At corpus scale the sweep runs on the
    admission sample, never the full table (same posture as the other
    tuning audits).

    Signatures use the engine-portable md5 shingle ids (the dictionary
    variant's affine perms over a first-8-hex-chars id) so the DuckDB
    twin reproduces every minhash bit; the signature groupBy is paid
    ONCE (persisted) and each config's bucket self-join runs over it.
    Candidates with zero firing configs still emit a row (per-config
    global aggregate). Precision/recall are exact round-half-up percents
    against the persisted exact truth table.
    """
    from inde1_spark.functions.exprs import ratio_round

    sh = persist(shingle_table(documents))
    sid = (
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
        % F.lit(MINHASH_PRIME)
    )
    sigs = persist(
        sh.select("doc_id", sid.alias("sid"))
        .groupBy("doc_id")
        .agg(
            *[
                F.expr(f"min(({a} * sid + {b}) % {MINHASH_PRIME}) AS m{i}")
                for i, a, b in PERMS
            ]
        )
    )
    truth = persist(
        dedup_ngram_jaccard(documents, threshold)
        .select("doc_a", "doc_b")
        .withColumn("_true", F.lit(1))
    )
    n_exact = truth.agg(F.count("*").cast("long").alias("n_exact"))

    # ONE band table over every (config, band) and ONE cfg-keyed bucket
    # self-join — the same shape as the DuckDB twin. r11: the (cfg, band)
    # fan-out is a single row-local inline(array(...)) over ONE scan of
    # the persisted signature table — the previous 30-branch union scanned
    # the cache 30 times and carried 30 stages of per-branch overhead for
    # an identical row multiset.
    entries = ", ".join(
        f"struct({cfg_idx} AS cfg, {j} AS band, "
        "md5(concat_ws(',', "
        + ", ".join(f"m{j * rpb + k}" for k in range(rpb))
        + ")) AS sig)"
        for cfg_idx, (n_bands, rpb) in enumerate(BAND_SWEEP_CONFIGS)
        for j in range(n_bands)
    )
    bands = sigs.selectExpr("doc_id", f"inline(array({entries}))")
    ba = bands.select(F.col("doc_id").alias("doc_a"), "cfg", "band", "sig")
    bb = bands.select(F.col("doc_id").alias("doc_b"), "cfg", "band", "sig")
    cand = (
        ba.join(bb, ["cfg", "band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("cfg", "doc_a", "doc_b")
        .distinct()
    )
    stats = cand.join(truth, ["doc_a", "doc_b"], "left").groupBy("cfg").agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum(F.coalesce(F.col("_true"), F.lit(0)))
        .cast("long")
        .alias("n_true_pairs"),
    )
    # config grid LEFT JOIN keeps zero-candidate configs in the output
    grid = sigs.sparkSession.range(len(BAND_SWEEP_CONFIGS)).select(
        F.col("id").cast("int").alias("cfg")
    )
    nb = F.lit(None)
    rp = F.lit(None)
    for cfg_idx, (n_bands, rpb) in enumerate(BAND_SWEEP_CONFIGS):
        cond = F.col("cfg") == cfg_idx
        nb = F.when(cond, F.lit(n_bands)).otherwise(nb)
        rp = F.when(cond, F.lit(rpb)).otherwise(rp)
    sweep = grid.join(stats, "cfg", "left").select(
        nb.cast("long").alias("n_bands"),
        rp.cast("long").alias("rows_per_band"),
        F.coalesce(F.col("n_candidates"), F.lit(0).cast("long")).alias(
            "n_candidates"
        ),
        F.coalesce(F.col("n_true_pairs"), F.lit(0).cast("long")).alias(
            "n_true_pairs"
        ),
    )
    return sweep.crossJoin(F.broadcast(n_exact)).select(
        "n_bands",
        "rows_per_band",
        "n_candidates",
        "n_true_pairs",
        ratio_round(
            F.col("n_true_pairs") * 100,
            F.greatest(F.col("n_candidates"), F.lit(1).cast("long")),
            2,
        ).alias("precision_pct"),
        ratio_round(
            F.col("n_true_pairs") * 100,
            F.greatest(F.col("n_exact"), F.lit(1).cast("long")),
            2,
        ).alias("recall_pct"),
    ).orderBy("rows_per_band")


WINNOW_INCR_PCT = INCR_BATCH_PCT  # same hash lane as dedup_incremental
# admission containment cut: reject iff >= half the NEW doc's fingerprints
# are already covered by one index doc. Deliberately above dedup_winnow's
# 7/20 pair rule: on char-gram fingerprints a loose cut rejects everything
# (measured: the 7/20 cut rejects 44/44 at both gate SFs; 1/2 admits
# 18/44 and 24/44 — a gate that discriminates)
WINNOW_ADMIT_NUM, WINNOW_ADMIT_DEN = 1, 2


def dedup_winnow_incremental(
    documents: DataFrame,
    max_fp_df: int = WINNOW_MAX_FP_DF,
    batch_pct: int = WINNOW_INCR_PCT,
) -> DataFrame:
    """Admission-control variant of ``dedup_winnow`` — the daily-ingest
    shape at FINGERPRINT granularity: score an incoming shard's winnowed
    rolling-hash fingerprints against the standing corpus index only, and
    admit each new document iff no index document already CONTAINS it
    (shared fingerprints >= half of the NEW doc's fingerprint set — the
    containment direction, not ``dedup_winnow``'s symmetric min-size
    rule, because admission asks "is this content already covered?";
    the cut sits above the pair rule's 7/20 because char-gram
    fingerprint BACKGROUND overlap is high on a shared vocabulary).
    Completes the incremental-admission family: ``dedup_incremental``
    (token-set Jaccard), ``dedup_substring_incremental`` (window
    membership mass), ``semdedup_incremental`` (embedding cosine), and
    this — verbatim-passage containment, the MOSS criterion at the
    ingest boundary (winnowing guarantees any shared substring of
    length >= k+w-1 chars leaves a shared fingerprint).

    Cost is proportional to the INCREMENT: candidate generation joins
    batch fingerprints to the index posting lists under the standard
    document-frequency cap (a ubiquitous fingerprint would make one
    posting list corpus-sized); the exact verify then re-counts shared
    fingerprints over the UNCAPPED sets for candidate pairs only, so the
    cap can only lose candidates whose entire overlap is boilerplate —
    it never mis-scores a surviving pair (the dedup_incremental
    contract). Batch docs with no candidates are admitted via the left
    join. At real scale the index side is the persisted fingerprint
    table the admission pipeline maintains; the plan is unchanged.
    """
    from inde1_spark.operators.text import hash_bucket, winnow_fp_table

    fp = persist(winnow_fp_table(documents))
    is_batch = hash_bucket(F.col("doc_id"), 100) < batch_pct
    split = documents.select("doc_id", is_batch.alias("is_batch"))
    batch_ids = split.filter(F.col("is_batch")).select("doc_id")
    index_ids = split.filter(~F.col("is_batch")).select("doc_id")
    batch_fp = fp.join(batch_ids, "doc_id").select(
        F.col("doc_id").alias("doc_new"), "fp"
    )
    index_fp = fp.join(index_ids, "doc_id").select(
        F.col("doc_id").alias("doc_idx"), "fp"
    )
    df_counts = index_fp.groupBy("fp").agg(F.count("*").alias("df"))
    capped = index_fp.join(
        df_counts.filter(F.col("df") <= max_fp_df).select("fp"), "fp"
    )
    cand = (
        batch_fp.join(capped, "fp")
        .select("doc_new", "doc_idx")
        .distinct()
    )
    # exact verify over the UNCAPPED fingerprint sets, candidates only
    shared = (
        cand.join(batch_fp, "doc_new")
        .join(index_fp, ["doc_idx", "fp"])
        .groupBy("doc_new", "doc_idx")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    sizes = fp.groupBy("doc_id").agg(F.count("*").cast("long").alias("sz"))
    sz_new = sizes.select(
        F.col("doc_id").alias("doc_new"), F.col("sz").alias("sz_new")
    )
    # best index match per batch doc: most shared, ties to lowest doc_idx
    # (min over the (-n_shared, doc_idx) struct — skew-safe, no row sort)
    best = shared.groupBy("doc_new").agg(
        F.min(F.struct((-F.col("n_shared")).alias("neg"), "doc_idx")).alias("b")
    ).select(
        "doc_new",
        (-F.col("b.neg")).cast("long").alias("n_shared"),
        F.col("b.doc_idx").alias("best_doc_idx"),
    )
    from inde1_spark.functions.exprs import ratio_round

    out = (
        batch_ids.select(F.col("doc_id").alias("doc_new"))
        .join(sz_new, "doc_new", "left")
        .join(best, "doc_new", "left")
    )
    n_shared = F.coalesce(F.col("n_shared"), F.lit(0).cast("long"))
    sz = F.coalesce(F.col("sz_new"), F.lit(0).cast("long"))
    return out.select(
        F.col("doc_new").alias("doc_id"),
        sz.alias("n_fp"),
        F.col("best_doc_idx"),
        n_shared.alias("n_shared"),
        F.when(
            sz > 0, ratio_round(n_shared * 100, sz, 2)
        ).otherwise(F.lit(0.0)).alias("containment_pct"),
        # a doc too short to fingerprint carries no dup evidence: admit
        F.when(sz == 0, F.lit(True)).otherwise(
            F.lit(WINNOW_ADMIT_DEN) * n_shared
            < F.lit(WINNOW_ADMIT_NUM) * sz
        ).alias("admitted"),
    ).orderBy("doc_id")


# df-cap sweep grid: the candidate-volume / lost-mass trade per cap value
DF_CAP_SWEEP = (4, 16, 64, 256)


def shingle_df_cap_sweep(documents: DataFrame) -> DataFrame:
    """Price the shingle document-frequency cap BEFORE a corpus-scale
    dedup run commits to one — the tuning audit behind
    ``max_shingle_df`` (dedup_minhash_fast, dedup_incremental) and
    ``max_fp_df`` (dedup_winnow): an inverted-index pair join generates
    sum_s df_s*(df_s-1)/2 candidate pairs, so one boilerplate shingle
    with df ~ corpus size is quadratic ruin; capping drops exactly the
    postings of hot shingles and nothing else. For each cap value this
    reports the exact candidate-pair volume the verify join would pay
    (sum over KEPT shingles of C(df,2)), the share of candidate volume
    shed vs uncapped, and the share of shingle POSTINGS lost (the mass
    whose pair evidence the cap discards — the recall risk proxy).

    One shingle-DF aggregate feeds the whole sweep: the (df -> count)
    histogram is corpus-bounded-small (df is heavy-tailed), and the
    sweep grid is a broadcast cross join over that histogram — no
    per-cap rescans, no pair join anywhere. Pair counts are exact
    integers in DECIMAL(38,0) (df*(df-1) overflows BIGINT once one
    shingle's df passes ~4.3e9 — the exact regime this audit exists
    for); shed/lost shares are exact round-half-up percents.
    """
    from inde1_spark.functions.exprs import dec_floordiv, dec_ratio_round

    sh = shingle_table(documents)
    dfs = sh.groupBy("shingle").agg(F.count("*").cast("long").alias("df"))
    hist = dfs.groupBy("df").agg(F.count("*").cast("long").alias("n_shingles"))
    # the cap grid is built from a range, not local Python rows: those
    # would make the action start a Python worker per partition
    caps = documents.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(c).cast("long") for c in DF_CAP_SWEEP]))
        .alias("cap")
    )
    d38 = "decimal(38,0)"
    dfc = F.col("df").cast(d38)
    nsh = F.col("n_shingles").cast(d38)
    two = F.lit(2).cast(d38)
    pairs_all = dec_floordiv(dfc * (dfc - F.lit(1).cast(d38)), two) * nsh
    kept_df = F.least(F.col("df"), F.col("cap")).cast(d38)
    pairs_kept = dec_floordiv(kept_df * (kept_df - F.lit(1).cast(d38)), two) * nsh
    postings_all = dfc * nsh
    postings_kept = kept_df * nsh
    agg = (
        caps.join(F.broadcast(hist))
        .groupBy("cap")
        .agg(
            F.sum(pairs_all).alias("p_all"),
            F.sum(pairs_kept).alias("p_kept"),
            F.sum(postings_all).alias("m_all"),
            F.sum(postings_kept).alias("m_kept"),
        )
    )
    # corpus-scale pair counts can exceed int64: keep the exact decimals
    # as strings for the gate, shares as exact percents of the decimals
    return agg.select(
        "cap",
        F.col("p_kept").cast(d38).cast("string").alias("n_candidate_pairs"),
        dec_ratio_round(
            (F.col("p_all") - F.col("p_kept")) * F.lit(100).cast(d38),
            F.greatest(F.col("p_all").cast(d38), F.lit(1).cast(d38)),
            2,
        ).alias("pairs_shed_pct"),
        dec_ratio_round(
            (F.col("m_all") - F.col("m_kept")) * F.lit(100).cast(d38),
            F.greatest(F.col("m_all").cast(d38), F.lit(1).cast(d38)),
            2,
        ).alias("postings_lost_pct"),
    ).orderBy("cap")


def graph_modularity_audit(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    rounds: int = LPA_ROUNDS,
) -> DataFrame:
    """Newman modularity of the LPA partition over the near-duplicate
    graph — the EVAL for ``label_propagation_communities``: the size
    histogram says what the communities look like; modularity says
    whether they are REAL (Q near 0 = the partition explains no more
    edge mass than a random graph with the same degrees — don't
    cluster-scope dedup decisions on it; Q >~ 0.3 = dense families the
    per-cluster curation policies can trust). Same edges, same label
    core (``lpa_labels``), so the number audits exactly the partition
    the production operator ships.

    Exact arithmetic: Q = sum_c [L_c/m - (D_c/2m)^2] rewritten over the
    common denominator 4m^2 — numerator sum_c (4m*L_c - D_c^2) in
    DECIMAL(38,0) (D_c^2 passes 2^63 at ~3e9 aggregate degree), ONE
    sign-split micro-round at the end (Q is negative for
    anti-community partitions; negative floor-div is engine-divergent —
    the JT rule). intra_edge_pct is the companion plain ratio. One
    label join per edge side + three bounded aggregates after the LPA
    rounds themselves.
    """
    from inde1_spark.functions.exprs import (
        dec_floordiv,
        dec_to_double_exact,
        ratio_round,
    )

    def d38(c):
        return c.cast("decimal(38,0)")

    edges = persist(
        dedup_ngram_jaccard(documents, threshold).select("doc_a", "doc_b")
    )
    # read three times; the last round's checkpoint already keeps its blocks,
    # and a persisted copy of its hash-partitioned leaf would be missed by
    # the self-joined reads
    labels = lpa_labels(edges, rounds)
    la = labels.select(F.col("u").alias("doc_a"), F.col("label").alias("lab_a"))
    lb = labels.select(F.col("u").alias("doc_b"), F.col("label").alias("lab_b"))
    tagged = edges.join(la, "doc_a").join(lb, "doc_b")
    m_tbl = edges.agg(F.count("*").cast("long").alias("m"))
    intra = (
        tagged.filter(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("label"))
        .agg(F.count("*").cast("long").alias("l_c"))
    )
    deg = (
        edges.select(F.col("doc_a").alias("u"))
        .union(edges.select(F.col("doc_b").alias("u")))
        .groupBy("u")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    d_c = (
        deg.join(labels, "u")
        .groupBy("label")
        .agg(F.sum("deg").cast("long").alias("d_c"))
    )
    per_c = (
        d_c.join(intra, "label", "left")
        .select(
            "label",
            "d_c",
            F.coalesce(F.col("l_c"), F.lit(0).cast("long")).alias("l_c"),
        )
        .join(F.broadcast(m_tbl))
    )
    num = per_c.agg(
        F.sum(
            F.lit(4).cast("decimal(38,0)") * d38(F.col("m")) * d38(F.col("l_c"))
            - d38(F.col("d_c")) * d38(F.col("d_c"))
        ).alias("q_num"),
        F.sum("l_c").cast("long").alias("intra_edges"),
        F.count("*").cast("long").alias("n_communities"),
        F.max("m").cast("long").alias("m"),
    )
    n_nodes = labels.agg(F.count("*").cast("long").alias("n_nodes"))
    den = (
        F.lit(4).cast("decimal(38,0)")
        * d38(F.col("m"))
        * d38(F.col("m"))
    ).cast("decimal(38,0)")
    a = (
        F.abs(F.col("q_num")).cast("decimal(38,0)")
        * F.lit(2_000_000).cast("decimal(38,0)")
        + den
    ).cast("decimal(38,0)")
    q_micro = dec_floordiv(a, den * F.lit(2).cast("decimal(38,0)")).cast(
        "decimal(38,0)"
    )
    sgn = F.when(F.col("q_num") < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    return (
        num.join(F.broadcast(n_nodes))
        .filter(F.col("m") > 0)
        .select(
            "n_nodes",
            F.col("m").alias("n_edges"),
            "n_communities",
            ratio_round(F.col("intra_edges") * 100, F.col("m"), 2).alias(
                "intra_edge_pct"
            ),
            (sgn * dec_to_double_exact(q_micro) / F.lit(1e6)).alias(
                "modularity"
            ),
        )
    )


# avg-chunk-words grid the CDC mask sweep prices (brackets CDC_AVG_CHUNK)
CDC_MASK_GRID = (8, 16, 32)


def cdc_mask_sweep(
    documents: DataFrame, grid: tuple[int, ...] = CDC_MASK_GRID
) -> DataFrame:
    """Mask-width tuning sweep for the content-defined chunker — prices
    the ``avg_chunk`` knob BEFORE a corpus-scale chunk dedup commits to
    one (the CDC analog of ``shingle_df_cap_sweep``): for each candidate
    expected chunk length, the chunk volume, the realized mean length
    (the boundary-hash health check — far off the target means the
    corpus text defeats the bigram rule), the share of chunk
    OCCURRENCES that are repeats of an already-seen chunk, and the
    share of corpus WORDS a store-each-distinct-chunk-once layout
    saves. Small masks find more shared chunks (finer granularity,
    more metadata rows); large masks save less but cost less — this
    table is the knee curve that decision reads.

    Per grid value: the row-local chunk projection (only
    (chunk_hash, n_words) survives it), ONE map-side-combined groupBy
    on the hash, and a one-row rollup — identical chunk text implies
    identical n_words, so per-hash word savings are exact. Percents
    are exact round-half-up; word totals stay in longs (corpus word
    count bounds them).
    """
    from inde1_spark.functions.exprs import ratio_round

    out = None
    for a in grid:
        per_hash = (
            cdc_chunk_table(documents, avg_chunk=a)
            .groupBy("chunk_hash")
            .agg(
                F.count("*").cast("long").alias("occ"),
                F.min("n_words").cast("long").alias("nw"),
            )
        )
        row = per_hash.agg(
            F.lit(int(a)).cast("long").alias("avg_chunk_words"),
            F.coalesce(F.sum("occ"), F.lit(0)).cast("long").alias("n_chunks"),
            F.count("*").cast("long").alias("n_distinct_chunks"),
            F.coalesce(F.sum(F.col("occ") * F.col("nw")), F.lit(0))
            .cast("long")
            .alias("_total_words"),
            F.coalesce(F.sum("nw"), F.lit(0)).cast("long").alias("_dist_words"),
        ).select(
            "avg_chunk_words",
            "n_chunks",
            "n_distinct_chunks",
            ratio_round(
                F.col("_total_words"),
                F.greatest(F.col("n_chunks"), F.lit(1).cast("long")),
                2,
            ).alias("mean_chunk_words"),
            ratio_round(
                (F.col("n_chunks") - F.col("n_distinct_chunks")) * 100,
                F.greatest(F.col("n_chunks"), F.lit(1).cast("long")),
                2,
            ).alias("dup_occurrence_pct"),
            ratio_round(
                (F.col("_total_words") - F.col("_dist_words")) * 100,
                F.greatest(F.col("_total_words"), F.lit(1).cast("long")),
                2,
            ).alias("words_saved_pct"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("avg_chunk_words")


# signature-length grid the permutation sweep prices (production is 32)
MINHASH_PERM_GRID = (8, 16, 32)


def minhash_perm_sweep(
    documents: DataFrame,
    n: int = 3,
    grid: tuple[int, ...] = MINHASH_PERM_GRID,
) -> DataFrame:
    """Signature-length tuning sweep for MinHash — how many permutations
    does the ESTIMATE actually need? ``minhash_est_jaccard`` audits the
    production 32-perm estimator pair by pair; this sweep prices the
    knob: for each prefix length k of the SAME permutation family, the
    per-pair estimate err vs exact Jaccard aggregated to mean/max
    absolute error and signed bias (all ppm). Signature bytes scale
    linearly with k — at corpus scale the signature table is the
    resident structure, so halving k halves its footprint if the error
    column says 16 perms suffice. Prefix subsets (not fresh families
    per k) mean ONE signature pass prices every k.

    Same md5-portable pipeline as the estimator audit (so every number
    hash-checks against DuckDB), one persisted per-pair table feeding
    the bounded per-k rollups. est_ppm is exact (10^6/k is integral for
    the power-of-two grid); means are exact round-half-up; bias is
    sign-split (ratio_round needs nonnegative operands).
    """
    sh, sigs, cand = _fast_audit_pipeline(documents, n, persist_sh=True)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(FAST_N_PERM)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(FAST_N_PERM)],
    )
    match_cols = [
        sum(
            F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
            for i in range(k)
        ).cast("long").alias(f"m_{k}")
        for k in grid
    ]
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    union = F.col("sz_a") + F.col("sz_b") - F.col("n_inter")
    pairs = persist(
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", *match_cols)
        # left join: a collision candidate with zero shared shingles must
        # stay in the audit (est > 0, exact = 0), not silently drop
        .join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)).cast("long"))
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")),
            "doc_b",
        )
        .withColumn("jac_ppm", ratio_scaled(F.col("n_inter"), union, 6))
    )
    out = None
    for k in grid:
        est = (F.col(f"m_{k}") * F.lit(1_000_000 // k)).cast("long")
        diff = est - F.col("jac_ppm")
        row = pairs.agg(
            F.lit(int(k)).cast("long").alias("n_perms"),
            F.count("*").cast("long").alias("n_pairs"),
            ratio_round(
                F.coalesce(F.sum(F.abs(diff)), F.lit(0)),
                F.greatest(F.count("*"), F.lit(1)).cast("long"),
                2,
            ).alias("mean_abs_err_ppm"),
            F.coalesce(F.max(F.abs(diff)), F.lit(0))
            .cast("long")
            .alias("max_abs_err_ppm"),
            (
                F.when(F.coalesce(F.sum(diff), F.lit(0)) < 0, F.lit(-1.0))
                .otherwise(F.lit(1.0))
                * ratio_round(
                    F.abs(F.coalesce(F.sum(diff), F.lit(0))),
                    F.greatest(F.count("*"), F.lit(1)).cast("long"),
                    2,
                )
            ).alias("bias_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("n_perms")


def keep_policy_audit(documents: DataFrame) -> DataFrame:
    """Representative-selection POLICY audit over the near-dup clusters —
    ``dedup_keep_best`` commits to one keep rule; this prices the three
    candidates side by side before a destructive keep-one pass runs:
    keep the smallest doc_id (the cheap canonical rule), the
    best-quality member (dedup_keep_best's rule), or the longest member
    (the keep-most-content rule). Per policy: the kept token mass, the
    mean kept quality, and how many clusters pick a DIFFERENT keeper
    than the min-id baseline — if that count is ~0, the cheap rule is
    free; if it's large and the quality/token deltas matter, the
    ranking pass earns its cost.

    One pass over the cluster assignment: each policy's keeper is a
    ``min(struct(rank_key, doc_id))`` aggregate per cluster (map-side
    combinable — never a per-cluster sort), joined back once; the
    rollup is three bounded rows. Quality is the exact 4-decimal ratio
    (micro-scaled mean via exact round-half-up); token sums are longs.
    """
    from inde1_spark.operators.text import quality_score

    q = quality_score(documents).select("doc_id", "n_tokens", "quality")
    members = persist(
        dedup_clusters(documents).join(q, "doc_id").select(
            "cluster_id",
            "doc_id",
            "n_tokens",
            # micro-int quality: an exact struct-ranking key
            F.floor(F.col("quality") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("q_micro"),
        )
    )
    keepers = members.groupBy("cluster_id").agg(
        F.min("doc_id").alias("k_min_id"),
        F.min(
            F.struct((-F.col("q_micro")).alias("nq"), F.col("doc_id"))
        )["doc_id"].alias("k_best_quality"),
        F.min(
            F.struct((-F.col("n_tokens")).alias("nt"), F.col("doc_id"))
        )["doc_id"].alias("k_longest"),
    )
    joined = members.join(keepers, "cluster_id")
    out = None
    for policy, kcol in (
        ("min_id", "k_min_id"),
        ("best_quality", "k_best_quality"),
        ("longest", "k_longest"),
    ):
        kept = F.col("doc_id") == F.col(kcol)
        row = joined.agg(
            F.lit(policy).alias("policy"),
            F.count("*").cast("long").alias("n_members"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("n_tokens"))), F.lit(0))
            .cast("long")
            .alias("kept_tokens"),
            ratio_round(
                F.coalesce(F.sum(F.when(kept, F.col("q_micro"))), F.lit(0)),
                F.greatest(
                    F.sum(F.when(kept, 1).otherwise(0)), F.lit(1)
                ).cast("long"),
                0,
            ).alias("mean_kept_quality_micro"),
            F.sum(
                F.when(kept & (F.col("doc_id") != F.col("k_min_id")), 1)
                .otherwise(0)
            ).cast("long").alias("n_differs_from_min_id"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("policy")


# hash-id widths the collision audit prices (md5-prefix bits)
HASH_WIDTH_BITS = (32, 48, 60)


def hash_width_audit(documents: DataFrame) -> DataFrame:
    """Hash-id width audit — how wide must the content ids that this
    engine builds everything on (shingle ids, chunk hashes, dedup keys)
    actually be? For each candidate prefix width of the md5 family, the
    MEASURED collisions among the corpus's distinct texts next to the
    birthday-bound expectation n(n-1)/2^(w+1) (micro-exact decimal) —
    the evidence for narrowing ids (half the shuffle bytes of every
    hash-keyed exchange) or the alarm against it. MinHash's 31-bit sid
    lives at the narrow end of this curve; the audit is why that is
    safe for signatures (collisions only perturb one permutation) but
    NOT for dedup keys.

    One distinct-text pass (hash-keyed, never text-keyed downstream:
    the persisted table carries the full md5 only), row-local prefix
    projections, one aggregate holding every width's distinct count;
    the width rows are projections of that single row. 60 bits is the
    widest long-safe md5 prefix (15 hex chars).
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    full = persist(
        documents.select(F.md5("text").alias("h")).distinct()
    )
    aggs = [F.count("*").cast("long").alias("n_keys")]
    for w in HASH_WIDTH_BITS:
        hexn = w // 4
        aggs.append(
            F.countDistinct(
                F.conv(F.substring("h", 1, hexn), 16, 10).cast("long")
            ).cast("long").alias(f"nh_{w}")
        )
    agg = full.agg(*aggs)
    d38 = "decimal(38,0)"
    out = None
    for w in HASH_WIDTH_BITS:
        row = agg.select(
            F.lit(int(w)).cast("long").alias("bits"),
            F.col("n_keys"),
            F.col(f"nh_{w}").alias("n_hashes"),
            (F.col("n_keys") - F.col(f"nh_{w}"))
            .cast("long")
            .alias("n_collisions"),
            dec_ratio_round(
                (
                    F.col("n_keys").cast(d38)
                    * (F.col("n_keys") - 1).cast(d38)
                    * F.lit(1_000_000).cast(d38)
                ).cast(d38),
                F.lit(2 ** (w + 1)).cast(d38),
                0,
            ).cast("long").alias("expected_collisions_micro"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("bits")

# ---------------------------------------------------------------------------
# blocking_key_sweep: blocking-key selection for the linkage pipeline
# ---------------------------------------------------------------------------

# candidate blocking keys: (feature name, meta column) — meta built below
BLOCKING_FEATS = (
    ("lang", "k_lang"),
    ("lang_source", "k_lang_source"),
    ("len_band", "k_len_band"),
    ("source", "k_source"),
)


def blocking_key_sweep(documents: DataFrame) -> DataFrame:
    """Blocking-key selection audit for the record-linkage pipeline —
    BEFORE ``fellegi_sunter_linkage`` scores candidate pairs, which
    field should BLOCK the comparison space? For each candidate key
    (lang / source / n_chars length band / lang+source composite), the
    two classic blocking metrics priced on THIS corpus: the
    candidate-pair bill sum_b c_b*(c_b-1)/2 with its reduction ratio
    against the all-pairs n*(n-1)/2, and PAIR COMPLETENESS — the share
    of true near-dup pairs (exact 3-gram Jaccard >= JACCARD_THRESHOLD,
    the engine's dedup ground truth) the key co-blocks. High reduction
    with high completeness is the blocking stage; high reduction with
    low completeness is a key that silently loses matches — the number
    this table exists to surface before a 100 TB linkage run commits to
    a key.

    Plan: block sizes come from ONE explode of a bounded per-doc
    feature array and a (feature, value) count — map-side combinable,
    no joins; truth pairs reuse the fellegi_sunter comparison space
    (shingle posting-list join, never a cartesian; production caps hot
    shingles via cap_shingle_df) and melt to bounded per-feature
    agreement rows. Pair bills accumulate c*(c-1) in DECIMAL(38,0)
    (LONG would wrap silently on a 100 TB hot block where DuckDB's
    HUGEINT hard-errors — the join_cardinality_audit rule) and are
    emitted as exact strings plus digit-split doubles; percents are
    exact round-half-up, completeness NULL when the corpus has no
    ground-truth pairs (both engines identically).
    """
    from inde1_spark.functions.exprs import (
        dec_floordiv,
        dec_ratio_round,
        dec_to_double_exact,
    )

    def d38(c):
        return c.cast("decimal(38,0)")

    meta = documents.select(
        "doc_id",
        F.col("lang").cast("string").alias("k_lang"),
        F.col("source").cast("string").alias("k_source"),
        F.expr(f"n_chars div {FS_LEN_BAND}").cast("string").alias("k_len_band"),
        F.concat_ws("|", "lang", "source").alias("k_lang_source"),
    )
    kv = meta.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("feature"), F.col(c).alias("val")
                    )
                    for name, c in BLOCKING_FEATS
                ]
            )
        ).alias("s")
    ).select("s.feature", "s.val")
    blocks = kv.groupBy("feature", "val").agg(
        F.count("*").cast("long").alias("c")
    )
    per_key = blocks.groupBy("feature").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.max("c").cast("long").alias("max_block"),
        F.sum((d38(F.col("c")) * (F.col("c") - 1)).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("pairs2"),
        F.sum("c").cast("long").alias("n_docs"),
    )

    truth = (
        _pair_jaccard(shingle_table(documents))
        .filter(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD))
        .select("doc_a", "doc_b")
    )
    m1, m2 = meta.alias("m1"), meta.alias("m2")
    tp = (
        truth.join(m1, F.col("doc_a") == F.col("m1.doc_id"))
        .join(m2, F.col("doc_b") == F.col("m2.doc_id"))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("feature"),
                            (F.col(f"m1.{c}") == F.col(f"m2.{c}"))
                            .cast("long")
                            .alias("co"),
                        )
                        for name, c in BLOCKING_FEATS
                    ]
                )
            ).alias("s")
        )
        .select("s.feature", "s.co")
    )
    comp = tp.groupBy("feature").agg(
        F.count("*").cast("long").alias("n_true_pairs"),
        F.coalesce(F.sum("co"), F.lit(0)).cast("long").alias("n_coblocked"),
    )

    cand = dec_floordiv(F.col("pairs2"), F.lit(2).cast("decimal(38,0)")).cast(
        "decimal(38,0)"
    )
    total2 = (d38(F.col("n_docs")) * (F.col("n_docs") - 1)).cast(
        "decimal(38,0)"
    )
    n_true = F.coalesce(F.col("n_true_pairs"), F.lit(0).cast("long"))
    n_cob = F.coalesce(F.col("n_coblocked"), F.lit(0).cast("long"))
    return (
        per_key.join(comp, "feature", "left")
        .select(
            "feature",
            "n_blocks",
            "max_block",
            cand.cast("string").alias("cand_pairs"),
            dec_to_double_exact(cand).alias("cand_pairs_approx"),
            dec_ratio_round(
                (total2 - F.col("pairs2")) * 100,
                F.greatest(total2, F.lit(1).cast("decimal(38,0)")),
                4,
            ).alias("reduction_pct"),
            n_true.alias("n_true_pairs"),
            n_cob.alias("n_coblocked"),
            F.when(
                n_true > 0, ratio_round(n_cob * 100, n_true, 2)
            ).alias("completeness_pct"),
        )
        .orderBy("feature")
    )


def lsh_bucket_balance_audit(documents: DataFrame) -> DataFrame:
    """Straggler pricing for the LSH bucket self-join — ``minhash_band_sweep``
    prices each banding config's candidate VOLUME and recall; this audit
    prices the production banding's load BALANCE: per band, the bucket-size
    distribution the verify join actually shuffles on. At 100 TB the
    bucket join's wall-clock is its largest bucket — c docs in one bucket
    is c*(c-1)/2 verify pairs on ONE reducer — so a band whose top bucket
    carries most of the pair bill is the df-cap/salting signal
    (``cap_shingle_df`` / the shingle_df_cap_sweep knob) BEFORE a dedup
    run commits to this banding. Healthy bands show top-bucket shares
    near the uniform floor; a degenerate sig (boilerplate corpus) shows
    one bucket owning the band.

    Signatures are the engine-portable md5 shingle ids under the
    dictionary variant's affine perms (the minhash_band_sweep spelling,
    so the DuckDB twin reproduces every minhash bit); ONE signature
    groupBy, one bounded per-band explode, per-(band, sig) counts —
    map-side combinable, no joins anywhere. Pair bills accumulate
    c*(c-1) in DECIMAL(38,0) (LONG would wrap on a 100 TB hot bucket
    where DuckDB's HUGEINT hard-errors) and are emitted as exact
    strings plus digit-split doubles; the top-bucket share is exact
    round-half-up, NULL when a band has no multi-doc bucket (both
    engines identically).
    """
    from inde1_spark.functions.exprs import (
        dec_floordiv,
        dec_ratio_round,
        dec_to_double_exact,
    )

    def d38(c):
        return c.cast("decimal(38,0)")

    sh = shingle_table(documents)
    sid = (
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
        % F.lit(MINHASH_PRIME)
    )
    sigs = (
        sh.select("doc_id", sid.alias("sid"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(
                    (F.lit(a) * F.col("sid") + F.lit(b)) % F.lit(MINHASH_PRIME)
                ).alias(f"m{i}")
                for i, a, b in PERMS
            ]
        )
    )
    rpb = N_PERM // N_BANDS
    banded = sigs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("long").alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"m{b * rpb + r}").cast("string")
                                for r in range(rpb)
                            ],
                        ).alias("sig"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("s")
    ).select("s.band", "s.sig")
    buckets = banded.groupBy("band", "sig").agg(
        F.count("*").cast("long").alias("c")
    )
    per_band = buckets.groupBy("band").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("c").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("buckets_multi"),
        F.max("c").cast("long").alias("max_bucket"),
        F.sum((d38(F.col("c")) * (F.col("c") - 1)).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("pairs2"),
    )
    two = F.lit(2).cast("decimal(38,0)")
    cand = dec_floordiv(F.col("pairs2"), two).cast("decimal(38,0)")
    top2 = (d38(F.col("max_bucket")) * (F.col("max_bucket") - 1)).cast(
        "decimal(38,0)"
    )
    top = dec_floordiv(top2, two).cast("decimal(38,0)")
    return per_band.select(
        "band",
        "n_buckets",
        "n_docs",
        "buckets_multi",
        "max_bucket",
        cand.cast("string").alias("cand_pairs"),
        dec_to_double_exact(cand).alias("cand_pairs_approx"),
        F.when(
            F.col("pairs2") > 0, dec_ratio_round(top * 100, cand, 2)
        ).alias("top_bucket_share_pct"),
    ).orderBy("band")
