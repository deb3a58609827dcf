"""Text-analysis operators over the ``documents`` table.

All built-in expressions (split / filter / transform / aggregate / regexp /
md5) — row-local, no shuffle except the final output, no Python UDFs. Each
operator is a pure projection, so at 100 TB these pipeline into the scan
with whole-stage codegen and cost one pass over the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from inde1_spark.functions.exprs import (
    int_sum_exact,
    ratio_round,
    tokens,
    word_ngrams,
)
from inde1_spark.plans.lifecycle import lazy_checkpoint, persist, spread

# Marker-token lists for the n-gram/stopword language heuristic. The corpus
# vocabulary is synthetic, so the lists are assigned from it; with real text
# these are per-language stopword lists (same plan shape and cost).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("window", "group", "batch"),
    "en": ("the", "a", "data"),
    "es": ("query", "value", "sort"),
    "fr": ("table", "line", "column"),
    "zh": ("spark", "stream", "hash"),
}

STOPWORDS = ("the", "a", "of", "and", "to")


def _toks() -> Column:
    return tokens("text")


def token_stats(documents: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, mean token length."""
    toks = _toks()
    lens = F.transform(toks, lambda t: F.length(t))
    return documents.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        ratio_round(
            int_sum_exact(lens),
            F.greatest(F.size(toks).cast("long"), F.lit(1).cast("long")),
            4,
        ).alias("avg_token_len"),
    )


BPE_PATTERN = "[a-z]+|[0-9]|[^a-z0-9 ]"


def token_count_bpe(documents: DataFrame) -> DataFrame:
    """BPE-ish subword counting: alpha runs / digits / punct as units.

    The regex stands in for a merged-BPE vocabulary scan (same plan shape:
    one regexp pass per document, no shuffle). Reports subword count,
    distinct subwords, and subwords-per-whitespace-token (a fertility
    proxy).
    """
    toks = _toks()
    subwords = F.expr(f"regexp_extract_all(lower(text), '({BPE_PATTERN})', 0)")
    return documents.select(
        "doc_id",
        F.size(subwords).cast("long").alias("n_subwords"),
        F.size(F.array_distinct(subwords)).cast("long").alias("n_distinct_subwords"),
        ratio_round(
            F.size(subwords).cast("long"),
            F.greatest(F.size(toks).cast("long"), F.lit(1).cast("long")),
            4,
        ).alias("fertility"),
    )


def quality_parts() -> tuple[Column, Column, Column]:
    """(n_tokens, quality, quality_scaled): the quality formula as reusable
    columns — ``quality`` is the exact 4-decimal ratio ``quality_score``
    reports, ``quality_scaled`` is its integer numerator in [0, 10000]
    (``ratio_scaled``), the form acceptance-sampling thresholds need."""
    from inde1_spark.functions.exprs import ratio_scaled

    toks = _toks()
    n_tokens = F.size(toks).cast("long")
    gnt = F.greatest(n_tokens, F.lit(1).cast("long"))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    capped_chars = F.least(F.col("n_chars").cast("long"), F.lit(500).cast("long"))
    num = capped_chars * gnt + F.lit(500) * (gnt - n_stop)
    den = F.lit(1000) * gnt
    return n_tokens, ratio_round(num, den, 4), ratio_scaled(num, den, 4)


def _quality_col() -> Column:
    """The 4-decimal exact quality ratio as a bare column (the same
    expression ``quality_score`` emits), for operators that need the score
    alongside columns quality_score's fixed output schema drops. Delegates
    to ``quality_parts`` so the formula has exactly one spelling."""
    _, quality, _ = quality_parts()
    return quality


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic quality scoring: length score + stopword ratio.

    quality = 0.5 * min(1, n_chars/500) + 0.5 * (1 - stopword_ratio); the
    components are reported so downstream filters can re-weight without
    rescanning. All three are integer ratios, rounded with exact integer
    math (ratio_round): with a common denominator,
    quality = (min(n_chars,500)*n_tokens + 500*(n_tokens-n_stop)) / (1000*n_tokens).
    """
    toks = _toks()
    n_tokens = F.size(toks).cast("long")
    gnt = F.greatest(n_tokens, F.lit(1).cast("long"))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    capped_chars = F.least(F.col("n_chars").cast("long"), F.lit(500).cast("long"))
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        ratio_round(n_stop, gnt, 4).alias("stop_ratio"),
        ratio_round(capped_chars, F.lit(500).cast("long"), 4).alias("length_score"),
        ratio_round(
            capped_chars * gnt + F.lit(500) * (gnt - n_stop),
            F.lit(1000) * gnt,
            4,
        ).alias("quality"),
    )


QUALITY_BINS = 10


def quality_bins(documents: DataFrame, n_bins: int = QUALITY_BINS) -> DataFrame:
    """Histogram of the quality score in fixed-width bins.

    The corpus-curation dashboard query ("how much mass sits below the
    filter threshold?"). Fixed-width binning is row-local (floor of
    quality*n_bins, top edge clamped into the last bin) — unlike ntile,
    which would funnel the corpus through one global sort partition. One
    map-side-combined shuffle of n_bins rows. quality is an exact 4-decimal
    ratio, so quality*n_bins and its floor are engine-identical.
    """
    q = quality_score(documents)
    bin_col = F.least(
        F.floor(F.col("quality") * F.lit(float(n_bins))).cast("long"),
        F.lit(n_bins - 1).cast("long"),
    )
    return (
        q.select(bin_col.alias("bin"), "n_tokens")
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


NTILE_BUCKETS = ("head", "middle", "tail")  # CCNet's perplexity terciles


def quality_ntile(documents: DataFrame) -> DataFrame:
    """CCNet-style quality terciles per language: head / middle / tail.

    The rank-based cousin of ``quality_bins`` (fixed-width): each language's
    documents are cut at the 1/3 and 2/3 QUANTILES of the quality score —
    CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3, there on LM
    perplexity). A naive ``ntile(3)`` window funnels every document of a
    language through one sort partition; instead the corpus collapses to a
    VALUE HISTOGRAM first — quality is an exact 4-decimal ratio, so a
    language has at most 10001 distinct values — and the tercile boundary
    is computed on the histogram's running count. The corpus-volume work is
    one map-side-combined groupBy; the window sorts <=10k value rows per
    language, never documents. Ties share a value row, so they land in one
    tercile deterministically (the value's FIRST document position decides,
    in exact integer math).
    """
    from pyspark.sql import Window

    _, quality, _ = quality_parts()
    hist = (
        documents.select("lang", quality.alias("quality"))
        .groupBy("lang", "quality")
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("quality").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("lang")
    cum_before = F.coalesce(F.sum("n").over(w), F.lit(0).cast("long"))
    tot = F.sum("n").over(w_all)
    # tercile of the value's first document: floor(cum_before*3/tot), clamped
    t3 = cum_before * F.lit(3)
    tier = F.least(
        ((t3 - t3 % tot) / tot).cast("long"), F.lit(2).cast("long")
    )
    labeled = hist.select(
        "lang",
        "quality",
        "n",
        F.element_at(
            F.array(*[F.lit(b) for b in NTILE_BUCKETS]), (tier + 1).cast("int")
        ).alias("bucket"),
    )
    return labeled.groupBy("lang", "bucket").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Marker-token language identification with deterministic tie-breaks.

    Scores each language by marker-token occurrences; predicted language is
    the alphabetically-first argmax. Row-local array ops — one corpus pass.
    """
    toks = _toks()

    def _marker_filter(markers: tuple[str, ...]):
        return lambda t: t.isin(*markers)

    scores = {
        lang: F.size(F.filter(toks, _marker_filter(markers))).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }
    langs = sorted(scores)  # alphabetical tie-break order
    pred = F.lit(langs[-1])
    # fold right-to-left so earlier (alphabetically-first) langs win ties
    for lang in reversed(langs[:-1]):
        others = [scores[o] for o in langs if o != lang]
        pred = F.when(scores[lang] >= F.greatest(*others), F.lit(lang)).otherwise(pred)
    return documents.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        pred.alias("lang_pred"),
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
    )


TRAIN_PCT, VAL_PCT = 80, 10  # train/val/test = 80/10/10


def hash_bucket(key: Column, mod: int) -> Column:
    """Engine-portable pseudorandom bucket: first 8 md5 hex chars -> int % mod.

    md5 yields identical lowercase hex in Spark and DuckDB, so both engines
    assign identical buckets. Unlike a multiplicative `(id*c) % m` (a cyclic
    permutation of the id — consecutive ids round-robin across buckets),
    md5 is avalanche-mixed: bucket(id) and bucket(id+1) are independent,
    which is what makes hash-split contamination-safe for id-correlated
    inputs (consecutive ids from one crawl/shard).
    """
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
        % F.lit(mod)
    )


def _split_label(h: Column) -> Column:
    return (
        F.when(h < TRAIN_PCT, F.lit("train"))
        .when(h < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def train_test_split(documents: DataFrame) -> DataFrame:
    """Deterministic, reproducible dataset splitting by key hash.

    split(doc) = f(md5(doc_id)) — stable across runs, engines and
    partitionings (``df.sample`` is seed-and-partitioning dependent;
    hash-mod is the reproducible spelling a training pipeline needs).
    Returns per-(lang, split) counts so stratification quality is visible.
    """
    split = _split_label(hash_bucket(F.col("doc_id"), 100))
    return (
        documents.groupBy(F.col("lang"), split.alias("split"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("long").alias("n_chars"),
        )
    )


def train_test_split_grouped(documents: DataFrame, group_col: str = "source") -> DataFrame:
    """Contamination-safe split: bucket on the GROUP key, not the doc id.

    All documents sharing ``group_col`` (source / crawl / dedup-cluster id)
    land on the same side, so near-duplicates within a group can never
    straddle train/test — the property per-document splitting destroys.
    Returns per-split doc/group/char counts for leakage auditing.
    """
    split = _split_label(hash_bucket(F.col(group_col), 100))
    return documents.groupBy(split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(group_col).cast("long").alias("n_groups"),
        F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("long").alias("n_chars"),
    )


def stratified_sample(documents: DataFrame, per_lang: int = 20) -> DataFrame:
    """Stratified sampling: top-N docs per language by hashed rank.

    Hash-ordered row_number per stratum — deterministic, no shuffle beyond
    the per-stratum window, and the sample is stable under data growth for
    existing keys. The training-data use: balanced per-language subsets
    from a skewed corpus.
    """
    from pyspark.sql import Window

    h = hash_bucket(F.col("doc_id"), 1_000_003)
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        documents.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= per_lang)
        .select("doc_id", "lang", "rnk")
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition metrics: duplicate token/n-gram fractions.

    The filters that catch boilerplate and degenerate (looping) generations
    in pretraining corpora (Rae et al. 2021 §A1.1): fraction of duplicate
    tokens, fraction held by the single most frequent token, duplicate
    2-gram/3-gram fractions. Everything is row-local array math (the
    top-token count is an O(distinct x tokens) nested scan over one row's
    arrays — bounded by document length, never a shuffle), so the whole
    operator is a pure projection that pipelines into the corpus scan.
    """
    toks = _toks()
    one = F.lit(1).cast("long")
    n_tok = F.size(toks).cast("long")
    gnt = F.greatest(n_tok, one)
    n_dis = F.size(F.array_distinct(toks)).cast("long")
    top_cnt = F.coalesce(
        F.array_max(
            F.transform(
                F.array_distinct(toks),
                lambda d: F.size(F.filter(toks, lambda t: t == d)),
            )
        ),
        F.lit(0),
    ).cast("long")
    g2, g3 = word_ngrams(toks, 2), word_ngrams(toks, 3)
    n2 = F.size(g2).cast("long")
    n2d = F.size(F.array_distinct(g2)).cast("long")
    n3 = F.size(g3).cast("long")
    n3d = F.size(F.array_distinct(g3)).cast("long")
    return documents.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        ratio_round(n_tok - n_dis, gnt, 4).alias("dup_token_frac"),
        ratio_round(top_cnt, gnt, 4).alias("top_token_frac"),
        ratio_round(n2 - n2d, F.greatest(n2, one), 4).alias("dup_2gram_frac"),
        ratio_round(n3 - n3d, F.greatest(n3, one), 4).alias("dup_3gram_frac"),
    )


# Gopher-rule thresholds (Rae et al. 2021 table A1): token-count window,
# mean-word-length window, minimum distinct-stopword hits. Integer-exact
# comparisons (mean length bounds multiplied through by the denominator)
# so the keep flag is bit-identical across engines.
GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS = 50, 100_000
GOPHER_MEAN_LEN_MIN, GOPHER_MEAN_LEN_MAX = 3, 10
GOPHER_MIN_STOP_HITS = 2


def _gopher_flags() -> tuple[Column, Column, Column, Column, Column]:
    """(n_tok, n_stop_distinct, flag_len, flag_mean_len, flag_stop) Columns.

    Row-local expressions over ``text`` — usable as a direct filter predicate
    (batch OR streaming) without the projection-then-self-join detour.
    """
    toks = _toks()
    n_tok = F.size(toks).cast("long")
    sum_len = int_sum_exact(F.transform(toks, lambda t: F.length(t)))
    n_stop_distinct = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(s) for s in STOPWORDS])
        )
    ).cast("long")
    flag_len = (n_tok >= GOPHER_MIN_TOKENS) & (n_tok <= GOPHER_MAX_TOKENS)
    flag_mean_len = (sum_len >= F.lit(GOPHER_MEAN_LEN_MIN) * n_tok) & (
        sum_len <= F.lit(GOPHER_MEAN_LEN_MAX) * n_tok
    )
    flag_stop = n_stop_distinct >= GOPHER_MIN_STOP_HITS
    return n_tok, n_stop_distinct, flag_len, flag_mean_len, flag_stop


def gopher_keep() -> Column:
    """The combined Gopher keep decision as a plain Column predicate.

    ``df.filter(gopher_keep())`` evaluates row-local inside the scan stage —
    no shuffle, no join — and works unchanged on streaming DataFrames.
    """
    _, _, flag_len, flag_mean_len, flag_stop = _gopher_flags()
    return flag_len & flag_mean_len & flag_stop


def gopher_rules(documents: DataFrame) -> DataFrame:
    """Gopher quality-rule flags + the combined keep decision per document.

    Each rule is reported as its own boolean so downstream filters can
    re-weight or audit rejection reasons without a rescan; ``keep`` is the
    conjunction. Mean-word-length bounds are evaluated as
    ``min*n <= sum_len <= max*n`` — exact integer math, no float ratio.
    """
    n_tok, n_stop_distinct, flag_len, flag_mean_len, flag_stop = _gopher_flags()
    return documents.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_stop_distinct.alias("n_stop_distinct"),
        flag_len.alias("flag_len"),
        flag_mean_len.alias("flag_mean_len"),
        flag_stop.alias("flag_stop"),
        (flag_len & flag_mean_len & flag_stop).alias("keep"),
    )


# Conservative cross-engine regexes (no lookaround — Java regex and RE2
# agree on these): emails, and long digit runs as the id/phone stand-in.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_ID_RE = "[0-9]{7,}"


def pii_redact(documents: DataFrame) -> DataFrame:
    """PII scrubbing: count + redact emails and long digit runs.

    One regexp pass per pattern, row-local, applied before any text leaves
    the pipeline. The redacted text itself stays distributed; the output
    carries counts, the redacted length, and an md5 fingerprint of the
    redacted form so the gate can hash-verify the rewrite without shipping
    full documents through the compare.
    """
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), PII_EMAIL_RE, "<EMAIL>"),
        PII_ID_RE,
        "<ID>",
    )
    return documents.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PII_ID_RE)).cast("long").alias("n_ids"),
        F.length(red).cast("long").alias("n_chars_redacted"),
        F.md5(red).alias("redacted_fp"),
    )


def line_quality(documents: DataFrame) -> DataFrame:
    """C4-style line-shape metrics: terminal punctuation, bullets, ellipses.

    Line-structured quality signals (Raffel et al. 2020 §2.2): fraction of
    non-empty lines ending in terminal punctuation, starting with a bullet,
    ending with an ellipsis, or having fewer than 3 words. Row-local array
    filters over the line split — one corpus pass, no shuffle.
    """
    one = F.lit(1).cast("long")
    lines = F.filter(F.split(F.col("text"), "\n"), lambda l: l != F.lit(""))
    n_lines = F.size(lines).cast("long")
    gnl = F.greatest(n_lines, one)

    def _frac(pred):
        return ratio_round(F.size(F.filter(lines, pred)).cast("long"), gnl, 4)

    punct = _frac(
        lambda l: l.endswith(".") | l.endswith("!") | l.endswith("?") | l.endswith('"')
    )
    bullet = _frac(lambda l: l.startswith("- ") | l.startswith("* "))
    ellipsis = _frac(lambda l: l.endswith("..."))
    short = _frac(
        lambda l: F.size(F.filter(F.split(l, " "), lambda w: w != F.lit(""))) < 3
    )
    return documents.select(
        "doc_id",
        n_lines.alias("n_lines"),
        punct.alias("terminal_punct_frac"),
        bullet.alias("bullet_frac"),
        ellipsis.alias("ellipsis_frac"),
        short.alias("short_line_frac"),
    )


# Winnowing parameters (Schleimer et al. 2003, "local algorithms for
# document fingerprinting"): char k-gram polynomial hashes, min per sliding
# window of w hashes. Guarantee: any shared substring of length >= k+w-1
# contributes at least one shared fingerprint.
WINNOW_K, WINNOW_W = 5, 4
WINNOW_BASE, WINNOW_PRIME = 257, 1_000_000_007


def _let(expr: Column, fn) -> Column:
    """Bind ``expr`` once and reference it cheaply inside ``fn``.

    Higher-order functions run interpreted with no common-subexpression
    elimination, so an expression referenced N times in one projection is
    computed N times; routing it through a 1-element transform makes it a
    lambda variable — evaluated once, then a cheap slot lookup.
    """
    return F.element_at(F.transform(F.array(expr), fn), 1)


def _gram_hashes(text: Column, k: int = WINNOW_K) -> Column:
    """Polynomial rolling-hash values of every char k-gram, row-local.

    h(i) = (((c_i*B + c_{i+1})*B + ...)*B + c_{i+k-1}) mod P with per-step
    mod — exact long arithmetic, bit-identical in Spark and DuckDB
    (prototyped both; codepoints via ascii()/unicode()). Computed per
    position (O(n*k), not the O(n) rolling update — vectorized form has no
    carry-across-positions state, and k is constant).
    """

    def _h(i: Column) -> Column:
        e = F.ascii(text.substr(i, F.lit(1))).cast("long")
        for j in range(1, k):
            e = (
                e * F.lit(WINNOW_BASE)
                + F.ascii(text.substr(i + F.lit(j), F.lit(1))).cast("long")
            ) % F.lit(WINNOW_PRIME)
        return e

    n = F.length(text)
    return F.when(
        n >= k, F.transform(F.sequence(F.lit(1), n - F.lit(k) + 1), _h)
    ).otherwise(F.array().cast("array<bigint>"))


def _winnow_minima(hashes: Column, w: int = WINNOW_W) -> Column:
    """Sorted distinct window-minima of the hash sequence (the fingerprint
    set). Windows slide by 1; fewer than w hashes -> one window over all."""
    return _let(
        hashes,
        lambda h: F.when(
            F.size(h) > 0,
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(1), F.greatest(F.size(h) - w + 1, F.lit(1))
                        ),
                        lambda t: F.array_min(F.slice(h, t, w)),
                    )
                )
            ),
        ).otherwise(F.array().cast("array<bigint>")),
    )


def winnow_fingerprints(documents: DataFrame) -> DataFrame:
    """Winnowed rolling-hash fingerprints per document.

    Reports the gram count, the fingerprint-set size, and the md5 of the
    sorted fingerprint list (set equality checkable without shipping the
    sets). Row-local array math — one corpus pass, no shuffle.
    """
    fp = _winnow_minima(_gram_hashes(F.col("text")))
    return documents.select(
        "doc_id",
        F.size(_gram_hashes(F.col("text"))).cast("long").alias("n_grams"),
        F.size(fp).cast("long").alias("n_fp"),
        _let(
            fp,
            lambda m: F.md5(
                F.concat_ws(",", F.transform(m, lambda x: x.cast("string")))
            ),
        ).alias("fp_md5"),
    )


def winnow_fp_table(documents: DataFrame) -> DataFrame:
    """(doc_id, fp): exploded distinct winnowed fingerprints — the inverted
    index feeding ``dedup_winnow``'s pair join."""
    fp = _winnow_minima(_gram_hashes(F.col("text")))
    return documents.select("doc_id", F.explode(fp).alias("fp"))


def fingerprint(documents: DataFrame) -> DataFrame:
    """Document fingerprinting: md5 over the normalized text.

    Normalization: lowercase, strip non-alphanumerics, collapse whitespace —
    the canonical form for fuzzy-exact dedup. A short prefix is exposed for
    cheap bucketing.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    fp = F.md5(norm)
    return documents.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 8).alias("fp_prefix"),
    )


def lang_confusion(documents: DataFrame) -> DataFrame:
    """Language-ID audit: the confusion matrix of predicted vs labeled lang.

    The acceptance test every language classifier gets before it gates a
    corpus: counts per (actual, predicted) cell. Builds on ``lang_id``'s
    row-local scoring, so the only shuffle is the final tiny groupBy
    (|langs|^2 cells at most, map-side combined).
    """
    return (
        lang_id(documents)
        .groupBy("lang_actual", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


TOP_NGRAM_N = 2
TOP_NGRAM_K = 5


def top_ngrams_per_lang(
    documents: DataFrame, n: int = TOP_NGRAM_N, k: int = TOP_NGRAM_K
) -> DataFrame:
    """Top-k word n-grams per language by occurrence (multiplicity kept) —
    the corpus-characterization pass (boilerplate phrases, collocations,
    per-language register) and the seed list for n-gram-based filters.

    One (lang, ngram) shuffle with map-side partials absorbs the zipfian
    head; the per-language top-k is a window row_number over the bounded
    count table, ties broken (count desc, ngram asc) so the cut is
    engine-deterministic. The n-gram expansion uses the zip-of-shifted-
    slices spelling (exprs.word_ngrams) — no interpreted-lambda blowup.
    """
    from inde1_spark.functions.exprs import tokens, word_ngrams

    grams = documents.select(
        "lang", F.explode(word_ngrams(tokens("text"), n)).alias("ngram")
    )
    counts = grams.groupBy("lang", "ngram").agg(
        F.count("*").cast("long").alias("n_occ")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n_occ").desc(), F.col("ngram").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("lang", "rank", "ngram", "n_occ")
    )


def tokenizer_fertility(documents: DataFrame) -> DataFrame:
    """Per-language tokenizer fertility audit: bytes/subword,
    chars/subword, and subwords per whitespace token — the multilingual
    cost sheet (a language whose fertility runs 2x pays 2x of every
    token budget: context windows, training steps, serving latency).
    `token_count_bpe` scores documents; this rolls the corpus up to the
    per-language planning numbers.

    One zero-join aggregation over per-doc projections: the BPE-ish
    regex pass runs row-local at the scan, the groupBy reduces to the
    bounded language key set with map-side partials. Totals accumulate
    as longs (counts bounded by corpus bytes, far inside 2^63 at any
    SF); ratios are exact 4-decimal integer roundings.
    """
    subwords = F.expr(f"regexp_extract_all(lower(text), '({BPE_PATTERN})', 0)")
    toks = _toks()
    per_doc = documents.select(
        "lang",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_toks"),
        F.size(subwords).cast("long").alias("n_subwords"),
    )
    one = F.lit(1).cast("long")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_toks").alias("total_tokens"),
            F.sum("n_subwords").alias("total_subwords"),
        )
        .select(
            "lang",
            "n_docs",
            "total_bytes",
            "total_subwords",
            ratio_round(
                F.col("total_bytes"), F.greatest(F.col("total_subwords"), one), 4
            ).alias("bytes_per_subword"),
            ratio_round(
                F.col("total_chars"), F.greatest(F.col("total_subwords"), one), 4
            ).alias("chars_per_subword"),
            ratio_round(
                F.col("total_subwords"), F.greatest(F.col("total_tokens"), one), 4
            ).alias("fertility"),
        )
    )


HASHVEC_DIMS = 64  # feature-hashing width (matches the embeddings table dim)


def hash_vectorize(documents: DataFrame, dims: int = HASHVEC_DIMS) -> DataFrame:
    """Feature-hashing document vectors (the hashing trick, Weinberger et
    al. 2009): every token maps to a dimension by md5 bucket and
    contributes ±1 by an INDEPENDENT md5 parity bit, giving each document
    a fixed-width sparse vector with no vocabulary dictionary — the
    vectorizer that never needs a fit pass, a shared vocab broadcast, or
    an OOV story, which is why it scales to an unbounded crawl stream.
    The signed variant keeps hash collisions unbiased (E[collision
    contribution] = 0). Output bridges the text side to every embedding
    operator: (doc_id, dim, val, val_norm) in sparse long form, L2
    normalization included.

    Plan: tokenize+explode, one groupBy shuffle on (doc_id, dim), then
    the per-doc norm rides a window over the SAME doc_id key. Signs and
    dims come from different hex ranges of one md5 per token occurrence.
    All counts exact longs; norm = sqrt of an exact integer; the
    normalized value divides two engine-identical doubles. Zero-sum
    dimensions (exact ±1 cancellation) drop — output is the sparse
    support, and the norm is over the support by construction.
    """
    md = F.md5(F.col("token"))
    dim = (
        F.conv(F.substring(md, 1, 8), 16, 10).cast("long") % F.lit(dims) + 1
    ).alias("dim")
    sign = F.when(
        F.conv(F.substring(md, 9, 1), 16, 10).cast("long") % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    tok = documents.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    )
    sums = (
        tok.select("doc_id", dim, sign.alias("s"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("s").cast("long").alias("val"))
        .filter(F.col("val") != 0)
    )
    w = Window.partitionBy("doc_id")
    nrm = F.sqrt(F.sum(F.col("val") * F.col("val")).over(w).cast("double"))
    return sums.select(
        "doc_id",
        "dim",
        "val",
        (F.col("val").cast("double") / nrm).alias("val_norm"),
    )


DOC_KNN_K = 3
DOC_KNN_QUERIES = 10


def doc_knn_hashed(
    documents: DataFrame,
    k: int = DOC_KNN_K,
    n_queries: int = DOC_KNN_QUERIES,
    dims: int = HASHVEC_DIMS,
) -> DataFrame:
    """Document cosine kNN over the feature-hashed vectors — text-side
    similarity search with NO embedding model: ``hash_vectorize`` gives
    every doc a 64-dim signed profile and this ranks neighbors by cosine
    over it, the classical bag-of-hashed-words retrieval baseline every
    dense-embedding index gets compared against (and the fallback when
    no encoder exists for a language/domain).

    Sparse formulation: the dot product is an equi-join on the dimension
    key restricted to the (tiny, broadcast) query side — the corpus
    streams through one broadcast hash join, no shuffle skew on the
    64-value key. Pairs sharing NO dimension are omitted (their dot is
    0; with 64 dims real documents virtually always overlap — and both
    engines apply the identical rule, so the gate hashes). Dot products
    are exact integer sums; norms are sqrt of exact integers; ties break
    by neighbor id.
    """
    # three consumers (norms + both join sides): persist or each re-runs
    # the tokenize/explode/aggregate pipeline from the scan
    base = persist(hash_vectorize(documents, dims).select("doc_id", "dim", "val"))
    norms = base.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val")).cast("double")).alias("nrm")
    )
    a = base.filter(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"), "dim", F.col("val").alias("val_a")
    )
    b = base.select(
        F.col("doc_id").alias("neighbor_id"), "dim", F.col("val").alias("val_b")
    )
    dots = (
        F.broadcast(a)
        .join(b, "dim")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("val_a") * F.col("val_b")).cast("long").alias("dot"))
    )
    nq = norms.select(F.col("doc_id").alias("query_id"), F.col("nrm").alias("nrm_q"))
    nn = norms.select(
        F.col("doc_id").alias("neighbor_id"), F.col("nrm").alias("nrm_n")
    )
    scored = (
        dots.join(F.broadcast(nq), "query_id")
        .join(nn, "neighbor_id")
        .withColumn(
            "cos_sim",
            F.round(
                F.col("dot").cast("double") / (F.col("nrm_q") * F.col("nrm_n")), 6
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def ttr_profile(documents: DataFrame) -> DataFrame:
    """Per-source type-token-ratio profile — the lexical-diversity quality
    signal: templated/spun content repeats its vocabulary (TTR -> 0)
    while natural prose sits in a band, so a source whose mean TTR drifts
    low is producing boilerplate even when every Gopher rule passes.
    Complements ``repetition_stats`` (which sees within-doc n-gram loops)
    with a vocabulary-level view that is robust to reordering.

    Exactness: per-doc TTR = |distinct tokens| / |tokens| becomes an
    exact ppm long (``ratio_scaled``); the per-source mean is the exact
    round-half-up of an integer sum over the doc count, and min/max stay
    on the ppm grid — every emitted double is an exact small-integer /
    1e6. Zero-token docs are excluded (both engines would divide by
    zero, asymmetrically). Plan: one scan, row-local array ops
    (array_distinct never leaves the row), one map-side-combined
    groupBy on the source key.
    """
    from inde1_spark.functions.exprs import ratio_round, ratio_scaled, tokens

    toks = tokens("text")
    per = documents.select(
        "source",
        F.size(toks).cast("long").alias("n_toks"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_types"),
    ).filter(F.col("n_toks") > 0)
    ppm = ratio_scaled(F.col("n_types"), F.col("n_toks"), 6)
    per = per.withColumn("ttr_ppm", ppm)
    return per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        ratio_round(F.sum("ttr_ppm"), F.count("*"), 0)
        .cast("double")
        .alias("mean_ttr_ppm"),
        (F.min("ttr_ppm").cast("double") / F.lit(1e6)).alias("min_ttr"),
        (F.max("ttr_ppm").cast("double") / F.lit(1e6)).alias("max_ttr"),
    ).select(
        "source",
        "n_docs",
        (F.col("mean_ttr_ppm") / F.lit(1e6)).alias("mean_ttr"),
        "min_ttr",
        "max_ttr",
    )


BPE_LEARN_ROUNDS = 4
_BPE_D = "\x1f"  # symbol delimiter: never occurs in whitespace-split tokens


def _bpe_chain(documents: DataFrame, rounds: int):
    """LEARN byte-pair-encoding merges from the corpus — the tokenizer-
    TRAINING step (Sennrich et al. 2016), not just token counting: each
    round counts adjacent-symbol pairs across the word vocabulary
    (weighted by word frequency), promotes the most frequent pair to a
    new symbol, and rewrites the vocabulary. Output: one row per learned
    merge (round, left, right, merged symbol, weighted count) — the
    artifact an actual tokenizer build ships.

    The classic BPE scale trick makes this cluster-friendly: after ONE
    corpus-volume pass (word frequencies), every iteration runs on the
    WORD VOCABULARY table — orders of magnitude smaller than the corpus
    — so the per-round plan is a small explode + groupBy + 1-row argmax
    broadcast + row-local rewrite. Rewrites use delimiter-fenced literal
    replace applied twice (adjacent occurrences share a fence character,
    so alternate occurrences merge on the first pass and the survivors —
    now isolated — on the second; merged symbols can never participate
    again, which makes two passes equal to the canonical left-to-right
    greedy merge). Argmax ties break to the lexicographically largest
    pair via struct-max — identical in both engines, and the whole
    trajectory (pairs, counts, rewrites) is mirrored CTE-for-CTE by the
    DuckDB twin, so the gate hashes the learned merges exactly.
    """
    from inde1_spark.functions.exprs import tokens

    D = _BPE_D
    vocab = (
        documents.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    sym0 = F.concat(
        F.lit(D),
        F.array_join(F.expr("regexp_extract_all(w, '.', 0)"), D),
        F.lit(D),
    )
    vocab = vocab.select("w", "freq", sym0.alias("sym"))

    out = None
    for r in range(1, rounds + 1):
        arr = F.filter(F.split(F.col("sym"), D), lambda s: s != F.lit(""))
        with_arr = vocab.select("freq", arr.alias("a"))
        pair = F.zip_with(
            F.slice(F.col("a"), 1, F.greatest(F.size("a") - 1, F.lit(0))),
            F.slice(F.col("a"), 2, F.greatest(F.size("a") - 1, F.lit(0))),
            lambda x, y: F.concat(x, F.lit(D), y),
        )
        counts = (
            with_arr.select("freq", F.explode(pair).alias("p"))
            .groupBy("p")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        best = counts.agg(F.max(F.struct("cnt", "p")).alias("b")).select(
            F.col("b.p").alias("p"), F.col("b.cnt").alias("cnt")
        )
        parts = F.split(F.col("p"), D)
        best = best.select(
            "p",
            "cnt",
            F.element_at(parts, 1).alias("left_sym"),
            F.element_at(parts, 2).alias("right_sym"),
        ).filter(F.col("p").isNotNull())
        merge_row = best.select(
            F.lit(r).cast("long").alias("round"),
            "left_sym",
            "right_sym",
            F.concat(F.col("left_sym"), F.col("right_sym")).alias("merged"),
            F.col("cnt").alias("weighted_count"),
        )
        out = merge_row if out is None else out.unionByName(merge_row)
        pat = F.concat(F.lit(D), F.col("p"), F.lit(D))
        rep = F.concat(
            F.lit(D), F.col("left_sym"), F.col("right_sym"), F.lit(D)
        )
        vocab = (
            vocab.join(F.broadcast(best))
            .select(
                "w",
                "freq",
                F.replace(F.replace(F.col("sym"), pat, rep), pat, rep).alias(
                    "sym"
                ),
            )
        )
    return out, vocab


def bpe_learn_merges(documents: DataFrame, rounds: int = BPE_LEARN_ROUNDS) -> DataFrame:
    """See ``_bpe_chain`` — the learned merge table (public gate entry)."""
    out, _ = _bpe_chain(documents, rounds)
    return out


def bpe_apply(documents: DataFrame, rounds: int = BPE_LEARN_ROUNDS) -> DataFrame:
    """APPLY the learned BPE merges back to the corpus: per document, the
    word count, the resulting subword count and the fertility ratio
    (subwords per word) — the measurement that closes the tokenizer-
    training loop (learn merges -> segment the corpus -> check the token
    budget the merges actually buy). At a real vocab size this is how a
    candidate tokenizer is A/B-costed before committing to it.

    Plan: the merge learning already reduced segmentation to the WORD
    VOCABULARY (every occurrence of a word segments identically), so
    application is a token explode + one equi-join on the word key
    against the final vocabulary table — corpus-volume work is the
    explode and a doc_id re-aggregation, both map-side-combinable; no
    per-document re-segmentation ever runs. Fertility is the exact ppm
    ratio (DESIGN §3).
    """
    from inde1_spark.functions.exprs import ratio_round, tokens

    _, vocab = _bpe_chain(documents, rounds)
    seg = vocab.select(
        "w",
        F.size(
            F.filter(F.split(F.col("sym"), _BPE_D), lambda x: x != F.lit(""))
        )
        .cast("long")
        .alias("n_sub"),
    )
    ex = documents.select("doc_id", F.explode(tokens("text")).alias("w"))
    return (
        ex.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subwords"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_subwords",
            ratio_round(F.col("n_subwords"), F.col("n_words"), 6).alias(
                "fertility"
            ),
        )
    )


def modality_agreement(
    documents: DataFrame,
    embeddings: DataFrame,
    k: int = DOC_KNN_K,
    n_queries: int = DOC_KNN_QUERIES,
) -> DataFrame:
    """Cross-modality retrieval consistency: for each query document, how
    much of its text-side top-k (feature-hashed cosine, no encoder)
    agrees with its embedding-side top-k (sign-LSH ANN). The multimodal
    pipeline health check: high agreement means the encoder mostly
    re-ranks lexical similarity (cheap text retrieval may suffice);
    near-zero agreement means either the encoder captures semantics the
    text baseline misses — or one side is broken, which is why this is
    an audit and not a metric to maximize. Assumes the testdata
    alignment doc_id == vec_id (FIXTURES §5).

    Cost: both operands are bounded top-k tables; the overlap join and
    the per-query counts are trivially bounded at any corpus size — the
    expensive parts are the audited retrieval operators themselves.
    """
    from inde1_spark.functions.exprs import ratio_round
    from inde1_spark.operators.similarity import knn_lsh_bucketed

    t = doc_knn_hashed(documents, k=k, n_queries=n_queries).select(
        "query_id", "neighbor_id"
    )
    e = (
        knn_lsh_bucketed(embeddings, k=k)
        .filter(F.col("query_id") < n_queries)
        .select("query_id", "neighbor_id")
    )
    spine = (
        t.select("query_id").union(e.select("query_id")).distinct()
    )
    nt = t.groupBy("query_id").agg(F.count("*").cast("long").alias("n_text"))
    ne = e.groupBy("query_id").agg(F.count("*").cast("long").alias("n_emb"))
    na = (
        t.join(e, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_agree"))
    )
    return (
        spine.join(nt, "query_id", "left")
        .join(ne, "query_id", "left")
        .join(na, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_text"), F.lit(0)).cast("long").alias("n_text"),
            F.coalesce(F.col("n_emb"), F.lit(0)).cast("long").alias("n_emb"),
            F.coalesce(F.col("n_agree"), F.lit(0)).cast("long").alias("n_agree"),
            ratio_round(
                F.coalesce(F.col("n_agree"), F.lit(0)), F.lit(k), 4
            ).alias("agreement"),
        )
    )


# ---------------------------------------------------------------------------
# keyword_textrank: corpus keyword extraction via PageRank on the word graph
# ---------------------------------------------------------------------------

TEXTRANK_WINDOW = 3  # co-occurrence window in token positions
TEXTRANK_VOCAB = 500  # graph nodes capped to the top-V content words
TEXTRANK_ITERS = 8
TEXTRANK_TOP_K = 25
TEXTRANK_MIN_LEN = 4  # content-word filter: no stopword list needed
TEXTRANK_DAMPING = 0.85


def keyword_textrank(
    documents: DataFrame,
    window: int = TEXTRANK_WINDOW,
    vocab_cap: int = TEXTRANK_VOCAB,
    iters: int = TEXTRANK_ITERS,
    k: int = TEXTRANK_TOP_K,
    min_len: int = TEXTRANK_MIN_LEN,
) -> DataFrame:
    """Corpus-level TextRank keywords (Mihalcea & Tarau 2004): weighted
    PageRank over the word co-occurrence graph — the graph-centrality
    keyword signal that frequency ranking misses (a term that co-occurs
    with MANY distinct central terms outranks an equally-frequent term
    that repeats inside one template). Complements ``tfidf_top_terms``
    (per-doc contrast) and ``term_cooccurrence`` (pairwise PMI) with a
    global importance score.

    Scale shape: pair generation is ROW-LOCAL (the ``word_ngrams``
    zip-of-shifted-slices spelling — no positional self-join, no
    interpreted per-position lambda re-evaluating the tokenizer), the
    graph is capped to the top-``vocab_cap`` content words (TakeOrdered,
    never a vocabulary sort), and each PageRank round is one edge join +
    one aggregate over a <=vocab_cap-node edge table, lazily
    checkpointed per the kmeans/components invariant. Rank arithmetic is
    the ``pagerank_dup_graph`` nano-long contract: per-edge contribution
    (r_nano * w) div wout is exact (r_nano <= ~1e9 and corpus pair
    weights keep the product far from 2^63; re-check if a single pair
    ever exceeds ~1e9 co-occurrences), and the damping update re-derives
    the same long from the same IEEE doubles in both engines.
    """
    toksc = F.filter(tokens("text"), lambda t: F.length(t) >= min_len)
    docs = documents.select("doc_id", toksc.alias("toks"))
    sz = F.size(F.col("toks"))
    pair_arrays = []
    for off in range(1, window):
        z = F.filter(
            F.arrays_zip(
                F.col("toks").alias("a"),
                F.slice(
                    F.col("toks"), off + 1, F.greatest(sz - off, F.lit(1))
                ).alias("b"),
            ),
            lambda s: s["b"].isNotNull(),
        )
        pair_arrays.append(z)
    pairs = (
        docs.select(F.explode(F.concat(*pair_arrays)).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    vocab = (
        docs.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(vocab_cap)
        .select("token")
    )
    # canonicalize BEFORE the aggregate: grouping (min,max) halves the
    # shuffle BYTES vs union-both-directions-then-group, and the mirror
    # into (u,v)+(v,u) runs on the aggregated (vocab-bounded) table.
    # Identical edge multiset; wall-neutral on local[32] (A/B 3.85s vs
    # 3.86s at sf0.1 — single-box shuffle is memcpy) but half the
    # network volume where a cluster actually pays for it
    canon = pairs.groupBy(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).agg(F.count("*").cast("long").alias("w"))
    edges = persist(
        canon.select("u", "v", "w")
        .union(canon.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
        .join(
            F.broadcast(vocab.withColumnRenamed("token", "u")), "u", "semi"
        )
        .join(
            F.broadcast(vocab.withColumnRenamed("token", "v")), "v", "semi"
        )
    )
    wout = edges.groupBy("u").agg(F.sum("w").cast("long").alias("wout"))
    total = wout.agg(F.count("*").cast("double").alias("n_nodes"))
    rank = wout.join(F.broadcast(total)).select(
        "u",
        "wout",
        "n_nodes",
        F.floor(F.lit(1e9) / F.col("n_nodes") + F.lit(0.5))
        .cast("long")
        .alias("r_nano"),
    )
    # one SQL string for the damping update (identical tree: repr'd double
    # literals are the same doubles) — ~25 gateway calls per round otherwise
    upd_sql = (
        f"CAST(FLOOR(({(1.0 - TEXTRANK_DAMPING)!r}D / n_nodes) * 1.0E9 "
        f"+ {TEXTRANK_DAMPING!r}D * coalesce(s_nano, 0L) + 0.5D) AS BIGINT) "
        "AS r_nano"
    )
    for _ in range(iters):
        contrib = edges.join(rank, "u").select(
            F.col("v").alias("u"), F.expr("(r_nano * w) div wout").alias("c")
        )
        s = contrib.groupBy("u").agg(F.sum("c").cast("long").alias("s_nano"))
        rank = lazy_checkpoint(
            rank.join(s, "u", "left").selectExpr(
                "u", "wout", "n_nodes", upd_sql
            ),
            adaptive=False,
        )
    return (
        rank.orderBy(F.desc("r_nano"), F.asc("u"))
        .limit(k)
        .select(
            F.col("u").alias("token"),
            F.col("wout").alias("cooc_weight"),
            (F.col("r_nano").cast("double") / F.lit(1e9)).alias("textrank"),
        )
    )


SYMSPELL_MAX_LEN = 16    # deletion keys per term = len+1; bounds fanout
SYMSPELL_KEY_DF = 1000   # hot-key cap: a deletion shared by more terms is
                         # boilerplate (e.g. the '' key of 1-char terms at a
                         # huge alphabet) — dropping it is a documented,
                         # deterministic recall trade, the dedup-family rule


def symspell_neighbors(
    df: DataFrame, text_col: str = "text", key_df_cap: int = SYMSPELL_KEY_DF
) -> DataFrame:
    """Edit-distance-1 vocabulary neighbor pairs via the SymSpell
    deletion-neighborhood join — typo/variant candidate mining without a
    quadratic vocab self-join.

    Key set of a term = the term itself plus every single-character
    deletion. Any two terms at edit distance <= 1 provably share a key
    (deletion: the shorter IS a key of the longer; substitution: deleting
    the edited position from both yields the same string), so joining on
    keys loses nothing — the pigeonhole guarantee ``test_text_units``
    pins with planted typos. Sharing a key only bounds distance by 2,
    so candidates pass one exact ``levenshtein`` verify — computed on
    candidate PAIRS only, never vocab x vocab.

    Scale: keys are linear in vocab x term length (<= len+1 each, length
    capped); the join is posting-list-shaped with a hot-key df cap; the
    N-sized corpus work is one combinable term-count groupBy. In a real
    cleaning pipeline, filter the output to rare-term_a/frequent-term_b
    pairs for spell-fix candidates — the synthetic vocab has no typo
    skew, so the operator reports every neighbor pair with both counts
    and leaves the thresholding to the caller.
    """
    vocab = (
        df.select(F.explode(tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.length("term") <= SYMSPELL_MAX_LEN)
    )

    term = F.col("term")
    # three consumers (hot-key counts + both join sides) would each re-run
    # the corpus vocab pass — persist the tiny vocab-x-length key table so
    # the corpus is scanned once
    keys = persist(vocab.select(
        "term",
        "n",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.length(term)),
                    lambda i: F.concat(
                        term.substr(F.lit(1), i),
                        term.substr(i + F.lit(2), F.length(term)),
                    ),
                )
            )
        ).alias("key"),
    ))
    ok = keys.groupBy("key").agg(F.count("*").alias("kdf")).filter(
        F.col("kdf") <= F.lit(key_df_cap)
    )
    k = keys.join(ok.select("key"), "key")
    a = k.select("key", F.col("term").alias("term_a"), F.col("n").alias("n_a"))
    b = k.select("key", F.col("term").alias("term_b"), F.col("n").alias("n_b"))
    cand = (
        a.join(b, "key")
        .filter(F.col("term_a") < F.col("term_b"))
        .select("term_a", "term_b", "n_a", "n_b")
        .distinct()
    )
    # explicit partition COUNT before the exact verify (CLAUDE.md rule):
    # the candidate table is a few KB, so AQE's byte-based coalescing
    # would run every levenshtein on one core at real-vocab scale
    return (
        spread(cand, "term_a", "term_b")
        .filter(F.levenshtein("term_a", "term_b") <= 1)
        .orderBy("term_a", "term_b")
    )


LINKPRED_WORD_TOP_K = 20


def word_link_prediction(
    documents: DataFrame,
    window: int = TEXTRANK_WINDOW,
    min_len: int = TEXTRANK_MIN_LEN,
    vocab_cap: int = TEXTRANK_VOCAB,
    k: int = LINKPRED_WORD_TOP_K,
) -> DataFrame:
    """Second-order co-occurrence mining on the word graph: among word
    pairs whose DIRECT co-occurrence is below the corpus mean (the weak
    ties), rank by neighborhood Jaccard over the above-mean graph — the
    distributional-similarity signal ("these two terms rarely appear
    together but keep the same strong company") that powers synonym and
    related-term discovery. Graph-structural companion to
    ``term_cooccurrence`` (pointwise PMI) and ``keyword_textrank``
    (global centrality).

    The edge rule is RELATIVE — keep (u,v) iff w * n_edges >= sum(w),
    an exact integer compare that scales with the corpus (an absolute
    cutoff would silently saturate as counts grow). Neighborhoods come
    from the kept graph; candidates from the ordered wedge join; direct
    kept edges leave by anti-join; the score is exact micro-rounded
    integer division and the top-k a TakeOrdered.

    Scale: pair generation is row-local (zip-of-shifted-slices — the
    HOF-CSE rule), the graph is vocab-capped, and every join past the
    first aggregate runs on the <=cap-node edge table.
    """
    from inde1_spark.functions.exprs import ratio_round, tokens

    toksc = F.filter(tokens("text"), lambda t: F.length(t) >= min_len)
    docs = documents.select("doc_id", toksc.alias("toks"))
    sz = F.size(F.col("toks"))
    pair_arrays = []
    for off in range(1, window):
        z = F.filter(
            F.arrays_zip(
                F.col("toks").alias("a"),
                F.slice(
                    F.col("toks"), off + 1, F.greatest(sz - off, F.lit(1))
                ).alias("b"),
            ),
            lambda s: s["b"].isNotNull(),
        )
        pair_arrays.append(z)
    prs = (
        docs.select(F.explode(F.concat(*pair_arrays)).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    vocab = (
        docs.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(vocab_cap)
        .select("token")
    )
    dirp = prs.unionAll(prs.select(F.col("b").alias("a"), F.col("a").alias("b")))
    edges_w = (
        dirp.join(F.broadcast(vocab), dirp["a"] == vocab["token"]).drop("token")
        .join(F.broadcast(vocab), dirp["b"] == vocab["token"]).drop("token")
        .groupBy(F.col("a").alias("u"), F.col("b").alias("v"))
        .agg(F.count("*").cast("long").alias("w"))
    )
    wg = Window.partitionBy()
    edges_w = edges_w.withColumn("sum_w", F.sum("w").over(wg).cast("decimal(38,0)"))
    edges_w = edges_w.withColumn(
        "n_edges", F.count("*").over(wg).cast("decimal(38,0)")
    )

    # persisted: the bounded kept-edge table is consumed four times (degrees,
    # both wedge sides, the anti-join) — without it each consumer replays the
    # corpus-wide pair explode
    kept = persist(
        edges_w.filter(
            F.col("w").cast("decimal(38,0)") * F.col("n_edges") >= F.col("sum_w")
        ).select("u", "v")
    )
    deg = kept.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    w1 = kept.select("u", F.col("v").alias("x"))
    w2 = kept.select(F.col("u").alias("x"), F.col("v").alias("v2"))
    wedges = (
        w1.join(w2, "x")
        .filter(F.col("u") < F.col("v2"))
        .groupBy("u", F.col("v2").alias("v"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    non_edges = wedges.join(kept, ["u", "v"], "left_anti")
    scored = (
        non_edges.join(deg.select("u", F.col("deg").alias("deg_u")), "u")
        .join(deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v")), "v")
        .select(
            F.col("u").alias("term_a"),
            F.col("v").alias("term_b"),
            "n_common",
            ratio_round(
                F.col("n_common"),
                F.col("deg_u") + F.col("deg_v") - F.col("n_common"),
                6,
            ).alias("jaccard_nbrs"),
        )
    )
    return scored.orderBy(
        F.col("jaccard_nbrs").desc(), F.col("term_a").asc(), F.col("term_b").asc()
    ).limit(k)


RAKE_TOP_K = 20
RAKE_SCORE_SCALE = 1_000_000  # word deg/freq ratios as exact micro-longs


def rake_keywords(
    documents: DataFrame, k: int = RAKE_TOP_K
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; a word scores degree/frequency
    (degree = total length of phrases it appears in — words that live
    in long multiword terms outrank equally-frequent words that appear
    alone), and a phrase scores the sum of its words' scores. The
    corpus-level top-k is the multiword complement to
    ``keyword_textrank``: TextRank finds central WORDS, RAKE finds the
    PHRASES they compose.

    Deterministic scoring: word scores are exact round-half-up
    micro-longs (degree*1e6 / freq), phrase scores exact long sums over
    token positions (multiplicity counted), ties break lexicographically.
    Phrase extraction is row-local string surgery (mark stopwords with a
    reserved delimiter, split on it) — identical in both engines.

    Scale: phrase/word explosion is corpus-volume but row-local; word
    stats reduce onto the vocabulary; phrase stats reduce onto the
    distinct-phrase space; the top-k is a TakeOrdered, never a full
    sort.
    """
    marked = F.array_join(
        F.transform(
            tokens("text"),
            lambda t: F.when(t.isin(*STOPWORDS), F.lit("|")).otherwise(t),
        ),
        " ",
    )
    phrases = F.filter(
        F.split(marked, " *\\| *"), lambda p: p != F.lit("")
    )
    pe = documents.select(F.explode(phrases).alias("phrase"))
    pw = pe.select(
        "phrase",
        F.size(F.split(F.col("phrase"), " ")).cast("long").alias("plen"),
        F.explode(F.split(F.col("phrase"), " ")).alias("word"),
    )
    ws = pw.groupBy("word").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("degree"),
    )
    p = RAKE_SCORE_SCALE
    a = F.col("degree") * F.lit(2 * p) + F.col("freq")
    b = F.col("freq") * F.lit(2)
    ws = ws.withColumn(
        "score_micro", ((a - a % b) / b).cast("long")
    )
    pd_ = pe.groupBy("phrase").agg(
        F.count("*").cast("long").alias("n_occurrences")
    )
    pdw = pd_.select(
        "phrase",
        "n_occurrences",
        F.explode(F.split(F.col("phrase"), " ")).alias("word"),
    )
    scored = (
        pdw.join(ws.select("word", "score_micro"), "word")
        .groupBy("phrase", "n_occurrences")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("score_micro").cast("long").alias("s_micro"),
        )
    )
    w = Window.orderBy(F.col("s_micro").desc(), F.col("phrase").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "rank",
            "phrase",
            "n_words",
            "n_occurrences",
            (F.col("s_micro").cast("double") / F.lit(float(p))).alias("score"),
        )
    )


def fertility_by_source(documents: DataFrame) -> DataFrame:
    """Tokenizer-fertility profile per source — the corpus-mix view of
    ``token_count_bpe``'s per-document fertility: subwords per whitespace
    word and characters per subword, aggregated per source. Fertility is
    THE mixture-planning number for a token budget (a source at fertility
    2.0 costs twice the compute per word of one at 1.0), and
    chars-per-subword flags sources whose script the tokenizer
    fragments; both belong in the same table the budget is planned from
    (``token_budget_curriculum``).

    One regexp pass per document (row-local, no shuffle) feeding a
    per-source map-side-combinable aggregate; ratios are exact
    round-half-up integer math over the summed counts.
    """
    toks = _toks()
    subwords = F.expr(f"regexp_extract_all(lower(text), '({BPE_PATTERN})', 0)")
    per_doc = documents.select(
        "source",
        F.size(toks).cast("long").alias("n_words"),
        F.size(subwords).cast("long").alias("n_subwords"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_subwords").cast("long").alias("n_subwords"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_words",
        "n_subwords",
        ratio_round(
            F.col("n_subwords"),
            F.greatest(F.col("n_words"), F.lit(1).cast("long")),
            4,
        ).alias("fertility"),
        ratio_round(
            F.col("n_chars"),
            F.greatest(F.col("n_subwords"), F.lit(1).cast("long")),
            4,
        ).alias("chars_per_subword"),
    ).orderBy("source")


# Repetition-rule thresholds, set from the corpus distributions at sf0.01
# (top1 med 9.3 / q90 14; top2 med 3.3 / q90 6.9; dup3 q90 0 / max 14.3) so
# every flag discriminates at the gate scale. Real-corpus analogues are the
# Gopher repetition filters (Rae et al. 2021, Table A1).
REP_TOP1_MAX = 12.0   # max share of the most frequent unigram, percent
REP_TOP2_MAX = 6.0    # max share of the most frequent bigram, percent
REP_DUP3_MAX = 5.0    # max token mass inside repeated trigrams, percent


def repetition_rules(documents: DataFrame) -> DataFrame:
    """Gopher-style REPETITION quality rules — the filter family
    ``gopher_rules`` (length / mean word length / stopwords) does not
    cover: a document dominated by one token, one bigram, or repeated
    trigram runs is boilerplate or degenerate generation, and repetition
    is the signal Rae et al. 2021 filter on before training. Per doc:
    top-unigram share, top-bigram share, and the token mass sitting
    inside repeated trigrams (count > 1), each an exact round-half-up
    percent with its own keep flag; ``keep`` is the conjunction.

    One row-local n-gram materialization (the ``word_ngrams``
    zip-of-shifted-slices spelling — no per-position lambda re-tokenize),
    ONE corpus shuffle on (doc, n, gram) with map-side combine, then a
    bounded per-doc conditional pivot. Documents too short for an n-gram
    level (or empty) contribute no rows at that level and read 0 percent
    / keep — the left join from the doc-id spine keeps them in the
    output, ANSI-safe via the positions>0 guards.
    """
    from inde1_spark.functions.exprs import ratio_round, tokens, word_ngrams

    base = documents.select("doc_id", tokens("text").alias("toks"))
    tagged = F.concat(
        F.transform(
            F.col("toks"),
            lambda g: F.struct(F.lit(1).alias("n"), g.alias("gram")),
        ),
        F.transform(
            word_ngrams(F.col("toks"), 2),
            lambda g: F.struct(F.lit(2).alias("n"), g.alias("gram")),
        ),
        F.transform(
            word_ngrams(F.col("toks"), 3),
            lambda g: F.struct(F.lit(3).alias("n"), g.alias("gram")),
        ),
    )
    counts = (
        base.select("doc_id", F.explode(tagged).alias("t"))
        .select("doc_id", F.col("t.n").alias("n"), F.col("t.gram").alias("gram"))
        .groupBy("doc_id", "n", "gram")
        .agg(F.count("*").cast("long").alias("c"))
    )
    per = counts.groupBy("doc_id", "n").agg(
        F.sum("c").cast("long").alias("tot"),
        F.max("c").cast("long").alias("mx"),
        F.coalesce(
            F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("dup"),
    )

    def lvl(n: int, col: str):
        return F.coalesce(
            F.max(F.when(F.col("n") == n, F.col(col))), F.lit(0).cast("long")
        )

    stats = per.groupBy("doc_id").agg(
        lvl(1, "tot").alias("n_tokens"),
        lvl(1, "mx").alias("top1_cnt"),
        lvl(2, "tot").alias("n_bigrams"),
        lvl(2, "mx").alias("top2_cnt"),
        lvl(3, "tot").alias("n_trigrams"),
        lvl(3, "dup").alias("dup3_cnt"),
    )
    spine = documents.select("doc_id")
    z = F.lit(0).cast("long")
    joined = spine.join(stats, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", z).alias("n_tokens"),
        F.coalesce("top1_cnt", z).alias("top1_cnt"),
        F.coalesce("n_bigrams", z).alias("n_bigrams"),
        F.coalesce("top2_cnt", z).alias("top2_cnt"),
        F.coalesce("n_trigrams", z).alias("n_trigrams"),
        F.coalesce("dup3_cnt", z).alias("dup3_cnt"),
    )

    def pct(num: str, den: str):
        return F.when(
            F.col(den) > 0, ratio_round(F.col(num) * 100, F.col(den), 2)
        ).otherwise(F.lit(0.0))

    top1 = pct("top1_cnt", "n_tokens")
    top2 = pct("top2_cnt", "n_bigrams")
    dup3 = pct("dup3_cnt", "n_trigrams")
    out = joined.select(
        "doc_id",
        "n_tokens",
        top1.alias("top1_pct"),
        top2.alias("top2_pct"),
        dup3.alias("dup3_pct"),
    ).select(
        "*",
        (F.col("top1_pct") <= F.lit(REP_TOP1_MAX)).alias("flag_top1"),
        (F.col("top2_pct") <= F.lit(REP_TOP2_MAX)).alias("flag_top2"),
        (F.col("dup3_pct") <= F.lit(REP_DUP3_MAX)).alias("flag_dup3"),
    )
    return out.select(
        "*",
        (F.col("flag_top1") & F.col("flag_top2") & F.col("flag_dup3")).alias(
            "keep"
        ),
    )


CALIB_N_BINS = 10  # reliability-diagram confidence bins


def langid_calibration_audit(documents: DataFrame) -> DataFrame:
    """Reliability diagram + per-bin calibration gaps for the lang_id
    classifier — the eval the confusion matrix (``lang_confusion``)
    doesn't give: accuracy says how often the argmax is right;
    CALIBRATION says whether the classifier's confidence MEANS anything
    (a 0.9-confidence bucket should be ~90% correct), which is what a
    routing threshold ("trust lang_id above c, else run the expensive
    model") actually consumes. Confidence = winning marker share
    s_max/s_total — an exact integer ratio, binned by the integer rule
    floor(B * s_max / s_total) clamped to B-1; docs with zero marker
    hits carry no confidence and are excluded (both engines, same
    filter).

    One row-local scoring pass (lang_id's own expressions), one
    map-side-combinable per-bin aggregate. Per bin: docs, correct,
    exact round-half-up accuracy and mean-confidence percents, and the
    |accuracy - confidence| gap in exact micro units — sum(gap * n_b)/N
    is ECE, and every term is integer-exact: the gap numerator
    |n_correct*1e6 - sum_conf_micro| never touches a float until the
    final divide.
    """
    from inde1_spark.functions.exprs import dec_ratio_round, ratio_round

    scored = lang_id(documents)
    score_cols = [c for c in scored.columns if c.startswith("score_")]
    s_max = F.greatest(*[F.col(c) for c in score_cols])
    s_tot = sum(F.col(c) for c in score_cols[1:]) + F.col(score_cols[0])
    base = scored.select(
        (F.col("lang_pred") == F.col("lang_actual")).alias("correct"),
        s_max.alias("s_max"),
        s_tot.cast("long").alias("s_tot"),
    ).filter(F.col("s_tot") > 0)
    bin_ = F.least(
        F.floor(
            (F.col("s_max") * F.lit(CALIB_N_BINS)
             - (F.col("s_max") * F.lit(CALIB_N_BINS)) % F.col("s_tot"))
            / F.col("s_tot")
        ).cast("long"),
        F.lit(CALIB_N_BINS - 1).cast("long"),
    )
    conf_micro = ratio_round(F.col("s_max") * 1_000_000, F.col("s_tot"), 0)
    per_bin = base.select(
        bin_.alias("bin"),
        "correct",
        conf_micro.cast("long").alias("conf_micro"),
    ).groupBy("bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("correct"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.sum("conf_micro").cast("long").alias("sum_conf_micro"),
    )
    return per_bin.select(
        "bin",
        "n_docs",
        "n_correct",
        ratio_round(F.col("n_correct") * 100, F.col("n_docs"), 2).alias(
            "acc_pct"
        ),
        # micro-count numerators pass ratio_round's 2^53 long contract at
        # ~1e10 docs/bin: the wide-decimal spelling (CLAUDE.md rule)
        dec_ratio_round(
            F.col("sum_conf_micro"),
            F.col("n_docs").cast("decimal(38,0)")
            * F.lit(10_000).cast("decimal(38,0)"),
            2,
        ).alias("avg_conf_pct"),
        dec_ratio_round(
            F.abs(
                F.col("n_correct").cast("decimal(38,0)")
                * F.lit(1_000_000).cast("decimal(38,0)")
                - F.col("sum_conf_micro").cast("decimal(38,0)")
            ) * F.lit(100).cast("decimal(38,0)"),
            F.col("n_docs").cast("decimal(38,0)")
            * F.lit(1_000_000).cast("decimal(38,0)"),
            2,
        ).alias("gap_pct"),
    ).orderBy("bin")


def text_normalization_audit(documents: DataFrame) -> DataFrame:
    """Pre-tokenization hygiene audit per source — the normalization
    debt a corpus carries into every downstream stage (tokenizers see
    '  ' as an empty token boundary, dedup hashes treat trailing
    whitespace as distinct content, all-caps text skews quality
    heuristics): per source, the documents with leading/trailing
    whitespace, internal double spaces, effectively-empty text,
    non-ASCII bytes, and all-caps letter content — each as a count and
    an exact round-half-up percent. The table that says whether a
    normalization pass must ship BEFORE fingerprints are pinned
    (normalizing afterwards invalidates every standing hash/index).

    One row-local projection of boolean predicates (no regex beyond an
    anchored ASCII class — engine-identical), one map-side-combinable
    per-source aggregate.
    """
    from inde1_spark.functions.exprs import ratio_round

    t = F.col("text")
    has_letter = t.rlike("[A-Za-z]")
    preds = {
        "n_leading_ws": F.substring(t, 1, 1) == " ",
        "n_trailing_ws": F.substring(t, -1, 1) == " ",
        "n_double_space": F.instr(t, "  ") > 0,
        "n_empty": F.length(F.trim(t)) == 0,
        "n_non_ascii": t.rlike("[^\\x20-\\x7e]"),
        "n_all_caps": has_letter & (F.upper(t) == t),
    }
    agg = documents.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        *[
            F.sum(F.when(p, 1).otherwise(0)).cast("long").alias(name)
            for name, p in preds.items()
        ],
    )
    gnd = F.greatest(F.col("n_docs"), F.lit(1).cast("long"))
    return agg.select(
        "source",
        "n_docs",
        *[c for c in preds],
        ratio_round(
            sum(F.col(c) for c in preds) * 100, gnd * len(preds), 2
        ).alias("debt_index_pct"),
    ).orderBy("source")
