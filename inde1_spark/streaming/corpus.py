"""Streaming corpus ingestion: the training-data pipeline as a live stream.

The batch ``jobs.corpus_prep`` pipeline (quality filter -> exact dedup ->
split assignment) re-expressed over Structured Streaming, for the ingest
shape a crawler/firehose feeds: documents arrive continuously, the corpus
store must only ever contain quality-filtered, deduplicated docs, and
re-delivered documents (at-least-once sources) must not land twice.

Same operator library as batch — ``gopher_keep()`` is a row-local Column
predicate that works unchanged on a streaming DataFrame, and the dedup is
``dropDuplicatesWithinWatermark`` on md5(text): O(hashes-in-horizon) state,
dropped as the watermark advances, never O(stream). Deviation from batch:
batch ``dedup_exact`` keeps the smallest doc_id per hash; the stream keeps
the FIRST-ARRIVING doc per hash (the only option without unbounded state).

At 100 TB/day the plan is scan -> filter (codegen) -> shuffle on the
fixed-width 32-byte hash -> stateful dedup -> partitioned append; the one
shuffle is on an avalanche-mixed key, so it spreads evenly regardless of
how skewed the source crawl is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from inde1_spark.operators.text import _split_label, gopher_keep, hash_bucket
from inde1_spark.plans.lifecycle import lazy_checkpoint, release_persisted

# Wire schema for the document firehose: the batch `documents` table plus
# the ingest event-time stamp the connector assigns at capture.
DOCUMENT_WIRE = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
        StructField("ingest_ts", TimestampType()),
    ]
)

DEDUP_WATERMARK = "1 hour"


def document_stream(spark: SparkSession, path: str, fmt: str = "json") -> DataFrame:
    """File-source document firehose (the sandbox stand-in for Kafka).

    Schema is pinned (streaming file sources require it); malformed rows
    drop via PERMISSIVE + corrupt-column filter, same policy as the batch
    gzip-JSONL reader (S3/S4).
    """
    reader = spark.readStream.schema(DOCUMENT_WIRE)
    if fmt == "json":
        reader = reader.option("mode", "PERMISSIVE")
    return reader.format(fmt).load(path).filter(F.col("doc_id").isNotNull())


def corpus_prep_stream(
    documents: DataFrame, watermark: str = DEDUP_WATERMARK
) -> DataFrame:
    """quality filter -> streaming exact dedup -> split assignment, one plan.

    1. ``gopher_keep()`` drops degenerate docs row-locally in the scan
       stage — rejected docs never reach the shuffle or the state store;
    2. ``dropDuplicatesWithinWatermark`` on md5(text) suppresses re-deliveries
       and content dups within the watermark horizon;
    3. contamination-safe split from the md5 bucket of the GROUP key
       (``source``), identical assignment to the batch pipeline.
    """
    return (
        documents.withWatermark("ingest_ts", watermark)
        .filter(gopher_keep())
        .withColumn("text_md5", F.md5("text"))
        .dropDuplicatesWithinWatermark(["text_md5"])
        .withColumn("split", _split_label(hash_bucket(F.col("source"), 100)))
        .drop("text_md5")
    )


def corpus_stream_writer(prepared: DataFrame, out_dir: str, checkpoint_dir: str):
    """Append the prepared corpus to split-partitioned parquet, exactly-once.

    Append mode + checkpointed file-sink manifest makes restarts idempotent
    (the batch job's dynamic-partition-overwrite twin, for streams). Trainer
    readers prune to ``split=train`` directories, same layout as batch.
    """
    return (
        prepared.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("split")
        .outputMode("append")
    )


def chunk_stream(prepared: DataFrame) -> DataFrame:
    """Context-window chunking as a streaming stage.

    ``chunk_tokens`` is a stateless row-local projection (sequence ->
    explode -> slice), so it applies to the prepared stream UNCHANGED —
    chunk prep runs inline with ingest instead of as a second batch pass
    over the corpus store. No watermark, no state: each micro-batch chunks
    its own documents. The 1->N row expansion is legal in streaming append
    mode (flatMap-shaped projections are), and output volume stays
    ~chunk/stride x input per batch.
    """
    from inde1_spark.operators.corpus import chunk_tokens

    return chunk_tokens(prepared)


def novel_chunk_stream(
    documents: DataFrame, watermark: str = DEDUP_WATERMARK
) -> DataFrame:
    """Chunk-level novelty feed: every CDC chunk's FIRST appearance within
    the watermark horizon — sub-document dedup on the live firehose (the
    streaming face of ``dedup.chunk_dedup_cdc``). A re-crawled page whose
    boilerplate matches yesterday's crawl contributes only its genuinely
    new paragraphs downstream; consumers get a stream of novel content
    mass instead of re-delivered chrome.

    ``cdc_chunk_table`` is a stateless row-local projection (boundary
    positions -> slice -> hash), so it applies to the stream UNCHANGED
    with the event-time column carried through; the only state is
    ``dropDuplicatesWithinWatermark`` keyed on the 32-byte chunk hash —
    O(chunks-in-horizon), dropped as the watermark advances, and the
    shuffle key is avalanche-mixed so crawl skew never concentrates
    state. Same first-arrival-wins deviation from batch as
    ``corpus_prep_stream`` (batch keeps min doc_id per chunk).
    """
    from inde1_spark.operators.dedup import cdc_chunk_table

    ch = cdc_chunk_table(
        documents.withWatermark("ingest_ts", watermark), carry=("ingest_ts",)
    )
    return ch.dropDuplicatesWithinWatermark(["chunk_hash"])


def near_dup_stream(
    documents: DataFrame,
    index: DataFrame,
    threshold: float | None = None,
    watermark: str = DEDUP_WATERMARK,
) -> DataFrame:
    """Near-duplicate DETECTIONS against a standing index, on the live
    firehose — the streaming face of ``dedup.dedup_incremental``: each
    arriving document emits one row per index document it near-duplicates
    (word-3-gram Jaccard >= threshold), or nothing if it is novel. An
    admission gate is then a trivial consumer (suppress doc_ids seen on
    this feed); keeping the operator pair-shaped avoids a second layer of
    streaming state for the verdict aggregate.

    Plan, and why it needs NO streaming aggregation at all:
    1. signatures compute ROW-LOCALLY on the arriving document — the
       shingle->md5-sid array is materialized once per row (HOF-CSE
       rule) and each of the 32 permutation minima is an array fold;
       no explode/groupBy, so no shuffle and no state;
    2. the 8 band keys explode statelessly (1 -> 8 rows) and equi-join
       the STATIC index band table (stream-static joins are stateless);
       at scale that table is the parquet the admission pipeline
       maintains, bucketed by (band, sig);
    3. the exact verify is ALSO row-local: candidates join the static
       per-doc distinct-shingle ARRAY table and score
       |array_intersect| / |union| with the same exact integer
       ``ratio_round`` as batch — no pair groupBy, because set
       intersection happens inside the row;
    4. the only state is ``dropDuplicatesWithinWatermark`` on the pair
       key (a candidate pair surfaces once per colliding band).
    Same banding recall contract as ``dedup_minhash_fast`` (md5 sids,
    PERMS_FAST, 8x4 bands); the verify makes precision exact.
    """
    from inde1_spark.functions.exprs import ratio_round, tokens, word_shingles
    from inde1_spark.operators.dedup import (
        FAST_N_BANDS,
        FAST_N_PERM,
        JACCARD_THRESHOLD,
        MINHASH_PRIME,
        PERMS_FAST,
        banded_signature,
        minhash_signatures,
        shingle_table,
    )

    thr = JACCARD_THRESHOLD if threshold is None else threshold
    # --- static side: band table + per-doc distinct shingle arrays ---
    idx_sh = shingle_table(index)
    idx_sids = idx_sh.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
            % F.lit(MINHASH_PRIME)
        ).alias("sid"),
    )
    idx_bands = banded_signature(
        minhash_signatures(idx_sids, PERMS_FAST), FAST_N_PERM, FAST_N_BANDS
    ).select(F.col("doc_id").alias("doc_idx"), "band", "sig")
    idx_arr = index.select(
        F.col("doc_id").alias("doc_idx"),
        word_shingles(tokens("text")).alias("sh_idx"),
    )
    # --- stream side: row-local signature -> exploded band keys ---
    rows_per_band = FAST_N_PERM // FAST_N_BANDS
    sids = F.transform(
        F.col("sh_new"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
        % F.lit(MINHASH_PRIME),
    )
    base = (
        documents.withWatermark("ingest_ts", watermark)
        .select(
            F.col("doc_id").alias("doc_new"),
            "ingest_ts",
            word_shingles(tokens("text")).alias("sh_new"),
        )
        .filter(F.size("sh_new") > 0)
        .withColumn("sids", sids)
    )
    mh = [
        F.array_min(
            F.transform(
                F.col("sids"),
                lambda s: (F.lit(a) * s + F.lit(b)) % F.lit(MINHASH_PRIME),
            )
        ).alias(f"mh_{pid}")
        for pid, a, b in PERMS_FAST
    ]
    with_sig = base.select("doc_new", "ingest_ts", "sh_new", *mh)
    bands = with_sig.select(
        "doc_new",
        "ingest_ts",
        "sh_new",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"mh_{b * rows_per_band + r}").cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("sig"),
                    )
                    for b in range(FAST_N_BANDS)
                ]
            )
        ).alias("bs"),
    ).select(
        "doc_new", "ingest_ts", "sh_new",
        F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"),
    )
    cand = bands.join(idx_bands, ["band", "sig"]).join(idx_arr, "doc_idx")
    inter = F.size(F.array_intersect(F.col("sh_new"), F.col("sh_idx")))
    union = F.size("sh_new") + F.size("sh_idx") - inter
    scored = cand.select(
        "doc_new",
        "doc_idx",
        "ingest_ts",
        ratio_round(inter, union, 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= thr)
    return scored.dropDuplicatesWithinWatermark(["doc_new", "doc_idx"])


def lpa_communities_stream(
    edges: DataFrame, state_dir: str, out_dir: str
):
    """Community structure over the LIVE dup-edge feed — the streaming
    face of ``dedup.label_propagation_communities``, consuming exactly
    what ``near_dup_stream`` emits (near-dup pair detections). Iterative
    LPA is not incrementally maintainable (one new edge can flip labels
    arbitrarily far away), so the sink uses the incremental-RECOMPUTE
    posture (the ``ivm_merge_check`` decision table's fallback branch):
    each micro-batch appends its edges to the standing edge table, then
    reruns the SAME fixed-round ``lpa_histogram`` the batch operator
    runs — shared code, so stream==batch parity is structural, not
    coincidental — and publishes the refreshed histogram atomically.

    Cost posture: per-batch work is one bounded LPA over the accumulated
    DUP GRAPH, which is orders of magnitude smaller than the corpus
    (edges are verified near-dup pairs, df-capped upstream); the append
    is batch-sized. At a 100 TB corpus the recompute cadence is the
    micro-batch trigger — lengthen the trigger, not the algorithm, if
    the graph grows hot.
    """

    return (
        edges.writeStream.foreachBatch(lpa_batch_sink(state_dir, out_dir))
        .outputMode("update")
    )


def lpa_batch_sink(state_dir: str, out_dir: str):
    """The foreachBatch function behind ``lpa_communities_stream``,
    exposed so the replay-idempotency contract is directly testable
    (call it twice with the same batch — state must not change). One
    caveat the batch keying implies: idempotency holds within a
    checkpoint lineage (replays carry the same batch_id + contents); a
    re-ingest under a FRESH checkpoint renumbers batches and needs a
    fresh state_dir."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        from inde1_spark.operators.dedup import lpa_histogram

        # foreachBatch is AT-LEAST-ONCE: a batch replayed after a crash
        # between the state write and the checkpoint commit must not land
        # its edges twice (duplicate edges double their LPA votes). The
        # write is idempotent by construction — batch N always OVERWRITES
        # its own batch-keyed directory, so a replay rewrites, never
        # appends. The accumulate-read globs the batch directories.
        batch_df.select("doc_a", "doc_b").write.mode("overwrite").parquet(
            f"{state_dir}/b{batch_id}"
        )
        spark = batch_df.sparkSession
        # explicit schema: the initial batch can be empty (its directory
        # holds no part files), and schema inference over the glob would
        # throw UNABLE_TO_INFER_SCHEMA until the first real batch lands
        graph = (
            spark.read.schema("doc_a long, doc_b long")
            .parquet(f"{state_dir}/b*")
            .persist()
        )
        try:
            lpa_histogram(graph).write.mode("overwrite").parquet(out_dir)
        finally:
            graph.unpersist()
            # lpa_labels caches its v-partitioned adjacency internally
            # (r12); release it per micro-batch or availableNow backfills
            # accumulate one stale cache per batch
            release_persisted()

    return _apply


# Wire schema for the embedding firehose: the batch `embeddings` table plus
# the ingest event-time stamp the connector assigns at capture.
EMBEDDING_WIRE = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
        StructField("ingest_ts", TimestampType()),
    ]
)


def embedding_stream(spark: SparkSession, path: str, fmt: str = "json") -> DataFrame:
    """File-source embedding firehose (the sandbox stand-in for Kafka),
    schema-pinned like ``document_stream``."""
    reader = spark.readStream.schema(EMBEDDING_WIRE)
    if fmt == "json":
        reader = reader.option("mode", "PERMISSIVE")
    return reader.format(fmt).load(path).filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )


def embedding_admission_stream(
    vectors: DataFrame,
    index: DataFrame,
    k: int | None = None,
    iters: int | None = None,
    threshold: float | None = None,
    watermark: str = DEDUP_WATERMARK,
) -> DataFrame:
    """Semantic near-duplicate DETECTIONS against a standing embedding
    corpus, on the live firehose — the streaming face of
    ``clustering.semdedup_incremental``, shaped exactly like
    ``near_dup_stream`` (shingles): each arriving vector emits one row per
    standing vector it semantically duplicates (same-cluster cosine >=
    threshold), or nothing if novel. The admission gate is a trivial
    consumer (suppress vec_ids seen on this feed) — keeping the operator
    pair-shaped avoids a streaming verdict aggregate, the same state-free
    design choice as the shingle sibling.

    Plan, and why it needs NO streaming aggregation:
    1. the standing side runs Lloyd's ONCE (lazy-checkpointed centroid
       leaf) and materializes the per-cluster member table with
       embeddings + exact norms — at real scale this is the persisted
       cluster table the admission pipeline maintains;
    2. each arriving vector routes to its nearest centroid ROW-LOCALLY:
       the k centroids travel as one broadcast row of structs and argmin
       is an array fold — no shuffle, no state (the kmeans_assign
       property, unchanged on a stream); the arriving norm is projected
       to a COLUMN before the join (HOF-CSE rule);
    3. candidates come from the stream-static equi-join on the cluster
       key; the exact-cosine verify is row-local on the joined pair —
       same fixed-point dot/norm and round-to-6dp contract as batch;
    4. the only state is ``dropDuplicatesWithinWatermark`` on the pair
       key, which suppresses at-least-once re-deliveries (unlike the
       banded sibling there is no collision fan-out: one cluster per
       arrival means each pair surfaces at most once per delivery).
    Same cross-cluster recall trade as batch SemDeDup.
    """
    from inde1_spark.functions.exprs import dot_exact, norm_exact
    from inde1_spark.operators.clustering import (
        KMEANS_ITERS,
        KMEANS_K,
        _assign,
        _dist_scaled,
        _init_centroids,
        _update,
    )
    from inde1_spark.operators.dedup import COSINE_DEDUP_THRESHOLD

    kk = KMEANS_K if k is None else k
    it = KMEANS_ITERS if iters is None else iters
    thr = COSINE_DEDUP_THRESHOLD if threshold is None else threshold

    # --- static side: Lloyd once, then the cluster-member verify table ---
    cents = _init_centroids(index, kk)
    for _ in range(it):
        cents = _update(_assign(index, cents))
    cents = lazy_checkpoint(cents, adaptive=False)
    members = _assign(index, cents).select(
        "cluster",
        F.col("vec_id").alias("vec_idx"),
        F.col("embedding").alias("emb_idx"),
        norm_exact(F.col("embedding")).alias("nrm_idx"),
    )
    one_row = cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cvec"))).alias("cents")
    ).withColumn("j", F.lit(1))

    # --- stream side: row-local routing, norm projected pre-join ---
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                _dist_scaled(F.col("embedding"), c["cvec"]).alias("d"),
                c["cid"].alias("cid"),
            ),
        )
    )
    routed = (
        vectors.withWatermark("ingest_ts", watermark)
        .withColumn("j", F.lit(1))
        .join(F.broadcast(one_row), "j")
        .select(
            F.col("vec_id").alias("vec_new"),
            "ingest_ts",
            F.col("embedding").alias("emb_new"),
            norm_exact(F.col("embedding")).alias("nrm_new"),
            best["cid"].alias("cluster"),
        )
    )
    cos = dot_exact(F.col("emb_new"), F.col("emb_idx")) / (
        F.col("nrm_new") * F.col("nrm_idx")
    )
    scored = (
        routed.join(members, "cluster")
        .withColumn("cos_sim", F.round(cos, 6))
        .filter(F.col("cos_sim") >= F.lit(thr))
        .select("vec_new", "vec_idx", "ingest_ts", "cos_sim")
    )
    return scored.dropDuplicatesWithinWatermark(["vec_new", "vec_idx"])


def winnow_admission_stream(
    documents: DataFrame,
    index: DataFrame,
    max_fp_df: int | None = None,
    watermark: str = DEDUP_WATERMARK,
) -> DataFrame:
    """Verbatim-passage CONTAINMENT detections against a standing winnow
    index, on the live firehose — the streaming face of
    ``dedup.dedup_winnow_incremental`` (the MOSS criterion at the ingest
    boundary), completing the admission-stream family beside
    ``near_dup_stream`` (token-set Jaccard) and
    ``embedding_admission_stream`` (cosine): each arriving document
    emits one row per index document that already CONTAINS it (shared
    fingerprints >= half of the new doc's set, WINNOW_ADMIT), or nothing if its
    content is fresh. The admission gate is a trivial consumer —
    suppress doc_ids seen on this feed — the near_dup_stream rule.

    Stateless by the same construction: the winnowed fingerprint set
    computes ROW-LOCALLY on the arriving document (rolling k-gram
    hashes -> window minima, all array folds — no explode/groupBy
    before the join); fingerprints explode statelessly into the
    stream-static equi-join against the standing DF-CAPPED posting
    table (at scale: the parquet the admission pipeline maintains,
    bucketed by fp); the exact verify is ALSO row-local —
    |array_intersect| of the new doc's own fingerprint ARRAY against
    the index doc's static ARRAY, over the UNCAPPED sets, so the cap
    can only lose all-boilerplate candidates, never mis-score one (the
    dedup_winnow_incremental contract). The only state is
    ``dropDuplicatesWithinWatermark`` on the pair key (a pair surfaces
    once per shared capped fingerprint).
    """
    from inde1_spark.functions.exprs import ratio_round
    from inde1_spark.operators.dedup import WINNOW_MAX_FP_DF
    from inde1_spark.operators.text import _gram_hashes, _winnow_minima

    cap = WINNOW_MAX_FP_DF if max_fp_df is None else max_fp_df
    # --- static side: per-doc fingerprint arrays + df-capped postings ---
    idx_arr = index.select(
        F.col("doc_id").alias("doc_idx"),
        _winnow_minima(_gram_hashes(F.col("text"))).alias("fp_idx"),
    )
    idx_post = idx_arr.select("doc_idx", F.explode("fp_idx").alias("fp"))
    hot = (
        idx_post.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= cap)
        .select("fp")
    )
    capped = idx_post.join(hot, "fp")
    # --- stream side: row-local fingerprints -> stateless explode ---
    base = (
        documents.withWatermark("ingest_ts", watermark)
        .select(
            F.col("doc_id").alias("doc_new"),
            "ingest_ts",
            _winnow_minima(_gram_hashes(F.col("text"))).alias("fp_new"),
        )
        .filter(F.size("fp_new") > 0)
    )
    cand = (
        base.select(
            "doc_new", "ingest_ts", "fp_new", F.explode("fp_new").alias("fp")
        )
        .join(capped, "fp")
        .join(idx_arr, "doc_idx")
    )
    from inde1_spark.operators.dedup import (
        WINNOW_ADMIT_DEN,
        WINNOW_ADMIT_NUM,
    )

    n_shared = F.size(F.array_intersect(F.col("fp_new"), F.col("fp_idx")))
    scored = (
        cand.select(
            "doc_new",
            "doc_idx",
            "ingest_ts",
            n_shared.cast("long").alias("n_shared"),
            F.size("fp_new").cast("long").alias("sz_new"),
        )
        .filter(
            F.lit(WINNOW_ADMIT_DEN) * F.col("n_shared")
            >= F.lit(WINNOW_ADMIT_NUM) * F.col("sz_new")
        )
        .select(
            "doc_new",
            "doc_idx",
            "ingest_ts",
            "n_shared",
            ratio_round(F.col("n_shared") * 100, F.col("sz_new"), 2).alias(
                "containment_pct"
            ),
        )
    )
    return scored.dropDuplicatesWithinWatermark(["doc_new", "doc_idx"])
