"""Similarity search over the embedding column (array<float>).

Two operators:
- ``knn_brute_cosine``: exact top-k — the correctness baseline. Cross join
  of queries x corpus with row-local dot products. At scale the query side
  is small and broadcast, so the corpus scan is one pass, embarrassingly
  parallel; cost is |Q| x |corpus| multiplies.
- ``knn_lsh_bucketed``: the scale path — sign-bucket LSH (axis-aligned
  random-projection family). Vectors land in a bucket keyed by the sign
  pattern of their leading dimensions; queries probe only their own bucket,
  cutting the search space by ~2^bits. Approximate (recall < 1 near bucket
  boundaries) — the standard IVF/LSH trade; the bucket join is a plain
  equi-join Catalyst shuffles on the bucket key, so it scales to any corpus
  size. Production extension: multi-probe (flip one sign) for better recall.

Determinism: cosine = exact-decimal dot / (exact norms) — see
inde1_spark.functions.exprs; ties in top-k are broken by vec_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from inde1_spark.functions.exprs import (
    dec_to_double_exact,
    dot_exact,
    norm_exact,
    ratio_round,
)
from inde1_spark.plans.lifecycle import persist, spread

N_QUERIES = 20  # queries() uses vec_id < 20 as the query set
EMB_DIM = 64    # testdata embedding width (shared with oracles.EMB_DIM)
K_BRUTE = 5
K_BUCKETED = 3
LSH_SIGN_DIMS = 4  # 2^4 = 16 buckets


def _with_norm(embeddings: DataFrame) -> DataFrame:
    return spread(embeddings, "vec_id").select(
        "vec_id", "embedding", norm_exact(F.col("embedding")).alias("nrm")
    )


def _cosine(pairs: DataFrame) -> DataFrame:
    cos = dot_exact(F.col("emb_q"), F.col("emb_n")) / (
        F.col("nrm_q") * F.col("nrm_n")
    )
    return pairs.withColumn("cos_sim", F.round(cos, 6))


def knn_brute_cosine(
    embeddings: DataFrame, k: int = K_BRUTE, n_queries: int = N_QUERIES
) -> DataFrame:
    """Exact cosine top-k for each query vector (vec_id < n_queries).

    The query side is broadcast; the corpus side streams through one
    projection + window. Deterministic ranking: (cos desc, neighbor id asc).
    """
    e = _with_norm(embeddings)
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("nrm").alias("nrm_q"),
    )
    n = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_n"),
        F.col("nrm").alias("nrm_n"),
    )
    pairs = F.broadcast(q).crossJoin(n).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = _cosine(pairs)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def sign_bucket(emb: F.Column, dims: int = LSH_SIGN_DIMS) -> F.Column:
    """LSH bucket id from the sign pattern of the leading ``dims`` coords."""
    return sum(
        F.when(emb.getItem(j) >= 0, F.lit(2**j)).otherwise(F.lit(0)) for j in range(dims)
    ).cast("long")


N_PROBE = 2
# K_IVF is deliberately the SAME constant as K_BUCKETED: knn_rrf_fusion
# fuses the two lists at one k, and its DuckDB oracle nests the knn_ivf
# oracle (pinned at K_IVF) under a K_BUCKETED fused-rank filter — deriving
# one from the other keeps the fusion path and its oracle in lockstep.
K_IVF = K_BUCKETED
FP = 1e15  # fixed-point scale, shared with functions.exprs


def _fixed_sum(col: F.Column) -> F.Column:
    """SUM of fixed-point-scaled doubles as exact LONG, back to double."""
    return F.sum(F.round(col * F.lit(FP), 0).cast("long")).cast("double") / F.lit(FP)


def ivf_centroids(embeddings: DataFrame) -> DataFrame:
    """(label, i, cv): cluster centroids in long form, exact means.

    The ``label`` column plays the quantizer assignment (at scale labels
    come from a trained k-means/PQ model; the engine consumes assignments —
    training is an offline job). Per-dimension means use fixed-point sums,
    so both engines compute bit-identical centroids.
    """
    exploded = embeddings.select(
        "label", F.posexplode("embedding").alias("i", "x")
    )
    return exploded.groupBy("label", "i").agg(
        (_fixed_sum(F.col("x").cast("double")) / F.count("*")).alias("cv")
    )


def knn_ivf(
    embeddings: DataFrame,
    k: int = K_IVF,
    n_probe: int = N_PROBE,
    n_queries: int = N_QUERIES,
) -> DataFrame:
    """IVF-style ANN: probe the ``n_probe`` nearest centroids' clusters only.

    The inverted-file pattern: rank cluster centroids per query (tiny,
    |labels| rows), then search only vectors in the probed clusters — the
    corpus join is an equi-join on ``label``, cutting scanned vectors by
    ~|labels|/n_probe. Exact cosine re-ranks the candidates. All arithmetic
    is fixed-point/exact so the DuckDB oracle reproduces it bit-for-bit.
    """
    cent = ivf_centroids(embeddings)
    cnorm = cent.groupBy("label").agg(
        F.sqrt(_fixed_sum(F.col("cv") * F.col("cv"))).alias("cnrm")
    )
    e = _with_norm(embeddings.select("vec_id", "embedding")).join(
        embeddings.select("vec_id", "label"), "vec_id"
    )
    q_long = (
        e.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("nrm").alias("qnrm"),
                F.posexplode("embedding").alias("i", "x"))
    )
    qc = (
        q_long.join(cent, "i")
        .groupBy("query_id", "qnrm", "label")
        .agg(_fixed_sum(F.col("x").cast("double") * F.col("cv")).alias("dot"))
        .join(cnorm, "label")
        .withColumn(
            "c_cos", F.round(F.col("dot") / (F.col("qnrm") * F.col("cnrm")), 6)
        )
    )
    wprobe = Window.partitionBy("query_id").orderBy(
        F.col("c_cos").desc(), F.col("label").asc()
    )
    probed = (
        qc.withColumn("prn", F.row_number().over(wprobe))
        .filter(F.col("prn") <= n_probe)
        .select("query_id", "label")
    )
    queries = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("nrm").alias("nrm_q"),
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_n"),
        F.col("nrm").alias("nrm_n"),
        "label",
    )
    cand = (
        probed.join(F.broadcast(queries), "query_id")
        .join(corpus, "label")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    scored = _cosine(cand)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def probe_buckets(bucket: F.Column, dims: int) -> F.Column:
    """Multi-probe list: the bucket itself + every one-bit sign flip.

    A query whose true neighbor sits just across one sign boundary still
    finds it — the standard multi-probe LSH recall fix, at (dims+1)x probe
    cost instead of 2x corpus replication. All probe values are distinct,
    so the probe join never duplicates a (query, neighbor) pair.
    """
    return F.array(bucket, *[bucket.bitwiseXOR(F.lit(2**j)) for j in range(dims)])


def knn_lsh_bucketed(
    embeddings: DataFrame,
    k: int = K_BUCKETED,
    n_queries: int = N_QUERIES,
    dims: int = LSH_SIGN_DIMS,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: probe the query's sign bucket + one-flip neighbors.

    The bucket join is a shuffle on a 2^dims-ary key instead of a cross
    join — the search-space cut that makes ANN feasible at corpus scale.
    The corpus side is keyed by its exact bucket; the query side multi-
    probes (own bucket plus every one-bit flip), recovering the recall lost
    near bucket boundaries. At corpus scale raise ``dims`` (each +1 halves
    the bucket occupancy and adds one probe): candidates scanned per query
    ~= corpus * (dims+1) / 2^dims. Recall vs the brute baseline is pinned
    in tests/test_similarity_recall.py.
    """
    # r12 candidate-first verify (the semdedup/dedup_minhash shape): the
    # bucket join matches IDS ONLY — with 2^dims bucket keys the join runs
    # on at most 2^dims tasks and AQE's byte-based coalescing merges the
    # kB-sized id pairs onto fewer still, which previously serialized the
    # exact-decimal cosine folds onto a couple of cores (and multiprobe
    # shuffled every query PAYLOAD once per probe). Candidates re-spread
    # across the full shuffle width before the payload joins (explicit
    # COUNT — CLAUDE.md rule), so verification runs at full parallelism
    # and each embedding payload moves once, keyed by its own id (§8:
    # shuffle keys and metadata, attach the heavy bytes last).
    ids = spread(embeddings, "vec_id").select(
        "vec_id", sign_bucket(F.col("embedding"), dims).alias("bucket")
    )
    q_ids = ids.filter(F.col("vec_id") < n_queries)
    if multiprobe:
        q_ids = q_ids.select(
            F.col("vec_id").alias("query_id"),
            F.explode(probe_buckets(F.col("bucket"), dims)).alias("bucket"),
        )
    else:
        q_ids = q_ids.select(F.col("vec_id").alias("query_id"), "bucket")
    n_ids = ids.select(F.col("vec_id").alias("neighbor_id"), "bucket")
    cand = spread(
        q_ids.join(n_ids, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id"),
        "query_id",
        "neighbor_id",
    )
    e = _with_norm(embeddings)
    eq = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("nrm").alias("nrm_q"),
    )
    en = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_n"),
        F.col("nrm").alias("nrm_n"),
    )
    pairs = cand.join(eq, "query_id").join(en, "neighbor_id")
    scored = _cosine(pairs)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


QUANT_LEVELS = 127  # symmetric int8


def embedding_quantize(embeddings: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization — the ANN memory-reduction
    step (4x smaller than float32; IVF/LSH candidate scans read quantized
    codes, exact re-rank reads the full vectors).

    scale = max|x| / 127; q_i = floor(x_i/scale + 0.5). ``floor(+0.5)``
    instead of ``round()`` because engine round() semantics differ at
    .5 boundaries (DESIGN §3); floor on IEEE doubles is exact in both.
    Output is audit-shaped: the scale and max absolute dequantization
    error as floor-truncated nano-units (BIGINT — engine round() on raw
    doubles is the DESIGN §3 ambiguity; multiply+floor is exact IEEE in
    both engines), plus an md5 over the code array (cheap equality
    evidence without hashing 64 array cells through the driver).
    Row-local, one corpus pass.
    """
    x = F.col("embedding")
    max_abs = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    scale = max_abs / F.lit(float(QUANT_LEVELS))
    q = F.transform(
        x,
        lambda v: F.when(
            max_abs == 0.0, F.lit(0).cast("long")
        ).otherwise(F.floor(v.cast("double") / scale + F.lit(0.5))),
    )
    err = F.array_max(
        F.zip_with(
            q, x, lambda qi, xi: F.abs(qi.cast("double") * scale - xi.cast("double"))
        )
    )
    return embeddings.select(
        "vec_id",
        F.floor(scale * F.lit(1e9)).cast("long").alias("scale_nano"),
        F.md5(F.array_join(F.transform(q, lambda v: v.cast("string")), ",")).alias(
            "q_md5"
        ),
        F.floor(err * F.lit(1e9)).cast("long").alias("max_err_nano"),
    )


def embedding_dim_stats(embeddings: DataFrame) -> DataFrame:
    """Per-dimension corpus statistics over the embedding column: the
    sanity pass before any geometric op (dead dimensions, range drift,
    whether vectors arrive normalized).

    posexplode keeps each value with its coordinate index, and the groupBy
    on the 64-key dimension reduces with map-side partials — the exchange
    carries dims x partitions rows, never corpus volume. Accumulation is
    fixed-point (value x 1e15 rounded to LONG, summed in DECIMAL(38,0) —
    a LONG accumulator would wrap silently past ~9k rows x 1.0-magnitude
    dims while DuckDB's HUGEINT promotion would hard-error, an asymmetric
    failure). The exact sum is emitted as a STRING (DuckDB fetches wide
    decimals as lossy float64, strings compare exactly); the mean divides
    once at the end in double.
    """
    from inde1_spark.functions.exprs import FIXED_POINT_SCALE

    ex = embeddings.select(F.posexplode("embedding").alias("dim", "v"))
    # floor(x + 0.5), NOT round(): Spark rounds the shortest decimal
    # representation while DuckDB rounds the binary value — they disagree
    # exactly on .5-boundary doubles (observed: 2/64 dims off by one unit
    # at sf0.1, a 1-ulp mean divergence). floor is IEEE-exact both engines.
    fx = F.floor(
        F.col("v").cast("double") * F.lit(FIXED_POINT_SCALE) + F.lit(0.5)
    ).cast("long")
    return (
        ex.groupBy((F.col("dim") + 1).cast("long").alias("dim"))
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum(fx.cast("decimal(38,0)")).alias("sum_dec"),
            F.min(F.col("v").cast("double")).alias("min_v"),
            F.max(F.col("v").cast("double")).alias("max_v"),
        )
        .select(
            "dim",
            "n_vecs",
            F.col("sum_dec").cast("string").alias("sum_fixed"),
            # digit-split conversion, not a direct cast: DuckDB's wide-int
            # -> double casts are not correctly rounded past 2^53 (exprs.
            # dec_to_double_exact docstring; observed 1-ulp mean_v flips)
            (
                dec_to_double_exact(F.col("sum_dec"))
                / F.col("n_vecs").cast("double")
                / F.lit(FIXED_POINT_SCALE)
            ).alias("mean_v"),
            "min_v",
            "max_v",
        )
    )


NORM_OUTLIER_PCT = 20  # flag norms more than this % away from the corpus mean


def embedding_outliers(
    embeddings: DataFrame, pct: int = NORM_OUTLIER_PCT
) -> DataFrame:
    """Norm audit: corpus norm envelope + count of vectors whose L2 norm
    sits more than ``pct`` percent from the mean (broken encoders emit
    zero / exploded vectors; cosine similarity silently hides them).

    One-row audit shape (not a filtered row set — a clean unit-normalized
    corpus would legitimately emit zero rows and prove nothing): n_vecs,
    mean/min/max norm, outlier count. Norms are exact fixed-point
    (norm_exact); the mean divides the floor(x*1e9+0.5)-snapped long sum
    once (round() diverges on .5 boundaries, floor is IEEE-exact both
    engines); the outlier predicate compares engine-identical doubles.
    Row-local except the final 1-row aggregate — one corpus pass.
    """
    nrm_nano = F.floor(
        norm_exact(F.col("embedding")) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    e = embeddings.select("vec_id", nrm_nano.alias("nn"))
    stats = e.agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("nn").cast("long").alias("sum_nano"),
        F.min("nn").alias("min_nano"),
        F.max("nn").alias("max_nano"),
    )
    mean = F.col("sum_nano").cast("double") / F.col("n_vecs").cast("double")
    counted = (
        e.join(F.broadcast(stats))
        .select(
            "vec_id",
            "n_vecs",
            "min_nano",
            "max_nano",
            "sum_nano",
            (
                F.abs(F.col("nn").cast("double") - mean) * F.lit(100.0)
                > F.lit(float(pct)) * mean
            ).alias("is_outlier"),
        )
        .groupBy("n_vecs", "min_nano", "max_nano", "sum_nano")
        .agg(F.sum(F.col("is_outlier").cast("long")).cast("long").alias("n_outliers"))
    )
    return counted.select(
        "n_vecs",
        (F.col("sum_nano").cast("double") / F.col("n_vecs").cast("double") / F.lit(1e9)).alias("mean_nrm"),
        (F.col("min_nano").cast("double") / F.lit(1e9)).alias("min_nrm"),
        (F.col("max_nano").cast("double") / F.lit(1e9)).alias("max_nrm"),
        "n_outliers",
    )


DIM_CORR_TOP_K = 20


def embedding_dim_corr(embeddings: DataFrame, k: int = DIM_CORR_TOP_K) -> DataFrame:
    """Top-k most-correlated embedding dimension PAIRS: the redundancy
    audit behind dimensionality decisions (two dims with |corr| near 1
    carry one dimension of signal — prune or re-project before paying
    2x in every downstream distance computation; also the first flag
    for a collapsed/degenerate encoder).

    Pearson corr from exact integer moments: each vector's components
    snap to 1e15-fixed longs ONCE into a projected array column (the
    HOF-lambda CSE rule — lambdas index the materialized array, never
    re-derive it), the upper-triangle products explode row-locally
    (d*(d-1)/2 = 2016 structs per row at d=64), and one map-side-combined
    shuffle of 2016 keys accumulates sum(x*y) in decimal(38,0) — the
    per-term product is promoted BEFORE multiplying (1e15-scaled longs
    square past 2^63 per term). Per-dim moments reduce to 64 rows and
    broadcast back onto the pair table; numerator and variances stay in
    exact decimals, convert via the base-1e15 digit split, and only the
    final sqrt/divide run in (engine-identical IEEE) doubles. Constant
    dims (zero variance) are excluded — both engines would otherwise
    divide by zero, asymmetrically.

    Scale: the exchange carries 2016 keys x partitions, never corpus
    volume; explode cost is d^2/2 per row at the scan (CPU-bound, embar-
    rassingly parallel). At ~1e9 vectors the decimal(38,0) accumulators
    approach 38 digits: lower the fixed-point scale (corr is scale-
    invariant) or shard the sum.
    """
    from inde1_spark.functions.exprs import FIXED_POINT_SCALE, dec_to_double_exact

    fx = F.transform(
        F.col("embedding"),
        lambda v: F.floor(
            v.cast("double") * F.lit(FIXED_POINT_SCALE) + F.lit(0.5)
        ).cast("long"),
    )
    emb = embeddings.select(fx.alias("fx"))
    d = F.size(F.col("fx"))
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), d - 1),
            lambda i: F.transform(
                F.sequence(i + 1, d),
                lambda j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    (
                        F.element_at(F.col("fx"), i).cast("decimal(38,0)")
                        * F.element_at(F.col("fx"), j)
                    ).alias("xy"),
                ),
            ),
        )
    )
    pairs = (
        emb.select(F.explode(pair_structs).alias("p"))
        .select("p.i", "p.j", "p.xy")
        .groupBy("i", "j")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("xy").alias("sxy"),
        )
    )
    dims = (
        emb.select(F.posexplode("fx").alias("dim0", "x"))
        .select((F.col("dim0") + 1).alias("dim"), "x")
        .groupBy("dim")
        .agg(
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        )
    )
    da = dims.select(
        F.col("dim").alias("i"), F.col("sx").alias("sx_a"), F.col("sxx").alias("sxx_a")
    )
    db = dims.select(
        F.col("dim").alias("j"), F.col("sx").alias("sx_b"), F.col("sxx").alias("sxx_b")
    )
    n = F.col("n_vecs").cast("decimal(38,0)")
    num = n * F.col("sxy") - F.col("sx_a") * F.col("sx_b")
    va = n * F.col("sxx_a") - F.col("sx_a") * F.col("sx_a")
    vb = n * F.col("sxx_b") - F.col("sx_b") * F.col("sx_b")
    scored = (
        pairs.join(F.broadcast(da), "i")
        .join(F.broadcast(db), "j")
        .withColumn("num", num)
        .withColumn("va", va)
        .withColumn("vb", vb)
        .filter((F.col("va") > 0) & (F.col("vb") > 0))
        .select(
            F.col("i").cast("long").alias("dim_a"),
            F.col("j").cast("long").alias("dim_b"),
            "n_vecs",
            (
                dec_to_double_exact(F.col("num"))
                / (
                    F.sqrt(dec_to_double_exact(F.col("va")))
                    * F.sqrt(dec_to_double_exact(F.col("vb")))
                )
            ).alias("corr"),
        )
    )
    return scored.orderBy(
        F.abs(F.col("corr")).desc(), F.col("dim_a").asc(), F.col("dim_b").asc()
    ).limit(k)


def ann_recall_eval(embeddings: DataFrame, k: int = K_BUCKETED) -> DataFrame:
    """Recall@k of the production ANN path against the exact baseline,
    per query — the eval harness as a first-class operator: every index
    rebuild / parameter change ships with this number or it doesn't ship
    (the multiprobe/recall tradeoff is invisible until measured on the
    real corpus, not a fixture).

    Joins `knn_lsh_bucketed`'s top-k against `knn_brute_cosine`'s for the
    same query set and reports hits@k / recall per query plus the exact
    ranks involved — a LEFT join from truth so a recall miss shows as a
    zero, never a silently absent row. All counts are integers; recall
    is an exact 4-decimal ratio. Cost: both operands are top-k tables
    (queries x k rows) — the join is trivially bounded regardless of
    corpus size; the operands themselves are the operators being audited.
    """
    truth = knn_brute_cosine(embeddings, k=k).select(
        "query_id", "neighbor_id"
    )
    approx = knn_lsh_bucketed(embeddings, k=k).select(
        "query_id", F.col("neighbor_id").alias("ann_neighbor")
    )
    hits = truth.join(
        approx,
        (truth.query_id == approx.query_id)
        & (truth.neighbor_id == approx.ann_neighbor),
        "left",
    ).select(
        truth.query_id.alias("qid"),
        F.col("ann_neighbor").isNotNull().alias("hit"),
    )
    return (
        hits.groupBy(F.col("qid").alias("query_id"))
        .agg(
            F.count("*").cast("long").alias("k"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("long").alias("hits"),
        )
        .select(
            "query_id",
            "k",
            "hits",
            ratio_round(F.col("hits"), F.col("k"), 4).alias("recall"),
        )
    )


RRF_C = 60  # the standard reciprocal-rank-fusion constant (Cormack et al.)
RRF_SCALE = 10**12  # contributions as exact integers: RRF_SCALE div (c+rank)


def knn_rrf_fusion(
    embeddings: DataFrame, k: int = K_BUCKETED, c: int = RRF_C
) -> DataFrame:
    """Reciprocal-rank fusion of the two production ANN paths: a neighbor
    scores sum(1/(c + rank)) over the lists that surface it (LSH bucket
    probe + IVF cluster probe), and the fused top-k re-ranks on that. The
    two indexes fail differently — LSH loses neighbors straddling a sign
    boundary, IVF loses neighbors in un-probed clusters — so rank fusion
    recovers recall neither path has alone (the standard retrieval
    ensembling move, and the same machinery that later fuses dense-ANN
    with BM25 lists).

    Determinism: contributions are EXACT integers ``RRF_SCALE div
    (c+rank)`` summed as longs (at most one term per list — never a
    float-order hazard), and the fused ranking breaks ties
    (score, n_lists) desc then neighbor_id. Cost: both operands are
    top-k tables (|Q| x k rows each), so fusion adds one bounded groupBy
    regardless of corpus size — the expensive parts ARE the audited ANN
    operators themselves.
    """
    contrib = F.expr(f"{RRF_SCALE} div ({c} + rank)").cast("long")
    lsh = knn_lsh_bucketed(embeddings, k=k).select(
        "query_id", "neighbor_id", contrib.alias("c")
    )
    ivf = knn_ivf(embeddings, k=k).select(
        "query_id", "neighbor_id", contrib.alias("c")
    )
    u = lsh.unionByName(ivf)
    fused = u.groupBy("query_id", "neighbor_id").agg(
        F.count("*").cast("long").alias("n_lists"),
        F.sum("c").cast("long").alias("rrf_scaled"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_scaled").desc(), F.col("n_lists").desc(), F.col("neighbor_id").asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "fused_rank",
            "n_lists",
            (F.col("rrf_scaled").cast("double") / F.lit(float(RRF_SCALE))).alias(
                "rrf_score"
            ),
        )
    )


RP_OUT_DIMS = 16  # 64 -> 16: JL-style sign random projection


def embedding_random_projection(
    embeddings: DataFrame, out_dims: int = RP_OUT_DIMS
) -> DataFrame:
    """Johnson-Lindenstrauss-style dimensionality reduction with a ±1
    sign matrix (Achlioptas' database-friendly projection): out_j =
    sum_i s_ij * x_i, with the sign s_ij derived from md5(i || '_' || j)
    parity — a seedless, engine-portable "random" matrix, so the DuckDB
    twin reproduces every output bit. The 4x-narrower vectors feed the
    cheap end of a two-stage ANN (project -> coarse candidate distance ->
    exact re-rank on the full vector), the same memory/recall lever as
    ``embedding_quantize`` but along dims instead of precision.

    Plan: the sign matrix is built from ONE corpus row (limit(1) +
    sequence explode — out_dims rows of a d-length sign array) and
    broadcast; each vector row then computes all projections row-locally
    (zip_with + exact fixed-point aggregate) after snapping components to
    1e15-fixed longs ONCE into a projected column (HOF-CSE rule). The one
    corpus-side exchange is a deliberate width-pinning
    ``repartition("vec_id")``: the interpreted per-row aggregate is the
    CPU cost here, and without an explicit repartition AQE's byte-based
    coalescing would collapse the small vector table onto a few cores
    (same invariant as the dedup verify stages). Output is
    |corpus| x out_dims rows in long form. Projection sums stay exact longs (|sum| <=
    d * 1e15 * max|x|, far under 2^63); the single final divide is
    IEEE-identical in both engines.
    """
    fx = F.transform(
        F.col("embedding"),
        lambda v: F.floor(
            v.cast("double") * F.lit(FP) + F.lit(0.5)
        ).cast("long"),
    )
    sign = lambda i, j: (  # noqa: E731 — md5-parity ±1, engine-portable
        F.when(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("_", i.cast("string"), j.cast("string"))), 1, 1
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(-1).cast("long"))
    )
    d = F.size(F.col("embedding"))
    signs = (
        embeddings.limit(1)
        .select(
            d.alias("d"),
            F.explode(F.sequence(F.lit(1), F.lit(out_dims))).alias("proj_dim"),
        )
        .select(
            F.col("proj_dim").cast("long").alias("proj_dim"),
            F.transform(
                F.sequence(F.lit(1), F.col("d")),
                lambda i: sign(i, F.col("proj_dim")),
            ).alias("s"),
        )
    )
    vecs = spread(embeddings, "vec_id").select("vec_id", fx.alias("fx"))
    proj = vecs.join(F.broadcast(signs)).select(
        "vec_id",
        "proj_dim",
        (
            F.aggregate(
                F.zip_with(F.col("fx"), F.col("s"), lambda x, sgn: x * sgn),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.lit(FP)
        ).alias("proj_val"),
    )
    return proj


COARSE_FP = 1e12  # coarse-stage fixed point: 16-dim sums of squared
# projections (|p| can reach d * max|x|) must stay far inside int64;
# 1e12 keeps worst-case 16 * (64^2) * 1e12 ~ 6.6e16 << 2^63 while a
# coarse RANKING loses nothing from 3 fewer exact digits.
RP_COARSE_FACTOR = 8  # coarse candidates per final k: wide enough to cover a
# whole tight cluster (recall 1.0 on clustered fixtures at k=3; see
# tests/test_similarity_recall.py) while keeping the exact re-rank bounded


def knn_two_stage(
    embeddings: DataFrame,
    k: int = K_BUCKETED,
    n_queries: int = N_QUERIES,
    out_dims: int = RP_OUT_DIMS,
    coarse_factor: int = RP_COARSE_FACTOR,
) -> DataFrame:
    """Two-stage exact-rerank ANN: rank the corpus by cosine over the
    ``out_dims``-dim random projection (4x less arithmetic + memory per
    candidate — the compressed-scan stage every PQ/OPQ system runs),
    keep ``coarse_factor * k`` candidates per query, then re-rank JUST
    those on the full vectors with exact cosine. The third production
    ANN shape next to bucketed LSH (prunes by hash equality) and IVF
    (prunes by centroid): this one scans everything cheaply and prunes
    by coarse score — no recall cliff from bucket/cluster boundaries,
    cost linear in corpus size with a 4x-smaller constant.

    Determinism: projections are exact fixed-point longs (md5-parity
    signs, see ``embedding_random_projection``); the coarse stage snaps
    per-pair products with floor(x*1e12+0.5) (floor, not round — DESIGN
    §3 .5-boundary rule) and breaks ties by neighbor_id; the final
    ranking is the same exact-cosine spelling as ``knn_brute_cosine``.
    Plan: the sign matrix is a 1-row broadcast; projections compute
    row-locally; the coarse scan broadcasts the (tiny) projected query
    side; only |Q| x coarse_factor x k rows reach the full-vector join.
    """
    fx = F.transform(
        F.col("embedding"),
        lambda v: F.floor(v.cast("double") * F.lit(FP) + F.lit(0.5)).cast("long"),
    )
    sign = lambda i, j: (  # noqa: E731 — md5-parity ±1 (same rule as RP)
        F.when(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("_", i.cast("string"), j.cast("string"))), 1, 1
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(-1).cast("long"))
    )
    d = F.size(F.col("embedding"))
    smat_df = embeddings.limit(1).select(
        F.transform(
            F.sequence(F.lit(1), F.lit(out_dims)),
            lambda j: F.transform(
                F.sequence(F.lit(1), d), lambda i: sign(i, j)
            ),
        ).alias("smat")
    )
    with_fx = (
        spread(embeddings, "vec_id")
        .select("vec_id", "embedding", fx.alias("fx"))
        .crossJoin(F.broadcast(smat_df))
    )
    # projected vector as doubles (ps/1e15), then its coarse norm — each
    # stage projects its inputs to columns first (HOF-CSE rule)
    pvec = F.transform(
        F.col("smat"),
        lambda s: F.aggregate(
            F.zip_with(F.col("fx"), s, lambda x, sgn: x * sgn),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
        / F.lit(FP),
    )
    csq = F.transform(
        F.col("pv"), lambda x: F.floor(x * x * F.lit(COARSE_FP) + F.lit(0.5)).cast("long")
    )
    e = with_fx.select("vec_id", "embedding", pvec.alias("pv")).select(
        "vec_id",
        "embedding",
        "pv",
        F.sqrt(
            F.aggregate(csq, F.lit(0).cast("long"), lambda a, x: a + x).cast("double")
            / F.lit(COARSE_FP)
        ).alias("cnrm"),
    )
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("pv").alias("pv_q"),
        F.col("cnrm").alias("cnrm_q"),
    )
    n = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("pv").alias("pv_n"),
        F.col("cnrm").alias("cnrm_n"),
    )
    cdot = F.aggregate(
        F.zip_with(
            F.col("pv_q"),
            F.col("pv_n"),
            lambda x, y: F.floor(x * y * F.lit(COARSE_FP) + F.lit(0.5)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    ).cast("double") / F.lit(COARSE_FP)
    coarse = (
        F.broadcast(q)
        .crossJoin(n)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "c_cos", F.round(cdot / (F.col("cnrm_q") * F.col("cnrm_n")), 6)
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("c_cos").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        coarse.withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") <= coarse_factor * k)
        .select("query_id", "neighbor_id")
    )
    full = _with_norm(embeddings)
    fq = full.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("nrm").alias("nrm_q"),
    )
    fn = full.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_n"),
        F.col("nrm").alias("nrm_n"),
    )
    scored = _cosine(cand.join(F.broadcast(fq), "query_id").join(fn, "neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


POWER_ITERS = 8
PI_V_SCALE = 1e6  # iterate in micro-units: |u_i| <= 64 * 1e6, squares sum
# to <= 64 * (6.4e7)^2 ~ 2.6e17 — comfortably exact in int64
PI_MOMENT_SCALE = 1e6  # moment fixed point: the eigen-direction is
# scale-invariant, so the moments don't need embedding_dim_corr's 1e15
# digits — at 1e6 the per-row pair products are cheap LONG multiplies
# (codegen) instead of BigDecimal ops (measured 8.7 s -> far less at
# sf0.1), and each term (<= 1e12 * max|x|^2) stays far inside int64


def embedding_top_component(
    embeddings: DataFrame, iters: int = POWER_ITERS, moments: str = "join"
) -> DataFrame:
    """Top principal component of the embedding covariance by POWER
    ITERATION, fully deterministic — the anisotropy audit: a top
    component explaining a large share of total variance means the
    encoder collapsed toward a dominant direction (the classic
    "embeddings degenerate into a cone" failure) and every cosine
    downstream is mostly measuring that one axis. ``embedding_dim_corr``
    sees pairwise redundancy; this sees the global one-direction story
    pairwise correlations can miss.

    Two-part plan. (1) Corpus pass: the same exact integer moments as
    ``embedding_dim_corr`` (row-local upper-triangle explode, 2016-key +
    64-key map-side-combined shuffles) assemble the scaled covariance
    M = n*Sxy - Sx*Sy in DECIMAL — exact. (2) Iteration: M is 64x64 —
    it collapses to ONE row (a map of 4096 entries -> array-of-arrays),
    and all ``iters`` multiply-normalize rounds run as row-local array
    folds on that single row. No per-iteration shuffle, no driver
    action, no lazy checkpoint needed: the unrolled expression chain is
    linear and the corpus never re-enters after the moments pass.

    Determinism (DESIGN §3): M converts to engine-identical doubles via
    the digit-split and normalizes by its exact max |entry|; each
    mat-vec term snaps floor(m*x+0.5) to a long so per-iteration sums
    are order-free exact integers; the vector renormalizes onto a 1e6
    grid with the same floor rule; ties in the argmax loading break on
    the lower dim. Convergence is NOT required for the gate — both
    engines run the identical trajectory. Output: one audit row
    (n_vecs, explained_share of total variance, top|loading| dim and
    its loading, iters).
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    fx = F.transform(
        F.col("embedding"),
        lambda v: F.floor(
            v.cast("double") * F.lit(PI_MOMENT_SCALE) + F.lit(0.5)
        ).cast("long"),
    )

    if moments == "join":
        # pair moments via a co-partitioned SELF-JOIN of the exploded
        # (vec_id, dim, x) table, not a row-local upper-triangle lambda
        # explode (embedding_dim_corr's spelling): nested HOF lambdas run
        # INTERPRETED, and d^2/2 interpreted struct builds per row dominated
        # the runtime (measured 6x slower than this codegen join+partial-agg
        # at sf0.1, d=64). The trade: this shuffles d x corpus rows once
        # (the dedup family already accepts corpus-volume explodes for
        # shingles); the partial aggregation still collapses the join
        # output to d*(d-1)/2 keys in-stage, so the second exchange is
        # tiny. CROSSOVER: the join's shuffle grows linearly in d while
        # the HOF's interpreted CPU grows as d^2 row-locally with ZERO
        # corpus shuffle — past d ~ 256 (or when cluster network, not
        # CPU, is the binding constraint) pass moments="hof" to flip to
        # the row-local spelling; both paths produce identical moments
        # (pinned by tests/test_similarity_recall.py).
        ex = persist(
            spread(embeddings, "vec_id")
            .select("vec_id", fx.alias("fx"))
            .select("vec_id", F.posexplode("fx").alias("dim0", "x"))
            .select("vec_id", (F.col("dim0") + 1).alias("i"), "x")
        )
        ea = ex.select("vec_id", "i", F.col("x").alias("xa"))
        eb = ex.select("vec_id", F.col("i").alias("j"), F.col("x").alias("xb"))
        pairs = (
            ea.join(eb, "vec_id")
            .filter(F.col("i") < F.col("j"))
            .groupBy("i", "j")
            .agg(
                F.count("*").cast("long").alias("n_vecs"),
                # LONG multiply on purpose (see PI_MOMENT_SCALE); promotion
                # to decimal happens once, at the sum
                F.sum((F.col("xa") * F.col("xb")).cast("decimal(38,0)")).alias("sxy"),
            )
        )
        dim_src = ex.select(F.col("i").alias("dim"), "x")
    elif moments == "hof":
        # row-local upper-triangle explode (embedding_dim_corr's spelling):
        # zero corpus-side shuffle, d^2/2 interpreted struct builds per row.
        # Same LONG products, same decimal promotion at the sum — moments
        # are bit-identical to the join path.
        emb_fx = spread(embeddings, "vec_id").select(fx.alias("fx"))
        dd = F.size(F.col("fx"))
        pair_structs = F.flatten(
            F.transform(
                F.sequence(F.lit(1), dd - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, dd),
                    lambda j: F.struct(
                        i.alias("i"),
                        j.alias("j"),
                        (
                            F.element_at(F.col("fx"), i)
                            * F.element_at(F.col("fx"), j)
                        ).alias("xy"),
                    ),
                ),
            )
        )
        pairs = (
            emb_fx.select(F.explode(pair_structs).alias("p"))
            .select("p.i", "p.j", "p.xy")
            .groupBy("i", "j")
            .agg(
                F.count("*").cast("long").alias("n_vecs"),
                F.sum(F.col("xy").cast("decimal(38,0)")).alias("sxy"),
            )
        )
        dim_src = emb_fx.select(F.posexplode("fx").alias("dim0", "x")).select(
            (F.col("dim0") + 1).alias("dim"), "x"
        )
    else:  # pragma: no cover - guard against typo'd mode strings
        raise ValueError(f"moments must be 'join' or 'hof', got {moments!r}")
    # the moment tables are tiny (d / d*(d-1)/2 rows) but feed 4+ plan
    # branches each; the persists keep every branch reading the computed
    # tables instead of re-expanding back to the scan
    dims = persist(
        dim_src.groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n_d"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        )
    )
    da = dims.select(
        F.col("dim").alias("i"), F.col("sx").alias("sx_a")
    )
    db = dims.select(F.col("dim").alias("j"), F.col("sx").alias("sx_b"))
    nd = F.col("n_vecs").cast("decimal(38,0)")
    offd = (
        pairs.join(F.broadcast(da), "i")
        .join(F.broadcast(db), "j")
        .select(
            "i",
            "j",
            dec_to_double_exact(nd * F.col("sxy") - F.col("sx_a") * F.col("sx_b")).alias(
                "v"
            ),
        )
    )
    offd = persist(offd)
    mirror = offd.select(F.col("j").alias("i"), F.col("i").alias("j"), "v")
    ndd = F.col("n_d").cast("decimal(38,0)")
    diag_dec = (ndd * F.col("sxx") - F.col("sx") * F.col("sx")).alias("vd")
    diag = dims.select(
        F.col("dim").alias("i"), F.col("dim").alias("j"), diag_dec
    ).select("i", "j", dec_to_double_exact(F.col("vd")).alias("v"))
    allm = offd.unionByName(mirror).unionByName(diag)
    scalars = dims.agg(
        F.max("n_d").cast("long").alias("n_vecs"),
        F.count("*").cast("long").alias("dims"),
        dec_to_double_exact(F.sum(ndd * F.col("sxx") - F.col("sx") * F.col("sx"))).alias(
            "trace"
        ),
    )
    mrow = (
        allm.join(F.broadcast(allm.agg(F.max(F.abs(F.col("v"))).alias("mx"))))
        .select("i", "j", (F.col("v") / F.col("mx")).alias("m"), "mx")
        .groupBy("mx")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (F.col("i") * 1000 + F.col("j")).alias("k"), F.col("m")
                    )
                )
            ).alias("mm")
        )
        .join(F.broadcast(scalars))
    )
    # matrix rows + v0 on the single row; every iteration projects its
    # result to a column first (HOF-CSE rule keeps the chain linear)
    dd = F.col("dims").cast("int")
    mat = F.transform(
        F.sequence(F.lit(1), dd),
        lambda i: F.transform(
            F.sequence(F.lit(1), dd),
            lambda j: F.element_at(F.col("mm"), (i * 1000 + j).cast("bigint")),
        ),
    )
    v0 = F.transform(
        F.sequence(F.lit(1), dd), lambda _: F.lit(int(PI_V_SCALE)).cast("long")
    )
    cur = mrow.select("n_vecs", "trace", "mx", mat.alias("mat"), v0.alias("v"))
    # one SQL string per round instead of ~50 gateway Column calls — the
    # parsed trees are identical (0.5D/1.0E-12/1.0E6 are the same doubles
    # the injected literals produced; FLOOR(double) is already BIGINT)
    u_sql = (
        "transform(mat, row -> aggregate(zip_with(row, v, "
        "(m, x) -> CAST(FLOOR(m * CAST(x AS DOUBLE) + 0.5D) AS BIGINT)), "
        "0L, (a, b) -> a + b))"
    )
    nrm_sql = (
        "GREATEST(SQRT(CAST(aggregate(u, 0L, (a, x) -> a + x * x) "
        "AS DOUBLE)), 1.0E-12)"
    )
    vn_sql = (
        "transform(u, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1.0E6 / "
        + nrm_sql
        + " + 0.5D) AS BIGINT))"
    )
    for _ in range(iters):
        cur = cur.select(
            "n_vecs", "trace", "mx", "mat", F.expr(u_sql).alias("u")
        )
        cur = cur.select(
            "n_vecs", "trace", "mx", "mat", F.expr(vn_sql).alias("v")
        )
    # Rayleigh quotient from one more snapped mat-vec
    u = F.expr(u_sql)
    cur = cur.select("n_vecs", "trace", "mx", "mat", "v", u.alias("u"))
    num = F.aggregate(
        F.zip_with(F.col("v"), F.col("u"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    den = F.aggregate(
        F.transform(F.col("v"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    lam = num.cast("double") / den.cast("double") * F.col("mx")
    vmax = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    top_dim = F.element_at(
        F.filter(
            F.sequence(F.lit(1), F.size("v")),
            lambda i: F.abs(F.element_at(F.col("v"), i)) == vmax,
        ),
        1,
    )
    return cur.select(
        "n_vecs",
        (lam / F.col("trace")).alias("explained_share"),
        top_dim.cast("long").alias("top_dim"),
        (
            F.element_at(F.col("v"), top_dim).cast("double") / F.lit(PI_V_SCALE)
        ).alias("top_loading"),
        F.lit(iters).cast("long").alias("n_iters"),
    )


def embedding_isotropy(embeddings: DataFrame) -> DataFrame:
    """One-row isotropy audit: how far the corpus mean vector sits from
    the origin relative to typical vector energy. isotropy =
    ||mean(x)||^2 / E[||x||^2] is 0 for a centered cloud and approaches
    1 when the encoder collapses everything onto one ray — the cheap
    one-pass companion to ``embedding_top_component`` (which names the
    collapsed DIRECTION; this names the degree), and the standard
    precondition check before cosine-based dedup/ANN: a high value means
    every pairwise cosine is inflated by the common component.

    Exactness at scale, staged to stay inside DECIMAL(38,0) (and DuckDB's
    HUGEINT, same ~1.7e38 cap): linear sums S_j accumulate on the 1e15
    grid per dimension (64-key map-side-combined shuffle); squared energy
    accumulates ROW-LOCALLY on the 1e12 grid (a 1e15 grid squared would
    overflow at ~1e5 rows); mean components are floor(S_j/n) back on the
    1e15 grid before squaring; and the final ratios are exact decimal
    round-half-up at 6 dp with floor-stage rescales (1e12/1e18) so no
    numerator ever exceeds ~1e30. Every floor stage is mirrored digit-
    for-digit in the DuckDB twin. No sqrt anywhere — both outputs are
    squared quantities, so no float rounding hazard exists at all.
    """
    from inde1_spark.functions.exprs import dec_floordiv

    fx15 = F.transform(
        F.col("embedding"),
        lambda v: F.floor(v.cast("double") * F.lit(FP) + F.lit(0.5)).cast("long"),
    )
    q12 = F.aggregate(
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(
                v.cast("double") * v.cast("double") * F.lit(1e12) + F.lit(0.5)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    base = embeddings.select("vec_id", fx15.alias("fx"), q12.alias("q"))
    tot = base.agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("qsum"),
    )
    dims = (
        base.select(F.posexplode("fx").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("s"))
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mj = dec_floordiv(F.col("s"), d38(F.col("n_vecs"))).cast("decimal(38,0)")
    mm = dims.join(F.broadcast(tot)).agg(
        F.sum(d38(mj * mj)).alias("mm"),
        F.max("n_vecs").alias("n_vecs"),
        F.max("qsum").alias("qsum"),
    )
    p6 = 1_000_000
    rr = lambda num, den: (  # noqa: E731 — exact decimal round-half-up, 6 dp
        dec_floordiv(
            (num * p6 * 2 + den).cast("decimal(38,0)"),
            (den * 2).cast("decimal(38,0)"),
        ).cast("long").cast("double") / F.lit(1e6)
    )
    mean_sq = rr(F.col("qsum"), d38(F.col("n_vecs")) * F.lit(10**12).cast("decimal(38,0)"))
    mm24 = dec_floordiv(F.col("mm"), F.lit(10**12).cast("decimal(38,0)")).cast(
        "decimal(38,0)"
    )
    sq_mean = rr(mm24, F.lit(10**18).cast("decimal(38,0)"))
    # isotropy = (mm/1e30) / (qsum/(n*1e12)) = floor(mm/1e18) / floor(qsum/n)
    mm12 = dec_floordiv(F.col("mm"), F.lit(10**18).cast("decimal(38,0)")).cast(
        "decimal(38,0)"
    )
    g = dec_floordiv(F.col("qsum"), d38(F.col("n_vecs"))).cast("decimal(38,0)")
    iso = rr(mm12, g)
    return mm.select(
        F.col("n_vecs"),
        mean_sq.alias("mean_sq_norm"),
        sq_mean.alias("sq_norm_of_mean"),
        iso.alias("isotropy"),
    )


PQ_M = 4   # subspaces: 64 dims -> 4 x 16-dim sub-vectors
PQ_K = 8   # centroids per subspace codebook -> codes are 4 x 3 bits
PQ_DIST_SCALE = 1e12  # squared-difference terms snapped to pico precision


def knn_pq(
    embeddings: DataFrame,
    k: int = K_BUCKETED,
    n_queries: int = N_QUERIES,
    m_sub: int = PQ_M,
    k_cent: int = PQ_K,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI 2011): split each
    vector into ``m_sub`` sub-vectors, quantize each against a per-
    subspace codebook of ``k_cent`` centroids, and rank neighbors by the
    ASYMMETRIC distance — the query's exact per-centroid distance table
    looked up at each neighbor's codes and summed. The memory-compression
    end of the ANN family: a 64-dim float corpus collapses to m_sub
    small codes per vector (here 4 x 3 bits), so the compressed scan
    touches ~50x less data than ``knn_brute_cosine`` while the distance
    estimate stays unbiased per subspace — the fourth production shape
    next to bucketed LSH (hash pruning), IVF (centroid pruning) and
    two-stage (projection pruning).

    Codebooks are the ``k_cent`` lowest-vec_id vectors sliced per
    subspace (the same deterministic no-RNG seeding as
    ``clustering._init_centroids``; a production build would refine each
    subspace codebook with ``clustering`` Lloyd rounds — the machinery
    composes, the seeding keeps the DuckDB twin CTE-tractable). Plan:
    the codebook collapses to ONE broadcast row; encoding is a row-local
    argmin fold per subspace (zero shuffle at any corpus size, ties to
    the lower centroid); the ADC scan broadcasts the |Q| query rows with
    their exact distance tables and ranks with one bounded window.
    Determinism: squared-difference terms snap floor(t*1e12+0.5) to
    longs (the kmeans rule — round() is engine-ambiguous), sums are
    exact integer folds, and the final estimate divides once to double.
    """
    sub_dim = EMB_DIM // m_sub
    seeds = (
        embeddings.orderBy(F.col("vec_id").asc())
        .limit(k_cent)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("cvec"),
        )
    )
    cb = seeds.agg(
        F.array_sort(F.collect_list(F.struct("seed_id", "cvec"))).alias("cb")
    )

    def sub(vec, m):  # 1-based slice of subspace m (0-based m)
        return F.slice(vec, m * sub_dim + 1, sub_dim)

    def d2(a, b):  # exact fixed-point squared L2 between two sub-vectors
        terms = F.zip_with(
            a,
            b,
            lambda x, y: F.floor(
                (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
                * F.lit(PQ_DIST_SCALE)
                + F.lit(0.5)
            ).cast("long"),
        )
        return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, t: acc + t)

    # codes[m] = argmin_c d2(sub_m(x), sub_m(codebook[c])) + 1 (1-based)
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        lambda m: F.array_min(
            F.transform(
                F.sequence(F.lit(1), F.lit(k_cent)),
                lambda c: F.struct(
                    d2(
                        sub(F.col("embedding"), m),
                        sub(F.element_at(F.col("cb"), c)["cvec"], m),
                    ).alias("d"),
                    c.alias("c"),
                ),
            )
        )["c"],
    )
    enc = spread(embeddings, "vec_id").join(F.broadcast(cb)).select(
        F.col("vec_id").alias("neighbor_id"), codes.alias("codes")
    )
    # query-side exact distance table: dt[m][c] (longs)
    dtab = F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        lambda m: F.transform(
            F.sequence(F.lit(1), F.lit(k_cent)),
            lambda c: d2(
                sub(F.col("embedding"), m),
                sub(F.element_at(F.col("cb"), c)["cvec"], m),
            ),
        ),
    )
    q = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .join(F.broadcast(cb))
        .select(F.col("vec_id").alias("query_id"), dtab.alias("dt"))
    )
    est = F.aggregate(
        F.zip_with(
            F.col("dt"), F.col("codes"), lambda t, c: F.element_at(t, c)
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    scored = (
        F.broadcast(q)
        .crossJoin(enc)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (est.cast("double") / F.lit(PQ_DIST_SCALE)).alias("est_sq_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("est_sq_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "est_sq_dist")
    )


def ann_paths_recall(embeddings: DataFrame, k: int = K_BUCKETED) -> DataFrame:
    """One-table recall@k shootout of EVERY production ANN path against
    the exact cosine baseline — the index-selection sheet: bucketed LSH
    (hash pruning), IVF (centroid pruning), two-stage (projection
    pruning) and PQ (compressed-domain ranking) each trade recall
    differently, and the right index is a per-corpus decision that this
    audit makes with one query. PQ is expected to trail here — it ranks
    by quantized L2 against a cosine truth — which is exactly the
    methodological gap the row makes visible.

    Cost: the truth table is |Q| x k rows computed once and persisted;
    each method contributes a bounded top-k table and one tiny equi-join.
    The expensive parts are the audited operators themselves.
    """
    truth = persist(
        knn_brute_cosine(embeddings, k=k).select("query_id", "neighbor_id")
    )
    methods = [
        ("ivf", knn_ivf(embeddings, k=k)),
        ("lsh_bucketed", knn_lsh_bucketed(embeddings, k=k)),
        ("pq", knn_pq(embeddings, k=k)),
        ("two_stage", knn_two_stage(embeddings, k=k)),
    ]
    out = None
    total = truth.agg(F.count("*").cast("long").alias("total"))
    for name, df in methods:
        # both operands are |Q| x k rows; the hint matters because Spark
        # cannot size a computed top-k and would fall back to sort-merge
        hits = (
            truth.join(
                F.broadcast(df.select("query_id", "neighbor_id")),
                ["query_id", "neighbor_id"],
            )
            .agg(F.count("*").cast("long").alias("hits"))
        )
        row = (
            hits.join(F.broadcast(total))
            .select(
                F.lit(name).alias("method"),
                F.lit(k).cast("long").alias("k"),
                F.col("hits"),
                F.col("total"),
                ratio_round(F.col("hits"), F.col("total"), 4).alias("recall"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def mutual_nearest_neighbors(
    embeddings: DataFrame, dims: int = LSH_SIGN_DIMS
) -> DataFrame:
    """Mutual top-1 pairs over the WHOLE corpus: (a, b) survives iff b is
    a's nearest retrieved neighbor AND a is b's — the reciprocal-match
    criterion behind bitext mining and contrastive-pair selection
    (margin-based mining keeps reciprocal matches; one-directional
    nearest-neighbor lists are dominated by hubs, which reciprocity
    filters out for free).

    Candidates come from the production multiprobe sign-LSH path with
    EVERY vector as a query (k = 1), so the search stays a bucket-keyed
    equi-join — corpus x corpus is never formed; cost per vector tracks
    bucket occupancy x (dims+1) probes, tunable by ``dims`` exactly like
    ``knn_lsh_bucketed``. The top-1 table is persisted once and consumed
    from cache in both join directions. Symmetric by construction
    (exact-decimal dot is direction-independent), so the pair is emitted
    once with vec_a < vec_b.
    """
    nn = persist(
        knn_lsh_bucketed(embeddings, k=1, n_queries=2**62, dims=dims).select(
            F.col("query_id").alias("vec_a"),
            F.col("neighbor_id").alias("vec_b"),
            "cos_sim",
        )
    )
    rev = nn.select(
        F.col("vec_b").alias("vec_a"), F.col("vec_a").alias("vec_b")
    )
    return (
        nn.join(rev, ["vec_a", "vec_b"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "cos_sim")
        .orderBy("vec_a", "vec_b")
    )


def _ndcg_weights(k: int) -> list[int]:
    """Python-precomputed nano log2 position discounts, shared verbatim
    with the DuckDB twin (the benford constant rule): no engine ever
    computes a log for these."""
    import math

    return [round(1e9 / math.log2(p + 1)) for p in range(1, k + 1)]


def ann_mrr_ndcg(embeddings: DataFrame, k: int = K_BUCKETED) -> DataFrame:
    """MRR and NDCG@k of the production ANN path against the exact
    baseline, per query — the rank-aware companions to ``ann_recall_eval``
    (recall@k counts hits but scores a hit at rank 1 and rank k the
    same; MRR/NDCG are what retrieval regressions actually move first).

    Relevance is binary membership in the brute-force top-k, so the
    ideal DCG is the constant prefix sum of the position discounts and
    NDCG stays an exact integer ratio: discounts are Python-precomputed
    nano longs injected as literals into BOTH engines, DCG sums them
    where the retrieved rank is a hit, MRR is the exact micro reciprocal
    of the first hit rank. Cost: a join of two (queries x k) tables —
    bounded regardless of corpus size.
    """
    w = _ndcg_weights(k)
    idcg = sum(w)
    truth = knn_brute_cosine(embeddings, k=k).select(
        "query_id", "neighbor_id"
    )
    approx = knn_lsh_bucketed(embeddings, k=k).select(
        "query_id",
        F.col("neighbor_id").alias("ann_neighbor"),
        "rank",
    )
    hits = approx.join(
        truth,
        (approx.query_id == truth.query_id)
        & (approx.ann_neighbor == truth.neighbor_id),
        "left",
    ).select(
        approx.query_id.alias("qid"),
        "rank",
        truth.neighbor_id.isNotNull().alias("hit"),
    )
    w_arr = F.array(*[F.lit(x).cast("long") for x in w])
    per_q = hits.groupBy(F.col("qid").alias("query_id")).agg(
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("long").alias("hits"),
        F.min(F.when(F.col("hit"), F.col("rank"))).cast("long").alias(
            "first_rel_rank"
        ),
        F.sum(
            F.when(F.col("hit"), F.element_at(w_arr, F.col("rank").cast("int")))
            .otherwise(0)
        )
        .cast("long")
        .alias("dcg_nano"),
    )
    return per_q.select(
        "query_id",
        "hits",
        "first_rel_rank",
        F.coalesce(
            F.expr("CAST(1000000 AS BIGINT) div first_rel_rank"),
            F.lit(0).cast("long"),
        ).alias("mrr_micro"),
        F.expr(f"(dcg_nano * CAST(1000000 AS BIGINT)) div CAST({idcg} AS BIGINT)")
        .cast("long")
        .alias("ndcg_micro"),
    ).orderBy("query_id")


MMR_POOL = 8     # candidate pool per query (from the production LSH path)
MMR_K = 3        # diversified results returned
MMR_NUM = 7      # lambda = 0.7 as the exact rational 7/10; scores are
MMR_DEN = 10     # kept as x10 integers — ordering never needs the divide


def knn_mmr_rerank(
    embeddings: DataFrame, pool: int = MMR_POOL, k: int = MMR_K
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein):
    from each query's LSH candidate pool, greedily select k results
    maximizing lambda*relevance - (1-lambda)*max-similarity-to-already-
    selected — the diversity pass that stops a near-duplicate cluster
    from monopolizing a result list (top-k by raw cosine returns the
    same document three times; MMR returns it once plus two genuinely
    different neighbors).

    MMR is inherently sequential in k, so the k selection rounds are
    UNROLLED (k is small and fixed): each round is an anti-join of the
    pool against the selected set, one bounded max-aggregation of
    pairwise candidate similarities, and an argmax window — all on
    (queries x pool)-bounded tables; the corpus is only touched by the
    candidate/pairwise-similarity stage, which is the audited LSH path
    plus a pool^2-per-query row-local dot-product join. Determinism:
    relevance and redundancy are micro-unit longs, and the MMR score is
    kept as the x10 integer 7*rel - 3*red (same order as the /10 value)
    — no integer division, so the Spark-truncates / DuckDB-floors
    negative-division asymmetry can never bite.
    """
    micro = lambda c: F.round(c * F.lit(1e6), 0).cast("long")  # noqa: E731
    cands = persist(
        knn_lsh_bucketed(embeddings, k=pool).select(
            "query_id", "neighbor_id", micro(F.col("cos_sim")).alias("rel")
        )
    )
    e = _with_norm(embeddings)
    a = cands.select("query_id", F.col("neighbor_id").alias("na"))
    b = cands.select("query_id", F.col("neighbor_id").alias("nb"))
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("na") != F.col("nb"))
        .join(
            e.select(
                F.col("vec_id").alias("na"),
                F.col("embedding").alias("emb_q"),
                F.col("nrm").alias("nrm_q"),
            ),
            "na",
        )
        .join(
            e.select(
                F.col("vec_id").alias("nb"),
                F.col("embedding").alias("emb_n"),
                F.col("nrm").alias("nrm_n"),
            ),
            "nb",
        )
    )
    psim = persist(
        _cosine(pairs).select(
            "query_id", "na", "nb", micro(F.col("cos_sim")).alias("sim")
        )
    )
    # r12: the greedy selection is ROW-LOCAL. The pool is <= ``pool`` rows
    # per query and the pairwise-similarity table <= pool*(pool-1), so
    # after one collect_list per query the k sequential rounds are pure
    # bounded array expressions — no per-rank anti-join/aggregate/window,
    # no per-rank lazy checkpoint (the old unroll paid ~6 scheduler jobs
    # per rank at build time), no unions. Semantics mirror the old unroll
    # exactly: rank 1 = max (rel, id asc); rank r scores every remaining
    # candidate 7*rel - 3*max(sim to selected), ties to the smallest id.
    # Each pick is materialized as its OWN projection column so the
    # argmin expressions never re-evaluate a previous round per element
    # (the HOF-CSE rule).
    pools = cands.groupBy("query_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("neighbor_id").alias("nid"), "rel"))
        ).alias("pool_arr")
    )
    sims = psim.groupBy("query_id").agg(
        F.collect_list(F.struct("na", "nb", "sim")).alias("sim_arr")
    )
    g = pools.join(sims, "query_id", "left").withColumn(
        "sim_arr",
        F.coalesce("sim_arr", F.expr("CAST(array() AS array<struct<na:bigint,nb:bigint,sim:bigint>>)")),
    )

    # rank 1: min struct(-rel, nid) == (rel desc, id asc)
    g = g.withColumn(
        "p1",
        F.array_min(
            F.expr(
                "transform(pool_arr, c -> struct(-c.rel AS nrel, c.nid AS nid,"
                " c.rel AS rel))"
            )
        ),
    )

    def red_expr(cand_id: str, sel_ids: list[str]) -> str:
        sel = ", ".join(sel_ids)
        return (
            f"array_max(transform(filter(sim_arr, p -> p.na = {cand_id} AND "
            f"array_contains(array({sel}), p.nb)), p -> p.sim))"
        )

    # rank r: min struct(-(7*rel - 3*red), nid) over the remaining pool.
    # red is computed once per candidate in an inner transform and read
    # back as a struct field: HOF lambdas get no CSE, so interpolating it
    # twice would run the O(pool^2) sim_arr scan twice.
    for r in range(2, k + 1):
        prev = [f"p{i}.nid" for i in range(1, r)]
        not_sel = " AND ".join(f"c.nid != {p}" for p in prev)
        red = red_expr("c.nid", prev)
        g = g.withColumn(
            f"p{r}",
            F.expr(
                f"array_min(transform(transform(filter(pool_arr, "
                f"c -> {not_sel}), c -> struct(c.nid AS nid, c.rel AS rel, "
                f"coalesce({red}, 0L) AS red)), "
                f"c -> struct(-({MMR_NUM} * c.rel - {MMR_DEN - MMR_NUM} * "
                f"c.red) AS nscore, c.nid AS nid, c.rel AS rel, c.red AS red)))"
            ),
        )
    rows = ", ".join(
        [
            "struct(CAST(1 AS BIGINT) AS mmr_rank, p1.nid AS neighbor_id, "
            "p1.rel AS rel_micro, CAST(0 AS BIGINT) AS redundancy_micro)"
        ]
        + [
            f"struct(CAST({r} AS BIGINT) AS mmr_rank, p{r}.nid AS neighbor_id,"
            f" p{r}.rel AS rel_micro, p{r}.red AS redundancy_micro)"
            for r in range(2, k + 1)
        ]
    )
    return (
        g.select(
            "query_id",
            F.expr(
                f"inline(filter(array({rows}), s -> s.neighbor_id IS NOT NULL))"
            ),
        )
        .orderBy("query_id", "mmr_rank")
    )


def knn_ivf_pq(
    embeddings: DataFrame,
    k: int = K_IVF,
    n_probe: int = N_PROBE,
    n_queries: int = N_QUERIES,
    m_sub: int = PQ_M,
    k_cent: int = PQ_K,
) -> DataFrame:
    """IVF-PQ: the actual layout of Jégou et al.'s billion-scale index —
    IVF centroid pruning picks ``n_probe`` cells per query, and WITHIN
    the probed cells neighbors rank by the PQ asymmetric distance
    (query's exact per-centroid table looked up at each neighbor's
    codes). ``knn_ivf`` pays exact cosine on every probed vector;
    ``knn_pq`` scans the whole compressed corpus; this composition does
    neither — probed-cell candidate volume times compressed-domain
    arithmetic, which is why it is THE standard disk/RAM trade at 1e9+
    vectors.

    Plan: the probe ranking is the knn_ivf centroid block (tiny,
    |labels| keys); encoding is the knn_pq row-local argmin fold (zero
    shuffle, one broadcast codebook row); the ADC scan becomes an
    equi-join on ``label`` between the probed list (broadcast query
    side with exact distance tables) and the coded corpus. Everything
    numeric is the shared fixed-point contract: pico-snapped
    squared-difference longs, exact integer folds, one final divide.
    """
    sub_dim = EMB_DIM // m_sub
    # --- IVF probe ranking (mirrors knn_ivf's centroid block) ---
    cent = ivf_centroids(embeddings)
    cnorm = cent.groupBy("label").agg(
        F.sqrt(_fixed_sum(F.col("cv") * F.col("cv"))).alias("cnrm")
    )
    e = _with_norm(embeddings.select("vec_id", "embedding")).join(
        embeddings.select("vec_id", "label"), "vec_id"
    )
    q_long = (
        e.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("nrm").alias("qnrm"),
            F.posexplode("embedding").alias("i", "x"),
        )
    )
    qc = (
        q_long.join(cent, "i")
        .groupBy("query_id", "qnrm", "label")
        .agg(_fixed_sum(F.col("x").cast("double") * F.col("cv")).alias("dot"))
        .join(cnorm, "label")
        .withColumn(
            "c_cos", F.round(F.col("dot") / (F.col("qnrm") * F.col("cnrm")), 6)
        )
    )
    wprobe = Window.partitionBy("query_id").orderBy(
        F.col("c_cos").desc(), F.col("label").asc()
    )
    probed = (
        qc.withColumn("prn", F.row_number().over(wprobe))
        .filter(F.col("prn") <= n_probe)
        .select("query_id", "label")
    )
    # --- PQ codebook, corpus codes (with cell labels), query tables ---
    seeds = (
        embeddings.orderBy(F.col("vec_id").asc())
        .limit(k_cent)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
                "cvec"
            ),
        )
    )
    cb = seeds.agg(
        F.array_sort(F.collect_list(F.struct("seed_id", "cvec"))).alias("cb")
    )

    def sub(vec, m):
        return F.slice(vec, m * sub_dim + 1, sub_dim)

    def d2(a, b):
        terms = F.zip_with(
            a,
            b,
            lambda x, y: F.floor(
                (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
                * F.lit(PQ_DIST_SCALE)
                + F.lit(0.5)
            ).cast("long"),
        )
        return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, t: acc + t)

    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        lambda m: F.array_min(
            F.transform(
                F.sequence(F.lit(1), F.lit(k_cent)),
                lambda c: F.struct(
                    d2(
                        sub(F.col("embedding"), m),
                        sub(F.element_at(F.col("cb"), c)["cvec"], m),
                    ).alias("d"),
                    c.alias("c"),
                ),
            )
        )["c"],
    )
    enc = (
        spread(embeddings, "vec_id")
        .join(F.broadcast(cb))
        .select(
            F.col("vec_id").alias("neighbor_id"), F.col("label"), codes.alias("codes")
        )
    )
    dtab = F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        lambda m: F.transform(
            F.sequence(F.lit(1), F.lit(k_cent)),
            lambda c: d2(
                sub(F.col("embedding"), m),
                sub(F.element_at(F.col("cb"), c)["cvec"], m),
            ),
        ),
    )
    q = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .join(F.broadcast(cb))
        .select(F.col("vec_id").alias("query_id"), dtab.alias("dt"))
    )
    # --- ADC scan over probed cells only ---
    est = F.aggregate(
        F.zip_with(F.col("dt"), F.col("codes"), lambda t, c: F.element_at(t, c)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    scored = (
        probed.join(F.broadcast(q), "query_id")
        .join(enc, "label")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (est.cast("double") / F.lit(PQ_DIST_SCALE)).alias("est_sq_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("est_sq_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "est_sq_dist")
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation audit (recall of prefix-dim retrieval vs full-dim)
# ---------------------------------------------------------------------------

MATRYOSHKA_PREFIXES = (8, 16, 32)


def matryoshka_recall(
    embeddings: DataFrame,
    prefixes: tuple[int, ...] = MATRYOSHKA_PREFIXES,
    k: int = K_BRUTE,
) -> DataFrame:
    """Matryoshka truncation audit: exact top-k recall of PREFIX-dimension
    cosine retrieval against the full-dimension ranking — the measurement
    behind "can we serve 8/16/32 of the 64 dims": MRL-style embeddings
    front-load information, and this table is the evidence for (or
    against) truncating the serving index, per prefix width.

    Each prefix's candidate list is the SAME exact brute-force operator
    run on the row-local `slice(embedding, 1, p)` — no new math, so the
    audit inherits knn_brute_cosine's fixed-point determinism; recall is
    an exact 4-decimal ratio over queries x k truth pairs. Cost:
    |prefixes|+1 brute passes — this is the labeled EVAL harness (the
    ann_recall_eval pattern), not a serving path; the serving decision
    it gates is which `embedding_random_projection` / PQ width to build.
    """
    # NOTE (r09, measured): do NOT persist `truth` here. The three truth
    # references are canonically IDENTICAL subtrees, so Catalyst already
    # computes the brute pass once via ReusedExchange; a persist replaces
    # that free reuse with an InMemoryRelation barrier and benched 20%
    # SLOWER (2.7s -> 3.3s at sf0.1). The per-round checkpoint rule
    # (CLAUDE.md) applies only when the repeated subtrees DIFFER per
    # round (coverage_select, knn_mmr_rerank) — identical subtrees are
    # the optimizer's job.
    truth = knn_brute_cosine(embeddings, k=k).select("query_id", "neighbor_id")
    out = None
    for p in prefixes:
        sliced = embeddings.select(
            "vec_id", F.slice(F.col("embedding"), 1, p).alias("embedding")
        )
        approx = knn_brute_cosine(sliced, k=k).select(
            F.col("query_id").alias("aq"),
            F.col("neighbor_id").alias("trunc_neighbor"),
        )
        hits = truth.join(
            F.broadcast(approx),  # |Q| x k rows — never sort-merge
            (truth.query_id == approx.aq)
            & (truth.neighbor_id == approx.trunc_neighbor),
            "left",
        )
        row = hits.agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("trunc_neighbor").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("hits"),
        ).select(
            F.lit(p).cast("long").alias("prefix_dims"),
            "n_pairs",
            "hits",
            ratio_round(F.col("hits"), F.col("n_pairs"), 4).alias("recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("prefix_dims")


# ---------------------------------------------------------------------------
# Rank-biased overlap between the two ANN paths (exact dyadic weights)
# ---------------------------------------------------------------------------

def _rbo_weights(k: int) -> tuple[int, dict[int, int]]:
    """Integer RBO tail weights for p=1/2 truncated at k.

    RBO_trunc = Sum_{d=1..k} (1/2)^d X_d / d with X_d = |A_d n B_d|.
    Swapping the sums, each matched pair at depth m = max(ra, rb)
    contributes W(m) = Sum_{d=m..k} 1/(d 2^d) — EXACT integers after
    scaling by D = lcm(1..k) * 2^k. Python-precomputed, injected into
    both engines (the nano-literal convention for transcendental-free
    exact scoring).
    """
    from math import lcm

    scale = 1
    for d in range(1, k + 1):
        scale = lcm(scale, d)
    scale *= 1 << k
    acc, w = 0, {}
    for m in range(k, 0, -1):
        acc += scale // (m * (1 << m))
        w[m] = acc
    return scale, w


def ann_rank_overlap_rbo(
    embeddings: DataFrame, k: int = K_BUCKETED
) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010, p=1/2) between the LSH
    and IVF top-k lists per query — the list-similarity member
    completing the retrieval-eval family: ``ann_recall_eval`` scores one
    list against truth, ``knn_rrf_fusion`` merges the lists,
    ``ann_mrr_ndcg`` scores graded relevance; RBO answers "do the two
    indexes even AGREE", weighted toward the top ranks, the diagnostic
    read before deciding fusion is worth its cost.

    Exact by construction: with p=1/2 every tail weight is dyadic, so a
    matched pair at depth max(ra, rb) contributes a precomputed INTEGER
    weight (scaled by lcm(1..k)*2^k) and per-query RBO is one integer
    sum with a single final divide. Queries where the lists are disjoint
    emit rbo = 0 via the left join from the query set.

    Cost: both operands are top-k tables (|Q| x k rows); the overlap
    join and weight map are trivially bounded regardless of corpus size.
    """
    scale, w = _rbo_weights(k)
    lsh = knn_lsh_bucketed(embeddings, k=k).select(
        "query_id", "neighbor_id", F.col("rank").alias("ra")
    )
    ivf = knn_ivf(embeddings, k=k).select(
        F.col("query_id").alias("qb"),
        F.col("neighbor_id").alias("nb"),
        F.col("rank").alias("rb"),
    )
    weight = F.element_at(
        F.create_map(
            *[F.lit(x) for m, wm in sorted(w.items()) for x in (m, wm)]
        ),
        F.greatest(F.col("ra"), F.col("rb")).cast("int"),
    )
    matched = (
        lsh.join(
            F.broadcast(ivf),  # |Q| x k rows — never sort-merge
            (F.col("query_id") == F.col("qb"))
            & (F.col("neighbor_id") == F.col("nb")),
        )
        .select("query_id", weight.cast("long").alias("wgt"))
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum("wgt").cast("long").alias("rbo_scaled"),
        )
    )
    queries = lsh.select("query_id").distinct()
    return (
        queries.join(F.broadcast(matched), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_common"), F.lit(0).cast("long")).alias(
                "n_common"
            ),
            F.coalesce(F.col("rbo_scaled"), F.lit(0).cast("long")).alias(
                "rbo_scaled"
            ),
            (
                F.coalesce(F.col("rbo_scaled"), F.lit(0).cast("long")).cast(
                    "double"
                )
                / F.lit(float(scale))
            ).alias("rbo"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Embedding drift between corpus halves (per-dimension centroid shift)
# ---------------------------------------------------------------------------

def embedding_drift(embeddings: DataFrame) -> DataFrame:
    """Per-dimension centroid shift between the first and second half of
    the corpus (vec_id order as the ingestion proxy) — the EMBEDDING
    member of the drift family: ``value_drift_psi``/``source_drift_ks``
    watch scalar columns, but a silent encoder upgrade or ingestion
    change moves the embedding distribution first, and the per-dimension
    mean table is the cheapest detector (plus the input
    ``embedding_isotropy`` re-checks after an alarm).

    Exactness: each component snaps to a nano long (floor(x*1e9 + 0.5),
    the kmeans _dist_scaled convention — pure IEEE on the binary value
    in both engines), per-(half, dim) sums are exact longs, and the two
    means and their difference are mirrored double ops.

    Scale: one corpus pass (posexplode -> map-side-combined (half, dim)
    reduce onto 2*dims keys); the 1-row count broadcast decides the
    split.
    """
    tot = embeddings.agg(F.count("*").cast("long").alias("n_total"))
    snapped = (
        embeddings.join(F.broadcast(tot))
        .select(
            (F.col("vec_id") < F.expr("n_total div 2")).alias("first_half"),
            F.posexplode(
                F.transform(
                    F.col("embedding"),
                    lambda x: F.floor(
                        x.cast("double") * F.lit(1e9) + F.lit(0.5)
                    ).cast("long"),
                )
            ).alias("dim", "v"),
        )
        .groupBy("first_half", "dim")
        .agg(F.count("*").cast("long").alias("n"), F.sum("v").cast("long").alias("s"))
    )
    agg = snapped.groupBy("dim").agg(
        F.max(F.when(F.col("first_half"), F.col("n"))).alias("n_a"),
        F.max(F.when(~F.col("first_half"), F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("first_half"), F.col("s"))).alias("s_a"),
        F.max(F.when(~F.col("first_half"), F.col("s"))).alias("s_b"),
    )
    mean_a = F.col("s_a").cast("double") / F.col("n_a").cast("double") / F.lit(1e9)
    mean_b = F.col("s_b").cast("double") / F.col("n_b").cast("double") / F.lit(1e9)
    return (
        agg.filter(F.col("n_a").isNotNull() & F.col("n_b").isNotNull())
        .select(
            F.col("dim").cast("long").alias("dim"),
            mean_a.alias("mean_first"),
            mean_b.alias("mean_second"),
            (mean_b - mean_a).alias("shift"),
        )
        .orderBy("dim")
    )


CKA_HALF = 32  # dims 0..31 vs 32..63 of the 64-dim testdata embeddings
CKA_TERM_SCALE = 10**12  # pico-snap per covariance-squared cell before summing


def embedding_cka(embeddings: DataFrame, half: int = CKA_HALF) -> DataFrame:
    """Linear CKA (centered kernel alignment) between the first and
    second halves of the embedding — "how much of the same geometry do
    the two dim-blocks encode?" The representation-similarity number
    behind matryoshka / truncation decisions: CKA near 1 says the back
    half is redundant with the front (truncate boldly — cf.
    ``matryoshka_recall``, which measures the retrieval consequence);
    near 0 says the halves carry independent structure.

    Linear CKA = ||Cxy||_F^2 / (||Cxx||_F ||Cyy||_F) over the centered
    cross-covariance blocks, computed from sufficient statistics: per
    (i, j) cell, the product sums use the fixed-point convention
    (float32 products are EXACT in double, then snapped to longs) and
    accumulate in decimal(38,0); each centered cell and its square run
    in mirrored doubles and pico-snap before the bounded Frobenius sum
    (cross-engine sum-order safety on the half x half grid).

    Scale: the sufficient-statistic pass fans each row out half^2-fold
    via a self-join on vec_id — O(n d^2/4) exploded rows, embarrassingly
    parallel, no corpus shuffle beyond the (i, j) reduce onto d^2/4
    keys; at very large n the same statistics drop out of one
    mapInPandas accumulation pass (documented swap).
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    def d38(c):
        return c.cast("decimal(38,0)")

    base = spread(embeddings, "vec_id").select("vec_id", "embedding")
    ex = base.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, half)).alias("i", "x")
    )
    ey = base.select(
        "vec_id",
        F.posexplode(F.slice("embedding", half + 1, half)).alias("j", "y"),
    )
    n_row = base.agg(F.count("*").cast("long").alias("n"))

    def moment(a, b, an, bn):
        # sum over rows of round(a*b * FP) as decimal — a*b is an exact
        # double (two float32 mantissas), the snap is the only rounding
        return (
            a.join(b, "vec_id")
            .groupBy(F.col(an).alias("i"), F.col(bn).alias("j"))
            .agg(
                F.sum(
                    d38(
                        F.round(
                            F.col("x" if an == "i" else "y").cast("double")
                            * F.col("y" if bn == "j" else "x").cast("double")
                            * F.lit(FP),
                            0,
                        ).cast("long")
                    )
                ).alias("p")
            )
        )

    # per-dim first moments (shared by all three blocks)
    sx = ex.groupBy("i").agg(
        F.sum(F.round(F.col("x").cast("double") * F.lit(FP), 0).cast("long"))
        .cast("decimal(38,0)")
        .alias("sdec")
    )
    sy = ey.groupBy("j").agg(
        F.sum(F.round(F.col("y").cast("double") * F.lit(FP), 0).cast("long"))
        .cast("decimal(38,0)")
        .alias("sdec")
    )

    def frob(pdf, sa, sb, a_key, b_key):
        j1 = pdf.join(
            F.broadcast(sa.select(F.col(a_key).alias("i"), F.col("sdec").alias("sa"))),
            "i",
        ).join(
            F.broadcast(sb.select(F.col(b_key).alias("j"), F.col("sdec").alias("sb"))),
            "j",
        ).join(F.broadcast(n_row))
        n_d = F.col("n").cast("double")
        c = (
            dec_to_double_exact(F.col("p").cast("decimal(38,0)")) / F.lit(FP)
            - dec_to_double_exact(F.col("sa")) / F.lit(FP)
            * (dec_to_double_exact(F.col("sb")) / F.lit(FP))
            / n_d
        )
        term = F.round(c * c * F.lit(float(CKA_TERM_SCALE)), 0).cast(
            "decimal(38,0)"
        )
        return j1.agg(F.sum(term).alias("t")).select(
            (
                dec_to_double_exact(F.col("t").cast("decimal(38,0)"))
                / F.lit(float(CKA_TERM_SCALE))
            ).alias("frob")
        )

    pxy = moment(ex, ey, "i", "j")
    exj = ex.select("vec_id", F.col("i").alias("j"), F.col("x").alias("y"))
    pxx = moment(ex, exj, "i", "j")
    eyi = ey.select("vec_id", F.col("j").alias("i"), F.col("y").alias("x"))
    pyy = moment(eyi, ey, "i", "j")
    fxy = frob(pxy, sx, sy, "i", "j").select(F.col("frob").alias("fxy"))
    fxx = frob(pxx, sx, sx.select(F.col("i").alias("j"), "sdec"), "i", "j").select(
        F.col("frob").alias("fxx")
    )
    fyy = frob(pyy, sy.select(F.col("j").alias("i"), "sdec"), sy, "i", "j").select(
        F.col("frob").alias("fyy")
    )
    out = n_row.join(F.broadcast(fxy)).join(F.broadcast(fxx)).join(
        F.broadcast(fyy)
    )
    cka = F.when(
        (F.col("fxx") <= 0) | (F.col("fyy") <= 0), F.lit(0.0)
    ).otherwise(F.col("fxy") / F.sqrt(F.col("fxx") * F.col("fyy")))
    return out.select(
        F.col("n").alias("n_vectors"),
        F.lit(half).cast("long").alias("half_dims"),
        F.col("fxy").alias("frob_xy"),
        F.col("fxx").alias("frob_xx"),
        F.col("fyy").alias("frob_yy"),
        cka.alias("cka"),
    )


IVF_SWEEP_PROBES = (1, 2, 4)


def ivf_nprobe_sweep(
    embeddings: DataFrame,
    probes: tuple[int, ...] = IVF_SWEEP_PROBES,
    k: int = K_IVF,
) -> DataFrame:
    """Recall-vs-nprobe tuning curve for the IVF index — the number that
    picks the operating point: each doubling of ``n_probe`` scans
    proportionally more of the corpus, and this sweep says what recall
    each step actually buys on the real data distribution (the
    ``lsh_rebanding_planner`` analogue for the cluster-probe axis).

    For each candidate n_probe, ``knn_ivf``'s top-k joins LEFT from the
    exact brute-force truth (a miss is a counted zero, never an absent
    row) and aggregates corpus-wide hits; recall is the exact
    round-half-up ratio. The truth table is computed once and reused
    across the sweep.

    Scale: every branch is the production IVF plan (cell-pruned
    candidates, bounded query set); the sweep multiplies query-side
    work |probes|-fold, never corpus-side storage.
    """
    from functools import reduce

    truth = persist(
        knn_brute_cosine(embeddings, k=k).select("query_id", "neighbor_id")
    )
    outs = []
    for np_ in probes:
        approx = knn_ivf(embeddings, k=k, n_probe=np_).select(
            "query_id", F.col("neighbor_id").alias("ann_neighbor")
        )
        hits = truth.join(
            approx,
            (truth.query_id == approx.query_id)
            & (truth.neighbor_id == approx.ann_neighbor),
            "left",
        ).select(F.col("ann_neighbor").isNotNull().alias("hit"))
        outs.append(
            hits.agg(
                F.count("*").cast("long").alias("total_k"),
                F.sum(F.when(F.col("hit"), 1).otherwise(0))
                .cast("long")
                .alias("total_hits"),
            ).select(
                F.lit(np_).cast("long").alias("n_probe"),
                "total_k",
                "total_hits",
                ratio_round(F.col("total_hits"), F.col("total_k"), 4).alias(
                    "recall"
                ),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs).orderBy("n_probe")


# subspace-count grid the PQ distortion sweep prices (production is 4)
PQ_M_GRID = (2, 4, 8)


def pq_distortion_sweep(
    embeddings: DataFrame,
    grid: tuple[int, ...] = PQ_M_GRID,
    k_cent: int = PQ_K,
) -> DataFrame:
    """Subspace-count tuning sweep for product quantization — the
    memory/accuracy knee for ``knn_pq``'s ``m_sub`` knob: for each
    candidate subspace count, the per-vector QUANTIZATION DISTORTION
    (squared L2 between a vector and its codebook reconstruction,
    summed over subspaces) aggregated to mean/max, next to the bits the
    code costs. More subspaces always reduce distortion (finer
    factorization) and cost linearly more bits — this curve is where
    the ADC estimate's noise floor comes from, priced BEFORE a corpus
    commits to a compressed layout. ADC-level recall of the deployed
    config stays ``ann_paths_recall``'s domain; this sweep isolates the
    geometry term.

    Same deterministic lowest-vec_id codebook as ``knn_pq`` (computed
    once, broadcast; subspace slicing varies per grid value). Encoding
    distortion is a ROW-LOCAL min-fold per subspace — zero shuffle at
    any corpus size; the only aggregation is the one-row rollup per
    grid value, summed in DECIMAL(38,0) (pico units pass 2^63 long
    before a corpus is large). Distance terms snap to pico longs (the
    kmeans rule), so every number hash-checks.
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    seeds = (
        embeddings.orderBy(F.col("vec_id").asc())
        .limit(k_cent)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
                "cvec"
            ),
        )
    )
    cb = seeds.agg(
        F.array_sort(F.collect_list(F.struct("seed_id", "cvec"))).alias("cb")
    )

    def d2(a, b):
        terms = F.zip_with(
            a,
            b,
            lambda x, y: F.floor(
                (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
                * F.lit(PQ_DIST_SCALE)
                + F.lit(0.5)
            ).cast("long"),
        )
        return F.aggregate(
            terms, F.lit(0).cast("long"), lambda acc, t: acc + t
        )

    out = None
    for m in grid:
        sub_dim = EMB_DIM // m

        def sub(vec, mm, _sd=sub_dim):
            return F.slice(vec, mm * _sd + 1, _sd)

        # per-vector distortion: sum over subspaces of the min distance
        # to any codebook centroid in that subspace (all row-local)
        distortion = F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda mm: F.array_min(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(k_cent)),
                        lambda c: d2(
                            sub(F.col("embedding"), mm),
                            sub(F.element_at(F.col("cb"), c)["cvec"], mm),
                        ),
                    )
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        per_vec = embeddings.join(F.broadcast(cb)).select(
            distortion.alias("dist")
        )
        row = per_vec.agg(
            F.lit(int(m)).cast("long").alias("m_sub"),
            F.lit(int(m * 3)).cast("long").alias("bits_per_vec"),
            F.count("*").cast("long").alias("n_vectors"),
            dec_ratio_round(
                F.coalesce(
                    F.sum(F.col("dist").cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ),
                F.greatest(F.count("*"), F.lit(1)).cast("long"),
                0,
            ).alias("mean_distortion_pico"),
            F.coalesce(F.max("dist"), F.lit(0))
            .cast("long")
            .alias("max_distortion_pico"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("m_sub")


def ivf_list_balance_audit(embeddings: DataFrame) -> DataFrame:
    """Straggler pricing for the IVF probe join — the ``knn_ivf`` /
    ``knn_ivf_pq`` scale path cuts the scanned corpus to the probed
    lists' vectors, so its wall-clock and recall both ride the LIST
    BALANCE: per inverted list (the ``label`` assignment), the vector
    count, its share of the corpus, and the balance ratio against the
    uniform mean (100 = perfectly even; a 500 says one probe of that
    list scans 5x the budgeted vectors — re-train centroids or split
    the list before a 100 TB index commits to this assignment). The
    ANN-side sibling of ``lsh_bucket_balance_audit``'s band buckets
    and ``shuffle_width_sweep``'s reducer loads.

    ONE map-side-combinable per-label count plus a 1-row broadcast
    total — no joins over the corpus, output bounded by |labels|.
    Wide-decimal round-half-up shares (corpus-scale counts times 100
    times |labels| can pass 2^53).
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    lists = embeddings.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs")
    )
    totals = lists.agg(
        F.sum("n_vecs").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_lists"),
    )
    out = lists.crossJoin(F.broadcast(totals))
    den = F.greatest(F.col("total"), F.lit(1).cast("long"))
    return out.select(
        F.col("label").cast("long").alias("label"),
        "n_vecs",
        "n_lists",
        "total",
        dec_ratio_round(F.col("n_vecs") * 100, den, 4).alias(
            "list_share_pct"
        ),
        dec_ratio_round(
            F.col("n_vecs").cast("decimal(38,0)") * F.col("n_lists") * 100,
            den,
            2,
        ).alias("balance_pct"),
    ).orderBy("label")
