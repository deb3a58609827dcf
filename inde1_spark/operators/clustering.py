"""Embedding clustering (Lloyd's k-means) and SemDeDup-style cluster dedup.

The semantic-dedup recipe for a 100 TB corpus (Abbas et al., "SemDeDup",
2023): cluster the embedding space cheaply, then look for near-duplicates
only WITHIN a cluster — the cluster key turns the quadratic all-pairs
problem into |cluster|^2 work per key, the same candidate-generation move
as the band joins in operators/dedup.py but driven by geometry instead of
hashes.

K-means is built as a declarative iterative plan (like
dedup.connected_components): each Lloyd iteration is

  assign:  nearest centroid computed ROW-LOCALLY — the k centroids travel
           to the data as one broadcast row of (cid, vec) structs and
           argmin is an array fold, so assignment adds ZERO shuffles at
           any corpus size;
  update:  per-dimension mean via posexplode -> groupBy (cid, dim) —
           map-side partial aggregation collapses each task's output to
           at most k*dims rows, so the exchange carries kilobytes no
           matter how large the corpus is.

Determinism (DESIGN.md §3): distances are fixed-point longs (per-element
IEEE double ops snapped to 1e12 scale, summed exactly); argmin ties break
on centroid id via struct ordering; centroid means are exact decimal sums
divided once in double. The DuckDB oracle unrolls the same iterations
CTE-for-CTE (oracles.py), so the gate hash-checks the whole trajectory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from inde1_spark.operators.dedup import COSINE_DEDUP_THRESHOLD
from inde1_spark.functions.exprs import dec_to_double_exact, dot_exact, norm_exact
from inde1_spark.plans.lifecycle import lazy_checkpoint, spread

KMEANS_K = 8
KMEANS_ITERS = 3
TARGET_CLUSTER_ROWS = 4096  # aim |cluster| ~ this; semdedup work is sum|c|^2


def scale_k(corpus_rows: int, target: int = TARGET_CLUSTER_ROWS) -> int:
    """Corpus-scale preset for ``k``: ceil(rows / target), clamped.

    SemDeDup's pair join costs sum |cluster|^2 ~= rows * target when
    clusters hold ~``target`` rows each — LINEAR in corpus size, which is
    the whole point of cluster-scoped dedup. The gate queries keep the toy
    k=8 (the DuckDB oracle unrolls Lloyd's CTE-for-CTE and 8 seeds keep
    that tractable); any corpus-sized run should pass
    ``k=scale_k(df.count())`` instead. Honest ceiling: broadcast centroids
    cost k * dims * 8 bytes — past k ~ 10^5 (tens of MB) switch to a
    two-level scheme (cluster the centroids, route points through the
    coarse level; both levels reuse this operator unchanged). Lower clamp
    keeps tiny corpora from degenerating to k=1.
    """
    import math

    k = max(8, math.ceil(corpus_rows / target))
    return min(k, 1 << 17, max(1, corpus_rows))
DIST_SCALE = 1_000_000_000_000  # (x-y)^2 terms snapped to pico precision
SNAP_SCALE = 1_000_000_000  # centroid components live at nano precision


def _dist_scaled_sql(emb: str, cvec: str) -> str:
    """SQL text of the exact fixed-point squared L2 distance (see
    _dist_scaled) — one py4j round-trip per use instead of ~20 Column
    calls; the parsed expression tree is identical (integer literal cast
    to DOUBLE == the injected double literal; FLOOR(double) is BIGINT)."""
    return (
        f"aggregate(zip_with({emb}, {cvec}, (x, y) -> "
        "CAST(FLOOR((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y) "
        f"* CAST({DIST_SCALE} AS DOUBLE) + 0.5D) AS BIGINT)), "
        "0L, (acc, t) -> acc + t)"
    )


def _dist_scaled(emb: Column, cvec: Column) -> Column:
    """Exact fixed-point squared L2 distance between a float-array point
    and a double-array centroid, as a LONG (order-independent sum)."""
    # floor(t*S + 0.5), not round(t*S): Spark's round() works on the
    # shortest-decimal representation while DuckDB rounds the binary value —
    # they disagree ~1e-4 of the time on squared-difference terms. floor is
    # pure IEEE on the binary double in both engines, so the snapped longs
    # are unconditionally identical.
    terms = F.zip_with(
        emb,
        cvec,
        lambda x, y: F.floor(
            (x.cast("double") - y) * (x.cast("double") - y)
            * F.lit(float(DIST_SCALE))
            + F.lit(0.5)
        ).cast("long"),
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, t: acc + t)


def _init_centroids(embeddings: DataFrame, k: int) -> DataFrame:
    """Deterministic seeding: the k lowest vec_ids are the starting
    centroids, identified by their seed id (no RNG to reproduce)."""
    return (
        embeddings.orderBy(F.col("vec_id").asc())
        .limit(k)
        .select(
            F.col("vec_id").alias("cid"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
                "cvec"
            ),
        )
    )


def _assign(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, embedding, cluster, dist_scaled): row-local nearest centroid.

    Centroids collapse to ONE row (array_sort fixes collect_list's
    nondeterministic order), broadcast onto the corpus; per-point argmin is
    array_min over (dist, cid) structs — lexicographic struct ordering
    gives smallest distance, then smallest cid on ties.
    """
    cents = centroids.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cvec"))).alias("cents")
    )
    best = F.expr(
        "array_min(transform(cents, c -> struct("
        + _dist_scaled_sql("embedding", "c.cvec")
        + " AS d, c.cid AS cid)))"
    )
    return (
        embeddings.join(F.broadcast(cents))
        .withColumn("best", best)
        .select(
            "vec_id",
            "embedding",
            F.col("best")["cid"].alias("cluster"),
            F.col("best")["d"].alias("dist_scaled"),
        )
    )


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids: per-dimension mean in scaled-integer space.

    A decimal-sum/count mean is NOT engine-portable: decimal->double
    conversion is double-rounded differently by Spark (BigDecimal) and
    DuckDB (int128/10^s), flipping the last ulp on ~1e-4 of values. So the
    mean never leaves integer space: snap each component to a fixed-point
    long (offset +1.0 keeps it nonnegative, so integer division semantics
    can't diverge), sum exactly, round-half-up by integer division, and
    produce the centroid double with ONE exact long->double conversion and
    ONE IEEE division. Clusters that lost every member disappear
    (standard Lloyd's).
    """
    by_dim = assigned.select(
        F.col("cluster").alias("cid"),
        F.posexplode(
            F.expr(
                "transform(embedding, x -> CAST(FLOOR((CAST(x AS DOUBLE) "
                f"+ 1.0D) * CAST({SNAP_SCALE} AS DOUBLE) + 0.5D) AS BIGINT))"
            )
        ).alias("dim", "vs"),
    )
    num = F.col("s") * 2 + F.col("n")
    den = F.col("n") * 2
    m_scaled = (num - num % den).cast("double") / den.cast("double")
    means = (
        by_dim.groupBy("cid", "dim")
        .agg(F.sum("vs").alias("s"), F.count("*").alias("n"))
        .select(
            "cid",
            "dim",
            (m_scaled / F.lit(float(SNAP_SCALE)) - F.lit(1.0)).alias("m"),
        )
    )
    return means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
        ).alias("cvec")
    )


def kmeans_assign(
    embeddings: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> DataFrame:
    """Cluster assignment after ``iters`` Lloyd iterations.

    Returns (vec_id, cluster, dist_scaled) under the final centroids —
    cluster ids are the seed vec_ids, so the output is stable across
    engines and runs. The iterative plan is a linear CTE chain (each
    assign feeds exactly one update), so plan size grows linearly in
    ``iters`` — no checkpointing needed at these depths.
    """
    cents = _init_centroids(embeddings, k)
    for _ in range(iters):
        cents = _update(_assign(embeddings, cents))
    return _assign(embeddings, cents).select("vec_id", "cluster", "dist_scaled")


def semdedup(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    threshold: float = COSINE_DEDUP_THRESHOLD,
) -> DataFrame:
    """SemDeDup: exact-cosine near-dup pairs restricted to a k-means cluster.

    The pair join is an equi-join on the cluster key — |cluster|^2 work per
    key instead of corpus^2 (k spreads the quadratic; raise k with corpus
    size so clusters stay bounded). Precision equals the brute-force
    ``dedup_embedding`` on every within-cluster pair; pairs split across
    clusters are the recall trade, exactly as in the SemDeDup paper.
    """
    # the self-join below references the assignment twice; a lazy
    # localCheckpoint makes the k-means chain a lineage leaf so Lloyd's
    # iterations run once, not once per join side (still no eager action —
    # CLAUDE.md invariant). r12: TWO leaves — the bounded centroid chain
    # first, then the final assignment — so the assignment's
    # analysis/conversion sees a k-row leaf instead of the full unrolled
    # Lloyd tree (build 2.2-3.0 s -> ~2.0 s, count −0.1 s, same rows;
    # a no-checkpoint variant re-executes the chain per join side and
    # measured 3.0 -> 4.0 s total — documented negative).
    cents = _init_centroids(embeddings, k)
    for _ in range(iters):
        cents = _update(_assign(embeddings, cents))
    cents = lazy_checkpoint(cents, adaptive=False)
    asg = lazy_checkpoint(
        _assign(embeddings, cents).select("vec_id", "cluster"), adaptive=False
    )

    # candidate-first verify (same shape as dedup_minhash): the cluster
    # self-join emits ID-ONLY pairs — with k coarse keys it runs on at most
    # k tasks, which is fine for row pairing but would serialize the exact
    # cosine math (interpreted array folds) onto k cores. So candidates are
    # re-spread across the full shuffle width BEFORE the payload joins; the
    # cosine filter needs the embedding columns, so it cannot push below
    # the repartition, and verification runs at full parallelism.
    a = asg.select(F.col("cluster"), F.col("vec_id").alias("vec_a"))
    b = asg.select(
        F.col("cluster").alias("cluster_b"), F.col("vec_id").alias("vec_b")
    )
    # explicit partition COUNT, not just keys: candidate rows are tiny in
    # bytes but expensive in CPU (64-element folds each), and AQE's
    # byte-based coalescing would happily merge them onto one core
    pair_ids = spread(
        a.join(b, (a.cluster == b.cluster_b) & (F.col("vec_a") < F.col("vec_b")))
        .select("cluster", "vec_a", "vec_b"),
        "vec_a",
        "vec_b",
    )
    e = embeddings.select(
        "vec_id", "embedding", norm_exact(F.col("embedding")).alias("nrm")
    )
    ea = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    pairs = pair_ids.join(ea, "vec_a").join(eb, "vec_b")
    cos = dot_exact(F.col("emb_a"), F.col("emb_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    return (
        pairs.withColumn("cos_sim", F.round(cos, 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("cluster", "vec_a", "vec_b", "cos_sim")
    )


def cluster_balance(
    embeddings: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> DataFrame:
    """Cluster-size audit after Lloyd's: the health check that decides
    whether SemDeDup's Sum|cluster|^2 pair join is safe to run.

    Per cluster: member count, share of corpus (exact integer ratio), and
    the mean scaled distance to the centroid (exact integer division) — a
    mega-cluster or a near-empty k shows up here before it burns a pair
    join. One kB-sized aggregate over the assignment.
    """
    from inde1_spark.functions.exprs import dec_floordiv, ratio_round

    asg = kmeans_assign(embeddings, k, iters)
    per = asg.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum(F.col("dist_scaled").cast("decimal(38,0)")).alias("sum_dist"),
    )
    total = per.agg(F.sum("n_members").cast("long").alias("n_total"))
    # round-half-up(sum/n) = (2*sum + n) floordiv (2*n), accumulated and
    # divided in DECIMAL(38,0): a LONG `div` would silently WRAP past 2^63
    # (CLAUDE.md wide-decimal rule), and a float `/` would lose integer
    # precision past 2^53 and drift off the DuckDB oracle's exact `//`.
    # Floor division on decimals is spelled (a - a % b) / b — the quotient
    # is an exact integer, so the decimal divide is lossless; the final
    # cast back to LONG is safe (mean distance <= max single distance).
    return (
        per.join(F.broadcast(total))
        .withColumn(
            "_m",
            (F.col("sum_dist") * 2 + F.col("n_members")).cast("decimal(38,0)"),
        )
        .withColumn("_den", (F.col("n_members") * 2).cast("decimal(38,0)"))
        .select(
            "cluster",
            "n_members",
            ratio_round(F.col("n_members"), F.col("n_total"), 4).alias("share"),
            dec_floordiv(F.col("_m"), F.col("_den"))
            .cast("long")
            .alias("mean_dist_scaled"),
        )
    )


def cluster_separation(embeddings: DataFrame) -> DataFrame:
    """Davies-Bouldin-style separation audit over the label assignment
    (the same externally-trained quantizer labels ``knn_ivf`` consumes):
    per cluster, the mean squared distance of members to their own
    centroid, the nearest other centroid, and the separation ratio
    (scatter_i + scatter_j) / d^2(centroid_i, centroid_j) — above ~1 the
    two clusters overlap and every label-pruned operator built on this
    assignment (IVF probing, SemDeDup's within-cluster pairs) starts
    leaking neighbors across the boundary. Deliberately SQUARED-space
    (no sqrt anywhere): ratios stay exact integer arithmetic end-to-end,
    and the overlap verdict is ordinal, not metric.

    Plan: centroids are ``ivf_centroids``' exact fixed-point means,
    collapsed to ONE broadcast row; member scatter is a row-local fold
    (zero shuffle, kmeans idiom) reduced per label; the centroid-pair
    table is |labels|^2 rows of row-local folds. Scatter means divide in
    DECIMAL(38,0) per the wide-decimal rule.
    """
    from inde1_spark.functions.exprs import dec_floordiv
    from inde1_spark.operators.similarity import ivf_centroids

    cents = (
        ivf_centroids(embeddings)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "cv"))), lambda s: s["cv"]
            ).alias("cvec")
        )
    )
    one = cents.agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("label", "cvec")))
        ).alias("cmap")
    )
    d_own = _dist_scaled(
        F.col("embedding"), F.element_at(F.col("cmap"), F.col("label"))
    )
    scatter = (
        embeddings.join(F.broadcast(one))
        .select("label", d_own.alias("d"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum(F.col("d").cast("decimal(38,0)")).alias("sd"),
        )
        .select(
            "label",
            "n_members",
            # round-half-up(sum/n) in decimal: msd stays on the 1e12 grid
            dec_floordiv(
                (F.col("sd") * 2 + F.col("n_members")).cast("decimal(38,0)"),
                (F.col("n_members").cast("decimal(38,0)") * 2).cast("decimal(38,0)"),
            )
            .cast("long")
            .alias("msd"),
        )
    )
    ca = cents.select(F.col("label").alias("la"), F.col("cvec").alias("va"))
    cb = cents.select(F.col("label").alias("lb"), F.col("cvec").alias("vb"))
    cd = (
        ca.crossJoin(F.broadcast(cb))
        .filter(F.col("la") != F.col("lb"))
        .select(
            "la",
            "lb",
            _dist_scaled(F.col("va"), F.col("vb")).alias("d2"),
        )
    )
    nearest = (
        cd.groupBy("la")
        .agg(F.min(F.struct("d2", "lb")).alias("m"))
        .select(
            F.col("la").alias("label"),
            F.col("m.lb").alias("nearest_label"),
            F.col("m.d2").alias("d2_nearest"),
        )
    )
    sa = scatter.select(F.col("label").alias("la2"), F.col("msd").alias("msd_a"))
    sb = scatter.select(F.col("label").alias("nearest_label"), F.col("msd").alias("msd_b"))
    from inde1_spark.functions.exprs import ratio_round

    return (
        scatter.join(nearest, "label")
        .join(F.broadcast(sb), "nearest_label")
        .select(
            "label",
            "n_members",
            (F.col("msd").cast("double") / F.lit(float(DIST_SCALE))).alias(
                "mean_sq_dist"
            ),
            "nearest_label",
            (F.col("d2_nearest").cast("double") / F.lit(float(DIST_SCALE))).alias(
                "nearest_sq_dist"
            ),
            ratio_round(
                F.col("msd") + F.col("msd_b"),
                F.greatest(F.col("d2_nearest"), F.lit(1)),
                6,
            ).alias("sep_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# D4-style prototypicality pruning (SemDeDup's sibling, Tirumala et al. 2023)
# ---------------------------------------------------------------------------

PROTO_DROP_DEN = 4  # drop the closest 1/4 of each cluster to its centroid


def prototypicality_prune(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    drop_den: int = PROTO_DROP_DEN,
) -> DataFrame:
    """D4-style prototypicality pruning: within each k-means cluster,
    rank points by exact distance to their centroid and DROP the closest
    1/drop_den — the most prototypical examples, which carry the least
    marginal information (Tirumala et al. 2023 pair exactly this with
    SemDeDup: ``semdedup`` removes near-duplicate pairs, this removes
    redundant cluster cores). Emits every row with its rank and keep
    verdict so the caller audits before filtering.

    Determinism: dist_scaled is kmeans_assign's exact fixed-point
    distance, ranks break ties (dist, vec_id), and the per-cluster drop
    count is the integer n_c div drop_den — no thresholds on floats.

    Scale: one window over the assignment table partitioned by cluster
    (bounded per-cluster rows by scale_k's sizing); the expensive part
    is the audited kmeans_assign itself.
    """
    asg = kmeans_assign(embeddings, k, iters)
    w = Window.partitionBy("cluster").orderBy(
        F.asc("dist_scaled"), F.asc("vec_id")
    )
    wn = Window.partitionBy("cluster")
    ranked = asg.select(
        "vec_id",
        "cluster",
        "dist_scaled",
        F.row_number().over(w).cast("long").alias("proto_rank"),
        F.count("*").over(wn).cast("long").alias("n_cluster"),
    )
    return ranked.select(
        "vec_id",
        "cluster",
        "dist_scaled",
        "proto_rank",
        "n_cluster",
        (
            F.col("proto_rank") > F.expr(f"n_cluster div {drop_den}")
        ).alias("keep"),
    ).orderBy("cluster", "proto_rank")


# ---------------------------------------------------------------------------
# External cluster validation: ARI + NMI against the label column
# ---------------------------------------------------------------------------

def clustering_agreement(
    embeddings: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> DataFrame:
    """Adjusted Rand index and normalized mutual information between the
    k-means assignment and the corpus's ground-truth ``label`` column —
    the EXTERNAL validation the clustering family was missing:
    ``cluster_separation``/``cluster_balance`` score geometry and
    balance, this scores agreement with known structure, the number that
    decides whether the clusters mean anything before they gate
    semdedup/D4 pruning.

    Exact ARI: every term is a pair count at x2 scale (n(n-1) sums over
    the bounded contingency table, decimal(38,0)), and the index is ONE
    dec-to-double ratio of 2*N2*S2 - 2*A2*B2 over N2*(A2+B2) - 2*A2*B2.
    NMI follows the mutual_info_matrix nano-log contract on the same
    contingency cells, normalized by sqrt(H_a H_b) in mirrored doubles.
    Degenerate partitions (everything one cluster/label) filter out.

    Scale: the expensive part is the audited kmeans_assign; the
    contingency is one bounded (cluster, label) reduce.
    """

    def d38(c):
        return c.cast("decimal(38,0)")

    def lnn(c):
        return F.round(F.log(c.cast("double")) * F.lit(1e9), 0).cast("long")

    asg = kmeans_assign(embeddings, k, iters).select("vec_id", "cluster")
    pts = embeddings.select("vec_id", F.col("label").cast("long").alias("lab"))
    cont = (
        asg.join(pts, "vec_id")
        .groupBy("cluster", "lab")
        .agg(F.count("*").cast("long").alias("nij"))
    )
    wr = Window.partitionBy("cluster")
    wc = Window.partitionBy("lab")
    wg = Window.partitionBy()
    cells = cont.select(
        "cluster",
        "lab",
        "nij",
        F.sum("nij").over(wr).cast("long").alias("a_i"),
        F.sum("nij").over(wc).cast("long").alias("b_j"),
        F.sum("nij").over(wg).cast("long").alias("n"),
        F.min("lab").over(wr).alias("min_lab"),
        F.min("cluster").over(wc).alias("min_cluster"),
    )
    agg = cells.agg(
        F.max("n").alias("n_points"),
        F.count("*").cast("long").alias("n_cells"),
        F.sum(F.when(F.col("lab") == F.col("min_lab"), 1).otherwise(0))
        .cast("long")
        .alias("k_clusters"),
        F.sum(F.when(F.col("cluster") == F.col("min_cluster"), 1).otherwise(0))
        .cast("long")
        .alias("n_labels"),
        F.sum(d38(F.col("nij")) * d38(F.col("nij") - 1)).alias("s2"),
        F.sum(
            F.when(
                F.col("lab") == F.col("min_lab"),
                d38(F.col("a_i")) * d38(F.col("a_i") - 1),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("a2"),
        F.sum(
            F.when(
                F.col("cluster") == F.col("min_cluster"),
                d38(F.col("b_j")) * d38(F.col("b_j") - 1),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("b2"),
        # NMI pieces on the same cells (mutual_info_matrix contract)
        F.sum(
            d38(F.col("nij"))
            * d38(
                lnn(F.col("nij")) + lnn(F.col("n")) - lnn(F.col("a_i"))
                - lnn(F.col("b_j"))
            )
        ).alias("mi_sum"),
        F.sum(
            F.when(
                F.col("lab") == F.col("min_lab"),
                d38(F.col("a_i")) * d38(lnn(F.col("a_i"))),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("rh_sum"),
        F.sum(
            F.when(
                F.col("cluster") == F.col("min_cluster"),
                d38(F.col("b_j")) * d38(lnn(F.col("b_j"))),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("ch_sum"),
    )
    n2 = d38(F.col("n_points")) * d38(F.col("n_points") - 1)
    ari_num = (
        F.lit(2) * n2 * F.col("s2") - F.lit(2) * F.col("a2") * F.col("b2")
    ).cast("decimal(38,0)")
    ari_den = (
        n2 * (F.col("a2") + F.col("b2"))
        - F.lit(2) * F.col("a2") * F.col("b2")
    ).cast("decimal(38,0)")
    n_d = F.col("n_points").cast("double")
    ln_n = lnn(F.col("n_points")).cast("double")
    mi = dec_to_double_exact(F.col("mi_sum")) / F.lit(1e9) / n_d
    h_a = (ln_n - dec_to_double_exact(F.col("rh_sum")) / n_d) / F.lit(1e9)
    h_b = (ln_n - dec_to_double_exact(F.col("ch_sum")) / n_d) / F.lit(1e9)
    return (
        agg.filter((ari_den != 0) & (F.col("n_points") > 1))
        .select(
            F.col("n_points"),
            "k_clusters",
            "n_labels",
            (dec_to_double_exact(ari_num) / dec_to_double_exact(ari_den)).alias(
                "ari"
            ),
            (mi / F.sqrt(h_a * h_b)).alias("nmi"),
        )
        .filter(~F.isnan(F.col("nmi")))
    )


SEMDEDUP_SWEEP_THRESHOLDS = (0.45, 0.5, 0.6, 0.7, 0.8)


def semdedup_threshold_sweep(embeddings: DataFrame) -> DataFrame:
    """Retention curve for SemDeDup's cosine threshold — the tuning table
    the SemDeDup paper publishes before fixing epsilon: for each candidate
    threshold, how many within-cluster near-dup pairs fire and how much
    of the corpus survives pruning (keep-lowest-id: the higher vec_id of
    each firing pair is pruned). One run of the ``semdedup`` pair plan at
    the LOOSEST threshold feeds the whole sweep — the per-threshold
    filter is a bounded broadcast cross join over the pair table, so the
    k-means + pair-verify cost is paid once, not once per candidate.

    cos_sim is semdedup's exact round-to-6dp value, so threshold
    comparisons are engine-identical; counts are exact longs and
    retention the exact round-half-up percent. Thresholds with no firing
    pairs stay in the output (left join from the grid) at retention 100.
    """
    from inde1_spark.functions.exprs import ratio_round

    lo = min(SEMDEDUP_SWEEP_THRESHOLDS)
    pairs = semdedup(embeddings, threshold=lo)
    total = embeddings.agg(F.count("*").cast("long").alias("n_vecs"))
    grid = total.select(
        F.explode(
            F.array(*[F.lit(float(t)) for t in SEMDEDUP_SWEEP_THRESHOLDS])
        ).alias("threshold"),
        "n_vecs",
    )
    hits = (
        pairs.crossJoin(
            F.broadcast(grid.select("threshold"))
        )
        .filter(F.col("cos_sim") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.count_distinct("vec_b").cast("long").alias("n_pruned"),
        )
    )
    out = grid.join(hits, "threshold", "left").select(
        "threshold",
        F.coalesce(F.col("n_pairs"), F.lit(0).cast("long")).alias("n_pairs"),
        F.coalesce(F.col("n_pruned"), F.lit(0).cast("long")).alias("n_pruned"),
        "n_vecs",
    )
    return out.select(
        "threshold",
        "n_pairs",
        "n_pruned",
        # degenerate-denominator guard (ANSI `% 0` throws): an empty corpus
        # retains everything by definition
        F.when(
            F.col("n_vecs") > 0,
            ratio_round(
                (F.col("n_vecs") - F.col("n_pruned")) * 100, F.col("n_vecs"), 2
            ),
        )
        .otherwise(F.lit(100.0))
        .alias("retention_pct"),
    ).orderBy("threshold")


SEMDEDUP_INCR_PCT = 10  # hash share standing in for "today's embeddings"


def semdedup_incremental(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    threshold: float = COSINE_DEDUP_THRESHOLD,
    batch_pct: int = SEMDEDUP_INCR_PCT,
) -> DataFrame:
    """Incremental SemDeDup admission: score an ARRIVING embedding shard
    against the standing corpus only — the embedding sibling of
    ``dedup_incremental`` (shingles) and ``dedup_substring_incremental``
    (windows): nobody re-clusters 100 TB of vectors to admit one day's
    batch. The standing corpus keeps its Lloyd centroids (maintained
    offline; here recomputed from the standing split so the gate can
    hash the whole trajectory); each arriving vector is routed to its
    nearest centroid ROW-LOCALLY (one broadcast of k centroid structs —
    zero shuffles added by assignment, the kmeans_assign property), and
    exact-cosine-verified only against standing members of THAT cluster.
    Per arriving vector the verdict aggregates its best standing match:
    admit iff nothing clears the threshold.

    Candidate cost is |batch| x |cluster| — proportional to the
    INCREMENT, not the corpus (raise k with corpus size via ``scale_k``
    so clusters stay bounded, exactly as in batch semdedup). Pairs whose
    standing twin sits across a cluster boundary are the same recall
    trade the SemDeDup paper accepts. The md5 hash split (engine-
    portable, avalanche-mixed) stands in for the arrival boundary on
    testdata; at real scale the standing assignment is the persisted
    cluster table the admission pipeline maintains — the plan is
    unchanged. Determinism: the split, Lloyd's iterations, distances and
    the admission argmax (max-struct on (cos_sim, vec_id): best score,
    ties to the highest standing id) are all exact fixed-point/integer
    constructs; cos_sim is the shared round-to-6dp contract.
    """
    from inde1_spark.operators.text import hash_bucket

    lane = hash_bucket(F.col("vec_id"), 100)
    batch = embeddings.filter(lane < batch_pct)
    standing = embeddings.filter(lane >= batch_pct)

    cents = _init_centroids(standing, k)
    for _ in range(iters):
        cents = _update(_assign(standing, cents))
    # the final centroids feed BOTH assigns below; a lazy localCheckpoint
    # makes the Lloyd chain a lineage leaf (k rows materialized once, still
    # no eager action — the semdedup/connected_components pattern)
    cents = lazy_checkpoint(cents, adaptive=False)

    s_asg = _assign(standing, cents).select(
        F.col("cluster"), F.col("vec_id").alias("vec_idx")
    )
    b_asg = _assign(batch, cents).select(
        F.col("cluster").alias("cluster_b"), F.col("vec_id").alias("vec_new")
    )
    # candidate ids re-spread across the full shuffle width before the
    # payload joins: k coarse keys would serialize the interpreted cosine
    # folds onto k cores, and AQE's byte-based coalescing would keep them
    # there (CLAUDE.md explicit-count rule)
    pair_ids = spread(
        b_asg.join(s_asg, b_asg.cluster_b == s_asg.cluster).select(
            "vec_new", "vec_idx"
        ),
        "vec_new",
        "vec_idx",
    )
    e = embeddings.select(
        "vec_id", "embedding", norm_exact(F.col("embedding")).alias("nrm")
    )
    ea = e.select(
        F.col("vec_id").alias("vec_new"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = e.select(
        F.col("vec_id").alias("vec_idx"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = dot_exact(F.col("emb_a"), F.col("emb_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    scored = (
        pair_ids.join(ea, "vec_new")
        .join(eb, "vec_idx")
        .withColumn("cos_sim", F.round(cos, 6))
        .filter(F.col("cos_sim") >= F.lit(threshold))
    )
    best = scored.groupBy("vec_new").agg(
        F.max(F.struct("cos_sim", "vec_idx")).alias("best")
    )
    return (
        batch.select(F.col("vec_id").alias("vec_new"))
        .join(best, "vec_new", "left")
        .select(
            "vec_new",
            F.col("best")["vec_idx"].alias("dup_of"),
            F.col("best")["cos_sim"].alias("cos_sim"),
            F.col("best").isNull().alias("admit"),
        )
    )
