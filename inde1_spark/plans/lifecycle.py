"""Plan lifecycle: what persists, checkpoints and re-spreads an operator plan.

Operators stay pure plan builders, but three decisions about a plan's
intermediates are shared by every operator module, so they live here:

- ``persist``: self-joined intermediates (shingles, band tables, round
  tables) are persisted so their pipeline runs once per job.
- ``lazy_checkpoint``: iteration chains cut their lineage with
  ``localCheckpoint(eager=False)`` so an unrolled plan stays linear.
- ``spread``: tiny-but-CPU-heavy intermediates are re-spread at an
  EXPLICIT partition count.

Every persisted or checkpointed handle is registered for
``release_persisted()``; long-lived sessions call it after consuming the
result, otherwise cached blocks accumulate across invocations (bench.py's
clearCache also works for the cache-manager half). This module imports
only pyspark, so any operator module can import it at the top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PERSISTED: list = []  # DataFrames (cache-manager) or java RDDs (checkpoint)


def persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _PERSISTED.append(df)
    return df


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Keyed re-spread at an EXPLICIT partition count.

    The CPU-heavy work downstream (shingle explodes, vector folds,
    levenshtein and exact-cosine verifies) must not serialize onto one
    core when the input is a single unsplittable file or a few KB of
    candidate pairs. The explicit COUNT matters (r12): these inputs are
    tiny in BYTES, so AQE's byte-based coalescing folded a keyed-only
    ``repartition`` back to ONE partition and the work ran
    single-threaded anyway. Width = the session's shuffle.partitions, so
    a later groupBy on the same keys still reuses the exchange (§2.4).
    """
    n_part = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    return df.repartition(n_part, *keys)


# Reduce width for BOUNDED checkpointed round plans (see lazy_checkpoint):
# every exchange in such a plan carries a key space bounded by a constant
# (vocab-capped graph nodes, k*dims centroid cells, per-query top-k rows),
# so a handful of reduce partitions is right at ANY corpus size — the map
# side keeps the scan's full parallelism and partial aggregation collapses
# the data before the exchange either way.
BOUNDED_ROUND_PARTITIONS = 8


def lazy_checkpoint(df: DataFrame, bounded: bool = False) -> DataFrame:
    # localCheckpoint persists the underlying RDD OUTSIDE the cache manager
    # (DataFrame.unpersist can't see it), so register the LogicalRDD's java
    # RDD handle for release_persisted() to unpersist directly.
    #
    # bounded=True — for iteration chains whose checkpointed plans only
    # shuffle BOUNDED key spaces (kmeans (cid, dim) cells, vocab-capped
    # word graphs, bounded Markov state sets) — additionally disables AQE
    # and pins a small shuffle width for the plan->RDD conversion: with
    # AQE on, toRdd() on an adaptive plan MATERIALIZES every query stage
    # eagerly (each exchange becomes its own job with full scheduler
    # round-trips), so an 8-round unroll paid ~6 jobs per round at build
    # time; with AQE off the rounds stay lazy RDD lineage and execute
    # inside the consuming action as ordinary stages (r11 A/B:
    # semdedup_incremental 3.74s -> 1.92s, semdedup_threshold_sweep
    # 3.53s -> 2.39s, identical output). The fixed small width replaces
    # the coalescing AQE would have done on those kB-sized exchanges and
    # is scale-safe BY DEFINITION of bounded (the reduce side never grows
    # with the corpus). Corpus-scale round tables (connected components,
    # k-core peels, LPA labels) keep the default: their exchanges need
    # AQE's byte-based sizing, and the measured A/B regressed 2-3x without
    # it. Session confs are restored immediately; the consuming query
    # itself still runs with AQE.
    sp = df.sparkSession
    if bounded:
        old_aqe = sp.conf.get("spark.sql.adaptive.enabled", "true")
        old_width = sp.conf.get("spark.sql.shuffle.partitions", "200")
        sp.conf.set("spark.sql.adaptive.enabled", "false")
        sp.conf.set(
            "spark.sql.shuffle.partitions", str(BOUNDED_ROUND_PARTITIONS)
        )
        try:
            df = df.localCheckpoint(eager=False)
        finally:
            sp.conf.set("spark.sql.adaptive.enabled", old_aqe)
            sp.conf.set("spark.sql.shuffle.partitions", old_width)
    else:
        df = df.localCheckpoint(eager=False)
    try:
        _PERSISTED.append(df._jdf.queryExecution().analyzed().rdd())
    except Exception:
        _PERSISTED.append(df)  # plan shape changed: best-effort fallback
    return df


def release_persisted() -> int:
    """Unpersist every intermediate registered by ``persist`` and
    ``lazy_checkpoint`` (cached DataFrames and localCheckpoint lineage
    leaves); returns the number of handles released. Call only after the
    consuming action — a checkpointed plan re-executed after release would
    have lost its lineage leaf."""
    n = len(_PERSISTED)
    for h in _PERSISTED:
        if isinstance(h, DataFrame):
            h.unpersist()
        else:
            h.unpersist(False)
    _PERSISTED.clear()
    return n
