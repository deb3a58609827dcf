"""Plan lifecycle: what persists, checkpoints and re-spreads an operator plan.

Operators stay pure plan builders, but three decisions about a plan's
intermediates are shared by every operator module, so they live here:

- ``persist``: self-joined intermediates (shingles, band tables, round
  tables) are persisted so their pipeline runs once per job.
- ``lazy_checkpoint``: iteration chains cut their lineage with
  ``localCheckpoint(eager=False)`` so an unrolled plan stays linear; a
  chain that converts without AQE does so on a cloned session, so no
  builder writes a conf of its caller's session.
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


# Shuffle width of a non-adaptive conversion (see lazy_checkpoint). One
# width for every caller: for the bounded chains (k*dims centroid cells,
# vocab-capped graphs, Markov state sets) a handful of reduce partitions is
# right at ANY corpus size; for the k-core and LPA rounds it was measured
# against the session width at 4 cores and kept.
NON_ADAPTIVE_WIDTH = 8


def lazy_checkpoint(df: DataFrame, adaptive: bool = True) -> DataFrame:
    """Cut ``df``'s lineage with ``localCheckpoint(eager=False)``.

    ``adaptive=True`` converts the plan to its RDD under the session's own
    confs. With AQE on, that conversion runs every query stage of the round
    as its own Spark job before the caller's action. The
    connected-components family, ``coverage_select`` and PageRank keep it:
    without AQE, ``dedup_clusters`` moved its work into the action and got
    slower.

    ``adaptive=False`` converts on a clone of the session with AQE off and
    the shuffle width at ``NON_ADAPTIVE_WIDTH``, so the round stays lazy RDD
    lineage and runs inside the consuming action as ordinary stages. The
    clone carries the caller's runtime confs (ANSI, time zone); the caller's
    session is never written, and the checkpointed leaf is wrapped back into
    it, where the consuming query still plans with AQE. The leaf keeps the
    conversion's output partitioning (hashed on the round's last key), which
    an adaptive leaf does not: self-joined reads of a persisted copy of it
    miss the cache, so read the leaf itself. The bounded chains
    (k-means, Markov, hitting time, TextRank) and the corpus-scale k-core
    peels and LPA rounds use it: at 4 cores it cut ``iterative_queries``'
    build jobs from 44 to 12 with identical rows.
    """
    if adaptive:
        df = df.localCheckpoint(eager=False)
    else:
        sp = df.sparkSession
        clone = sp._jsparkSession.cloneSession()
        conf = clone.sessionState().conf()
        conf.setConfString("spark.sql.adaptive.enabled", "false")
        conf.setConfString("spark.sql.shuffle.partitions", str(NON_ADAPTIVE_WIDTH))
        dataset = sp._jvm.org.apache.spark.sql.classic.Dataset
        leaf = dataset.ofRows(clone, df._jdf.queryExecution().analyzed())
        leaf = leaf.localCheckpoint(False).logicalPlan()
        df = DataFrame(dataset.ofRows(sp._jsparkSession, leaf), sp)
    # localCheckpoint persists the underlying RDD OUTSIDE the cache manager
    # (DataFrame.unpersist can't see it), so register the LogicalRDD's java
    # RDD handle for release_persisted() to unpersist directly.
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
