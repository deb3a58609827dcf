"""Plan-lifecycle helpers (inde1_spark/plans/lifecycle.py).

``lazy_checkpoint(bounded=True)`` flips two session confs around the
plan->RDD conversion and must hand them back unchanged, also when the
checkpoint raises. ``spread`` must fix its repartition at the session's
shuffle width when it is called, and that width is one partition per core
unless the deployment sets it. Every test here builds plans only: the job
group fixture fails any test that fires a Spark job.
"""

from __future__ import annotations

import os
import re
import sys

import pytest
from pyspark.sql import DataFrame

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from inde1_spark.plans import lifecycle

AQE = "spark.sql.adaptive.enabled"
WIDTH = "spark.sql.shuffle.partitions"
GROUP = "lifecycle-no-jobs"


@pytest.fixture
def session(spark):
    """The shared session with its two confs saved and a job group set;
    asserts on teardown that no job ran and restores both confs."""
    saved = {k: spark.conf.get(k) for k in (AQE, WIDTH)}
    sc = spark.sparkContext
    sc.setJobGroup(GROUP, "lifecycle tests fire no jobs")
    try:
        yield spark
        assert list(sc.statusTracker().getJobIdsForGroup(GROUP)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        for k, v in saved.items():
            spark.conf.set(k, v)


def _df(spark) -> DataFrame:
    return spark.createDataFrame([(1, 2, 3)], "a long, b long, c long")


def test_bounded_checkpoint_restores_session_confs(session):
    session.conf.set(AQE, "true")
    session.conf.set(WIDTH, "13")
    try:
        out = lifecycle.lazy_checkpoint(_df(session), bounded=True)
        assert out.columns == ["a", "b", "c"]
        assert session.conf.get(AQE) == "true"
        assert session.conf.get(WIDTH) == "13"
    finally:
        lifecycle.release_persisted()


def test_bounded_checkpoint_restores_confs_when_checkpoint_raises(
    session, monkeypatch
):
    seen = {}

    def boom(self, eager=True):
        seen.update({k: session.conf.get(k) for k in (AQE, WIDTH)})
        raise RuntimeError("checkpoint failed")

    df = _df(session)
    monkeypatch.setattr(type(df), "localCheckpoint", boom)
    session.conf.set(AQE, "true")
    session.conf.set(WIDTH, "13")
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        lifecycle.lazy_checkpoint(df, bounded=True)
    # the conversion ran with AQE off at the bounded width ...
    assert seen == {
        AQE: "false",
        WIDTH: str(lifecycle.BOUNDED_ROUND_PARTITIONS),
    }
    # ... and the session got its own values back
    assert session.conf.get(AQE) == "true"
    assert session.conf.get(WIDTH) == "13"


@pytest.mark.parametrize("width", [7, 11])
def test_spread_fixes_the_width_it_was_built_with(session, width):
    session.conf.set(WIDTH, str(width))
    df = lifecycle.spread(_df(session), "a", "b")
    # a keyed-only repartition would pick up the width at planning time
    # and let AQE coalesce it (REPARTITION_BY_COL); spread's count is fixed
    session.conf.set(WIDTH, "3")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        rf"hashpartitioning\(a#\d+L?, b#\d+L?, {width}\), REPARTITION_BY_NUM",
        plan,
    ), plan


@pytest.mark.skipif(
    "SPARK_GRAFT_SHUFFLE_PARTITIONS" in os.environ,
    reason="the env var sets the session's shuffle width",
)
def test_session_width_is_one_partition_per_core(session):
    assert session.conf.get(WIDTH) == str(session.sparkContext.defaultParallelism)
