"""Plan-lifecycle helpers (inde1_spark/plans/lifecycle.py).

``lazy_checkpoint(adaptive=False)`` converts on a clone of the caller's
session, with AQE off at the non-adaptive width and the caller's other
runtime confs, and never writes a conf of the caller's session, also when
the conversion raises. ``spread`` must fix its repartition at the
session's shuffle width when it is called, and that width is one partition
per core unless the deployment sets it. Every test here builds plans
only: the job group fixture fails any test that fires a Spark job while
building.
"""

from __future__ import annotations

import os
import re
import sys

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql.conf import RuntimeConfig
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from inde1_spark.plans import lifecycle

AQE = "spark.sql.adaptive.enabled"
WIDTH = "spark.sql.shuffle.partitions"
TZ = "spark.sql.session.timeZone"
GROUP = "lifecycle-no-jobs"


@pytest.fixture
def session(spark):
    """The shared session with three confs saved and a job group set;
    asserts on teardown that no job ran in the group and restores the
    confs."""
    saved = {k: spark.conf.get(k) for k in (AQE, WIDTH, TZ)}
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


def _writes_denied(monkeypatch):
    """Fail any write to a session's runtime confs from Python."""

    def denied(self, *args):
        raise AssertionError(f"conf written: {args}")

    monkeypatch.setattr(RuntimeConfig, "set", denied)
    monkeypatch.setattr(RuntimeConfig, "unset", denied)


def test_non_adaptive_checkpoint_never_writes_caller_confs(session, monkeypatch):
    session.conf.set(AQE, "true")
    session.conf.set(WIDTH, "13")
    before = dict(session.conf.getAll)
    _writes_denied(monkeypatch)
    try:
        out = lifecycle.lazy_checkpoint(_df(session), adaptive=False)
        assert out.columns == ["a", "b", "c"]
        assert out.sparkSession is session
        assert dict(session.conf.getAll) == before
        # a plan the conversion rejects: batch planning of a streaming source
        stream = session.readStream.format("rate").load()
        with pytest.raises(AnalysisException, match="streaming sources"):
            lifecycle.lazy_checkpoint(stream, adaptive=False)
        assert dict(session.conf.getAll) == before
    finally:
        lifecycle.release_persisted()


def test_non_adaptive_checkpoint_runs_on_a_clone_without_aqe(session):
    session.conf.set(AQE, "true")
    session.conf.set(WIDTH, "13")
    session.conf.set(TZ, "Asia/Kathmandu")
    try:
        grouped = _df(session).groupBy("a").count()
        out = lifecycle.lazy_checkpoint(grouped, adaptive=False)
        # with AQE on, the conversion would have run the exchange as a job
        # (the fixture fails the test) and coalesced the width; without it
        # the round is lazy lineage at the non-adaptive width
        leaf = out._jdf.queryExecution().analyzed()
        assert leaf.getClass().getSimpleName() == "LogicalRDD"
        assert leaf.rdd().getNumPartitions() == lifecycle.NON_ADAPTIVE_WIDTH
        # the clone carries the caller's runtime confs: its optimizer folds
        # current_timezone() from the caller's zone, where a fresh session
        # would use the JVM default. Reading the row runs one job, outside
        # the group the fixture checks
        tz = lifecycle.lazy_checkpoint(
            session.range(1).select(F.current_timezone().alias("tz")),
            adaptive=False,
        )
        session.sparkContext.setJobGroup("lifecycle-read", "read the row")
        assert tz.collect()[0].tz == "Asia/Kathmandu"
    finally:
        lifecycle.release_persisted()


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
