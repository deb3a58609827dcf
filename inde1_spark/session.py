"""SparkSession factory with scale-oriented defaults.

The reference enables AQE + partition coalescing + skew-join handling and Kryo
(apps/srvc-stats/src/main/scala/srvc-stats/MainHourly.scala:193-230). We keep
those and add the settings that matter on a real cluster:

- ``spark.sql.session.timeZone=UTC``: the reference stores ISO-8601 UTC
  strings; we use real TimestampType pinned to UTC so event-time windows are
  unambiguous.
- ``spark.sql.shuffle.partitions``: the cores Spark schedules on
  (``defaultParallelism``); override per deployment with the
  ``shuffle_partitions`` argument or ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` (on
  a 1000-executor cluster ~2-3x total cores; AQE coalesces down). State
  stores and micro-batch shuffles run with AQE off at exactly this width.
- Arrow enabled for the few pandas-interop paths (multimodal stubs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "inde1-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    Local tests run ``local[$SPARK_GRAFT_CPUS]``; on a cluster the master is
    supplied by spark-submit and this factory only contributes conf. A
    session with no shuffle width set gets one partition per core; a width
    already set (argument, env, ``extra_conf`` or spark-defaults) stays.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None and "SPARK_GRAFT_SHUFFLE_PARTITIONS" in os.environ:
        shuffle_partitions = int(os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"])

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # AQE re-plans at runtime: coalesces tiny post-shuffle partitions and
        # splits skewed ones — essential at 100 TB where static partition
        # counts are always wrong somewhere.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast threshold: dimension tables (users/capacity/nation/region)
        # must broadcast, never shuffle the fact side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if spark.conf.get("spark.sql.shuffle.partitions", None) is None:
        # no width from the caller, the env or the deployment's Spark conf:
        # one shuffle partition per core the session schedules on
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    return spark
