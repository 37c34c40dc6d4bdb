"""SparkSession factory with scale-appropriate defaults.

Local test runs use ``local[N]``; the same config block is what we would
ship on a real cluster (AQE on, skew-join handling on, broadcast threshold
sized for dimension tables). Nothing here is local-mode-specific except the
master URL, which is only applied when no master is configured.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# Defaults chosen for the target workload (star-schema joins + wide scans):
# - AQE re-plans shuffles at runtime (coalesces small partitions, converts
#   sort-merge joins to broadcast when the built side turns out small, and
#   splits skewed partitions) — essential at 100 TB, harmless at sf0.001.
# - 64 MB advisory partition size keeps post-shuffle partitions big enough
#   to amortize task overhead but small enough to fit executor memory.
# - Arrow enabled for every pandas UDF / toPandas boundary.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    # local[*] runs driver == executor; size the one heap for the data scale
    # ($SPARK_GRAFT_DRIVER_MEM — the sf10 probe needs more than the 8g that
    # comfortably fits every sf<=1 sweep). On a real cluster this is the
    # executor-memory dial.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # Parquet scans: vectorized reader + pushdown are on by default; pin
    # them anyway so a misconfigured environment can't silently disable.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Spark 4.1 infers tz-naive parquet timestamps as TIMESTAMP_NTZ, which
    # unix_micros()/withWatermark() reject. Read them as TIMESTAMP (session
    # tz is pinned UTC, so values are unchanged).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def _warm_python_workers(spark: SparkSession) -> None:
    """Spin up the executor Python-worker fleet once at session build.

    The first query that crosses the JVM→Python boundary otherwise pays
    the whole fleet bring-up INSIDE its own wall time: one worker per
    core, each forking off the daemon and importing pyspark + numpy +
    pandas + pyarrow (measured r14 on local[32]: the first mapInArrow
    pass ran 7.1 s vs 1.0 s for the identical second pass — ~6 s of
    nothing but worker spin-up, landing on whichever user query happens
    to run first). Warming at session build is the same policy the bench
    already applies to the JVM and parquet footers: session bring-up is a
    session cost, not a property of any query. One partition per core so
    every worker slot forks and imports; the no-op kernel touches no
    data. ``SPARK_GRAFT_WARM_PYTHON=0`` opts out (e.g. pure-JVM batch
    deployments that never run a Python stage)."""
    if os.environ.get("SPARK_GRAFT_WARM_PYTHON", "1") == "0":
        return

    def _noop_kernel(batches):
        import numpy  # noqa: F401 — fleet import warm-up
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        yield from batches

    try:
        import pyspark.sql.functions as F
        from pyspark.sql.pandas.functions import pandas_udf

        n = spark.sparkContext.defaultParallelism
        (
            spark.range(0, n, 1, n)
            .mapInArrow(_noop_kernel, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

        # The scalar pandas-UDF path keys a SEPARATE worker pool (the
        # factory keys on worker env, which differs from mapInArrow), so
        # warm it too — it serves every ArrowEvalPython stage.
        @pandas_udf("long")
        def _warm_identity(s):
            return s

        (
            spark.range(0, n, 1, n)
            .select(_warm_identity(F.col("id")))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception as e:
        # Warm-up must never fail a session build (e.g. a stripped-down
        # runtime without pandas); the first Python query then pays the
        # bring-up itself. The socket source and the encoders run on this
        # same worker fleet, so say why it failed.
        log.warning("Python worker warm-up failed: %s: %s", type(e).__name__, e)


def get_spark(app_name: str = "syslog-kafka-spark", **overrides: str) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``overrides`` take precedence over defaults. The master URL comes from
    ``$SPARK_GRAFT_CPUS`` (``local[N]``) when launching a fresh local JVM.
    """
    builder = SparkSession.builder.appName(app_name)
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
    conf = dict(_DEFAULTS)
    conf.update(overrides)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _warm_python_workers(spark)
    return spark
