"""SparkSession factory with scale-appropriate defaults.

Local test runs use ``local[N]``; the same config block is what we would
ship on a real cluster (AQE on, skew-join handling on, broadcast threshold
sized for dimension tables). Nothing here is local-mode-specific except the
master URL, which is only applied when no master is configured.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

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


# Gitignored scratch root for gate temp dirs and the pyds corpus file,
# next to the package.
WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark-warehouse"
)


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set each session conf in ``confs`` for the block. On exit (also
    when the block raises) restore each key's prior value, or unset it if
    it was unset before. This is the one way plan code pins a session
    conf, so no builder leaves a flip behind on a shared session."""
    prior = {key: spark.conf.get(key, None) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def warehouse_tmp(prefix: str) -> tempfile.TemporaryDirectory:
    """A fresh temp dir under the gitignored spark-warehouse root, removed
    when its ``with`` block exits. Unique per call, so concurrent builds
    never share a path."""
    os.makedirs(WAREHOUSE, exist_ok=True)
    return tempfile.TemporaryDirectory(
        prefix=prefix, dir=WAREHOUSE, ignore_cleanup_errors=True
    )


def get_spark(app_name: str = "syslog-kafka-spark", **overrides: str) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults. Runs no job:
    a caller that times a query's first run warms the session itself
    (``bench.first_touch``).

    ``overrides`` take precedence over defaults. The master URL is
    ``$SPARK_MASTER``, else ``local[$SPARK_GRAFT_CPUS]`` (all cores when
    unset). An active session is returned as is.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    )
    conf = dict(_DEFAULTS)
    conf.update(overrides)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
