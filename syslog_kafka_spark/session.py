"""SparkSession factory with scale-appropriate defaults.

Local test runs use ``local[N]``; the same config block is what we would
ship on a real cluster (AQE on, skew-join handling on, broadcast threshold
sized for dimension tables). Nothing here is local-mode-specific except the
master URL, which is only applied when no master is configured.
"""

from __future__ import annotations

import os
import tempfile
import threading
import weakref

from pyspark.sql import SparkSession

# The confs every result depends on: the session time zone decides how a
# timestamp collects and how a string casts to one; Spark 4.1 would infer
# tz-naive parquet timestamps as TIMESTAMP_NTZ, which unix_micros() and
# withWatermark() reject; and an INT64 TIMESTAMP(NANOS) column (pyarrow's
# default) fails to read (PARQUET_TYPE_ILLEGAL) unless it reads as raw
# longs, which the loaders truncate to µs as DuckDB does
# (``readers.normalize_timestamps``). Every session that enters the
# package gets them: ``get_spark`` builds with them, ``__spark_entry__``
# and ``syslog_kafka_spark.sql`` set them on a session the caller built,
# and ``child_session`` on every child. No loader or builder sets them.
RESULT_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

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
    **RESULT_CONFS,
}


# Gitignored scratch root for gate temp dirs and the pyds corpus file,
# next to the package.
WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark-warehouse"
)


def set_confs(spark: SparkSession, confs: dict[str, str]) -> None:
    """Set each session conf in ``confs``. Only ``child_session`` and the
    entry points call it."""
    for key, value in confs.items():
        spark.conf.set(key, value)


# Parent -> {frozenset(confs) -> child}, so a child's table memo stays
# warm across builds; child -> weakref to its parent.
_CHILDREN: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_PARENTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_CHILDREN_LOCK = threading.Lock()


def parent_session(spark: SparkSession) -> SparkSession:
    """The session ``child_session`` made ``spark`` from, else ``spark``:
    the key of what a parent shares with its children (schema memo, cache
    LRU, checkpoint pins), so clearing the parent clears theirs."""
    ref = _PARENTS.get(spark)
    parent = ref() if ref is not None else None
    return spark if parent is None else parent


def child_session(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """``spark.newSession()`` (same context and cache, its own SQL conf and
    temp views) with ``RESULT_CONFS`` and ``confs`` set once; one per
    distinct ``confs`` per parent; asked of a child, it makes a sibling. A
    query that declares confs on ``@query`` runs on one, so no build
    writes a conf on the session it is handed. A child does not see confs
    set on its parent at runtime."""
    spark = parent_session(spark)
    key = frozenset(confs.items())
    with _CHILDREN_LOCK:
        children = _CHILDREN.setdefault(spark, {})
        if key not in children:
            child = spark.newSession()
            set_confs(child, {**RESULT_CONFS, **confs})
            children[key] = child
            _PARENTS[child] = weakref.ref(spark)
        return children[key]


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
