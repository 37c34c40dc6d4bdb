"""Batch table loaders for the engine's relational surface.

Parquet is the canonical storage format; CSV/JSON/text are supported as
schema-on-read ingest paths. All loads are plain ``spark.read`` so Catalyst
gets full pushdown/pruning — no RDD-level reading anywhere.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields
from weakref import WeakKeyDictionary

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, TimestampNTZType

from syslog_kafka_spark.model import TABLE_NAMES

# Parquet written with nanosecond timestamps (pyarrow default) is illegal
# for Spark's vectorized reader. We read nanos as raw longs and truncate to
# microseconds — the same ns→µs truncation DuckDB applies on read, so both
# engines see identical values. Integer `div` (not `/`) avoids the double
# round-trip that would corrupt 19-digit nanosecond epochs.
_TIMESTAMP_COLUMNS = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}


@dataclass
class Tables:
    """Namespace of the ten standard tables as DataFrames."""

    region: DataFrame
    nation: DataFrame
    customer: DataFrame
    supplier: DataFrame
    part: DataFrame
    orders: DataFrame
    lineitem: DataFrame
    events: DataFrame
    documents: DataFrame
    embeddings: DataFrame

    def __getitem__(self, name: str) -> DataFrame:
        return getattr(self, name)

    @property
    def names(self) -> list[str]:
        return [f.name for f in fields(self)]


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _TIMESTAMP_COLUMNS.get(name, []):
        dtype = df.schema[col].dataType
        if isinstance(dtype, LongType):
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif isinstance(dtype, TimestampNTZType):
            # Spark 4.1 infers tz-naive parquet timestamps as TIMESTAMP_NTZ,
            # which unix_micros()/withWatermark() reject. Session tz is pinned
            # UTC, so the cast changes only the type, never the value.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# Lazy DataFrames are immutable plans, so the ten-table namespace can be
# reused across queries in the same session: rebuilding it costs ten
# spark.read.parquet schema round-trips (~1 s of driver time) that
# otherwise taxes EVERY query build. Keyed weakly by session so a stopped
# session's plans are never resurrected.
_TABLE_CACHE: WeakKeyDictionary = WeakKeyDictionary()


def load_tables(spark: SparkSession, sf_dir: str, *, refresh: bool = False) -> Tables:
    """Load every standard table from ``sf_dir`` as a lazy DataFrame.

    Memoized per (session, sf_dir): DataFrames are lazy immutable plans,
    so reuse is safe and saves the per-table schema-inference round trips.
    ``refresh=True`` forces a rebuild (e.g. after overwriting fixtures).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = os.path.abspath(sf_dir)
    per_session = _TABLE_CACHE.setdefault(spark, {})
    if refresh or key not in per_session:
        per_session[key] = Tables(
            **{name: _read_table(spark, sf_dir, name) for name in TABLE_NAMES}
        )
    return per_session[key]


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> Tables:
    """Register the standard tables as temp views (for ``spark.sql``)."""
    tables = load_tables(spark, sf_dir)
    for name in TABLE_NAMES:
        tables[name].createOrReplaceTempView(f"{name}{suffix}")
    return tables


# spread() decision cache: session -> {(sorted input files, target):
# under-split?}. The probe (`df.rdd.getNumPartitions()`) compiles a
# separate RDD conversion plan per call, so hot paths that re-build the
# same scan every run should pay it once per source, not per invocation.
# Weak-keyed by the SparkSession object, like _TABLE_CACHE above: entries
# die with their session (an id()-keyed dict could serve a dead session's
# verdict to a new one allocated at the recycled address).
_SPREAD_CACHE: WeakKeyDictionary = WeakKeyDictionary()


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a frame UP to the session's parallelism iff it is
    under-split — the guard for per-row-heavy stages (shingle hashing,
    winnowing, signature computation) fed by small files.

    A single sf0.1 parquet file opens as ONE input split, which silently
    serializes every downstream array-lambda onto one core (measured:
    the winnowing pass dropped 12.8 s → 6.4 s and the LSH shingle base
    similarly once spread). At warehouse scale inputs arrive
    pre-split, the partition count exceeds the floor, and this is a
    no-op — it only defends the small-file edge, never adds a shuffle
    to a properly-partitioned scan.

    CONTRACT: only wrap scan-adjacent NARROW plans (projections/filters
    straight off a file scan — the current call sites). The probe reads
    the pre-execution partition count, which for a plan containing its
    own shuffle can differ from the AQE-coalesced runtime partitioning —
    on such plans the check could both false-positive and pay an
    unneeded shuffle. The under-split decision is cached per (session,
    input-file set, target) so repeated builds of the same scan skip the
    RDD-conversion probe."""
    session = df.sparkSession
    target = min_partitions or session.sparkContext.defaultParallelism
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:
        files = ()
    per_session = _SPREAD_CACHE.setdefault(session, {})
    key = (files, target)
    under = per_session.get(key) if files else None
    if under is None:
        under = df.rdd.getNumPartitions() < target
        if files:
            per_session[key] = under
    return df.repartition(target) if under else df
