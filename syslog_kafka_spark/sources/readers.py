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
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from syslog_kafka_spark.model import TABLE_NAMES
from syslog_kafka_spark.session import parent_session

# Timestamp columns per table. Parquet written with nanosecond timestamps
# (pyarrow's default) reads as raw longs under the session's
# ``spark.sql.legacy.parquet.nanosAsLong`` (``session.RESULT_CONFS``), and
# ``normalize_timestamps`` truncates them to microseconds — the same ns→µs
# truncation DuckDB applies on read, so both engines see identical values.
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


def normalize_timestamps(df: DataFrame, table: str) -> DataFrame:
    """``table``'s timestamp columns in ``df`` as TIMESTAMP: ns longs
    truncated to µs, TIMESTAMP_NTZ cast. Shared by the batch loader and the
    streaming events source, so both read the same values."""
    for col in _TIMESTAMP_COLUMNS.get(table, []):
        dtype = df.schema[col].dataType
        if isinstance(dtype, LongType):
            # integer `div`, not `/`: a double would corrupt 19-digit epochs
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif isinstance(dtype, TimestampNTZType):
            # unix_micros()/withWatermark() reject TIMESTAMP_NTZ. The session
            # tz is UTC, so the cast changes only the type, never the value.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# Parquet schema memo: parent session -> {abspath: schema}. Inferring a
# schema reads the file's footer (~0.7 s for the ten tables at sf0.1). A
# schema is fixed by the file and by RESULT_CONFS, which a parent and its
# children all carry, so a child reuses its parent's (``parent_session``).
_SCHEMA_MEMO: WeakKeyDictionary = WeakKeyDictionary()


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """``spark.read.parquet(path).schema``, read once per parent session."""
    per_family = _SCHEMA_MEMO.setdefault(parent_session(spark), {})
    key = os.path.abspath(path)
    if key not in per_family:
        per_family[key] = spark.read.parquet(path).schema
    return per_family[key]


# Lazy DataFrames are immutable plans, so the ten-table namespace can be
# reused across queries in the same session. Keyed weakly by session (a
# frame belongs to the session that read it), so a stopped session's plans
# are never resurrected.
_TABLE_CACHE: WeakKeyDictionary = WeakKeyDictionary()


def load_tables(spark: SparkSession, sf_dir: str) -> Tables:
    """Load every standard table from ``sf_dir`` as a lazy DataFrame.

    Memoized per (session, sf_dir): DataFrames are lazy immutable plans,
    so reuse is safe. Each table reads with its ``parquet_schema``, so a
    child session's first load reads no footer its parent has read.
    """
    key = os.path.abspath(sf_dir)
    per_session = _TABLE_CACHE.setdefault(spark, {})
    if key not in per_session:
        tables = {}
        for name in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
            tables[name] = normalize_timestamps(df, name)
        per_session[key] = Tables(**tables)
    return per_session[key]


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> Tables:
    """Register the standard tables as temp views (for ``spark.sql``)."""
    tables = load_tables(spark, sf_dir)
    for name in TABLE_NAMES:
        tables[name].createOrReplaceTempView(f"{name}{suffix}")
    return tables


# spread() decision cache: parent session -> {(sorted input files, target):
# under-split?}. The probe (`df.rdd.getNumPartitions()`) compiles a
# separate RDD conversion plan per call, so hot paths that re-build the
# same scan every run should pay it once per source, not per invocation.
# Weak-keyed by ``parent_session``, like _SCHEMA_MEMO above: entries
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
    unneeded shuffle. The under-split decision is cached per (parent
    session, input-file set, target) so repeated builds of the same scan
    skip the RDD-conversion probe."""
    session = df.sparkSession
    target = min_partitions or session.sparkContext.defaultParallelism
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:
        files = ()
    per_family = _SPREAD_CACHE.setdefault(parent_session(session), {})
    key = (files, target)
    under = per_family.get(key) if files else None
    if under is None:
        under = df.rdd.getNumPartitions() < target
        if files:
            per_family[key] = under
    return df.repartition(target) if under else df
