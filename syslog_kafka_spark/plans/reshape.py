"""Reshaping + time-bucketing coverage: pivot / unpivot, the F.window()
batch twin of streaming tumbling windows, NOT IN semantics, value
bucketing.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from syslog_kafka_spark.plans.registry import query
from syslog_kafka_spark.sources.readers import load_tables

_EVENT_TYPES = ["click", "error", "login", "purchase", "signup", "view"]


@query(
    "reshape_pivot_event_counts",
    family="aggregation",
    oracle=f"""
        SELECT user_id,
               {", ".join(f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}" for t in _EVENT_TYPES)}
        FROM events
        WHERE user_id <= 30
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def reshape_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event counts spread over fixed event-type columns.
    Explicit pivot values keep the plan single-pass (no distinct-values
    pre-query) and the output schema deterministic; the oracle states the
    equivalent conditional aggregation."""
    e = load_tables(spark, sf_dir).events
    return (
        e.filter(F.col("user_id") <= 30)
        .groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .fillna(0, subset=_EVENT_TYPES)
        .orderBy("user_id")
    )


@query(
    "reshape_unpivot_acctbal",
    family="aggregation",
    oracle="""
        WITH wide AS (
          SELECT c_nationkey AS n_nationkey,
                 CAST(count(*) AS DOUBLE) AS n_custs,
                 CAST(floor(CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE)
                      / count(*)) AS DOUBLE) / 100 AS avg_bal
          FROM customer GROUP BY c_nationkey
        )
        SELECT n_nationkey, 'avg_bal' AS metric, avg_bal AS value FROM wide
        UNION ALL
        SELECT n_nationkey, 'n_custs' AS metric, n_custs AS value FROM wide
        ORDER BY n_nationkey, metric
    """,
)
def reshape_unpivot_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-nation metrics to (key, metric, value)
    rows — DataFrame.unpivot; the oracle states the UNION ALL equivalent."""
    c = load_tables(spark, sf_dir).customer
    # integer-cents average (see tpch_like note: engines round doubles
    # differently at half-cent boundaries)
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    wide = c.groupBy(F.col("c_nationkey").alias("n_nationkey")).agg(
        F.count("*").cast("double").alias("n_custs"),
        (F.floor(F.sum(cents).cast("double") / F.count("*")).cast("double") / 100).alias("avg_bal"),
    )
    return (
        wide.unpivot("n_nationkey", ["n_custs", "avg_bal"], "metric", "value")
        .orderBy("n_nationkey", "metric")
    )


@query(
    "window_tumbling_batch_twin",
    family="windows",
    oracle="""
        SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start,
               event_type,
               count(*) AS n,
               CAST(round(sum(value), 2) AS DOUBLE) AS total_value
        FROM events
        WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
        GROUP BY window_start, event_type
        ORDER BY window_start, event_type
    """,
)
def window_tumbling_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch twin of the streaming tumbling-window aggregation:
    F.window() on a batch frame vs DuckDB time_bucket (identical buckets
    for hour-divisible widths — both epoch-aligned)."""
    e = load_tables(spark, sf_dir).events
    return (
        e.filter(F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "join_not_in_subquery",
    family="joins",
    oracle="""
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey NOT IN (
          SELECT l_suppkey FROM lineitem WHERE l_quantity >= 49.5
        )
        ORDER BY s_suppkey
    """,
)
def join_not_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with a null-free subquery (→ anti-join; with possible nulls
    NOT IN becomes null-aware anti-join, same Catalyst path)."""
    t = load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM {supplier}
        WHERE s_suppkey NOT IN (
          SELECT l_suppkey FROM {lineitem} WHERE l_quantity >= 49.5
        )
        ORDER BY s_suppkey
        """,
        supplier=t.supplier,
        lineitem=t.lineitem,
    )


@query(
    "scalar_value_bucketing",
    family="scalars",
    oracle="""
        SELECT
          least(greatest(CAST(floor(o_totalprice / 50000) AS INT), 0), 9) AS price_bucket,
          count(*) AS n,
          CAST(round(min(o_totalprice), 2) AS DOUBLE) AS bucket_min,
          CAST(round(max(o_totalprice), 2) AS DOUBLE) AS bucket_max
        FROM orders
        GROUP BY price_bucket
        ORDER BY price_bucket
    """,
)
def scalar_value_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram bucketing (width_bucket equivalent, stated as arithmetic
    since DuckDB lacks width_bucket): 50k-wide price buckets, clamped."""
    o = load_tables(spark, sf_dir).orders
    bucket = F.least(
        F.greatest(F.floor(F.col("o_totalprice") / 50000).cast("int"), F.lit(0)), F.lit(9)
    )
    return (
        o.groupBy(bucket.alias("price_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("bucket_min"),
            F.round(F.max("o_totalprice"), 2).alias("bucket_max"),
        )
        .orderBy("price_bucket")
    )


@query(
    "reshape_pivot_multi_agg",
    family="aggregation",
    oracle="""
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click') AS click_n,
               CAST(round(coalesce(sum(value) FILTER (WHERE event_type = 'click'), 0), 2) AS DOUBLE) AS click_sum,
               count(*) FILTER (WHERE event_type = 'view') AS view_n,
               CAST(round(coalesce(sum(value) FILTER (WHERE event_type = 'view'), 0), 2) AS DOUBLE) AS view_sum
        FROM events
        WHERE user_id <= 30
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def reshape_pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with MULTIPLE aggregates per cell: each pivot value fans out
    to a (count, sum) column pair — the wide-metrics matrix dashboards
    read. Spark names multi-agg pivot columns `<value>_<alias>`; explicit
    pivot values keep it one pass and a fixed schema, and the oracle is
    the FILTER-clause conditional aggregation the pivot desugars to."""
    e = load_tables(spark, sf_dir).events
    out = (
        e.filter(F.col("user_id") <= 30)
        .groupBy("user_id")
        .pivot("event_type", ["click", "view"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias("sum"),
        )
        .orderBy("user_id")
    )
    return out.select(
        "user_id",
        F.coalesce(F.col("click_n"), F.lit(0)).alias("click_n"),
        F.coalesce(F.col("click_sum"), F.lit(0.0)).alias("click_sum"),
        F.coalesce(F.col("view_n"), F.lit(0)).alias("view_n"),
        F.coalesce(F.col("view_sum"), F.lit(0.0)).alias("view_sum"),
    )
