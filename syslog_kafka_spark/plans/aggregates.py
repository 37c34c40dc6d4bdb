"""Aggregation surface (SURVEY §2B.4): groupBy/agg, rollup, cube, having,
multi-distinct, conditional aggregation, deterministic collect_list.

All plans are DataFrame-API; Catalyst plans partial (map-side) aggregation
for every hash aggregate here, so these scale linearly with input —
the only shuffle is on the (low-cardinality) grouping keys.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from syslog_kafka_spark.operators.session_cache import session_cache
from syslog_kafka_spark.plans.registry import query
from syslog_kafka_spark.sources.readers import load_tables


@query(
    "agg_pricing_summary",
    family="aggregation",
    oracle="""
        SELECT
          l_returnflag,
          l_linestatus,
          CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
          CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
          CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS sum_disc_price,
          CAST(round(avg(l_quantity), 2) AS DOUBLE) AS avg_qty,
          CAST(round(avg(l_discount), 4) AS DOUBLE) AS avg_disc,
          count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan → filter → hash-agg → sort.

    Catalyst pushes the shipdate predicate into the parquet scan and does a
    partial aggregate before the 6-group shuffle, so the exchange carries
    only (flag, status) partials regardless of input size.
    """
    li = load_tables(spark, sf_dir).lineitem
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_revenue_forecast",
    family="aggregation",
    oracle="""
        SELECT CAST(round(sum(l_extendedprice * l_discount), 2) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
)
def agg_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: tight range predicates all pushed to the scan, then a
    single global sum — no grouping shuffle at all (partial sums reduce to
    one row)."""
    li = load_tables(spark, sf_dir).lineitem
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@query(
    "agg_multi_distinct",
    family="aggregation",
    oracle="""
        SELECT
          o_orderstatus,
          count(DISTINCT o_custkey) AS n_custs,
          count(DISTINCT o_orderpriority) AS n_prios,
          count(*) AS n_orders,
          CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple count(DISTINCT) in one aggregate — Catalyst rewrites to an
    expand + two-phase aggregate rather than N self-joins."""
    o = load_tables(spark, sf_dir).orders
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.countDistinct("o_orderpriority").alias("n_prios"),
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "agg_rollup_revenue",
    family="aggregation",
    oracle="""
        SELECT
          coalesce(l_returnflag, '<all>') AS returnflag,
          coalesce(l_linestatus, '<all>') AS linestatus,
          CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue,
          count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY returnflag, linestatus
    """,
)
def agg_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals; null grouping slots made explicit with a
    sentinel so the sort is deterministic across engines."""
    li = load_tables(spark, sf_dir).lineitem
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "revenue",
            "n",
        )
        .orderBy("returnflag", "linestatus")
    )


@query(
    "agg_cube_orders",
    family="aggregation",
    oracle="""
        SELECT
          coalesce(o_orderstatus, '<all>') AS status,
          coalesce(o_orderpriority, '<all>') AS priority,
          count(*) AS n,
          CAST(round(avg(o_totalprice), 2) AS DOUBLE) AS avg_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY status, priority
    """,
)
def agg_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions (all four grouping-set combinations)."""
    o = load_tables(spark, sf_dir).orders
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.avg("o_totalprice"), 2).alias("avg_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "n",
            "avg_price",
        )
        .orderBy("status", "priority")
    )


@query(
    "agg_having_big_customers",
    family="aggregation",
    oracle="""
        SELECT o_custkey, count(*) AS n_orders,
               CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS spend
        FROM orders
        GROUP BY o_custkey
        HAVING count(*) >= 8
        ORDER BY o_custkey
    """,
)
def agg_having_big_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregate filter)."""
    o = load_tables(spark, sf_dir).orders
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("spend"))
        .filter(F.col("n_orders") >= 8)
        .orderBy("o_custkey")
    )


@query(
    "agg_conditional",
    family="aggregation",
    oracle="""
        SELECT
          l_returnflag,
          CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_bulk,
          CAST(sum(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_full_price,
          CAST(round(sum(CASE WHEN l_tax > 0.04 THEN l_extendedprice ELSE 0.0 END), 2) AS DOUBLE)
            AS high_tax_base
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (sum of CASE WHEN) — pivots without a pivot."""
    li = load_tables(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(F.col("l_quantity") > 25, 1).otherwise(0)).cast("bigint").alias("n_bulk"),
            F.sum(F.when(F.col("l_discount") == 0, 1).otherwise(0)).cast("bigint").alias("n_full_price"),
            F.round(
                F.sum(F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice")).otherwise(F.lit(0.0))), 2
            ).alias("high_tax_base"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_collect_sorted",
    family="aggregation",
    oracle="""
        SELECT n_regionkey,
               array_to_string(list(n_name ORDER BY n_name), ',') AS nations
        FROM nation
        GROUP BY n_regionkey
        ORDER BY n_regionkey
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list made deterministic via array_sort (collect order is not
    defined under parallel execution, so the sort is mandatory). The array
    is projected through array_join so the gated output is scalar-only —
    the driver's canonicalizer cannot hash list cells."""
    n = load_tables(spark, sf_dir).nation
    return (
        n.groupBy("n_regionkey")
        .agg(F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"))
        .orderBy("n_regionkey")
    )


@query(
    "agg_min_max_extremes",
    family="aggregation",
    oracle="""
        SELECT
          l_linestatus,
          CAST(min(l_extendedprice) AS DOUBLE) AS min_price,
          CAST(max(l_extendedprice) AS DOUBLE) AS max_price,
          min(l_shipdate) AS first_ship,
          max(l_shipdate) AS last_ship
        FROM lineitem
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """,
)
def agg_min_max_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max over doubles and timestamps (exact, no rounding needed)."""
    li = load_tables(spark, sf_dir).lineitem
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "agg_stats_moments",
    family="aggregation",
    oracle="""
        SELECT
          l_returnflag,
          CAST(round(stddev_samp(l_extendedprice), 2) AS DOUBLE) AS price_stddev,
          CAST(round(var_samp(l_quantity), 2) AS DOUBLE) AS qty_var,
          CAST(round(corr(l_quantity, l_extendedprice), 4) AS DOUBLE) AS qty_price_corr,
          CAST(round(covar_samp(l_quantity, l_extendedprice), 2) AS DOUBLE) AS qty_price_covar
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/correlation/covariance."""
    li = load_tables(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_stddev"),
            F.round(F.var_samp("l_quantity"), 2).alias("qty_var"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_covar"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_exact_percentiles",
    family="aggregation",
    oracle="""
        SELECT
          o_orderstatus,
          CAST(round(quantile_cont(o_totalprice, 0.5), 2) AS DOUBLE) AS median_price,
          CAST(round(quantile_cont(o_totalprice, 0.9), 2) AS DOUBLE) AS p90_price
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (interpolated) percentiles — Spark percentile() and DuckDB
    quantile_cont() both use linear interpolation."""
    o = load_tables(spark, sf_dir).orders
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("median_price"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "agg_rollup_cascade",
    family="aggregation",
    oracle="""
        WITH minute AS (
          SELECT date_trunc('minute', ts) AS bucket,
                 count(*) AS n, sum(value) AS sv
          FROM events GROUP BY 1
        ),
        hour AS (
          SELECT CAST(date_trunc('hour', bucket) AS TIMESTAMP) AS bucket,
                 CAST(sum(n) AS BIGINT) AS n, sum(sv) AS sv
          FROM minute GROUP BY 1
        ),
        day AS (
          SELECT CAST(date_trunc('day', bucket) AS TIMESTAMP) AS bucket,
                 CAST(sum(n) AS BIGINT) AS n, sum(sv) AS sv
          FROM hour GROUP BY 1
        )
        SELECT * FROM (
          SELECT 'minute' AS resolution, bucket, n AS n_events,
                 CAST(round(sv, 2) AS DOUBLE) AS sum_value
          FROM minute
          WHERE bucket >= TIMESTAMP '2024-01-05 00:00:00'
            AND bucket < TIMESTAMP '2024-01-06 00:00:00'
          UNION ALL
          SELECT 'hour', bucket, n, CAST(round(sv, 2) AS DOUBLE) FROM hour
          UNION ALL
          SELECT 'day', bucket, n, CAST(round(sv, 2) AS DOUBLE) FROM day
        )
        ORDER BY resolution, bucket
    """,
)
def agg_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup cascade (hypertable-style continuous
    aggregate): minute buckets aggregate raw events ONCE; hour re-
    aggregates minute partials; day re-aggregates hour — coarser levels
    never rescan the fact table, which at 100 TB is the difference
    between one pass and three. Rounding happens only at the output so
    the cascade sums full-precision partials. Minute rows are emitted
    for one day's slice; hour/day cover the whole range."""
    e = load_tables(spark, sf_dir).events
    # cache barriers make the cascade physically single-scan: without
    # them each union branch re-derives from parquet (3 scans of the
    # fact table — plan-asserted in tests/test_plan_quality.py). At
    # warehouse scale these are the materialized continuous-aggregate
    # tables the next level reads.
    minute = session_cache(
        e.groupBy(F.date_trunc("minute", "ts").alias("bucket")).agg(
            F.count("*").alias("n"), F.sum("value").alias("sv")
        ),
        eager=False,
    )
    hour = session_cache(
        minute.groupBy(F.date_trunc("hour", "bucket").alias("bucket")).agg(
            F.sum("n").alias("n"), F.sum("sv").alias("sv")
        ),
        eager=False,
    )
    day = (
        hour.groupBy(F.date_trunc("day", "bucket").alias("bucket"))
        .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    )

    def level(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("resolution"),
            F.col("bucket"),
            F.col("n").alias("n_events"),
            F.round("sv", 2).alias("sum_value"),
        )

    minute_slice = level(minute, "minute").filter(
        (F.col("bucket") >= "2024-01-05 00:00:00") & (F.col("bucket") < "2024-01-06 00:00:00")
    )
    return (
        minute_slice.unionAll(level(hour, "hour"))
        .unionAll(level(day, "day"))
        .orderBy("resolution", "bucket")
    )


@query(
    "agg_bool_bitwise",
    family="aggregation",
    oracle="""
        SELECT l_returnflag,
          bool_and(l_shipdate < TIMESTAMP '1999-01-01') AS all_pre1999,
          bool_or(l_quantity >= 50) AS any_max_qty,
          CAST(bit_and(l_orderkey) AS BIGINT) AS key_and,
          CAST(bit_or(l_linenumber) AS BIGINT) AS line_or,
          CAST(bit_xor(l_orderkey) AS BIGINT) AS key_xor
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def agg_bool_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean (every/any) and bitwise (AND/OR/XOR) aggregates — all
    commutative-associative, so partial map-side combine applies and the
    shuffle carries one value per group per expression."""
    li = load_tables(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.bool_and(F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp")).alias(
                "all_pre1999"
            ),
            F.bool_or(F.col("l_quantity") >= 50).alias("any_max_qty"),
            F.bit_and("l_orderkey").cast("bigint").alias("key_and"),
            F.bit_or("l_linenumber").cast("bigint").alias("line_or"),
            F.bit_xor("l_orderkey").cast("bigint").alias("key_xor"),
        )
        .orderBy("l_returnflag")
    )


_MONTH_SPINE_SQL = """
    WITH RECURSIVE months(m) AS (
      SELECT TIMESTAMP '1995-01-01 00:00:00'
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM months
      WHERE m < TIMESTAMP '1996-12-01 00:00:00'
    )
    SELECT CAST(m AS DATE) AS month_start,
           count(o_orderkey) AS n_orders,
           CAST(round(coalesce(sum(o_totalprice), 0), 2) AS DOUBLE) AS revenue
    FROM months LEFT JOIN {orders} ON date_trunc('month', o_orderdate) = m
    GROUP BY m
    ORDER BY month_start
"""


@query(
    "agg_recursive_month_spine",
    family="aggregation",
    oracle=_MONTH_SPINE_SQL.format(orders="orders"),
)
def agg_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4) as a calendar spine: 24 month starts
    generated by UNION ALL recursion, left-joined to orders so zero-order
    months survive with revenue 0. The SQL text is IDENTICAL on both
    engines (modulo the table reference) — the strongest dialect-parity case in
    the inventory. Recursion in Spark is UNION ALL only (no cycle-safe
    UNION yet), which a finite monotone generator like this satisfies by
    construction; the spine is 24 rows, so the recursion cost is nil and
    the join broadcasts the spine against the fact table."""
    return spark.sql(_MONTH_SPINE_SQL, orders=load_tables(spark, sf_dir).orders)


@query(
    "agg_listagg_nations",
    family="aggregation",
    oracle="""
        SELECT r_name,
               string_agg(n_name, ',' ORDER BY n_name) AS nations,
               count(*) AS n
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY r_name
    """,
)
def agg_listagg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG ... WITHIN GROUP (Spark 4 / ANSI) — ordered string
    aggregation per region (DuckDB spells it string_agg ORDER BY). The
    deterministic ORDER BY inside the aggregate is the point: unordered
    collect_list would hash-mismatch run to run. Region/nation are tiny
    dims, so the join broadcasts and the aggregation is one exchange on
    r_name."""
    t = load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT r_name,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
               count(*) AS n
        FROM {nation} JOIN {region} ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY r_name
        """,
        nation=t.nation,
        region=t.region,
    )


@query(
    "agg_corr_regression",
    family="aggregation",
    oracle="""
        SELECT l_returnflag,
               CAST(round(corr(l_quantity, l_extendedprice), 4) AS DOUBLE) AS qty_price_corr,
               CAST(round(covar_pop(l_quantity, l_extendedprice), 2) AS DOUBLE) AS qty_price_covar,
               CAST(round(regr_slope(l_extendedprice, l_quantity), 2) AS DOUBLE) AS price_per_qty,
               CAST(round(regr_intercept(l_extendedprice, l_quantity), 2) AS DOUBLE) AS price_at_zero,
               CAST(round(regr_r2(l_extendedprice, l_quantity), 4) AS DOUBLE) AS fit_r2,
               count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def agg_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates — corr, covar_pop, and the OLS
    regr_* family (slope / intercept / R²) per group. All are single-pass
    partial-aggregable moments (sum x, sum y, sum xy, sum x², n), so the
    plan is one hash aggregate with map-side combine: the shuffle carries
    five doubles per group regardless of fact-table size — scale-safe at
    100 TB."""
    li = load_tables(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
            F.round(F.covar_pop("l_quantity", "l_extendedprice"), 2).alias("qty_price_covar"),
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 2).alias("price_per_qty"),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias("price_at_zero"),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 4).alias("fit_r2"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_integrity_audit",
    family="aggregation",
    oracle="""
        SELECT 'lineitem_orphan_orderkey' AS check_name,
               (SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS violations
        UNION ALL
        SELECT 'orders_orphan_custkey',
               (SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'orders_dup_pk',
               (SELECT CAST(coalesce(sum(cnt - 1), 0) AS BIGINT)
                  FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey) d
                 WHERE cnt > 1)
        UNION ALL
        SELECT 'customer_null_acctbal',
               (SELECT count(*) FROM customer WHERE c_acctbal IS NULL)
        UNION ALL
        SELECT 'lineitem_bad_values',
               (SELECT count(*) FROM lineitem
                 WHERE l_quantity <= 0 OR l_discount < 0 OR l_discount > 1 OR l_extendedprice < 0)
        ORDER BY check_name
    """,
)
def agg_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-quality audit: referential-integrity orphans
    (anti-join semantics), duplicate-PK excess, null-ratio, and a
    value-range sanity rule, unioned into one (check_name,
    violations) report — the constraint-suite shape a 100 TB ingest
    pipeline runs before accepting a batch. Each check is an independent
    aggregate; the orphan checks are left-anti joins where Catalyst
    broadcasts the smaller key side, and no check ever materializes
    violating rows to the driver — only counts cross the wire."""
    t = load_tables(spark, sf_dir)
    li, orders, cust = t.lineitem, t.orders, t.customer

    def row(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"), F.count(F.lit(1)).alias("violations")
        )

    orphan_li = row(
        "lineitem_orphan_orderkey",
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti"),
    )
    orphan_ord = row(
        "orders_orphan_custkey",
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti"),
    )
    dup_pk = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("violations"))
        .select(F.lit("orders_dup_pk").alias("check_name"), "violations")
    )
    null_bal = row("customer_null_acctbal", cust.filter(F.col("c_acctbal").isNull()))
    bad_vals = row(
        "lineitem_bad_values",
        li.filter(
            (F.col("l_quantity") <= 0)
            | (F.col("l_discount") < 0)
            | (F.col("l_discount") > 1)
            | (F.col("l_extendedprice") < 0)
        ),
    )
    return (
        orphan_li.unionByName(orphan_ord)
        .unionByName(dup_pk)
        .unionByName(null_bal)
        .unionByName(bad_vals)
        .orderBy("check_name")
    )


@query(
    "agg_median_mad",
    family="aggregation",
    oracle="""
        WITH med AS (
          SELECT event_type, median(value) AS med_value
          FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(round(any_value(m.med_value), 4) AS DOUBLE) AS med_value,
               CAST(round(median(abs(e.value - m.med_value)), 4) AS DOUBLE) AS mad_value,
               count(*) AS n
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type
        ORDER BY e.event_type
    """,
)
def agg_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location/scale statistics: per-group median and MAD (median
    absolute deviation), the outlier-resistant alternative to mean/stddev
    for telemetry with heavy tails. Two passes by necessity (MAD is a
    median OF deviations FROM the median); the group medians are a tiny
    aggregate broadcast back onto the fact scan, so the cost is two scans
    and one small-side join — never a global sort. Spark's median() is
    exact percentile_cont(0.5), matching DuckDB's median on doubles."""
    e = load_tables(spark, sf_dir).events
    med = e.groupBy("event_type").agg(F.median("value").alias("med_value"))
    return (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.any_value("med_value"), 4).alias("med_value"),
            F.round(F.median(F.abs(F.col("value") - F.col("med_value"))), 4).alias("mad_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_group_by_all",
    family="aggregation",
    oracle="""
        SELECT o_orderstatus,
               o_orderpriority,
               CAST(year(o_orderdate) AS INT) AS yr,
               count(*) AS n_orders,
               CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY ALL
        HAVING count(*) > 5
        ORDER BY o_orderstatus, o_orderpriority, yr
    """,
)
def agg_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 4 / modern-SQL sugar): the grouping keys are
    inferred as every non-aggregate select item, so adding a dimension to
    the projection can't silently desync from the GROUP BY clause. DuckDB
    speaks the same dialect, so the oracle IS the same text — the gate
    proves both engines infer the identical key set (status, priority,
    derived year). Plan-wise this is an ordinary partial/final hash
    aggregate on the inferred keys; the sugar costs nothing at scale."""
    return spark.sql(
        """
        SELECT o_orderstatus,
               o_orderpriority,
               CAST(year(o_orderdate) AS INT) AS yr,
               count(*) AS n_orders,
               CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS revenue
        FROM {orders}
        GROUP BY ALL
        HAVING count(*) > 5
        ORDER BY o_orderstatus, o_orderpriority, yr
        """,
        orders=load_tables(spark, sf_dir).orders,
    )


@query(
    "agg_count_if_extrema_by",
    family="aggregation",
    oracle="""
        SELECT o_orderpriority,
               CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
               CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished,
               max_by(o_orderkey, o_totalprice) AS priciest_order,
               min_by(o_orderkey, o_totalprice) AS cheapest_order,
               CAST(round(max(o_totalprice), 2) AS DOUBLE) AS max_price
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def agg_count_if_extrema_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern aggregate sugar: count_if predicates and max_by/min_by
    argmax-style selectors (fetch the ID at the extreme without a
    self-join back to the row — the classic 'row holding the max' that
    otherwise costs a window or a join). o_totalprice values are unique
    per priority group at every tested SF, so the argmax is
    deterministic. One partial+final hash aggregate; the argmax carries
    (value, key) pairs through the partial stage — no second pass."""
    o = load_tables(spark, sf_dir).orders
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("o_totalprice") > 150000).alias("n_big"),
            F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
            F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
            F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )
