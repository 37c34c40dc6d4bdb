"""Composite analytics queries in the TPC-H idiom over the synthetic star
schema — multi-table joins + aggregation + subqueries combined, the shapes
a production log/metrics warehouse actually runs.

All but Q15 via spark.sql with the tables passed as frames: these
exercise Catalyst's subquery decorrelation, CTE handling, and join
reordering end-to-end. Every one is hash-gated; the SQL is written in the
common Spark/DuckDB dialect subset (one string serves both engines where
possible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from syslog_kafka_spark.operators.session_cache import session_cache
from syslog_kafka_spark.plans.registry import query
from syslog_kafka_spark.sources.readers import load_tables

# Template field -> standard table. The oracle fills each template with the
# bare table names; each builder passes the tables to spark.sql as frames,
# which binds each field the template uses to a view that lives only for
# that call.
_TABLES = {
    "li": "lineitem",
    "part": "part",
    "sup": "supplier",
    "ord": "orders",
    "cust": "customer",
    "nat": "nation",
    "reg": "region",
}


def _oracle(template: str) -> str:
    return template.format(**_TABLES)


def _frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    t = load_tables(spark, sf_dir)
    return {field: t[name] for field, name in _TABLES.items()}


# Q14-ish: promo revenue share. Shared dialect except round/casts kept common.
_PROMO_SQL = """
    SELECT
      CAST(round(100.00 * sum(CASE WHEN p_type LIKE 'PROMO%'
                 THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
           / sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS promo_revenue_pct
    FROM {li} JOIN {part} ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
"""


@query("tpch_promo_revenue", family="joins", oracle=_oracle(_PROMO_SQL))
def tpch_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-style: conditional revenue share over a fact x broadcast-dim
    join with a one-month scan window."""
    return spark.sql(_PROMO_SQL, **_frames(spark, sf_dir))


_BIG_ORDERS_SQL = """
    SELECT c_name, o_orderkey, o_orderdate,
           CAST(round(sum(l_quantity), 2) AS DOUBLE) AS total_qty
    FROM {cust}
    JOIN {ord} ON c_custkey = o_custkey
    JOIN {li} ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM {li} GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    GROUP BY c_name, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
"""


@query(
    "tpch_large_volume_customers",
    family="joins",
    oracle=_oracle(_BIG_ORDERS_SQL),
)
def tpch_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-style: IN-subquery over an aggregated fact feeding a 3-way
    join — Catalyst plans the subquery as a semi-join on the pre-aggregate."""
    return spark.sql(_BIG_ORDERS_SQL, **_frames(spark, sf_dir))


_DISJUNCTIVE_SQL = """
    SELECT CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM {li} JOIN {part} ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 20 AND l_quantity <= 40)
       OR (p_type = 'STANDARD' AND l_discount = 0.0)
"""


@query(
    "tpch_disjunctive_predicates",
    family="joins",
    oracle=_oracle(_DISJUNCTIVE_SQL),
)
def tpch_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-style: OR-of-conjunctions across both join sides — exercises
    CNF conversion and partial predicate pushdown."""
    return spark.sql(_DISJUNCTIVE_SQL, **_frames(spark, sf_dir))


# Money arithmetic in integer cents: Spark's round(double) rounds the
# shortest decimal repr (BigDecimal.valueOf) while DuckDB rounds the raw
# binary value, so any half-cent boundary flips between engines. Integer
# cents + a single exact division + floor is bit-deterministic on both.
_ABOVE_AVG_SQL = """
    WITH c AS (
      SELECT c_custkey, c_name, c_nationkey,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
      FROM {cust}
    ), natavg AS (
      SELECT c_nationkey,
             CAST(floor(CAST(sum(cents) AS DOUBLE) / count(*)) AS BIGINT) AS avg_cents
      FROM c GROUP BY c_nationkey
    )
    SELECT c.c_custkey, c.c_name,
           CAST(c.cents - natavg.avg_cents AS DOUBLE) / 100 AS above_by
    FROM c
    JOIN natavg ON c.c_nationkey = natavg.c_nationkey
    WHERE c.cents * 10 > natavg.avg_cents * 18
    ORDER BY c.c_custkey
"""


@query(
    "tpch_above_nation_average",
    family="aggregation",
    oracle=_oracle(_ABOVE_AVG_SQL),
)
def tpch_above_nation_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-flavored: CTE computing per-group averages joined back against
    the base table (decorrelated scalar-subquery pattern)."""
    return spark.sql(_ABOVE_AVG_SQL, **_frames(spark, sf_dir))


_NATION_FLOW_SQL = """
    SELECT
      n1.n_name AS cust_nation,
      n2.n_name AS supp_nation,
      CAST(year(o_orderdate) AS INT) AS order_year,
      CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS volume
    FROM {cust}
    JOIN {nat} n1 ON c_nationkey = n1.n_nationkey
    JOIN {ord} ON o_custkey = c_custkey
    JOIN {li} ON l_orderkey = o_orderkey
    JOIN {sup} ON s_suppkey = l_suppkey
    JOIN {nat} n2 ON s_nationkey = n2.n_nationkey
    WHERE n1.n_name IN ('NATION_0', 'NATION_1') AND n2.n_name IN ('NATION_0', 'NATION_1')
      AND n1.n_name <> n2.n_name
    GROUP BY cust_nation, supp_nation, order_year
    ORDER BY cust_nation, supp_nation, order_year
"""


@query(
    "tpch_nation_volume_flow",
    family="joins",
    oracle=_oracle(_NATION_FLOW_SQL),
)
def tpch_nation_volume_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-style: six-way join with the same dim table aliased twice
    (customer nation vs supplier nation) and an inequality between them."""
    return spark.sql(_NATION_FLOW_SQL, **_frames(spark, sf_dir))


_SCALAR_SUBQ_SQL = """
    SELECT l_orderkey, l_linenumber,
           CAST(l_extendedprice AS DOUBLE) AS l_extendedprice
    FROM {li}
    WHERE l_extendedprice > (SELECT avg(l_extendedprice) * 1.95 FROM {li})
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 50
"""


@query(
    "tpch_scalar_subquery_filter",
    family="joins",
    oracle=_oracle(_SCALAR_SUBQ_SQL),
)
def tpch_scalar_subquery_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery in a predicate (planned as a broadcast
    of one value after a separate aggregation job)."""
    return spark.sql(_SCALAR_SUBQ_SQL, **_frames(spark, sf_dir))


# Q2-style (adapted: this schema has no partsupp, so lineitem is the
# part↔supplier bridge and l_extendedprice plays ps_supplycost).
_MIN_COST_SQL = """
    SELECT DISTINCT p_partkey, p_name, s_name,
           CAST(l_extendedprice AS DOUBLE) AS best_price
    FROM {li} l1
    JOIN {part} ON p_partkey = l1.l_partkey
    JOIN {sup} ON s_suppkey = l1.l_suppkey
    WHERE p_size <= 10
      AND l1.l_extendedprice = (
        SELECT min(l2.l_extendedprice) FROM {li} l2
        WHERE l2.l_partkey = l1.l_partkey
      )
    ORDER BY p_partkey, s_name
    LIMIT 100
"""


@query(
    "tpch_min_cost_supplier",
    family="joins",
    oracle=_oracle(_MIN_COST_SQL),
)
def tpch_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-style: correlated scalar MIN subquery against the outer join key —
    Catalyst decorrelates it into an aggregate + join (no per-row re-scan).
    Equality on raw stored doubles (no arithmetic), so both engines agree
    bit-for-bit."""
    return spark.sql(_MIN_COST_SQL, **_frames(spark, sf_dir))


# Q9-style (adapted: cost proxy = 85% of retail price per unit in place of
# the missing ps_supplycost).
_PROFIT_SQL = """
    SELECT
      n_name AS nation,
      CAST(year(o_orderdate) AS INT) AS o_year,
      CAST(round(sum(l_extendedprice * (1 - l_discount)
                     - 0.85 * p_retailprice * l_quantity), 2) AS DOUBLE) AS profit
    FROM {li}
    JOIN {part} ON p_partkey = l_partkey
    JOIN {sup} ON s_suppkey = l_suppkey
    JOIN {nat} ON n_nationkey = s_nationkey
    JOIN {ord} ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY 1, 2 DESC
"""


@query(
    "tpch_profit_by_nation",
    family="joins",
    oracle=_oracle(_PROFIT_SQL),
)
def tpch_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-style: five-way star join (two broadcast dims, two fact-fact
    hash joins) + LIKE pushdown on part, aggregated by nation x year."""
    return spark.sql(_PROFIT_SQL, **_frames(spark, sf_dir))


# Q13-style (adapted: the join-condition filter uses o_orderpriority in
# place of the missing o_comment anti-pattern).
_ORDER_COUNT_SQL = """
    SELECT n_orders, count(*) AS n_customers
    FROM (
      SELECT c_custkey, count(o_orderkey) AS n_orders
      FROM {cust}
      LEFT JOIN {ord} ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) per_cust
    GROUP BY n_orders
    ORDER BY n_customers DESC, n_orders DESC
"""


@query(
    "tpch_order_count_distribution",
    family="joins",
    oracle=_oracle(_ORDER_COUNT_SQL),
)
def tpch_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-style: left outer join with an extra non-equi condition INSIDE
    the join clause (not a post-filter — unmatched customers must still
    count 0), then a count-of-counts histogram."""
    return spark.sql(_ORDER_COUNT_SQL, **_frames(spark, sf_dir))


# Q15-style. Revenue compared in integer cents: max()/equality on a
# round(sum(double)) could flip at a half-cent boundary between engines
# (see the note above _ABOVE_AVG_SQL).
_TOP_SUPPLIER_SQL = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT) AS cents
      FROM {li}
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(cents AS DOUBLE) / 100 AS total_revenue
    FROM {sup} JOIN revenue ON s_suppkey = supplier_no
    WHERE cents = (SELECT max(cents) FROM revenue)
    ORDER BY s_suppkey
"""


@query(
    "tpch_top_supplier_revenue",
    family="joins",
    oracle=_oracle(_TOP_SUPPLIER_SQL),
)
def tpch_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-style: revenue aggregate reused twice (join target + scalar
    MAX subquery). Spark inlines SQL CTEs, which would scan lineitem once
    per reference — so the revenue view is materialized behind a cache
    barrier first (the continuous-aggregate pattern), and both the join
    and the scalar max read the cached partial. The join is built with
    the DataFrame API, not spark.sql: spark.sql drops the view it binds a
    frame to, and dropping a view uncaches that view's plan."""
    import pyspark.sql.functions as F

    t = load_tables(spark, sf_dir)
    revenue = session_cache(
        t.lineitem.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100, 0)
            .cast("bigint")
            .alias("cents")
        ),
        eager=False,
    )
    return (
        t.supplier.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .where(F.col("cents") == revenue.select(F.max("cents")).scalar())
        .select(
            "s_suppkey",
            "s_name",
            (F.col("cents").cast("double") / 100).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# Q21-style (adapted: "late" = shipped strictly after every co-supplier on
# the same order, since this schema has no commit/receipt dates).
_WAITING_SUPPLIER_SQL = """
    SELECT s_name, count(*) AS numwait
    FROM {sup}
    JOIN {li} l1 ON s_suppkey = l1.l_suppkey
    JOIN {ord} ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (
        SELECT 1 FROM {li} l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM {li} l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
"""


@query(
    "tpch_waiting_suppliers",
    family="joins",
    oracle=_oracle(_WAITING_SUPPLIER_SQL),
)
def tpch_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-style: EXISTS + NOT EXISTS correlated self-joins on the fact
    table — planned as one semi- and one anti-join on l_orderkey, the
    heaviest decorrelation shape in the inventory."""
    return spark.sql(_WAITING_SUPPLIER_SQL, **_frames(spark, sf_dir))


# Q4-style (adapted: no commit/receipt dates in this schema, so "late" =
# a lineitem shipped after the order date).
_PRIORITY_WAIT_SQL = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM {ord}
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM {li}
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@query(
    "tpch_priority_wait_counts",
    family="joins",
    oracle=_oracle(_PRIORITY_WAIT_SQL),
)
def tpch_priority_wait_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-style: correlated EXISTS with a non-equi correlated predicate
    (l_shipdate > o_orderdate) under a quarter-window scan — decorrelates
    to a left-semi join on o_orderkey with the inequality as a join-side
    filter; the date window prunes the orders scan first."""
    return spark.sql(_PRIORITY_WAIT_SQL, **_frames(spark, sf_dir))


# Q10-style: returned-item revenue, top 20 accounts.
_RETURNED_ITEMS_SQL = """
    SELECT c_custkey, c_name, n_name,
           CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue
    FROM {cust}
    JOIN {ord} ON c_custkey = o_custkey
    JOIN {li} ON l_orderkey = o_orderkey
    JOIN {nat} ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


@query(
    "tpch_returned_item_accounts",
    family="joins",
    oracle=_oracle(_RETURNED_ITEMS_SQL),
)
def tpch_returned_item_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-style: fact-fact join (orders x lineitem) flanked by two
    broadcast dims, grouped on a wide composite key, then a top-20 — the
    classic 'who returned the most' account triage. Catalyst plans
    TakeOrderedAndProject over the aggregate, so only 20 rows leave the
    final stage."""
    return spark.sql(_RETURNED_ITEMS_SQL, **_frames(spark, sf_dir))


# Q17-style: small-quantity outlier revenue against a per-part average.
_SMALL_QTY_SQL = """
    SELECT CAST(round(sum(l_extendedprice) / 7.0, 2) AS DOUBLE) AS avg_yearly
    FROM {li} l1 JOIN {part} ON p_partkey = l1.l_partkey
    WHERE p_brand = 'Brand#13'
      AND l1.l_quantity < (
        SELECT 0.5 * avg(l2.l_quantity) FROM {li} l2
        WHERE l2.l_partkey = l1.l_partkey
      )
"""


@query(
    "tpch_small_qty_revenue",
    family="joins",
    oracle=_oracle(_SMALL_QTY_SQL),
)
def tpch_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-style: correlated scalar AVG subquery against the fact table
    itself — decorrelates into a per-partkey aggregate joined back to
    lineitem, i.e. one extra hash-agg pass instead of a rescan per row."""
    return spark.sql(_SMALL_QTY_SQL, **_frames(spark, sf_dir))


# Q8-style: one nation's share of a region's imported volume per year.
_MARKET_SHARE_SQL = """
    WITH volume AS (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS vol,
             n2.n_name AS supp_nation
      FROM {li}
      JOIN {part} ON p_partkey = l_partkey
      JOIN {sup} ON s_suppkey = l_suppkey
      JOIN {ord} ON o_orderkey = l_orderkey
      JOIN {cust} ON c_custkey = o_custkey
      JOIN {nat} n1 ON c_nationkey = n1.n_nationkey
      JOIN {reg} ON n1.n_regionkey = r_regionkey
      JOIN {nat} n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    )
    SELECT o_year,
           CAST(round(sum(CASE WHEN supp_nation = 'NATION_2' THEN vol ELSE 0.0 END)
                / sum(vol), 4) AS DOUBLE) AS mkt_share
    FROM volume
    GROUP BY o_year
    ORDER BY o_year
"""


@query(
    "tpch_market_share",
    family="joins",
    oracle=_oracle(_MARKET_SHARE_SQL),
)
def tpch_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8-style: eight-way join with nation aliased on both the customer
    and supplier sides, CASE-inside-aggregate share computation per year.
    The widest join tree in the inventory — exercises Catalyst's join
    reordering with four broadcastable dims around the orders-lineitem
    fact spine."""
    return spark.sql(_MARKET_SHARE_SQL, **_frames(spark, sf_dir))
