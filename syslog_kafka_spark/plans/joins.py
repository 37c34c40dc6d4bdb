"""Join surface (SURVEY §2B.3): equi/outer/semi/anti/cross joins, broadcast
hints, theta/range joins, as-of join, IN-subquery rewrites.

Scale notes baked into each plan:
- Dimension tables (region/nation/part) are explicitly ``broadcast()`` so
  the big fact side never shuffles for them.
- Fact-fact joins (orders x lineitem) shuffle on the join key; AQE handles
  skew at runtime.
- The as-of join deliberately avoids the O(n^2) "join then rank" shape: it
  is a union + sort + last(ignorenulls) carry-forward, one shuffle on
  user_id, linear in input. The DuckDB oracle uses the rank formulation —
  same semantics, different (non-scalable) algorithm.
"""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from syslog_kafka_spark.plans.registry import query
from syslog_kafka_spark.sources.readers import load_tables


@query(
    "join_shipping_priority",
    family="joins",
    oracle="""
        SELECT
          l_orderkey,
          CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue,
          o_orderdate,
          o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
)
def join_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style 3-way star join + top-10. customer is small relative
    to lineitem, so Catalyst broadcast-joins it; order+limit plans as
    TakeOrderedAndProject (no full sort)."""
    t = load_tables(spark, sf_dir)
    cutoff = F.lit("1995-03-15").cast("timestamp")
    return (
        t.customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(t.orders.filter(F.col("o_orderdate") < cutoff), F.col("c_custkey") == F.col("o_custkey"))
        .join(t.lineitem.filter(F.col("l_shipdate") > cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "join_local_supplier_volume",
    family="joins",
    oracle="""
        SELECT
          n_name,
          CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
)
def join_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way join. region/nation are broadcast explicitly;
    the customer=supplier nation equality rides on the supplier join."""
    t = load_tables(spark, sf_dir)
    return (
        t.customer.join(
            t.orders.filter(
                (F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(t.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t.supplier,
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region.filter(F.col("r_name") == "ASIA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@query(
    "join_left_outer_order_counts",
    family="joins",
    oracle="""
        SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
        HAVING count(o_orderkey) <= 2
        ORDER BY c_custkey
    """,
)
def join_left_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving order-less customers (count = 0)."""
    t = load_tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .filter(F.col("n_orders") <= 2)
        .orderBy("c_custkey")
    )


@query(
    "join_full_outer_nation_counts",
    family="joins",
    oracle="""
        WITH c AS (
          SELECT c_nationkey AS nationkey, count(*) AS n_cust
          FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey
        ), s AS (
          SELECT s_nationkey AS nationkey, count(*) AS n_supp
          FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey
        )
        SELECT
          coalesce(c.nationkey, s.nationkey) AS nationkey,
          coalesce(n_cust, 0) AS n_cust,
          coalesce(n_supp, 0) AS n_supp
        FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
        ORDER BY nationkey
    """,
)
def join_full_outer_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two pre-aggregated sides with null-fill."""
    t = load_tables(spark, sf_dir)
    c = (
        t.customer.filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        t.supplier.filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            F.col("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@query(
    "join_semi_active_customers",
    family="joins",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        )
        ORDER BY c_custkey
        LIMIT 100
    """,
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers with a 1997+ order — no
    duplication of the probe side, build side reduced before the join."""
    t = load_tables(spark, sf_dir)
    recent = t.orders.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
    return (
        t.customer.join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
        .limit(100)
    )


@query(
    "join_anti_silent_customers",
    family="joins",
    oracle="""
        SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey
    """,
)
def join_anti_silent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with zero orders."""
    t = load_tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


@query(
    "join_cross_region_nation",
    family="joins",
    oracle="""
        SELECT r_name, n_name
        FROM region CROSS JOIN nation
        ORDER BY r_name, n_name
    """,
)
def join_cross_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny dims (plans as BroadcastNestedLoop)."""
    t = load_tables(spark, sf_dir)
    return t.region.crossJoin(t.nation).select("r_name", "n_name").orderBy("r_name", "n_name")


@query(
    "join_range_error_burst",
    family="joins",
    oracle="""
        SELECT e2.event_type AS followup_type, count(*) AS n_pairs
        FROM events e1
        JOIN events e2
          ON e1.user_id = e2.user_id
         AND e2.ts > e1.ts
         AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
        WHERE e1.event_type = 'error'
        GROUP BY e2.event_type
        ORDER BY followup_type
    """,
)
def join_range_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range self-join: events within 5 minutes after an error by the
    same user. The user_id equi-key carries the shuffle; the range predicate
    is applied post-join, so cost is bounded per user, not global."""
    e = load_tables(spark, sf_dir).events
    e1 = e.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("u1"), F.col("ts").alias("ts1")
    )
    e2 = e.select(F.col("user_id").alias("u2"), F.col("ts").alias("ts2"), F.col("event_type"))
    return (
        e1.join(
            e2,
            (F.col("u1") == F.col("u2"))
            & (F.col("ts2") > F.col("ts1"))
            & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 5 MINUTES")),
        )
        .groupBy(F.col("event_type").alias("followup_type"))
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("followup_type")
    )


@query(
    "join_asof_last_error",
    family="joins",
    oracle="""
        WITH pairs AS (
          SELECT p.event_id AS purchase_id, e.event_id AS error_id,
                 row_number() OVER (
                   PARTITION BY p.event_id
                   ORDER BY e.ts DESC, e.event_id DESC
                 ) AS rn
          FROM events p
          JOIN events e
            ON e.user_id = p.user_id AND e.ts <= p.ts AND e.event_type = 'error'
          WHERE p.event_type = 'purchase'
        )
        SELECT purchase_id, error_id FROM pairs WHERE rn = 1
        ORDER BY purchase_id
    """,
)
def join_asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the most recent error at-or-before it
    by the same user.

    Spark plan is the scalable merge formulation: union both sides, sort
    within user by (ts, kind, event_id), carry the last error id forward
    with last(ignorenulls) — one shuffle on user_id, O(n log n), no pair
    blowup. The oracle uses the classic join+rank formulation; semantics
    are identical (ties on ts resolved toward the larger error event_id).
    """
    from syslog_kafka_spark.operators.asof import asof_join_last

    e = load_tables(spark, sf_dir).events
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    errors = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    joined = asof_join_last(
        purchases,
        errors,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_value="event_id",
        value_alias="error_id",
    )
    return (
        joined.filter(F.col("error_id").isNotNull())
        .select(F.col("event_id").alias("purchase_id"), "error_id")
        .orderBy("purchase_id")
    )


@query(
    "join_asof_next_signup",
    family="joins",
    oracle="""
        WITH pairs AS (
          SELECT er.event_id AS error_id, s.event_id AS signup_id,
                 row_number() OVER (
                   PARTITION BY er.event_id
                   ORDER BY s.ts ASC, s.event_id ASC
                 ) AS rn
          FROM events er
          JOIN events s
            ON s.user_id = er.user_id AND s.ts >= er.ts AND s.event_type = 'signup'
          WHERE er.event_type = 'error'
        )
        SELECT error_id, signup_id FROM pairs WHERE rn = 1
        ORDER BY error_id
    """,
)
def join_asof_next_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each error, the first signup at-or-after it
    by the same user (recovery tracking). Same merge formulation as the
    backward variant, traversed in descending time — one shuffle, no pair
    blowup; the oracle is the join+rank form with ties toward the smaller
    signup event_id."""
    from syslog_kafka_spark.operators.asof import asof_join_next

    e = load_tables(spark, sf_dir).events
    errors = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    signups = e.filter(F.col("event_type") == "signup").select("event_id", "user_id", "ts")
    joined = asof_join_next(
        errors,
        signups,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_value="event_id",
        value_alias="signup_id",
    )
    return (
        joined.filter(F.col("signup_id").isNotNull())
        .select(F.col("event_id").alias("error_id"), "signup_id")
        .orderBy("error_id")
    )


@query(
    "join_in_subquery_vip_orders",
    family="joins",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n_orders,
               CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9500)
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
)
def join_in_subquery_vip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery → semi-join rewrite (expressed via spark.sql to exercise
    Catalyst's subquery decorrelation explicitly)."""
    t = load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM {orders}
        WHERE o_custkey IN (SELECT c_custkey FROM {customer} WHERE c_acctbal > 9500)
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """,
        orders=t.orders,
        customer=t.customer,
    )


@query(
    "join_broadcast_brand_volume",
    family="joins",
    oracle="""
        SELECT p_brand,
               CAST(round(sum(l_quantity), 2) AS DOUBLE) AS total_qty,
               count(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_size <= 15
        GROUP BY p_brand
        ORDER BY p_brand
    """,
)
def join_broadcast_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact x broadcast-dim join: part is hinted broadcast so lineitem never
    shuffles; the p_size filter prunes the build side before shipping."""
    t = load_tables(spark, sf_dir)
    return (
        t.lineitem.join(F.broadcast(t.part.filter(F.col("p_size") <= 15)), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"), F.count("*").alias("n_items"))
        .orderBy("p_brand")
    )


@query(
    "join_asof_tolerance",
    family="joins",
    oracle="""
        WITH p AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        ), pairs AS (
          SELECT p.event_id AS purchase_id, e.event_id AS error_id,
                 row_number() OVER (
                   PARTITION BY p.event_id
                   ORDER BY e.ts DESC, e.event_id DESC
                 ) AS rn
          FROM p
          JOIN events e
            ON e.user_id = p.user_id
           AND e.event_type = 'error'
           AND e.ts <= p.ts
           AND e.ts >= p.ts - INTERVAL 30 MINUTE
        )
        SELECT p.event_id AS purchase_id, pairs.error_id
        FROM p LEFT JOIN pairs ON pairs.purchase_id = p.event_id AND pairs.rn = 1
        ORDER BY purchase_id
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of join (pandas merge_asof tolerance): each
    purchase gets the most recent error by the same user within the last
    30 minutes, null beyond the bound — stale matches are often worse
    than none in attribution. Same one-shuffle merge formulation as the
    unbounded as-of; the oracle is the rank form with the interval
    predicate, left-joined back so unmatched purchases survive as nulls."""
    from syslog_kafka_spark.operators.asof import asof_join_last

    e = load_tables(spark, sf_dir).events
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    errors = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    joined = asof_join_last(
        purchases,
        errors,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_value="event_id",
        value_alias="error_id",
        tolerance_sec=1800,
    )
    return (
        joined.select(F.col("event_id").alias("purchase_id"), "error_id")
        .orderBy("purchase_id")
    )


@query(
    "join_salted_skew",
    family="joins",
    oracle="""
        WITH dim AS (
          SELECT event_type, count(*) AS type_n FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               count(*) AS n,
               CAST(round(sum(e.value / d.type_n), 6) AS DOUBLE) AS norm_value
        FROM events e JOIN dim d ON d.event_type = e.event_type
        GROUP BY e.event_type
        ORDER BY e.event_type
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly salted join on a pathologically skewed key: events
    carries only 5 distinct event_types, so a plain shuffle join lands
    ~20% of a 100 TB fact table on single tasks. ``salted_join`` spreads
    each hot key across 8 (key, salt) buckets — the salt derives from the
    unique event_id (reproducible, unlike rand()) and the build side is
    exploded to match. Results are salt-invariant, which is exactly what
    the oracle checks: the plain-join DuckDB twin must hash-match the
    salted Spark plan."""
    from syslog_kafka_spark.operators.skew import salted_join

    e = load_tables(spark, sf_dir).events
    dim = e.groupBy("event_type").agg(F.count("*").alias("type_n"))
    joined = salted_join(
        e.select("event_id", "event_type", "value"),
        dim,
        "event_type",
        buckets=8,
        salt_source="event_id",
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value") / F.col("type_n")), 6).alias("norm_value"),
        )
        .orderBy("event_type")
    )


@query(
    "join_bucketed_colocated",
    family="joins",
    oracle="""
        SELECT o.o_orderstatus,
               count(*) AS n_lines,
               CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS DOUBLE)
                 AS revenue
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus
        ORDER BY o.o_orderstatus
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join through bucketed storage: orders and lineitem are
    written bucketed+sorted by orderkey (the storage contract a production
    deployment adopts for its hot join key), then joined bucket-to-bucket
    — the sort-merge join reads co-located buckets with ZERO exchange on
    either side (asserted by tests/test_bucketing.py). At 100 TB this
    storage layout is the difference between a join that shuffles two
    fact tables and one that streams matching buckets.

    The managed tables live under the session's spark-warehouse, named
    per build (a uuid suffix) so a build never overwrites a user's table
    or another concurrent build's; the aggregate is materialized before
    they are dropped."""
    from syslog_kafka_spark.operators.bucketing import bucketed_join, write_bucketed

    t = load_tables(spark, sf_dir)
    tag = uuid.uuid4().hex[:12]
    lt, rt = f"_gate_bkt_orders_{tag}", f"_gate_bkt_lineitem_{tag}"
    try:
        write_bucketed(
            t.orders.select(F.col("o_orderkey").alias("orderkey"), "o_orderstatus"),
            lt,
            bucket_by="orderkey",
        )
        write_bucketed(
            t.lineitem.select(
                F.col("l_orderkey").alias("orderkey"), "l_extendedprice", "l_discount"
            ),
            rt,
            bucket_by="orderkey",
        )
        out = (
            bucketed_join(spark, lt, rt, "orderkey")
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_lines"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue"),
            )
            .orderBy("o_orderstatus")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema).orderBy("o_orderstatus")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {rt}")


@query(
    "join_right_outer_segment_counts",
    family="joins",
    oracle="""
        SELECT c.c_mktsegment,
               count(o.o_orderkey) AS n_orders,
               count(*) AS n_rows,
               count(*) - count(o.o_orderkey) AS n_orderless_customers
        FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
    """,
)
def join_right_outer_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join (completing the left/right/full trio): every
    customer survives, orderless ones with a NULL order side — the
    count(*)-minus-count(key) delta exposes exactly the preserved-side
    rows. Catalyst flips build/probe sides freely, so right-outer costs
    the same as its mirrored left-outer."""
    t = load_tables(spark, sf_dir)
    joined = t.orders.join(
        t.customer, t.orders.o_custkey == t.customer.c_custkey, "right_outer"
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count("o_orderkey")).alias("n_orderless_customers"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "join_lateral_topk",
    family="joins",
    oracle="""
        SELECT c.c_custkey, c.c_name, o.o_orderkey,
               CAST(round(o.o_totalprice, 2) AS DOUBLE) AS total_price
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) o
        WHERE c.c_custkey <= 120
        ORDER BY c.c_custkey, o.o_orderkey
    """,
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (ANSI lateral derived table, Spark 3.2+)
    — per-customer top-2 orders by price. Catalyst decorrelates the
    LATERAL into a ranked window over the join, so the physical plan is a
    shuffle on the correlation key plus a WindowGroupLimit, never a
    per-row re-execution — the property that makes lateral top-k viable
    against a 100 TB fact table. Deterministic: price ties broken by
    o_orderkey inside the LIMIT's ORDER BY."""
    t = load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, o.o_orderkey,
               CAST(round(o.o_totalprice, 2) AS DOUBLE) AS total_price
        FROM {customer} c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM {orders}
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) o
        WHERE c.c_custkey <= 120
        ORDER BY c.c_custkey, o.o_orderkey
        """,
        customer=t.customer,
        orders=t.orders,
    )


@query(
    "join_null_safe_groups",
    family="joins",
    oracle="""
        WITH a AS (
          SELECT CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_nationkey % 5 END AS k
          FROM customer
        ), b AS (
          SELECT CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE s_nationkey % 5 END AS k
          FROM supplier
        )
        SELECT a.k, count(*) AS n_pairs
        FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        GROUP BY a.k
        ORDER BY a.k NULLS LAST
    """,
)
def join_null_safe_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing, the semantics late-arriving
    dimension keys need when NULL means 'unassigned bucket' rather than
    'unknown'. Catalyst plans <=> as an ordinary hash join with a
    null-safe key (EqualNullSafe), so the NULL group shuffles like any
    other key — no fallback to a nested loop. Counts per key prove both
    the NULL-NULL matches and that non-NULL groups are unaffected."""
    t = load_tables(spark, sf_dir)
    a = t.customer.select(
        F.when(F.col("c_custkey") % 11 == 0, None)
        .otherwise(F.col("c_nationkey") % 5)
        .alias("k")
    )
    b = t.supplier.select(
        F.when(F.col("s_suppkey") % 7 == 0, None)
        .otherwise(F.col("s_nationkey") % 5)
        .alias("k_b")
    )
    return (
        a.join(b, a.k.eqNullSafe(b.k_b))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.col("k").asc_nulls_last())
    )


@query(
    "join_lateral_dataframe_api",
    family="joins",
    oracle="""
        SELECT n_name, c_custkey, c_acctbal
        FROM nation n, LATERAL (
          SELECT c_custkey, c_acctbal
          FROM customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 2
        )
        WHERE n.n_nationkey < 10
        ORDER BY n_name, c_acctbal DESC, c_custkey
    """,
)
def join_lateral_dataframe_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-native lateral join (Spark 4 `df.lateralJoin`): top-2
    customers by balance per nation, expressed with `.outer()` column
    correlation instead of SQL LATERAL text — the programmatic twin of
    join_lateral_topk. Catalyst rewrites the correlated limit into a
    WindowGroupLimit over one shuffle of the fact side (same physical
    plan as the SQL form), so per-group top-k never collects a group to
    one node at 100 TB."""
    t = load_tables(spark, sf_dir)
    n = t.nation.filter(F.col("n_nationkey") < 10)
    c = t.customer
    inner = (
        c.filter(F.col("c_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(2)
        .select("c_custkey", "c_acctbal")
    )
    return (
        n.lateralJoin(inner)
        .select("n_name", "c_custkey", "c_acctbal")
        .orderBy("n_name", F.col("c_acctbal").desc(), "c_custkey")
    )


@query(
    "join_scd2_point_in_time",
    family="joins",
    oracle="""
        WITH dim AS (
          SELECT c_custkey,
                 'tier-' || CAST(v AS VARCHAR) AS segment_version,
                 CAST(TIMESTAMP '1992-01-01 00:00:00'
                      + (v * 730) * INTERVAL 1 DAY AS TIMESTAMP) AS valid_from,
                 CAST(TIMESTAMP '1992-01-01 00:00:00'
                      + ((v + 1) * 730) * INTERVAL 1 DAY AS TIMESTAMP) AS valid_to
          FROM customer, (SELECT unnest([0, 1, 2, 3]) AS v)
          WHERE c_custkey <= 300
        )
        SELECT d.segment_version,
               count(*) AS n_orders,
               CAST(round(sum(o.o_totalprice), 2) AS DOUBLE) AS revenue
        FROM orders o
        JOIN dim d
          ON d.c_custkey = o.o_custkey
         AND o.o_orderdate >= d.valid_from
         AND o.o_orderdate < d.valid_to
        WHERE o.o_custkey <= 300
        GROUP BY d.segment_version
        ORDER BY d.segment_version
    """,
)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 point-in-time join — the warehouse staple: each fact row
    joins the dimension VERSION that was valid at the fact's timestamp
    (equality on the business key + a half-open [valid_from, valid_to)
    range predicate). The versioned dimension is synthesized
    deterministically (4 fixed 730-day validity windows per customer) so
    both engines build the identical SCD2 table. Plan shape: the range
    predicate rides the equi-join on the business key as a post-join
    filter — the shuffle keys on c_custkey alone, so at 100 TB this
    costs exactly one fact-side shuffle (or none, with the dimension
    broadcast), never a range-only join explosion; each fact row matches
    exactly one version by construction, which the count also audits."""
    t = load_tables(spark, sf_dir)
    versions = spark.range(4).select(F.col("id").cast("int").alias("v"))
    base_ts = F.lit("1992-01-01").cast("timestamp")
    dim = (
        t.customer.filter(F.col("c_custkey") <= 300)
        .crossJoin(F.broadcast(versions))
        .select(
            "c_custkey",
            F.concat(F.lit("tier-"), F.col("v").cast("string")).alias(
                "segment_version"
            ),
            (base_ts + F.make_dt_interval(F.col("v") * 730)).alias("valid_from"),
            (base_ts + F.make_dt_interval((F.col("v") + 1) * 730)).alias("valid_to"),
        )
    )
    o = t.orders.filter(F.col("o_custkey") <= 300)
    return (
        o.join(
            F.broadcast(dim),
            (dim.c_custkey == o.o_custkey)
            & (o.o_orderdate >= dim.valid_from)
            & (o.o_orderdate < dim.valid_to),
        )
        .groupBy("segment_version")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("segment_version")
    )
