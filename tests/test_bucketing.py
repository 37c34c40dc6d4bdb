"""Storage-layout scale test: bucketed fact-fact join runs with ZERO
shuffle exchanges (the co-location contract for 100 TB joins)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from syslog_kafka_spark.operators.bucketing import bucketed_join, write_bucketed
from syslog_kafka_spark.sources.readers import load_tables


@pytest.fixture()
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    t = load_tables(spark, sf_dir)
    write_bucketed(
        t.orders.withColumnRenamed("o_orderkey", "orderkey"),
        "b_orders",
        bucket_by="orderkey",
        num_buckets=8,
    )
    write_bucketed(
        t.lineitem.withColumnRenamed("l_orderkey", "orderkey"),
        "b_lineitem",
        bucket_by="orderkey",
        num_buckets=8,
    )
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_shuffle(spark, sf_dir, bucketed_tables):
    left, right = bucketed_tables
    # disable broadcast so the join would otherwise be a shuffled SMJ
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, left, right, "orderkey").groupBy("o_orderstatus").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the join itself must read co-located buckets: no Exchange below it
        assert "SortMergeJoin" in plan
        join_part = plan.split("SortMergeJoin", 1)[1]
        assert "Exchange hashpartitioning(orderkey" not in join_part, plan
        # correctness unchanged
        rows = {r.o_orderstatus: r["count"] for r in joined.collect()}
        t = load_tables(spark, sf_dir)
        expected = {
            r.o_orderstatus: r["count"]
            for r in t.orders.join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderstatus")
            .count()
            .collect()
        }
        assert rows == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_gate_leaves_same_named_user_tables_alone(spark, sf_dir):
    """join_bucketed_colocated writes its bucketed tables under names of
    its own: a user table called ``_gate_bkt_orders`` survives a build
    with its rows, and the build leaves no ``_gate_bkt_*`` table behind."""
    from syslog_kafka_spark.plans.registry import load_all

    spark.range(3).write.mode("overwrite").saveAsTable("_gate_bkt_orders")
    try:
        assert load_all()["join_bucketed_colocated"].build(spark, sf_dir).collect()
        assert spark.table("_gate_bkt_orders").count() == 3
        names = {t.name for t in spark.catalog.listTables()}
        assert {n for n in names if n.startswith("_gate_bkt")} == {"_gate_bkt_orders"}
    finally:
        spark.sql("DROP TABLE IF EXISTS _gate_bkt_orders")
