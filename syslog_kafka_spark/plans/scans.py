"""Gated CSV / JSON scans (SURVEY §2B.1, upgraded from smoke to t2).

The reference ingests newline-framed text from sockets (`syslog.go`);
its analytics consumers read whatever lands in object storage. These
queries prove the schema-on-read paths — RFC4180 CSV (quoted commas,
embedded quotes, nulls) and JSON lines (nested structs, arrays) — with a
DuckDB oracle reading the *same fixture file*, so type coercion, quote
handling, and null semantics are hash-compared cross-engine, not just
smoke-tested.

The fixtures live in the repo (`fixtures/`), deterministic by
construction; paths are resolved absolutely so Spark executors read the
same file regardless of cwd. The ORACLE side, however, is written over
inline VALUES (the rows below, mirrored from the fixture files and
drift-guarded by tests/test_cli_and_readers.py) so the external gate's
DuckDB process needs no filesystem access at all — Spark proves the
file-scan path, DuckDB pins the expected parse.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from syslog_kafka_spark.plans.registry import query
from syslog_kafka_spark.session import warehouse_tmp

_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
)
CSV_PATH = os.path.join(_FIXTURE_DIR, "scan_demo.csv")
JSONL_PATH = os.path.join(_FIXTURE_DIR, "scan_demo.jsonl")

CSV_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType()),
        T.StructField("category", T.StringType()),
        T.StructField("descr", T.StringType()),
        T.StructField("qty", T.LongType()),
        T.StructField("unit_price", T.DoubleType()),
        T.StructField("ship_date", T.DateType()),
        T.StructField("express", T.BooleanType()),
    ]
)

# The parsed content of fixtures/scan_demo.csv, row for row (empty descr
# cell → None, matching Spark's default nullValue=""). unit_price is kept
# as the SOURCE STRING so the oracle casts it text→double exactly like
# both CSV readers do (decimal literals would round through DECIMAL).
CSV_ROWS: list[tuple] = [
    (1001, "tools", "hammer, claw", 3, "14.99", "2024-03-01", True),
    (1002, "tools", 'screwdriver set "pro"', 1, "29.5", "2024-03-02", False),
    (1003, "garden", "hose 25m", 2, "37.25", "2024-03-02", True),
    (1004, "garden", "rake, leaf", 5, "9.99", "2024-03-03", False),
    (1005, "kitchen", "kettle 1.7l", 1, "45.0", "2024-03-03", True),
    (1006, "kitchen", "knife block, oak", 1, "89.95", "2024-03-04", False),
    (1007, "tools", "drill bits", 4, "19.75", "2024-03-05", True),
    (1008, "garden", None, 6, "4.5", "2024-03-05", False),
    (1009, "kitchen", "peeler", 8, "3.25", "2024-03-06", True),
    (1010, "tools", "tape measure 5m", 2, "11.4", "2024-03-07", False),
    (1011, "garden", "trowel, hand", 3, "7.8", "2024-03-08", True),
    (1012, "kitchen", "scale digital", 1, "24.99", "2024-03-08", False),
    (1013, "tools", "level 60cm", 2, "16.6", "2024-03-09", True),
    (1014, "garden", "shears", 1, "21.35", "2024-03-10", False),
    (1015, "kitchen", "mixing bowls, set of 3", 1, "32.0", "2024-03-11", True),
    (1016, "tools", "wrench, adjustable", 3, "13.45", "2024-03-12", False),
    (1017, "garden", "seed starter kit", 7, "6.99", "2024-03-12", True),
    (1018, "kitchen", "colander", 2, "12.5", "2024-03-13", False),
    (1019, "tools", "stud finder", 1, "27.8", "2024-03-14", True),
    (1020, "garden", "gloves, thorn-proof", 4, "8.65", "2024-03-15", False),
]


def _sql_str(s: str | None) -> str:
    return "NULL" if s is None else "'" + s.replace("'", "''") + "'"


def _csv_values_sql() -> str:
    rows = ", ".join(
        f"({oid}, {_sql_str(cat)}, {_sql_str(descr)}, {qty}, "
        f"CAST('{price}' AS DOUBLE), DATE '{ship}', {str(express).lower()})"
        for oid, cat, descr, qty, price, ship, express in CSV_ROWS
    )
    return (
        f"(VALUES {rows}) AS t(order_id, category, descr, qty, unit_price, "
        "ship_date, express)"
    )


@query(
    "scan_csv_typed",
    family="scans",
    oracle=f"""
        SELECT category,
               count(*) AS n_lines,
               CAST(count(descr) AS BIGINT) AS n_described,
               CAST(sum(qty) AS BIGINT) AS total_qty,
               CAST(round(sum(qty * unit_price), 2) AS DOUBLE) AS revenue,
               CAST(sum(CASE WHEN express THEN 1 ELSE 0 END) AS BIGINT) AS n_express,
               min(ship_date) AS first_ship,
               max(ship_date) AS last_ship
        FROM {_csv_values_sql()}
        GROUP BY category
        ORDER BY category
    """,
)
def scan_csv_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed CSV scan over the RFC4180 fixture (quoted commas, embedded
    ""-escaped quotes, empty-string nulls), aggregated per category so
    the hash covers every parsed cell. Schema is explicit — schema-on-read
    with inference is nondeterministic under partial scans at scale."""
    df = spark.read.csv(CSV_PATH, header=True, schema=CSV_SCHEMA, escape='"')
    return (
        df.groupBy("category")
        .agg(
            F.count("*").alias("n_lines"),
            F.count("descr").alias("n_described"),
            F.sum("qty").alias("total_qty"),
            F.round(F.sum(F.col("qty") * F.col("unit_price")), 2).alias("revenue"),
            F.sum(F.when(F.col("express"), 1).otherwise(0)).alias("n_express"),
            F.min("ship_date").alias("first_ship"),
            F.max("ship_date").alias("last_ship"),
        )
        .orderBy("category")
    )


JSONL_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField(
            "user",
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("plan", T.StringType()),
                ]
            ),
        ),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("dur_ms", T.LongType()),
    ]
)


# The parsed content of fixtures/scan_demo.jsonl, flattened to the fields
# the query touches: (event_id, kind, plan, uid, tags, dur_ms).
JSONL_ROWS: list[tuple] = [
    (1, "page_view", "free", 11, ["web", "landing"], 120),
    (2, "click", "free", 11, ["web"], 35),
    (3, "page_view", "pro", 12, ["mobile", "pricing"], 480),
    (4, "purchase", "pro", 12, ["mobile", "checkout"], 1500),
    (5, "click", "team", 13, [], 42),
    (6, "page_view", "team", 13, ["web", "docs"], 310),
    (7, "click", "free", 14, ["web", "docs"], 28),
    (8, "purchase", "team", 13, ["web", "checkout"], 2200),
    (9, "page_view", "pro", 15, ["mobile"], 95),
    (10, "click", "pro", 15, ["mobile", "pricing"], 51),
    (11, "page_view", "free", 11, ["web", "pricing"], 260),
    (12, "purchase", "pro", 15, ["mobile", "checkout"], 1750),
    (13, "click", "free", 16, ["web"], 33),
    (14, "page_view", "free", 16, ["web", "landing"], 140),
    (15, "click", "pro", 12, ["mobile", "docs"], 47),
    (16, "page_view", "team", 17, ["web"], 205),
    (17, "purchase", "team", 17, ["web", "checkout"], 1900),
    (18, "click", "team", 17, ["web", "docs"], 39),
    (19, "page_view", "free", 14, ["mobile", "landing"], 110),
    (20, "click", "free", 14, ["mobile"], 25),
]


def _jsonl_values_sql() -> str:
    rows = ", ".join(
        f"({eid}, {_sql_str(kind)}, {_sql_str(plan)}, {uid}, "
        f"[{', '.join(_sql_str(t) for t in tags)}]::VARCHAR[], {dur})"
        for eid, kind, plan, uid, tags, dur in JSONL_ROWS
    )
    return f"(VALUES {rows}) AS t(event_id, kind, plan, uid, tags, dur_ms)"


@query(
    "scan_json_lines",
    family="scans",
    oracle=f"""
        SELECT plan, kind,
               count(*) AS n_events,
               count(DISTINCT uid) AS n_users,
               CAST(sum(dur_ms) AS BIGINT) AS total_ms,
               CAST(sum(len(tags)) AS BIGINT) AS n_tags,
               CAST(sum(CASE WHEN list_contains(tags, 'checkout') THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_checkout
        FROM {_jsonl_values_sql()}
        GROUP BY plan, kind
        ORDER BY plan, kind
    """,
)
def scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with nested struct + array columns: dotted struct
    access, array length/containment, aggregated per (plan, kind). The
    explicit schema keeps the scan single-pass (inference reads the file
    twice) and prunes to the referenced fields at 100 TB."""
    df = spark.read.json(JSONL_PATH, schema=JSONL_SCHEMA)
    return (
        df.select(
            F.col("user.plan").alias("plan"),
            "kind",
            F.col("user.id").alias("uid"),
            "tags",
            "dur_ms",
        )
        .groupBy("plan", "kind")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("uid").alias("n_users"),
            F.sum("dur_ms").alias("total_ms"),
            F.sum(F.size("tags")).alias("n_tags"),
            F.sum(
                F.when(F.array_contains("tags", "checkout"), 1).otherwise(0)
            ).alias("n_checkout"),
        )
        .orderBy("plan", "kind")
    )


@query(
    "scan_orc_roundtrip",
    family="scans",
    oracle="""
        SELECT event_type,
               count(*) AS n,
               count(DISTINCT user_id) AS n_users,
               CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write -> read round trip: the events table lands in ORC (the
    second columnar format large estates mix with parquet), is read back,
    and aggregated — so the gate hashes what ORC actually preserved
    (types, nulls, timestamps) rather than smoke-testing the writer.
    Columnar pushdown/pruning apply to ORC scans exactly as to parquet.

    The aggregate is materialized before the temp files are deleted; the
    returned frame is the collected (bounded: one row per event type)
    result."""
    from syslog_kafka_spark.sources.readers import load_tables

    with warehouse_tmp("gate_orc_") as out_dir:
        e = load_tables(spark, sf_dir).events
        e.write.mode("overwrite").orc(out_dir)
        back = spark.read.orc(out_dir)
        out = (
            back.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("user_id").alias("n_users"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .orderBy("event_type")
        )
        rows = out.collect()
    return spark.createDataFrame(rows, out.schema).orderBy("event_type")


@query(
    "scan_partition_pruned",
    family="scans",
    oracle="""
        SELECT CAST(ts AS DATE) AS day,
               count(*) AS n,
               CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
        FROM events
        WHERE event_type = 'error'
        GROUP BY day
        ORDER BY day
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + partition-pruned read: events land
    partitioned BY event_type (the layout that turns a 100 TB scan of one
    event type into a directory listing), then only the 'error' partition
    is read back and aggregated per day. The filter on the partition
    column must prune at planning time — asserted by the plan-shape test
    (tests/test_plan_quality.py) via PartitionFilters; the gate hashes
    the data equivalence with an unpartitioned DuckDB filter."""
    from syslog_kafka_spark.sources.readers import load_tables

    with warehouse_tmp("gate_part_") as out_dir:
        e = load_tables(spark, sf_dir).events
        e.write.mode("overwrite").partitionBy("event_type").parquet(out_dir)
        back = spark.read.parquet(out_dir).filter(F.col("event_type") == "error")
        out = (
            back.groupBy(F.to_date("ts").alias("day"))
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .orderBy("day")
        )
        rows = out.collect()
    return spark.createDataFrame(rows, out.schema).orderBy("day")


from syslog_kafka_spark.sources.syslog_fixtures import corpus_values_idx_sql


@query(
    "scan_python_datasource",
    family="scans",
    oracle=f"""
        WITH c AS (SELECT idx, line FROM {corpus_values_idx_sql()})
        SELECT CAST(coalesce(sum(strlen(line) + 1) OVER (
                 ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS byte_offset,
               CAST(strlen(line) AS BIGINT) AS n_bytes,
               substr(line, 1, 24) AS prefix
        FROM c
        ORDER BY byte_offset
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API (`sources/pyds.py`): the fixture
    corpus served through `format("syslog_text")` with Hadoop-style
    byte-range splits (3 ranges here), each row stamped with its exact
    file byte offset. The oracle reconstructs the offsets arithmetically
    (cumulative strlen+1 over the indexed VALUES corpus), so a split
    reader that dropped, duplicated, or mis-addressed a boundary line —
    including the multibyte UTF-8 and 8 KB payload lines — hash-fails.
    At scale the same reader fans N byte ranges across executors with no
    driver coordination, exactly like the builtin text source. Since r5
    the reader yields pyarrow.RecordBatch chunks (8192 lines/batch), so
    the Python->JVM hop is vectorized; the remaining cold-bench cost is
    Spark's one-time Python-runner bring-up, not per-row transfer
    (measured on local[32]: register 1.1 s + first load 1.2 s + first
    collect 2.7 s, then 0.4-0.5 s per warm run) — a fixed cost that
    amortizes to zero over a real deployment's query stream."""
    from syslog_kafka_spark.sources import pyds

    pyds.register(spark)
    path = pyds.corpus_file(spark)
    df = (
        spark.read.format("syslog_text")
        .option("path", path)
        .option("splits", 3)
        .load()
    )
    return (
        df.select(
            "byte_offset",
            F.octet_length("line").cast("bigint").alias("n_bytes"),
            F.substring("line", 1, 24).alias("prefix"),
        )
        .orderBy("byte_offset")
    )


@query(
    "scan_catalog_ctas",
    family="scans",
    oracle="""
        SELECT l_returnflag,
               count(*) AS n,
               CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS total_price
        FROM lineitem
        WHERE l_quantity >= 45 OR l_quantity < 5
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def scan_catalog_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog DDL surface: CREATE TABLE ... USING parquet AS SELECT
    (CTAS) into the session warehouse, then INSERT INTO appending a
    second slice, then aggregate the managed table — the
    create/append/read lifecycle of every staging table in a warehouse
    job. The oracle reads the SAME logical content straight from the
    source (union of the two predicate slices), so a CTAS that dropped
    rows, an INSERT that double-wrote, or a schema drift across the two
    writes all hash-fail. Result rows are materialized before the table
    is dropped (the gate's collect happens after the builder returns)."""
    import uuid as _uuid

    from syslog_kafka_spark.sources.readers import load_tables

    lineitem = load_tables(spark, sf_dir).lineitem
    tbl = f"ctas_gate_{_uuid.uuid4().hex[:8]}"
    spark.sql(
        f"""CREATE TABLE {tbl} USING parquet AS
            SELECT l_returnflag, l_quantity, l_extendedprice
            FROM {{lineitem}} WHERE l_quantity >= 45""",
        lineitem=lineitem,
    )
    try:
        spark.sql(
            f"""INSERT INTO {tbl}
                SELECT l_returnflag, l_quantity, l_extendedprice
                FROM {{lineitem}} WHERE l_quantity < 5""",
            lineitem=lineitem,
        )
        out = spark.sql(
            f"""SELECT l_returnflag,
                       count(*) AS n,
                       CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS total_price
                FROM {tbl}
                GROUP BY l_returnflag
                ORDER BY l_returnflag"""
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema).orderBy("l_returnflag")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


@query(
    "scan_xml_roundtrip",
    family="scans",
    oracle="""
        SELECT event_id,
               CAST(length('<ROW>' || chr(10) ||
                 '    <event_id>' || CAST(event_id AS VARCHAR) || '</event_id>' || chr(10) ||
                 '    <event_type>' || event_type || '</event_type>' || chr(10) ||
                 '    <user_id>' || CAST(user_id AS VARCHAR) || '</user_id>' || chr(10) ||
                 '</ROW>') AS INT) AS xml_len,
               event_type AS event_type_rt,
               user_id AS user_id_rt
        FROM events
        WHERE event_id <= 200
        ORDER BY event_id
    """,
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML support (Spark 4): each event is serialized with
    `to_xml(struct(...))` and parsed back with `from_xml`, proving
    serialize ∘ parse == identity for the record shape, while `xml_len`
    pins the exact wire text — the oracle reconstructs the document
    (to_xml's deterministic `<ROW>` + 4-space-indent layout) character by
    character, so any drift in the XML encoding hash-fails. Only
    fixed-point-renderable fields (bigint/string) go through the wire so
    both engines agree on the text. At scale this is one narrow
    projection per row — no shuffle, whole-stage codegen around the XML
    expressions."""
    from syslog_kafka_spark.sources.readers import load_tables

    e = load_tables(spark, sf_dir).events.filter(F.col("event_id") <= 200)
    xml = e.select(
        "event_id",
        F.to_xml(F.struct("event_id", "event_type", "user_id")).alias("xml"),
    )
    parsed = xml.select(
        "event_id",
        F.length("xml").alias("xml_len"),
        F.from_xml(
            "xml", "event_id BIGINT, event_type STRING, user_id BIGINT"
        ).alias("r"),
    )
    return parsed.select(
        "event_id",
        "xml_len",
        F.col("r.event_type").alias("event_type_rt"),
        F.col("r.user_id").alias("user_id_rt"),
    ).orderBy("event_id")


@query(
    "scan_observe_metrics",
    family="scans",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count_if(l_discount > 0.06) AS BIGINT) AS n_high_disc,
               CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS total_price,
               CAST(round(max(l_quantity), 2) AS DOUBLE) AS max_qty
        FROM lineitem
        WHERE l_returnflag = 'R'
    """,
)
def scan_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`df.observe` (the Observation API): data-quality metrics collected
    AS the scan streams past — row count, predicate count, sums —
    without a second pass over the data, which is how a 100 TB ingest
    audits itself for free instead of doubling its I/O. The observed
    metrics (accumulator-style, exactly-once per row for batch) are
    returned as the result frame and hash-checked against a plain
    aggregate oracle, proving observe() sees every row the query saw."""
    from pyspark.sql import Observation

    from syslog_kafka_spark.sources.readers import load_tables

    li = load_tables(spark, sf_dir).lineitem.filter(F.col("l_returnflag") == "R")
    obs = Observation("dq_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("l_discount") > 0.06).alias("n_high_disc"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
    )
    # Drive the observed plan to completion (count() is the cheap action:
    # the metrics piggyback on it), then surface the metrics as rows.
    observed.count()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_high_disc"], m["total_price"], m["max_qty"])],
        "n_rows bigint, n_high_disc bigint, total_price double, max_qty double",
    )


@query(
    "scan_agg_pushdown",
    family="scans",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_orders,
               CAST(round(min(o_totalprice), 2) AS DOUBLE) AS min_price,
               CAST(round(max(o_totalprice), 2) AS DOUBLE) AS max_price
        FROM orders
    """,
    confs={
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "",
    },
)
def scan_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet AGGREGATE pushdown (DataSource V2): COUNT/MIN/MAX answer
    from row-group footer statistics without materializing a single data
    page — the difference between a metadata read and a 100 TB scan for
    the `SELECT count(*), min(x), max(x)` class of audit queries. The V2
    reader is declared for this query alone (it runs on a child session;
    the session default stays V1, Spark's own default), and
    tests/test_plan_quality.py asserts `PushedAggregation` actually
    appears in the physical plan. Values are exact (footer stats are
    exact for fully-written files), so the plain-aggregate oracle
    hash-matches."""
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )
