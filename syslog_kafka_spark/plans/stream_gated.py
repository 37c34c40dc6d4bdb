"""Hash-gated streaming queries: the REAL Structured Streaming execution
path (readStream file source → stateful operator → memory sink → full
drain) checked against DuckDB oracles.

Streaming results are gateable whenever the drained table is a pure
function of the input data — aggregations in complete mode, and
append-mode operators whose emitted KEYS are order-independent (dedup on
the projected key columns). Each query here gates one stateful streaming
operator the batch twins can't: the windowed-state aggregate, session
merging, dedup state, and the stream-static broadcast join.

Reference scope: the reference is ingest-only (SURVEY §0) — these gates
cover the §2B.9 streaming surface the engine adds on top.
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from syslog_kafka_spark.plans.registry import query
from syslog_kafka_spark.session import warehouse_tmp
from syslog_kafka_spark.sources.readers import (
    load_tables,
    normalize_timestamps,
    parquet_schema,
)

def _stream_table(
    spark: SparkSession, sf_dir: str, table: str, *, spread: bool = False
) -> DataFrame:
    """``<sf_dir>/<table>.parquet`` as a file-source STREAM.

    A directory-style parquet table (the normal layout at scale) is
    streamed as is. The single-file layout (the scale-factor test data)
    is streamed from the parent dir filtered down to that one file, since
    the file source wants a directory; ``spread=True`` then re-spreads each
    microbatch over ``defaultParallelism`` tasks (see ``_stream_docs``)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    reader = spark.readStream.schema(parquet_schema(spark, path))
    if os.path.isdir(path):
        return reader.parquet(path)
    raw = reader.option("pathGlobFilter", f"{table}.parquet").parquet(sf_dir)
    return raw.repartition(spark.sparkContext.defaultParallelism) if spread else raw


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source STREAM with the same timestamp
    normalization the batch loader applies."""
    return normalize_timestamps(_stream_table(spark, sf_dir, "events"), "events")


def run_stream(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer``, process everything available, stop the query and
    return it (stopped; ``recentProgress`` stays readable). The query runs
    with the confs of the session that built its frame: a gate declares
    the pins below on its ``@query`` and builds on a child that carries
    them."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def _take_memory_table(spark: SparkSession, name: str) -> DataFrame:
    """The memory sink's rows as a batch frame, with the sink's temp view
    dropped: the frame keeps the rows alive, the session does not."""
    table = spark.table(name)
    spark.catalog.dropTempView(name)
    return table


def drain(df: DataFrame, *, mode: str) -> DataFrame:
    """Run a streaming frame to completion into a memory sink and return
    the drained table (batch DataFrame). The sink's temp view is dropped
    before returning, so a drain leaves nothing registered on the
    session."""
    name = f"gate_{uuid.uuid4().hex[:8]}"
    run_stream(df.writeStream.format("memory").queryName(name).outputMode(mode))
    return _take_memory_table(df.sparkSession, name)


# The confs a gate declares (``@query(confs=...)``); a gate that declares
# none follows the session it is handed. STATE_<n> pins the state store's
# partition count, which AQE cannot coalesce (it is fixed at plan time and
# carried by the checkpoint). Each state partition pays provider init +
# commit per microbatch, twice for a two-sided join (local[32]: 12.6 s at
# 32 partitions, 2.8 s at 4, same tiny-state join). The r13 sweep
# (OPTIMIZATION_r13.md, all 28 gates at 32/16/8) found the tiny-state
# digests provider-bound, ~0.4-1.1 s cheaper at 8 than at 32 (sliding
# window 1.56 -> 0.95 s): they pin 8, or 16 where 8 was within noise.
STATE_8 = {"spark.sql.shuffle.partitions": "8"}
STATE_16 = {"spark.sql.shuffle.partitions": "16"}
STATE_4 = {"spark.sql.shuffle.partitions": "4"}
# ..._NO_DATA drops the trailing no-data microbatch where emission does not
# wait on the watermark: an inner interval join emits a match in the batch
# it arrives, dropDuplicatesWithinWatermark a first-seen row on arrival,
# and the no-data batch only evicts state that dies with the one-shot
# query. Measured r14: the join's no-data batch cost as much as its data
# batch (~1.4 s, zero rows emitted). A drain whose append output the
# watermark flushes (left-outer join, chained rollup) keeps it.
STATE_4_NO_DATA = {**STATE_4, "spark.sql.streaming.noDataMicroBatches.enabled": "false"}
STATE_8_NO_DATA = {**STATE_8, "spark.sql.streaming.noDataMicroBatches.enabled": "false"}


@query(
    "stream_sliding_window_agg",
    family="streaming",
    oracle="""
        WITH hop AS (
          SELECT unnest([
                   time_bucket(INTERVAL 3 HOUR, ts),
                   time_bucket(INTERVAL 3 HOUR, ts) - INTERVAL 3 HOUR
                 ]) AS window_start,
                 event_type, value
          FROM events
        )
        SELECT window_start, event_type, count(*) AS n,
               CAST(round(sum(value), 2) AS DOUBLE) AS total_value
        FROM hop
        GROUP BY window_start, event_type
        ORDER BY window_start, event_type
    """,
    confs=STATE_8,
)
def stream_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window aggregation through the streaming state
    store: width 6 h, slide 3 h, so every event lands in exactly two
    epoch-aligned windows — which is precisely the unnest-of-two-bucket
    oracle. Complete mode keeps all windows; the drain equals the batch
    answer."""
    windowed = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    return drain(windowed, mode="complete").orderBy("window_start", "event_type")


@query(
    "stream_session_window_agg",
    family="streaming",
    oracle="""
        WITH flagged AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WHERE user_id < 40
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sessions AS (
          SELECT user_id, ts,
                 sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS session_no
          FROM flagged
        )
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_no
        ORDER BY user_id, session_start
    """,
    confs=STATE_8,
)
def stream_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (30-minute gap) per user vs the
    lag/cumulative-flag sessionization oracle: Spark's session_window
    start is the first event, end is last event + gap — byte-identical
    to the SQL reconstruction. Gates the session-merge state logic that
    the batch sessionize query (window_sessionize_30min) can't."""
    sessions = (
        stream_events(spark, sf_dir)
        .filter(F.col("user_id") < 40)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return drain(sessions, mode="complete").orderBy("user_id", "session_start")


@query(
    "stream_dedup_distinct_pairs",
    family="streaming",
    oracle="""
        SELECT event_type, count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    confs=STATE_8,
)
def stream_dedup_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates state: the stream projects to its key
    columns BEFORE dedup, so the append-mode output is the exact distinct
    (user_id, event_type) set regardless of arrival order — the one shape
    under which streaming dedup is deterministic. The per-type user count
    over the drained set hash-matches DISTINCT in SQL."""
    pairs = (
        stream_events(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    drained = drain(pairs, mode="append")
    return (
        drained.groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
        .orderBy("event_type")
    )


@query(
    "stream_static_join_agg",
    family="streaming",
    oracle="""
        SELECT n.n_name, count(*) AS n_events,
               CAST(round(sum(e.value), 2) AS DOUBLE) AS total_value
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY n.n_name
    """,
    confs=STATE_8,
)
def stream_static_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static equi-join (the microbatch-planned broadcast lookup):
    each microbatch joins the event stream to the static customer→nation
    dim path, then a complete-mode aggregate rolls up per nation. Gates
    the streaming join operator plus the dim broadcast under streaming
    replanning."""
    t = load_tables(spark, sf_dir)
    dim = t.customer.join(
        F.broadcast(t.nation),
        t.customer["c_nationkey"] == t.nation["n_nationkey"],
    ).select(F.col("c_custkey"), F.col("n_name"))
    joined = (
        stream_events(spark, sf_dir)
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    return drain(joined, mode="complete").orderBy("n_name")


@query(
    "stream_stream_join_agg",
    family="streaming",
    oracle="""
        SELECT v.user_id, count(*) AS n_matches
        FROM (SELECT user_id, ts FROM events
              WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-08') v
        JOIN (SELECT user_id, ts FROM events
              WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-08') p
          ON v.user_id = p.user_id
         AND p.ts >= v.ts
         AND p.ts <= v.ts + INTERVAL 10 MINUTE
        GROUP BY v.user_id
        ORDER BY v.user_id
    """,
    confs=STATE_4_NO_DATA,
)
def stream_stream_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (view→purchase attribution within 10
    minutes): both sides are watermarked streams of the SAME file source
    split by event type, joined on user with an event-time interval bound
    — the state-bounded shape from streaming/pipeline.py. Inner interval
    joins emit on match (watermarks only bound state eviction), so the
    drained pair set is a pure function of the data; the per-user match
    count hash-matches the SQL self-join. Input is bounded to the first
    week — the gate proves operator semantics; ingest throughput is
    stream_replay_throughput's job, and per-row state-store cost on
    local[32] would otherwise dominate the bench number."""
    ev = stream_events(spark, sf_dir).filter(F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("_p_user"), F.col("ts").alias("purchase_ts")
    )
    joined = (
        views.withWatermark("view_ts", "30 minutes")
        .join(
            purchases.withWatermark("purchase_ts", "30 minutes"),
            (F.col("user_id") == F.col("_p_user"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        .select("user_id")
    )
    drained = drain(joined, mode="append")
    return drained.groupBy("user_id").agg(F.count("*").alias("n_matches")).orderBy("user_id")


@query(
    "stream_custom_state_profile",
    family="streaming",
    oracle="""
        SELECT user_id, count(*) AS n_events,
               CAST(round(max(value), 2) AS DOUBLE) AS max_value,
               min(ts) AS first_ts, max(ts) AS last_ts
        FROM events
        WHERE user_id < 30
        GROUP BY user_id
        ORDER BY user_id
    """,
    confs=STATE_8,
)
def stream_custom_state_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-state streaming operator (applyInPandasWithState): a
    per-user running profile (event count, max gauge, first/last event
    time) maintained across microbatches with explicit state — the custom
    path Structured Streaming's built-in aggregates can't express (its
    syslog twin, streaming/stateful.py, was deleted; see git history).
    Update mode emits one row per key per microbatch; every tracked stat
    is monotone (count and last_ts only grow, first_ts only shrinks, max
    only grows), so
    aggregating the drained updates with max/min equals the final state
    regardless of how the file source splits microbatches — which is what
    makes this custom operator hash-gateable at all."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("max_value", DoubleType()),
            StructField("first_ts", TimestampType()),
            StructField("last_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("mx", DoubleType()),
            StructField("first_ts", TimestampType()),
            StructField("last_ts", TimestampType()),
        ]
    )

    def update(key, batches, state: GroupState):
        n, mx, first_ts, last_ts = state.get if state.exists else (0, None, None, None)
        for pdf in batches:
            n += len(pdf)
            vals = pdf["value"].dropna()
            if len(vals):
                bmx = float(vals.max())
                mx = bmx if mx is None else max(mx, bmx)
            ts = pdf["ts"].dropna()
            if len(ts):
                first_ts = ts.min() if first_ts is None else min(first_ts, ts.min())
                last_ts = ts.max() if last_ts is None else max(last_ts, ts.max())
        state.update((int(n), mx, first_ts, last_ts))
        yield pd.DataFrame(
            [(key[0], n, mx, first_ts, last_ts)],
            columns=["user_id", "n_events", "max_value", "first_ts", "last_ts"],
        )

    profiles = (
        stream_events(spark, sf_dir)
        .filter(F.col("user_id") < 30)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = drain(profiles, mode="update")
    return (
        drained.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max("max_value"), 2).alias("max_value"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
        )
        .orderBy("user_id")
    )


@query(
    "stream_foreach_batch_sink",
    family="streaming",
    oracle="""
        SELECT event_type, count(*) AS n_pairs, count(DISTINCT user_id) AS n_users
        FROM (SELECT DISTINCT user_id, event_type FROM events WHERE user_id < 200)
        GROUP BY event_type
        ORDER BY event_type
    """,
    confs=STATE_8,
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch → parquet file sink, end to end: the deduplicated pair
    stream is written batch-by-batch through a foreachBatch writer (the
    escape hatch for sinks Structured Streaming lacks natively), then the
    files are read BACK and aggregated — so the gate hashes what actually
    landed on disk, covering the writer path, write atomicity, and the
    read-back schema. Dedup-before-sink makes the landed row set a pure
    function of the data (arrival order only permutes file layout).

    foreachBatch is at-least-once: a retried microbatch re-invokes the
    writer with the same batch_id. Writing each batch to a batch_id-keyed
    subdirectory with mode("overwrite") (the standard idempotent-sink
    pattern) makes the retry a no-op instead of a double-write, so the
    landed set stays exact under task retries.
    Output lands in a fresh temp dir under the gitignored warehouse root,
    removed once the read-back is materialized.

    State is pinned to 8 partitions (``STATE_8``): the dedup state is a
    few thousand keys; at the session's 32 partitions the per-partition
    provider init + commit dominates, and the foreachBatch writer then
    also lands 32 near-empty parquet files per batch instead of 8."""
    pairs = (
        stream_events(spark, sf_dir)
        .filter(F.col("user_id") < 200)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    with warehouse_tmp("gate_fes_") as out_dir:

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch-{batch_id}")
            )

        run_stream(pairs.writeStream.foreachBatch(write_batch).outputMode("append"))
        # recursiveFileLookup: the batch-N subdirs are layout, not hive
        # partitions — read every parquet file beneath out_dir flat.
        landed = spark.read.option("recursiveFileLookup", "true").parquet(out_dir)
        out = (
            landed.groupBy("event_type")
            .agg(F.count("*").alias("n_pairs"), F.countDistinct("user_id").alias("n_users"))
            .orderBy("event_type")
        )
        # Materialize before deleting the files the plan reads. Through
        # pandas, the rows go back to the JVM over Arrow; a list of Rows
        # would take a Python-worker round trip (~0.45 s on local[4]).
        landed_rows = out.toPandas()
    return spark.createDataFrame(landed_rows, out.schema).orderBy("event_type")


def _corpus_values_idx_sql() -> str:
    from syslog_kafka_spark.sources.syslog_fixtures import corpus_values_idx_sql

    return corpus_values_idx_sql()


def _pyds_severity_counts_sql(values_idx_sql: str) -> str:
    return f"""
        WITH c AS (SELECT idx, line FROM {values_idx_sql}),
        o AS (
          SELECT CAST(coalesce(sum(strlen(line) + 1) OVER (
                   ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS byte_offset,
                 line
          FROM c
        ),
        p AS (
          SELECT byte_offset,
                 TRY_CAST(regexp_extract(line, '^<([0-9]{{1,3}})>', 1) AS INT) AS pri_raw
          FROM o
        )
        SELECT CASE WHEN pri_raw IS NOT NULL AND pri_raw <= 191
                    THEN pri_raw % 8 END AS severity,
               count(*) AS n_lines,
               min(byte_offset) AS first_offset
        FROM p
        GROUP BY 1
        ORDER BY severity NULLS LAST
    """


@query(
    "stream_python_datasource_tail",
    family="streaming",
    oracle=_pyds_severity_counts_sql(_corpus_values_idx_sql()),
)
def stream_python_datasource_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python *streaming* DataSource (`sources/pyds.py`): tail the
    corpus file in bounded half-corpus microbatches (line-count offsets,
    checkpoint-compatible JSON), drain to a memory sink, then aggregate a
    severity histogram with each class's first byte offset. The oracle
    recomputes severities and offsets arithmetically over the indexed
    VALUES corpus, so lost/duplicated lines across microbatch boundaries
    — the classic custom-source bug — hash-fail. Admission control
    (`batchLines`) bounds per-batch work no matter how much data arrives,
    which is the property that keeps a production tail stable under
    burst.

    Restart-guarantee tiers (sources/pyds.py, hypothesis-tested in
    tests/test_pyds_restart_property.py): with a ``checkpointLocation``
    read option (mirror of the sink's checkpoint dir) the durability
    sidecar defaults ON at ``<dir>/_hwm`` and delivery is exactly-once
    across ANY number of crash-restarts; ``hwmpath`` overrides the
    sidecar location, ``hwmpath=off`` opts out; with neither option the
    committed-offset clamp still guarantees a SINGLE restart, with
    double-restart re-delivery the documented limitation. This gated
    query drains in one incarnation, so it runs tier-agnostic."""
    from syslog_kafka_spark.sources import pyds
    from syslog_kafka_spark.sources.syslog_fixtures import SYSLOG_CORPUS

    pyds.register(spark)
    path = pyds.corpus_file(spark)
    # Half the corpus per batch (9 of 17 lines) = 2 planned microbatches: still
    # a multi-batch drain crossing a batch boundary (the property the gate
    # exists to hash-check; the restart/property tests in test_pyds* drive
    # finer splits), at half the per-batch machinery — each extra
    # microbatch on a Python streaming source costs a full trigger cycle
    # plus driver-side runner round trips (measured r14: 4 batches 4.2 s →
    # 2 batches 2.5 s for the identical drained table).
    raw = (
        spark.readStream.format("syslog_text")
        .option("path", path)
        .option("batchLines", -(-len(SYSLOG_CORPUS) // 2))
        .load()
    )
    drained = drain(raw, mode="append")
    pri_raw = F.expr("TRY_CAST(regexp_extract(line, '^<([0-9]{1,3})>', 1) AS INT)")
    sev = F.when(pri_raw.isNotNull() & (pri_raw <= 191), pri_raw % 8)
    return (
        drained.select(sev.alias("severity"), "byte_offset")
        .groupBy("severity")
        .agg(F.count(F.lit(1)).alias("n_lines"), F.min("byte_offset").alias("first_offset"))
        .orderBy(F.col("severity").asc_nulls_last())
    )


@query(
    "stream_state_store_read",
    family="streaming",
    oracle="""
        SELECT event_type, count(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    confs=STATE_8,
)
def stream_state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 state data source: run a streaming aggregation to
    completion with a checkpoint, then read the OPERATOR STATE itself back
    with `spark.read.format("statestore")` and verify it equals the batch
    aggregate. This is the observability path an on-call engineer uses on
    a wedged production stream — inspect keys and counts inside the state
    store without touching the query — and gating it proves the
    checkpoint's state layout round-trips: what the stream committed is
    exactly what a batch scan of the same data computes. State rows are
    (key struct, value struct, partition_id); only key/value participate,
    since partition assignment is an engine detail.

    The checkpoint is a fresh temp dir, removed once the ~9 state rows are
    materialized. State is pinned to 8 partitions (r13 sweep rule): the
    state is one row per event_type, so 32 partitions means 32 provider
    inits + commits to write ~9 keys and a read-back over 32 state files.
    Keys/values are partition-independent, so the result is unchanged."""
    counts = stream_events(spark, sf_dir).groupBy("event_type").count()
    with warehouse_tmp("gate_ssread_") as ckpt:
        run_stream(
            counts.writeStream.format("noop")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
        )
        state = spark.read.format("statestore").load(ckpt).select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n"),
        )
        state_rows = state.toPandas()  # materialized as in stream_foreach_batch_sink
    return spark.createDataFrame(state_rows, state.schema).orderBy("event_type")


@query(
    "stream_chained_window_rollup",
    family="streaming",
    oracle="""
        SELECT time_bucket(INTERVAL 1 DAY, ts) AS day,
               count(*) AS n_events,
               count(DISTINCT (time_bucket(INTERVAL 1 HOUR, ts), event_type)) AS n_slots
        FROM events
        WHERE time_bucket(INTERVAL 1 DAY, ts) + INTERVAL 1 DAY
              <= (SELECT max(ts) FROM events)
        GROUP BY 1
        ORDER BY day
    """,
    confs=STATE_8,
)
def stream_chained_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators (Spark 3.4+): an hourly tumbling-window
    count per event_type feeding a second stateful daily rollup via
    window_time() — the multi-resolution downsampling cascade every
    telemetry pipeline runs, as ONE streaming query with two state
    stores instead of two jobs with an intermediate table. Append mode +
    watermark 0s: a day window emits once the watermark passes its end,
    so the final (incomplete) day is withheld — the oracle mirrors that
    exactly with the max(ts) cutoff. State is bounded by (hours x types)
    + days, independent of event volume — scale-safe. Two chained
    stateful ops mean TWO state stores per partition paying provider
    init + commit per microbatch, so the gate right-sizes state
    partitions like the stream-stream join does (measured at sf0.1 on
    local[32]: 9.9 s at 32 partitions → 2.8 s at 8 for identical
    output)."""
    raw = stream_events(spark, sf_dir).withWatermark("ts", "0 seconds")
    hourly = raw.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    daily = (
        hourly.groupBy(F.window(F.window_time("window"), "1 day"))
        .agg(F.sum("n").alias("n_events"), F.count(F.lit(1)).alias("n_slots"))
    )
    drained = drain(daily, mode="append")
    return (
        drained.select(
            F.col("window.start").alias("day"),
            "n_events",
            "n_slots",
        )
        .orderBy("day")
    )


@query(
    "stream_dedup_within_watermark",
    family="streaming",
    oracle="""
        SELECT event_type,
               count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    confs=STATE_8_NO_DATA,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark (Spark 3.5+): exactly-once semantics
    with BOUNDED state — a (user_id, event_type) key is remembered only
    for the watermark horizon instead of forever, which is the only
    dedup that survives an unbounded 100 TB/day stream (plain
    dropDuplicates state grows monotonically). The replay fits inside
    one horizon here, so the result equals a global distinct and the
    batch oracle pins it; at scale the horizon is the dial trading state
    size against duplicate-window length."""
    raw = stream_events(spark, sf_dir).withWatermark("ts", "45 days")
    dd = raw.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    drained = drain(dd, mode="append")
    return (
        drained.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


# NOTE on transformWithStateInPandas (Spark 4's arbitrary-state v2 API,
# the successor to applyInPandasWithState used by
# stream_custom_state_profile): its driver<->JVM state control plane is
# protobuf-serialized and requires the `google.protobuf` Python package,
# which this environment does not ship (and no packages may be
# installed). The v2 operator was implemented and validated up to the
# STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE import error — an
# environmental gap, like the live Kafka broker (SURVEY §4), not an
# engine one. The v1 arbitrary-state gate above covers the custom-state
# semantics; on any standard cluster image (protobuf present) the v2
# port is mechanical: same keyed accumulator, ValueState handle named
# "agg", RocksDB provider scoped around the drain.


@query(
    "stream_available_now_trigger",
    family="streaming",
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               count(*) AS n_events,
               max(user_id) AS max_user
        FROM events
        WHERE event_type = 'view'
        GROUP BY 1
        HAVING count(*) > 0
        ORDER BY day
    """,
    confs=STATE_8,
)
def stream_available_now_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger.AvailableNow (the batch-drain trigger): the query plans
    its own bounded set of microbatches from whatever data exists at
    start, runs them, and terminates on its own — the production pattern
    for periodic catch-up jobs over a streaming checkpoint (run nightly,
    process everything new, exit; unlike processAllAvailable it respects
    source rate limits across multiple planned batches). The gate drains
    a per-day view-count aggregate in complete mode via awaitTermination
    — no manual stop — and hash-checks the final table: termination
    correctness AND result correctness in one gate. State scales by
    (day) key cardinality only; per-day keys in one planned batch are
    provider-bound at 32 state partitions, so the gate pins 8 (measured
    1.75 s → 0.86 s, r13 sweep)."""
    agg = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # countDistinct is unsupported on streaming frames; max is the
            # deterministic per-key stat that exercises the same state.
            F.max("user_id").alias("max_user"),
        )
    )
    name = f"gate_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        # awaitTermination returns False on timeout — the AvailableNow
        # drain would still be mid-run and the memory table would read as
        # a plausible-but-incomplete result (silent wrong answer). Raise
        # explicitly (not assert: -O would strip it and silently restore
        # the bug); the finally-stop keeps no query leaked either way.
        if not q.awaitTermination(120):
            raise RuntimeError("AvailableNow drain did not finish in 120s")
    finally:
        q.stop()
    return _take_memory_table(spark, name).filter(F.col("n_events") > 0).orderBy("day")


@query(
    "stream_static_anti_dedup",
    family="streaming",
    oracle="""
        SELECT event_type, count(*) AS n_new
        FROM events
        WHERE event_id % 3 <> 0
        GROUP BY event_type
        ORDER BY event_type
    """,
    confs=STATE_8,
)
def stream_static_anti_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT ANTI join — incremental ingest dedup against an
    already-ingested catalog: each microbatch drops rows whose key
    exists in the static seen-set (here: every third event id, read as a
    batch frame), the pattern a continuously-fed training corpus uses to
    admit only new documents. The static side re-plans per microbatch
    (picking up catalog growth) and broadcasts under AQE; no streaming
    state at all — the dedup memory lives in the catalog, which is what
    keeps it bounded on an unbounded stream. Counts per type of
    admitted events are hash-checked against the batch complement."""
    seen = (
        load_tables(spark, sf_dir)
        .events.filter(F.col("event_id") % 3 == 0)
        .select(F.col("event_id").alias("seen_id"))
    )
    ev = stream_events(spark, sf_dir)
    fresh = ev.join(seen, ev.event_id == seen.seen_id, "left_anti")
    counts = fresh.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_new"))
    drained = drain(counts, mode="complete")
    return drained.orderBy("event_type")


@query(
    "stream_stream_left_outer_join",
    family="streaming",
    oracle="""
        WITH mx AS (SELECT max(ts) AS max_ts FROM events
                     WHERE ts < TIMESTAMP '2024-01-08'),
        v_all AS (SELECT user_id, ts FROM events, mx
               WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-08'
                 AND ts <= max_ts - INTERVAL 1 HOUR),
        -- the stream's final watermark is the VIEWS side's max event
        -- time; rows within the 10-minute join window of it have
        -- implementation-defined eviction timing, so both engines drop
        -- them with the same 20-minute margin
        v AS (SELECT * FROM v_all
               WHERE ts <= (SELECT max(ts) FROM v_all) - INTERVAL 20 MINUTE),
        p AS (SELECT user_id, ts FROM events
               WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-08')
        SELECT v.user_id,
               count(*) AS n_views,
               CAST(count(p.ts) AS BIGINT) AS n_matched,
               CAST(count(*) - count(p.ts) AS BIGINT) AS n_unmatched
        FROM v LEFT JOIN p
          ON v.user_id = p.user_id
         AND p.ts >= v.ts
         AND p.ts <= v.ts + INTERVAL 10 MINUTE
        GROUP BY v.user_id
        ORDER BY v.user_id
    """,
    confs=STATE_4,
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — a different state
    machine than the inner join: an unmatched left row cannot emit on
    arrival; the operator must HOLD it until the watermark proves no
    matching right row can still arrive, then emit it null-padded. The
    gate restricts the left side to views at least 1 hour older than
    the stream's final watermark (join window is 10 minutes), so every
    kept row's matched-or-unmatched outcome is provably final and
    engine-version-independent — borderline rows whose eviction timing
    is an implementation detail are excluded on BOTH engines by the
    same predicate. State stays interval-bounded exactly as in the
    inner join; the outer semantics add only the held-row emission."""
    cutoff = F.lit("2024-01-08").cast("timestamp")
    max_ts = (
        load_tables(spark, sf_dir)
        .events.filter(F.col("ts") < cutoff)
        .agg(F.max("ts"))
        .collect()[0][0]
    )
    ev = stream_events(spark, sf_dir).filter(F.col("ts") < cutoff)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .filter(F.col("view_ts") <= F.lit(max_ts) - F.expr("INTERVAL 1 HOUR"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("_p_user"), F.col("ts").alias("purchase_ts")
    )
    joined = (
        views.withWatermark("view_ts", "0 seconds")
        .join(
            purchases.withWatermark("purchase_ts", "0 seconds"),
            (F.col("user_id") == F.col("_p_user"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")),
            "leftOuter",
        )
        .select("user_id", "view_ts", "purchase_ts")
    )
    vmax = (
        load_tables(spark, sf_dir)
        .events.filter(
            (F.col("ts") < cutoff)
            & (F.col("event_type") == "view")
            & (F.col("ts") <= F.lit(max_ts) - F.expr("INTERVAL 1 HOUR"))
        )
        .agg(F.max("ts"))
        .collect()[0][0]
    )
    drained = drain(joined, mode="append")
    return (
        drained.filter(
            F.col("view_ts") <= F.lit(vmax) - F.expr("INTERVAL 20 MINUTES")
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.count("purchase_ts").alias("n_matched"),
            (F.count(F.lit(1)) - F.count("purchase_ts")).alias("n_unmatched"),
        )
        .orderBy("user_id")
    )


def _ivf_routing_oracle() -> str:
    """Batch twin of the streaming IVF router: identical frozen-centroid
    sims (the left-associated chains proven bit-identical on
    llm_semantic_dedup / llm_ann_ivf_topk), argmax via list_position of
    list_max (first max wins, = Spark's array_position(array_max))."""
    from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS
    from syslog_kafka_spark.operators.similarity import frozen_cluster_sims_sql

    return f"""
        WITH a0 AS (
          SELECT vec_id, {frozen_cluster_sims_sql(IVF_CENTROIDS)} AS sims
          FROM embeddings
        ),
        a AS (
          SELECT vec_id,
                 CAST(list_position(sims, list_max(sims)) - 1 AS INT) AS list_id
          FROM a0
        )
        SELECT list_id,
               CAST(count(*) AS BIGINT) AS n_vecs,
               min(vec_id) AS min_vec_id,
               max(vec_id) AS max_vec_id
        FROM a GROUP BY list_id ORDER BY list_id
    """


@query("stream_ivf_list_routing", family="streaming", oracle=_ivf_routing_oracle(), confs=STATE_8)
def stream_ivf_list_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online IVF shard routing: embeddings arrive as a STREAM and are
    assigned to their inverted list with the same frozen coarse
    quantizer the batch ANN search uses (`ivf_topk_frozen`) — the
    assignment is a pure Column expression (per-centroid zip_with +
    aggregate folds, JVM-side), so it drops into a streaming plan
    unchanged. This is how an ANN index stays fresh at 100 TB ingest
    rates: route each arriving vector to its list shard as it lands, no
    re-clustering, no driver state — the quantizer is a shipped
    constant, identical on every executor and every microbatch. The
    complete-mode per-list occupancy rollup is the index health metric
    (hot lists = future probe-latency skew). The oracle recomputes the
    routing as a batch over the same table, so a stream that dropped,
    duplicated, or mis-assigned any vector hash-fails."""
    raw = _stream_embeddings(spark, sf_dir)
    return drain(ivf_occupancy_frame(raw), mode="complete").orderBy("list_id")


def _stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table as a file-source STREAM. No re-spread here
    (unlike _stream_docs): the embeddings stream is 2k rows at bench scale
    and its two consumers' kernels are cheap — the r14 A/B measured the
    re-spread flat-to-negative (ivf_refit warm 1.6 → 2.0 s), so the
    exchange is not worth it."""
    return _stream_table(spark, sf_dir, "embeddings")


def ivf_occupancy_frame(raw: DataFrame) -> DataFrame:
    """Pre-drain plan of stream_ivf_list_routing: frozen-quantizer routing
    + complete-mode occupancy rollup. Takes any (vec_id, embedding)
    streaming frame so the multi-batch replay test drives the IDENTICAL
    plan through maxFilesPerTrigger=1."""
    from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS
    from syslog_kafka_spark.operators.similarity import assign_frozen_cluster

    routed = raw.select(
        "vec_id",
        assign_frozen_cluster(F.col("embedding"), IVF_CENTROIDS).alias("list_id"),
    )
    return routed.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )


def _stream_cms_oracle() -> str:
    from syslog_kafka_spark.functions.hashes import hash64_sql

    toks = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '')"
    rows = "\n          UNION ALL\n          ".join(
        f"SELECT {r} AS r, ({hash64_sql('term', salt=f'cms-r{r}')}) % 2048 AS b"
        f" FROM tok"
        for r in range(4)
    )
    return f"""
        WITH tok AS (
          SELECT unnest({toks}) AS term FROM documents
        ), cells AS (
          {rows}
        )
        SELECT r, b, CAST(count(*) AS BIGINT) AS cnt
        FROM cells GROUP BY r, b ORDER BY r, b
    """


@query("stream_cms_sketch_build", family="streaming", oracle=_stream_cms_oracle(), confs=STATE_8)
def stream_cms_sketch_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online count-min sketch maintenance: the document stream's tokens
    fold into the same 4×2048 CMS the batch heavy-hitter audit probes
    (`llm_cms_heavy_hitters`) — each arriving token emits its 4 (row,
    bucket) cells as pure Column expressions and ONE streaming aggregate
    keeps the counters. This is why CMS is THE streaming frequency
    structure: exact per-term state grows with the live vocabulary
    (unbounded at 100 TB ingest), while the sketch's state is ≤8192
    counters FOREVER, counter-wise mergeable across executors and
    microbatches by the aggregate's own partial merge. The batch-twin
    oracle recomputes the cells over the same corpus, so a stream that
    dropped, duplicated, or mis-hashed any token hash-fails."""
    raw = _stream_docs(spark, sf_dir)
    return drain(cms_sketch_frame(raw), mode="complete").orderBy("r", "b")


def cms_sketch_frame(raw: DataFrame) -> DataFrame:
    """Pre-drain plan of stream_cms_sketch_build: token → 4×(row, bucket)
    cells → ONE streaming aggregate holding ≤8192 counters. Takes any
    (text, ...) streaming frame so the multi-batch replay test drives
    the IDENTICAL plan with the corpus split across triggers."""
    from syslog_kafka_spark.functions.hashes import hash64
    from syslog_kafka_spark.functions.text import tokens

    term = raw.select(F.explode(tokens("text")).alias("term"))
    cells = term.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.pmod(hash64("term", salt=f"cms-r{r}"), F.lit(2048)).alias(
                            "b"
                        ),
                    )
                    for r in range(4)
                ]
            )
        ).alias("cell")
    ).select("cell.r", "cell.b")
    return cells.groupBy("r", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


def _stream_transcripts_oracle() -> str:
    from syslog_kafka_spark.functions.hashes import hash64_sql

    return f"""
        WITH flagged AS (
          SELECT user_id, ts, event_id, event_type, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                      THEN 1 ELSE 0 END AS new_session
          FROM events WHERE user_id < 40
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, ts, event_id, event_type, value,
                 sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS sid
          FROM flagged
        ), tokd AS (
          SELECT user_id, sid, ts, event_id,
                 event_type || ':' ||
                 CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR) AS tok
          FROM sess
        ), doc AS (
          SELECT user_id, min(ts) AS session_start,
                 CAST(count(*) AS BIGINT) AS n_events,
                 string_agg(tok, ' ' ORDER BY ts, event_id) AS transcript
          FROM tokd GROUP BY user_id, sid
        )
        SELECT user_id, session_start, n_events,
               length(transcript) AS n_chars,
               {hash64_sql('transcript', salt='transcript-v1')} AS transcript_hash
        FROM doc ORDER BY user_id, session_start
    """


@query(
    "stream_session_transcripts",
    family="streaming",
    oracle=_stream_transcripts_oracle(),
    confs=STATE_8,
)
def stream_session_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE transcript assembly: the streaming twin of
    llm_session_transcripts — events arrive as a stream, Spark's
    session_window state merges them into 30-minute-gap sessions, and
    each session aggregates its ordered `type:cents` transcript as it
    closes. This is the shape a chat-ingest pipeline runs at 100 TB:
    transcripts materialize incrementally with bounded per-session
    state, no batch re-sessionization. collect_list order is
    arrival-dependent under streaming, so the struct array is
    array_sort'd on (ts, event_id) AFTER the aggregate — without it
    this query is nondeterministic and the gate proves it isn't. The
    oracle rebuilds the same sessions with the batch lag-gap recipe
    (session_window ≡ gap sessionization, pinned by
    stream_session_window_agg) and hashes every transcript."""
    ev = stream_events(spark, sf_dir).filter(F.col("user_id") < 40)
    drained = drain(session_transcript_frame(ev), mode="complete")
    return transcript_digest(drained)


def session_transcript_frame(ev: DataFrame) -> DataFrame:
    """Pre-drain plan of stream_session_transcripts: session_window state
    merge + ordered transcript assembly. Takes any (user_id, ts,
    event_id, event_type, value) streaming frame so the multi-batch
    replay test drives the IDENTICAL plan with sessions straddling
    trigger boundaries."""
    tok = F.concat(
        F.col("event_type"),
        F.lit(":"),
        F.round(F.col("value") * 100, 0).cast("bigint").cast("string"),
    )
    return (
        ev.select("user_id", "ts", "event_id", tok.alias("tok"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.collect_list(F.struct("ts", "event_id", "tok")).alias("_lst"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            F.array_join(
                F.transform(F.array_sort("_lst"), lambda x: x["tok"]), " "
            ).alias("transcript"),
        )
    )


def transcript_digest(drained: DataFrame) -> DataFrame:
    """Post-drain projection of stream_session_transcripts: per-transcript
    length + salted hash, ordered for the gate compare."""
    from syslog_kafka_spark.functions.hashes import hash64

    return drained.select(
        "user_id",
        "session_start",
        "n_events",
        F.length("transcript").alias("n_chars"),
        hash64("transcript", salt="transcript-v1").alias("transcript_hash"),
    ).orderBy("user_id", "session_start")


def _stream_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as a file-source STREAM.

    Single-file layout additionally re-spreads each microbatch across
    ``defaultParallelism`` tasks (which follows ``$SPARK_GRAFT_CPUS``):
    FileStreamSource plans one partition per FILE, so with one parquet
    file every consumer's per-document kernel
    (MinHash signing, gram hashing, token explodes — every _stream_docs
    gate does per-token work) ran as ONE task on a 32-core host. The r14
    interleaved A/B over the nine consumers measured the repartition worth
    −0.2 to −1.1 s/gate warm (cms 2.3→1.2, lsh probe 2.7→1.8, bloom
    2.8→2.1, hll 2.0→1.25, decontamination 2.5→1.9; fertility/quality-gate
    flat, none slower). Directory layouts keep their natural per-file
    parallelism — no repartition. Pure row re-spread before any
    aggregation: every consumer's result is partition-order-independent
    (complete-mode aggregates / key-projected dedup), which the driver
    hash gates confirm."""
    return _stream_table(spark, sf_dir, "documents", spread=True)


def _stream_bloom_oracle() -> str:
    from syslog_kafka_spark.operators.curation import ngram_hashes_sql
    from syslog_kafka_spark.plans.llm_scale import (
        _BLOOM_K,
        _BLOOM_N,
        _bloom_pos_sql,
    )

    toks = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '')"
    gram_expr, unnest = ngram_hashes_sql("toks", n=_BLOOM_N, salt="bloom-v1")
    pos_list = ", ".join(_bloom_pos_sql("gram_hash", i) for i in range(_BLOOM_K))
    return f"""
        WITH d AS (
          SELECT doc_id, {toks} AS toks FROM documents
        ), g AS (
          SELECT {gram_expr} AS gram_hash
          FROM d, {unnest}
          WHERE len(toks) >= {_BLOOM_N}
        ), p AS (
          SELECT pos FROM g, unnest([{pos_list}]) AS _p(pos)
        ), c AS (
          SELECT pos, CAST(count(*) AS BIGINT) AS hits FROM p GROUP BY pos
        )
        SELECT pos // 1024 AS bucket,
               CAST(count(*) AS BIGINT) AS n_set_bits,
               CAST(sum(hits) AS BIGINT) AS n_probe_hits,
               min(pos) AS min_pos,
               max(pos) AS max_pos
        FROM c GROUP BY 1 ORDER BY bucket
    """


@query("stream_bloom_build", family="streaming", oracle=_stream_bloom_oracle(), confs=STATE_8)
def stream_bloom_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online Bloom-filter maintenance: the document stream's 8-gram
    hashes fold their Kirsch-Mitzenmacher probe positions (the IDENTICAL
    bloom_position_array the batch decontamination build uses) into ONE
    streaming aggregate of <=65536 per-position counters. This is how the
    decontamination filter stays fresh at 100 TB ingest: the filter's
    state is bounded by m FOREVER (the batch twin rebuilds it from
    scratch each run), counter-wise mergeable across executors and
    microbatches by the aggregate's own partial merge, and the drained
    per-position counts are strictly MORE information than the bit set
    (bit = count > 0, plus saturation diagnostics the bit array cannot
    give). The 64-bucket rollup is the gate surface; a stream that
    dropped, duplicated, or mis-probed any gram hash-fails against the
    batch-twin oracle."""
    from syslog_kafka_spark.operators.curation import ngram_hashes
    from syslog_kafka_spark.plans.llm_scale import _BLOOM_N, bloom_position_array

    raw = _stream_docs(spark, sf_dir)
    grams = ngram_hashes(raw, n=_BLOOM_N, salt="bloom-v1")
    pos = grams.select(F.explode(bloom_position_array()).alias("pos"))
    sketch = pos.groupBy("pos").agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    drained = drain(sketch, mode="complete")
    return (
        drained.groupBy(F.expr("pos div 1024").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_set_bits"),
            F.sum("hits").cast("bigint").alias("n_probe_hits"),
            F.min("pos").alias("min_pos"),
            F.max("pos").alias("max_pos"),
        )
        .orderBy("bucket")
    )


def _stream_hll_oracle() -> str:
    from syslog_kafka_spark.functions.hashes import hash64_sql
    from syslog_kafka_spark.plans.llm_scale import _HLL_ALPHA, _HLL_M, _HLL_WBITS

    toks = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '')"
    h = hash64_sql("term", salt="hll-v1")
    z = f"(z_used + ({_HLL_M} - used))"
    raw = f"(CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M} / {z})"
    return f"""
        WITH tok AS (
          SELECT source, unnest({toks}) AS term FROM documents
        ), hh AS (
          SELECT source, ({h}) % {_HLL_M} AS reg, ({h}) // {_HLL_M} AS w
          FROM tok
        ), reg AS (
          SELECT source, reg,
                 max(CASE WHEN w = 0 THEN {_HLL_WBITS + 1}
                          ELSE {_HLL_WBITS + 1} - length(bin(w)) END) AS rho
          FROM hh GROUP BY source, reg
        ), sk AS (
          SELECT source,
                 CAST(count(*) AS BIGINT) AS used,
                 sum(power(2.0, -rho)) AS z_used
          FROM reg GROUP BY source
        )
        SELECT source, used AS used_registers,
               ROUND({raw}, 2) AS hll_raw,
               ROUND(CASE WHEN ROUND({raw}, 2) <= 2.5 * {_HLL_M} AND used < {_HLL_M}
                          THEN {_HLL_M} * ln({_HLL_M} * 1.0 / ({_HLL_M} - used))
                          ELSE {raw} END, 2) AS hll_est
        FROM sk ORDER BY source
    """


@query("stream_hll_build", family="streaming", oracle=_stream_hll_oracle(), confs=STATE_8)
def stream_hll_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online HyperLogLog maintenance: the document stream's tokens fold
    into the IDENTICAL per-source 1024-register sketch the batch audit
    builds (llm_hll_vocab_cardinality) — register/rho are pure Column
    expressions shared via hll_register_frame, and ONE streaming
    max-aggregate holds the registers. This is the online distinct-count
    a 100 TB ingest keeps per source: state is <=1024 registers x
    #sources FOREVER, register-wise max-mergeable across executors,
    microbatches, and even across separately-built sketches. The drained
    registers feed the SAME pinned-regime estimator the batch audit
    reports (hll_estimators — one definition, so the regime rule cannot
    drift), and the batch-twin oracle hash-fails any dropped, duplicated,
    or mis-bucketed token."""
    from syslog_kafka_spark.functions.text import tokens
    from syslog_kafka_spark.plans.llm_scale import (
        hll_estimate_columns,
        hll_register_frame,
    )

    raw = _stream_docs(spark, sf_dir)
    tok = raw.select("source", F.explode(tokens("text")).alias("term"))
    reg = hll_register_frame(tok)
    drained = drain(reg, mode="complete")
    sk = drained.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("used"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("z_used"),
    )
    return hll_estimate_columns(sk).orderBy("source")


def _stream_quality_oracle() -> str:
    from syslog_kafka_spark.functions.hashes import hash64_sql
    from syslog_kafka_spark.operators.quality_frozen import (
        QF_BIAS,
        QF_BUCKETS,
        QF_WEIGHTS,
    )

    toks = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '')"
    w_list = "[" + ", ".join(f"CAST({w!r} AS DOUBLE)" for w in QF_WEIGHTS) + "]"
    h = hash64_sql("tok", salt="hq-v1")
    return f"""
        WITH w AS (SELECT {w_list} AS wl),
        base AS (
          SELECT doc_id, {toks} AS toks FROM documents
        ), tok AS (
          SELECT doc_id, unnest(toks) AS tok FROM base
        ), bk AS (
          SELECT doc_id, ({h}) % {QF_BUCKETS} AS bucket,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM tok GROUP BY 1, 2
        ), z AS (
          SELECT bk.doc_id,
                 sum(w.wl[bk.bucket + 1] * (bk.cnt * 1.0 / len(b2.toks))) AS z
          FROM bk CROSS JOIN w JOIN base b2 ON b2.doc_id = bk.doc_id
          GROUP BY bk.doc_id
        ), scored AS (
          SELECT b.doc_id,
                 ROUND(1.0 / (1.0 + exp(-(coalesce(z.z, 0.0)
                       + CAST({QF_BIAS!r} AS DOUBLE)))), 6) AS q_score
          FROM base b LEFT JOIN z ON z.doc_id = b.doc_id
        )
        SELECT (q_score >= 0.5) AS model_keep,
               CAST(count(*) AS BIGINT) AS n_docs,
               ROUND(avg(q_score), 4) AS mean_q_score,
               min(doc_id) AS min_doc_id,
               max(doc_id) AS max_doc_id
        FROM scored GROUP BY 1 ORDER BY model_keep
    """


@query("stream_quality_filter", family="streaming", oracle=_stream_quality_oracle(), confs=STATE_8)
def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE model-based filtering: arriving documents score against
    the frozen hashed-BoW classifier INSIDE their scan task (the
    quality_z_arrow kernel — tokens hash and weights fold locally, zero
    shuffle per document, the shape an ingest filter runs at 100 TB)
    and only the keep-rate monitor is stateful: ONE complete-mode
    aggregate holding two rows. This is the online twin of
    llm_hashed_quality_classifier — frozen weights shipped as constants,
    identical on every executor and every microbatch, so the filter
    decision for a document is independent of when it arrives. The
    batch-twin oracle recomputes every score relationally; a stream
    that dropped, duplicated, or mis-scored any document hash-fails.
    The sigmoid + 6-dp rounding + 0.5 cut happen in Spark expressions
    (JVM HALF_UP), not the kernel (numpy rounds half-even)."""
    from syslog_kafka_spark.functions.text import tokens as _tokens
    from syslog_kafka_spark.operators.quality import quality_z_arrow

    raw = _stream_docs(spark, sf_dir)
    scored_z = quality_z_arrow(
        raw.select("doc_id", _tokens("text").alias("toks"))
    )
    q_score = F.round(1.0 / (1.0 + F.exp(-F.col("z"))), 6)
    keep_counts = (
        scored_z.select("doc_id", q_score.alias("q_score"))
        .groupBy((F.col("q_score") >= 0.5).alias("model_keep"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("q_score"), 4).alias("mean_q_score"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )
    return drain(keep_counts, mode="complete").orderBy("model_keep")


# ---------------------------------------------------------------------------
# Streaming IVF re-fit drift (online quantizer-staleness monitor)
# ---------------------------------------------------------------------------


# Shared with the batch audit: both refit twins build on the SAME
# partials/finish pair defined next to llm_ivf_refit_drift_audit, so the
# drift arithmetic cannot de-twin (r9 self-review).
from syslog_kafka_spark.plans.curation_qa import (  # noqa: E402
    ivf_refit_finish,
    ivf_refit_partials_frame,
)


def _stream_ivf_refit_oracle() -> str:
    from syslog_kafka_spark.plans.curation_qa import _ivf_refit_drift_oracle

    return _ivf_refit_drift_oracle()


@query(
    "stream_ivf_refit_drift",
    family="streaming",
    oracle=_stream_ivf_refit_oracle(),
    confs=STATE_8,
)
def stream_ivf_refit_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online quantizer-staleness monitor: the embedding stream folds
    into the per-(list, dim) SUM/COUNT sufficient statistics of the
    Lloyd-step means — the streaming twin of llm_ivf_refit_drift_audit,
    and the online form of the number that decides when the ANN /
    blocked-dedup index must re-fit. At 100 TB ingest this is how drift
    is watched WITHOUT re-scanning the corpus: state is nlist × dim
    (1024) rows forever, counter-wise mergeable across executors and
    microbatches (sums and counts are the textbook mergeable statistics;
    means are finished only at read time), and the frozen-quantizer
    assignment is the SAME bit-parity frozen-sims pandas UDF the batch
    audit uses — literally the same plan: both twins build on the
    shared ivf_refit_partials_frame / ivf_refit_finish pair, so the
    drift arithmetic cannot de-twin, and both gate on the SAME batch
    oracle — a stream that dropped, duplicated, or mis-assigned any
    vector hash-fails."""
    raw = _stream_embeddings(spark, sf_dir)
    return ivf_refit_finish(drain(ivf_refit_partials_frame(raw), mode="complete"))


# ---------------------------------------------------------------------------
# Streaming BPE merge-candidate counting (online tokenizer-training stats)
# ---------------------------------------------------------------------------


def bpe_pair_counts_frame(raw: DataFrame) -> DataFrame:
    """Pre-drain plan of stream_bpe_merge_candidates: adjacent
    character-pair counts over the arriving token stream — ONE streaming
    aggregate whose state is bounded by |alphabet|² pairs FOREVER
    (a few hundred rows on natural text), counter-wise mergeable across
    executors and microbatches. Counting per word OCCURRENCE here is
    arithmetic-identical to the batch query's freq-weighted count over
    the vocab aggregate (Σ_word freq·pairs(word) = Σ_occurrence
    pairs(word)); the batch side pre-aggregates the vocab first because
    a BATCH pass can exploit the zipfian collapse, while a stream takes
    each occurrence once as it arrives. Takes any (…, text) streaming
    frame so the multi-batch replay test drives the IDENTICAL plan."""
    from syslog_kafka_spark.functions.text import tokens

    words = raw.select(F.explode(tokens("text")).alias("word")).filter(
        F.length("word") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair")
    )
    return pairs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )


def bpe_topk_finish(counts: DataFrame, k: int) -> DataFrame:
    """Post-drain finishing: rank the drained pair counts (bounded by
    |alphabet|² rows) with the batch query's freq-desc/pair tiebreak."""
    from pyspark.sql import Window

    ranked = counts.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("pair"))),
    ).filter(F.col("rank") <= k)
    return ranked.select(
        F.col("rank").cast("int").alias("rank"), "pair", "freq"
    ).orderBy("rank")


def _stream_bpe_oracle() -> str:
    # importing mining registers the batch twin — don't rely on load_all's
    # import order having reached it before this module
    from syslog_kafka_spark.plans import mining  # noqa: F401
    from syslog_kafka_spark.plans.registry import QUERIES

    return QUERIES["llm_bpe_merge_candidates"].oracle


@query(
    "stream_bpe_merge_candidates",
    family="streaming",
    oracle=_stream_bpe_oracle(),
    confs=STATE_16,
)
def stream_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online BPE merge-candidate counting: the document stream's
    adjacent character-pair frequencies fold into ONE streaming
    aggregate with |alphabet|²-bounded state — the tokenizer-training
    statistic maintained AT INGEST, so the next merge decision never
    re-scans the corpus (the outer BPE loop re-points the stream at the
    rewritten vocab; its inner count is exactly this state). Counts are
    exact integers (no float surface); the drained state feeds the batch
    query's ranking and the SAME batch oracle, so a stream that dropped
    or duplicated any token's pairs hash-fails."""
    raw = _stream_docs(spark, sf_dir)
    from syslog_kafka_spark.plans.mining import _BPE_TOPK

    return bpe_topk_finish(
        drain(bpe_pair_counts_frame(raw), mode="complete"), _BPE_TOPK
    )


# ---------------------------------------------------------------------------
# Streaming LSH near-dup probe (online dedup against the ingested corpus)
# ---------------------------------------------------------------------------

_LSH_K = 5
_LSH_HASHES = 16
_LSH_BANDS = 4


def lsh_probe_digest_frame(probe_docs: DataFrame, corpus_docs: DataFrame) -> DataFrame:
    """Per-band candidate-collision digest of a (possibly streaming)
    document frame probed against the STATIC corpus' banded LSH base —
    the pre-drain plan shared by the gate and the multibatch replay test.

    Shape: each arriving document shingles, signs, and bands INSIDE its
    scan task (the same lsh_base_arrow kernel and banded_buckets
    expression the batch pipeline uses — one definition each, so the
    twins cannot diverge); the probe join against the banded base is a
    STATELESS stream-static equi-join on (band, bucket); the only
    stateful operator is the complete-mode monitor aggregate, bounded at
    #bands rows forever. ``base_id < probe_id`` keeps pair orientation
    identical to the batch self-join's ``id_a < id_b``. No pair-level
    distinct (that would be unbounded streaming state): the digest
    counts RAW band collisions — exactly the pre-dedup volume the batch
    pipeline's first join produces, which is also the quantity an
    ingest-side monitor watches (candidate volume per band = the LSH
    parameter-health signal)."""
    from syslog_kafka_spark.operators.dedup import (
        banded_buckets,
        cached_lsh_base,
        lsh_base_arrow,
        normalized,
    )

    # the SAME construction (and therefore the same semanticHash → the
    # same session-cache entry) as the batch candidate pipeline's base —
    # one corpus-sized cached frame under the LRU budget, never two
    base = cached_lsh_base(corpus_docs, _LSH_K, _LSH_HASHES)
    static_banded = banded_buckets(base, _LSH_HASHES, _LSH_BANDS).select(
        F.col("_id").alias("base_id"), "_band", "_bucket"
    )
    probe_base = lsh_base_arrow(
        probe_docs.select(
            F.col("doc_id").alias("_id"), normalized("text").alias("_norm")
        ),
        _LSH_K,
        _LSH_HASHES,
    )
    probe_banded = banded_buckets(probe_base, _LSH_HASHES, _LSH_BANDS).select(
        F.col("_id").alias("probe_id"), "_band", "_bucket"
    )
    cands = probe_banded.join(static_banded, ["_band", "_bucket"]).filter(
        F.col("base_id") < F.col("probe_id")
    )
    return cands.groupBy(F.col("_band").cast("int").alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum("probe_id").cast("bigint").alias("probe_checksum"),
        F.sum("base_id").cast("bigint").alias("base_checksum"),
        F.min("base_id").alias("min_base_id"),
        F.max("probe_id").alias("max_probe_id"),
    )


def _stream_lsh_probe_oracle() -> str:
    from syslog_kafka_spark.plans.llm import _lsh_banded_cte

    return f"""
        WITH {_lsh_banded_cte(_LSH_HASHES, _LSH_BANDS)},
        cand AS (
          SELECT a.band, a.id AS probe_id, b.id AS base_id
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket AND b.id < a.id
        )
        SELECT CAST(band AS INT) AS band,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(probe_id) AS BIGINT) AS probe_checksum,
               CAST(sum(base_id) AS BIGINT) AS base_checksum,
               min(base_id) AS min_base_id,
               max(probe_id) AS max_probe_id
        FROM cand GROUP BY band ORDER BY band
    """


@query(
    "stream_lsh_probe_digest",
    family="streaming",
    oracle=_stream_lsh_probe_oracle(),
    confs=STATE_16,
)
def stream_lsh_probe_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE near-duplicate probing — the streaming face of
    minhash_pairs_banded, the last §2B.10 batch dedup capability without
    one: documents arrive as a stream, MinHash-sign inside their scan
    task, and probe the already-ingested corpus' banded LSH base via a
    stateless stream-static join; a complete-mode per-band digest
    (candidate count + id checksums) is the only state, bounded at
    #bands rows however much data streams through. This is the ingest
    shape at 100 TB: signature computation is arrival-order-independent
    (frozen hash family, per-document), the base is the warehouse-side
    static artifact, and a duplicate is flagged the microbatch its
    probe collides — before it lands in the training mix.

    The batch-twin oracle recomputes every signature, band bucket, and
    collision relationally (the SAME _lsh_banded_cte the batch pair
    oracle uses); a stream that dropped, duplicated, or mis-bucketed
    any document hash-fails. The multibatch replay test re-runs this
    exact pre-drain plan at maxFilesPerTrigger=1."""
    d = load_tables(spark, sf_dir).documents
    digest = lsh_probe_digest_frame(_stream_docs(spark, sf_dir), d)
    return drain(digest, mode="complete").orderBy("band")


# ---------------------------------------------------------------------------
# Streaming Bloom decontamination probe (online contamination flagging)
# ---------------------------------------------------------------------------


def bloom_probe_digest_frame(probe_docs: DataFrame, static_docs: DataFrame) -> DataFrame:
    """Per-bucket contamination digest of a (possibly streaming) document
    frame probed against the held-out split's Bloom filter — the
    pre-drain plan shared by the gate and the multibatch replay test.

    The filter artifact is built BATCH-side from the static corpus: the
    'test' hash-split's 8-gram probe positions (the identical
    bloom_position_array the batch decontamination and the streaming
    filter build use) collapse to ≤m distinct positions, collected into
    one m-length boolean bitmap and attached to the stream as a 1-row
    broadcast frame. The collect is bounded at m = 65536 booleans (64 KB)
    REGARDLESS of corpus size — the same bounded-by-construction class as
    the adjudicated watermark scalars, and exactly how production
    runtime filters ship (built once per eval-set refresh, not per
    microbatch). Each arriving document then evaluates entirely INSIDE
    its scan task: gram hashes stay in a per-row array (never exploded),
    and a higher-order fold counts grams whose k probe positions are all
    set. No per-document state exists anywhere; the only stateful
    operator is the complete-mode digest, bounded at 64 buckets forever."""
    from syslog_kafka_spark.functions.hashes import hash64
    from syslog_kafka_spark.functions.text import tokens
    from syslog_kafka_spark.operators.curation import hash_split, ngram_hashes
    from syslog_kafka_spark.plans.llm_scale import (
        _BLOOM_M,
        _BLOOM_N,
        bloom_position_array,
    )

    spark = static_docs.sparkSession
    test_pos = (
        ngram_hashes(
            static_docs.select(
                "doc_id", "text", hash_split("doc_id").alias("split")
            ).filter(F.col("split") == "test"),
            n=_BLOOM_N,
            salt="bloom-v1",
        )
        .select(F.explode(bloom_position_array()).alias("pos"))
        .distinct()
    )
    set_pos = {int(r.pos) for r in test_pos.collect()}  # bounded: ≤ m rows
    bitmap = [i in set_pos for i in range(_BLOOM_M)]
    bitmap_df = spark.createDataFrame(
        [(1, bitmap)], "_k int, bloom_bits array<boolean>"
    )

    probe = (
        probe_docs.select(
            "doc_id", hash_split("doc_id").alias("split"), tokens("text").alias("_toks")
        )
        .filter((F.col("split") != "test") & (F.size("_toks") >= _BLOOM_N))
    )
    starts = F.sequence(F.lit(1), F.size("_toks") - F.lit(_BLOOM_N - 1))
    grams = F.transform(
        starts,
        lambda s: hash64(
            F.array_join(F.slice("_toks", s, _BLOOM_N), " "), salt="bloom-v1"
        ),
    )
    joined = (
        probe.select("doc_id", grams.alias("_grams"))
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(bitmap_df), "_k")
    )
    n_hits = F.aggregate(
        F.col("_grams"),
        F.lit(0).cast("bigint"),
        lambda acc, g: acc
        + F.when(
            F.forall(
                bloom_position_array(g),
                lambda p: F.element_at(F.col("bloom_bits"), p.cast("int") + F.lit(1)),
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
    verdicts = joined.select(
        "doc_id",
        F.size("_grams").cast("bigint").alias("n_grams"),
        n_hits.alias("n_hits"),
    )
    return verdicts.groupBy(
        F.pmod(F.col("doc_id"), F.lit(64)).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("n_hits") > 0).cast("bigint")).cast("bigint").alias("n_flagged"),
        F.sum("n_grams").cast("bigint").alias("total_grams"),
        F.sum("n_hits").cast("bigint").alias("total_hits"),
        F.coalesce(
            F.sum(F.when(F.col("n_hits") > 0, F.col("doc_id"))), F.lit(0)
        )
        .cast("bigint")
        .alias("flagged_checksum"),
    )


def _stream_decontamination_oracle() -> str:
    from syslog_kafka_spark.operators.curation import hash_split_sql, ngram_hashes_sql
    from syslog_kafka_spark.plans.llm_scale import (
        _BLOOM_K,
        _BLOOM_N,
        _bloom_pos_sql,
    )

    toks = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '')"
    gram_expr, unnest = ngram_hashes_sql("toks", n=_BLOOM_N, salt="bloom-v1")
    pos_list = ", ".join(_bloom_pos_sql("gram_hash", i) for i in range(_BLOOM_K))
    return f"""
        WITH d AS (
          SELECT doc_id, {toks} AS toks,
                 {hash_split_sql('doc_id')} AS split
          FROM documents
        ), g AS (
          SELECT doc_id, split, s, {gram_expr} AS gram_hash
          FROM d, {unnest}
          WHERE len(toks) >= {_BLOOM_N}
        ), test_pos AS (
          SELECT DISTINCT p AS pos
          FROM (SELECT DISTINCT gram_hash FROM g WHERE split = 'test') tg,
               unnest([{pos_list}]) AS _p(p)
        ), probes AS (
          SELECT doc_id, s,
                 count(*) AS n_pos,
                 sum(CASE WHEN tp.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
          FROM (SELECT doc_id, s, gram_hash, p AS pos
                FROM g, unnest([{pos_list}]) AS _p(p)
                WHERE split != 'test') pr
          LEFT JOIN test_pos tp USING (pos)
          GROUP BY doc_id, s
        ), per_doc AS (
          SELECT doc_id, count(*) AS n_grams,
                 sum(CASE WHEN n_hit = n_pos THEN 1 ELSE 0 END) AS n_hits
          FROM probes GROUP BY doc_id
        )
        SELECT CAST(((doc_id % 64) + 64) % 64 AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_flagged,
               CAST(sum(n_grams) AS BIGINT) AS total_grams,
               CAST(sum(n_hits) AS BIGINT) AS total_hits,
               CAST(COALESCE(sum(CASE WHEN n_hits > 0 THEN doc_id END), 0)
                    AS BIGINT) AS flagged_checksum
        FROM per_doc GROUP BY 1 ORDER BY bucket
    """


@query(
    "stream_decontamination_probe",
    family="streaming",
    oracle=_stream_decontamination_oracle(),
    confs=STATE_8,
)
def stream_decontamination_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE decontamination — the ingest face of
    llm_bloom_decontamination, closing the last batch curation stage
    without a streaming twin: documents arrive as a stream, and each one
    is probed against the held-out split's Bloom filter INSIDE its scan
    task (gram hashes stay in a per-row array; membership is a
    higher-order fold over the broadcast 64 KB bitmap), so a
    benchmark-contaminated document is flagged the microbatch it
    arrives — before it lands in the training mix. This is the
    production shape at 100 TB: the eval set is small and static (the
    filter rebuilds only on eval-set refresh), ingest is the unbounded
    side, and the flag decision is stateless per document; the only
    streaming state is the 64-bucket monitor digest (counts + flagged-id
    checksum), bounded forever.

    The batch-twin oracle recomputes every gram hash, probe position,
    and all-k-hit verdict RELATIONALLY (distinct test-split positions,
    left join) — bitmap membership and the relational join are the same
    predicate by construction, so a stream that dropped, duplicated, or
    mis-probed any gram hash-fails. The multibatch replay test re-runs
    this exact pre-drain plan at maxFilesPerTrigger=1."""
    d = load_tables(spark, sf_dir).documents
    digest = bloom_probe_digest_frame(_stream_docs(spark, sf_dir), d)
    return drain(digest, mode="complete").orderBy("bucket")


# ---------------------------------------------------------------------------
# Streaming BPE fertility monitor (online tokenizer-health at ingest)
# ---------------------------------------------------------------------------


def bpe_fertility_frame(raw: DataFrame) -> DataFrame:
    """Pre-drain plan of stream_bpe_encode_fertility: every arriving
    token encodes against the frozen to-convergence merge table INSIDE
    its scan task (the same Arrow checkpoint kernel llm_bpe_encode_table
    ships — one definition, so the twins cannot de-twin) and folds into
    ONE streaming aggregate keyed by (checkpoint rank, tokens-per-word
    bucket): state is ≤ |checkpoints| × |buckets| = 30 rows FOREVER,
    exact integers, counter-wise mergeable across executors and
    microbatches. Encoding per word OCCURRENCE here is
    arithmetic-identical to the batch query's freq-weighted encode over
    the vocab aggregate (Σ_word freq·f(word) = Σ_occurrence f(word));
    the batch side pre-aggregates the vocab to exploit the zipfian
    collapse, while a stream takes each occurrence once as it arrives —
    the same trade bpe_pair_counts_frame documents. Takes any (…, text)
    streaming frame so the multi-batch replay test drives the IDENTICAL
    plan."""
    from syslog_kafka_spark.functions.text import tokens
    from syslog_kafka_spark.operators.bpe_frozen_full import BPE_MERGES_FULL
    from syslog_kafka_spark.operators.bpe_kernel import bpe_checkpoint_token_counts
    from syslog_kafka_spark.plans.mining import (
        _BPE_CURVE_CHECKPOINTS,
        _ENC_MAX_BUCKET,
        _US,
    )

    curve = bpe_checkpoint_token_counts(BPE_MERGES_FULL, _BPE_CURVE_CHECKPOINTS)
    ranks = F.array(*[F.lit(c) for c in _BPE_CURVE_CHECKPOINTS])
    words = raw.select(F.explode(tokens("text")).alias("word")).filter(
        ~F.col("word").contains(_US)
    )
    enc = words.select(
        F.length("word").alias("n_chars"), F.posexplode(curve(F.col("word")))
    ).select(
        F.get(ranks, F.col("pos")).cast("int").alias("merges_applied"),
        "n_chars",
        F.col("col").alias("n_tokens"),
    )
    return enc.groupBy(
        "merges_applied",
        F.least(F.col("n_tokens"), F.lit(_ENC_MAX_BUCKET)).cast("int").alias("bucket"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


def _stream_fertility_oracle() -> str:
    from syslog_kafka_spark.operators.bpe_frozen_full import BPE_MERGES_FULL
    from syslog_kafka_spark.plans.mining import (
        _BPE_CURVE_CHECKPOINTS,
        _ENC_MAX_BUCKET,
        bpe_apply_fold_sql,
        bpe_vocab_cte,
    )

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = ", ".join(
        f"({i + 1}, {q(a)}, {q(b)})" for i, (a, b) in enumerate(BPE_MERGES_FULL)
    )
    cks = ", ".join(str(c) for c in _BPE_CURVE_CHECKPOINTS)
    fold = bpe_apply_fold_sql("e.syms", "m.m_a", "m.m_b")
    # vocab-level stepped encode weighted back by freq — per-occurrence
    # equivalence is exact because the encode is a pure per-word function
    return f"""
        WITH RECURSIVE {bpe_vocab_cte()},
        m(rank, m_a, m_b) AS (VALUES {vals}),
        stepped AS (
          SELECT 0 AS r, word, freq, syms FROM v0
          UNION ALL
          SELECT e.r + 1, e.word, e.freq, {fold} AS syms
          FROM stepped e JOIN m ON m.rank = e.r + 1
        ), enc AS (
          SELECT r, word, freq, len(syms) AS n_tokens
          FROM stepped WHERE r IN ({cks})
        )
        SELECT CAST(r AS INT) AS merges_applied,
               CAST(LEAST(n_tokens, {_ENC_MAX_BUCKET}) AS INT) AS bucket,
               CAST(sum(freq) AS BIGINT) AS n_occurrences,
               CAST(sum(freq * length(word)) AS BIGINT) AS total_chars,
               CAST(sum(freq * n_tokens) AS BIGINT) AS total_tokens
        FROM enc GROUP BY 1, 2 ORDER BY merges_applied, bucket
    """


@query(
    "stream_bpe_encode_fertility",
    family="streaming",
    oracle=_stream_fertility_oracle(),
    confs=STATE_8,
)
def stream_bpe_encode_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE tokenizer-fertility monitoring — the ingest face of
    llm_bpe_encode_table: every arriving document's tokens encode
    against the frozen merge table in their scan task and the
    compression curve (tokens-per-word histogram at checkpoint ranks
    8/16/32/64/89) is maintained AT INGEST, so a drift in incoming text
    that degrades the tokenizer (fertility creep — more tokens per word
    than the table was trained for) is visible the microbatch it
    arrives, not at the next offline re-encode. This is the production
    shape at 100 TB: the merge table is a frozen artifact (rebuilt only
    on tokenizer refresh), ingest is the unbounded side, per-document
    work is stateless and scan-local, and the only streaming state is
    the 30-row curve digest, bounded forever.

    The batch-twin oracle replays the SAME table through the SAME fold
    SQL the trainer gates (vocab-level recursive CTE, freq-weighted —
    arithmetic-identical to this query's per-occurrence fold), so a
    stream that dropped, duplicated, or mis-encoded any token
    hash-fails. The multibatch replay test re-runs this exact pre-drain
    plan at maxFilesPerTrigger=1."""
    return (
        drain(bpe_fertility_frame(_stream_docs(spark, sf_dir)), mode="complete")
        .orderBy("merges_applied", "bucket")
    )

def quality_gate_frame(raw: DataFrame) -> DataFrame:
    """Pre-drain plan of stream_quality_gate_monitor: the SHARED per-doc
    feature and ledger builders from plans/curation_qa (one definition
    with the batch sweep, so the gate arithmetic cannot de-twin), with
    thresholds entering as an EXPLODE of the literal array (no join at
    all — the streaming-safe twin of the batch face's broadcast cross
    join) and ONE streaming aggregate holding #thresholds counter rows.
    Takes any (text, n_chars, ...) streaming frame so the multi-batch
    replay test drives the IDENTICAL plan with the corpus split across
    triggers."""
    from syslog_kafka_spark.plans.curation_qa import (
        _GATE_THRESHOLDS,
        quality_gate_feats,
        quality_gate_ledger_aggs,
    )

    exploded = quality_gate_feats(raw).select(
        "n_chars",
        "n_tokens",
        "uniq_ratio",
        F.explode(
            F.array(*[F.lit(float(t)) for t in _GATE_THRESHOLDS])
        ).alias("min_uniq_ratio"),
    )
    return exploded.groupBy("min_uniq_ratio").agg(*quality_gate_ledger_aggs())


def _quality_gate_monitor_oracle() -> str:
    from syslog_kafka_spark.plans.curation_qa import _quality_gate_sweep_oracle

    return _quality_gate_sweep_oracle()


@query(
    "stream_quality_gate_monitor",
    family="streaming",
    oracle=_quality_gate_monitor_oracle(),
    confs=STATE_8,
)
def stream_quality_gate_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-gate pricing sweep (llm_quality_gate_sweep) as a LIVE
    ingest monitor: every arriving document prices itself against each
    candidate unique-token-ratio floor, and one streaming aggregate
    keeps the running kept/dropped doc+char+token ledgers per threshold.
    This is the curation dashboard a 100 TB ingest watches to see a
    quality gate's cost drift as the crawl mix changes — and its state
    is #thresholds rows FOREVER (the counters are mergeable across
    executors and microbatches by the aggregate's own partial merge),
    so it runs forever at any scale. Thresholds enter as an exploded
    literal array rather than the batch face's broadcast cross join —
    identical semantics, no stream-side join. The batch-twin oracle
    recomputes the ledger over the same corpus, so a stream that
    dropped, duplicated, or double-priced any document hash-fails."""
    raw = _stream_docs(spark, sf_dir)
    return drain(quality_gate_frame(raw), mode="complete").orderBy("min_uniq_ratio")
