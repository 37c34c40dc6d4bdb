"""Streaming operator surface (SURVEY §2B.9) and the end-to-end ingest
pipeline: syslog source → parse → encode → sink.

Every builder is a pure DataFrame transformation, so the same code path
serves a batch frame (for the oracle-gated batch twins) and a streaming
one — the core Structured Streaming design, exploited deliberately.

Delivery semantics: file/kafka sinks are exactly-once per Structured
Streaming's checkpoint contract. The socket source delivers no line twice;
lines buffered in a process that dies before their batch commits are lost,
and that is its only loss (offsets name the listener that buffered them, so
a restart reads every line the new listener holds and replays nothing of
the dead one). The reference's unbuffered channel has the same loss window
(syslog/syslog_producer.go:89 — no WAL).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from syslog_kafka_spark.sources.syslog_parse import syslog_columns


def parsed_messages(messages: DataFrame) -> DataFrame:
    """SyslogMessage stream → parsed fields + ingestion envelope
    (source, received_ts). Pure projection — no shuffle, no state."""
    return messages.select("source", "received_ts", *syslog_columns("line"))


def windowed_severity_counts(
    parsed: DataFrame,
    *,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    time_col: str = "received_ts",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is set) severity histogram with
    late-data handling: rows later than ``watermark`` are dropped and the
    window state is finalized — bounded state at any scale."""
    win = (
        F.window(F.col(time_col), window, slide) if slide else F.window(F.col(time_col), window)
    )
    return (
        parsed.withWatermark(time_col, watermark)
        .groupBy(win.alias("win"), F.col("severity"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "severity",
            "n",
        )
    )


def sessionized_host_activity(
    parsed: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    time_col: str = "received_ts",
) -> DataFrame:
    """Session windows per host: a session closes after ``gap`` of silence
    (the streaming twin of the batch lag-gap sessionization)."""
    return (
        parsed.withWatermark(time_col, watermark)
        .groupBy(F.session_window(F.col(time_col), gap).alias("sess"), F.col("host"))
        .agg(F.count("*").alias("n_lines"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "host",
            "n_lines",
        )
    )


def deduped_stream(
    messages: DataFrame, *, watermark: str = "10 minutes", time_col: str = "received_ts"
) -> DataFrame:
    """Streaming dedup on (line, source) within the watermark horizon —
    state is purged as the watermark advances (bounded memory)."""
    return messages.withWatermark(time_col, watermark).dropDuplicates(["line", "source"])


def stream_static_enrich(parsed: DataFrame, dim: DataFrame, on: str, how: str = "left") -> DataFrame:
    """Stream-static join: each microbatch joins against the (broadcast)
    static dimension — no streaming state involved."""
    return parsed.join(F.broadcast(dim), on, how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    *,
    left_time: str,
    right_time: str,
    watermark: str = "10 minutes",
    interval: str = "5 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join bounded by a time interval: right rows
    match a left row when their event times are within ``interval`` of
    each other. Both sides are watermarked and the join condition bounds
    event-time distance, so Spark can expire buffered rows once the
    watermark passes them — state stays proportional to the interval, not
    the stream history. Outer flavors additionally need both watermarks
    to know when an unmatched row can be emitted; that requirement is
    satisfied here by construction.

    ``left_time`` / ``right_time`` must differ so both survive into the
    joined schema (rename upstream if needed); the right key column is
    dropped after the join."""
    if left_time == right_time:
        raise ValueError("left_time and right_time must be distinct column names")
    rkey = f"_r_{key}"
    lw = left.withWatermark(left_time, watermark)
    rw = right.withWatermark(right_time, watermark).withColumnRenamed(key, rkey)
    iv = F.expr(f"INTERVAL {interval}")
    cond = (
        (F.col(key) == F.col(rkey))
        & (F.col(right_time) >= F.col(left_time) - iv)
        & (F.col(right_time) <= F.col(left_time) + iv)
    )
    return lw.join(rw, cond, how).drop(rkey)


def incremental_dedup_stream(
    docs: DataFrame,
    seen_digests: DataFrame,
    *,
    text_col: str = "text",
    watermark: str = "10 minutes",
    time_col: str = "received_ts",
) -> DataFrame:
    """Incremental corpus ingestion dedup: drop streaming documents whose
    normalized-text digest already exists in the static corpus digest
    table (stream-static left-anti join, digest side broadcast), then
    drop within-stream repeats inside the watermark horizon.

    This is the streaming half of the exact-dedup tier
    (operators/dedup.py): the batch job builds/refreshes ``seen_digests``
    (one md5 per surviving doc), and every new micro-batch lands only
    novel documents. State: the anti join keeps none (static side is a
    broadcast lookup); dropDuplicates state is purged by the watermark."""
    from syslog_kafka_spark.operators.dedup import normalized

    digested = docs.withColumn("_digest", F.md5(normalized(text_col)))
    novel = digested.join(
        F.broadcast(seen_digests.select(F.col("digest").alias("_digest"))),
        "_digest",
        "left_anti",
    )
    return (
        novel.withWatermark(time_col, watermark)
        .dropDuplicates(["_digest"])
        .drop("_digest")
    )


def run_syslog_ingest(
    spark: SparkSession,
    *,
    host: str,
    port: int,
    protocol: str,
    topic: str,
    brokers: str | None,
    checkpoint: str,
    encoding: str = "string",
    schema_id: int | None = None,
    tags: dict[str, str] | None = None,
    logtypeid: int | None = None,
    output_path: str | None = None,
    num_producers: int = 1,
    acks: int = 1,
    acks_timeout_ms: int | None = None,
    linger_ms: int = 1000,
    batch_size: int = 1000,
    compression: str | None = None,
):
    """The reference's whole dataflow as one streaming query (R1-R16):
    listen → frame → transform → produce.

    ``num_producers`` is R20 parity (reference --num.producers spawns that
    many producer goroutines, syslog/syslog_producer.go:185-207): here it
    becomes the sink-side partition count, so ``n`` tasks each hold one
    Kafka producer connection. ``acks``/``acks_timeout_ms`` mirror
    --required.acks / --acks.timeout (syslog.go:84-85).

    ``brokers`` None routes to a parquet sink at ``output_path`` instead of
    Kafka (same projection) — useful for air-gapped runs and tests.
    Returns the StreamingQuery.
    """
    from syslog_kafka_spark.encode.transformers import (
        avro_transform,
        proto_transform,
        string_transform,
        write_kafka_stream,
    )
    from syslog_kafka_spark.sources.syslog_source import SyslogDataSource

    spark.dataSource.register(SyslogDataSource)
    messages = (
        spark.readStream.format("syslog")
        .option("host", host)
        .option("port", str(port))
        .option("protocol", protocol)
        .load()
    )
    if encoding == "string":
        records = string_transform(messages, topic)
    elif encoding == "avro":
        if schema_id is None:
            raise ValueError("avro encoding requires schema_id (register via SchemaRegistryClient)")
        records = avro_transform(messages, topic, schema_id, tags, logtypeid)
    elif encoding == "proto":
        records = proto_transform(messages, topic, tags, logtypeid)
    else:
        raise ValueError(f"unknown encoding {encoding!r}")

    if num_producers > 1:
        # R20: n sink partitions ≈ n reference producer goroutines — each
        # task owns one producer connection writing concurrently.
        records = records.repartition(num_producers)

    if brokers:
        return write_kafka_stream(
            records,
            brokers=brokers,
            checkpoint=checkpoint,
            acks=acks,
            acks_timeout_ms=acks_timeout_ms,
            linger_ms=linger_ms,
            batch_size=batch_size,
            compression=compression,
        )
    return (
        records.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint)
        .start()
    )
