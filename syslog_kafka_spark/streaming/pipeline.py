"""The end-to-end ingest pipeline: syslog source → parse → encode → sink.
The streaming operator surface (SURVEY §2B.9: windows, dedup, joins) is
hash-gated in plans/stream_gated.py.

Delivery semantics: the parquet sink is exactly-once per Structured
Streaming's checkpoint contract; the Kafka sink is at-least-once (a batch
retried after a failure can write its records again). The socket source delivers no line twice;
lines buffered in a process that dies before their batch commits are lost,
and that is its only loss (offsets name the listener that buffered them, so
a restart reads every line the new listener holds and replays nothing of
the dead one). The reference's unbuffered channel has the same loss window
(syslog/syslog_producer.go:89 — no WAL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from syslog_kafka_spark.sources.syslog_parse import syslog_columns


def parsed_messages(messages: DataFrame) -> DataFrame:
    """SyslogMessage stream → parsed fields + ingestion envelope
    (source, received_ts). Pure projection — no shuffle, no state."""
    return messages.select("source", "received_ts", *syslog_columns("line"))


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
    kafka_options: dict[str, str] | None = None,
):
    """The reference's whole dataflow as one streaming query (R1-R16):
    listen → frame → transform → produce.

    ``num_producers`` is R20 parity (reference --num.producers spawns that
    many producer goroutines, syslog/syslog_producer.go:185-207): here it
    becomes the sink-side partition count, so ``n`` tasks each hold one
    Kafka producer connection.

    ``kafka_options`` is the Kafka sink's option map, as
    ``producer_config.kafka_sink_options`` makes it from the reference's
    producer settings (R14-R16); None means the defaults with ``brokers``
    as the bootstrap list. ``brokers`` None routes to a parquet sink at
    ``output_path`` instead of Kafka (same projection) — useful for
    air-gapped runs and tests. Returns the StreamingQuery.
    """
    from syslog_kafka_spark.encode.producer_config import kafka_sink_options, producer_settings
    from syslog_kafka_spark.encode.transformers import (
        avro_transform,
        proto_transform,
        string_transform,
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
        fmt, opts = "kafka", kafka_options or kafka_sink_options(
            producer_settings(flags={"bootstrap.servers": brokers})
        )
    else:
        fmt, opts = "parquet", {"path": output_path}
    return (
        records.writeStream.format(fmt)
        .options(**opts)
        .option("checkpointLocation", checkpoint)
        .start()
    )
