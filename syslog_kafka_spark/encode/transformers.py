"""Message transformers: SyslogMessage rows → Kafka-sink projections.

Reference parity, one function per transformer:
- string_transform  = simpleTransformFunc (syslog/syslog_producer.go:209-211)
- avro_transform    = avroTransformer (syslog.go:146-161): LogLine{line,
  source, static tag map, optional logtypeid, timings=[{"received", ms}]},
  Confluent-framed Avro value.
- proto_transform   = protobufTransformer (syslog.go:163-182): proto
  LogLine with timings=[received_ms, sent_ms] (two bare longs,
  syslog.go:174) and repeated Tag pairs.

The Avro and proto encoders are vectorised Arrow UDFs. Of a LogLine only
``line``, ``source`` and the timings vary per row; the Confluent header,
the tag map and ``logtypeid`` are per-query constants. So the constant
bytes are written once on the driver with the reference writers
(encode/avro_binary.py, encode/proto_wire.py), and each Arrow batch only
computes the varints (lengths, timestamps) in numpy and joins the pieces
with one ``binary_join_element_wise``. The byte formats stay pinned to the
reference writers by a differential test (tests/test_encodings.py). Output
schema is the Kafka sink row contract: key BINARY, value BINARY, topic
STRING [, partition INT].
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import arrow_udf

from syslog_kafka_spark.encode.avro_binary import (
    confluent_frame,
    write_long,
    write_string,
    write_varints,
    zigzag,
)
from syslog_kafka_spark.encode.proto_wire import _key, _len_delimited, _varint_field, encode_tag
from syslog_kafka_spark.functions.hashes import fnv1a32_partition


def string_transform(messages: DataFrame, topic: str) -> DataFrame:
    """R5: value = raw line bytes (StringSerializer parity)."""
    return messages.select(
        F.lit(None).cast("binary").alias("key"),
        F.col("line").cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
    )


def _epoch_ms(ts: str) -> Column:
    """Epoch milliseconds of a timestamp expression, truncated toward zero
    like the reference's ``UnixNano() / int64(time.Millisecond)``; integer
    division, so exact over the whole timestamp range."""
    return F.expr(f"unix_micros(CAST({ts} AS TIMESTAMP)) div 1000")


def _length_prefixed(prefix: bytes, values, avro: bool):
    """Per row ``prefix + varint(byte length) + bytes`` of a string array;
    null where ``values`` is null. Avro lengths are zigzag longs, proto
    lengths plain varints."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    values = values.cast(pa.binary())
    n = pc.binary_length(values).fill_null(0).to_numpy().astype(np.int64)
    return pc.binary_join_element_wise(prefix, write_varints(zigzag(n) if avro else n), values, b"")


def _longs(values, name: str):
    """A non-null int64 Arrow array as numpy (the timings are not nullable)."""
    if values.null_count:
        raise ValueError(f"LogLine timing {name} must not be null")
    return values.to_numpy()


def avro_transform(
    messages: DataFrame,
    topic: str,
    schema_id: int,
    tags: dict[str, str] | None = None,
    logtypeid: int | None = None,
) -> DataFrame:
    """R6: Confluent-framed Avro LogLine values, byte-equal to
    ``encode_logline_confluent`` of {line, source, tag: tags or None,
    logtypeid, timings: [{"received", received_ms}]}."""
    header = confluent_frame(schema_id, b"")
    some, null = write_long(1), write_long(0)  # [null, X] union branches
    tag = null
    if tags:
        entries = b"".join(write_string(k) + write_string(tags[k]) for k in sorted(tags))
        tag = some + write_long(len(tags)) + entries + write_long(0)
    logtype = null if logtypeid is None else some + write_long(logtypeid)
    # timings: one block of one Timing {"received", received_ms}, then the
    # block terminator after the per-row value
    middle = tag + logtype + some + write_long(1) + write_string("received")
    end = write_long(0)

    @arrow_udf("binary")
    def enc(line, source, received_ms):
        import pyarrow.compute as pc

        return pc.binary_join_element_wise(
            header,
            _length_prefixed(some, line, avro=True).fill_null(null),
            _length_prefixed(some, source, avro=True).fill_null(null),
            middle,
            write_varints(zigzag(_longs(received_ms, "received"))),
            end,
            b"",
        )

    return messages.select(
        F.lit(None).cast("binary").alias("key"),
        enc("line", "source", _epoch_ms("received_ts")).alias("value"),
        F.lit(topic).alias("topic"),
    )


def proto_transform(
    messages: DataFrame,
    topic: str,
    tags: dict[str, str] | None = None,
    logtypeid: int | None = None,
) -> DataFrame:
    """R7: bare proto.Marshal LogLine values (no registry framing),
    byte-equal to ``encode_logline_proto`` of {line, source, tag: tags,
    logtypeid, timings: [received_ms, sent_ms]}; ``sent_ms`` is the
    query's ``current_timestamp()``. A null line fails the batch, as the
    reference writer does (proto/logline.proto:4)."""
    middle = b"".join(_len_delimited(3, encode_tag(k, tags[k])) for k in sorted(tags or {}))
    if logtypeid is not None:
        middle += _varint_field(4, logtypeid)
    line_key, source_key, timing_key = _key(1, 2), _key(2, 2), _key(5, 0)

    @arrow_udf("binary")
    def enc(line, source, received_ms, sent_ms):
        import pyarrow.compute as pc

        if line.null_count:
            raise ValueError("LogLine.line is required (proto/logline.proto:4)")
        return pc.binary_join_element_wise(
            _length_prefixed(line_key, line, avro=False),
            _length_prefixed(source_key, source, avro=False),  # null: field absent
            middle + timing_key,
            write_varints(_longs(received_ms, "received")),
            timing_key,
            write_varints(_longs(sent_ms, "sent")),
            b"",
            null_handling="skip",
        )

    return messages.select(
        F.lit(None).cast("binary").alias("key"),
        enc("line", "source", _epoch_ms("received_ts"), _epoch_ms("current_timestamp()")).alias(
            "value"
        ),
        F.lit(topic).alias("topic"),
    )


def with_fnv1a_partition(records: DataFrame, key_col: str, num_partitions: int) -> DataFrame:
    """R11 parity: explicit partition column = abs(int32(fnv1a32(key))) % n
    so the Kafka sink routes exactly like the reference's HashPartitioner."""
    return records.withColumn("partition", fnv1a32_partition(key_col, num_partitions).cast("int"))


def with_random_partition(
    records: DataFrame, num_partitions: int, seed: int | None = None
) -> DataFrame:
    """R12 parity: RandomPartitioner (reference partitioner.go:46-55,
    rand.Int31n(len(partitions))) — a uniform random partition per record.
    ``seed`` pins the stream for deterministic tests; production use leaves
    it None (Spark picks a random seed per query, like the reference's
    time-seeded rand)."""
    if num_partitions <= 0:
        raise ValueError(f"num_partitions must be positive, got {num_partitions}")
    rnd = F.rand(seed) if seed is not None else F.rand()
    return records.withColumn(
        "partition", F.floor(rnd * num_partitions).cast("int")
    )


def kafka_writer_options(
    *,
    brokers: str,
    acks: int = 1,
    linger_ms: int = 1000,
    batch_size: int = 1000,
    acks_timeout_ms: int | None = None,
    compression: str | None = None,
) -> dict[str, str]:
    """The Kafka sink option map for the reference's producer knob set
    (kafka_producer.go:57-67: acks / timeout.ms / linger / batch.size /
    compression.type / bootstrap.servers). Split out from the writer so the
    contract can be asserted in tests without a broker."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "kafka.acks": str(acks),
        "kafka.linger.ms": str(linger_ms),
        "kafka.batch.size": str(batch_size),
    }
    if acks_timeout_ms is not None:
        # reference AckTimeoutMs / timeout.ms → producer request.timeout.ms
        opts["kafka.request.timeout.ms"] = str(acks_timeout_ms)
    if compression:
        opts["kafka.compression.type"] = compression
    return opts


def write_kafka_stream(
    records: DataFrame,
    *,
    brokers: str,
    checkpoint: str,
    acks: int = 1,
    linger_ms: int = 1000,
    batch_size: int = 1000,
    acks_timeout_ms: int | None = None,
    compression: str | None = None,
):
    """R14-R16 parity via the Kafka sink's own producer options: batching
    (batch.size), group-commit (linger.ms), ack level + timeout — the knobs
    the reference exposes as --required.acks / --acks.timeout. Returns the
    StreamingQuery.

    Not exercised against a live broker in tests (none in this
    environment); the projection feeding it is byte-golden-tested and the
    option map is contract-tested via kafka_writer_options."""
    writer = records.writeStream.format("kafka").option("checkpointLocation", checkpoint)
    for k, v in kafka_writer_options(
        brokers=brokers,
        acks=acks,
        linger_ms=linger_ms,
        batch_size=batch_size,
        acks_timeout_ms=acks_timeout_ms,
        compression=compression,
    ).items():
        writer = writer.option(k, v)
    return writer.start()
