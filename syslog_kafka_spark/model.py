"""Canonical data model: the SyslogMessage StructType and the LogLine
Avro schema.

Reference parity (cited against /root/reference):
- SyslogMessage: syslog/syslog_producer.go:29-33 — one received line plus
  the collector's hostname and the arrival time (epoch millis there; a real
  TimestampType here).
- LogLine (Avro): avro/logline.avsc:1-56 and avro/logline.go:5-11 — every
  top-level field is a union-with-null defaulting to null.
- LogLine (Protobuf, encode/proto_wire.py): proto/logline.proto:3-16 —
  `timings` is a repeated bare int64 (received_ms, sent_ms) instead of
  Avro's array of {eventName, value} records, and tags are repeated
  Tag{key,value} pairs.
"""

from __future__ import annotations

from pyspark.sql.types import StringType, StructField, StructType, TimestampType

# Rows emitted by the syslog streaming source (reference R1-R3).
SYSLOG_MESSAGE_SCHEMA = StructType(
    [
        StructField("line", StringType(), True),
        StructField("source", StringType(), True),
        StructField("received_ts", TimestampType(), True),
    ]
)

# The Avro schema JSON exactly as the reference embeds it
# (avro/logline.go:41-106 / avro/logline.avsc): namespace "avro",
# name "logLine" — the registry subject becomes "logLine-value"
# (avro_encoder_decoder.go:56, subject = schema.GetName() + "-value"),
# matching what reference-ecosystem consumers look up. Used for registry
# registration and for our pure-Python Avro encoder's field ordering.
LOGLINE_AVSC = {
    "type": "record",
    "name": "logLine",
    "namespace": "avro",
    "fields": [
        {"name": "line", "type": ["null", "string"], "default": None},
        {"name": "source", "type": ["null", "string"], "default": None},
        {
            "name": "tag",
            "type": ["null", {"type": "map", "values": "string"}],
            "default": None,
        },
        {"name": "logtypeid", "type": ["null", "long"], "default": None},
        {
            "name": "timings",
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "Timing",
                        "fields": [
                            {"name": "eventName", "type": "string"},
                            {"name": "value", "type": "long"},
                        ],
                    },
                },
            ],
            "default": None,
        },
    ],
}

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
