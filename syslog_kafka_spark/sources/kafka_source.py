"""Kafka consume side: decode LogLine values.

Closes the loop the reference only half-owns (it produces; its vendored
client library ships the decoder — go-kafka-avro KafkaAvroDecoder,
avro_encoder_decoder.go:81-106). Decode runs as an Arrow-batched pandas
UDF over a binary Kafka ``value`` column. The UDFs are round-trip
property-tested against the encoders and gated by the Kafka round-trip
queries in plans/kafka_roundtrip.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.pandas.functions import pandas_udf

from syslog_kafka_spark.encode.decode import decode_confluent, decode_logline_proto

# decoded LogLine as a Spark struct (Avro flavor: timings = records)
_AVRO_OUT = (
    "struct<schema_id: int, line: string, source: string, tag: map<string,string>, "
    "logtypeid: bigint, timings: array<struct<eventName: string, value: bigint>>>"
)
_PROTO_OUT = (
    "struct<line: string, source: string, tag: map<string,string>, "
    "logtypeid: bigint, timings: array<bigint>>"
)


@pandas_udf(_AVRO_OUT)
def decode_confluent_udf(values: pd.Series) -> pd.DataFrame:
    rows = []
    for v in values:
        sid, rec = decode_confluent(bytes(v))
        rows.append(
            {
                "schema_id": sid,
                "line": rec["line"],
                "source": rec["source"],
                "tag": rec["tag"],
                "logtypeid": rec["logtypeid"],
                "timings": rec["timings"],
            }
        )
    return pd.DataFrame(rows)


@pandas_udf(_PROTO_OUT)
def decode_proto_udf(values: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([decode_logline_proto(bytes(v)) for v in values])

