"""Byte-golden tests for the Avro/Confluent and Protobuf wire encodings
(mirrors the reference's golden-byte test style, SURVEY §5).

Goldens below are hand-derived from the public specs:
- Avro: zigzag varints; [null,X] union index precedes each field; maps and
  arrays are block-encoded (count, items, 0 terminator).
- Proto2: key = (field_no << 3) | wire_type; strings length-delimited;
  repeated int64 unpacked.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

import numpy as np
import pyspark.sql.functions as F
import pytest

from syslog_kafka_spark.encode.avro_binary import (
    confluent_frame,
    encode_logline,
    encode_logline_confluent,
    write_long,
    write_string,
    write_varint,
    write_varints,
    zigzag,
)
from syslog_kafka_spark.encode.proto_wire import encode_logline_proto
from syslog_kafka_spark.encode.registry import SchemaRegistryClient
from syslog_kafka_spark.model import LOGLINE_AVSC
from syslog_kafka_spark.sources.syslog_fixtures import SYSLOG_CORPUS


def test_varint_and_zigzag_spec_vectors():
    # Avro/protobuf spec examples
    assert write_varint(0) == b"\x00"
    assert write_varint(127) == b"\x7f"
    assert write_varint(128) == b"\x80\x01"
    assert write_varint(300) == b"\xac\x02"
    assert zigzag(0) == 0
    assert zigzag(-1) == 1
    assert zigzag(1) == 2
    assert zigzag(-2) == 3
    assert write_long(1) == b"\x02"
    assert write_long(-1) == b"\x01"
    assert write_long(64) == b"\x80\x01"


def test_write_varints_matches_write_varint():
    # 1-, 2-, 3- and 10-byte varints; negative int64 → two's complement
    vals = [0, 1, 127, 128, 300, 16383, 16384, 2**40, 2**63 - 1, -1, -(2**63)]
    arr = np.array(vals, dtype=np.int64)
    assert write_varints(arr).to_pylist() == [write_varint(v & 0xFFFFFFFFFFFFFFFF) for v in vals]
    assert write_varints(zigzag(arr)).to_pylist() == [write_long(v) for v in vals]
    assert write_varints(np.array([], dtype=np.int64)).to_pylist() == []


def test_avro_line_only_golden():
    # line="hello", all other fields null:
    # union 1 (0x02), len 5 (0x0a), "hello", then 4x null-union (0x00)
    assert encode_logline({"line": "hello"}) == b"\x02\x0ahello\x00\x00\x00\x00"


def test_avro_all_null_golden():
    assert encode_logline({}) == b"\x00" * 5


def test_avro_full_record_golden():
    rec = {
        "line": "a",
        "source": "web01",
        "tag": {"dc": "ams"},
        "logtypeid": 3,
        "timings": [{"eventName": "received", "value": 1}],
    }
    expected = (
        b"\x02" + b"\x02a"  # line: union 1, len 1, 'a'
        + b"\x02" + b"\x0aweb01"  # source
        + b"\x02" + b"\x02" + b"\x04dc" + b"\x06ams" + b"\x00"  # tag map: 1 entry + end
        + b"\x02" + b"\x06"  # logtypeid: union 1, zigzag(3)=6
        + b"\x02" + b"\x02" + b"\x10received" + b"\x02" + b"\x00"  # timings: 1 item + end
    )
    assert encode_logline(rec) == expected


def test_confluent_framing_golden():
    # magic 0x00 + schema id 7 BE + body (go-kafka-avro framing)
    assert confluent_frame(7, b"\x02a") == b"\x00\x00\x00\x00\x07\x02a"
    assert encode_logline_confluent({"line": "a"}, 1)[:5] == b"\x00\x00\x00\x00\x01"


def test_proto_line_only_golden():
    # field 1 (key 0x0a), len 5, "hello"
    assert encode_logline_proto({"line": "hello"}) == b"\x0a\x05hello"


def test_proto_full_record_golden():
    rec = {
        "line": "a",
        "source": "s",
        "tag": {"k": "v"},
        "logtypeid": 7,
        "timings": [1, 300],
    }
    expected = (
        b"\x0a\x01a"  # line
        + b"\x12\x01s"  # source
        + b"\x1a\x06" + b"\x0a\x01k" + b"\x12\x01v"  # tag message
        + b"\x20\x07"  # logtypeid varint
        + b"\x28\x01" + b"\x28\xac\x02"  # timings unpacked
    )
    assert encode_logline_proto(rec) == expected


def test_proto_requires_line():
    with pytest.raises(ValueError):
        encode_logline_proto({"source": "x"})


def test_registry_client_caches_and_uses_value_subject():
    calls = []

    def fake_http(method, url, payload):
        calls.append((method, url))
        if method == "POST":
            return {"id": 42}
        return {"schema": "{}"}

    client = SchemaRegistryClient("http://registry:8081/", http=fake_http)
    sid = client.register(LOGLINE_AVSC["name"], LOGLINE_AVSC)
    assert sid == 42
    assert client.register(LOGLINE_AVSC["name"], LOGLINE_AVSC) == 42  # cached
    assert len([c for c in calls if c[0] == "POST"]) == 1
    # Reference parity: subject = schema name + "-value" → "logLine-value"
    # (avro_encoder_decoder.go:56, avro/logline.go:43-44).
    assert calls[0][1] == "http://registry:8081/subjects/logLine-value/versions"


def test_logline_avsc_matches_reference_naming():
    # avro/logline.go:41-45 embeds namespace "avro", name "logLine".
    assert LOGLINE_AVSC["namespace"] == "avro"
    assert LOGLINE_AVSC["name"] == "logLine"


def test_transformers_end_to_end(spark):
    from syslog_kafka_spark.encode.transformers import (
        avro_transform,
        proto_transform,
        string_transform,
        with_fnv1a_partition,
    )

    msgs = spark.createDataFrame(
        [("GET / 200", "collector01", "2024-01-01 00:00:00")],
        ["line", "source", "received_ts"],
    ).withColumn("received_ts", F.col("received_ts").cast("timestamp"))

    srow = string_transform(msgs, "logs").collect()[0]
    assert srow.value == b"GET / 200"
    assert srow.topic == "logs"

    received = {"eventName": "received", "value": 1_704_067_200_000}  # 2024-01-01 UTC
    arow = avro_transform(msgs, "logs", schema_id=5, tags={"dc": "ams"}, logtypeid=9).collect()[0]
    assert arow.value == encode_logline_confluent(
        {"line": "GET / 200", "source": "collector01", "tag": {"dc": "ams"},
         "logtypeid": 9, "timings": [received]},
        5,
    )

    # sent = the query's current_timestamp(), within the collect's bounds
    t0 = int(time.time() * 1000)
    prow = (
        proto_transform(msgs, "logs", tags={"dc": "ams"})
        .select("value", F.expr("unix_millis(current_timestamp())").alias("sent"))
        .collect()[0]
    )
    assert t0 <= prow.sent <= int(time.time() * 1000)
    assert prow.value == encode_logline_proto(
        {"line": "GET / 200", "source": "collector01", "tag": {"dc": "ams"},
         "timings": [received["value"], prow.sent]}
    )

    parted = with_fnv1a_partition(
        string_transform(msgs, "logs").withColumn("key", F.lit("GET / 200")), "key", 8
    ).collect()[0]
    import ctypes

    def fnv(s):
        h = 2166136261
        for b in s.encode():
            h = ((h ^ b) * 16777619) & 0xFFFFFFFF
        return abs(ctypes.c_int32(h).value) % 8

    assert parted.partition == fnv("GET / 200")


def test_decode_udfs_batch(spark):
    """Decode UDFs over a batch frame (the same expression the Kafka
    source applies to its value column)."""
    from syslog_kafka_spark.encode.avro_binary import encode_logline_confluent
    from syslog_kafka_spark.encode.proto_wire import encode_logline_proto
    from syslog_kafka_spark.sources.kafka_source import decode_confluent_udf, decode_proto_udf

    rec = {
        "line": "GET / 200",
        "source": "web01",
        "tag": {"dc": "ams"},
        "logtypeid": 3,
        "timings": [{"eventName": "received", "value": 123}],
    }
    avro_df = spark.createDataFrame(
        [(bytearray(encode_logline_confluent(rec, 9)),)], ["value"]
    )
    out = avro_df.select(decode_confluent_udf("value").alias("l")).select("l.*").collect()[0]
    assert out.schema_id == 9 and out.line == "GET / 200"
    assert out.tag == {"dc": "ams"} and out.timings[0].value == 123

    prec = {"line": "x", "source": None, "tag": None, "logtypeid": None, "timings": [1, 2]}
    proto_df = spark.createDataFrame([(bytearray(encode_logline_proto(prec)),)], ["value"])
    pout = proto_df.select(decode_proto_udf("value").alias("l")).select("l.*").collect()[0]
    assert pout.line == "x" and list(pout.timings) == [1, 2]


# Differential "two paths, equal collect": the vectorised Arrow encoders in
# encode/transformers.py against the per-row reference writers, full bytes
# per row. Covers null/empty/non-ASCII fields, a >16 KB line (3-byte length
# varint), negative epoch ms (odd zigzag, 10-byte proto varint), sub-ms
# truncation and a far-future timestamp.
_DIFF_LINES = [*SYSLOG_CORPUS, "", None, "naïve café — 日本語 ✓", "x" * 20_000]
_DIFF_SOURCES = ["collector01", None, "", "hôte-é", "s" * 200]
_DIFF_TS = [
    "1960-01-01 00:00:00",
    "9999-12-31 23:59:59.999999",
    "2024-01-01 00:00:00.0015",
    "1969-12-31 23:59:59.9995",  # -500 µs: truncates to 0 ms, not -1
]
_DIFF_TAGS = [None, {}, {"dc": "ams", "env": "prod", "rack": "r7-ü"}]
_DIFF_LOGTYPEIDS = [None, 0, -1, 2**40]


def _epoch_ms(ts: str) -> int:
    """Epoch ms truncated toward zero, in exact integer arithmetic."""
    d = datetime.fromisoformat(ts).replace(tzinfo=timezone.utc) - datetime(1970, 1, 1, tzinfo=timezone.utc)
    micros = (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
    return abs(micros) // 1000 * (1 if micros >= 0 else -1)


def _diff_rows(with_null_line: bool) -> list[tuple]:
    lines = [x for x in _DIFF_LINES if with_null_line or x is not None]
    return [
        (line, _DIFF_SOURCES[i % len(_DIFF_SOURCES)], _DIFF_TS[i % len(_DIFF_TS)])
        for i, line in enumerate(lines)
    ]


def _diff_frame(spark, rows):
    return spark.createDataFrame(rows, "line string, source string, ts string").select(
        "line", "source", F.col("ts").cast("timestamp").alias("received_ts")
    )


@pytest.mark.parametrize("tags", _DIFF_TAGS, ids=["tags_none", "tags_empty", "tags_3"])
@pytest.mark.parametrize("logtypeid", _DIFF_LOGTYPEIDS)
def test_avro_transform_matches_reference_bytes(spark, tags, logtypeid):
    from syslog_kafka_spark.encode.transformers import avro_transform

    rows = _diff_rows(with_null_line=True)
    got = [r.value for r in avro_transform(_diff_frame(spark, rows), "t", 77, tags, logtypeid).collect()]
    want = [
        encode_logline_confluent(
            {"line": line, "source": source, "tag": tags or None, "logtypeid": logtypeid,
             "timings": [{"eventName": "received", "value": _epoch_ms(ts)}]},
            77,
        )
        for line, source, ts in rows
    ]
    assert len(got) == len(want)
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == w, f"row {i} {rows[i]!r}: {g[:40]!r} != {w[:40]!r}"


@pytest.mark.parametrize("tags", _DIFF_TAGS, ids=["tags_none", "tags_empty", "tags_3"])
@pytest.mark.parametrize("logtypeid", _DIFF_LOGTYPEIDS)
def test_proto_transform_matches_reference_bytes(spark, tags, logtypeid):
    from syslog_kafka_spark.encode.transformers import proto_transform

    rows = _diff_rows(with_null_line=False)
    out = (
        proto_transform(_diff_frame(spark, rows), "t", tags, logtypeid)
        .select("value", F.expr("unix_millis(current_timestamp())").alias("sent"))
        .collect()
    )
    want = [
        encode_logline_proto(
            {"line": line, "source": source, "tag": tags, "logtypeid": logtypeid,
             "timings": [_epoch_ms(ts), out[i].sent]}
        )
        for i, (line, source, ts) in enumerate(rows)
    ]
    assert len(out) == len(want)
    for i, (r, w) in enumerate(zip(out, want)):
        assert r.value == w, f"row {i} {rows[i]!r}: {r.value[:40]!r} != {w[:40]!r}"


def test_proto_transform_null_line_fails_like_reference(spark):
    # The reference writer rejects a null line; so does the vectorised one.
    from syslog_kafka_spark.encode.transformers import proto_transform

    with pytest.raises(ValueError):
        encode_logline_proto({"line": None, "source": "x"})
    frame = _diff_frame(spark, [("ok", "s", _DIFF_TS[0]), (None, "s", _DIFF_TS[0])])
    with pytest.raises(Exception, match="LogLine.line is required"):
        proto_transform(frame, "t").collect()
