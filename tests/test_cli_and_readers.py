"""CLI validation parity (R22) + schema-on-read smoke tests (§2B.1)."""

from __future__ import annotations

import json

import pytest
import pyspark.sql.functions as F

from syslog_kafka_spark.__main__ import parse_args, validate
from syslog_kafka_spark.sources.readers import read_csv, read_json, read_text


def test_cli_requires_broker_and_topic(capsys):
    with pytest.raises(SystemExit):
        validate(parse_args(["--topic", "t"]))
    with pytest.raises(SystemExit):
        validate(parse_args(["--broker.list", "b:9092"]))


def test_cli_avro_requires_registry():
    with pytest.raises(SystemExit):
        validate(parse_args(["--broker.list", "b:9092", "--topic", "t", "--avro"]))


def test_cli_tag_parsing():
    out = validate(
        parse_args(
            ["--broker.list", "b:9092", "--topic", "t", "--tag", "dc=ams", "--tag", "env=prod"]
        )
    )
    assert out["tags"] == {"dc": "ams", "env": "prod"}
    assert out["encoding"] == "string"
    with pytest.raises(SystemExit):
        validate(parse_args(["--broker.list", "b", "--topic", "t", "--tag", "noequals"]))


def test_cli_encoding_selection():
    base = ["--broker.list", "b:9092", "--topic", "t"]
    assert validate(parse_args(base))["encoding"] == "string"
    assert validate(parse_args([*base, "--proto"]))["encoding"] == "proto"
    assert (
        validate(parse_args([*base, "--avro", "--schema.registry.url", "http://r"]))["encoding"]
        == "avro"
    )


def test_cli_producer_knob_defaults_and_flags():
    base = ["--broker.list", "b:9092", "--topic", "t"]
    args = parse_args(base)
    validate(args)
    assert (args.required_acks, args.acks_timeout, args.num_producers) == (1, 1000, 1)

    args = parse_args([*base, "--required.acks", "0", "--acks.timeout", "250", "--num.producers", "4"])
    validate(args)
    assert (args.required_acks, args.acks_timeout, args.num_producers) == (0, 250, 4)


def test_cli_exits_with_the_error_of_a_failed_query(monkeypatch):
    """When one listener's query dies (here UDP), main() raises its error
    instead of blocking on the healthy TCP query, and stops every query
    on the way out. Fakes stand in for the session and the queries."""
    import signal
    import threading

    import syslog_kafka_spark.session as session
    import syslog_kafka_spark.streaming.pipeline as pipeline
    from syslog_kafka_spark.__main__ import main

    class QueryDied(Exception):
        pass

    queries = []

    class FakeQuery:
        def __init__(self, protocol):
            self.protocol = protocol
            self.error = QueryDied(f"{protocol} listener died") if protocol == "udp" else None
            self.stopped = threading.Event()

        def stop(self):
            self.stopped.set()

        def awaitTermination(self):
            if self.error:
                raise self.error
            assert self.stopped.wait(5), "blocked on a healthy query"

    class FakeStreams:
        def awaitAnyTermination(self):
            raise next(q.error for q in queries if q.error)

    class FakeSpark:
        streams = FakeStreams()

    def fake_ingest(spark, *, protocol, **_):
        queries.append(FakeQuery(protocol))
        return queries[-1]

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: FakeSpark())
    monkeypatch.setattr(pipeline, "run_syslog_ingest", fake_ingest)
    monkeypatch.setattr(signal, "signal", lambda *a: None)
    with pytest.raises(QueryDied, match="udp listener died"):
        main(["--broker.list", "b:9092", "--topic", "t"])
    assert [q.protocol for q in queries] == ["tcp", "udp"]
    assert all(q.stopped.is_set() for q in queries)


def test_cli_producer_config_file_merges_with_flag_precedence(tmp_path):
    # reference ProducerConfigFromFile key names (kafka_producer.go:158-205)
    cfg = tmp_path / "producer.properties"
    cfg.write_text(
        "# producer settings\n"
        "bootstrap.servers=file-broker:9092\n"
        "acks=0\n"
        "timeout.ms=750\n"
        "linger=2s\n"
        "batch.size=5000\n"
        "compression.type=gzip\n"
    )
    args = parse_args(["--topic", "t", "--producer.config", str(cfg)])
    out = validate(args)
    assert args.broker_list == "file-broker:9092"
    assert (args.required_acks, args.acks_timeout) == (0, 750)
    assert out["producer"] == {"linger_ms": 2000, "batch_size": 5000, "compression": "gzip"}

    # explicit flags beat file values
    args = parse_args(
        ["--topic", "t", "--producer.config", str(cfg),
         "--broker.list", "flag-broker:9092", "--required.acks", "1"]
    )
    validate(args)
    assert args.broker_list == "flag-broker:9092"
    assert args.required_acks == 1
    assert args.acks_timeout == 750  # still from the file


def test_producer_properties_parsing(tmp_path):
    from syslog_kafka_spark.encode.producer_config import (
        parse_duration_ms,
        producer_settings_from_file,
    )

    assert parse_duration_ms("100ms") == 100
    assert parse_duration_ms("1s") == 1000
    assert parse_duration_ms("2m") == 120000
    assert parse_duration_ms("500") == 500  # bare number = ms
    with pytest.raises(ValueError):
        parse_duration_ms("abc")

    cfg = tmp_path / "p.properties"
    cfg.write_text(
        "metadata.broker.list=old:9092\n"
        "bootstrap.servers=new:9092\n"
        "client.id=syslog\n"
        "send.routines=8\n"
    )
    s = producer_settings_from_file(str(cfg))
    # bootstrap.servers wins over metadata.broker.list (reference fallback order)
    assert s["broker_list"] == "new:9092"
    assert s["client_id"] == "syslog"
    assert s["extra"] == {"send.routines": "8"}


def test_kafka_writer_options_contract():
    """R14-R16 knob parity without a broker: the option map the sink is
    started with carries acks / linger / batch.size / timeout / codec
    (reference kafka_producer.go:57-67 knob set)."""
    from syslog_kafka_spark.encode.transformers import kafka_writer_options

    opts = kafka_writer_options(
        brokers="b:9092", acks=0, linger_ms=500, batch_size=2000,
        acks_timeout_ms=750, compression="snappy",
    )
    assert opts == {
        "kafka.bootstrap.servers": "b:9092",
        "kafka.acks": "0",
        "kafka.linger.ms": "500",
        "kafka.batch.size": "2000",
        "kafka.request.timeout.ms": "750",
        "kafka.compression.type": "snappy",
    }
    # defaults omit the optional knobs
    opts = kafka_writer_options(brokers="b:9092")
    assert "kafka.request.timeout.ms" not in opts
    assert "kafka.compression.type" not in opts


def test_random_partitioner_range_and_distribution(spark):
    """R12 parity (partitioner.go:46-55): uniform over [0, n)."""
    from syslog_kafka_spark.encode.transformers import with_random_partition

    n = 8
    df = spark.range(8000).select(F.col("id").cast("string").alias("value"))
    parts = with_random_partition(df, n, seed=7).groupBy("partition").count().collect()
    got = {r["partition"]: r["count"] for r in parts}
    assert set(got) == set(range(n))  # every partition hit, none out of range
    for c in got.values():
        assert abs(c - 1000) < 300  # roughly uniform

    with pytest.raises(ValueError):
        with_random_partition(df, 0)


def test_read_text_csv_json(spark, tmp_path):
    (tmp_path / "f.txt").write_text("line one\nline two\n")
    assert read_text(spark, str(tmp_path / "f.txt")).count() == 2

    (tmp_path / "f.csv").write_text("a,b\n1,x\n2,y\n")
    csv = read_csv(spark, str(tmp_path / "f.csv"))
    assert csv.columns == ["a", "b"] and csv.count() == 2
    assert csv.schema["a"].dataType.typeName() in ("integer", "long")  # inferSchema on

    rows = [{"k": 1, "s": "x"}, {"k": 2, "s": "y"}]
    (tmp_path / "f.json").write_text("\n".join(json.dumps(r) for r in rows))
    js = read_json(spark, str(tmp_path / "f.json"))
    assert sorted(js.columns) == ["k", "s"] and js.count() == 2


def test_package_sql_entry_point(spark, sf_dir):
    import syslog_kafka_spark as sks

    out = sks.sql(
        spark, sf_dir,
        "SELECT r_name, count(*) AS n FROM region GROUP BY r_name ORDER BY r_name",
    ).collect()
    assert [r.r_name for r in out] == [
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"
    ]
    # cross-table: views share one registration pass
    n = sks.sql(
        spark, sf_dir,
        "SELECT count(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey",
    ).collect()[0].n
    assert n == 25


def test_scan_oracle_values_match_fixture_files():
    """The scans oracles run over inline VALUES (so the external gate's
    DuckDB needs no file access); these constants must never drift from
    the fixture files Spark actually reads."""
    import csv

    from syslog_kafka_spark.plans.scans import (
        CSV_PATH,
        CSV_ROWS,
        JSONL_PATH,
        JSONL_ROWS,
    )

    with open(CSV_PATH, newline="") as fh:
        got = [
            (
                int(r["order_id"]),
                r["category"],
                r["descr"] or None,  # empty cell → null, as Spark parses it
                int(r["qty"]),
                r["unit_price"],
                r["ship_date"],
                r["express"] == "true",
            )
            for r in csv.DictReader(fh)
        ]
    assert got == CSV_ROWS

    with open(JSONL_PATH) as fh:
        got = [
            (
                d["event_id"],
                d["kind"],
                d["user"]["plan"],
                d["user"]["id"],
                d["tags"],
                d["dur_ms"],
            )
            for d in map(json.loads, fh)
        ]
    assert got == JSONL_ROWS


def test_structured_data_map_decode(spark):
    """RFC 5424 §6.3 SD decode: multi-element flattening, nil/absent/3164
    nulls, out-of-range PRI rejected."""
    from syslog_kafka_spark.sources.syslog_parse import with_structured_data

    lines = [
        '<165>1 2024-02-05T17:32:18Z h nginx 912 REQ [x@1 iut="3" src="app"] GET',
        '<14>1 2024-03-01T00:00:00Z db pg 1 Q [a@1 x="1"][b@2 y="2"]',
        "<13>1 2024-06-30T23:59:59Z - - - - - msg with nil sd",
        "<13>Aug 13 03:38:00 web01 nginx[912]: rfc3164 has no sd",
        '<999>1 2024-01-01T00:00:00Z h a - - [x@1 k="v"] pri out of range',
        '<14>1 2024-03-01T00:00:00Z db pg 1 Q [empty@0] no params element',
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["line"])
    sd = [r.sd for r in with_structured_data(df).collect()]
    assert sd[0] == {"x@1/iut": "3", "x@1/src": "app"}
    assert sd[1] == {"a@1/x": "1", "b@2/y": "2"}  # two elements, one flat map
    assert sd[2] is None  # nil '-'
    assert sd[3] is None  # RFC 3164
    assert sd[4] is None  # invalid PRI
    assert sd[5] == {}  # element with no params → empty map


def test_python_warmup_failure_is_logged_not_raised(caplog):
    """A failed worker warm-up must not fail the session build, and must
    not be silent either: it logs one warning naming the error."""
    from syslog_kafka_spark.session import _warm_python_workers

    class BrokenSession:
        @property
        def sparkContext(self):
            raise RuntimeError("no executors")

    with caplog.at_level("WARNING", logger="syslog_kafka_spark.session"):
        _warm_python_workers(BrokenSession())
    assert [r.getMessage() for r in caplog.records] == [
        "Python worker warm-up failed: RuntimeError: no executors"
    ]
