"""CLI validation parity (R22), the producer settings the CLI hands the
Kafka sink (R14-R16), and package entry-point smoke tests."""

from __future__ import annotations

import json

import pytest

from syslog_kafka_spark.__main__ import parse_args, validate


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


class QueryDied(Exception):
    pass


def _fake_ingest(monkeypatch, failing=()):
    """Stand fakes in for the session and ``run_syslog_ingest``, so main()
    runs without Spark. Returns the list that collects one fake query per
    ``run_syslog_ingest`` call, each with the kwargs of its call; the
    queries of the protocols in ``failing`` die."""
    import signal
    import threading

    import syslog_kafka_spark.session as session
    import syslog_kafka_spark.streaming.pipeline as pipeline

    queries = []

    class FakeQuery:
        def __init__(self, kwargs):
            self.kwargs = kwargs
            self.protocol = kwargs["protocol"]
            self.error = QueryDied(f"{self.protocol} listener died") if self.protocol in failing else None
            self.stopped = threading.Event()

        def stop(self):
            self.stopped.set()

        def awaitTermination(self):
            if self.error:
                raise self.error
            assert self.stopped.wait(5), "blocked on a healthy query"

    class FakeStreams:
        def awaitAnyTermination(self):
            for q in queries:
                if q.error:
                    raise q.error

    class FakeSpark:
        streams = FakeStreams()

    def fake_ingest(spark, **kwargs):
        queries.append(FakeQuery(kwargs))
        return queries[-1]

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: FakeSpark())
    monkeypatch.setattr(pipeline, "run_syslog_ingest", fake_ingest)
    monkeypatch.setattr(signal, "signal", lambda *a: None)
    return queries


def test_cli_producer_knob_defaults_and_flags(monkeypatch, capsys):
    """--num.producers reaches run_syslog_ingest (1 by default); a count
    below 1 is rejected like the other bad flags, not run as one sink
    partition."""
    from syslog_kafka_spark.__main__ import main

    base = ["--broker.list", "b:9092", "--topic", "t"]
    for flags, expected in (([], 1), (["--num.producers", "4"], 4)):
        queries = _fake_ingest(monkeypatch)
        assert main([*base, *flags]) == 0
        assert [q.kwargs["num_producers"] for q in queries] == [expected, expected]

    for n in ("0", "-3"):
        with pytest.raises(SystemExit):
            validate(parse_args([*base, "--num.producers", n]))
        assert f"num.producers must be at least 1, got {n}" in capsys.readouterr().err


def test_cli_exits_with_the_error_of_a_failed_query(monkeypatch):
    """When one listener's query dies (here UDP), main() raises its error
    instead of blocking on the healthy TCP query, and stops every query
    on the way out. Fakes stand in for the session and the queries."""
    from syslog_kafka_spark.__main__ import main

    queries = _fake_ingest(monkeypatch, failing={"udp"})
    with pytest.raises(QueryDied, match="udp listener died"):
        main(["--broker.list", "b:9092", "--topic", "t"])
    assert [q.protocol for q in queries] == ["tcp", "udp"]
    assert all(q.stopped.is_set() for q in queries)


def test_kafka_writer_options_contract(monkeypatch, tmp_path):
    """R14-R16 parity without a broker: the exact Kafka sink option map
    main() starts both listeners' queries with, for the defaults, flags,
    a properties file (reference ProducerConfigFromFile key names,
    kafka_producer.go:158-205) and flags over that file."""
    from syslog_kafka_spark.__main__ import main

    cfg = tmp_path / "producer.properties"
    cfg.write_text(
        "# producer settings\n"
        "bootstrap.servers=file-broker:9092\n"
        "acks=0\n"
        "timeout.ms=750\n"
        "linger=2s\n"
        "batch.size=5000\n"
        "compression.type=gzip\n"
        "client.id=syslog\n"
    )
    defaults = {
        "kafka.bootstrap.servers": "b:9092",
        "kafka.acks": "1",
        "kafka.request.timeout.ms": "1000",
        "kafka.linger.ms": "1000",
        "kafka.batch.size": "1000",
    }
    from_file = {
        "kafka.bootstrap.servers": "file-broker:9092",
        "kafka.acks": "0",
        "kafka.request.timeout.ms": "750",
        "kafka.linger.ms": "2000",
        "kafka.batch.size": "5000",
        "kafka.compression.type": "gzip",
        "kafka.client.id": "syslog",
    }
    cases = [
        (["--broker.list", "b:9092"], defaults),
        (
            ["--broker.list", "b:9092", "--required.acks", "0", "--acks.timeout", "250"],
            {**defaults, "kafka.acks": "0", "kafka.request.timeout.ms": "250"},
        ),
        (["--producer.config", str(cfg)], from_file),
        # flags beat file values; the rest still come from the file
        (
            ["--producer.config", str(cfg), "--broker.list", "flag-broker:9092", "--required.acks", "1"],
            {**from_file, "kafka.bootstrap.servers": "flag-broker:9092", "kafka.acks": "1"},
        ),
    ]
    for flags, expected in cases:
        queries = _fake_ingest(monkeypatch)
        assert main(["--topic", "t", *flags]) == 0
        assert [q.kwargs["kafka_options"] for q in queries] == [expected, expected], flags
        assert {q.kwargs["brokers"] for q in queries} == {expected["kafka.bootstrap.servers"]}


def test_cli_producer_config_file_merges_with_flag_precedence(tmp_path, capsys):
    """The broker list: --broker.list beats the file; in the file
    bootstrap.servers beats metadata.broker.list, which fills in when it
    is the only one (reference fallback order); with neither the CLI
    refuses to start."""

    def brokers(props: str, *flags: str) -> str:
        cfg = tmp_path / "p.properties"
        cfg.write_text(props)
        out = validate(parse_args(["--topic", "t", "--producer.config", str(cfg), *flags]))
        return out["kafka_options"]["kafka.bootstrap.servers"]

    assert brokers("metadata.broker.list=old:9092\n") == "old:9092"
    assert brokers("metadata.broker.list=old:9092\nbootstrap.servers=new:9092\n") == "new:9092"
    assert brokers("bootstrap.servers=new:9092\n", "--broker.list", "flag:9092") == "flag:9092"
    with pytest.raises(SystemExit):
        brokers("acks=1\n")
    assert "broker.list is required." in capsys.readouterr().err


def test_producer_properties_parsing(tmp_path, caplog):
    from syslog_kafka_spark.encode.producer_config import (
        kafka_sink_options,
        parse_duration_ms,
        producer_settings,
    )

    assert parse_duration_ms("100ms") == 100
    assert parse_duration_ms("1s") == 1000
    assert parse_duration_ms("2m") == 120000
    assert parse_duration_ms("500") == 500  # bare number = ms
    with pytest.raises(ValueError):
        parse_duration_ms("abc")

    cfg = tmp_path / "p.properties"
    cfg.write_text(
        "! comment\n"
        "  bootstrap.servers = new:9092  \n"
        "client.id=syslog\n"
        "send.routines=8\n"
        "retries=3\n"
    )
    with caplog.at_level("WARNING", logger="syslog_kafka_spark.encode.producer_config"):
        opts = kafka_sink_options(producer_settings(str(cfg)))
    assert opts["kafka.bootstrap.servers"] == "new:9092"
    # client.id is forwarded, not dropped
    assert opts["kafka.client.id"] == "syslog"
    # keys with no sink option are named, all in one warning
    assert [r.getMessage() for r in caplog.records] == [
        "producer settings with no Kafka sink option, ignored: retries, send.routines"
    ]


def test_malformed_producer_settings_are_rejected(tmp_path, capsys):
    """Non-integer acks / timeout.ms / batch.size and a bad linger
    duration fail the CLI with the offending key, before any query
    starts."""
    from syslog_kafka_spark.encode.producer_config import kafka_sink_options, producer_settings

    cfg = tmp_path / "p.properties"
    for line in ("acks=all", "timeout.ms=1.5", "batch.size=big", "linger=soon"):
        cfg.write_text(f"bootstrap.servers=b:9092\n{line}\n")
        key = line.split("=")[0]
        with pytest.raises(ValueError, match=f"invalid {key}="):
            kafka_sink_options(producer_settings(str(cfg)))
        with pytest.raises(SystemExit):
            validate(parse_args(["--topic", "t", "--producer.config", str(cfg)]))
        assert f"invalid {key}=" in capsys.readouterr().err


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


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records every call and
    hands back ``session`` from ``getOrCreate``."""

    def __init__(self, session):
        self.session = session
        self.calls = []

    def appName(self, name):
        self.calls.append(("appName", name))
        return self

    def master(self, url):
        self.calls.append(("master", url))
        return self

    def config(self, key, value):
        self.calls.append(("config", key, value))
        return self

    def getOrCreate(self):
        self.calls.append(("getOrCreate",))
        return self.session


class _UntouchedSession:
    """A sentinel session that records any attribute read on it."""

    def __init__(self):
        object.__setattr__(self, "reads", [])

    def __getattribute__(self, name):
        if name != "reads":
            object.__getattribute__(self, "reads").append(name)
        return object.__getattribute__(self, name)


def test_get_spark_builds_and_runs_nothing(monkeypatch):
    """get_spark merges the overrides over the defaults, picks the master
    from $SPARK_MASTER (else local[$SPARK_GRAFT_CPUS]) and returns what the
    builder made without touching it; an active session comes back as is
    and no builder is called. No JVM: the builder is a recording fake."""
    from pyspark.sql import SparkSession

    from syslog_kafka_spark import session as session_mod

    def run(active, **overrides):
        built = _UntouchedSession()
        builder = _RecordingBuilder(built)
        monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: active))
        monkeypatch.setattr(SparkSession, "builder", builder)
        return session_mod.get_spark("contract", **overrides), built, builder.calls

    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    out, built, calls = run(None, **{"spark.sql.shuffle.partitions": "7"})
    assert out is built and built.reads == []
    confs = {c[1]: c[2] for c in calls if c[0] == "config"}
    assert confs == {**session_mod._DEFAULTS, "spark.sql.shuffle.partitions": "7"}
    assert ("master", "local[3]") in calls and ("appName", "contract") in calls

    monkeypatch.setenv("SPARK_MASTER", "spark://head:7077")
    _, built, calls = run(None)
    assert ("master", "spark://head:7077") in calls and built.reads == []

    active = _UntouchedSession()
    out, _, calls = run(active)
    assert out is active and calls == [] and active.reads == []
