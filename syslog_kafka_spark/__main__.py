"""CLI entry point — reference flag parity (R22).

Mirrors the reference's flags (/root/reference syslog.go:76-131) on top of
the Spark engine: one streaming query per listener (TCP + UDP), transform
chosen by --avro/--proto, graceful SIGINT shutdown (R21: query.stop flushes
in-flight batches through the sink's commit protocol).

    python -m syslog_kafka_spark --broker.list kafka:9092 --topic logs \
        --avro --schema.registry.url http://registry:8081 \
        --tag dc=ams --tag env=prod --log.type.id 3
"""

from __future__ import annotations

import argparse
import signal
import sys
from typing import NoReturn


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="syslog-kafka-spark")
    p.add_argument("--broker.list", dest="broker_list", default="", help="Kafka broker list (required)")
    p.add_argument("--topic", default="", help="Topic to produce messages into (required)")
    p.add_argument("--tcp.host", dest="tcp_host", default="0.0.0.0")
    p.add_argument("--tcp.port", dest="tcp_port", type=int, default=5140)
    p.add_argument("--udp.host", dest="udp_host", default="0.0.0.0")
    p.add_argument("--udp.port", dest="udp_port", type=int, default=5141)
    # the Spark analog of --num.producers: sink-side partitions per query
    p.add_argument("--num.producers", dest="num_producers", type=int, default=1)
    # None: a --producer.config file or the defaults supply these (flags win)
    p.add_argument("--required.acks", dest="required_acks", type=int, default=None, choices=(-1, 0, 1))
    p.add_argument("--acks.timeout", dest="acks_timeout", type=int, default=None)
    p.add_argument(
        "--producer.config",
        dest="producer_config",
        default=None,
        help="properties file with reference producer keys (kafka_producer.go:158-205)",
    )
    p.add_argument("--avro", action="store_true", help="send messages as Confluent-framed Avro LogLine")
    p.add_argument("--proto", action="store_true", help="send messages as Protobuf LogLine")
    p.add_argument("--schema.registry.url", dest="schema_registry_url", default="")
    p.add_argument("--tag", action="append", default=[], help="key=value tag, repeatable")
    p.add_argument("--log.type.id", dest="log_type_id", type=int, default=None)
    p.add_argument("--checkpoint", default="/tmp/syslog-kafka-spark-ckpt")
    return p.parse_args(argv)


def _fail(message: str) -> NoReturn:
    print(message, file=sys.stderr)
    raise SystemExit(1)


def validate(args: argparse.Namespace) -> dict:
    """Reference validate() parity (syslog.go:93-131): required flags, tag
    parsing, encoding selection. The producer settings merge as in
    ProducerConfigFromFile: explicit flags override a --producer.config
    properties file, which overrides the defaults; ``kafka_options`` in
    the result is the Kafka sink option map they make."""
    from syslog_kafka_spark.encode.producer_config import kafka_sink_options, producer_settings

    flags = {
        "bootstrap.servers": args.broker_list or None,
        "acks": args.required_acks,
        "timeout.ms": args.acks_timeout,
    }
    try:
        kafka_options = kafka_sink_options(producer_settings(args.producer_config, flags))
    except (OSError, ValueError) as e:
        _fail(f"invalid --producer.config: {e}")
    if "kafka.bootstrap.servers" not in kafka_options:
        _fail("broker.list is required.")
    if not args.topic:
        _fail("Topic is required.")
    if args.avro and not args.schema_registry_url:
        _fail("Schema Registry URL is required for --avro flag")
    if args.num_producers < 1:
        _fail(f"num.producers must be at least 1, got {args.num_producers}")
    tags: dict[str, str] = {}
    for kv in args.tag:
        if "=" not in kv:
            _fail(f"invalid --tag {kv!r}, expected key=value")
        k, v = kv.split("=", 1)
        tags[k] = v
    encoding = "avro" if args.avro else "proto" if args.proto else "string"
    return {"tags": tags or None, "encoding": encoding, "kafka_options": kafka_options}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    extra = validate(args)

    from syslog_kafka_spark.session import get_spark
    from syslog_kafka_spark.streaming.pipeline import run_syslog_ingest

    spark = get_spark("syslog-kafka-spark-cli")

    schema_id = None
    if extra["encoding"] == "avro":
        from syslog_kafka_spark.encode.registry import SchemaRegistryClient
        from syslog_kafka_spark.model import LOGLINE_AVSC

        # Subject derives from the schema's own name ("logLine-value"),
        # as in the reference (avro_encoder_decoder.go:56).
        schema_id = SchemaRegistryClient(args.schema_registry_url).register(
            LOGLINE_AVSC["name"], LOGLINE_AVSC
        )

    queries = []
    for protocol, host, port in (("tcp", args.tcp_host, args.tcp_port), ("udp", args.udp_host, args.udp_port)):
        queries.append(
            run_syslog_ingest(
                spark,
                host=host,
                port=port,
                protocol=protocol,
                topic=args.topic,
                brokers=extra["kafka_options"]["kafka.bootstrap.servers"],
                checkpoint=f"{args.checkpoint}/{protocol}",
                encoding=extra["encoding"],
                schema_id=schema_id,
                tags=extra["tags"],
                logtypeid=args.log_type_id,
                num_producers=args.num_producers,
                kafka_options=extra["kafka_options"],
            )
        )

    def stop(*_sig) -> None:  # R21 graceful shutdown
        for q in queries:
            q.stop()

    signal.signal(signal.SIGINT, stop)
    signal.signal(signal.SIGTERM, stop)
    try:
        # Returns once a signal has stopped the queries, and raises the
        # error of whichever query fails first: a dead listener ends the
        # process with a non-zero exit instead of going unreported.
        spark.streams.awaitAnyTermination()
    finally:
        stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
