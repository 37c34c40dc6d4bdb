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
    # None sentinels let a --producer.config file supply these (flags win)
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


def validate(args: argparse.Namespace) -> dict:
    """Reference validate() parity (syslog.go:93-131): required flags, tag
    parsing, encoding selection. A --producer.config properties file fills
    producer knobs first (ProducerConfigFromFile parity); explicit flags
    override file values, which override built-in defaults."""
    producer: dict = {"linger_ms": 1000, "batch_size": 1000, "compression": None}
    if args.producer_config:
        from syslog_kafka_spark.encode.producer_config import producer_settings_from_file

        settings = producer_settings_from_file(args.producer_config)
        if not args.broker_list and settings.get("broker_list"):
            args.broker_list = settings["broker_list"]
        if args.required_acks is None and "required_acks" in settings:
            args.required_acks = settings["required_acks"]
        if args.acks_timeout is None and "acks_timeout" in settings:
            args.acks_timeout = settings["acks_timeout"]
        for k in ("linger_ms", "batch_size", "compression"):
            if k in settings:
                producer[k] = settings[k]
    if args.required_acks is None:
        args.required_acks = 1
    if args.acks_timeout is None:
        args.acks_timeout = 1000
    if not args.broker_list:
        print("broker.list is required.", file=sys.stderr)
        raise SystemExit(1)
    if not args.topic:
        print("Topic is required.", file=sys.stderr)
        raise SystemExit(1)
    if args.avro and not args.schema_registry_url:
        print("Schema Registry URL is required for --avro flag", file=sys.stderr)
        raise SystemExit(1)
    tags: dict[str, str] = {}
    for kv in args.tag:
        if "=" not in kv:
            print(f"invalid --tag {kv!r}, expected key=value", file=sys.stderr)
            raise SystemExit(1)
        k, v = kv.split("=", 1)
        tags[k] = v
    encoding = "avro" if args.avro else "proto" if args.proto else "string"
    return {"tags": tags or None, "encoding": encoding, "producer": producer}


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
                brokers=args.broker_list,
                checkpoint=f"{args.checkpoint}/{protocol}",
                encoding=extra["encoding"],
                schema_id=schema_id,
                tags=extra["tags"],
                logtypeid=args.log_type_id,
                num_producers=args.num_producers,
                acks=args.required_acks,
                acks_timeout_ms=args.acks_timeout,
                linger_ms=extra["producer"]["linger_ms"],
                batch_size=extra["producer"]["batch_size"],
                compression=extra["producer"]["compression"],
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
