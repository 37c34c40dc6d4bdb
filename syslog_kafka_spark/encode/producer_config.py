"""Producer settings: the reference's keys, their defaults, and the Kafka
sink options they become.

Reference parity: ProducerConfigFromFile (siesta-producer
kafka_producer.go:158-205) loads a java-properties map and applies the
recognized keys over NewProducerConfig() defaults. Here each step
happens once, under the reference's own key names:

- ``DEFAULTS`` holds the defaults.
- ``producer_settings`` merges them: defaults, then a properties file,
  then CLI flags.
- ``kafka_sink_options`` translates the merged keys to the Kafka sink's
  ``kafka.*`` options. The Java producer behind the sink then owns
  batching, acks and compression, as the reference's record accumulator
  and network client did (R14-R16).

``_SINK_OPTIONS`` lists the keys the sink honours; a file may also name
the broker list by its older key, metadata.broker.list.
"""

from __future__ import annotations

import logging
import re
from collections.abc import Mapping

log = logging.getLogger(__name__)

# NewProducerConfig() (kafka_producer.go:57-67) and the reference CLI's
# --required.acks / --acks.timeout defaults (syslog.go:84-85).
DEFAULTS = {"acks": "1", "timeout.ms": "1000", "linger": "1s", "batch.size": "1000"}

_DURATION_RE = re.compile(r"^(\d+(?:\.\d+)?)(ms|s|m|h)?$")
_UNIT_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, None: 1}


def parse_duration_ms(value: str) -> int:
    """Go-style duration ('100ms', '1s', '2m') or a bare number (ms)."""
    m = _DURATION_RE.match(value.strip())
    if not m:
        raise ValueError(f"unparseable duration {value!r}")
    return int(float(m.group(1)) * _UNIT_MS[m.group(2)])


# reference key -> (Kafka sink option, parse of the value)
_SINK_OPTIONS = {
    "bootstrap.servers": ("kafka.bootstrap.servers", str),
    "acks": ("kafka.acks", int),
    # AckTimeoutMs → the Java producer's request.timeout.ms
    "timeout.ms": ("kafka.request.timeout.ms", int),
    "linger": ("kafka.linger.ms", parse_duration_ms),
    "batch.size": ("kafka.batch.size", int),
    "compression.type": ("kafka.compression.type", str),
    "client.id": ("kafka.client.id", str),
}


def load_properties(path: str) -> dict[str, str]:
    """Minimal java-properties subset: key=value lines, #/! comments,
    surrounding whitespace stripped — what cfg.LoadNewMap accepts for the
    reference's producer files."""
    props: dict[str, str] = {}
    with open(path, encoding="utf-8") as fh:
        for raw in fh:
            line = raw.strip()
            if not line or line.startswith(("#", "!")):
                continue
            if "=" not in line:
                raise ValueError(f"invalid properties line {raw!r}")
            k, v = line.split("=", 1)
            props[k.strip()] = v.strip()
    return props


def producer_settings(
    path: str | None = None, flags: Mapping[str, object] | None = None
) -> dict[str, str]:
    """``DEFAULTS``, then the properties file at ``path``, then each flag
    that is not None: flags beat the file, which beats the defaults."""
    settings = dict(DEFAULTS)
    if path:
        props = load_properties(path)
        # bootstrap.servers wins when both are present (the reference reads
        # metadata.broker.list only while the broker list is still empty)
        if "metadata.broker.list" in props:
            props.setdefault("bootstrap.servers", props.pop("metadata.broker.list"))
        settings.update(props)
    settings.update({k: str(v) for k, v in (flags or {}).items() if v is not None})
    return settings


def kafka_sink_options(settings: Mapping[str, str]) -> dict[str, str]:
    """The Kafka sink option map for reference producer ``settings``: the
    one place a reference key becomes a ``kafka.*`` option. A malformed
    number or duration raises ValueError; an empty value sets no option.
    Keys the sink has no option for (say ``send.routines``) are named in
    one warning."""
    opts, ignored = {}, []
    for key, value in settings.items():
        if key not in _SINK_OPTIONS:
            ignored.append(key)
            continue
        option, parse = _SINK_OPTIONS[key]
        try:
            parsed = str(parse(value))
        except ValueError:
            raise ValueError(f"invalid {key}={value!r}") from None
        if parsed:
            opts[option] = parsed
    if ignored:
        log.warning(
            "producer settings with no Kafka sink option, ignored: %s", ", ".join(sorted(ignored))
        )
    return opts
