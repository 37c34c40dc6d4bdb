"""Custom Structured Streaming source: syslog over TCP and UDP.

Reference parity R1-R3 (/root/reference syslog/syslog_producer.go):
- startTCPServer (:117-147): accept loop, newline framing per connection
- startUDPServer (:149-175): datagram scan (Spark's built-in socket source
  is TCP-only, so UDP requires this custom source)
- scan (:177-183): each line is stamped with the collector hostname and
  the arrival time — the message's own header is NOT consulted (parsing is
  a downstream operator, sources/syslog_parse.py).

Implemented with the PySpark 4 Python Data Source API
(pyspark.sql.datasource). A background listener thread owns the socket and
appends framed lines to an in-memory buffer; microbatch offsets are
(start, end) indices into that buffer. Delivery is at-least-once after a
restart and lines buffered but uncommitted are lost on crash — the same
contract as the reference (unbuffered channel, no WAL).

Registration:
    spark.dataSource.register(SyslogDataSource)
    df = (spark.readStream.format("syslog")
          .option("host", "0.0.0.0").option("port", "5514")
          .option("protocol", "tcp").load())
"""

from __future__ import annotations

import socket
import socketserver
import threading
from datetime import datetime, timezone

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.types import StructType

from syslog_kafka_spark.model import SYSLOG_MESSAGE_SCHEMA


class _LineBuffer:
    """Thread-safe line buffer shared with the listener.

    Offsets handed to Spark are ABSOLUTE (monotone since listener start);
    committed prefixes are dropped and the remaining lines rebased via
    ``_base``, so a long-running collector holds only uncommitted lines in
    memory rather than growing without bound."""

    def __init__(self) -> None:
        self._lines: list[tuple[str, datetime]] = []
        self._base = 0  # absolute offset of _lines[0]
        self._lock = threading.Lock()

    def append(self, line: str) -> None:
        with self._lock:
            self._lines.append((line, datetime.now(timezone.utc)))

    def snapshot_len(self) -> int:
        """Absolute offset one past the newest buffered line."""
        with self._lock:
            return self._base + len(self._lines)

    def range(self, start: int, end: int) -> list[tuple[str, datetime]]:
        with self._lock:
            lo = max(start - self._base, 0)
            hi = max(end - self._base, 0)
            return self._lines[lo:hi]

    def truncate_to(self, offset: int) -> None:
        """Drop lines below the committed low-water mark ``offset``.
        Only ever called with offsets Spark has durably committed, so the
        dropped prefix can never be replayed."""
        with self._lock:
            drop = min(max(offset - self._base, 0), len(self._lines))
            if drop:
                del self._lines[:drop]
                self._base += drop


class _TCPHandler(socketserver.StreamRequestHandler):
    def handle(self) -> None:  # one connection = one framed line stream
        for raw in self.rfile:
            line = raw.decode("utf-8", errors="replace").rstrip("\r\n")
            if line:
                self.server.buffer.append(line)  # type: ignore[attr-defined]


def start_tcp_listener(host: str, port: int, buffer: _LineBuffer):
    class _Server(socketserver.ThreadingTCPServer):
        allow_reuse_address = True
        daemon_threads = True

    server = _Server((host, port), _TCPHandler, bind_and_activate=True)
    server.buffer = buffer  # type: ignore[attr-defined]
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server


def start_udp_listener(host: str, port: int, buffer: _LineBuffer):
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    sock.bind((host, port))
    stop = threading.Event()

    def loop() -> None:
        while not stop.is_set():
            try:
                data, _ = sock.recvfrom(65535)
            except OSError:
                return
            # a datagram may carry several newline-framed lines (R3)
            for line in data.decode("utf-8", errors="replace").splitlines():
                if line:
                    buffer.append(line)

    thread = threading.Thread(target=loop, daemon=True)
    thread.start()

    class _Server:
        def shutdown(self) -> None:
            stop.set()
            sock.close()

    return _Server()


class _RangePartition(InputPartition):
    def __init__(self, rows: list[tuple[str, datetime]], source: str) -> None:
        self.rows = rows
        self.source = source


# The reader can be constructed more than once for the same query (schema
# resolution + execution); listeners are process-global per endpoint so a
# second construction reuses the live socket instead of re-binding.
_LISTENERS: dict[tuple[str, str, int], tuple[object, _LineBuffer]] = {}
_LISTENERS_LOCK = threading.Lock()


def _get_listener(protocol: str, host: str, port: int) -> tuple[object, _LineBuffer]:
    key = (protocol, host, port)
    with _LISTENERS_LOCK:
        if key not in _LISTENERS:
            buffer = _LineBuffer()
            if protocol == "tcp":
                server = start_tcp_listener(host, port, buffer)
            elif protocol == "udp":
                server = start_udp_listener(host, port, buffer)
            else:
                raise ValueError(f"protocol must be tcp or udp, got {protocol!r}")
            _LISTENERS[key] = (server, buffer)
        return _LISTENERS[key]


class SyslogStreamReader(DataSourceStreamReader):
    """Microbatch reader over the listener buffer.

    Offsets are monotone indices into the buffer; planner runs on the
    driver (the listener lives there too), partitions ship the actual
    lines to executors.
    """

    def __init__(self, schema: StructType, options: dict) -> None:
        self._host = options.get("host", "127.0.0.1")
        self._port = int(options.get("port", "5514"))
        self._protocol = options.get("protocol", "tcp").lower()
        if self._protocol not in ("tcp", "udp"):
            raise ValueError(f"protocol must be tcp or udp, got {self._protocol!r}")
        self._hostname = socket.gethostname()

    # The listener binds lazily on the first offset call: __init__ may run
    # more than once (schema resolution vs execution) and only the
    # long-lived planner process should own the socket.
    def _listener(self) -> _LineBuffer:
        _, buffer = _get_listener(self._protocol, self._host, self._port)
        return buffer

    def initialOffset(self) -> dict:
        self._listener()
        return {"index": 0}

    def latestOffset(self) -> dict:
        return {"index": self._listener().snapshot_len()}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        rows = self._listener().range(start["index"], end["index"])
        return [_RangePartition(rows, self._hostname)]

    def read(self, partition: _RangePartition):
        for line, received in partition.rows:
            yield (line, partition.source, received.replace(tzinfo=None))

    def commit(self, end: dict) -> None:
        # Batches at or below `end` are durably committed by the engine and
        # will never be replanned, so their lines are dropped — bounded
        # memory for long-running collectors. In-flight (uncommitted)
        # batches stay replayable: only the committed prefix is trimmed.
        self._listener().truncate_to(end["index"])

    def stop(self) -> None:
        key = (self._protocol, self._host, self._port)
        with _LISTENERS_LOCK:
            entry = _LISTENERS.pop(key, None)
        if entry is not None:
            entry[0].shutdown()


class SyslogDataSource(DataSource):
    """`spark.readStream.format("syslog")` — TCP/UDP syslog collector."""

    @classmethod
    def name(cls) -> str:
        return "syslog"

    def schema(self) -> StructType:
        return SYSLOG_MESSAGE_SCHEMA

    def streamReader(self, schema: StructType) -> SyslogStreamReader:
        return SyslogStreamReader(schema, dict(self.options))
