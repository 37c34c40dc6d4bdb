"""Custom Structured Streaming source: syslog over TCP and UDP.

Reference parity R1-R3 (/root/reference syslog/syslog_producer.go):
- startTCPServer (:117-147): accept loop, newline framing per connection
- startUDPServer (:149-175): datagram scan (Spark's built-in socket source
  is TCP-only, so UDP requires this custom source)
- scan (:177-183): each line is stamped with the collector hostname and
  the arrival time — the message's own header is NOT consulted (parsing is
  a downstream operator, sources/syslog_parse.py).

Implemented with the PySpark 4 Python Data Source API
(pyspark.sql.datasource), columnar from the socket to the executor. A
background listener thread reads raw chunks, frames them on ``\\n`` only
(the reference's bufio.Scanner), and appends each chunk's lines with one
arrival stamp (epoch µs) to two parallel lists. A microbatch's partition is
one ``pyarrow.RecordBatch`` built from slices of those lists; ``read``
yields it as is, so no line is touched by Python after framing.

Offsets are ``{"epoch": <listener id>, "index": n}``: ``n`` is an absolute
index into the buffer of the listener named by ``epoch``, which is new in
every process (and every restart of the query). Delivery contract:
- Lines buffered in a process that dies, or in a listener that stops,
  before their batch commits are lost. That is the only loss: every line a
  live listener buffers is delivered by the next batch that ends in its
  epoch, including the first batch after a restart, whose checkpointed
  start names the old epoch and so reads from this buffer's base.
- No line is delivered twice by the source. A replayed batch whose end
  names a dead epoch reads no rows, since its lines died with that
  process; a committed prefix is trimmed and never re-read.
A socket is not a replayable source, so this is not Structured Streaming's
exactly-once; the sink's checkpoint still makes each delivered batch land
once. The reference has the same loss window (unbuffered channel, no WAL).

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
import time
import uuid

import pyarrow as pa
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from syslog_kafka_spark.model import SYSLOG_MESSAGE_SCHEMA

ARROW_SCHEMA = to_arrow_schema(SYSLOG_MESSAGE_SCHEMA)
CHUNK_BYTES = 65536


class _LineBuffer:
    """Thread-safe columnar line buffer shared with the listener.

    ``lines`` and ``micros`` (arrival time, epoch µs) are parallel lists.
    Offsets handed to Spark are ABSOLUTE (monotone since listener start);
    committed prefixes are dropped and the remaining lines rebased via
    ``_base``, so a long-running collector holds only uncommitted lines in
    memory rather than growing without bound. ``epoch`` names this buffer
    in offsets, so an offset from another process is never read as one of
    ours."""

    def __init__(self) -> None:
        self.epoch = uuid.uuid4().hex
        self._lines: list[str] = []
        self._micros: list[int] = []
        self._base = 0  # absolute offset of _lines[0]
        self._lock = threading.Lock()

    def extend(self, lines: list[str], micros: int) -> None:
        """Append one received chunk's lines, all stamped ``micros``."""
        with self._lock:
            self._lines += lines
            self._micros += [micros] * len(lines)

    def snapshot_len(self) -> int:
        """Absolute offset one past the newest buffered line."""
        with self._lock:
            return self._base + len(self._lines)

    def range(self, start: int, end: int) -> tuple[list[str], list[int]]:
        """(lines, micros) at absolute offsets [start, end), clamped to
        what is still buffered."""
        with self._lock:
            lo = max(start - self._base, 0)
            hi = max(end - self._base, 0)
            return self._lines[lo:hi], self._micros[lo:hi]

    def truncate_to(self, offset: int) -> None:
        """Drop lines below the committed low-water mark ``offset``.
        Only ever called with offsets Spark has durably committed, so the
        dropped prefix can never be replayed."""
        with self._lock:
            drop = min(max(offset - self._base, 0), len(self._lines))
            if drop:
                del self._lines[:drop]
                del self._micros[:drop]
                self._base += drop


class _Framer:
    """Newline framing over raw byte chunks, shared by TCP and UDP.

    Splits on ``\\n`` only, strips one trailing ``\\r`` and drops empty
    lines. The partial last line is carried as bytes to the next chunk and
    only complete lines are decoded (UTF-8, invalid bytes → U+FFFD), so a
    character cut by a chunk boundary survives. Each chunk's lines get one
    arrival stamp, taken when the chunk is fed."""

    def __init__(self, buffer: _LineBuffer) -> None:
        self._buffer = buffer
        self._tail = b""

    def feed(self, chunk: bytes) -> None:
        micros = time.time_ns() // 1000
        data = self._tail + chunk
        cut = data.rfind(b"\n") + 1
        self._tail = data[cut:]
        if cut:
            # "\n" never occurs inside a UTF-8 sequence, so decoding the
            # complete lines together equals decoding each on its own
            text = data[:cut].decode("utf-8", errors="replace").replace("\r\n", "\n")
            lines = list(filter(None, text.split("\n")))
            if lines:
                self._buffer.extend(lines, micros)

    def close(self) -> None:
        """End of stream: a non-empty unterminated last line is a line."""
        self.feed(b"\n")


class _TCPHandler(socketserver.BaseRequestHandler):
    def handle(self) -> None:  # one connection = one framed line stream
        framer = _Framer(self.server.buffer)  # type: ignore[attr-defined]
        while chunk := self.request.recv(CHUNK_BYTES):
            framer.feed(chunk)
        framer.close()


class _TCPServer(socketserver.ThreadingTCPServer):
    """One handler thread per connection, all framing into ``buffer``.
    ``shutdown`` also closes the listening socket and every open
    connection, so the port is free at once and no line sent after it
    reaches the dropped buffer."""

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, host: str, port: int, buffer: _LineBuffer) -> None:
        super().__init__((host, port), _TCPHandler)
        self.buffer = buffer
        self._open: set[socket.socket] = set()
        self._open_lock = threading.Lock()

    def process_request(self, request, client_address) -> None:
        with self._open_lock:
            self._open.add(request)
        super().process_request(request, client_address)

    def shutdown_request(self, request) -> None:
        with self._open_lock:
            self._open.discard(request)
        super().shutdown_request(request)

    def shutdown(self) -> None:
        super().shutdown()  # serve_forever has returned: no more accepts
        self.server_close()
        with self._open_lock:
            for conn in self._open:
                try:
                    conn.shutdown(socket.SHUT_RDWR)  # the handler's recv returns
                except OSError:  # the peer is already gone
                    pass


def start_tcp_listener(host: str, port: int, buffer: _LineBuffer):
    server = _TCPServer(host, port, buffer)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server


def start_udp_listener(host: str, port: int, buffer: _LineBuffer):
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    sock.bind((host, port))
    stop = threading.Event()

    def loop() -> None:
        framer = _Framer(buffer)
        while not stop.is_set():
            try:
                data, _ = sock.recvfrom(65535)
            except OSError:
                return
            # a datagram may carry several newline-framed lines (R3) and
            # ends the last one
            framer.feed(data + b"\n")

    thread = threading.Thread(target=loop, daemon=True)
    thread.start()

    class _Server:
        def shutdown(self) -> None:
            stop.set()
            sock.close()

    return _Server()


class _BatchPartition(InputPartition):
    """One microbatch's lines as a RecordBatch; pickles as Arrow buffers."""

    def __init__(self, batch: pa.RecordBatch) -> None:
        self.batch = batch


def _record_batch(lines: list[str], micros: list[int], source: str) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            pa.array(lines, pa.string()),
            pa.repeat(pa.scalar(source, pa.string()), len(lines)),
            pa.array(micros, ARROW_SCHEMA.field("received_ts").type),
        ],
        schema=ARROW_SCHEMA,
    )


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

    Offsets name the listener's epoch and an absolute index into its
    buffer. The listener lives in the planner's process, and partitions
    ship the lines to executors as one RecordBatch.
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
        return {"epoch": self._listener().epoch, "index": 0}

    def latestOffset(self) -> dict:
        buffer = self._listener()
        return {"epoch": buffer.epoch, "index": buffer.snapshot_len()}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        buffer = self._listener()
        if end.get("epoch") != buffer.epoch:
            # a replayed batch of a dead listener: its lines died with it
            lines, micros = [], []
        else:
            # a start from a dead listener (the first batch after a
            # restart) reads all this listener still holds
            lo = start["index"] if start.get("epoch") == buffer.epoch else 0
            lines, micros = buffer.range(lo, end["index"])
        return [_BatchPartition(_record_batch(lines, micros, self._hostname))]

    def read(self, partition: _BatchPartition):
        yield partition.batch

    def commit(self, end: dict) -> None:
        # Batches at or below `end` are durably committed by the engine and
        # will never be replanned, so their lines are dropped — bounded
        # memory for long-running collectors. In-flight (uncommitted)
        # batches stay replayable: only the committed prefix is trimmed.
        buffer = self._listener()
        if end.get("epoch") == buffer.epoch:
            buffer.truncate_to(end["index"])

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
