"""Custom Structured Streaming source: syslog over TCP and UDP.

Reference parity R1-R3 (/root/reference syslog/syslog_producer.go):
- startTCPServer (:117-147): accept loop, newline framing per connection
- startUDPServer (:149-175): datagram scan (Spark's built-in socket source
  is TCP-only, so UDP requires this custom source)
- scan (:177-183): each line is stamped with the collector hostname and
  the arrival time — the message's own header is NOT consulted (parsing is
  a downstream operator, sources/syslog_parse.py).

Implemented with the PySpark 4 Python Data Source API
(pyspark.sql.datasource) as a ``SimpleDataSourceStreamReader``, columnar
from the socket to the JVM. A background listener thread reads raw chunks,
frames them on ``\\n`` only (the reference's bufio.Scanner), and appends
each chunk's lines with one arrival stamp (epoch µs) to two parallel lists.
The planner process that owns the listener serves each microbatch: when
Spark asks for the latest offset, ``read(start)`` takes every pending line
out of the buffer as one ``pyarrow.RecordBatch``, and PySpark ships that
batch to the JVM with the batch's plan. No executor Python task runs, and
no line is touched by Python after framing.

Batch rule (the reference's accumulator flushes by size or age,
record_accumulator.go:127-134): ``read`` serves the pending lines once the
newest is ``QUIET`` old (the sender paused, e.g. a burst ended) or the
oldest is ``LINGER`` old; otherwise it serves nothing and Spark polls
again. It never sleeps. At ``MAX_PENDING_LINES`` pending lines a TCP
handler stops reading, so the kernel pushes back on the sender; UDP drops
the datagram and counts it. The bound also caps a batch's size.

Offsets are ``{"epoch": <listener id>, "index": n}``: ``n`` counts the
lines the listener named by ``epoch`` has buffered since it started, and
the epoch is new in every process (and every restart of the query).
Delivery contract:
- Three losses, and no others: lines buffered in a process that dies,
  or in a listener that stops, before their batch commits; UDP datagrams
  that arrive while ``MAX_PENDING_LINES`` lines are pending (counted in
  ``dropped``); and whatever is sent before the listener binds, at the
  planner's first offset call: on every start and restart, from
  ``start()`` returning until the port accepts (1.16-1.37 s on 4 cores),
  TCP connects are refused and UDP datagrams are lost. Every other line
  a live listener buffers is served by a later batch, including the
  first after a restart, whose checkpointed start names the old epoch;
  a served batch stays in PySpark's prefetch cache until it commits.
- No line is delivered twice by the source: ``read`` drains what it
  serves. ``readBetweenOffsets`` runs in an executor only when the cache
  misses, i.e. for the replay after a restart of a batch whose end names
  a dead epoch; its lines died with that process, so it reads nothing and
  never touches a listener.
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
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from syslog_kafka_spark.model import SYSLOG_MESSAGE_SCHEMA

ARROW_SCHEMA = to_arrow_schema(SYSLOG_MESSAGE_SCHEMA)
CHUNK_BYTES = 65536
# The batch rule: serve the pending lines once the newest has waited QUIET
# seconds (the sender paused) or the oldest LINGER seconds.
QUIET = 0.05
LINGER = 0.5
# Pending lines at which a TCP handler stops reading and UDP drops; above
# the largest burst the ingest benchmark sends (55,000 lines).
MAX_PENDING_LINES = 100_000


class _LineBuffer:
    """Thread-safe columnar buffer of the lines no batch has taken yet,
    shared with the listener.

    ``lines`` and ``micros`` (arrival time, epoch µs) are parallel lists.
    ``count`` is the number of lines buffered since the listener started,
    the absolute offset one past the newest; ``take`` hands the pending
    lines to a batch, so memory holds only lines not yet served. ``epoch``
    names this buffer in offsets, so an offset from another process is
    never read as one of ours."""

    def __init__(self) -> None:
        self.epoch = uuid.uuid4().hex
        self.count = 0
        self.dropped = 0  # UDP datagrams dropped at MAX_PENDING_LINES
        self._lines: list[str] = []
        self._micros: list[int] = []
        self._closed = False
        self._cond = threading.Condition()

    def extend(self, lines: list[str], micros: int, wait: bool = True) -> None:
        """Append one received chunk's lines, all stamped ``micros``. A
        chunk that would take the pending lines past MAX_PENDING_LINES
        waits for ``take`` (or is dropped, if not ``wait``); a chunk alone
        larger than the bound goes into an empty buffer. Once the buffer
        is closed nothing is appended."""
        with self._cond:
            while self._lines and len(self._lines) + len(lines) > MAX_PENDING_LINES and not self._closed:
                if not wait:
                    self.dropped += 1
                    return
                self._cond.wait()
            if not self._closed:
                self._lines += lines
                self._micros += [micros] * len(lines)
                self.count += len(lines)

    def take(self) -> tuple[list[str], list[int], int]:
        """(lines, micros, count): every pending line once the batch rule
        holds (the newest is QUIET old or the oldest LINGER old), else
        none; ``count`` is the absolute offset after them."""
        with self._cond:
            now = time.time_ns() // 1000
            if not self._lines or (
                now - self._micros[-1] < QUIET * 1e6 and now - self._micros[0] < LINGER * 1e6
            ):
                return [], [], self.count
            lines, micros = self._lines, self._micros
            self._lines, self._micros = [], []
            self._cond.notify_all()
            return lines, micros, self.count

    def close(self) -> None:
        """Append nothing more, and wake every handler waiting in
        ``extend``."""
        with self._cond:
            self._closed = True
            self._cond.notify_all()


class _Framer:
    """Newline framing over raw byte chunks, shared by TCP and UDP.

    Splits on ``\\n`` only, strips one trailing ``\\r`` and drops empty
    lines. The partial last line is carried as bytes to the next chunk and
    only complete lines are decoded (UTF-8, invalid bytes → U+FFFD), so a
    character cut by a chunk boundary survives. Each chunk's lines get one
    arrival stamp, taken when the chunk is fed. ``wait`` is the buffer's
    choice at its bound: wait (TCP) or drop (UDP)."""

    def __init__(self, buffer: _LineBuffer, wait: bool = True) -> None:
        self._buffer = buffer
        self._wait = wait
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
                self._buffer.extend(lines, micros, self._wait)

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
        framer = _Framer(buffer, wait=False)
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


def _record_batch(lines: list[str], micros: list[int], source: str) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            pa.array(lines, pa.string()),
            pa.repeat(pa.scalar(source, pa.string()), len(lines)),
            pa.array(micros, ARROW_SCHEMA.field("received_ts").type),
        ],
        schema=ARROW_SCHEMA,
    )


class SyslogStreamReader(SimpleDataSourceStreamReader):
    """Microbatch reader over the listener buffer.

    Offsets name the listener's epoch and the count of lines it has
    buffered. PySpark builds one reader in the planner process, which
    owns the listener and where ``read`` serves each batch as one
    RecordBatch; a reader built in an executor never binds a socket.
    """

    def __init__(self, schema: StructType, options: dict) -> None:
        self._host = options.get("host", "127.0.0.1")
        self._port = int(options.get("port", "5514"))
        self._protocol = options.get("protocol", "tcp").lower()
        if self._protocol not in ("tcp", "udp"):
            raise ValueError(f"protocol must be tcp or udp, got {self._protocol!r}")
        self._hostname = socket.gethostname()
        self._server = None
        self._buffer: _LineBuffer | None = None

    # The listener binds lazily, on the first offset call: only the
    # planner's reader asks for offsets.
    def _listener(self) -> _LineBuffer:
        if self._buffer is None:
            buffer = _LineBuffer()
            start = start_tcp_listener if self._protocol == "tcp" else start_udp_listener
            self._server = start(self._host, self._port, buffer)
            self._buffer = buffer
        return self._buffer

    def initialOffset(self) -> dict:
        return {"epoch": self._listener().epoch, "index": 0}

    def read(self, start: dict):
        # Every pending line follows ``start``: an offset of this epoch is
        # the end of the last batch served, and a start from a dead
        # listener (the first batch after a restart) precedes all this
        # listener buffered. PySpark copies the returned iterator, so it
        # must be a list iterator, not a generator.
        buffer = self._listener()
        lines, micros, count = buffer.take()
        if not lines:
            return iter(()), start
        return iter([_record_batch(lines, micros, self._hostname)]), {"epoch": buffer.epoch, "index": count}

    def readBetweenOffsets(self, start: dict, end: dict):
        # Runs in an executor, only to replay a batch the prefetch cache
        # does not hold: one whose end names a dead listener, whose lines
        # died with it. It must not bind a listener here.
        return iter(())

    def stop(self) -> None:
        # PySpark's wrapper does not forward stop(); at query level the
        # planner process exits on query.stop(), which frees the port.
        if self._buffer is not None:
            self._buffer.close()
            self._server.shutdown()
            self._server = self._buffer = None


class SyslogDataSource(DataSource):
    """`spark.readStream.format("syslog")` — TCP/UDP syslog collector."""

    @classmethod
    def name(cls) -> str:
        return "syslog"

    def schema(self) -> StructType:
        return SYSLOG_MESSAGE_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> SyslogStreamReader:
        return SyslogStreamReader(schema, dict(self.options))
