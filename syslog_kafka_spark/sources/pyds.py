"""Spark 4 Python DataSource API: a custom batch + streaming source for
raw syslog text files (``pyspark.sql.datasource``).

This is the PySpark-native answer to the reference's file-tail ingestion
seam (`syslog/syslog_producer.go` reads framed lines off a socket; a
file-based deployment tails a log file the same way): a first-class
``spark.read.format("syslog_text")`` source instead of driver-side glue.

Two readers share one format name:

* **Batch** (`SyslogTextBatchReader`): splits the file into byte ranges
  using Hadoop LineRecordReader ownership semantics — a split owns every
  line whose first byte lies in ``(start, end]`` (split 0 also owns byte
  0); a reader that lands mid-line skips forward to the next newline and
  the previous reader reads past its ``end`` to finish the line. That
  makes the source embarrassingly parallel over a 100 TB file set with no
  coordination and no duplicated/lost lines, exactly like Spark's builtin
  text source. Each row carries its byte offset so downstream can address
  back into the raw file.
* **Streaming** (`SyslogTextStreamReader`): an incremental tail with
  line-count offsets — ``latestOffset`` advances ``batchLines`` per
  microbatch until EOF, so ``processAllAvailable`` drains deterministic
  batches and a restart resumes from the committed offset (offsets are
  plain JSON dicts, checkpoint-compatible).

The batch reader yields ``pyarrow.RecordBatch`` chunks (8192 lines per
batch) so the Python→JVM hop is one Arrow buffer per chunk instead of a
pickled tuple per line — the line-exact offset algebra lives in
``_rows()`` and is tested directly. The streaming reader stays row-wise:
its microbatches are admission-controlled to ``batchLines`` rows, far
below any Arrow batching threshold.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)


@dataclass
class ByteRange(InputPartition):
    start: int
    end: int


@dataclass
class LineRange(InputPartition):
    start_line: int
    end_line: int


class SyslogTextDataSource(DataSource):
    """``format("syslog_text")`` — options: ``path`` (required),
    ``splits`` (batch parallelism, default 4), ``batchLines`` (streaming
    microbatch size, default 5), ``checkpointLocation`` (mirror of the
    sink's checkpoint dir; enables the default ``<dir>/_hwm`` durability
    sidecar), ``hwmpath`` (explicit sidecar file, or ``off`` to opt
    out)."""

    @classmethod
    def name(cls) -> str:
        return "syslog_text"

    def schema(self) -> str:
        return "byte_offset BIGINT, line STRING"

    def reader(self, schema) -> "SyslogTextBatchReader":
        return SyslogTextBatchReader(self.options)

    def streamReader(self, schema) -> "SyslogTextStreamReader":
        return SyslogTextStreamReader(self.options)


class SyslogTextBatchReader(DataSourceReader):
    ARROW_BATCH_ROWS = 8192

    def __init__(self, options) -> None:
        self.path = options["path"]
        self.n_splits = int(options.get("splits", 4))

    def partitions(self):
        size = os.path.getsize(self.path)
        n = max(1, self.n_splits)
        step = max(1, size // n)
        cuts = list(range(0, size, step))
        if cuts[-1] != size:
            cuts.append(size)
        return [ByteRange(s, e) for s, e in zip(cuts, cuts[1:])]

    def _rows(self, partition: ByteRange):
        """Line-exact (byte_offset, line) pairs owned by this split."""
        with open(self.path, "rb") as f:
            pos = partition.start
            f.seek(pos)
            if pos != 0:
                # The (possibly partial) line straddling `start` belongs to
                # the previous split, which reads past its own `end`.
                pos += len(f.readline())
            while pos <= partition.end:
                raw = f.readline()
                if not raw:
                    break
                yield (pos, raw.rstrip(b"\n").decode("utf-8"))
                pos += len(raw)

    def read(self, partition: ByteRange):
        # Vectorized transfer: one Arrow RecordBatch per ARROW_BATCH_ROWS
        # lines instead of a pickled tuple per line. Spark's Python
        # DataSource contract accepts RecordBatch yields matching the
        # declared schema.
        import pyarrow as pa

        offsets: list[int] = []
        lines: list[str] = []
        for pos, line in self._rows(partition):
            offsets.append(pos)
            lines.append(line)
            if len(offsets) >= self.ARROW_BATCH_ROWS:
                yield _record_batch(offsets, lines)
                offsets, lines = [], []
        if offsets:
            yield _record_batch(offsets, lines)


def _record_batch(offsets, lines):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array(offsets, type=pa.int64()), pa.array(lines, type=pa.string())],
        names=["byte_offset", "line"],
    )


class SyslogTextStreamReader(DataSourceStreamReader):
    def __init__(self, options) -> None:
        self.path = options["path"]
        self.batch_lines = int(options.get("batchlines", 5))
        # Planning state lives on the driver; Spark calls initialOffset/
        # latestOffset there and ships pickled copies to executors only
        # for read(). `_current` is the planned high-water mark; `_floor`
        # is the highest START offset Spark has ever handed partitions()
        # — on a checkpoint restart that is the committed resume point,
        # which a fresh reader (``_current = 0``) cannot otherwise know
        # because latestOffset() is called BEFORE the first partitions().
        # Clamping every planned range to `_floor` means the one
        # post-restart regressing batch (end < committed start) plans
        # EMPTY instead of re-reading lines the previous incarnation
        # already committed, and the next batch resumes exactly at the
        # floor: no duplicates, no losses.
        #
        # DURABILITY SEAM (`hwmpath`): the clamp alone cannot survive a
        # SECOND restart — the first post-restart latestOffset() answer
        # regresses below the committed start, Spark records that
        # regressed end in its offset log, and if the query dies again
        # after the empty batch commits, the third incarnation resumes
        # from the regressed offset and re-delivers. The sidecar persists
        # the committed high-water mark so a fresh reader loads it as its
        # floor: latestOffset() never regresses in the first place and
        # exactly-once survives ANY restart count.
        #
        # DEFAULT-ON since round 7: when the caller passes
        # ``.option("checkpointLocation", <dir>)`` (mirror the sink's
        # checkpoint dir — the read side cannot see sink options), the
        # sidecar defaults to ``<dir>/_hwm`` with no further opt-in.
        # An explicit ``.option("hwmpath", <file>)`` overrides the
        # location; ``.option("hwmpath", "off")`` (or empty) opts out.
        # The sidecar is per-query (keyed to its checkpoint), so
        # concurrent queries over the same file never share a floor.
        # Guarantee tiers: no checkpoint dir and no hwmpath → the
        # single-restart clamp only (double-restart re-delivery is the
        # documented limitation); either option present → exactly-once
        # across any number of restarts.
        self._current = 0
        self._floor = 0
        self._hwm_path = self._resolve_hwm_path(options)
        if self._hwm_path and os.path.exists(self._hwm_path):
            try:
                with open(self._hwm_path) as f:
                    self._floor = max(self._floor, int(f.read().strip() or 0))
            except (OSError, ValueError):
                pass  # unreadable sidecar degrades to the clamp-only path

    @staticmethod
    def _resolve_hwm_path(options) -> str | None:
        """Sidecar location: explicit ``hwmpath`` wins; ``off``/empty
        disables; otherwise default to ``<checkpointLocation>/_hwm``."""
        raw = options.get("hwmpath")
        if raw is not None:
            return None if raw.strip().lower() in ("", "off", "none", "false") else raw
        ckpt = options.get("checkpointlocation")
        return os.path.join(ckpt, "_hwm") if ckpt else None

    def _persist_floor(self) -> None:
        if not self._hwm_path:
            return
        # The checkpoint dir may not exist yet on the first commit (the
        # sink creates it on its own schedule).
        parent = os.path.dirname(self._hwm_path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        tmp = f"{self._hwm_path}.tmp"
        with open(tmp, "w") as f:
            f.write(str(self._floor))
        os.replace(tmp, self._hwm_path)  # atomic: readers never see partial

    def _total_lines(self) -> int:
        with open(self.path, "rb") as f:
            return sum(1 for _ in f)

    def initialOffset(self) -> dict:
        return {"line": 0}

    def latestOffset(self) -> dict:
        # Advance at most `batch_lines` per planning round: bounded
        # microbatches regardless of how much data arrived (the admission
        # control knob every production stream source needs). Monotonic:
        # never plans behind the committed floor or a prior plan.
        total = self._total_lines()
        base = max(self._current, self._floor)
        nxt = max(min(base + self.batch_lines, total), base)
        self._current = nxt
        return {"line": nxt}

    def partitions(self, start: dict, end: dict):
        s, e = start["line"], end["line"]
        # Spark's start offsets come from the checkpoint/offset log; the
        # highest one seen is the resume floor a fresh reader must honor.
        self._floor = max(self._floor, s)
        self._current = max(self._current, s, e)
        lo = max(s, self._floor)
        return [LineRange(lo, max(e, lo))]

    def read(self, partition: LineRange):
        pos = 0
        with open(self.path, "rb") as f:
            for idx, raw in enumerate(f):
                if idx >= partition.end_line:
                    break
                if idx >= partition.start_line:
                    yield (pos, raw.rstrip(b"\n").decode("utf-8"))
                pos += len(raw)

    def commit(self, end: dict) -> None:
        self._current = max(self._current, end["line"])
        # Never let a regressed post-restart batch end LOWER the floor —
        # the committed resume point only moves forward.
        self._floor = max(self._floor, end["line"])
        self._persist_floor()


_REGISTERED: set[int] = set()


def register(spark) -> None:
    """Register the format with this session (idempotent per session)."""
    key = id(spark)
    if key not in _REGISTERED:
        spark.dataSource.register(SyslogTextDataSource)
        _REGISTERED.add(key)


def corpus_file(spark) -> str:
    """Materialize the fixture corpus as a newline-delimited UTF-8 file at
    a stable path under the gitignored warehouse root next to the package,
    whatever the working directory (idempotent overwrite)."""
    from syslog_kafka_spark.session import WAREHOUSE
    from syslog_kafka_spark.sources.syslog_fixtures import SYSLOG_CORPUS

    os.makedirs(WAREHOUSE, exist_ok=True)
    path = os.path.join(WAREHOUSE, "pyds_syslog_corpus.log")
    data = "".join(line + "\n" for line in SYSLOG_CORPUS).encode("utf-8")
    if not os.path.exists(path) or open(path, "rb").read() != data:
        with open(path, "wb") as f:
            f.write(data)
    return path
