"""Output checkers: the ingest sink against the sent lines, and the
analytics slice against the stored expected results."""

from __future__ import annotations

import glob
import json
import multiprocessing
import os
import re
import struct
from dataclasses import dataclass, field

_SEQ = re.compile(r"seq=(\d+)")
# Processes that check a sink's values; the check runs after the timed
# window, when the program is idle.
CHECK_PROCS = 4
_job: tuple | None = None  # (values, IngestExpect) for the forked checkers


@dataclass
class IngestExpect:
    """What the sink must hold for lines [0, len(lines))."""

    lines: list[str]
    encoding: str  # "avro" or "string"
    source: str = ""  # collector hostname the source stamps
    schema_id: int = 0
    tags: dict[str, str] | None = None
    logtypeid: int | None = None
    # Per seq, the bounds ``received`` must fall in: hand-off to the socket
    # and commit end of the line's batch (0: unknown, not checked).
    sent_ms: list[int] = field(default_factory=list)
    commit_ms: list[int] = field(default_factory=list)


@dataclass
class IngestVerdict:
    rows: int = 0
    missing: int = 0
    duplicated: int = 0
    misencoded: int = 0
    examples: list[str] = field(default_factory=list)

    @property
    def failed(self) -> int:
        return self.missing + self.duplicated + self.misencoded

    def note(self, msg: str) -> None:
        if len(self.examples) < 5:
            self.examples.append(msg)


def committed_sink_files(sink_dir: str) -> list[str]:
    """Data files the file sink's metadata log records as committed."""
    paths: set[str] = set()
    for log in glob.glob(os.path.join(sink_dir, "_spark_metadata", "*")):
        with open(log) as f:
            for entry in f:
                if entry.startswith("{"):
                    rec = json.loads(entry)
                    if rec.get("action", "add") == "add":
                        paths.add(rec["path"].removeprefix("file://"))
    return sorted(paths)


def read_sink_values(sink_dir: str) -> list[bytes]:
    import pyarrow.parquet as pq

    values: list[bytes] = []
    for path in committed_sink_files(sink_dir):
        values.extend(pq.read_table(path, columns=["value"]).column("value").to_pylist())
    return values


def check_ingest(values: list[bytes], exp: IngestExpect) -> IngestVerdict:
    """Every sequence number exactly once, every value byte-equal to the
    encoding of the line that was sent, ``received`` between send and
    commit (Avro only; the string encoding carries no timestamp).

    Decoding and re-encoding every value is the longest step of an ingest
    run after its traffic, so CHECK_PROCS forked processes check slices of
    ``values`` and this process merges their findings."""
    global _job
    step = max(-(-len(values) // CHECK_PROCS), 1)
    _job = (values, exp)
    try:
        with multiprocessing.get_context("fork").Pool(CHECK_PROCS) as pool:
            parts = pool.map(_check_slice, [(lo, lo + step) for lo in range(0, len(values), step)])
            pool.close()
            pool.join()
    finally:
        _job = None
    v = IngestVerdict(rows=len(values))
    seen = bytearray(len(exp.lines))
    for found, notes in parts:
        for msg in notes:
            v.note(msg)
        for seq, ok in found:
            if seq < 0:
                v.misencoded += 1
            elif seen[seq]:
                v.duplicated += 1
                v.note(f"seq {seq} duplicated")
            else:
                seen[seq] = 1
                v.misencoded += not ok
    v.missing = len(seen) - sum(seen)
    if v.missing:
        v.note(f"{v.missing} lines missing, first seq {seen.index(0)}")
    return v


def _check_slice(bounds: tuple[int, int]) -> tuple[list[tuple[int, bool]], list[str]]:
    """(seq or -1 if undecodable, value as expected) per value of one
    slice of the forked ``_job``, and notes on the values that are not."""
    from syslog_kafka_spark.encode.avro_binary import encode_logline_confluent
    from syslog_kafka_spark.encode.decode import decode_confluent

    values, exp = _job
    v = IngestVerdict()
    found = []
    for value in values[bounds[0] : bounds[1]]:
        try:
            if exp.encoding == "avro":
                schema_id, rec = decode_confluent(value)
                line = rec["line"] or ""
            else:
                line = value.decode("utf-8")
            seq = int(_SEQ.search(line).group(1))
            if seq >= len(exp.lines):
                raise ValueError(f"seq {seq} was never sent")
        except (ValueError, AttributeError, IndexError, TypeError, struct.error) as exc:
            found.append((-1, False))
            v.note(f"undecodable value: {exc}")
            continue
        if exp.encoding == "avro":
            ok = _avro_ok(value, schema_id, rec, seq, exp, encode_logline_confluent, v)
        else:
            ok = value == exp.lines[seq].encode("utf-8")
            if not ok:
                v.note(f"seq {seq}: value differs from the sent line")
        found.append((seq, ok))
    return found, v.examples


def _avro_ok(value, schema_id, rec, seq, exp, encode, v) -> bool:
    timings = rec.get("timings") or []
    if schema_id != exp.schema_id or len(timings) != 1 or timings[0]["eventName"] != "received":
        v.note(f"seq {seq}: bad framing or timings {timings!r}")
        return False
    received = timings[0]["value"]
    lo, hi = exp.sent_ms[seq], exp.commit_ms[seq]
    if hi and not lo <= received <= hi:
        v.note(f"seq {seq}: received {received} outside [{lo}, {hi}]")
        return False
    want = encode(
        {
            "line": exp.lines[seq],
            "source": exp.source,
            "tag": exp.tags,
            "logtypeid": exp.logtypeid,
            "timings": [{"eventName": "received", "value": received}],
        },
        exp.schema_id,
    )
    if value != want:
        v.note(f"seq {seq}: bytes differ from the expected encoding")
        return False
    return True


def check_slice_result(name: str, pdf, expected: dict) -> str | None:
    """None when the collected result matches; else what differs."""
    from perfbench.slice import REPLAY

    if name == REPLAY:
        got = [[None if s != s or s is None else int(s), int(n)] for s, n in zip(pdf["severity"], pdf["n"])]
        want = expected["replay_histogram"]
        return None if got == want else f"histogram {got} != {want}"
    from scripts.driver_sim import canon_pandas

    cols, rows, digest = canon_pandas(pdf)
    want = expected["queries"][name]
    got = {"cols": cols, "rows": rows, "hash": digest}
    return None if got == want else f"{got} != {want}"
