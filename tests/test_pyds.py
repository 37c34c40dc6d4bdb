"""Python DataSource reader invariants (sources/pyds.py) — pure-Python
tests of the split-ownership algebra, no Spark session needed.

The property that matters at 100 TB: for ANY number of byte-range
splits, the union of all partitions' output is exactly the file's lines,
each exactly once, with exact byte offsets — including when a cut lands
mid-line, on a newline, or on a multibyte UTF-8 sequence.
"""

from __future__ import annotations

import os

import pytest

from syslog_kafka_spark.sources.pyds import (
    ByteRange,
    LineRange,
    SyslogTextBatchReader,
    SyslogTextStreamReader,
    corpus_file,
)
from syslog_kafka_spark.sources.syslog_fixtures import SYSLOG_CORPUS


@pytest.fixture()
def corpus_path(tmp_path):
    p = tmp_path / "corpus.log"
    p.write_bytes("".join(line + "\n" for line in SYSLOG_CORPUS).encode("utf-8"))
    return str(p)


def expected_rows():
    rows, pos = [], 0
    for line in SYSLOG_CORPUS:
        rows.append((pos, line))
        pos += len((line + "\n").encode("utf-8"))
    return rows


def test_corpus_file_lands_under_the_warehouse_root(tmp_path, monkeypatch):
    """The gates' corpus file is written next to the package, not into
    whatever directory the process runs in."""
    from syslog_kafka_spark.session import WAREHOUSE

    monkeypatch.chdir(tmp_path)
    path = corpus_file(None)
    assert os.path.isabs(path)
    assert os.path.commonpath([path, WAREHOUSE]) == WAREHOUSE
    assert list(tmp_path.iterdir()) == []
    with open(path, "rb") as f:
        assert f.read() == "".join(line + "\n" for line in SYSLOG_CORPUS).encode("utf-8")


@pytest.mark.parametrize("splits", [1, 2, 3, 4, 7, 16, 64])
def test_batch_splits_partition_exactly(corpus_path, splits):
    reader = SyslogTextBatchReader({"path": corpus_path, "splits": splits})
    parts = reader.partitions()
    # ranges tile the file: contiguous, gap-free, covering [0, size)
    assert parts[0].start == 0
    assert parts[-1].end == os.path.getsize(corpus_path)
    for a, b in zip(parts, parts[1:]):
        assert a.end == b.start
    got = [row for p in parts for row in reader._rows(p)]
    assert sorted(got) == expected_rows()


def test_batch_read_yields_arrow_batches_equal_to_rows(corpus_path):
    import pyarrow as pa

    reader = SyslogTextBatchReader({"path": corpus_path, "splits": 2})
    for part in reader.partitions():
        rows = []
        for rb in reader.read(part):
            assert isinstance(rb, pa.RecordBatch)
            assert rb.schema.names == ["byte_offset", "line"]
            assert rb.schema.types == [pa.int64(), pa.string()]
            rows.extend(zip(rb.column(0).to_pylist(), rb.column(1).to_pylist()))
        assert rows == list(reader._rows(part))


def test_batch_read_chunks_at_arrow_batch_rows(tmp_path, monkeypatch):
    p = tmp_path / "many.log"
    p.write_bytes(b"".join(b"line %d\n" % i for i in range(25)))
    monkeypatch.setattr(SyslogTextBatchReader, "ARROW_BATCH_ROWS", 10)
    reader = SyslogTextBatchReader({"path": str(p), "splits": 1})
    (part,) = reader.partitions()
    sizes = [rb.num_rows for rb in reader.read(part)]
    assert sizes == [10, 10, 5]


def test_batch_cut_on_every_byte_boundary(tmp_path):
    # Exhaustive 2-split sweep over a small file: no cut position may
    # drop or duplicate a line (covers cut-at-newline and cut-mid-line).
    data = "aa\nb\n\ncccc\nd\n"
    p = tmp_path / "tiny.log"
    p.write_bytes(data.encode())
    reader = SyslogTextBatchReader({"path": str(p)})
    size = len(data)
    want = []
    pos = 0
    for line in data.split("\n")[:-1]:
        want.append((pos, line))
        pos += len(line) + 1
    for cut in range(1, size):
        got = list(reader._rows(ByteRange(0, cut))) + list(reader._rows(ByteRange(cut, size)))
        assert sorted(got) == want, f"cut at {cut}"


def test_stream_batches_tile_the_file(corpus_path):
    reader = SyslogTextStreamReader({"path": corpus_path, "batchlines": 5})
    assert reader.initialOffset() == {"line": 0}
    offsets = [0]
    while True:
        nxt = reader.latestOffset()["line"]
        if nxt == offsets[-1]:
            break
        offsets.append(nxt)
    assert offsets[-1] == len(SYSLOG_CORPUS)
    assert all(b - a <= 5 for a, b in zip(offsets, offsets[1:]))
    got = []
    for a, b in zip(offsets, offsets[1:]):
        (part,) = reader.partitions({"line": a}, {"line": b})
        assert isinstance(part, LineRange)
        got.extend(reader.read(part))
    assert got == expected_rows()


def test_stream_commit_guards_resume(corpus_path):
    # After a checkpoint resume, commit() must raise the planning
    # high-water mark so latestOffset never plans behind it.
    reader = SyslogTextStreamReader({"path": corpus_path, "batchlines": 5})
    reader.commit({"line": 10})
    assert reader.latestOffset()["line"] >= 10


def test_stream_checkpoint_restart_never_duplicates(corpus_path):
    # Simulate the exact restart sequence Spark drives: a fresh reader
    # (planning state reset to 0) whose FIRST latestOffset() is called
    # before it has seen the checkpointed start offset. Lines 0..10 were
    # committed by the previous incarnation; the restarted query must
    # deliver exactly lines 10..EOF — no duplicates, no losses.
    n = len(SYSLOG_CORPUS)
    committed = 10
    reader = SyslogTextStreamReader({"path": corpus_path, "batchlines": 5})

    # Spark: latestOffset() first — a naive reader answers 5 (< committed).
    end0 = reader.latestOffset()["line"]
    # Spark: partitions(checkpointed_start, that_end) — possibly regressing.
    (part0,) = reader.partitions({"line": committed}, {"line": end0})
    first_batch = list(reader.read(part0))
    assert first_batch == []  # the regressing batch must plan EMPTY

    # Subsequent planning: Spark chains from the regressed end (5), the
    # worst case — without the floor clamp this batch would re-deliver
    # the committed lines 5..10.
    got = []
    prev = end0
    while True:
        nxt = reader.latestOffset()["line"]
        if nxt == prev:
            break
        (part,) = reader.partitions({"line": prev}, {"line": nxt})
        got.extend(reader.read(part))
        reader.commit({"line": nxt})
        prev = nxt
    assert got == expected_rows()[committed:]
    assert prev == n
