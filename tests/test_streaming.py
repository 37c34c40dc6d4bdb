"""Streaming semantics tests: file-replay microbatches with memory sinks
(SURVEY §5.4) plus a live TCP/UDP round-trip through the custom syslog
data source."""

from __future__ import annotations

import socket
import time
import uuid

import pyspark.sql.functions as F
import pytest

from syslog_kafka_spark.sources.syslog_fixtures import SYSLOG_CORPUS
from syslog_kafka_spark.streaming.pipeline import parsed_messages


def _replay_stream(spark, tmp_path, lines):
    """File-source replay: write lines, stream-read them back."""
    d = tmp_path / "replay"
    d.mkdir()
    (d / "part-0.txt").write_text("\n".join(lines) + "\n")
    raw = spark.readStream.text(str(d))
    return raw.select(
        F.col("value").alias("line"),
        F.lit("test-collector").alias("source"),
        F.current_timestamp().alias("received_ts"),
    )


def _run_to_memory(df, name, mode="append"):
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    return name


def test_file_replay_parse_counts(spark, tmp_path):
    messages = _replay_stream(spark, tmp_path, SYSLOG_CORPUS)
    name = _run_to_memory(parsed_messages(messages), f"t{uuid.uuid4().hex[:8]}")
    out = spark.sql(f"SELECT * FROM {name}").collect()
    assert len(out) == len(SYSLOG_CORPUS)
    parsed_ok = [r for r in out if r.pri is not None]
    assert len(parsed_ok) == 13  # corpus has 4 unparseable lines
    assert all(r.source == "test-collector" for r in out)


def test_foreach_batch_collects(spark, tmp_path):
    seen: list[int] = []
    messages = _replay_stream(spark, tmp_path, SYSLOG_CORPUS[:5])
    q = (
        messages.writeStream.foreachBatch(lambda df, epoch: seen.append(df.count()))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sum(seen) == 5


def test_line_buffer_commit_trims_with_absolute_offsets():
    """commit() low-water-mark trimming: committed prefixes are freed but
    absolute offsets keep working (no index shift for in-flight batches)."""
    from syslog_kafka_spark.sources.syslog_source import _LineBuffer

    buf = _LineBuffer()
    buf.extend([f"line{i}" for i in range(10)], 7)
    assert buf.snapshot_len() == 10
    assert buf.range(3, 6) == (["line3", "line4", "line5"], [7, 7, 7])

    buf.truncate_to(6)  # batches [0,6) committed
    assert buf.snapshot_len() == 10  # absolute offsets unchanged
    assert buf.range(6, 10)[0] == [f"line{i}" for i in range(6, 10)]
    assert buf.range(0, 6) == ([], [])  # committed prefix is gone
    assert len(buf._lines) == 4 and len(buf._micros) == 4  # memory actually freed

    buf.extend(["line10"], 8)
    assert buf.snapshot_len() == 11
    assert buf.range(10, 11) == (["line10"], [8])
    # idempotent / stale commits are safe
    buf.truncate_to(3)
    assert buf.snapshot_len() == 11
    buf.truncate_to(11)
    assert buf.snapshot_len() == 11 and buf.range(0, 11) == ([], [])


def _framed(*chunks: bytes, close: bool = True) -> list[str]:
    from syslog_kafka_spark.sources.syslog_source import _Framer, _LineBuffer

    buf = _LineBuffer()
    framer = _Framer(buf)
    for chunk in chunks:
        framer.feed(chunk)
    if close:
        framer.close()
    return buf.range(0, buf.snapshot_len())[0]


def test_framer_splits_on_newline_only():
    """One framer for TCP and UDP, with bufio.Scanner's line rules: split on
    "\\n" only, strip one trailing "\\r", drop empty lines, decode after
    splitting, flush an unterminated last line on close."""
    odd = "a\x0bb\x0cc\x1cd\x1de\x1ef\x85g\u2028h\u2029i"  # str.splitlines() breaks these
    assert _framed(odd.encode() + b"\n") == [odd]
    assert _framed(b"one\r\ntwo\r\n", b"x\r\r\n") == ["one", "two", "x\r"]
    assert _framed(b"\n\n\r\nx\n\n\r\n") == ["x"]
    assert _framed(b"hel", b"lo\nwor", b"ld\n") == ["hello", "world"]
    euro = "€".encode()  # 3 bytes, cut after the second
    assert _framed(b"price " + euro[:2], euro[2:] + b" 5\n") == ["price € 5"]
    assert _framed(b"bad \xff\xfe end\n") == ["bad \ufffd\ufffd end"]
    assert _framed(b"done\nlast", close=False) == ["done"]
    assert _framed(b"done\nlast") == ["done", "last"]
    assert _framed(b"last\r") == ["last"]


def _free_port(protocol: str) -> int:
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM if protocol == "tcp" else socket.SOCK_DGRAM) as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _live_reader(protocol: str):
    """A reader whose listener is bound on a free port; (reader, port)."""
    from syslog_kafka_spark.model import SYSLOG_MESSAGE_SCHEMA
    from syslog_kafka_spark.sources.syslog_source import SyslogStreamReader

    port = _free_port(protocol)
    reader = SyslogStreamReader(
        SYSLOG_MESSAGE_SCHEMA, {"host": "127.0.0.1", "port": str(port), "protocol": protocol}
    )
    reader.latestOffset()  # binds the listener
    return reader, port


def _send(protocol: str, port: int, payload: bytes) -> None:
    if protocol == "tcp":
        with socket.create_connection(("127.0.0.1", port), timeout=5) as s:
            s.sendall(payload)
    else:
        with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
            s.sendto(payload, ("127.0.0.1", port))


def _wait_buffered(reader, n: int) -> dict:
    deadline = time.time() + 20
    while (end := reader.latestOffset())["index"] < n:
        assert time.time() < deadline, f"listener buffered {end} of {n} lines"
        time.sleep(0.01)
    return end


def _table(reader, start: dict, end: dict):
    """The rows of partitions(start, end) as the Python worker hands them
    to the JVM (records_to_arrow_batches), as one Arrow table."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

    from syslog_kafka_spark.model import SYSLOG_MESSAGE_SCHEMA
    from syslog_kafka_spark.sources.syslog_source import SyslogDataSource

    (part,) = reader.partitions(start, end)
    batches = records_to_arrow_batches(reader.read(part), 10_000, SYSLOG_MESSAGE_SCHEMA, SyslogDataSource({}))
    return pa.Table.from_batches(list(batches), schema=to_arrow_schema(SYSLOG_MESSAGE_SCHEMA))


@pytest.mark.parametrize("protocol", ["tcp", "udp"])
def test_listener_frames_the_same_over_tcp_and_udp(protocol):
    reader, port = _live_reader(protocol)
    try:
        start = reader.initialOffset()
        _send(protocol, port, "a\x0cb\u2028c\r\n\nlast".encode())
        end = _wait_buffered(reader, 2)
        assert _table(reader, start, end).column("line").to_pylist() == ["a\x0cb\u2028c", "last"]
    finally:
        reader.stop()


def _numbered(lo: int, hi: int) -> list[str]:
    return [f"{SYSLOG_CORPUS[i % len(SYSLOG_CORPUS)]} #{i}" for i in range(lo, hi)]


def test_restart_delivers_every_new_line_once():
    """A restarted query's checkpoint names the old listener's offsets. The
    first batch after the restart must deliver every line the new
    listener buffered, however early it arrived, and a replayed batch of
    the dead listener must deliver nothing (its lines died with it)."""
    a, port_a = _live_reader("tcp")
    try:
        a_start = a.initialOffset()
        _send("tcp", port_a, "".join(f"{l}\n" for l in _numbered(0, 100)).encode())
        a_end = _wait_buffered(a, 100)
        assert _table(a, a_start, a_end).num_rows == 100
        a.commit(a_end)
    finally:
        a.stop()

    b, port_b = _live_reader("tcp")
    try:
        # an eager sender: all 300 lines arrive before the first poll
        _send("tcp", port_b, "".join(f"{l}\n" for l in _numbered(100, 400)).encode())
        b_end = _wait_buffered(b, 300)
        assert _table(b, a_end, b_end).column("line").to_pylist() == _numbered(100, 400)
        assert _table(b, {"index": 100}, b_end).num_rows == 300  # an offset with no epoch
        assert _table(b, a_start, a_end).num_rows == 0  # the replayed uncommitted batch
        b.commit(a_end)  # a foreign commit trims nothing
        assert _table(b, a_end, b_end).num_rows == 300
        b.commit(b_end)
        assert _table(b, b_end, b.latestOffset()).num_rows == 0
    finally:
        b.stop()


def test_received_ts_is_the_stamped_instant_in_any_local_zone():
    """received_ts is the arrival instant whatever the worker's local time
    zone: a naive wall-clock value would be shifted by the zone offset."""
    import os

    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    reader, port = _live_reader("tcp")
    try:
        start = reader.initialOffset()
        before = time.time_ns() // 1000
        _send("tcp", port, b"<13>Aug 13 03:38:00 web01 nginx[912]: zoned\n")
        end = _wait_buffered(reader, 1)
        after = time.time_ns() // 1000
        (got,) = _table(reader, start, end).column("received_ts").cast("int64").to_pylist()
        assert before <= got <= after
        assert [got] == reader._listener().range(0, 1)[1]
    finally:
        reader.stop()
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


@pytest.mark.parametrize("lines", [SYSLOG_CORPUS, ["héllo wörld", "日本語のログ", "emoji 🚀 \ufffd"], []],
                         ids=["corpus", "non_ascii", "empty"])
def test_arrow_partition_equals_the_tuple_rows(monkeypatch, lines):
    """Differential: the columnar partition equals the (line, source,
    received) tuples the row path yielded, run through PySpark's own
    tuple→Arrow conversion; the batch carries the exact Arrow schema."""
    from datetime import datetime, timedelta, timezone

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

    from syslog_kafka_spark.model import SYSLOG_MESSAGE_SCHEMA
    from syslog_kafka_spark.sources import syslog_source

    buf = syslog_source._LineBuffer()
    for i in range(0, len(lines), 4):  # chunks of 4 lines, one stamp each
        buf.extend(lines[i : i + 4], 1_700_000_000_000_000 + 1_000_003 * i)
    monkeypatch.setattr(syslog_source, "_get_listener", lambda *endpoint: (None, buf))
    reader = syslog_source.SyslogStreamReader(SYSLOG_MESSAGE_SCHEMA, {})

    (part,) = reader.partitions(reader.initialOffset(), reader.latestOffset())
    (batch,) = reader.read(part)
    assert batch.schema == to_arrow_schema(SYSLOG_MESSAGE_SCHEMA)

    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    got_lines, got_micros = buf.range(0, len(lines))
    rows = [(l, socket.gethostname(), epoch + timedelta(microseconds=us)) for l, us in zip(got_lines, got_micros)]
    want = list(records_to_arrow_batches(iter(rows), 10_000, SYSLOG_MESSAGE_SCHEMA, syslog_source.SyslogDataSource({})))
    assert batch.to_pylist() == [r for b in want for r in b.to_pylist()]
    assert got_lines == list(lines)


@pytest.mark.parametrize("protocol", ["tcp", "udp"])
def test_syslog_socket_source_live(spark, tmp_path, protocol):
    """Live round-trip: register the custom source, send real packets,
    assert the rows (R1-R3 parity: arrival stamping, collector hostname)."""
    from syslog_kafka_spark.sources.syslog_source import SyslogDataSource

    import os

    spark.dataSource.register(SyslogDataSource)
    # pid-derived port avoids collisions with lingering listeners from
    # other pytest processes on this machine
    port = 20000 + (os.getpid() % 10000) + (0 if protocol == "tcp" else 1)
    df = (
        spark.readStream.format("syslog")
        .option("host", "127.0.0.1")
        .option("port", str(port))
        .option("protocol", protocol)
        .load()
    )
    name = f"t{uuid.uuid4().hex[:8]}"
    q = df.writeStream.format("memory").queryName(name).start()

    payload = b"<34>1 2003-10-11T22:14:15.003Z h su - ID23 - live line one\n<13>Aug 13 03:38:00 web01 nginx[912]: live line two\n"

    def send() -> bool:
        try:
            if protocol == "tcp":
                with socket.create_connection(("127.0.0.1", port), timeout=5) as s:
                    s.sendall(payload)
            else:
                s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
                s.sendto(payload, ("127.0.0.1", port))
                s.close()
            return True
        except OSError:
            return False  # listener not up yet

    try:
        time.sleep(2)  # listener startup inside the stream reader
        sent = send()
        deadline = time.time() + 45
        rows = []
        while time.time() < deadline:
            q.processAllAvailable()
            # re-sent lines differ only in received_ts; DISTINCT on the
            # stable columns dedups them
            rows = spark.sql(f"SELECT DISTINCT line, source FROM {name}").collect()
            if len(rows) >= 2:
                break
            time.sleep(1.0)
            sent = send() or sent
    finally:
        q.stop()
    assert len(rows) == 2, f"expected 2 rows, got {rows}"
    assert {r.line for r in rows} == {
        "<34>1 2003-10-11T22:14:15.003Z h su - ID23 - live line one",
        "<13>Aug 13 03:38:00 web01 nginx[912]: live line two",
    }
    assert all(r.source == socket.gethostname() for r in rows)
    stamped = spark.sql(f"SELECT received_ts FROM {name}").collect()
    assert stamped and all(r.received_ts is not None for r in stamped)


def test_available_now_trigger_drains_and_stops(spark, tmp_path):
    """Trigger.AvailableNow: process everything present, then stop on its
    own — the batch-draining mode a scheduled backfill job uses (vs the
    always-on microbatch loop)."""
    import time

    messages = _replay_stream(spark, tmp_path, SYSLOG_CORPUS)
    name = f"t{uuid.uuid4().hex[:8]}"
    q = (
        parsed_messages(messages)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + 60
    while q.isActive and time.time() < deadline:
        time.sleep(0.5)
    assert not q.isActive, "availableNow query did not self-terminate"
    assert spark.sql(f"SELECT count(*) AS n FROM {name}").collect()[0].n == len(
        SYSLOG_CORPUS
    )


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Exactly-once across restarts: a file-sink query driven by
    availableNow drains what exists, stops, and — restarted with the SAME
    checkpoint — processes only files that arrived since. The parquet
    output must contain every line exactly once."""
    import time

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("\n".join(SYSLOG_CORPUS[:8]) + "\n")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.text(str(src))
            .select(
                F.col("value").alias("line"),
                F.lit("resume-test").alias("source"),
                F.current_timestamp().alias("received_ts"),
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        deadline = time.time() + 60
        while q.isActive and time.time() < deadline:
            time.sleep(0.5)
        assert not q.isActive

    run_once()
    assert spark.read.parquet(out).count() == 8

    (src / "b.txt").write_text("\n".join(SYSLOG_CORPUS[8:12]) + "\n")
    run_once()

    lines = [r.line for r in spark.read.parquet(out).collect()]
    assert len(lines) == 12, "restart reprocessed or dropped data"
    assert sorted(lines) == sorted(SYSLOG_CORPUS[:12])


def test_watermark_drops_late_rows_across_microbatches(spark, tmp_path):
    """Late-data drop semantics end to end: a row older than the
    watermark, arriving in a LATER microbatch, must be excluded from its
    (already-finalized) window — while an equally-old row in the FIRST
    batch counts. maxFilesPerTrigger=1 pins the file→microbatch mapping;
    the watermark used by batch N is the one committed after batch N-1."""
    src = tmp_path / "late_src"
    src.mkdir()
    # Batch 1: two rows in [10:00,10:10) and one at 11:00 that drags the
    # watermark to 10:45 (11:00 - 15 min) once the batch commits.
    (src / "f1.csv").write_text(
        "2024-03-01 10:00:00,u1\n2024-03-01 10:05:00,u2\n2024-03-01 11:00:00,u3\n"
    )
    raw = (
        spark.readStream.schema("ts TIMESTAMP, user_id STRING")
        .option("maxFilesPerTrigger", "1")
        .csv(str(src))
    )
    agg = (
        raw.withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .count()
    )
    name = f"t{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
        # Batch 2: one LATE row for the finalized [10:00,10:10) window
        # (10:01 < watermark 10:45 → dropped) and one on-time row.
        (src / "f2.csv").write_text(
            "2024-03-01 10:01:00,u4\n2024-03-01 11:10:00,u5\n"
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        r["w"].start.strftime("%H:%M"): r["count"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    # The finalized first window counts only the two on-time rows — the
    # late u4 row did not resurrect or re-emit it.
    assert rows.get("10:00") == 2, rows


def test_stream_cms_state_is_bounded_and_mass_preserving(spark, sf_dir):
    """The streamed sketch holds ≤4×2048 cells regardless of stream
    size, and each of the 4 rows conserves total token mass (every
    token increments exactly one bucket per row)."""
    from syslog_kafka_spark.functions.text import token_count
    from syslog_kafka_spark.plans.stream_gated import stream_cms_sketch_build
    from syslog_kafka_spark.sources.readers import load_tables

    rows = stream_cms_sketch_build(spark, sf_dir).collect()
    assert len(rows) <= 4 * 2048
    n_tokens = (
        load_tables(spark, sf_dir)
        .documents.agg(F.sum(token_count("text")))
        .collect()[0][0]
    )
    for r in range(4):
        assert sum(x.cnt for x in rows if x.r == r) == n_tokens


_DRAIN_CONFS = ("spark.sql.shuffle.partitions", "spark.sql.streaming.noDataMicroBatches.enabled")


def test_run_stream_pins_confs_for_the_query_only(spark, sf_dir):
    """run_stream's pins reach the query (8 state partitions, no trailing
    no-data batch: one progress entry, not two) while the session reads
    the same confs after the call as before it — the query clones the
    session conf at start(), so the pin is scoped to start() alone."""
    from syslog_kafka_spark.plans.stream_gated import run_stream, stream_events

    before = [spark.conf.get(k) for k in _DRAIN_CONFS]
    counts = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .count()
    )
    q = run_stream(
        counts.writeStream.format("noop").outputMode("append"),
        state_partitions=8,
        no_data_batch=False,
    )
    assert not q.isActive
    progress = q.recentProgress
    assert len(progress) == 1
    assert progress[0]["stateOperators"][0]["numShufflePartitions"] == 8
    assert [spark.conf.get(k) for k in _DRAIN_CONFS] == before


def test_stream_gates_leave_no_views_dirs_or_confs(spark, sf_dir):
    """Building and collecting the memory-sink, foreachBatch, state-store
    and AvailableNow gates registers no temp view, leaves nothing under
    the warehouse dir and restores the session confs."""
    import os

    from syslog_kafka_spark.plans.registry import load_all

    warehouse = os.path.join(os.path.dirname(os.path.dirname(__file__)), "spark-warehouse")

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    def warehouse_entries():
        return {
            os.path.join(root, name)
            for root, dirs, files in os.walk(warehouse)
            for name in dirs + files
        }

    inventory = load_all()
    views, entries = temp_views(), warehouse_entries()
    confs = [spark.conf.get(k) for k in _DRAIN_CONFS]
    for name in (
        "stream_sliding_window_agg",
        "stream_state_store_read",
        "stream_foreach_batch_sink",
        "stream_available_now_trigger",
    ):
        assert inventory[name].build(spark, sf_dir).collect(), name
    assert temp_views() == views
    assert warehouse_entries() - entries == set()
    assert [spark.conf.get(k) for k in _DRAIN_CONFS] == confs


def test_batch_builders_leave_no_views_or_functions(spark, sf_dir):
    """Building every non-streaming query whose builder calls spark.sql
    registers no temp view and no temp function. The builds run on a
    child session, which has its own temp views and functions but shares
    the context, so a view that an earlier test left on the shared
    session cannot hide a leak."""
    import inspect

    from syslog_kafka_spark.plans.registry import load_all

    session = spark.newSession()

    def temp_views():
        return {t.name for t in session.catalog.listTables() if t.isTemporary}

    def temp_functions():
        return {row[0] for row in session.sql("SHOW USER FUNCTIONS").collect()}

    inventory = load_all()
    names = [
        name
        for name, spec in inventory.items()
        if spec.family != "streaming" and "spark.sql(" in inspect.getsource(spec.build)
    ]
    # A floor, so a refactor that hides the calls cannot empty the sweep.
    assert len(names) >= 30, names
    views, functions = temp_views(), temp_functions()
    for name in names:
        inventory[name].build(session, sf_dir)
    assert temp_views() == views
    assert temp_functions() == functions


def test_tcp_stop_frees_the_port_and_ends_open_connections():
    """stop() ends a client connection that is still open, so lines sent
    after it never reach the dropped buffer, and frees the port for a new
    listener at once."""
    from syslog_kafka_spark.model import SYSLOG_MESSAGE_SCHEMA
    from syslog_kafka_spark.sources.syslog_source import SyslogStreamReader, _get_listener

    reader, port = _live_reader("tcp")
    _, buffer = _get_listener("tcp", "127.0.0.1", port)
    with socket.create_connection(("127.0.0.1", port), timeout=5) as client:
        client.sendall(b"before stop\n")
        _wait_buffered(reader, 1)
        reader.stop()
        try:
            assert client.recv(1) == b""  # the listener closed the connection
        except ConnectionResetError:
            pass
        for line in (b"after stop 1\n", b"after stop 2\n"):
            try:
                client.sendall(line)
            except OSError:
                break
        time.sleep(0.2)
    assert buffer.snapshot_len() == 1

    again = SyslogStreamReader(
        SYSLOG_MESSAGE_SCHEMA, {"host": "127.0.0.1", "port": str(port), "protocol": "tcp"}
    )
    try:
        again.latestOffset()  # binds the same port
    finally:
        again.stop()
