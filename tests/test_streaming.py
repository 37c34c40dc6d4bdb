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


def test_line_buffer_drain_keeps_absolute_offsets():
    """take() drains what it serves: served lines are freed but the
    absolute count keeps growing (offsets never shift)."""
    from syslog_kafka_spark.sources.syslog_source import _LineBuffer

    buf = _LineBuffer()
    buf.extend([f"line{i}" for i in range(10)], 7)  # stamped long ago: served
    assert buf.count == 10
    assert buf.take() == ([f"line{i}" for i in range(10)], [7] * 10, 10)
    assert buf.count == 10  # absolute offsets unchanged
    assert buf._lines == [] and buf._micros == []  # memory actually freed
    assert buf.take() == ([], [], 10)  # nothing is served twice

    buf.extend(["line10"], 8)
    assert buf.count == 11
    assert buf.take() == (["line10"], [8], 11)


def _framed(*chunks: bytes, close: bool = True) -> list[str]:
    from syslog_kafka_spark.sources.syslog_source import _Framer, _LineBuffer

    buf = _LineBuffer()
    framer = _Framer(buf)
    for chunk in chunks:
        framer.feed(chunk)
    if close:
        framer.close()
    return buf._lines


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
    reader.initialOffset()  # binds the listener
    return reader, port


def _send(protocol: str, port: int, payload: bytes) -> None:
    if protocol == "tcp":
        with socket.create_connection(("127.0.0.1", port), timeout=5) as s:
            s.sendall(payload)
    else:
        with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
            s.sendto(payload, ("127.0.0.1", port))


def _wait_buffered(reader, n: int) -> None:
    deadline = time.time() + 20
    while (count := reader._listener().count) < n:
        assert time.time() < deadline, f"listener buffered {count} of {n} lines"
        time.sleep(0.01)


def _table(rows):
    """``rows`` as PySpark hands them to the JVM (records_to_arrow_batches),
    as one Arrow table."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

    from syslog_kafka_spark.model import SYSLOG_MESSAGE_SCHEMA
    from syslog_kafka_spark.sources.syslog_source import SyslogDataSource

    batches = records_to_arrow_batches(rows, 10_000, SYSLOG_MESSAGE_SCHEMA, SyslogDataSource({}))
    return pa.Table.from_batches(list(batches), schema=to_arrow_schema(SYSLOG_MESSAGE_SCHEMA))


def _serve(reader, start: dict):
    """Poll read(start) as the planner does until it serves a batch; that
    batch as one Arrow table, and its end offset."""
    deadline = time.time() + 20
    while (got := reader.read(start))[1] == start:
        assert time.time() < deadline, f"nothing served after {start}"
        time.sleep(0.01)
    rows, end = got
    return _table(rows), end


@pytest.mark.parametrize("protocol", ["tcp", "udp"])
def test_listener_frames_the_same_over_tcp_and_udp(protocol):
    reader, port = _live_reader(protocol)
    try:
        start = reader.initialOffset()
        _send(protocol, port, "a\x0cb\u2028c\r\n\nlast".encode())
        _wait_buffered(reader, 2)
        table, end = _serve(reader, start)
        assert table.column("line").to_pylist() == ["a\x0cb\u2028c", "last"]
        assert end == {"epoch": start["epoch"], "index": 2}
    finally:
        reader.stop()


def test_udp_datagram_of_60000_bytes_is_one_line():
    """A datagram is read whole: a 60,000-byte line, longer than
    socketserver's 8,192-byte default read, arrives as one line."""
    reader, port = _live_reader("udp")
    try:
        start = reader.initialOffset()
        line = "".join(chr(ord("a") + i % 26) for i in range(60_000))
        _send("udp", port, line.encode())
        _wait_buffered(reader, 1)
        table, end = _serve(reader, start)
        assert table.column("line").to_pylist() == [line]
        assert end["index"] == 1
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
        _wait_buffered(a, 100)
        table, a_end = _serve(a, a_start)
        assert table.num_rows == 100
    finally:
        a.stop()

    b, port_b = _live_reader("tcp")
    try:
        # an eager sender: all 300 lines arrive before the first poll
        _send("tcp", port_b, "".join(f"{l}\n" for l in _numbered(100, 400)).encode())
        _wait_buffered(b, 300)
        table, b_end = _serve(b, a_end)
        assert table.column("line").to_pylist() == _numbered(100, 400)
        assert b_end == {"epoch": b.initialOffset()["epoch"], "index": 300}
        assert _table(b.readBetweenOffsets(a_start, a_end)).num_rows == 0  # the replayed uncommitted batch
        rows, end = b.read(b_end)
        assert end == b_end and _table(rows).num_rows == 0  # nothing is served twice
        _send("tcp", port_b, "".join(f"{l}\n" for l in _numbered(400, 405)).encode())
        _wait_buffered(b, 305)
        table, end = _serve(b, {"index": 100})  # an offset with no epoch
        assert table.column("line").to_pylist() == _numbered(400, 405) and end["index"] == 305
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
        _wait_buffered(reader, 1)
        after = time.time_ns() // 1000
        table, _ = _serve(reader, start)
        (got,) = table.column("received_ts").cast("int64").to_pylist()
        assert before <= got <= after
    finally:
        reader.stop()
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def _buffered_reader(monkeypatch):
    """A reader over a fresh buffer, with no listener; (buffer, reader)."""
    from syslog_kafka_spark.model import SYSLOG_MESSAGE_SCHEMA
    from syslog_kafka_spark.sources import syslog_source

    buf = syslog_source._LineBuffer()
    reader = syslog_source.SyslogStreamReader(SYSLOG_MESSAGE_SCHEMA, {})
    monkeypatch.setattr(reader, "_buffer", buf)
    return buf, reader


@pytest.mark.parametrize("lines", [SYSLOG_CORPUS, ["héllo wörld", "日本語のログ", "emoji 🚀 \ufffd"], []],
                         ids=["corpus", "non_ascii", "empty"])
def test_arrow_partition_equals_the_tuple_rows(monkeypatch, lines):
    """Differential: the columnar batch read(start) serves equals the
    (line, source, received) tuples the row path yielded, run through
    PySpark's own tuple→Arrow conversion; the batch carries the exact Arrow
    schema, and an empty buffer serves nothing."""
    from datetime import datetime, timedelta, timezone

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

    from syslog_kafka_spark.model import SYSLOG_MESSAGE_SCHEMA
    from syslog_kafka_spark.sources import syslog_source

    buf, reader = _buffered_reader(monkeypatch)
    micros = []
    for i in range(0, len(lines), 4):  # chunks of 4 lines, one stamp each
        chunk, stamp = lines[i : i + 4], 1_700_000_000_000_000 + 1_000_003 * i
        buf.extend(chunk, stamp)
        micros += [stamp] * len(chunk)

    start = reader.initialOffset()
    rows, end = reader.read(start)
    batches = list(rows)
    if not lines:
        assert batches == [] and end == start
        return
    (batch,) = batches
    assert batch.schema == to_arrow_schema(SYSLOG_MESSAGE_SCHEMA)
    assert end == {"epoch": buf.epoch, "index": len(lines)}

    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    tuples = [(l, socket.gethostname(), epoch + timedelta(microseconds=us)) for l, us in zip(lines, micros)]
    want = list(records_to_arrow_batches(iter(tuples), 10_000, SYSLOG_MESSAGE_SCHEMA, syslog_source.SyslogDataSource({})))
    assert batch.to_pylist() == [r for b in want for r in b.to_pylist()]
    assert batch.column("line").to_pylist() == list(lines)


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


def test_run_stream_pins_confs_for_the_query_only(spark, sf_dir):
    """A gate's declared pins reach its query (8 state partitions, no
    trailing no-data batch: one progress entry, not two) through the child
    session it builds on, while the session it was handed reads the same
    confs after the run as before."""
    from syslog_kafka_spark.plans.registry import load_all
    from syslog_kafka_spark.plans.stream_gated import STATE_8_NO_DATA, run_stream, stream_events
    from syslog_kafka_spark.session import child_session

    spec = load_all()["stream_dedup_within_watermark"]
    assert spec.confs == STATE_8_NO_DATA
    before = spark.conf.getAll
    child = child_session(spark, spec.confs)
    assert spec.build(spark, sf_dir).sparkSession is child
    counts = (
        stream_events(child, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .count()
    )
    q = run_stream(counts.writeStream.format("noop").outputMode("append"))
    assert not q.isActive
    progress = q.recentProgress
    assert len(progress) == 1
    assert progress[0]["stateOperators"][0]["numShufflePartitions"] == 8
    assert spark.conf.getAll == before


def _with_children(session, specs) -> list:
    """``session`` and the child sessions that ``specs`` build on (one per
    declared conf set): a leak sweep looks wherever the builds run."""
    from syslog_kafka_spark.session import child_session

    return [session] + [child_session(session, spec.confs) for spec in specs if spec.confs]


_SWEEP_GATES = (
    "stream_sliding_window_agg",
    "stream_state_store_read",
    "stream_foreach_batch_sink",
    "stream_available_now_trigger",
)


def test_stream_gates_leave_no_views_dirs_or_confs(spark, sf_dir):
    """Building and collecting the memory-sink, foreachBatch, state-store
    and AvailableNow gates registers no temp view, leaves nothing under
    the warehouse dir and leaves every session conf as it was, on the
    session handed in and on the child sessions the gates run on. The
    builds start from a fresh child of the shared session, so a conf or
    view that an earlier test left on the shared session cannot hide a
    leak."""
    import os

    from syslog_kafka_spark.plans.registry import load_all

    inventory = load_all()
    sessions = _with_children(spark.newSession(), [inventory[n] for n in _SWEEP_GATES])
    warehouse = os.path.join(os.path.dirname(os.path.dirname(__file__)), "spark-warehouse")

    def temp_views():
        return {(i, t.name) for i, s in enumerate(sessions) for t in s.catalog.listTables() if t.isTemporary}

    def warehouse_entries():
        return {
            os.path.join(root, name)
            for root, dirs, files in os.walk(warehouse)
            for name in dirs + files
        }

    views, entries, confs = temp_views(), warehouse_entries(), [s.conf.getAll for s in sessions]
    for name in _SWEEP_GATES:
        assert inventory[name].build(sessions[0], sf_dir).collect(), name
    assert temp_views() == views
    assert warehouse_entries() - entries == set()
    assert [s.conf.getAll for s in sessions] == confs


def test_batch_builders_leave_no_views_or_functions(spark, sf_dir):
    """Building every non-streaming query whose builder calls spark.sql
    registers no temp view and no temp function, and sets no session conf,
    on the session handed in or on a child session a build runs on. The
    builds start from a fresh child of the shared session, which has its
    own confs, temp views and functions but shares the context, so a view
    or conf that an earlier test left on the shared session cannot hide a
    leak."""
    import inspect

    from syslog_kafka_spark.plans.registry import load_all

    inventory = load_all()
    names = [
        name
        for name, spec in inventory.items()
        if spec.family != "streaming" and "spark.sql(" in inspect.getsource(spec.build)
    ]
    # A floor, so a refactor that hides the calls cannot empty the sweep.
    assert len(names) >= 30, names
    sessions = _with_children(spark.newSession(), [inventory[n] for n in names])

    def temp_views():
        return {(i, t.name) for i, s in enumerate(sessions) for t in s.catalog.listTables() if t.isTemporary}

    def temp_functions():
        return {(i, row[0]) for i, s in enumerate(sessions) for row in s.sql("SHOW USER FUNCTIONS").collect()}

    views, functions, confs = temp_views(), temp_functions(), [s.conf.getAll for s in sessions]
    for name in names:
        inventory[name].build(sessions[0], sf_dir)
    assert temp_views() == views
    assert temp_functions() == functions
    assert [s.conf.getAll for s in sessions] == confs


def test_no_builder_writes_a_conf_on_the_session_it_is_handed(spark, sf_dir, monkeypatch):
    """Every query that declares confs, and the four sweep gates, build
    and collect on a session whose conf.set and conf.unset raise: a
    declared conf is set once on the query's child session, never on the
    session a caller hands in."""
    from syslog_kafka_spark.plans.registry import load_all

    def refuse(*args):
        raise AssertionError(f"conf written on the handed session: {args}")

    inventory = load_all()
    names = [name for name, spec in inventory.items() if spec.confs]
    # A floor: the 25 pinned streaming gates plus scan_agg_pushdown and
    # scalar_sql_scripting.
    assert len(names) >= 27, names
    names += [name for name in _SWEEP_GATES if name not in names]
    before = spark.conf.getAll
    monkeypatch.setattr(spark.conf, "set", refuse)
    monkeypatch.setattr(spark.conf, "unset", refuse)
    for name in names:
        inventory[name].build(spark, sf_dir).collect()
    assert spark.conf.getAll == before


# Five queries with five different declared conf sets.
_CONCURRENT = (
    "stream_sliding_window_agg",
    "stream_stream_join_agg",
    "stream_bpe_merge_candidates",
    "scan_agg_pushdown",
    "scalar_sql_scripting",
)


def test_builders_with_different_confs_agree_on_threads(spark, sf_dir):
    """The five queries give the same rows when built on five threads
    against one shared session as when built one after another, and the
    session's confs are unchanged: each runs on its own child session, so
    no build sees another's pins. A race cannot be made to strike on every
    run, so this checks outcomes over whatever interleaving the run gets."""
    from concurrent.futures import ThreadPoolExecutor

    from scripts.driver_sim import canon_rows
    from syslog_kafka_spark.plans.registry import load_all

    inventory = load_all()
    assert len({frozenset(inventory[n].confs.items()) for n in _CONCURRENT}) == len(_CONCURRENT)

    def rows(name):
        return canon_rows(inventory[name].build(spark, sf_dir).toPandas())

    before = spark.conf.getAll
    serial = {name: rows(name) for name in _CONCURRENT}
    with ThreadPoolExecutor(len(_CONCURRENT)) as pool:
        threaded = dict(zip(_CONCURRENT, pool.map(rows, _CONCURRENT, timeout=600)))
    assert threaded == serial
    assert spark.conf.getAll == before


def test_child_session_is_one_per_conf_set_under_threads(spark):
    """Sixteen threads asking at once for the child of one conf set all
    get the same child, which carries the conf: the memo's check-then-make
    runs under its lock."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from syslog_kafka_spark.session import child_session, parent_session

    confs = {"spark.sql.shuffle.partitions": "7"}  # a set no query declares
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            children = list(pool.map(lambda _: child_session(spark, confs), range(64), timeout=120))
    finally:
        sys.setswitchinterval(interval)
    assert len({id(child) for child in children}) == 1
    assert children[0].conf.get("spark.sql.shuffle.partitions") == "7"
    # asked of a child, child_session makes a sibling: one family, one parent
    sibling = child_session(children[0], {"spark.sql.shuffle.partitions": "5"})
    assert parent_session(sibling) is parent_session(children[0]) is spark
    assert child_session(sibling, confs) is children[0]


def test_tcp_stop_frees_the_port_and_ends_open_connections():
    """stop() ends a client connection that is still open, so lines sent
    after it never reach the dropped buffer, and frees the port for a new
    listener at once."""
    from syslog_kafka_spark.model import SYSLOG_MESSAGE_SCHEMA
    from syslog_kafka_spark.sources.syslog_source import SyslogStreamReader

    reader, port = _live_reader("tcp")
    buffer = reader._listener()
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
    assert buffer.count == 1

    again = SyslogStreamReader(
        SYSLOG_MESSAGE_SCHEMA, {"host": "127.0.0.1", "port": str(port), "protocol": "tcp"}
    )
    try:
        again.initialOffset()  # binds the same port
    finally:
        again.stop()


def test_read_serves_a_batch_when_the_sender_is_quiet_or_the_oldest_line_lingered(monkeypatch):
    """The batch rule, through PySpark's own wrapper (the planner's
    latestOffset → read(start) → prefetch cache): young lines from a busy
    sender wait; every pending line is served once the newest is QUIET old
    or the oldest LINGER old; a read that serves rows always advances."""
    from pyspark.sql.datasource_internal import _SimpleStreamReaderWrapper

    from syslog_kafka_spark.sources import syslog_source

    buf, reader = _buffered_reader(monkeypatch)
    planner = _SimpleStreamReaderWrapper(reader)
    now = time.time_ns() // 1000
    second = 1_000_000

    def lines_between(start, end):
        return _table(planner.getCache(start, end)).column("line").to_pylist()

    start = planner.initialOffset()
    assert planner.latestOffset() == start  # nothing buffered

    # young lines, busy sender: served by neither rule
    monkeypatch.setattr(syslog_source, "QUIET", 3600.0)
    monkeypatch.setattr(syslog_source, "LINGER", 3600.0)
    buf.extend(["a", "b"], now)
    assert planner.latestOffset() == start
    assert buf.count == 2 and buf._lines == ["a", "b"]

    # the oldest lingered: all pending lines, the young ones too
    monkeypatch.setattr(syslog_source, "LINGER", 2.0)
    buf._micros[:] = [now - 3 * second] * 2
    buf.extend(["c"], now)
    end = planner.latestOffset()
    assert end == {"epoch": buf.epoch, "index": 3}
    assert lines_between(start, end) == ["a", "b", "c"] and buf._lines == []

    # the sender went quiet: served though no line lingered
    monkeypatch.setattr(syslog_source, "QUIET", 1.0)
    monkeypatch.setattr(syslog_source, "LINGER", 3600.0)
    buf.extend(["d", "e"], now - 2 * second)
    nxt = planner.latestOffset()
    assert nxt == {"epoch": buf.epoch, "index": 5}
    assert lines_between(end, nxt) == ["d", "e"]
    assert lines_between(start, nxt) == ["a", "b", "c", "d", "e"]  # both cached batches

    # with the real constants, lines stamped long ago are served at once
    monkeypatch.undo()
    monkeypatch.setattr(reader, "_buffer", buf)
    buf.extend(["f"], now - int(2 * syslog_source.LINGER * second))
    assert planner.latestOffset()["index"] == 6


def test_read_between_offsets_never_touches_a_listener(monkeypatch):
    """The executor path: a cache miss replays a batch of a dead listener,
    whose lines died with it; it reads nothing and binds no socket."""
    from syslog_kafka_spark.model import SYSLOG_MESSAGE_SCHEMA
    from syslog_kafka_spark.sources import syslog_source

    def no_listener():
        raise AssertionError("readBetweenOffsets bound a listener")

    reader = syslog_source.SyslogStreamReader(SYSLOG_MESSAGE_SCHEMA, {})
    monkeypatch.setattr(reader, "_listener", no_listener)
    rows = reader.readBetweenOffsets({"epoch": "dead", "index": 0}, {"epoch": "dead", "index": 100})
    assert _table(rows).num_rows == 0


def test_full_buffer_waits_for_tcp_drops_for_udp_and_wakes_on_close(monkeypatch):
    """At MAX_PENDING_LINES a waiting (TCP) extend blocks until take()
    drains the buffer, a non-waiting (UDP) one drops the datagram and
    counts it, and close() wakes a blocked extend without appending."""
    import threading

    from syslog_kafka_spark.sources import syslog_source

    monkeypatch.setattr(syslog_source, "MAX_PENDING_LINES", 3)
    buf = syslog_source._LineBuffer()
    buf.extend(["a", "b", "c", "d"], 1)  # one chunk alone over the bound fills an empty buffer
    buf.extend(["e"], 1, wait=False)
    assert (buf.count, buf.dropped) == (4, 1)

    blocked = threading.Thread(target=buf.extend, args=(["e"], 1))
    blocked.start()
    blocked.join(0.2)
    assert blocked.is_alive() and buf.count == 4
    assert buf.take()[0] == ["a", "b", "c", "d"]
    blocked.join(5)
    assert not blocked.is_alive() and buf.take()[0] == ["e"]

    buf.extend(["f", "g", "h"], 1)
    blocked = threading.Thread(target=buf.extend, args=(["i"], 1))
    blocked.start()
    blocked.join(0.2)
    assert blocked.is_alive()
    buf.close()
    blocked.join(5)
    assert not blocked.is_alive() and buf.count == 8


def test_line_buffer_under_concurrent_handlers_loses_and_repeats_no_line(monkeypatch):
    """Stress: more handler threads than cores extend a small bounded
    buffer while one reader takes from it, with a short switch interval;
    every line is taken exactly once and ``count`` matches."""
    import sys
    import threading

    from syslog_kafka_spark.sources import syslog_source

    monkeypatch.setattr(syslog_source, "MAX_PENDING_LINES", 50)
    monkeypatch.setattr(syslog_source, "QUIET", 0.0)
    buf = syslog_source._LineBuffer()
    writers, chunks = 8, 200

    def write(w: int) -> None:
        for c in range(chunks):
            buf.extend([f"{w}:{c}:{i}" for i in range(7)], 1)

    taken: list[str] = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=write, args=(w,), daemon=True) for w in range(writers)]
        for t in threads:
            t.start()
        deadline = time.time() + 60
        while len(taken) < writers * chunks * 7:
            assert time.time() < deadline, f"{len(taken)} lines taken"
            lines, _, count = buf.take()
            assert len(lines) <= 50 and count >= len(taken) + len(lines)
            taken += lines
        for t in threads:
            t.join(5)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    want = [f"{w}:{c}:{i}" for w in range(writers) for c in range(chunks) for i in range(7)]
    assert sorted(taken) == sorted(want) and buf.count == len(want)


def test_tcp_sender_stalls_at_the_bound_and_every_line_arrives_once(monkeypatch):
    """With no reads, a TCP sender stalls once the pending lines reach
    MAX_PENDING_LINES and the kernel buffers fill: the listener holds no
    more than the bound. Once reads resume, every line arrives exactly
    once, in order."""
    import threading

    from syslog_kafka_spark.sources import syslog_source

    monkeypatch.setattr(syslog_source, "MAX_PENDING_LINES", 200)
    # more bytes than loopback's socket buffers hold (32 MB receive, 4 MB
    # send at most), so the sender must stall
    total, pad = 48_000, "x" * 1000
    reader, port = _live_reader("tcp")
    buf = reader._listener()
    done = threading.Event()

    def send() -> None:
        with socket.create_connection(("127.0.0.1", port), timeout=60) as s:
            for lo in range(0, total, 500):
                s.sendall("".join(f"{i:06d} {pad}\n" for i in range(lo, lo + 500)).encode())
        done.set()

    sender = threading.Thread(target=send, daemon=True)
    sender.start()
    try:
        last, stable_since, deadline = -1, time.time(), time.time() + 30
        while time.time() - stable_since < 0.5:  # wait for the stall
            assert time.time() < deadline and not done.is_set(), "the sender never stalled"
            if buf.count != last:
                last, stable_since = buf.count, time.time()
            time.sleep(0.05)
        assert 0 < buf.count <= 200 and not done.is_set()

        monkeypatch.setattr(syslog_source, "QUIET", 0.0)  # serve at every read
        start, seen, deadline = reader.initialOffset(), 0, time.time() + 60
        while seen < total:
            assert time.time() < deadline, f"{seen} of {total} lines arrived"
            rows, end = reader.read(start)
            for batch in rows:
                assert batch.num_rows <= 200
                for line in batch.column("line").to_pylist():
                    assert line == f"{seen:06d} {pad}"
                    seen += 1
            assert end["index"] == seen
            start = end
        assert done.wait(10) and buf.count == total
        assert reader.read(start)[1] == start  # nothing more
    finally:
        reader.stop()
        sender.join(10)


def _wait_port(port: int, listening: bool) -> None:
    """Block until a connection to ``port`` succeeds (or is refused)."""
    deadline = time.time() + 60
    while True:
        try:
            socket.create_connection(("127.0.0.1", port), timeout=1).close()
            up = True
        except ConnectionRefusedError:
            up = False
        if up == listening:
            return
        assert time.time() < deadline, f"port {port} listening={up} after 60 s"
        time.sleep(0.05)


def test_listener_binds_at_the_first_offset_call_and_stop_frees_the_port():
    """The bind window of the delivery contract: a constructed reader
    refuses connections until its first offset call binds the listener,
    and stop() frees the port again."""
    from syslog_kafka_spark.model import SYSLOG_MESSAGE_SCHEMA
    from syslog_kafka_spark.sources.syslog_source import SyslogStreamReader

    port = _free_port("tcp")
    reader = SyslogStreamReader(
        SYSLOG_MESSAGE_SCHEMA, {"host": "127.0.0.1", "port": str(port), "protocol": "tcp"}
    )
    _wait_port(port, listening=False)
    try:
        reader.initialOffset()
        _wait_port(port, listening=True)
    finally:
        reader.stop()
    _wait_port(port, listening=False)


def _ingest(spark, port: int, work):
    from syslog_kafka_spark.streaming.pipeline import run_syslog_ingest

    query = run_syslog_ingest(
        spark, host="127.0.0.1", port=port, protocol="tcp", topic="t", brokers=None,
        checkpoint=str(work / "checkpoint"), output_path=str(work / "sink"),
    )
    _wait_port(port, listening=True)
    return query


def _sink_lines(work) -> list[str]:
    from perfbench.check import read_sink_values

    return [v.decode() for v in read_sink_values(str(work / "sink"))]


def _wait_sink(work, done) -> list[str]:
    deadline = time.time() + 60
    while not done(lines := _sink_lines(work)):
        assert time.time() < deadline, f"sink holds {len(lines)} lines after 60 s"
        time.sleep(0.2)
    return lines


def test_query_restart_on_the_same_checkpoint_and_port_delivers_each_line_once(spark, tmp_path):
    """Clean restart through run_syslog_ingest: 100 lines committed, stop,
    restart on the same checkpoint and port, 300 more lines: the sink holds
    all 400, each once."""
    port = _free_port("tcp")
    query = _ingest(spark, port, tmp_path)
    try:
        _send("tcp", port, "".join(f"{l}\n" for l in _numbered(0, 100)).encode())
        _wait_sink(tmp_path, lambda lines: len(lines) >= 100)
    finally:
        query.stop()
    _wait_port(port, listening=False)

    query = _ingest(spark, port, tmp_path)
    try:
        _send("tcp", port, "".join(f"{l}\n" for l in _numbered(100, 400)).encode())
        lines = _wait_sink(tmp_path, lambda lines: len(lines) >= 400)
    finally:
        query.stop()
    assert sorted(lines) == sorted(_numbered(0, 400))


def test_query_stopped_mid_burst_restarts_without_duplicates(spark, tmp_path):
    """Stop a query while a sender streams into it, then restart it on the
    same checkpoint and port: lines of the dead listener may be lost, but
    none arrives twice, and every line sent after the restart arrives."""
    import threading

    port = _free_port("tcp")
    stop_sending = threading.Event()

    def stream() -> None:
        try:
            with socket.create_connection(("127.0.0.1", port), timeout=5) as s:
                for lo in range(0, 1_000_000, 50):
                    if stop_sending.is_set():
                        return
                    s.sendall("".join(f"{l}\n" for l in _numbered(lo, lo + 50)).encode())
                    time.sleep(0.01)
        except OSError:  # the stopped listener closed the connection
            pass

    query = _ingest(spark, port, tmp_path)
    sender = threading.Thread(target=stream, daemon=True)
    try:
        sender.start()
        _wait_sink(tmp_path, lambda lines: len(lines) > 0)
    finally:
        query.stop()
        stop_sending.set()
        sender.join(10)
    _wait_port(port, listening=False)
    before = _sink_lines(tmp_path)

    query = _ingest(spark, port, tmp_path)
    new = [f"after restart #{i}" for i in range(300)]
    try:
        _send("tcp", port, "".join(f"{l}\n" for l in new).encode())
        lines = _wait_sink(tmp_path, lambda lines: len(lines) >= len(before) + 300)
    finally:
        query.stop()
    assert len(lines) == len(set(lines)), "a line arrived twice"
    assert sorted(set(lines) - set(before)) == sorted(new)


def test_query_stop_frees_the_port_and_ends_open_connections(spark, tmp_path):
    """query.stop() ends the planner process that owns the listener (PySpark
    does not forward stop() to a simple reader): the port stops listening
    and a client connection that is still open reads EOF."""
    port = _free_port("tcp")
    query = _ingest(spark, port, tmp_path)
    with socket.create_connection(("127.0.0.1", port), timeout=30) as client:
        try:
            client.sendall(b"before stop\n")
            _wait_sink(tmp_path, lambda lines: lines == ["before stop"])
        finally:
            query.stop()
        try:
            assert client.recv(1) == b""
        except ConnectionResetError:
            pass
    _wait_port(port, listening=False)
