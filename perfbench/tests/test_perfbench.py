"""The benchmark's own tests: corpus and sender, checkers, statistics and
spans. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import socket
import subprocess
import sys
import threading

import pytest

from perfbench import gen
from perfbench.check import IngestExpect, check_ingest
from perfbench.stats import TooFewSamples, median, percentile
from perfbench.trace import Tracer

SCHEMA_ID = 42
TAGS = {"dc": "bench-1", "env": "perf"}


def test_corpus_lengths_follow_fixture_corpus():
    from syslog_kafka_spark.sources.syslog_fixtures import SYSLOG_CORPUS

    assert gen.CORPUS_LENGTHS == tuple(len(line) for line in SYSLOG_CORPUS)


def test_generator_is_deterministic_per_seed():
    a = gen.make_lines(7, 0, 3000)
    assert a == gen.make_lines(7, 0, 3000)
    assert a != gen.make_lines(8, 0, 3000)
    # a line depends on (seed, seq) only, not on the range asked for
    assert gen.make_lines(7, 1500, 700) == a[1500:2200]
    assert gen.make_lines(7, 5, 0) == []


def test_corpus_mix():
    lines = gen.make_lines(3, 0, 20_000)
    assert all(line and "\n" not in line and "\r" not in line for line in lines)
    assert all(f"seq={i} " in line or line.endswith(f"seq={i}.") for i, line in enumerate(lines))
    assert sum(len(line) > 8192 for line in lines) > 0.03 * len(lines)
    assert sum(not line.isascii() for line in lines) > 0.03 * len(lines)
    n5424 = sum(line.startswith("<") and line.split(" ")[0].endswith(">1") for line in lines)
    unparseable = sum(not line.startswith("<") or line.startswith("<999>") for line in lines)
    assert 0.4 < n5424 / len(lines) < 0.6
    assert 0.1 < unparseable / len(lines) < 0.2


def _serve_once(server: socket.socket, into: list[bytes]) -> None:
    conn, _ = server.accept()
    with conn:
        while chunk := conn.recv(1 << 16):
            into.append(chunk)


def test_sender_process_sends_the_corpus(tmp_path):
    server = socket.create_server(("127.0.0.1", 0))
    received: list[bytes] = []
    t = threading.Thread(target=_serve_once, args=(server, received))
    t.start()
    here = os.path.dirname(os.path.dirname(os.path.abspath(gen.__file__)))
    proc = subprocess.Popen(
        [sys.executable, os.path.join(here, "perfbench", "gen.py"), "--seed", "5", "--host", "127.0.0.1",
         "--port", str(server.getsockname()[1]), "--out", str(tmp_path)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        out, _ = proc.communicate("burst 0 300\npaced 300 200 2000\nquit\n", timeout=60)
    finally:
        t.join(timeout=10)
        server.close()
    assert not t.is_alive() and proc.returncode == 0
    replies = out.split("\n")
    assert replies[0] == "ready" and replies[1].startswith("done ") and replies[2].startswith("done ")
    assert b"".join(received).decode().split("\n")[:-1] == gen.make_lines(5, 0, 500)
    due, sent, end = gen.read_log(replies[2].split()[1])
    assert len(due) == len(sent) == 200
    assert list(due) == sorted(due) and due[-1] - due[0] == pytest.approx(199 / 2000)
    assert all(s >= d - 1e-6 for d, s in zip(due, sent)) and end >= sent[-1]


def _avro_case(n: int = 50):
    from syslog_kafka_spark.encode.avro_binary import encode_logline_confluent

    lines = gen.make_lines(11, 0, n)
    received = 1_700_000_000_500
    values = [
        encode_logline_confluent(
            {"line": line, "source": "host-a", "tag": TAGS, "logtypeid": 7,
             "timings": [{"eventName": "received", "value": received}]},
            SCHEMA_ID,
        )
        for line in lines
    ]
    exp = IngestExpect(lines=lines, encoding="avro", source="host-a", schema_id=SCHEMA_ID, tags=TAGS,
                       logtypeid=7, sent_ms=[received - 10] * n, commit_ms=[received + 10] * n)
    return values, exp


def test_checker_accepts_exact_output():
    values, exp = _avro_case()
    v = check_ingest(values[::-1], exp)
    assert (v.failed, v.rows) == (0, len(values))


def test_checker_flags_dropped_line():
    values, exp = _avro_case()
    v = check_ingest(values[:10] + values[11:], exp)
    assert (v.missing, v.duplicated, v.misencoded) == (1, 0, 0)


def test_checker_flags_duplicated_line():
    values, exp = _avro_case()
    v = check_ingest(values + [values[3]], exp)
    assert (v.missing, v.duplicated, v.misencoded) == (0, 1, 0)


@pytest.mark.parametrize("where", ["line", "source", "tail"])
def test_checker_flags_flipped_byte(where):
    values, exp = _avro_case()
    v = bytearray(values[4])
    pos = {"line": v.index(b"seq=4") - 3, "source": v.index(b"host-a"), "tail": len(v) - 1}[where]
    v[pos] ^= 0x01
    assert check_ingest(values[:4] + [bytes(v)] + values[5:], exp).failed >= 1


def test_checker_flags_received_outside_send_and_commit():
    values, exp = _avro_case()
    exp.commit_ms[2] = exp.sent_ms[2] + 5  # committed before it was received
    assert check_ingest(values, exp).misencoded == 1


def test_string_checker():
    lines = gen.make_lines(2, 0, 30)
    exp = IngestExpect(lines=lines, encoding="string")
    values = [line.encode() for line in lines]
    assert check_ingest(values, exp).failed == 0
    flipped = bytearray(values[7])
    flipped[0] ^= 0x20
    assert check_ingest(values[:7] + [bytes(flipped)] + values[8:], exp).misencoded == 1
    assert check_ingest(values[1:], exp).missing == 1


def test_percentile_refuses_thin_tails():
    values = list(range(1000))
    assert percentile(values, 99) == 989
    assert percentile(values[:20], 50) == 9
    with pytest.raises(TooFewSamples):
        percentile(values[:999], 99)
    with pytest.raises(TooFewSamples):
        percentile(values[:19], 50)
    assert median([5.0, 1.0, 3.0, 2.0]) == 2.5


def test_self_time_subtracts_covered_children():
    t = Tracer(True)
    root = t.add("batch", 0.0, 10.0)
    t.add("a", 1.0, 4.0, parent=root)
    t.add("b", 3.0, 6.0, parent=root)  # overlaps a: covered is 1..6
    spans = {s["name"]: s for s in t.with_self_time()}
    assert spans["batch"]["self_s"] == pytest.approx(5.0)
    assert spans["a"]["self_s"] == pytest.approx(3.0)
