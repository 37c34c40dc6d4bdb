"""Seeded syslog corpus and the load generator that sends it.

The corpus mixes RFC 5424, RFC 3164 and unparseable lines. Each line's
length is drawn from the lengths of the lines in ``SYSLOG_CORPUS``, so the
mix carries the same share of non-ASCII and >8 KB lines as the fixture
corpus. Every line holds its sequence number (``seq=<n>``), which is also
its position in the send order; the checker uses it to find each line in
the sink. No line is empty and none contains a line break.

Run as a process, the generator is the benchmark's one client: one thread,
one TCP connection. It reads commands from stdin and answers on stdout:

    burst <start> <n>   send lines [start, start+n) as fast as the socket
                        accepts; every line is due when the burst starts
    paced <start> <n> <rate>
                        open loop: line start+i is due at t0 + i / rate
    quit

Each send command answers ``done <path>`` once the last line is handed to
the socket; ``<path>`` holds, per sent line, the due time and the time its
chunk was handed to the socket, then the time the last send returned
(epoch seconds, float64).

    python3 perfbench/gen.py --seed 1 --host 127.0.0.1 --port 5514 --out DIR
"""

from __future__ import annotations

import argparse
import os
import random
import socket
import sys
import time
from array import array

# Lengths (in characters) of the fixture corpus lines. Copied rather than
# imported so the generator process needs nothing from the program under
# test; perfbench/tests pin it to the fixture corpus.
CORPUS_LENGTHS = (81, 129, 72, 42, 79, 57, 58, 57, 76, 82, 34, 70, 47, 54, 49, 54, 8240)

_NON_ASCII = "こんにちは世界 naïve café Ünïcödé ß ø 日本語 ✓ "
_ASCII = "abcdefghijklmnopqrstuvwxyz ABCDEFGHIJKLMNOPQRSTUVWXYZ 0123456789 .,:;=/-_()"
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
_HOSTS = ("web01", "db01.example.com", "edge-7", "cron-host", "authsrv", "intl-host")
_APPS = ("nginx", "postgres", "sshd", "CRON", "collector", "su")


def _header(rng: random.Random, seq: int) -> str:
    kind = rng.random()
    host, app = rng.choice(_HOSTS), rng.choice(_APPS)
    if kind < 0.5:  # RFC 5424
        pri = rng.randrange(192)
        ts = (
            f"2024-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}T"
            f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}Z"
        )
        sd = rng.choice(("-", '[ex@32473 iut="3" src="bench"]'))
        return f"<{pri}>1 {ts} {host} {app} {rng.randrange(1, 99999)} ID{rng.randrange(100)} {sd} seq={seq}"
    if kind < 0.85:  # RFC 3164
        pri = rng.randrange(192)
        ts = (
            f"{rng.choice(_MONTHS)} {rng.randrange(1, 29):2d} "
            f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"
        )
        return f"<{pri}>{ts} {host} {app}[{rng.randrange(1, 99999)}]: seq={seq}"
    return rng.choice(
        (
            f"{host} {app}: no pri header seq={seq}",
            f"<999>1 2024-01-01T00:00:00Z {host} {app} - - - pri out of range seq={seq}",
            f"unstructured :: not syslog at all seq={seq}",
        )
    )


# Lines are drawn in blocks of this many from one generator state, so a
# line depends only on (seed, seq) and not on the range asked for.
_BLOCK = 1024


def _line(rng: random.Random, seq: int) -> str:
    head = _header(rng, seq)
    target = rng.choice(CORPUS_LENGTHS)
    alphabet = _NON_ASCII if rng.random() < 1 / len(CORPUS_LENGTHS) else _ASCII
    pad = max(target - len(head) - 1, 1)
    start = rng.randrange(len(alphabet))
    body = (alphabet * (pad // len(alphabet) + 2))[start : start + pad]
    return f"{head} {body}".rstrip() + "."


def make_lines(seed: int, start: int, n: int) -> list[str]:
    """Lines [start, start+n) of the corpus for ``seed``."""
    out: list[str] = []
    for block in range(start // _BLOCK, (start + n - 1) // _BLOCK + 1 if n else 0):
        rng = random.Random(seed * 1_000_003 + block)
        first = block * _BLOCK
        lines = [_line(rng, seq) for seq in range(first, first + _BLOCK)]
        lo, hi = max(start - first, 0), min(start + n - first, _BLOCK)
        out.extend(lines[lo:hi])
    return out


class Sender:
    """One TCP connection and the send log of the lines it has sent."""

    # Lines handed to the socket per send call in a burst.
    CHUNK = 256
    # Seconds between the paced loop's sends.
    TICK = 0.01

    def __init__(self, seed: int, host: str, port: int) -> None:
        self.seed = seed
        self.sock = socket.create_connection((host, port))
        self.due = array("d")
        self.sent = array("d")
        self.end = 0.0

    def _send(self, lines: list[str], due: list[float]) -> None:
        t = time.time()
        self.sock.sendall("".join(line + "\n" for line in lines).encode("utf-8"))
        self.due.extend(due)
        self.sent.extend([t] * len(lines))

    def burst(self, start: int, n: int) -> None:
        lines = make_lines(self.seed, start, n)
        t0 = time.time()
        for i in range(0, n, self.CHUNK):
            chunk = lines[i : i + self.CHUNK]
            self._send(chunk, [t0] * len(chunk))
        self.end = time.time()

    def paced(self, start: int, n: int, rate: float) -> None:
        """Open loop: every TICK seconds, every line whose due time has
        come is sent at once, so a stall delays later lines without
        thinning the schedule; sending per tick rather than per line keeps
        the generator's own wake-ups from competing with the program."""
        lines = make_lines(self.seed, start, n)
        t0 = time.time()
        i = 0
        while i < n:
            now = time.time()
            j = min(n, int((now - t0) * rate) + 1)
            if j > i:
                self._send(lines[i:j], [t0 + k / rate for k in range(i, j)])
                i = j
            time.sleep(max(max(t0 + i / rate, now + self.TICK) - time.time(), 0.0))
        self.end = time.time()

    def dump(self, path: str) -> None:
        with open(path, "wb") as f:
            array("q", [len(self.due)]).tofile(f)
            self.due.tofile(f)
            self.sent.tofile(f)
            array("d", [self.end]).tofile(f)
        self.due, self.sent = array("d"), array("d")

    def close(self) -> None:
        self.sock.close()


def read_log(path: str) -> tuple[array, array, float]:
    """(due, sent, end) as written by :meth:`Sender.dump`."""
    with open(path, "rb") as f:
        n = array("q")
        n.fromfile(f, 1)
        due, sent, end = array("d"), array("d"), array("d")
        due.fromfile(f, n[0])
        sent.fromfile(f, n[0])
        end.fromfile(f, 1)
    return due, sent, end[0]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--host", required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory for the send logs")
    args = ap.parse_args()
    sender = Sender(args.seed, args.host, args.port)
    print("ready", flush=True)
    try:
        for n_cmd, cmd in enumerate(sys.stdin):
            op, *nums = cmd.split()
            if op == "quit":
                break
            if op == "burst":
                sender.burst(int(nums[0]), int(nums[1]))
            elif op == "paced":
                sender.paced(int(nums[0]), int(nums[1]), float(nums[2]))
            else:
                raise ValueError(f"unknown command {cmd!r}")
            path = os.path.join(args.out, f"sendlog-{n_cmd}.bin")
            sender.dump(path)
            print(f"done {path}", flush=True)
    finally:
        sender.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
