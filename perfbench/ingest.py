"""The ingest workloads: seeded lines over one TCP connection into
``run_syslog_ingest(..., brokers=None)``, checked in the parquet sink.

Line ``i`` of a run is the ``i``-th line the generator sends, so it is
also the listener's buffer index ``i``, and the source's ``{"index"}``
offsets in the query progress map each line to the microbatch that
committed it.
"""

from __future__ import annotations

import ast
import os
import socket
import subprocess
import sys
import time
from bisect import bisect_right
from contextlib import nullcontext
from datetime import datetime

from perfbench import gen
from perfbench.check import IngestExpect, check_ingest, committed_sink_files, read_sink_values
from perfbench.layers import host_steal, jvm_gc_s, tree_cpu_s
from perfbench.stats import median, percentile

SCHEMA_ID = 42
TAGS = {"dc": "bench-1", "env": "perf"}
LOGTYPEID = 7
BURST_LINES = 25_000
# A burst run sends one timed burst per BURST_SECONDS of its --seconds,
# about the time a burst took, send to commit, on a 4-core virtual
# machine. A fixed number, not as many as fit in the window: CPU per line
# falls from burst to burst (see the warm-ups below), and the number that
# fit swung with the speed of the run.
BURST_SECONDS = 3.0
PACED_RATE = 5000.0
# Query starts per run, for the median that set-up time reports.
SETUP_STARTS = 3
# Before its timed window each query gets a warm-up burst, or seconds of
# paced traffic, sent and committed: the first batches of a fresh query pay
# one-off costs (~1.5 s for the first) that later batches do not, and CPU
# per line falls steeply over the first ~50,000 lines (bursts) or ~14 s
# (paced) while the JVM compiles the hot paths and sizes its heap. With a
# 6 s paced warm-up, CPU per line still fell by ~40% across the timed
# window, and how far it had fallen swung from run to run. On the
# burst workload it keeps falling through the timed window (by ~40% from
# the first timed burst to the fifth), so the run reports totals over a
# fixed number of bursts, the same stretch of that fall in every run.
BURST_WARMUP_LINES = 55_000
PACED_WARMUP_S = 14.0
# Lines the traced run's standalone layer probes encode and parse.
PROBE_LINES = 10_000
COMMIT_TIMEOUT_S = 60.0
# Seconds between reads of the query's progress while waiting for a
# commit. Each read is a call into the JVM whose CPU time counts as the
# program's: reading every 10 ms raised a burst run's CPU per line by ~10%
# (medians of ten runs).
COMMIT_POLL_S = 0.05
LISTEN_TIMEOUT_S = 60.0
# Phases of one microbatch in the order MicroBatchExecution runs them;
# progress reports only their durations, so the traced run lays the phase
# spans out back to back from the batch start.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

WORKLOADS = {"ingest_avro_burst": "avro", "ingest_string_paced": "string"}


class BenchError(RuntimeError):
    pass


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def wait_listening(port: int) -> None:
    """Block until a socket listens on ``port``; reads /proc, so the check
    itself opens no connection to the listener."""
    want = f":{port:04X}"
    deadline = time.time() + LISTEN_TIMEOUT_S
    while time.time() < deadline:
        for table in ("/proc/net/tcp", "/proc/net/tcp6"):
            with open(table) as f:
                for row in f.readlines()[1:]:
                    cols = row.split()
                    if cols[1].endswith(want) and cols[3] == "0A":
                        return
        time.sleep(0.005)
    raise BenchError(f"nothing listens on port {port} after {LISTEN_TIMEOUT_S} s")


def _offset(o) -> int:
    if o is None:
        return 0
    if isinstance(o, str):  # the Python source's offset dict, as its repr
        o = ast.literal_eval(o)
    return int(o["index"])


class Batches:
    """The data microbatches of one query, from its progress reports."""

    def __init__(self, progress: list[dict]) -> None:
        self.rows = []
        for p in progress:
            if not p.get("numInputRows"):
                continue
            src = p["sources"][0]
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            d = p["durationMs"]
            self.rows.append(
                {
                    "id": p["batchId"],
                    "end_off": _offset(src.get("endOffset")),
                    "backlog": _offset(src.get("latestOffset")) - _offset(src.get("endOffset")),
                    "start": start,
                    "commit_end": start + d["triggerExecution"] / 1000,
                    "durations": d,
                    "rows": p["numInputRows"],
                }
            )
        self.rows.sort(key=lambda b: b["end_off"])
        self._ends = [b["end_off"] for b in self.rows]

    def commit_end(self, idx: int) -> float:
        """Commit end of the batch holding line ``idx``; 0 if none did."""
        i = bisect_right(self._ends, idx)
        return self.rows[i]["commit_end"] if i < len(self.rows) else 0.0

    def since(self, idx: int) -> list[dict]:
        return [b for b in self.rows if b["end_off"] > idx]


class Generator:
    """The load generator process and its command channel."""

    def __init__(self, seed: int, port: int, out: str) -> None:
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "gen.py"), "--seed", str(seed),
             "--host", "127.0.0.1", "--port", str(port), "--out", out],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, bufsize=1,
        )
        self._expect("ready")

    def _expect(self, word: str) -> str:
        reply = self.proc.stdout.readline().split()
        if not reply or reply[0] != word:
            raise BenchError(f"generator answered {reply!r}, expected {word!r}")
        return reply[-1]

    def send(self, cmd: str) -> tuple:
        """Run one send command; (due, sent, end) of its lines."""
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return gen.read_log(self._expect("done"))

    def close(self) -> None:
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
            self.proc.wait(timeout=10)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait()


def wait_committed(query, target: int) -> None:
    deadline = time.time() + COMMIT_TIMEOUT_S
    while time.time() < deadline:
        if not query.isActive:
            raise BenchError(f"ingest query stopped: {query.exception()}")
        last = query.lastProgress
        if last and last["sources"] and _offset(last["sources"][0].get("endOffset")) >= target:
            return
        time.sleep(COMMIT_POLL_S)
    raise BenchError(f"lines below {target} not committed after {COMMIT_TIMEOUT_S} s")


class IngestQuery:
    """A fresh ``run_syslog_ingest`` query with its own port, checkpoint
    and sink; ``drive`` sends it a committed warm-up, then timed traffic
    for ``seconds``, from a generator process of its own."""

    def __init__(self, spark, encoding: str, seed: int, work: str, tracer) -> None:
        from syslog_kafka_spark.streaming.pipeline import run_syslog_ingest

        self.spark, self.encoding, self.seed, self.work, self.tracer = spark, encoding, seed, work, tracer
        os.makedirs(work)
        self.sink = os.path.join(work, "sink")
        self.port = free_port()
        with tracer.span("run_syslog_ingest"):
            t0 = time.time()
            self.query = run_syslog_ingest(
                spark, host="127.0.0.1", port=self.port, protocol="tcp", topic="perfbench", brokers=None,
                checkpoint=os.path.join(work, "checkpoint"), encoding=encoding, schema_id=SCHEMA_ID,
                tags=TAGS, logtypeid=LOGTYPEID, output_path=self.sink,
            )
            wait_listening(self.port)
            self.start_s = time.time() - t0
        self.logs = []  # (due, sent, end) per send command, in send order
        self.sent = 0

    def _send(self, generator, n: int, phase: str, exclude: set[int]) -> float:
        """Send ``n`` lines and wait until they are committed; returns the
        CPU seconds the program used meanwhile."""
        cmd = f"burst {self.sent} {n}" if self.encoding == "avro" else f"paced {self.sent} {n} {PACED_RATE}"
        cpu0 = tree_cpu_s(exclude)
        with self.tracer.span("generator send", phase=phase, lines=n):
            self.logs.append(generator.send(cmd))
        self.sent += n
        wait_committed(self.query, self.sent)
        return tree_cpu_s(exclude) - cpu0

    def drive(self, seconds: float, exclude: set[int]) -> None:
        """Warm up, then send timed traffic: one burst per BURST_SECONDS of
        ``seconds``, each after the last is committed; or an open loop for
        ``seconds``."""
        generator = Generator(self.seed, self.port, self.work)
        exclude.add(generator.proc.pid)
        try:
            self._send(generator, BURST_WARMUP_LINES if self.encoding == "avro" else int(PACED_RATE * PACED_WARMUP_S),
                       "warmup", exclude)
            self.warmup = self.sent
            self.window_start = time.time()
            steal0, gc0 = host_steal(), jvm_gc_s(self.spark)
            self.cpu = []  # CPU seconds per timed send command
            if self.encoding == "avro":
                for _ in range(max(1, round(seconds / BURST_SECONDS))):
                    self.cpu.append(self._send(generator, BURST_LINES, "timed", exclude))
            else:
                self.cpu.append(self._send(generator, int(PACED_RATE * seconds), "timed", exclude))
            self.gc_s = jvm_gc_s(self.spark) - gc0
            steal1 = host_steal()
            self.steal_share = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
            self.batches = Batches(self.query.recentProgress)
            self.run_id = str(self.query.runId)
        finally:
            generator.close()
            self.query.stop()

    def measure(self) -> tuple:
        """Check the sink: (verdict, measures of the timed lines)."""
        due = [t for log in self.logs for t in log[0]]
        sent_at = [t for log in self.logs for t in log[1]]
        commit = [self.batches.commit_end(i) for i in range(self.sent)]
        self.lines = gen.make_lines(self.seed, 0, self.sent)
        with self.tracer.span("check"):
            verdict = check_ingest(
                read_sink_values(self.sink),
                IngestExpect(
                    lines=self.lines, encoding=self.encoding, source=socket.gethostname(), schema_id=SCHEMA_ID,
                    tags=TAGS, logtypeid=LOGTYPEID, sent_ms=[int(t * 1000) for t in sent_at],
                    commit_ms=[int(c * 1000) + 1 if c else 0 for c in commit],
                ),
            )
        timed = range(self.warmup, self.sent)
        # Busy time: from each timed command's first hand-off to the commit
        # of its last line; the harness's pauses between bursts are not
        # counted.
        busy, first = 0.0, self.warmup
        for log in self.logs[1:]:
            first += len(log[0])
            busy += (commit[first - 1] or float("inf")) - log[1][0]
        return verdict, {
            # A line never committed exceeds every latency limit.
            "latencies": [(commit[i] - due[i]) * 1000 if commit[i] else float("inf") for i in timed],
            "lag": [(sent_at[i] - due[i]) * 1000 for i in timed],
            "busy": busy,
            "receive": sum(log[2] - log[1][0] for log in self.logs[1:]),
        }


def run(args, tracer, build_session, work: str, process_start: float) -> dict:
    """One ingest run. The query is started SETUP_STARTS times (all but the
    last stopped as soon as its listener is up) and set-up is the session
    build plus the median start; the last query then takes the traffic."""
    from perfbench.layers import MemSampler, fold_event_log, probe_layers, probe_plans

    encoding = WORKLOADS[args.workload]
    spark, session_build_s = build_session()
    session_ready = time.time()
    starts = []
    for k in range(SETUP_STARTS):
        q = IngestQuery(spark, encoding, args.seed, os.path.join(work, f"q{k}"), tracer)
        starts.append(q.start_s)
        if k < SETUP_STARTS - 1:
            q.query.stop()
    exclude: set[int] = set()
    mem = MemSampler(exclude=exclude) if args.trace else nullcontext()
    with mem:
        q.drive(args.seconds, exclude)
    verdict, m = q.measure()
    latencies = m["latencies"]
    res = {
        "attempted": q.sent,
        "failed": verdict.failed,
        "notes": verdict.examples,
        "e2e": {
            "setup_s": (session_ready - process_start + median(starts), "s"),
            "ingest_lines_per_s": (len(latencies) / m["busy"], "1/s"),
            "cpu_ms_per_line": (sum(q.cpu) * 1000 / len(latencies), "ms"),
        },
        "latency": {
            "ingest.latency_p50_ms": (median(latencies), "ms"),
            "ingest.latency_p99_ms": (percentile(latencies, 99), "ms"),
        },
        "info": {"session.build_s": session_build_s, "query_start_s": starts,
                 "host CPU time stolen in the window": f"{q.steal_share:.1%}"},
    }
    if not args.trace:
        return res

    timed_batches = q.batches.since(q.warmup)
    for b in timed_batches:
        parent = tracer.add("microbatch", b["start"], b["commit_end"], batch=b["id"], rows=b["rows"])
        t = b["start"]
        for phase in PHASES:
            dt = b["durations"].get(phase, 0) / 1000
            tracer.add(phase, t, t + dt, parent=parent)
            t += dt
    with tracer.span("layer probes"):
        probes = probe_layers(spark, q.lines[q.warmup : q.warmup + PROBE_LINES], socket.gethostname(),
                              schema_id=SCHEMA_ID, tags=TAGS, logtypeid=LOGTYPEID)
        plans, checked, failures = probe_plans(spark, tracer)
    res["attempted"] += checked
    res["failed"] += len(failures)
    res["notes"] += failures
    spark.stop()  # flushes the event log
    ex = fold_event_log(f"{work}/eventlog",
                        lambda group, submitted: group == q.run_id and submitted >= q.window_start)
    files = committed_sink_files(q.sink)
    res["layer"] = {
        **res["latency"],
        "session.build_s": (session_build_s, "s"),
        "streaming.query_start_s": (median(starts), "s"),
        "source.batches": (len(timed_batches), "count"),
        "source.rows_per_batch_max": (max(b["rows"] for b in timed_batches), "count"),
        "source.tasks_per_batch": (ex["exec.tasks"][0] / len(timed_batches), "count"),
        "source.backlog_max_lines": (max(b["backlog"] for b in timed_batches), "count"),
        "source.planning_ms": (sum(b["durations"].get("queryPlanning", 0) for b in timed_batches), "ms"),
        "source.receive_s": (m["receive"], "s"),
        "encode.avro_lines_per_s": (probes["encode.avro_lines_per_s"], "1/s"),
        "encode.avro_row_us": (probes["encode.avro_row_us"], "us"),
        "parse.lines_per_s": (probes["parse.lines_per_s"], "1/s"),
        **{k: (v, "s") for k, v in plans.items()},
        "streaming.add_batch_ms": (sum(b["durations"].get("addBatch", 0) for b in timed_batches), "ms"),
        "streaming.wal_commit_ms": (sum(b["durations"].get("walCommit", 0) for b in timed_batches), "ms"),
        "streaming.trigger_ms_p50": (median([b["durations"]["triggerExecution"] for b in timed_batches]), "ms"),
        "sink.files_written": (len(files), "count"),
        "sink.bytes_written": (sum(os.path.getsize(p) for p in files), "bytes"),
        "gen.lag_p99_ms": (percentile(m["lag"], 99), "ms"),
        "mem.python_rss_peak_mb": (mem.python_peak_mb, "MB"),
        "mem.jvm_rss_peak_mb": (mem.jvm_peak_mb, "MB"),
        "host.cpu_steal_share": (q.steal_share, "share"),
        **ex,
        "exec.gc_s": (q.gc_s, "s"),
    }
    return res
