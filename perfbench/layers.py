"""Per-layer measurements taken from outside the program: process-tree
memory from /proc, job/stage/task metrics folded from the Spark event log,
and standalone probes that time calls into the encode and parse layers."""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from datetime import datetime, timezone

_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20
# Seconds between the memory sampler's reads of /proc.
MEM_SAMPLE_PERIOD_S = 0.1
# Timed calls per probe; a probe reports their median.
PROBE_REPS = 3


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(c) for c in f.read().split()]
    except OSError:
        return []


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_MB
    except OSError:
        return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s(exclude: set[int]) -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), less the pids in ``exclude`` and their
    descendants. Children that have exited and been waited for are
    included through their parent's cutime/cstime."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        todo.extend(_children(pid))
    return total / tick


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        cols = [int(x) for x in f.readline().split()[1:9]]
    return cols[7], sum(cols)


class MemSampler:
    """Peak RSS of the program's process tree, sampled every
    MEM_SAMPLE_PERIOD_S seconds: the JVM, and the Python processes (this process, the Spark
    driver, plus the JVM's Python workers). Pids in ``exclude`` (the load
    generator) and their children are skipped."""

    def __init__(self, exclude: set[int]) -> None:
        self.exclude = exclude
        self.python_peak_mb = 0.0
        self.jvm_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> MemSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> None:
        python = jvm = 0.0
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            if _comm(pid) == "java":
                jvm += _rss_mb(pid)
            else:
                python += _rss_mb(pid)
            todo.extend(_children(pid))
        self.python_peak_mb = max(self.python_peak_mb, python)
        self.jvm_peak_mb = max(self.jvm_peak_mb, jvm)

    def _run(self) -> None:
        while not self._stop.wait(MEM_SAMPLE_PERIOD_S):
            self.sample()


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
    }


def fold_event_log(log_dir: str, keep) -> dict[str, tuple[float, str]]:
    """Job, stage and task metrics summed over the jobs that
    ``keep(job_group, submitted_epoch_s)`` selects. Read it after the
    session stopped, so the log is complete."""
    stage_job: dict[int, int] = {}
    kept: set[int] = set()
    n = dict.fromkeys(("jobs", "stages", "tasks", "failed_tasks", "cpu_ns", "shuffle", "spill"), 0)
    # Spark 4 writes rolling logs: one directory per application.
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for raw in f:
                ev = json.loads(raw)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if keep(group, ev["Submission Time"] / 1000):
                        kept.add(ev["Job ID"])
                        n["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerStageCompleted":
                    n["stages"] += stage_job.get(ev["Stage Info"]["Stage ID"]) in kept
                elif kind == "SparkListenerTaskEnd" and stage_job.get(ev["Stage ID"]) in kept:
                    m = ev.get("Task Metrics") or {}
                    n["tasks"] += 1
                    n["failed_tasks"] += bool(ev["Task Info"].get("Failed"))
                    n["cpu_ns"] += m.get("Executor CPU Time", 0)
                    n["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    n["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {
        "exec.jobs": (n["jobs"], "count"),
        "exec.stages": (n["stages"], "count"),
        "exec.tasks": (n["tasks"], "count"),
        "exec.failed_tasks": (n["failed_tasks"], "count"),
        "exec.cpu_s": (n["cpu_ns"] / 1e9, "s"),
        "shuffle.bytes_written": (n["shuffle"], "bytes"),
        "spill.bytes": (n["spill"], "bytes"),
    }


def jvm_gc_s(spark) -> float:
    """Collection time of every JVM garbage collector so far, from JMX. In
    local mode the driver JVM is the executor too, so this covers both,
    where task metrics count only the GC that lands inside a task."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000


def _median_time(fn) -> float:
    """Median wall time of PROBE_REPS calls, after one untimed call."""
    fn()
    times = []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2]


def message_frame(spark, lines: list[str], source: str):
    """A static SyslogMessage frame of ``lines``, as the source emits them."""
    from syslog_kafka_spark.model import SYSLOG_MESSAGE_SCHEMA

    now = datetime.now(timezone.utc).replace(tzinfo=None)
    return spark.createDataFrame([(line, source, now) for line in lines], SYSLOG_MESSAGE_SCHEMA)


def probe_layers(spark, lines: list[str], source: str, *, schema_id, tags, logtypeid) -> dict:
    """The standalone layer probes, over ``lines``:

    - encode.avro_lines_per_s: avro_transform over a static frame → noop
    - encode.avro_row_us: encode_logline_confluent, one thread, per row
    - parse.lines_per_s: parsed_messages over a static frame → noop
    """
    from syslog_kafka_spark.encode.avro_binary import encode_logline_confluent
    from syslog_kafka_spark.encode.transformers import avro_transform
    from syslog_kafka_spark.streaming.pipeline import parsed_messages

    frame = message_frame(spark, lines, source).cache()
    frame.count()
    try:
        encoded = avro_transform(frame, "perfbench", schema_id, tags, logtypeid)
        avro_s = _median_time(lambda: encoded.write.format("noop").mode("overwrite").save())
        parsed = parsed_messages(frame)
        parse_s = _median_time(lambda: parsed.write.format("noop").mode("overwrite").save())
    finally:
        frame.unpersist()
    recs = [
        {"line": line, "source": source, "tag": tags, "logtypeid": logtypeid,
         "timings": [{"eventName": "received", "value": 1_700_000_000_000}]}
        for line in lines
    ]
    row_s = _median_time(lambda: [encode_logline_confluent(r, schema_id) for r in recs])
    return {
        "encode.avro_lines_per_s": len(lines) / avro_s,
        "encode.avro_row_us": row_s / len(lines) * 1e6,
        "parse.lines_per_s": len(lines) / parse_s,
    }


def probe_plans(spark, tracer) -> tuple[dict, int, list[str]]:
    """The plans-layer probe: each slice query that reads only fixture
    data runs once untimed and PROBE_REPS times timed, and every result is
    checked. Returns ({"plans.<query>.build_s" / ".exec_s": median
    seconds}, results checked, ["<query>: <what differs>" per failed
    check])."""
    from perfbench.slice import FIXTURE_QUERIES, load_expected, time_query
    from perfbench.stats import median
    from syslog_kafka_spark.plans.registry import load_all

    specs, expected = load_all(), load_expected()
    out, checked, failures = {}, 0, []
    for name in FIXTURE_QUERIES:
        # The fixture queries read no sf tables, so they get no directory.
        runs = [time_query(spark, specs[name], "", expected, tracer, "plans probe") for _ in range(PROBE_REPS + 1)]
        checked += len(runs)
        failures += [f"{name}: {err}" for _, _, err in runs if err]
        out[f"plans.{name}.build_s"] = median([b for b, _, _ in runs[1:]])
        out[f"plans.{name}.exec_s"] = median([c for _, c, _ in runs[1:]])
    return out, checked, failures
