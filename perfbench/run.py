"""Ingest-path benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s> --sf-dir <dir>

Workloads (why each was chosen: BENCHMARK.json):

- ingest_avro_burst: bursts of seeded lines over one TCP connection into
  ``run_syslog_ingest(encoding="avro", brokers=None)``.
- ingest_string_paced: an open loop at a fixed rate into
  ``run_syslog_ingest(encoding="string", brokers=None)``.
- analytics_slice: registry queries over the sf tables in ``--sf-dir``,
  checked against ``slice_expected.json``.
- all: the three above, each in its own process.

The program under test runs in this process on ``local[4]``; the load
generator (gen.py) is a separate process. Every file a run writes goes
under ``.perfbench_run/`` in the working directory. stdout ends with a
summary of the metrics and then one JSON line: {"correct", "attempted",
"failed", "metrics"}, where the metrics are the end-to-end ones, or with
``--trace 1`` the per-layer ones. The exit code is 1 when a check failed
(the JSON line is still printed) or the run broke. A traced run also
writes its spans, with self times, to
``.perfbench_run/trace-<workload>-<seed>.json`` and states its overhead
against the last untraced run of the same workload and seed.
"""

from __future__ import annotations


def _process_start() -> float:
    """Epoch time at which this process started, from /proc."""
    import os

    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = _process_start()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import Tracer  # noqa: E402

CORES = 4
# A run that has not finished by then is a failure, not a slow result.
RUN_LIMIT_S = 170
WORKLOADS = ("ingest_avro_burst", "ingest_string_paced", "analytics_slice")


def prepare_env(work: str) -> None:
    """Keep the files the run writes under ``work`` and put the checkout
    on the Python workers' path; must run before the JVM starts."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Every JVM, the spark-submit launcher's too: temp files under work,
    # and no perf-data file in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.pop("SPARK_MASTER", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def session_factory(work: str, trace: bool, tracer: Tracer):
    """A callable that builds the session: (spark, build seconds)."""

    def build():
        from perfbench.layers import event_log_conf
        from syslog_kafka_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        }
        if trace:
            conf.update(event_log_conf(f"{work}/eventlog"))
        with tracer.span("get_spark"):
            t0 = time.time()
            spark = get_spark("perfbench", **conf)
            built = time.time() - t0
        spark.sparkContext.setLogLevel("ERROR")
        return spark, built

    return build


def stop_spark() -> None:
    """Stop the session and the JVM, and wait for the JVM to exit (it
    exits when its stdin closes; its Python workers follow it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _out_of_time(signum, frame):
    raise TimeoutError(f"run did not finish within {RUN_LIMIT_S} s")


def _finite(v: float) -> float | None:
    return v if math.isfinite(v) else None


def run_all(args) -> int:
    """Each workload in its own process (one JVM per process)."""
    rc = 0
    for workload in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.sf_dir:
            cmd += ["--sf-dir", args.sf_dir]
        print(f"== {workload}", flush=True)
        rc |= subprocess.run(cmd).returncode
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="directory of sf tables, for analytics_slice")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if args.workload == "analytics_slice" and not args.sf_dir:
        ap.error("analytics_slice needs --sf-dir")

    signal.signal(signal.SIGALRM, _out_of_time)
    signal.alarm(RUN_LIMIT_S)
    out = os.path.join(os.getcwd(), ".perfbench_run")
    work = os.path.join(out, f"work-{os.getpid()}")
    os.makedirs(work)
    prepare_env(work)
    tracer = Tracer(bool(args.trace))
    build_session = session_factory(work, bool(args.trace), tracer)
    try:
        with tracer.span("workload", workload=args.workload, seed=args.seed):
            if args.workload == "analytics_slice":
                from perfbench import analytics as workload
            else:
                from perfbench import ingest as workload
            res = workload.run(args, tracer, build_session, work, PROCESS_START)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)

    e2e = {k: v for k, (v, _) in {**res["e2e"], **res.get("latency", {})}.items()}
    untraced = os.path.join(out, f"e2e-{args.workload}-{args.seed}.json")
    if args.trace:
        base = {}
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
        overhead = {k: e2e[k] / base[k] - 1 for k in e2e if base.get(k)}
        tracer.write(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"),
                     workload=args.workload, seed=args.seed, e2e=e2e, untraced_e2e=base,
                     tracing_overhead=overhead)
        print("tracing overhead vs the last untraced run: "
              + (", ".join(f"{k} {v:+.1%}" for k, v in overhead.items()) or "no untraced run to compare"))
    else:
        with open(untraced, "w") as f:
            json.dump(e2e, f)

    print(f"{args.workload} seed={args.seed}: attempted={res['attempted']} failed={res['failed']} "
          f"failed_fraction={res['failed'] / res['attempted']:.6f}")
    for note in res["notes"]:
        print(f"  check: {note}")
    for name, (value, unit) in {**res["e2e"], **res.get("latency", {}), **res.get("layer", {})}.items():
        print(f"  {name:28s} {value:16.4f} {unit}")
    for name, value in res.get("info", {}).items():
        print(f"  ({name} {value})")
    metrics = res["layer"] if args.trace else res["e2e"]
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": _finite(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if res["failed"] else 0


if __name__ == "__main__":
    sys.exit(main())
