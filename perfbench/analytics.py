"""The analytics_slice workload: registry queries over one set of sf
tables, each result checked against ``slice_expected.json``.

A first pass pays the JVM, codegen and Python-worker first touch and
counts as set-up. Session caches are cleared before every timed pass,
because a fresh user session pays those fills. Timed passes repeat until
``--seconds`` have elapsed (at least one); the seed orders the queries.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import nullcontext

from perfbench.ingest import BenchError
from perfbench.slice import SLICE, load_expected, time_query
from perfbench.stats import median

PROBE_LINES = 10_000


def run(args, tracer, build_session, work: str, process_start: float) -> dict:
    from perfbench import gen
    from perfbench.layers import MemSampler, fold_event_log, jvm_gc_s, probe_layers
    from syslog_kafka_spark.operators.session_cache import clear_session_caches
    from syslog_kafka_spark.plans.registry import load_all

    expected = load_expected()
    scale = os.path.basename(os.path.normpath(args.sf_dir))
    if scale != expected["scale"]:
        raise BenchError(f"expected results are for {expected['scale']}, not {scale}")
    spark, session_build_s = build_session()
    specs = load_all()
    order = list(SLICE)
    random.Random(args.seed).shuffle(order)

    def one_pass(label: str) -> list[tuple[str, float, float, str | None]]:
        return [(name, *time_query(spark, specs[name], args.sf_dir, expected, tracer, label)) for name in order]

    with MemSampler(exclude=set()) if args.trace else nullcontext() as mem:
        with tracer.span("first-touch pass"):
            one_pass("warmup")
        setup_s = time.time() - process_start
        window_start = time.time()
        gc0 = jvm_gc_s(spark)
        passes = []
        while not passes or time.time() - window_start < args.seconds:
            clear_session_caches(spark)
            with tracer.span("timed pass"):
                passes.append(one_pass(f"pass{len(passes)}"))
        window_end = time.time()
        gc_s = jvm_gc_s(spark) - gc0

    results = [r for p in passes for r in p]
    failures = [f"{name}: {err}" for name, _, _, err in results if err]
    res = {
        "attempted": len(results),
        "failed": len(failures),
        "notes": failures[:5],
        "e2e": {
            "setup_s": (setup_s, "s"),
            "analytics_wall_s": (median([sum(b + c for _, b, c, _ in p) for p in passes]), "s"),
        },
        "info": {"session.build_s": session_build_s, "passes": len(passes)},
    }
    if not args.trace:
        return res

    with tracer.span("layer probes"):
        lines = gen.make_lines(args.seed, 0, PROBE_LINES)
        probes = probe_layers(spark, lines, "perfbench", schema_id=42, tags=None, logtypeid=None)
    spark.stop()  # flushes the event log
    ex = fold_event_log(f"{work}/eventlog", lambda group, submitted: window_start <= submitted <= window_end)
    layer = {
        "session.build_s": (session_build_s, "s"),
        "parse.lines_per_s": (probes["parse.lines_per_s"], "1/s"),
        "mem.python_rss_peak_mb": (mem.python_peak_mb, "MB"),
        "mem.jvm_rss_peak_mb": (mem.jvm_peak_mb, "MB"),
        **ex,
        "exec.gc_s": (gc_s, "s"),
    }
    for name in SLICE:
        mine = [(b, c) for n, b, c, _ in results if n == name]
        layer[f"plans.{name}.build_s"] = (median([b for b, _ in mine]), "s")
        layer[f"plans.{name}.exec_s"] = (median([c for _, c in mine]), "s")
    res["layer"] = layer
    return res
