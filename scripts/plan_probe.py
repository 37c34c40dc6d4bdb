"""Per-query plan + timing probe for the optimization rounds.

For each named query: capture ``explain("formatted")`` to
``<outdir>/<name>.txt`` and time N build+collect repeats in ONE warm
session (the bench methodology — build includes plan construction, collect
includes the driver fetch). ``--noop`` additionally times a noop-sink write
(guide §1.4: computes every column, no driver collect) so collect-dominated
faces are separable from plan-dominated ones.

Usage:
  python scripts/plan_probe.py --outdir plans/r13 --repeats 2 [--noop] q1 q2 ...
  python scripts/plan_probe.py --all-benched --outdir /tmp/probe   # every bench=True query
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--outdir", required=True)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--all-benched", action="store_true")
    ap.add_argument("--suffix", default="", help="filename suffix, e.g. _before/_after")
    args = ap.parse_args()

    from bench import first_touch
    from syslog_kafka_spark.plans.registry import load_all
    from syslog_kafka_spark.session import get_spark

    spark = get_spark("plan-probe")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    names = [n for n in specs if specs[n].bench] if args.all_benched else args.names

    os.makedirs(args.outdir, exist_ok=True)
    first_touch(spark, args.sf_dir)

    from syslog_kafka_spark.operators.session_cache import release_session_checkpoints

    results: dict[str, dict] = {}
    for name in names:
        spec = specs[name]
        spark.sparkContext.setJobDescription(f"probe:{name}")
        times, noop_times = [], []
        plan_txt = ""
        for i in range(args.repeats):
            t0 = time.perf_counter()
            df = spec.build(spark, args.sf_dir)
            built = time.perf_counter()
            df.collect()
            times.append(
                {"build": round(built - t0, 3), "total": round(time.perf_counter() - t0, 3)}
            )
            if i == 0:
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                plan_txt = buf.getvalue()
            if args.noop:
                t0 = time.perf_counter()
                spec.build(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
                noop_times.append(round(time.perf_counter() - t0, 3))
            release_session_checkpoints(spark)
        with open(os.path.join(args.outdir, f"{name}{args.suffix}.txt"), "w") as fh:
            fh.write(plan_txt)
        results[name] = {"repeats": times, "noop": noop_times}
        print(json.dumps({name: results[name]}))
    # Merge-update so family-scoped probe runs don't clobber earlier keys.
    timings_path = os.path.join(args.outdir, f"_timings{args.suffix}.json")
    merged: dict[str, dict] = {}
    if os.path.exists(timings_path):
        with open(timings_path) as fh:
            merged = json.load(fh)
    merged.update(results)
    with open(timings_path, "w") as fh:
        json.dump(merged, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
