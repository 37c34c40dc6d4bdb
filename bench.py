"""Benchmark runner: times every benched query in the inventory.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Env knobs: $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
$SPARK_GRAFT_CPUS (default all cores), $SPARK_GRAFT_BENCH_ONLY
(comma-separated query names for a smoke subset; full run when unset),
$SPARK_GRAFT_BENCH_FULL (where the uncapped per-query map is written —
default BENCH_FULL.json next to this script; tests point it at a tempdir
so smoke subsets never clobber a round's headline record).
"""

from __future__ import annotations

import glob
import json
import logging
import os
import re
import sys
import time

log = logging.getLogger(__name__)

# Quiet-host band floor for the syslog replay probe (lines/sec). Measured
# cuts on an unloaded host land 150k-200k; loaded same-day cuts have sagged
# to 81k on identical code (BENCH_SF10.md host-band note). Archives are cut
# at >= this floor; slower cuts are flagged by their host_speed_factor < 1.
_HOST_REF_LINES_PER_SEC = 150_000

# BASELINE.md full-inventory budget (2x gate) at sf0.1, seconds.
_FULL_INVENTORY_BUDGET_SEC = 480.0

# Full-inventory runs whose post-sweep host_speed_factor lands under this
# floor are re-swept once in-session; a second miss sets host_floor_missed
# in the payload so a loaded-host headline is never silently recorded.
_HOST_FLOOR_FACTOR = 0.75


def cap_line(payload: dict, line_budget: int = 1900) -> str:
    """Serialize ``payload`` to one JSON line at most ``line_budget`` chars.

    The recording harness keeps only a ~2000-char tail of stdout, and a
    truncated JSON line parses as nothing — so when the full map doesn't
    fit, drop the fastest queries first (slow ones and failures carry the
    signal), count the elisions, and point at the full map on disk.
    """
    timings = payload["queries"]
    shown = dict(timings)
    line = json.dumps(payload)
    if len(line) > line_budget:
        payload = dict(payload)
        payload["queries_full"] = "BENCH_FULL.json"
        for name in sorted(shown, key=lambda n: (shown[n] < 0, shown[n])):
            if len(line) <= line_budget:
                break
            del shown[name]
            payload["queries"] = shown
            payload["queries_omitted"] = len(timings) - len(shown)
            line = json.dumps(payload)
    return line


def previous_round_map(here: str, sf: float | None) -> dict[str, float]:
    """Per-query timings from the newest archived BENCH_FULL_r*.json.

    Round 6 showed sweep totals swing ±15% with machine state (same code
    measured 199–225 s across three runs), so cross-run sweep deltas alone
    are not a regression signal. The protocol: any query whose sweep time
    regressed vs last round is re-measured ISOLATED (one warm repeat, same
    session, right after the sweep) and both numbers are archived — judge
    the isolated number, not the sweep number.
    """
    override = os.environ.get("SPARK_GRAFT_BENCH_PREV")
    if override:
        candidates = [override]
    else:
        # Sort by the parsed round number, not the filename — lexicographic
        # order breaks once rounds outgrow the zero padding (r100 < r99).
        def round_no(path: str) -> int:
            m2 = re.search(r"BENCH_FULL_r(\d+)\.json$", path)
            return int(m2.group(1)) if m2 else -1

        candidates = sorted(
            glob.glob(os.path.join(here, "BENCH_FULL_r*.json")), key=round_no
        )
    if not candidates:
        return {}
    try:
        with open(candidates[-1]) as fh:
            prev = json.load(fh)
    except (OSError, ValueError) as exc:
        print(f"bench: cannot read previous map {candidates[-1]}: {exc}", file=sys.stderr)
        return {}
    if prev.get("sf") != sf:
        # A cross-scale delta is meaningless; only same-sf maps compare.
        return {}
    return prev.get("queries", {})


def _warm_python_workers(spark) -> None:
    """Start the executor Python-worker fleet with two no-op jobs.

    The first query that crosses the JVM→Python boundary otherwise pays
    the whole fleet bring-up inside its own wall time: one worker per
    core, each forking off the daemon and importing pyspark + numpy +
    pandas + pyarrow (measured on local[32]: the first mapInArrow pass
    ran 7.1 s vs 1.0 s for the identical second pass). One partition per
    core so every worker slot forks and imports; the no-op kernel touches
    no data."""

    def _noop_kernel(batches):
        import numpy  # noqa: F401 — fleet import warm-up
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        yield from batches

    try:
        import pyspark.sql.functions as F
        from pyspark.sql.pandas.functions import pandas_udf

        n = spark.sparkContext.defaultParallelism
        (
            spark.range(0, n, 1, n)
            .mapInArrow(_noop_kernel, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

        # The scalar pandas-UDF path keys a SEPARATE worker pool (the
        # factory keys on worker env, which differs from mapInArrow), so
        # warm it too — it serves every ArrowEvalPython stage.
        @pandas_udf("long")
        def _warm_identity(s):
            return s

        (
            spark.range(0, n, 1, n)
            .select(_warm_identity(F.col("id")))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception as e:
        # A failed warm-up (e.g. a runtime without pandas) must not stop
        # the timer; the first Python query then pays the bring-up itself.
        # Say why it failed.
        log.warning("Python worker warm-up failed: %s: %s", type(e).__name__, e)


def first_touch(spark, sf_dir: str) -> None:
    """Pay a fresh session's one-time costs before anything is timed, so
    a per-query number measures the query: one collect warms the JVM and
    the parquet footers under ``sf_dir`` (raises when they cannot be
    read), then two no-op jobs start the Python-worker pools."""
    from syslog_kafka_spark.plans.aggregates import agg_revenue_forecast

    agg_revenue_forecast(spark, sf_dir).collect()
    _warm_python_workers(spark)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from syslog_kafka_spark.plans.registry import load_all
    from syslog_kafka_spark.session import get_spark

    spark = get_spark("syslog-kafka-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()

    try:
        first_touch(spark, sf_dir)
    except Exception as exc:
        print(f"bench: cannot read {sf_dir}: {exc}", file=sys.stderr)
        sys.exit(2)

    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    subset = {n.strip() for n in only.split(",")} if only else None

    from syslog_kafka_spark.operators.session_cache import (
        release_session_checkpoints,
    )

    def run_sweep() -> tuple[dict[str, float], list[float]]:
        timings: dict[str, float] = {}
        for name in sorted(specs):
            spec = specs[name]
            if not spec.bench or (subset is not None and name not in subset):
                continue
            t0 = time.perf_counter()
            try:
                spec.build(spark, sf_dir).collect()
                timings[name] = round(time.perf_counter() - t0, 3)
            except Exception as exc:  # keep the bench line well-formed on a bad query
                print(f"bench: {name} failed: {exc}", file=sys.stderr)
                timings[name] = -1.0
            # Sweep-boundary hygiene: caches stay warm (the LRU bounds them;
            # cross-query reuse is part of what the sweep measures) but
            # checkpoint pins are per-build artifacts no later query reuses —
            # without this release the inventory sweep accumulates one pinned
            # RDD per checkpointing query, the unbounded-growth class the
            # session-cache module exists to prevent.
            release_session_checkpoints(spark)

        # Host-speed probe, SECOND sample right after the sweep: the sweep's
        # own stream_replay_throughput row is the first (steady-state, fully
        # warm — it lands alphabetically ~85% through the run and carries the
        # one-time streaming machinery cost exactly like every prior round's
        # archive, so sweep totals stay cross-round comparable). Both samples
        # are steady-state by construction — a pre-sweep sample is NOT (r11
        # measured the session's 2nd replay run still 1.9x slower than its
        # 3rd), and averaging a machinery-polluted sample into the factor
        # flips the normalization direction on a fast host.
        lps_samples: list[float] = []
        replay_spec = specs.get("stream_replay_throughput")
        if (
            replay_spec is not None
            and replay_spec.bench
            and subset is None
            and timings.get("stream_replay_throughput", -1) > 0
        ):
            from syslog_kafka_spark.plans.extras import replay_line_count

            try:
                t0 = time.perf_counter()
                replay_spec.build(spark, sf_dir).collect()
                lps_samples.append(replay_line_count() / (time.perf_counter() - t0))
            except Exception as exc:
                print(f"bench: post-sweep replay probe failed: {exc}", file=sys.stderr)
        return timings, lps_samples

    def host_factor(timings: dict[str, float], lps_samples: list[float]) -> float | None:
        """Mean replay lines/sec over the quiet-host reference, or None
        when the run carries no replay sample to measure the host with."""
        samples = list(lps_samples)
        replay_wall = timings.get("stream_replay_throughput")
        if replay_wall and replay_wall > 0:
            from syslog_kafka_spark.plans.extras import replay_line_count

            samples.insert(0, replay_line_count() / replay_wall)
        if not samples:
            return None
        return sum(samples) / len(samples) / _HOST_REF_LINES_PER_SEC

    # Host-floor policy (pinned round 12, r11 verdict item #4): the r11
    # headline was recorded on a host running at factor 0.458 while the
    # same day produced a floor-compliant sweep — a loaded-host number
    # must never be SILENTLY the round's record. Full runs whose
    # post-sweep factor lands under the floor are re-swept ONCE in the
    # same warm session; a second miss is declared in the payload
    # (host_floor_missed) instead of retried forever.
    timings, lps_samples = run_sweep()
    sweep_attempts = 1
    host_floor_missed = False
    if subset is None:
        factor = host_factor(timings, lps_samples)
        if factor is not None and factor < _HOST_FLOOR_FACTOR:
            print(
                f"bench: host_speed_factor {factor:.3f} < {_HOST_FLOOR_FACTOR}"
                " floor; re-running the sweep once",
                file=sys.stderr,
            )
            # Reset session state first: the re-sweep's numbers become the
            # round's headline map, and next round's regression protocol
            # compares against it as if cold — a warm-LRU second sweep
            # would bake phantom speedups into the baseline (review
            # finding). JVM/codegen warmth remains; cache warmth (the big
            # term) is cleared.
            from syslog_kafka_spark.operators.session_cache import (
                clear_session_caches,
            )

            clear_session_caches(spark)
            timings, lps_samples = run_sweep()
            sweep_attempts = 2
            factor = host_factor(timings, lps_samples)
            # A failed probe (factor None) cannot PROVE floor compliance,
            # and this branch only runs after a measured miss — declare
            # the miss rather than silently recording a loaded-host
            # headline (review finding).
            host_floor_missed = factor is None or factor < _HOST_FLOOR_FACTOR

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    payload = {
        "metric": "inventory_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": dict(timings),
        "sf": sf,
    }
    if subset is not None:
        # Tag subset payloads so a SPARK_GRAFT_BENCH_ONLY total is never
        # mistaken for a full-sweep archive number (r11 ADVICE).
        payload["bench_subset"] = sorted(timings)
    else:
        payload["sweep_attempts"] = sweep_attempts
        if host_floor_missed:
            payload["host_floor_missed"] = True

    # Measurement protocol (pinned round 7): re-measure the top sweep
    # regressions vs last round's archived map ISOLATED, within this same
    # session, so machine-state sweep noise cannot masquerade as a code
    # regression. A query is only "regressed" if its isolated warm time
    # confirms the sweep delta.
    here = os.path.dirname(os.path.abspath(__file__))
    prev = previous_round_map(here, sf) if subset is None else {}
    deltas = sorted(
        (
            (timings[n] - prev[n], n)
            for n in timings
            if timings[n] >= 0 and prev.get(n, -1) >= 0 and timings[n] > prev[n]
        ),
        reverse=True,
    )[:10]
    if deltas:
        isolated: dict[str, dict[str, float]] = {}
        for delta, name in deltas:
            t0 = time.perf_counter()
            try:
                specs[name].build(spark, sf_dir).collect()
                iso = round(time.perf_counter() - t0, 3)
            except Exception as exc:
                print(f"bench: isolated re-measure {name} failed: {exc}", file=sys.stderr)
                iso = -1.0
            isolated[name] = {
                "sweep": timings[name],
                "prev_sweep": prev[name],
                "isolated": iso,
            }
            # Same sweep hygiene as the main loop: a re-measured build may
            # pin checkpoints that nothing later releases.
            release_session_checkpoints(spark)
        payload["deltas_isolated"] = isolated

    # Scale-ratio protocol (pinned round 8): when SPARK_GRAFT_BENCH_RATIO_BASE
    # names a smaller-sf archived map, every query whose sweep ratio vs that
    # base exceeds 10x is re-measured ISOLATED in this same warm session.
    # Rationale (r6/r7 evidence): long hot sweeps run measurably hotter than
    # isolated warm calls (llm_embedding_neardup 10.6 s in-sweep vs 4.38 s
    # isolated at sf1), so a >10x sweep ratio alone cannot distinguish a
    # superlinear plan from sweep adjacency heat — the isolated number is
    # the one to judge.
    ratio_base_path = os.environ.get("SPARK_GRAFT_BENCH_RATIO_BASE")
    if ratio_base_path and subset is None:
        try:
            with open(ratio_base_path) as fh:
                base_map = json.load(fh).get("queries", {})
        except (OSError, ValueError) as exc:
            print(f"bench: cannot read ratio base {ratio_base_path}: {exc}", file=sys.stderr)
            base_map = {}
        ratio_isolated: dict[str, dict[str, float]] = {}
        for name in sorted(timings):
            base = base_map.get(name, 0)
            if timings[name] <= 0 or not base or base <= 0:
                continue
            if timings[name] / base <= 10:
                continue
            t0 = time.perf_counter()
            try:
                specs[name].build(spark, sf_dir).collect()
                iso = round(time.perf_counter() - t0, 3)
            except Exception as exc:
                print(f"bench: ratio re-measure {name} failed: {exc}", file=sys.stderr)
                iso = -1.0
            ratio_isolated[name] = {
                "sweep": timings[name],
                "base": base,
                "ratio_sweep": round(timings[name] / base, 2),
                "isolated": iso,
                "ratio_isolated": round(iso / base, 2) if iso > 0 else -1.0,
            }
            release_session_checkpoints(spark)
        if ratio_isolated:
            payload["ratio_isolated"] = ratio_isolated

    # Ingestion parity as a number, not a smoke test: the reference's
    # identity is a syslog->Kafka producer, so the streaming replay's
    # sustained parse rate is the headline throughput figure.
    replay_wall = timings.get("stream_replay_throughput")
    if replay_wall and replay_wall > 0:
        from syslog_kafka_spark.plans.extras import replay_line_count

        # in-sweep sample leads the list; the post-sweep re-measure follows
        lps_samples.insert(0, replay_line_count() / replay_wall)
    if lps_samples:
        lps = round(sum(lps_samples) / len(lps_samples))
        payload["replay_lines_per_sec"] = lps
        payload["replay_lps_samples"] = [round(s) for s in lps_samples]
        # Host-speed normalization (pinned round 11): absolute sweep seconds
        # swing with host state (r9/r10 both needed hand adjudication — the
        # cache-free replay probe traced 197k -> 81k lines/s on identical
        # code). The probe doubles as a per-cut host-speed denominator:
        # normalized seconds = raw * (measured / reference lines-per-sec),
        # with the reference pinned at the quiet-host band floor. Compare
        # rounds on the normalized number; judge budgets on both.
        payload["host_ref_lines_per_sec"] = _HOST_REF_LINES_PER_SEC
        # host_speed_factor / value_host_normalized are FULL-SWEEP numbers
        # only (r11 ADVICE): a subset run's single in-sweep sample
        # normalizing a subset-only total is not comparable to archives.
        if subset is None:
            factor = round(lps / _HOST_REF_LINES_PER_SEC, 3)
            payload["host_speed_factor"] = factor
            payload["value_host_normalized"] = round(total * factor, 1)
            payload["budget_sec"] = _FULL_INVENTORY_BUDGET_SEC
            payload["vs_budget_raw"] = round(total / _FULL_INVENTORY_BUDGET_SEC, 3)
            payload["vs_budget_normalized"] = round(
                total * factor / _FULL_INVENTORY_BUDGET_SEC, 3
            )

    # The full per-query map always lands next to this script — the stdout
    # line is capped because the harness that records it keeps only a ~2000
    # char tail, and a truncated JSON line parses as nothing at all.
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"),
    )
    try:
        with open(full_path, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"bench: cannot write {full_path}: {exc}", file=sys.stderr)

    print(cap_line(payload))


if __name__ == "__main__":
    main()
