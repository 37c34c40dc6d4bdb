"""Contract test for the bench CLI — the external driver parses bench.py's
single JSON line, so its shape is product surface, not an implementation
detail. Runs a 3-query smoke subset in a subprocess (own JVM) to keep the
suite fast while exercising the real entry point end to end.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_emits_one_wellformed_json_line(sf_dir, tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_ONLY="agg_pricing_summary,sort_top_orders,scalar_string_funcs",
        # never clobber the round's headline BENCH_FULL.json with a
        # 3-query smoke map — the full record is a per-round artifact
        SPARK_GRAFT_BENCH_FULL=str(tmp_path / "BENCH_FULL.json"),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.strip()]
    assert len(lines) == 1, f"bench must print exactly one line, got: {lines}"
    d = json.loads(lines[0])
    assert set(d) == {"metric", "value", "unit", "queries", "sf", "bench_subset"}
    assert d["unit"] == "sec" and d["metric"] == "inventory_wall_clock"
    assert set(d["queries"]) == {
        "agg_pricing_summary", "sort_top_orders", "scalar_string_funcs"
    }
    # subset payloads are tagged (r11 ADVICE) so a BENCH_ONLY total is
    # never mistaken for a full-sweep archive number; host normalization
    # fields are full-sweep-only for the same reason
    assert d["bench_subset"] == sorted(d["queries"])
    assert "host_speed_factor" not in d and "value_host_normalized" not in d
    assert all(t >= 0 for t in d["queries"].values()), "a smoke query failed"
    assert abs(d["value"] - sum(d["queries"].values())) < 0.01
    assert d["sf"] is not None
    assert (tmp_path / "BENCH_FULL.json").exists()  # redirected, not repo-root


def test_replay_throughput_meets_streaming_floor(spark, sf_dir, tmp_path):
    """Ingestion parity gate: the replay probe (510k syslog lines through
    the streaming parse) must sustain >= 50k lines/s — BASELINE.md's
    derived streaming budget, 50x the reference's published 1k
    records/s/partition floor. Measured ~216k lines/s on this host, so
    the floor carries a >4x machine-variance margin.

    Measurement order (r13 verdict item #1 — the old shape shipped a red
    VERIFY on an environmental failure): the probe first runs IN-PROCESS
    through the suite's own session, so it never races a second Spark JVM
    against the one pytest already holds (the contention that measured
    25k lines/s on a host whose standalone bench read 205k the same day).
    One un-timed warm-up run absorbs the session's streaming-machinery
    bring-up (r11: the 2nd replay in a session is still 1.9x slower than
    the 3rd), then up to two timed runs. Only if the in-process path
    misses does the original subprocess probe (bench.py, own JVM) get two
    attempts — the floor itself is asserted at full strength on the best
    sample either way; no measurement path weakens it."""
    import time

    from syslog_kafka_spark.plans.extras import replay_line_count
    from syslog_kafka_spark.plans.registry import load_all

    spec = load_all()["stream_replay_throughput"]
    spec.build(spark, sf_dir).collect()  # machinery warm-up, not timed
    rates = []
    for _attempt in range(2):
        t0 = time.perf_counter()
        spec.build(spark, sf_dir).collect()
        rates.append(replay_line_count() / (time.perf_counter() - t0))
        if rates[-1] >= 50_000:
            return
    # In-process misses are rare (no co-tenant JVM); arbitrate with the
    # real bench entry point before declaring a regression.
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_ONLY="stream_replay_throughput",
        SPARK_GRAFT_BENCH_FULL=str(tmp_path / "BENCH_FULL.json"),
    )
    for _attempt in range(2):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
            check=True,
        )
        d = json.loads(out.stdout.strip().splitlines()[-1])
        rate = d.get("replay_lines_per_sec")
        assert rate is not None, f"bench line missing replay_lines_per_sec: {d}"
        rates.append(rate)
        if rate >= 50_000:
            return
    assert max(rates) >= 50_000, (
        f"streaming ingest below floor on every sample: {sorted(rates)} lines/s"
    )


def test_cap_line_fits_and_keeps_signal():
    """The stdout bench line must survive the harness's ~2000-char tail:
    full-inventory-sized maps get capped under budget with failures and
    the slowest queries retained, and the result stays parseable JSON."""
    import json

    import bench

    timings = {f"query_name_number_{i:03d}": round(0.5 + i * 0.01, 3) for i in range(150)}
    timings["slowest_query"] = 99.9
    timings["failed_query"] = -1.0
    payload = {
        "metric": "inventory_wall_clock",
        "value": 1.0,
        "unit": "sec",
        "queries": dict(timings),
        "sf": 0.1,
    }
    line = bench.cap_line(payload, line_budget=1900)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert "failed_query" in parsed["queries"], "failures must survive the cap"
    assert "slowest_query" in parsed["queries"], "slowest queries must survive the cap"
    assert parsed["queries_omitted"] == len(timings) - len(parsed["queries"])
    assert parsed["queries_full"] == "BENCH_FULL.json"

    small = {
        "metric": "inventory_wall_clock",
        "value": 1.0,
        "unit": "sec",
        "queries": {"q1": 0.5},
        "sf": 0.1,
    }
    line = bench.cap_line(dict(small))
    assert json.loads(line) == small, "small payloads pass through uncapped"


def test_previous_round_map_sf_guard(tmp_path):
    """The r7 measurement protocol re-measures sweep regressions against
    the newest archived BENCH_FULL_r*.json — but ONLY when that map was
    taken at the same scale factor (a cross-scale delta is meaningless),
    and the newest round must win when several are archived."""
    import bench

    (tmp_path / "BENCH_FULL_r06.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"q": 1.0}})
    )
    (tmp_path / "BENCH_FULL_r07.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"q": 2.0}})
    )
    assert bench.previous_round_map(str(tmp_path), 0.1) == {"q": 2.0}
    assert bench.previous_round_map(str(tmp_path), 0.01) == {}  # sf mismatch
    assert bench.previous_round_map(str(tmp_path / "empty"), 0.1) == {}
    (tmp_path / "BENCH_FULL_r08.json").write_text("{not json")
    assert bench.previous_round_map(str(tmp_path), 0.1) == {}  # unreadable -> no protocol


def test_cap_line_preserves_deltas_isolated():
    """deltas_isolated is the round's regression verdict — capping must
    drop fast per-query timings, never the isolated re-measurements."""
    import bench

    payload = {
        "metric": "inventory_wall_clock",
        "value": 1.0,
        "unit": "sec",
        "queries": {f"q{i:03d}": 0.5 + i * 0.01 for i in range(150)},
        "sf": 0.1,
        "deltas_isolated": {
            f"regressed_{i}": {"sweep": 9.0, "prev_sweep": 4.0, "isolated": 4.1}
            for i in range(10)
        },
    }
    line = bench.cap_line(payload, line_budget=1900)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert len(parsed["deltas_isolated"]) == 10, "capping must not touch deltas"


def test_sf1_cipher_preserves_dup_structure():
    """The sf1 generator's per-replica Caesar cipher must (a) keep
    identical texts identical within a replica (dup groups scale exactly
    by the replica count) and (b) share no alphabetic vocabulary across
    replicas (each replica is its own near-dup universe)."""
    from scripts.make_sf1 import _cipher_table

    t1, t2 = _cipher_table(1), _cipher_table(2)
    a, b = "the quick Brown fox 42!", "the quick Brown fox 42!"
    assert a.translate(t1) == b.translate(t1)  # dup-preserving
    assert a.translate(t1) != a.translate(t2)  # replica-distinct
    assert a.translate(t1) != a
    # injective: decipher by shifting back recovers the original
    inv = {v: k for k, v in t1.items()}
    assert a.translate(t1).translate(inv) == a
    # vocabulary disjoint: no shared alphabetic token across replicas
    w1 = set(a.translate(t1).split())
    w2 = set(a.translate(t2).split())
    shared = {w for w in w1 & w2 if any(c.isalpha() for c in w)}
    assert not shared


def test_python_warmup_failure_is_logged_not_raised(caplog):
    """A failed worker warm-up must not fail the first touch, and must
    not be silent either: it logs one warning naming the error."""
    from bench import _warm_python_workers

    class BrokenSession:
        @property
        def sparkContext(self):
            raise RuntimeError("no executors")

    with caplog.at_level("WARNING", logger="bench"):
        _warm_python_workers(BrokenSession())
    assert [r.getMessage() for r in caplog.records] == [
        "Python worker warm-up failed: RuntimeError: no executors"
    ]
