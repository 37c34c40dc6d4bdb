"""Two-decade scale probe: the scale-sensitive query set at sf1 AND sf10.

VERDICT r7 item 4: extend the scaling curve to two decades for the
queries whose shapes are the interesting ones — the sketch queries
(whose SHUFFLES are bounded by sketch size and should scale only with
the scan), the dedup/LSH pipelines (banded, should stay ~linear), the
block-kernel embedding pair scans (quadratic WITHIN label blocks by
construction — the probe records that honestly), and the scan-bound
TPC-H outlier from the r7 sf1 sweep.

Protocol (the r6/r7 measurement rules):
- one ``bench.first_touch`` per sf_dir before any timing (first-job
  JVM/scan costs ~6 s even at sf0.1, plus the Python-worker start);
- each query measured TWICE in the same session (call1 = includes any
  per-query cold cost: lambda warmup, cache fill; call2 = warm) — the
  r7 lesson that sweep-adjacent and cold numbers must not be compared
  across scales;
- ratios reported call2/call2 (warm/warm) and call1/call1.

Writes BENCH_SF10.json and prints a markdown table for BENCH_SF10.md.

Usage: python scripts/sf10_probe.py [--sf1 DIR] [--sf10 DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PROBE = [
    # sketches / bounded-state: shuffle size is fixed by construction,
    # time should scale with the scan+hash only (~linear at fixed cores)
    "llm_hll_vocab_cardinality",
    "llm_kmv_source_overlap",
    "llm_cms_heavy_hitters",
    "llm_length_quantile_sketch",
    "llm_bloom_decontamination",
    # banded dedup / LSH: candidate space bounded by buckets, ~linear
    # (llm_simhash_multiprobe left the probe in r9: its timed collect of
    # the raw pair set measures output transfer, not the operator — the
    # digest twin below is the benched face and carries the sf10 row;
    # llm_embedding_neardup likewise: its 108.9x quadratic is measured
    # and root-caused in BENCH_SF10.md r8, and the linear blocked
    # sibling below is the tier whose scaling matters now;
    # llm_minhash_lsh_pairs left the probe in r13 for the same reason —
    # its 161 s sf10 row timed the collect of the corpus-sized pair set,
    # and llm_minhash_band_digest below is the benched face that keeps
    # pairs on the executors)
    "llm_minhash_band_digest",
    "llm_lsh_occupancy_capped",
    "llm_dedup_then_lsh",
    "llm_containment_neardup",
    # linear window / join pipelines (r8 additions + the exact join)
    "llm_repeated_span_removal",
    "llm_ngram_novelty_curve",
    "llm_decontamination",
    # the r7 sf1 sweep outlier (scan-bound count-distinct over orders)
    "tpch_priority_wait_counts",
    # r9 extension (r8 verdict item 5): the r8 additions not yet measured
    # at two decades — the pair-volume-exposed LSH consumers, the frozen
    # model/index queries, and the bounded-state streaming twins
    "llm_dedup_threshold_sweep",
    "llm_cluster_cohesion_audit",
    "llm_minhash_jaccard_calibration",
    "llm_ivf_pq_topk",
    "llm_hashed_quality_classifier",
    "stream_bloom_build",
    "stream_hll_build",
    "stream_quality_filter",
    # r9 queries: the linear (label × IVF-list)-blocked near-dup sibling
    # (vs llm_embedding_neardup's measured 108.9x quadratic), the digest
    # that replaced the multiprobe collect in the bench, and the two new
    # corpus passes
    "llm_embedding_neardup_blocked",
    # r12: the blocked tier's BENCHED face (per-label digest — pairs
    # never leave the executors); the raw pair face above stays for
    # continuity but its collect dominates its own row
    "llm_neardup_pair_digest",
    "llm_simhash_pair_digest",
    "llm_idf_topk_keywords",
    "llm_perplexity_buckets",
    "llm_bpe_merge_candidates",
    "llm_ivf_refit_drift_audit",
    "stream_ivf_refit_drift",
    "stream_bpe_merge_candidates",
    # r10 queries: the frozen-64 re-fit near-dup tier (the √N rule as a
    # gated artifact — its pipeline ratio vs the frozen-16 sibling IS the
    # deliverable), the iterated BPE merge-apply loop (per-iteration work
    # must stay vocab-bounded), and the streaming LSH probe twin (stateless
    # stream-static probe; should track minhash_pairs_banded's linear tier)
    "llm_embedding_neardup_refit64",
    "llm_bpe_merge_apply",
    "stream_lsh_probe_digest",
    # late-r10 registrations (first probe rows measured standalone in
    # BENCH_SF10.md r10; in-probe from r11): the online Bloom
    # decontamination gate and the frozen-merge corpus encoder
    "stream_decontamination_probe",
    "llm_bpe_encode_frozen",
    # r11: the merge-table-as-data encoder (Arrow kernel, vocab-bounded
    # Python — should track llm_bpe_encode_frozen's scan-bound tier; the
    # kernel cost is |vocab|-fixed so the ratio is the corpus pass alone)
    "llm_bpe_encode_table",
    # r11: the encoder's ingest face (per-occurrence Arrow encode,
    # 30-row state — growth should be the token scan alone)
    "stream_bpe_encode_fertility",
    # r13 registrations (first decade rows): the cap-pricing sweep and
    # soft-weight face ride the shared banded pair frame (their growth
    # should track llm_minhash_band_digest's); the recall audit's exact
    # tier is queries x corpus by construction (bounded by the fixed
    # 10-query panel, so growth is the corpus side of the dot products);
    # KL drift and the gate-pricing sweep are token-scan passes over
    # broadcast models; the streaming gate monitor's state is
    # (gate x source)-bounded.
    "llm_lsh_cap_sweep",
    "llm_soft_dedup_weights",
    "llm_ann_recall_audit",
    "llm_unigram_kl_drift",
    "llm_quality_gate_sweep",
    "stream_quality_gate_monitor",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf1", default=os.path.join(REPO, ".bench", "sf1"))
    ap.add_argument("--sf10", default=os.path.join(REPO, ".bench", "sf10"))
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    from bench import _HOST_FLOOR_FACTOR, _HOST_REF_LINES_PER_SEC, first_touch
    from syslog_kafka_spark.plans.registry import load_all
    from syslog_kafka_spark.session import get_spark

    spark = get_spark("sf10-probe")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    probe = [q for q in PROBE if not args.only or q in args.only.split(",")]

    # Host-floor marker (r12 verdict item #6 — the bench.py policy ported
    # to the decade probe): sample the sf-independent syslog replay AFTER
    # each leg (never before: a leading probe absorbs one-time streaming
    # machinery cost and breaks cross-round probe comparability — r11
    # review finding) and declare the host factor in the payload. The
    # probe is NOT re-swept on a miss (a ~50-min sweep is re-cut by hand);
    # the marker makes a loaded-host decade archive say so in-payload.
    host_samples: list[float] = []
    replay_warmed = False

    def replay_host_sample() -> None:
        from syslog_kafka_spark.plans.extras import replay_line_count

        nonlocal replay_warmed
        try:
            if not replay_warmed:
                # Under --only the filtered probe may contain no streaming
                # query, so the FIRST sample would absorb one-time
                # streaming-machinery init inside its timed window and
                # deflate the host factor (possibly stamping
                # host_floor_missed into a re-cut that then gets
                # hand-merged). One untimed warmup drain makes every timed
                # sample a warm-replay number, full run and --only alike.
                specs["stream_replay_throughput"].build(spark, args.sf1).collect()
                replay_warmed = True
            t0 = time.perf_counter()
            specs["stream_replay_throughput"].build(spark, args.sf1).collect()
            host_samples.append(replay_line_count() / (time.perf_counter() - t0))
            print(f"host probe: {host_samples[-1]:.0f} lines/s", flush=True)
        except Exception as exc:
            print(f"sf10_probe: replay host probe failed: {exc}", file=sys.stderr)

    results: dict[str, dict[str, float]] = {q: {} for q in probe}
    for tag, sf_dir in (("sf1", args.sf1), ("sf10", args.sf10)):
        first_touch(spark, sf_dir)
        for q in probe:
            for call in ("call1", "call2"):
                t0 = time.perf_counter()
                specs[q].build(spark, sf_dir).collect()
                dt = round(time.perf_counter() - t0, 2)
                results[q][f"{tag}_{call}"] = dt
                print(f"{tag} {q} {call}: {dt}s", flush=True)
            # Cache hygiene BETWEEN queries (never between call1/call2 —
            # call2's point is the warm session cache): at sf10 the
            # accumulated LSH bases of every prior query otherwise exhaust
            # the one local[*] heap (GCLocker crash on the 8g default).
            # r9: the engine's own LRU (operators/session_cache) now bounds
            # growth in-band; this drop only resets warm-state between
            # probe rows so each query's call1 is honestly cold-cache.
            from syslog_kafka_spark.operators.session_cache import (
                clear_session_caches,
            )

            clear_session_caches(spark)
        replay_host_sample()

    for q, r in results.items():
        r["ratio_warm"] = round(r["sf10_call2"] / r["sf1_call2"], 2)
        r["ratio_cold"] = round(r["sf10_call1"] / r["sf1_call1"], 2)

    factor = (
        sum(host_samples) / len(host_samples) / _HOST_REF_LINES_PER_SEC
        if host_samples
        else None
    )
    # Reserved key, not a query row: markdown rendering iterates `probe`,
    # and hand-merges of --only re-cuts must preserve it.
    results["_host"] = {
        "replay_lps_samples": [round(s, 1) for s in host_samples],
        "host_speed_factor": round(factor, 3) if factor is not None else None,
        "host_floor_missed": factor is None or factor < _HOST_FLOOR_FACTOR,
    }
    print(
        f"host_speed_factor: {results['_host']['host_speed_factor']}"
        f" (floor_missed={results['_host']['host_floor_missed']})",
        flush=True,
    )

    out = os.path.join(REPO, "BENCH_SF10.json")
    with open(out, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)

    print("\n| query | sf1 warm | sf10 warm | warm ratio | sf1 first | sf10 first | first ratio |")
    print("|---|---|---|---|---|---|---|")
    for q in probe:
        r = results[q]
        print(
            f"| {q} | {r['sf1_call2']} | {r['sf10_call2']} | {r['ratio_warm']}x"
            f" | {r['sf1_call1']} | {r['sf10_call1']} | {r['ratio_cold']}x |"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
