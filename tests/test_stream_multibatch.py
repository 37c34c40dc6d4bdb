"""Incremental-state proofs for the sketch/state streaming gates.

The driver gates run stream_cms_sketch_build, stream_session_transcripts,
stream_ivf_list_routing, stream_bloom_build, stream_hll_build,
stream_quality_filter and stream_ivf_refit_drift over SINGLE-file
fixtures — one microbatch — so their cross-batch claims (CMS partial
merge, session_window state merge across triggers, routing under
incremental arrival, Bloom counter merge, HLL register max-merge,
keep-rate monitor accumulation, refit SUM/COUNT sufficient-statistic
merge) would otherwise be asserted, not exercised. Each test here splits the gate's
input into ≥3 files,
replays them one-per-trigger (maxFilesPerTrigger=1), asserts ≥3
microbatches actually ran (and, for sessions, that at least one session
STRADDLES a trigger boundary), and hash-compares the drained result
against the SAME DuckDB oracle the driver gate uses — the exact pre-drain
plan, imported from the gate module, not a re-implementation.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from syslog_kafka_spark.plans.registry import load_all
from syslog_kafka_spark.plans.stream_gated import (
    cms_sketch_frame,
    ivf_occupancy_frame,
    session_transcript_frame,
    transcript_digest,
)
from syslog_kafka_spark.sources.readers import normalize_timestamps
from tests.conftest import assert_matches_oracle


def _split_parquet(src: str, dst_dir: str, n: int, sort_keys: list[str]):
    """Write ``src`` as ``n`` single-file chunks, contiguous in
    ``sort_keys`` order, into ``dst_dir``. Returns (sorted pyarrow table,
    cut offsets) so tests can reason about which rows land in which
    trigger."""
    t = pq.read_table(src).sort_by([(k, "ascending") for k in sort_keys])
    cuts = [round(i * t.num_rows / n) for i in range(n + 1)]
    for i in range(n):
        pq.write_table(
            t.slice(cuts[i], cuts[i + 1] - cuts[i]),
            os.path.join(dst_dir, f"f{i:02d}.parquet"),
        )
    return t, cuts


def _drain_counted(frame, mode: str):
    """Memory-sink drain that also reports how many microbatches ran."""
    name = f"mb_{uuid.uuid4().hex[:8]}"
    q = frame.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try:
        q.processAllAvailable()
        batch_ids = [p["batchId"] for p in q.recentProgress]
        n_batches = (max(batch_ids) + 1) if batch_ids else 0
    finally:
        q.stop()
    return frame.sparkSession.table(name), n_batches


def test_stream_cms_multibatch_partial_merge(spark, sf_dir, duck, tmp_path):
    """The CMS counters must merge across ≥3 microbatches to the same
    4×2048 table one batch produces — the aggregate's partial merge IS
    the sketch's counter-wise merge, and the oracle hash proves no token
    was dropped, duplicated, or mis-hashed at any trigger boundary."""
    d = tmp_path / "docs"
    d.mkdir()
    _split_parquet(os.path.join(sf_dir, "documents.parquet"), str(d), 3, ["doc_id"])
    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    result, n_batches = _drain_counted(cms_sketch_frame(raw), "complete")
    assert n_batches >= 3, f"expected ≥3 microbatches, ran {n_batches}"
    oracle = load_all()["stream_cms_sketch_build"].oracle
    assert_matches_oracle(
        result.orderBy("r", "b"), duck, oracle, name="cms multibatch"
    )


def test_stream_ivf_routing_multibatch(spark, sf_dir, duck, tmp_path):
    """Occupancy counts/min/max per IVF list must accumulate across ≥3
    arrival batches to exactly the batch-twin oracle: every vector routed
    once, to the same list, regardless of which trigger delivered it."""
    d = tmp_path / "embs"
    d.mkdir()
    _split_parquet(
        os.path.join(sf_dir, "embeddings.parquet"), str(d), 3, ["vec_id"]
    )
    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    result, n_batches = _drain_counted(ivf_occupancy_frame(raw), "complete")
    assert n_batches >= 3, f"expected ≥3 microbatches, ran {n_batches}"
    oracle = load_all()["stream_ivf_list_routing"].oracle
    assert_matches_oracle(
        result.orderBy("list_id"), duck, oracle, name="ivf multibatch"
    )


def test_stream_session_transcripts_multibatch_state_merge(
    spark, sf_dir, duck, tmp_path
):
    """session_window state must MERGE across triggers: events arrive in
    ts order over ≥4 microbatches, sessions straddle the trigger cuts
    (asserted from the data, not assumed), and every assembled transcript
    still hashes equal to the batch lag-gap oracle — extension of an open
    session and in-order token assembly across batch boundaries both
    proven, not asserted."""
    d = tmp_path / "events"
    d.mkdir()
    t = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by(
        [("ts", "ascending"), ("event_id", "ascending")]
    )

    # Replay the oracle's own sessionization in pandas and pick the three
    # trigger-cut positions INSIDE the longest gated sessions, so the cut
    # demonstrably splits open sessions across microbatches.
    df = t.to_pandas()
    df["row"] = np.arange(len(df))
    sub = df[df["user_id"] < 40].sort_values(["user_id", "ts", "event_id"])
    ts = sub["ts"]
    gap = (
        1_800_000_000_000
        if np.issubdtype(ts.dtype, np.integer)
        else pd.Timedelta(minutes=30)
    )
    new_sess = (sub["user_id"].diff() != 0) | (ts.diff() > gap)
    sub = sub.assign(sid=new_sess.cumsum())
    spans = sub.groupby("sid")["row"].agg(["min", "max", "count"])
    spans = spans[spans["count"] >= 2].sort_values("count", ascending=False)
    assert len(spans) >= 1, "fixture has no multi-event gated session"
    # a cut at position c splits session s iff min(s) < c <= max(s)
    inner = sorted(
        {int((lo + hi) // 2 + 1) for lo, hi in zip(spans["min"], spans["max"])}
    )
    picks: list[int] = []
    for c in inner:
        if 0 < c < len(df) and (not picks or c > picks[-1]):
            picks.append(c)
        if len(picks) == 3:
            break
    assert picks, "could not place a cut inside any session"
    cuts = [0, *picks, len(df)]
    for i in range(len(cuts) - 1):
        pq.write_table(
            t.slice(cuts[i], cuts[i + 1] - cuts[i]),
            os.path.join(str(d), f"f{i:02d}.parquet"),
        )

    # Straddle proof from the data: some session spans ≥2 chunk files.
    sub = sub.assign(
        file_idx=np.searchsorted(np.array(cuts[1:]), sub["row"], side="right")
    )
    straddling = sub.groupby("sid")["file_idx"].nunique().max()
    assert straddling >= 2, "no session straddles a trigger boundary"

    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    ev = normalize_timestamps(raw, "events").filter(F.col("user_id") < 40)
    drained, n_batches = _drain_counted(session_transcript_frame(ev), "complete")
    assert n_batches >= len(cuts) - 1, f"expected ≥{len(cuts) - 1} microbatches, ran {n_batches}"
    oracle = load_all()["stream_session_transcripts"].oracle
    assert_matches_oracle(
        transcript_digest(drained), duck, oracle, name="transcripts multibatch"
    )


def test_stream_bloom_multibatch_counter_merge(spark, sf_dir, duck, tmp_path):
    """Bloom position counters must merge across ≥3 microbatches to the
    same 64-bucket rollup one batch produces — the same incremental-state
    proof the CMS gate has."""
    from syslog_kafka_spark.plans.stream_gated import stream_bloom_build

    d = tmp_path / "docs_bloom"
    d.mkdir()
    _split_parquet(os.path.join(sf_dir, "documents.parquet"), str(d), 3, ["doc_id"])

    # the gate's own builder streams a directory when given one: point it
    # at the split corpus and force one file per trigger via a wrapper
    import syslog_kafka_spark.plans.stream_gated as sg
    from syslog_kafka_spark.operators.curation import ngram_hashes
    from syslog_kafka_spark.plans.llm_scale import _BLOOM_N, bloom_position_array
    import pyspark.sql.functions as F

    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    grams = ngram_hashes(raw, n=_BLOOM_N, salt="bloom-v1")
    pos = grams.select(F.explode(bloom_position_array()).alias("pos"))
    sketch = pos.groupBy("pos").agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    drained, n_batches = _drain_counted(sketch, "complete")
    assert n_batches >= 3, f"expected ≥3 microbatches, ran {n_batches}"
    rollup = (
        drained.groupBy(F.expr("pos div 1024").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_set_bits"),
            F.sum("hits").cast("bigint").alias("n_probe_hits"),
            F.min("pos").alias("min_pos"),
            F.max("pos").alias("max_pos"),
        )
        .orderBy("bucket")
    )
    oracle = load_all()["stream_bloom_build"].oracle
    assert_matches_oracle(rollup, duck, oracle, name="bloom multibatch")


def test_stream_hll_multibatch_register_merge(spark, sf_dir, duck, tmp_path):
    """HLL registers must max-merge across ≥3 microbatches to the same
    per-source estimates one batch produces — register-wise max is the
    sketch's merge, exercised here across trigger boundaries."""
    from syslog_kafka_spark.plans.llm_scale import (
        hll_estimate_columns,
        hll_register_frame,
    )
    from syslog_kafka_spark.functions.text import tokens
    import pyspark.sql.functions as F

    d = tmp_path / "docs_hll"
    d.mkdir()
    _split_parquet(os.path.join(sf_dir, "documents.parquet"), str(d), 3, ["doc_id"])
    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    tok = raw.select("source", F.explode(tokens("text")).alias("term"))
    drained, n_batches = _drain_counted(hll_register_frame(tok), "complete")
    assert n_batches >= 3, f"expected ≥3 microbatches, ran {n_batches}"
    sk = drained.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("used"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("z_used"),
    )
    oracle = load_all()["stream_hll_build"].oracle
    assert_matches_oracle(
        hll_estimate_columns(sk).orderBy("source"), duck, oracle,
        name="hll multibatch",
    )


def test_stream_quality_filter_multibatch(spark, sf_dir, duck, tmp_path):
    """Model-based filtering across ≥3 arrival batches: every document
    scores identically regardless of which trigger delivered it, and the
    two-row keep-rate state merges to the batch-twin oracle."""
    from syslog_kafka_spark.functions.text import tokens as _tokens
    from syslog_kafka_spark.operators.quality import quality_z_arrow

    d = tmp_path / "docs_quality"
    d.mkdir()
    _split_parquet(os.path.join(sf_dir, "documents.parquet"), str(d), 3, ["doc_id"])
    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    scored_z = quality_z_arrow(raw.select("doc_id", _tokens("text").alias("toks")))
    q_score = F.round(1.0 / (1.0 + F.exp(-F.col("z"))), 6)
    keep_counts = (
        scored_z.select("doc_id", q_score.alias("q_score"))
        .groupBy((F.col("q_score") >= 0.5).alias("model_keep"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("q_score"), 4).alias("mean_q_score"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )
    result, n_batches = _drain_counted(keep_counts, "complete")
    assert n_batches >= 3, f"expected ≥3 microbatches, ran {n_batches}"
    oracle = load_all()["stream_quality_filter"].oracle
    assert_matches_oracle(
        result.orderBy("model_keep"), duck, oracle, name="quality multibatch"
    )


def test_stream_ivf_refit_drift_multibatch(spark, sf_dir, duck, tmp_path):
    """The per-(list, dim) SUM/COUNT sufficient statistics must merge
    across ≥3 arrival batches to exactly the batch-audit oracle: a
    vector delivered in trigger 2 contributes to its list's mean
    identically to one delivered in trigger 0 (means are finished only
    at read time — the textbook mergeable-statistics property the
    streaming twin stakes its gate on)."""
    from syslog_kafka_spark.plans.stream_gated import (
        ivf_refit_finish,
        ivf_refit_partials_frame,
    )

    d = tmp_path / "embs_refit"
    d.mkdir()
    _split_parquet(
        os.path.join(sf_dir, "embeddings.parquet"), str(d), 3, ["vec_id"]
    )
    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    partials, n_batches = _drain_counted(ivf_refit_partials_frame(raw), "complete")
    assert n_batches >= 3, f"expected ≥3 microbatches, ran {n_batches}"
    oracle = load_all()["stream_ivf_refit_drift"].oracle
    assert_matches_oracle(
        ivf_refit_finish(partials), duck, oracle, name="ivf refit multibatch"
    )


def test_stream_bpe_multibatch_counter_merge(spark, sf_dir, duck, tmp_path):
    """Character-pair counters must merge across ≥3 arrival batches to
    exactly the batch oracle: a pair occurrence delivered in trigger 2
    counts identically to one delivered in trigger 0 (exact-integer
    state, bounded by |alphabet|² rows)."""
    from syslog_kafka_spark.plans.mining import _BPE_TOPK
    from syslog_kafka_spark.plans.stream_gated import (
        bpe_pair_counts_frame,
        bpe_topk_finish,
    )

    d = tmp_path / "docs_bpe"
    d.mkdir()
    _split_parquet(os.path.join(sf_dir, "documents.parquet"), str(d), 3, ["doc_id"])
    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    counts, n_batches = _drain_counted(bpe_pair_counts_frame(raw), "complete")
    assert n_batches >= 3, f"expected ≥3 microbatches, ran {n_batches}"
    oracle = load_all()["stream_bpe_merge_candidates"].oracle
    assert_matches_oracle(
        bpe_topk_finish(counts, _BPE_TOPK), duck, oracle, name="bpe multibatch"
    )


def test_stream_lsh_probe_multibatch(spark, sf_dir, duck, tmp_path):
    """The per-band candidate digest must accumulate across ≥3 probe
    microbatches to exactly the batch self-join's collision volume: each
    document's signature and band buckets are arrival-independent, the
    stream-static probe join is stateless, and the complete-mode monitor
    merges counts/checksums across triggers — hash-equal to the SAME
    DuckDB oracle the driver gate uses."""
    from syslog_kafka_spark.plans.stream_gated import lsh_probe_digest_frame

    d = tmp_path / "probe_docs"
    d.mkdir()
    _split_parquet(os.path.join(sf_dir, "documents.parquet"), str(d), 3, ["doc_id"])
    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    corpus = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    result, n_batches = _drain_counted(
        lsh_probe_digest_frame(raw, corpus), "complete"
    )
    assert n_batches >= 3, f"expected ≥3 microbatches, ran {n_batches}"
    oracle = load_all()["stream_lsh_probe_digest"].oracle
    assert_matches_oracle(
        result.orderBy("band"), duck, oracle, name="lsh probe multibatch"
    )


def test_stream_decontamination_multibatch(spark, sf_dir, duck, tmp_path):
    """The contamination digest must accumulate across ≥3 probe
    microbatches to exactly the batch recipe's verdicts: the Bloom
    bitmap is a static artifact (built once, before the stream starts),
    each document's flag decision is scan-local and arrival-independent,
    and the complete-mode 64-bucket monitor merges counts/checksums
    across triggers — hash-equal to the SAME DuckDB oracle the driver
    gate uses."""
    from syslog_kafka_spark.plans.stream_gated import bloom_probe_digest_frame

    d = tmp_path / "probe_docs"
    d.mkdir()
    _split_parquet(os.path.join(sf_dir, "documents.parquet"), str(d), 3, ["doc_id"])
    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    corpus = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    result, n_batches = _drain_counted(
        bloom_probe_digest_frame(raw, corpus), "complete"
    )
    assert n_batches >= 3, f"expected ≥3 microbatches, ran {n_batches}"
    oracle = load_all()["stream_decontamination_probe"].oracle
    assert_matches_oracle(
        result.orderBy("bucket"), duck, oracle, name="decontamination multibatch"
    )


def test_stream_fertility_multibatch_counter_merge(spark, sf_dir, duck, tmp_path):
    """The compression-curve digest must accumulate across ≥3 arrival
    batches to exactly the batch oracle: a token occurrence encoded in
    trigger 2 lands in the same (rank, bucket) counter as one encoded in
    trigger 0 (exact-integer state, 30 rows)."""
    from syslog_kafka_spark.plans.stream_gated import bpe_fertility_frame

    d = tmp_path / "docs_fert"
    d.mkdir()
    _split_parquet(os.path.join(sf_dir, "documents.parquet"), str(d), 3, ["doc_id"])
    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    digest, n_batches = _drain_counted(bpe_fertility_frame(raw), "complete")
    assert n_batches >= 3, f"expected ≥3 microbatches, ran {n_batches}"
    oracle = load_all()["stream_bpe_encode_fertility"].oracle
    assert_matches_oracle(
        digest.orderBy("merges_applied", "bucket"),
        duck,
        oracle,
        name="fertility multibatch",
    )


def test_stream_quality_gate_multibatch_ledger_merge(spark, sf_dir, duck, tmp_path):
    """The per-threshold kept/dropped ledgers must accumulate across ≥3
    arrival batches to exactly the batch-twin oracle: a document priced
    in trigger 2 lands in the same #thresholds counter rows as one
    priced in trigger 0 (all-integer state, 4 rows forever)."""
    from syslog_kafka_spark.plans.stream_gated import quality_gate_frame

    d = tmp_path / "docs_gate"
    d.mkdir()
    _split_parquet(os.path.join(sf_dir, "documents.parquet"), str(d), 3, ["doc_id"])
    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    ledger, n_batches = _drain_counted(quality_gate_frame(raw), "complete")
    assert n_batches >= 3, f"expected ≥3 microbatches, ran {n_batches}"
    oracle = load_all()["stream_quality_gate_monitor"].oracle
    assert_matches_oracle(
        ledger.orderBy("min_uniq_ratio"),
        duck,
        oracle,
        name="quality gate multibatch",
    )
