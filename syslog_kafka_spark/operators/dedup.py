"""Deduplication operators for large-scale training-data pipelines.

Four tiers, all DataFrame-native (no Python in the hot path):

- exact_dedup: normalize → md5 → one hash-aggregate. One shuffle on the
  digest; survivors are min-id per group (deterministic).
- minhash_pairs_banded: shingle → MinHash signature → band buckets →
  bucket equi-join → exact Jaccard verify. The join shuffles on
  (band, band_hash) — candidate pairs only, never all pairs.
- simhash64: 64-bit SimHash via per-bit majority over token hashes —
  computed with 64 aggregate expressions in ONE groupBy pass.
- jaccard_pairs: exact shingle-set Jaccard for candidate pairs produced by
  any blocking scheme.

At 100 TB the blocking key (band hash / prefix) is what bounds the join;
none of these operators ever materializes the O(n^2) pair space.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from syslog_kafka_spark.operators.session_cache import (
    release_checkpoint,
    session_cache,
    session_checkpoint,
)
from syslog_kafka_spark.sources.readers import spread
from syslog_kafka_spark.functions.hashes import hash64


def normalized(text: Column | str) -> Column:
    """Canonical text form for dedup: lower + trim + whitespace collapse."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Drop exact duplicates (after normalization), keeping the smallest id.

    Returns the surviving rows of ``df``. Implemented as min-id-per-digest
    + semi-join back, so only the (digest, min_id) pairs shuffle — not the
    full rows.
    """
    digest = F.md5(normalized(text_col)).alias("_digest")
    survivors = (
        df.select(digest, F.col(id_col))
        .groupBy("_digest")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(survivors, id_col, "left_semi")


def duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per duplicate group: digest, size, surviving (min) id."""
    return (
        df.select(F.md5(normalized(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.count("*").alias("group_size"), F.min(id_col).alias("survivor_id"))
    )


def cached_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Session-cached :func:`duplicate_groups` — one corpus aggregate
    shared by every exact-dedup consumer in a sweep (the groups face and
    the dedup-then-LSH composite's group-size weighting read the same
    frame). The entry is one (digest, bigint, id) row per UNIQUE text —
    far lighter than the shingle base living in the same LRU. Grouping
    on the md5 digest (not the normalized text) keeps the shuffle rows
    at digest width; min-id and count per group are unchanged."""
    return session_cache(duplicate_groups(df, text_col, id_col))


def cached_minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 5,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Session-cached verified LSH pair set at threshold 0 — every
    candidate pair with its exact shingle Jaccard, (id_a, id_b, jaccard).

    The r13 optimization round measured SEVEN same-parameter consumers
    (pairs face, components, cohesion audit, degree dist, soft-dedup
    weights, leakage split, threshold sweep) each independently re-running
    the band self-join + distinct + two shingle join-backs + array
    intersects on top of the shared cached base — the most expensive
    per-query tail in the llm family. Threshold 0 keeps every candidate,
    so a thresholded consumer is exactly ``.filter(jaccard >= t)`` over
    this frame (the jaccard expression is unchanged — bit-identical to
    verifying at ``t`` directly, which the driver hash gates confirm),
    and the sweep's 0.0 face reads it as-is. One cache entry: id-width
    rows + one double — far lighter than the shingle/signature base
    entry that already lives in the same LRU. At 100 TB this is the
    materialized "verified near-dup edges" intermediate every audit in a
    production curation run reads; computing it once per refresh is the
    point of having it.

    Storage-wise this is a projection of :func:`cached_minhash_pairs_banded`
    (ONE cache entry serves both faces); the public (id_a, id_b, jaccard)
    schema is unchanged.

    SCALE BOUND (r13 verdict item #6): threshold 0 means the entry is the
    full CANDIDATE ledger — every banded collision pair including
    jaccard≈0 noise — and the candidate count is the one quantity the r12
    round proved superlinear on hot-bucket corpora (a bucket of n docs
    contributes n·(n-1)/2 pairs). Measured entry sizes (r14 probe, this
    corpus family, cache entry incl. the shared base kernel): 511,668
    pair rows / ~103 MiB at sf1; 6,371,232 rows / ~1.06 GiB at sf10 —
    12.5x rows on 10x corpus, i.e. MILDLY superlinear already, and the
    per-entry cost is no longer negligible at a decade above bench
    scale. The rule for a deployment: if the bucket
    occupancy histogram (llm_lsh_band_stats / _lsh_bucket_occupancy) shows
    hot buckets — max occupancy at B docs costs O(B²) pair rows — build
    the shared frame occupancy-capped (skip buckets above the
    llm_lsh_occupancy_capped cap, which bounds the ledger at cap²·#buckets)
    or floor the verify at the smallest jaccard any consumer uses, and
    let the capped faces that need the full ledger run their private
    pipeline instead. Hot-bucket corpora are exactly where the UNSHARED
    per-face pipelines are superlinear too — the cap is the fix at any
    sharing level, not a cost of sharing."""
    return cached_minhash_pairs_banded(
        df, text_col, id_col, k=k, n_hashes=n_hashes, bands=bands
    ).select("id_a", "id_b", "jaccard")


def minhash_pairs_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 5,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """The threshold-0 verified LSH pair set WITH per-band attribution
    and per-pair verify ingredients: (id_a, id_b, _occ0.._occ{bands-1},
    _sz_a, _sz_b, _inter, _sig_eq, jaccard), where ``_occ{b}`` is the
    occupancy of the bucket the pair shares in band ``b`` (NULL when the
    pair does not collide in that band — within one band a document has
    exactly one bucket, so "the" shared bucket is well-defined),
    ``_sz_a``/``_sz_b`` are the distinct-shingle counts of each side,
    ``_inter`` their intersection size, and ``_sig_eq`` the number of
    matching MinHash signature components.

    Every per-pair quantity ANY LSH-candidate consumer reports derives
    from these integer columns without re-running the candidate
    self-join or the array verifies:

    - first colliding band  = min b with _occ{b} IS NOT NULL
      (llm_minhash_band_digest's attribution),
    - min shared-bucket occupancy = least(_occ*) (llm_lsh_cap_sweep's
      cap-survival rule: a pair survives cap C iff min occupancy <= C),
    - first KEPT band under a cap = min b with _occ{b} <= cap
      (llm_lsh_occupancy_capped's attribution — hot buckets are skipped
      per band, so survival and attribution follow the per-band
      occupancies, not the global min),
    - containment_ab / _ba = _inter / _sz_a (resp. _sz_b)
      (llm_containment_neardup — same CASE-on-zero as the array form),
    - signature-estimated Jaccard = _sig_eq / n_hashes
      (llm_minhash_jaccard_calibration's est; exact is ``jaccard``).

    The occupancy ledger aggregates on the same (_band, _bucket) key the
    candidate self-join shuffles on, so attaching it re-uses that
    exchange; the join-back of shingle/signature arrays happens once,
    AFTER the pair space collapses to distinct candidates (the r7 rule),
    and the arrays are dropped before the frame materializes — the cache
    entry is id-width integers plus one double per pair."""
    base = cached_lsh_base(df, k, n_hashes, text_col, id_col)
    banded = banded_buckets(base, n_hashes, bands)
    occ = banded.groupBy("_band", "_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    left = banded.join(occ, ["_band", "_bucket"]).select(
        F.col("_id").alias("id_a"), "_band", "_bucket", "_n"
    )
    right = banded.select(F.col("_id").alias("id_b"), "_band", "_bucket")
    pairs = (
        left.join(right, ["_band", "_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            *[
                F.min(F.when(F.col("_band") == b, F.col("_n"))).alias(f"_occ{b}")
                for b in range(bands)
            ]
        )
    )
    sh_a = base.select(
        F.col("_id").alias("id_a"),
        F.col("_sh").alias("sh_a"),
        F.col("_sig").alias("sig_a"),
    )
    sh_b = base.select(
        F.col("_id").alias("id_b"),
        F.col("_sh").alias("sh_b"),
        F.col("_sig").alias("sig_b"),
    )
    with_arrays = pairs.join(sh_a, "id_a").join(sh_b, "id_b")
    ints = with_arrays.select(
        "id_a",
        "id_b",
        *[f"_occ{b}" for b in range(bands)],
        F.size("sh_a").alias("_sz_a"),
        F.size("sh_b").alias("_sz_b"),
        F.size(F.array_intersect("sh_a", "sh_b")).alias("_inter"),
        F.size(
            F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
        ).alias("_sig_eq"),
    )
    # Same arithmetic as the inline array form: inter cast to double
    # first, union = sz_a + sz_b - inter(double) — bit-identical jaccard.
    inter = F.col("_inter").cast("double")
    union = F.col("_sz_a") + F.col("_sz_b") - inter
    verified = ints.withColumn(
        "jaccard", F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    )
    return verified.filter(F.col("jaccard") >= 0.0)


def cached_minhash_pairs_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 5,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Session-cached :func:`minhash_pairs_banded` — the ONE materialized
    pair frame behind the plain (id_a, id_b, jaccard) consumers, the
    three LSH digest faces, the containment face, and the calibration
    audit. The extra integer columns cost a few bytes per id-width pair
    row; sharing them removes five whole candidate-join + verify
    pipelines from the bench sweep."""
    return session_cache(
        minhash_pairs_banded(
            df, text_col, id_col, k=k, n_hashes=n_hashes, bands=bands
        )
    )


def lsh_base_arrow(df: DataFrame, k: int, n_hashes: int) -> DataFrame:
    """(_id, _sh, _sig) per document via a mapInArrow kernel: distinct
    60-bit shingle hashes (md5-derived, first-occurrence order) and the
    MinHash signature, computed in hashlib/numpy — bit-identical to the
    expression pipeline (hashed_shingles + minhash_signature_from_hashes)
    and to the DuckDB oracle twins: same md5[:15] 60-bit values, same
    31-bit mask, same (a*h+b) mod P affine family (all products < 2^62,
    no int64 overflow), min over the same set. Adopted in r6 after the
    winnowing kernel win: shingle+signature hashing is the most
    per-row-expensive stage in the repo, and interpreted array lambdas
    paid both a per-element cost and a per-JVM warmup; the kernel cut
    the cold sf1 LSH base build ~4x. Expects (_id, _norm) input; the id
    column passes through untouched, so any caller id type works."""
    import hashlib

    from syslog_kafka_spark.functions.hashes import _MINHASH_P, _minhash_coeffs

    coeffs = _minhash_coeffs(n_hashes)
    id_type = df.schema["_id"].dataType.simpleString()

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        A = np.array([a for a, _ in coeffs], dtype=np.int64)
        B = np.array([b for _, b in coeffs], dtype=np.int64)
        # Shingle-hash memo, persistent across the task's batches: natural
        # k-gram vocabularies are tiny relative to their occurrence counts
        # (measured 2k distinct 5-grams across 1M per-doc occurrences at
        # sf0.1), so memoizing turns ~1M md5 calls into ~2k per task.
        # Values are exactly the md5-derived ints — output is unchanged.
        # Capped: on adversarial high-entropy text (hex dumps, random ids)
        # distinct grams approach occurrence counts and an unbounded dict
        # would hold GBs per task; past the cap new grams hash uncached.
        memo: dict[str, int] = {}
        MEMO_CAP = 1 << 20

        def gram_hash(g: str) -> int:
            h = memo.get(g)
            if h is None:
                h = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                if len(memo) < MEMO_CAP:
                    memo[g] = h
            return h

        for batch in batches:
            texts = batch.column("_norm").to_pylist()
            out_sh: list[list[int] | None] = []
            out_sig: list[list[int] | None] = []
            for t in texts:
                if t is None:
                    out_sh.append(None)
                    out_sig.append(None)
                    continue
                n = max(len(t) - (k - 1), 1)
                # dict preserves first-occurrence order = array_distinct
                grams = dict.fromkeys(t[i : i + k] for i in range(n))
                hs = np.fromiter(
                    (gram_hash(g) for g in grams),
                    dtype=np.int64,
                    count=len(grams),
                )
                hs = hs[np.sort(np.unique(hs, return_index=True)[1])]  # hash collisions
                h31 = hs & 0x7FFFFFFF
                sig = ((h31[:, None] * A[None, :] + B[None, :]) % _MINHASH_P).min(axis=0)
                out_sh.append(hs.tolist())
                out_sig.append(sig.tolist())
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("_id"),  # 1:1 rows — original type preserved
                    pa.array(out_sh, pa.list_(pa.int64())),
                    pa.array(out_sig, pa.list_(pa.int64())),
                ],
                ["_id", "_sh", "_sig"],
            )

    return df.mapInArrow(
        kernel, f"_id {id_type}, _sh array<bigint>, _sig array<bigint>"
    )


def banded_buckets(base: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(_id, _band, _bucket) LSH bucket keys from a (…, _sig) base frame:
    each band's bucket is hash64 of the comma-joined signature slice.
    ONE definition shared by the batch candidate self-join
    (minhash_pairs_banded) and the streaming probe twin
    (stream_lsh_probe_digest) so the bucket arithmetic cannot de-twin.
    Pure select + posexplode — drops into batch or streaming plans."""
    rows_per_band = n_hashes // bands
    return base.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    hash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("_sig")[i]
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_band", "_bucket"),
    )


def cached_lsh_base(
    df: DataFrame, k: int, n_hashes: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The session-cached (_id, _shingles, _sig) MinHash base — ONE
    construction (normalize → spread → Arrow kernel → session_cache)
    shared by the batch candidate pipeline and the streaming probe twin.
    The sharing is the point: both callers must produce semanticHash-
    identical plans so the LRU holds one corpus-sized entry, not two,
    and the probe's bucket inputs cannot drift from the batch pair
    pipeline's. spread() first: a single-file scan is ONE split and the
    per-doc hashing kernel parallelizes over splits."""
    return session_cache(
        lsh_base_arrow(
            spread(
                df.select(
                    F.col(id_col).alias("_id"),
                    normalized(text_col).alias("_norm"),
                )
            ),
            k,
            n_hashes,
        )
    )


def jaccard_expr(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document over whitespace tokens — the
    mapInArrow kernel path (r8, the lsh_base_arrow/winnowing pattern):
    normalization and tokenization stay Spark expressions (string
    semantics identical to the oracle), the kernel memo-hashes tokens
    and majority-votes bits in vectorized numpy. Bit-identical to
    :func:`simhash64_expr` (pinned by tests/test_llm_ops.py) and to the
    DuckDB twin — pure integer arithmetic on the same md5[:15] values.

    Why the kernel: the expression pipeline explodes every token and
    runs 61 aggregate columns through a hash exchange (md5 per token
    occurrence, 60 shift/AND terms per row). The kernel computes each
    signature LOCALLY — no explode, no exchange, md5 memoized over the
    task vocabulary — measured 1.81 s → 0.97 s warm at sf1 (50k docs)
    for the signature pass. (The downstream multiprobe QUERY's wall
    time barely moves: profiling showed it is output-bound — 5.3M
    verified pairs at sf1, and the bench protocol collects them; the
    pair pipeline itself re-counts in 1.5 s warm.)"""
    id_type = df.schema[id_col].dataType.simpleString()
    toks_frame = spread(
        df.select(
            F.col(id_col).alias("_id"),
            F.split(normalized(text_col), " ").alias("_toks"),
        )
    )

    def kernel(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        W = np.arange(60, dtype=np.int64)
        memo: dict[str, int] = {}
        MEMO_CAP = 1 << 20

        def tok_hash(t: str) -> int:
            h = memo.get(t)
            if h is None:
                h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                if len(memo) < MEMO_CAP:
                    memo[t] = h
            return h

        for batch in batches:
            ids = batch.column("_id").to_pylist()
            toks = batch.column("_toks").to_pylist()
            out_ids, out_sims = [], []
            # flatten the batch's tokens once; reduceat sums bits per doc
            keep = [(i, tl) for i, tl in zip(ids, toks) if tl is not None]
            if keep:
                counts = np.array([len(tl) for _, tl in keep], dtype=np.int64)
                flat = np.fromiter(
                    (tok_hash(t) for _, tl in keep for t in tl),
                    dtype=np.int64,
                    count=int(counts.sum()),
                )
                bits = ((flat[:, None] >> W) & 1).astype(np.uint8)
                offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
                sums = np.add.reduceat(bits.astype(np.int64), offsets, axis=0)
                # split(normalized, ' ') never yields an empty array, so
                # every kept doc has >= 1 token and reduceat is aligned
                majority = (sums * 2 > counts[:, None]).astype(np.int64)
                sims = (majority << W).sum(axis=1)
                out_ids = [i for i, _ in keep]
                out_sims = sims.tolist()
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, batch.column("_id").type),
                    pa.array(out_sims, pa.int64()),
                ],
                ["_id", "simhash"],
            )

    return toks_frame.mapInArrow(
        kernel, f"_id {id_type}, simhash bigint"
    ).withColumnRenamed("_id", id_col)


def simhash64_expr(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The pure-expression SimHash (pre-r8 production path, kept as the
    kernel's parity pin): single explode + ONE groupBy with 60
    conditional-sum aggregates (bit i set when the majority of token
    hashes have bit i set). No UDFs; the shuffle carries 61 ints per
    doc."""
    tokens = spread(
        df.select(F.col(id_col), normalized(text_col).alias("_nt"))
    ).select(
        F.col(id_col), F.explode(F.split(F.col("_nt"), " ")).alias("_tok")
    ).withColumn("_h", hash64(F.col("_tok")))

    bit_sums = [
        F.sum(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1))).alias(f"_b{i}")
        for i in range(60)  # hash64 is 60 bits
    ]
    agg = tokens.groupBy(id_col).agg(F.count("*").alias("_n"), *bit_sums)
    sim = None
    for i in range(60):
        bit = F.when(F.col(f"_b{i}") * 2 > F.col("_n"), F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim + term
    return agg.select(F.col(id_col), sim.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit hashes (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 8,
    prefix_bits: int = 12,
) -> DataFrame:
    """Near-dup pairs whose SimHashes differ in ≤ max_hamming bits.

    Blocking on the top ``prefix_bits`` bits keeps the self-join keyed
    (candidates must agree on the prefix — sound only for docs whose
    difference doesn't touch the prefix; `simhash_neardup_multiprobe`
    adds the standard rotation trick to recover prefix-divergent pairs).
    """
    sims = simhash64(df, text_col, id_col)
    block = F.shiftright(F.col("simhash"), 60 - prefix_bits)
    a = sims.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), block.alias("_blk"))
    b = sims.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), block.alias("_blk"))
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("sim_a"), F.col("sim_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair graph — the step that
    turns near-dup PAIRS into duplicate GROUPS (keep one doc per
    component). Returns (node, component) with component = smallest node
    id reachable from the node.

    Iterative min-label propagation: each round every node adopts the
    minimum of its own and its neighbors' labels; convergence takes
    O(graph diameter) rounds, and near-dup components are small dense
    clusters, so 2-3 rounds in practice. Each round is one co-partitioned
    join + aggregate; ``localCheckpoint`` cuts the lineage so plans stay
    flat (on a cluster, a reliable checkpoint dir serves the same
    purpose). Driver-side work is one convergence count per round — no
    collect of node data. Singleton documents never enter the edge list
    and are implicitly their own components."""
    # the union references `edges` twice and every propagation round
    # re-reads `sym`; the barriers keep an expensive upstream (e.g. the
    # whole LSH pipeline) from re-running per reference. Profiled at
    # sf0.1: the LSH edge build dominates (~7s warm); the propagation
    # rounds are job-overhead-bound (~4s for 3 rounds on a 477-node graph)
    edges = session_cache(edges, eager=False)
    # pre-partition the symmetric edge list by the probe key: each
    # propagation round's join then reuses the cached partitioning and
    # only the (much smaller) label side shuffles
    sym = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .repartition("dst")
    )
    sym = session_cache(sym, eager=False)
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    prev_ck = None
    for _ in range(max_iter):
        nb = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nb_label"))
        )
        # the changed flag rides along in the checkpointed result, so
        # convergence detection is a scan of materialized partitions —
        # not another join of consecutive label generations
        proposed = (
            labels.join(nb, labels["node"] == nb["src"], "left")
            .select(
                labels["node"],
                F.least(
                    labels["label"], F.coalesce(F.col("nb_label"), labels["label"])
                ).alias("label"),
                (F.coalesce(F.col("nb_label"), labels["label"]) < labels["label"]).alias(
                    "_changed"
                ),
            )
        )
        # Managed checkpoint (eager): generation k+1 is a self-contained
        # copy, so generation k's pinned RDD is released in-loop — the
        # pinned peak stays at two label generations instead of
        # O(iterations) × nodes (the r9 ADVICE leak class). The final
        # generation stays registered for clear_session_caches.
        proposed = session_checkpoint(proposed)
        if prev_ck is not None:
            release_checkpoint(prev_ck)
        prev_ck = proposed
        changed = proposed.filter(F.col("_changed")).count()
        labels = proposed.drop("_changed")
        if changed == 0:
            break
    return labels


def _rotl60(c: Column, r: int) -> Column:
    """Rotate a 60-bit value left by ``r`` bits (values stay < 2^60).

    Masks the low ``60 - r`` bits BEFORE shifting so the intermediate
    never exceeds 2^60 — required for DuckDB's overflow-checked BIGINT
    arithmetic to accept the identical oracle formula."""
    low_mask = (1 << (60 - r)) - 1
    return F.shiftleft(c.bitwiseAND(F.lit(low_mask)), r) + F.shiftright(c, 60 - r)


def simhash_neardup_multiprobe(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 8,
    prefix_bits: int = 12,
    tables: int = 4,
) -> DataFrame:
    """Multi-table SimHash near-dup: table t blocks on the top
    ``prefix_bits`` bits of the hash rotated by t*(60/tables), so a pair
    is found when ANY rotation puts their differing bits outside the
    prefix. With max_hamming ≪ 60/tables, a pair's few differing bits
    can't cover every rotation's prefix window — recall approaches 1
    while each join stays bucketed (the single-table plan misses every
    pair whose difference touches the fixed prefix).

    One signature pass feeds all tables: the explode emits (table, block)
    keys, so cost is ``tables`` bucketed joins' worth of candidates, not
    ``tables`` signature computations. Duplicate candidate pairs across
    tables collapse via dropDuplicates before the final distance filter.
    """
    step = 60 // tables
    # both sides of the self-join derive from this frame; without the
    # barrier the 60-aggregate simhash pass runs twice (checkpoint /
    # intermediate table at warehouse scale, same as cached_lsh_base)
    sims = session_cache(simhash64(df, text_col, id_col), eager=False)
    blocks = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                F.shiftright(_rotl60(F.col("simhash"), t * step), 60 - prefix_bits).alias("blk"),
            )
            for t in range(tables)
        ]
    )
    probed = sims.select(id_col, "simhash", F.explode(blocks).alias("_p")).select(
        id_col, "simhash", F.col("_p.t").alias("_t"), F.col("_p.blk").alias("_blk")
    )
    a = probed.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "_t", "_blk"
    )
    b = probed.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "_t", "_blk"
    )
    # hamming filter BEFORE the distinct: it's a pure function of the
    # pair, so the result is identical, but the dedup shuffle sees only
    # pairs that survive the distance cut instead of every bucket collision
    return (
        a.join(b, ["_t", "_blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("sim_a"), F.col("sim_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )
