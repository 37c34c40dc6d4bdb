"""Curation quality-assurance operators: the audits a 100 TB pipeline
runs ON its own curation machinery — substring-level (span) dedup and
its removal plan, sketch calibration (MinHash estimate vs exact
Jaccard), corpus novelty drift, frozen-PQ compression error, and the
embedding covariance audit.

The theme distinguishing this module from plans/llm.py (the operators)
and plans/llm_scale.py (the constant-memory scale variants): every
query here measures the ERROR or DRIFT of another operator — the QA
layer that decides whether a sketch's parameters, a quantizer's
codebooks, or a dedup threshold still hold as the corpus grows. All
pure Column expressions or frozen-literal kernels over the house
md5-derived ``hash64``, so each is DuckDB-oracle-checkable.

Reference scope: engine addition (SURVEY §2B.10); the reference is an
ingest transport with no curation surface.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from syslog_kafka_spark.functions.hashes import hash64, hash64_sql
from syslog_kafka_spark.functions.text import tokens
from syslog_kafka_spark.operators.curation import ngram_hashes, ngram_hashes_sql
from syslog_kafka_spark.operators.session_cache import (
    session_cache,
    session_checkpoint,
)
from syslog_kafka_spark.plans.registry import query
from syslog_kafka_spark.sources.readers import load_tables

_TOKENS_SQL = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '')"

# ---------------------------------------------------------------------------
# Repeated-span removal plan (substring-level exact dedup, Lee et al. 2022)
# ---------------------------------------------------------------------------

_SPAN_N = 8  # span width in tokens (matches the Bloom decontamination gram)


def _span_removal_oracle() -> str:
    expr, unnest = ngram_hashes_sql("toks", n=_SPAN_N, salt="span-v1")
    return f"""
        WITH d AS (
          SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
        ), g AS (
          SELECT doc_id, s AS pos, {expr} AS gram_hash
          FROM d, {unnest}
          WHERE len(toks) >= {_SPAN_N}
        ), r AS (
          SELECT doc_id,
                 row_number() OVER (
                   PARTITION BY gram_hash ORDER BY doc_id, pos
                 ) AS rn
          FROM g
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_removable,
               ROUND(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
                 AS removable_rate
        FROM r GROUP BY doc_id ORDER BY doc_id
    """


@query("llm_repeated_span_removal", family="llm", oracle=_span_removal_oracle())
def llm_repeated_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (the ExactSubstr recipe of Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    every 8-token span in the corpus is hashed, and every occurrence
    after the FIRST (ordered by doc_id, then position — within-doc
    repetition counts too) is marked removable. Document-level dedup
    cannot see this: boilerplate headers, licence blocks, and quoted
    passages repeat across otherwise-unique documents, and at 100 TB
    they are a double-digit share of tokens. The per-document removal
    plan (span count, removable count, rate) is what the chopper pass
    consumes.

    Distributed shape: only 8-byte span hashes explode and shuffle
    (never span text — ngram_hashes hashes inside the transform); the
    keep-first decision is one window over gram_hash, so the shuffle is
    linear in token count with fixed-width rows, no all-pairs stage. A
    full suffix-array build (the paper's exact method) orders the
    corpus globally; the fixed-width span grid is the
    shuffle-partitionable equivalent used by production rewrites."""
    d = load_tables(spark, sf_dir).documents
    toks_df = d.select("doc_id", tokens("text").alias("_toks")).filter(
        F.size("_toks") >= _SPAN_N
    )
    starts = F.sequence(F.lit(1), F.size("_toks") - F.lit(_SPAN_N - 1))
    grams = F.transform(
        starts,
        lambda s: hash64(F.array_join(F.slice("_toks", s, _SPAN_N), " "), salt="span-v1"),
    )
    g = toks_df.select(
        "doc_id", F.posexplode(grams).alias("pos", "gram_hash")
    )
    rn = F.row_number().over(
        Window.partitionBy("gram_hash").orderBy("doc_id", "pos")
    )
    r = g.select("doc_id", (rn > 1).cast("long").alias("removable"))
    return (
        r.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum("removable").cast("bigint").alias("n_removable"),
            F.round(F.sum("removable") / F.count(F.lit(1)), 6).alias(
                "removable_rate"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# n-gram novelty curve (corpus redundancy drift)
# ---------------------------------------------------------------------------

_NOVELTY_N = 3
_NOVELTY_DECILES = 10


def _novelty_oracle() -> str:
    expr, unnest = ngram_hashes_sql("toks", n=_NOVELTY_N, salt="novel-v1")
    return f"""
        WITH d AS (
          SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
        ), g AS (
          SELECT DISTINCT doc_id, {expr} AS gram_hash
          FROM d, {unnest}
          WHERE len(toks) >= {_NOVELTY_N}
        ), f AS (
          SELECT doc_id,
                 CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY gram_hash)
                      THEN 1 ELSE 0 END AS novel
          FROM g
        ), p AS (
          SELECT doc_id, count(*) AS n_types, sum(novel) AS n_novel
          FROM f GROUP BY doc_id
        ), t AS (
          SELECT *, ntile({_NOVELTY_DECILES}) OVER (ORDER BY doc_id) AS decile
          FROM p
        )
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_types) AS BIGINT) AS total_types,
               CAST(sum(n_novel) AS BIGINT) AS novel_types,
               ROUND(sum(n_novel) * 1.0 / sum(n_types), 6) AS novelty_rate
        FROM t GROUP BY decile ORDER BY decile
    """


@query("llm_ngram_novelty_curve", family="llm", oracle=_novelty_oracle())
def llm_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty drift: for each document (in doc_id ingest order),
    the fraction of its distinct token trigrams whose FIRST corpus
    occurrence is that document, rolled up into ingest-order deciles.
    A healthy growing corpus holds a stable novelty rate; a collapsing
    curve means new data is recombination of old — the earliest signal
    that continued crawling is buying duplicates, before any dedup pass
    runs. This is the audit DoReMi/DSIR-style pipelines read before
    re-weighting a source.

    Distributed shape: distinct (doc, gram_hash) pairs shuffle once on
    the 8-byte hash; first-occurrence is a min window over gram_hash
    (no join-back — the flag is computed in the same pass); the decile
    assignment runs over the per-DOC aggregate (corpus-count rows, not
    token-count) and uses the range-partitioned global-rank recipe
    (sort_global_range_partitioned): local row_number within disjoint
    ordered partitions lifted by broadcast cumulative offsets, then the
    exact ntile bucket-size formula on the global rank — an
    unpartitioned ntile window would funnel every per-doc row through
    ONE task, the serial stage that caps any 100 TB run. Linear end to
    end; the only driver-side data is one count per partition. Ranks
    are unique (doc_id), so deciles are independent of where the
    sampled range bounds land."""
    d = load_tables(spark, sf_dir).documents
    g = ngram_hashes(d, n=_NOVELTY_N, salt="novel-v1").distinct()
    novel = (
        F.col("doc_id")
        == F.min("doc_id").over(Window.partitionBy("gram_hash"))
    ).cast("long")
    p = (
        g.select("doc_id", novel.alias("novel"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("novel").alias("n_novel"),
        )
    )
    # session_checkpoint pins ONE materialization of the range exchange:
    # the sampled range bounds are per-execution, so the counts pass and
    # the ranking pass re-running it independently could place rows
    # differently and corrupt the offsets. The managed wrapper (vs a bare
    # localCheckpoint) lets clear_session_caches release the pinned RDD
    # between sweep queries instead of accumulating one per build.
    parted = session_checkpoint(
        p.repartitionByRange(16, F.col("doc_id").asc()).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    sizes = {
        r["_pid"]: r["n"]
        for r in parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off_expr = F.element_at(
        F.create_map(
            *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
        ),
        F.col("_pid"),
    )
    rank = (
        F.row_number().over(Window.partitionBy("_pid").orderBy(F.col("doc_id").asc()))
        + off_expr
    ).cast("bigint")
    # exact ntile(k) bucket sizes over N known ranks: the first N%k
    # buckets hold N//k+1 rows, the rest N//k (SQL-standard; matches the
    # oracle's ntile). Ranks < 2^50, so the floor-on-double is exact.
    n_total = acc
    sz, big = n_total // _NOVELTY_DECILES, n_total % _NOVELTY_DECILES
    cut = (sz + 1) * big
    decile = F.when(
        F.lit(big > 0) & (rank <= F.lit(cut)),
        F.floor((rank - 1) / F.lit(sz + 1)) + 1,
    ).otherwise(F.floor((rank - 1 - F.lit(cut)) / F.lit(max(sz, 1))) + F.lit(big) + 1)
    t = parted.withColumn("decile", decile.cast("int"))
    return (
        t.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_types").cast("bigint").alias("total_types"),
            F.sum("n_novel").cast("bigint").alias("novel_types"),
            F.round(F.sum("n_novel") / F.sum("n_types"), 6).alias("novelty_rate"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# MinHash → exact Jaccard calibration
# ---------------------------------------------------------------------------

_CAL_HASHES = 16
_CAL_BANDS = 4


def _calibration_oracle() -> str:
    from syslog_kafka_spark.functions.hashes import (
        hashed_shingles_sql,
        minhash_signature_from_hashes_sql,
    )

    norm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    rpb = _CAL_HASHES // _CAL_BANDS
    band_cases = " ".join(
        "WHEN {b} THEN {h}".format(
            b=b,
            h=hash64_sql(
                "concat_ws(',', "
                + ", ".join(f"sig[{b * rpb + i + 1}]" for i in range(rpb))
                + ")"
            ),
        )
        for b in range(_CAL_BANDS)
    )
    sig_match = (
        f"CAST(list_sum(list_transform(generate_series(1, {_CAL_HASHES}), "
        "i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE)"
    )
    return f"""
        WITH sh AS (
          SELECT doc_id AS id, {hashed_shingles_sql(norm)} AS shingles
          FROM documents
        ), sg AS (
          SELECT id, shingles,
                 {minhash_signature_from_hashes_sql('shingles', _CAL_HASHES)} AS sig
          FROM sh
        ), banded AS (
          SELECT id, t.b AS band,
                 CASE t.b {band_cases} END AS bucket
          FROM sg, (SELECT unnest([{", ".join(str(b) for b in range(_CAL_BANDS))}]) AS b) t
        ), pairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
        ), m AS (
          SELECT p.id_a, p.id_b,
                 {sig_match} / {_CAL_HASHES} AS est,
                 CASE WHEN len(sa.shingles) + len(sb.shingles)
                           - len(list_intersect(sa.shingles, sb.shingles)) = 0
                      THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(len(list_intersect(sa.shingles, sb.shingles))
                                AS DOUBLE)
                           / (len(sa.shingles) + len(sb.shingles)
                              - len(list_intersect(sa.shingles, sb.shingles)))
                 END AS exact
          FROM pairs p
          JOIN sg sa ON sa.id = p.id_a
          JOIN sg sb ON sb.id = p.id_b
        )
        SELECT least(CAST(floor(round(exact, 6) * 10) AS BIGINT), 9) AS bucket,
               CAST(count(*) AS BIGINT) AS n_pairs,
               ROUND(avg(est), 6) AS mean_est_jaccard,
               ROUND(avg(exact), 6) AS mean_exact_jaccard,
               ROUND(avg(abs(est - exact)), 6) AS mean_abs_err,
               ROUND(max(abs(est - exact)), 6) AS max_abs_err
        FROM m GROUP BY 1 ORDER BY bucket
    """


@query("llm_minhash_jaccard_calibration", family="llm", oracle=_calibration_oracle())
def llm_minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash calibration audit: over the LSH candidate pairs, the
    signature-estimated Jaccard (matching components / 16) against the
    exact shingle Jaccard, bucketed by exact-similarity decile. This is
    how a pipeline decides whether 16 hashes are ENOUGH before a 100 TB
    dedup run: the per-bucket mean/max estimation error is exactly the
    error the banding threshold inherits, and a drifting corpus (longer
    docs, new shingle distribution) shows up here as widening error
    long before dedup recall visibly degrades.

    Distributed shape (r13): rides the family-shared
    cached_minhash_pairs_banded frame — its _sig_eq column IS the
    16-component signature match count and its jaccard column IS the
    exact shingle Jaccard (same integer sizes, same double division),
    so the audit is one aggregate over the materialized frame instead
    of a per-face candidate self-join + two array verifies.
    Per-pair est/exact/|err| are bit-identical cross-engine (single fp
    ops on identical integers); only the bucket MEANS are
    accumulation-order-sensitive, so they report at 6 dp. The decile
    key follows the pinned-threshold rule: floor(round(exact, 6) × 10).
    """
    from syslog_kafka_spark.operators.dedup import cached_minhash_pairs_banded

    d = load_tables(spark, sf_dir).documents
    pairs = cached_minhash_pairs_banded(
        d, k=5, n_hashes=_CAL_HASHES, bands=_CAL_BANDS
    )
    est = F.col("_sig_eq").cast("double") / F.lit(float(_CAL_HASHES))
    m = pairs.select(est.alias("est"), F.col("jaccard").alias("exact"))
    bucket = F.least(
        F.floor(F.round(F.col("exact"), 6) * 10).cast("bigint"), F.lit(9)
    )
    err = F.abs(F.col("est") - F.col("exact"))
    return (
        m.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.avg("est"), 6).alias("mean_est_jaccard"),
            F.round(F.avg("exact"), 6).alias("mean_exact_jaccard"),
            F.round(F.avg(err), 6).alias("mean_abs_err"),
            F.round(F.max(err), 6).alias("max_abs_err"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Product-quantization compression audit (frozen PQ8x16 codebooks)
# ---------------------------------------------------------------------------


def _pq_audit_oracle() -> str:
    from syslog_kafka_spark.operators.pq import pq_dists_sql
    from syslog_kafka_spark.operators.pq_frozen import PQ_SUBSPACES

    encs = "\n          UNION ALL\n          ".join(
        f"SELECT vec_id, {s} AS subspace, d FROM"
        f" (SELECT vec_id, {pq_dists_sql(s)} AS d FROM embeddings)"
        for s in range(PQ_SUBSPACES)
    )
    return f"""
        WITH enc AS (
          {encs}
        ), coded AS (
          SELECT vec_id, subspace,
                 CAST(list_position(d, list_min(d)) - 1 AS INT) AS code,
                 list_min(d) AS err
          FROM enc
        ), cnts AS (
          SELECT subspace, code, count(*) AS cnt, sum(err) AS sum_err
          FROM coded GROUP BY 1, 2
        ), per AS (
          SELECT subspace,
                 CAST(sum(cnt) AS BIGINT) AS n_vecs,
                 CAST(count(*) AS BIGINT) AS n_codes_used,
                 ROUND(sum(sum_err) / sum(cnt), 6) AS mse
          FROM cnts GROUP BY 1
        ), top AS (
          SELECT subspace, code AS top_code, cnt,
                 row_number() OVER (
                   PARTITION BY subspace ORDER BY cnt DESC, code
                 ) AS rn
          FROM cnts
        )
        SELECT p.subspace, p.n_vecs, p.n_codes_used, p.mse,
               t.top_code,
               ROUND(t.cnt * 1.0 / p.n_vecs, 6) AS top_code_share
        FROM per p JOIN top t ON t.subspace = p.subspace AND t.rn = 1
        ORDER BY p.subspace
    """


@query("llm_pq_quantization_audit", family="llm", oracle=_pq_audit_oracle())
def llm_pq_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization compression audit against the FROZEN PQ8x16
    codebooks (operators/pq_frozen.py): every embedding encodes to 8
    one-byte codes (32x over float32), and the audit reports, per
    subspace, the reconstruction MSE, codebook utilization, and the
    hottest code's share. This is the go/no-go a retrieval pipeline
    reads before swapping raw vectors for codes at 100 TB: rising MSE
    or a collapsing code histogram (one code absorbing the subspace)
    means the codebooks no longer fit the drifted distribution and need
    a re-fit — long before recall measurably drops.

    Distributed shape: one mapInArrow kernel pass (vectors cross Arrow
    once; distances accumulate per-dimension over numpy rows, the r6
    frozen-structure pattern, bit-identical to the oracle's explicit
    left-associated chains); everything after is a 128-row aggregate.
    The multiply-consumed tiny (subspace, code) frame is cached and
    eagerly filled per the cold-cache rule."""
    from syslog_kafka_spark.operators.pq import pq_encode_arrow
    from syslog_kafka_spark.sources.readers import spread

    emb = load_tables(spark, sf_dir).embeddings
    enc = pq_encode_arrow(spread(emb.select("vec_id", "embedding")))
    cnts = session_cache(  # eager fill: two consumers below would race a cold cache
        enc.groupBy("subspace", "code").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("err").alias("sum_err")
        )
    )
    per = cnts.groupBy("subspace").agg(
        F.sum("cnt").cast("bigint").alias("n_vecs"),
        F.count(F.lit(1)).cast("bigint").alias("n_codes_used"),
        F.round(F.sum("sum_err") / F.sum("cnt"), 6).alias("mse"),
    )
    rn = F.row_number().over(
        Window.partitionBy("subspace").orderBy(F.col("cnt").desc(), "code")
    )
    top = cnts.select("subspace", "code", "cnt", rn.alias("rn")).filter(
        F.col("rn") == 1
    )
    return (
        per.join(top, "subspace")
        .select(
            "subspace",
            "n_vecs",
            "n_codes_used",
            "mse",
            F.col("code").alias("top_code"),
            F.round(F.col("cnt") * 1.0 / F.col("n_vecs"), 6).alias(
                "top_code_share"
            ),
        )
        .orderBy("subspace")
    )


# ---------------------------------------------------------------------------
# Embedding covariance / correlation audit (single-pass Gram accumulation)
# ---------------------------------------------------------------------------

_COV_DIM = 64
_COV_TOPK = 15


def _covariance_oracle() -> str:
    return f"""
        WITH x AS (
          SELECT vec_id, CAST(g.i AS INT) AS i,
                 CAST(embedding[g.i + 1] AS DOUBLE) AS v
          FROM embeddings, unnest(generate_series(0, {_COV_DIM - 1})) AS g(i)
        ), p AS (
          SELECT a.i AS i, b.i AS j, sum(a.v * b.v) AS sxy
          FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
          GROUP BY 1, 2
        ), s AS (
          SELECT i, sum(v) AS sx FROM x GROUP BY 1
        ), nn AS (
          SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings
        ), cov AS (
          SELECT p.i, p.j,
                 (p.sxy - si.sx * sj.sx / nn.n) / nn.n AS cov
          FROM p
          CROSS JOIN nn
          JOIN s si ON si.i = p.i
          JOIN s sj ON sj.i = p.j
        ), vr AS (
          SELECT i, cov AS v FROM cov WHERE i = j
        ), pr AS (
          SELECT c.i, c.j, c.cov,
                 c.cov / sqrt(vi.v * vj.v) AS corr
          FROM cov c
          JOIN vr vi ON vi.i = c.i
          JOIN vr vj ON vj.i = c.j
          WHERE c.i < c.j
        )
        SELECT i, j,
               ROUND(cov, 6) + 0.0 AS cov,
               ROUND(corr, 6) + 0.0 AS corr
        FROM pr
        ORDER BY ROUND(abs(corr), 6) DESC, i, j
        LIMIT {_COV_TOPK}
    """


@query("llm_embedding_covariance_audit", family="llm", oracle=_covariance_oracle())
def llm_embedding_covariance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance audit: the top-{k} most-correlated dimension
    pairs of the corpus embedding matrix. Highly-correlated dimensions
    mean the encoder wastes capacity (the motivation for whitening /
    PCA before PQ) and they break the independence assumption
    random-projection sketches (llm_random_projection) rely on — this
    audit is the check both consumers read.

    Distributed shape — the single-pass Gram pattern, the ONLY correct
    shape at 100 TB: each partition accumulates its own X^T X (a 64x64
    matrix via one BLAS call), the per-partition partials shuffle as
    (i, j, partial) rows (#partitions x 2,145 fixed-width rows — the
    shuffle is INDEPENDENT of corpus size), and covariance/correlation
    derive from the merged sums. The tempting alternative — exploding
    (vec, dim, value) and self-joining on vec_id (exactly what the
    DuckDB oracle does, fine at oracle scale) — shuffles 64x the corpus
    and is the shape this query exists to replace. Values report at
    6 dp (partial-sum accumulation order differs per engine) with the
    signed-zero +0.0 guard; the top-k cut orders by the ROUNDED |corr|
    with (i, j) tiebreak per the pinned-threshold rule."""
    from syslog_kafka_spark.sources.readers import spread

    emb = load_tables(spark, sf_dir).embeddings

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            X = np.array(batch.column("embedding").to_pylist(), dtype=np.float64)
            n = len(X)
            ii, jj, vals = [], [], []
            if n:
                G = X.T @ X
                sx = X.sum(axis=0)
                iu, ju = np.triu_indices(_COV_DIM)
                ii.append(iu.astype(np.int32))
                jj.append(ju.astype(np.int32))
                vals.append(G[iu, ju])
                ii.append(np.arange(_COV_DIM, dtype=np.int32))
                jj.append(np.full(_COV_DIM, -1, dtype=np.int32))
                vals.append(sx)
                ii.append(np.array([-1], dtype=np.int32))
                jj.append(np.array([-1], dtype=np.int32))
                vals.append(np.array([float(n)]))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(ii) if ii else [], pa.int32()),
                    pa.array(np.concatenate(jj) if jj else [], pa.int32()),
                    pa.array(np.concatenate(vals) if vals else [], pa.float64()),
                ],
                ["i", "j", "val"],
            )

    partials = spread(emb.select("embedding")).mapInArrow(
        kernel, "i int, j int, val double"
    )
    tot = session_cache(  # eager fill: four consumers below would race a cold cache
        partials.groupBy("i", "j").agg(F.sum("val").alias("val"))
    )
    nrow = tot.filter((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("val").alias("n")
    )
    sums = tot.filter((F.col("j") == -1) & (F.col("i") >= 0)).select(
        F.col("i").alias("k"), F.col("val").alias("sx")
    )
    g = tot.filter(F.col("j") >= 0)
    cov_val = (F.col("val") - F.col("sx_i") * F.col("sx_j") / F.col("n")) / F.col("n")
    cov = (
        g.join(F.broadcast(sums.select(F.col("k").alias("i"), F.col("sx").alias("sx_i"))), "i")
        .join(F.broadcast(sums.select(F.col("k").alias("j"), F.col("sx").alias("sx_j"))), "j")
        .crossJoin(F.broadcast(nrow))
        .select("i", "j", cov_val.alias("cov"))
    )
    vr = cov.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("k"), F.col("cov").alias("v")
    )
    pr = (
        cov.filter(F.col("i") < F.col("j"))
        .join(F.broadcast(vr.select(F.col("k").alias("i"), F.col("v").alias("v_i"))), "i")
        .join(F.broadcast(vr.select(F.col("k").alias("j"), F.col("v").alias("v_j"))), "j")
        .select(
            "i",
            "j",
            "cov",
            (F.col("cov") / F.sqrt(F.col("v_i") * F.col("v_j"))).alias("corr"),
        )
    )
    return (
        pr.select(
            "i",
            "j",
            (F.round("cov", 6) + 0.0).alias("cov"),
            (F.round("corr", 6) + 0.0).alias("corr"),
        )
        .orderBy(F.round(F.abs("corr"), 6).desc(), "i", "j")
        .limit(_COV_TOPK)
    )


# ---------------------------------------------------------------------------
# IVF-PQ approximate search (asymmetric distance computation)
# ---------------------------------------------------------------------------

_IVFPQ_K = 5
_IVFPQ_NPROBE = 4


def _ivf_pq_oracle() -> str:
    from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS, N_LISTS
    from syslog_kafka_spark.operators.pq import pq_dists_sql
    from syslog_kafka_spark.operators.pq_frozen import PQ_SUBSPACES
    from syslog_kafka_spark.operators.similarity import frozen_cluster_sims_sql

    coded = "\n          UNION ALL\n          ".join(
        f"SELECT vec_id, {s} AS s,"
        f" CAST(list_position(d, list_min(d)) - 1 AS INT) AS code"
        f" FROM (SELECT vec_id, {pq_dists_sql(s)} AS d FROM embeddings)"
        for s in range(PQ_SUBSPACES)
    )
    luts = "\n          UNION ALL\n          ".join(
        f"SELECT vec_id AS qid, {s} AS s, {pq_dists_sql(s)} AS d"
        f" FROM embeddings WHERE vec_id < 10"
        for s in range(PQ_SUBSPACES)
    )
    adc = " + ".join(
        f"lut.lut[{s + 1}][k.codes[{s + 1}] + 1]" for s in range(PQ_SUBSPACES)
    )
    return f"""
        WITH a0 AS (
          SELECT vec_id, {frozen_cluster_sims_sql(IVF_CENTROIDS)} AS sims
          FROM embeddings
        ), c AS (
          SELECT vec_id,
                 CAST(list_position(sims, list_max(sims)) - 1 AS INT) AS list_id
          FROM a0
        ), coded AS (
          {coded}
        ), k AS (
          SELECT vec_id, list(code ORDER BY s) AS codes FROM coded GROUP BY vec_id
        ), qp AS (
          SELECT a.vec_id AS query_id, u.i - 1 AS list_id,
                 row_number() OVER (
                   PARTITION BY a.vec_id ORDER BY a.sims[u.i] DESC, u.i
                 ) AS pr
          FROM a0 a CROSS JOIN range(1, {N_LISTS + 1}) u(i)
          WHERE a.vec_id < 10
        ), luts AS (
          {luts}
        ), lut AS (
          SELECT qid, list(d ORDER BY s) AS lut FROM luts GROUP BY qid
        ), scored AS (
          SELECT q.query_id, c.vec_id AS neighbor_id, ({adc}) AS adc
          FROM qp q
          JOIN c ON c.list_id = q.list_id
          JOIN k ON k.vec_id = c.vec_id
          JOIN lut ON lut.qid = q.query_id
          WHERE q.pr <= {_IVFPQ_NPROBE} AND c.vec_id <> q.query_id
        ), ranked AS (
          SELECT query_id, neighbor_id, adc,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY adc, neighbor_id
                 ) AS rank
          FROM scored
        )
        SELECT query_id, rank, neighbor_id,
               CAST(round(adc, 4) AS DOUBLE) AS adc_dist
        FROM ranked WHERE rank <= {_IVFPQ_K}
        ORDER BY query_id, rank
    """


@query("llm_ivf_pq_topk", family="llm", oracle=_ivf_pq_oracle())
def llm_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate nearest-neighbor search — the FAISS-style
    index shape production retrieval runs at 100 TB: the corpus is ONE
    kernel pass into (list_id, 8 PQ codes) = 12 bytes per vector (vs
    256 raw), queries probe their 4 best inverted lists (the same
    frozen-quantizer probe selection ivf_topk_frozen uses, shared via
    frozen_probe_lists), and candidates are scored by asymmetric
    distance computation: a per-query 8x16 lookup table of
    subvector-to-codeword distances, so scoring a candidate is 8 array
    lookups and the corpus is NEVER decoded. ADC terms are
    left-associated chains on both engines (bit-identical), so probe
    lists, candidate sets, ADC scores, and the final ranking all
    hash-gate. A recall floor and a selection-quality invariant (ADC
    picks beat the random-pair cosine baseline) are pinned in
    tests/test_curation_qa.py — this corpus is PQ's worst case
    (isotropic vectors; the quantization audit's MSE says exactly
    that), so absolute recall is honestly modest here.

    Distributed shape: index build is one mapInArrow scan; the probe
    join broadcasts (query x n_probe) rows against the list-partitioned
    index — each query touches ~n_probe/n_lists of the corpus, and what
    it touches is 12-byte rows, not vectors."""
    from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS, N_LISTS
    from syslog_kafka_spark.operators.pq import ivf_pq_index_arrow, pq_query_lut_arrow
    from syslog_kafka_spark.operators.pq_frozen import PQ_SUBSPACES
    from syslog_kafka_spark.operators.similarity import (
        frozen_probe_lists,
        frozen_sims_udf,
    )
    from syslog_kafka_spark.sources.readers import spread

    emb = load_tables(spark, sf_dir).embeddings
    idx = ivf_pq_index_arrow(
        spread(emb.select("vec_id", "embedding")), IVF_CENTROIDS
    )
    q0 = emb.filter(F.col("vec_id") < 10).select("vec_id", "embedding")
    sims = frozen_sims_udf(IVF_CENTROIDS)(F.col("embedding"))
    qp = q0.select(F.col("vec_id").alias("query_id"), sims.alias("_sims")).select(
        "query_id",
        F.explode(
            frozen_probe_lists(F.col("_sims"), N_LISTS, _IVFPQ_NPROBE)
        ).alias("list_id"),
    )
    ql = pq_query_lut_arrow(q0).select(F.col("vec_id").alias("query_id"), "lut")
    qj = qp.join(ql, "query_id")
    cand = idx.join(F.broadcast(qj), "list_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    adc = F.get(F.get("lut", 0), F.get("codes", 0))
    for s in range(1, PQ_SUBSPACES):
        adc = adc + F.get(F.get("lut", s), F.get("codes", s))
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc")
    )
    rn = F.row_number().over(
        Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    )
    return (
        scored.withColumn("rank", rn)
        .filter(F.col("rank") <= _IVFPQ_K)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.round("adc", 4).alias("adc_dist"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering (frozen hashed-BoW linear classifier)
# ---------------------------------------------------------------------------


def _hashed_quality_oracle() -> str:
    from syslog_kafka_spark.operators.quality_frozen import (
        QF_BIAS,
        QF_BUCKETS,
        QF_WEIGHTS,
    )

    w_list = "[" + ", ".join(f"CAST({w!r} AS DOUBLE)" for w in QF_WEIGHTS) + "]"
    h = hash64_sql("tok", salt="hq-v1")
    return f"""
        WITH w AS (SELECT {w_list} AS wl),
        base AS (
          SELECT doc_id, {_TOKENS_SQL} AS toks, length(text) AS n_chars
          FROM documents
        ), tok AS (
          SELECT doc_id, unnest(toks) AS tok FROM base
        ), bk AS (
          SELECT doc_id, ({h}) % {QF_BUCKETS} AS bucket,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM tok GROUP BY 1, 2
        ), z AS (
          SELECT bk.doc_id,
                 sum(w.wl[bk.bucket + 1] * (bk.cnt * 1.0 / len(b2.toks))) AS z
          FROM bk CROSS JOIN w JOIN base b2 ON b2.doc_id = bk.doc_id
          GROUP BY bk.doc_id
        ), scored AS (
          SELECT b.doc_id,
                 ROUND(1.0 / (1.0 + exp(-(coalesce(z.z, 0.0)
                       + CAST({QF_BIAS!r} AS DOUBLE)))), 6) AS q_score,
                 CASE WHEN len(b.toks) > 0
                      THEN ROUND(b.n_chars * 1.0 / len(b.toks), 4)
                      ELSE CAST(0.0 AS DOUBLE) END AS mean_tok
          FROM base b LEFT JOIN z ON z.doc_id = b.doc_id
        )
        SELECT doc_id, q_score,
               (q_score >= 0.5) AS model_keep,
               (mean_tok >= 5.5) AS heuristic_keep,
               ((q_score >= 0.5) = (mean_tok >= 5.5)) AS agree
        FROM scored ORDER BY doc_id
    """


@query("llm_hashed_quality_classifier", family="llm", oracle=_hashed_quality_oracle())
def llm_hashed_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the fastText-shaped stage modern
    curation pipelines (CCNet, FineWeb-edu) run after the heuristic
    gates: a FROZEN linear classifier over 4096-bucket hashed
    bag-of-words term frequencies (operators/quality_frozen.py, fit
    offline by scripts/fit_quality_classifier.py at 98.3% train accuracy
    against the deterministic mean-token-length label it distills).
    Per document: sigmoid score, the model's keep decision (pinned on
    the 6-dp ROUNDED score), the heuristic's decision (pinned on the
    4-dp feature), and their agreement — the drift audit a production
    run tracks to know when the frozen model needs a re-fit.

    Distributed shape: tokens hash to buckets INSIDE the projection
    (8-byte ints shuffle, never token text), one (doc, bucket) count
    aggregate, then a broadcast join against the 4096-row weight table
    and one per-doc sum — linear end to end, no corpus-sized state. At
    100 TB this is exactly one pass more than the heuristic gates,
    which is the entire point of distilling into a linear model."""
    from syslog_kafka_spark.operators.quality_frozen import (
        QF_BIAS,
        QF_BUCKETS,
        QF_WEIGHTS,
    )

    d = load_tables(spark, sf_dir).documents
    spark_w = d.sparkSession.createDataFrame(
        [(i, float(w)) for i, w in enumerate(QF_WEIGHTS)], "bucket int, w double"
    )
    base = session_cache(
        d.select(
            "doc_id", tokens("text").alias("toks"), F.length("text").alias("n_chars")
        )
    )  # eager fill: token explode + per-doc stats both read it
    tok = base.select(
        "doc_id", F.explode("toks").alias("tok"), F.size("toks").alias("n_toks")
    )
    bk = tok.select(
        "doc_id",
        F.pmod(hash64("tok", salt="hq-v1"), F.lit(QF_BUCKETS)).alias("bucket"),
        "n_toks",
    ).groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("cnt"), F.first("n_toks").alias("n_toks")
    )
    z = (
        bk.join(F.broadcast(spark_w), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * (F.col("cnt") * 1.0 / F.col("n_toks"))).alias("z"))
    )
    mean_tok = F.when(
        F.size("toks") > 0, F.round(F.col("n_chars") * 1.0 / F.size("toks"), 4)
    ).otherwise(F.lit(0.0))
    scored = (
        base.join(z, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                1.0
                / (1.0 + F.exp(-(F.coalesce("z", F.lit(0.0)) + F.lit(QF_BIAS)))),
                6,
            ).alias("q_score"),
            mean_tok.alias("mean_tok"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "q_score",
            (F.col("q_score") >= 0.5).alias("model_keep"),
            (F.col("mean_tok") >= 5.5).alias("heuristic_keep"),
            (
                (F.col("q_score") >= 0.5) == (F.col("mean_tok") >= 5.5)
            ).alias("agree"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Dedup threshold calibration sweep
# ---------------------------------------------------------------------------

_SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def _threshold_sweep_oracle() -> str:
    from syslog_kafka_spark.plans.llm import _lsh_pairs_cte

    thr = ", ".join(f"CAST({t!r} AS DOUBLE)" for t in _SWEEP_THRESHOLDS)
    return f"""
        WITH {_lsh_pairs_cte(threshold=0.0)},
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        t AS (SELECT unnest([{thr}]) AS threshold),
        hits AS (
          SELECT t.threshold, v.id_a, v.id_b
          FROM t JOIN verified v ON round(v.jaccard, 6) >= t.threshold
        ), per AS (
          SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
          FROM hits GROUP BY threshold
        ), docs AS (
          SELECT threshold, CAST(count(DISTINCT id) AS BIGINT) AS n_docs_affected
          FROM (
            SELECT threshold, id_a AS id FROM hits
            UNION ALL
            SELECT threshold, id_b FROM hits
          ) GROUP BY threshold
        )
        SELECT t.threshold,
               coalesce(p.n_pairs, 0) AS n_pairs,
               coalesce(d.n_docs_affected, 0) AS n_docs_affected,
               ROUND(coalesce(d.n_docs_affected, 0) * 1.0 / nd.n_docs, 6)
                 AS affected_share
        FROM t
        LEFT JOIN per p ON p.threshold = t.threshold
        LEFT JOIN docs d ON d.threshold = t.threshold
        CROSS JOIN nd
        ORDER BY t.threshold
    """


@query("llm_dedup_threshold_sweep", family="llm", oracle=_threshold_sweep_oracle())
def llm_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold calibration: pair and affected-document counts at
    every candidate Jaccard cutoff (0.5–0.9), from ONE pass over the
    production LSH candidates. This is the table an operator reads
    before committing a corpus-wide dedup run — the knee of the
    affected-share curve is where near-dup removal stops being cleanup
    and starts deleting legitimate variation, and re-running the whole
    pipeline per candidate threshold (the naive approach) costs 5x the
    scan for the same answer.

    Distributed shape: identical candidate generation to the production
    dedup (the session-cached LSH base — zero extra scans when any
    sibling dedup query ran); the sweep is a 5-way explode of the
    id-width pair set, two tiny aggregates, broadcast-joined back. The
    threshold comparison follows the pinned rule (round(j, 6) >= t) and
    every per-pair jaccard is bit-identical cross-engine (exact integer
    set sizes divided once)."""
    from syslog_kafka_spark.operators.dedup import cached_minhash_pairs

    d = load_tables(spark, sf_dir).documents
    pairs = cached_minhash_pairs(d)
    thr = F.explode(
        F.array(*[F.lit(float(t)) for t in _SWEEP_THRESHOLDS])
    ).alias("threshold")
    hits = pairs.select("id_a", "id_b", "jaccard", thr).filter(
        F.round("jaccard", 6) >= F.col("threshold")
    )
    per = hits.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    docs = (
        hits.select("threshold", F.col("id_a").alias("id"))
        .unionAll(hits.select("threshold", F.col("id_b").alias("id")))
        .groupBy("threshold")
        .agg(F.countDistinct("id").cast("bigint").alias("n_docs_affected"))
    )
    n_docs = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    t_frame = spark.createDataFrame(
        [(float(t),) for t in _SWEEP_THRESHOLDS], "threshold double"
    )
    return (
        t_frame.join(per, "threshold", "left")
        .join(docs, "threshold", "left")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0)).alias("n_docs_affected"),
            F.round(
                F.coalesce("n_docs_affected", F.lit(0)) * 1.0 / F.col("n_docs"), 6
            ).alias("affected_share"),
        )
        .orderBy("threshold")
    )


# ---------------------------------------------------------------------------
# Near-dup cluster cohesion audit
# ---------------------------------------------------------------------------


def _cohesion_oracle() -> str:
    from syslog_kafka_spark.plans.llm import _lsh_pairs_cte

    return f"""
        WITH RECURSIVE {_lsh_pairs_cte()},
        sym AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION
          SELECT id_b, id_a FROM verified
        ),
        reach(src, dst) AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src
        ),
        lbl AS (
          SELECT src AS node, least(src, min(dst)) AS component
          FROM reach GROUP BY src
        ),
        members AS (
          SELECT component, CAST(count(*) AS BIGINT) AS n_members
          FROM lbl GROUP BY component
        ),
        ed AS (
          SELECT l.component,
                 CAST(count(*) AS BIGINT) AS n_edges,
                 ROUND(avg(v.jaccard), 6) AS mean_jaccard,
                 ROUND(min(v.jaccard), 6) AS min_jaccard
          FROM verified v JOIN lbl l ON l.node = v.id_a
          GROUP BY l.component
        )
        SELECT m.component AS component_id, m.n_members, e.n_edges,
               e.mean_jaccard, e.min_jaccard,
               ROUND(e.n_edges * 2.0 / (m.n_members * (m.n_members - 1)), 6)
                 AS edge_density
        FROM members m JOIN ed e ON e.component = m.component
        ORDER BY component_id
    """


@query("llm_cluster_cohesion_audit", family="llm", oracle=_cohesion_oracle())
def llm_cluster_cohesion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster cohesion: per connected component of the verified
    LSH graph — member count, edge count, mean/min edge Jaccard, and
    edge density. This is the audit that separates TRUE duplicate
    groups (dense, high-min-Jaccard cliques — safe to collapse to one
    representative) from CHAINED components (sparse paths where A~B~C
    but A and C share nothing — collapsing them deletes distinct
    documents). Production dedup reads exactly this table to decide
    between keep-one-per-component and the stricter keep-one-per-clique.

    Distributed shape: reuses the session-cached LSH base and the
    iterative min-label components (O(diameter) co-partitioned rounds);
    the audit itself is one broadcast-joined aggregate over id-width
    edges. min_jaccard is order-independent and per-edge bit-identical
    cross-engine; the mean reports at 6 dp."""
    from syslog_kafka_spark.operators.dedup import (
        connected_components,
        cached_minhash_pairs,
    )

    d = load_tables(spark, sf_dir).documents
    edges = cached_minhash_pairs(d).filter(F.col("jaccard") >= 0.5)
    labels = connected_components(edges)
    members = labels.groupBy(F.col("label").alias("component")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    ed = (
        edges.join(
            labels.select(F.col("node").alias("id_a"), "label"), "id_a"
        )
        .groupBy(F.col("label").alias("component"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.round(F.avg("jaccard"), 6).alias("mean_jaccard"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
        )
    )
    return (
        members.join(ed, "component")
        .select(
            F.col("component").alias("component_id"),
            "n_members",
            "n_edges",
            "mean_jaccard",
            "min_jaccard",
            F.round(
                F.col("n_edges") * 2.0
                / (F.col("n_members") * (F.col("n_members") - 1)),
                6,
            ).alias("edge_density"),
        )
        .orderBy("component_id")
    )


# ---------------------------------------------------------------------------
# IVF re-fit drift audit (quantizer staleness)
# ---------------------------------------------------------------------------


def _ivf_refit_drift_oracle() -> str:
    from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS
    from syslog_kafka_spark.operators.similarity import frozen_cluster_sims_sql

    frozen_rows = ", ".join(
        f"({lst}, {dim}, CAST({val!r} AS DOUBLE))"
        for lst, c in enumerate(IVF_CENTROIDS)
        for dim, val in enumerate(c)
    )
    return f"""
        WITH a0 AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 {frozen_cluster_sims_sql(IVF_CENTROIDS)} AS sims
          FROM embeddings
        ), asg AS (
          SELECT vec_id, v,
                 CAST(list_position(sims, list_max(sims)) - 1 AS INT) AS lst
          FROM a0
        ), long AS (
          SELECT lst, d.i - 1 AS dim, v[d.i] AS val
          FROM asg, generate_series(1, {len(IVF_CENTROIDS[0])}) AS d(i)
        ), refit AS (
          SELECT lst, dim,
                 round(avg(val), 6) + 0.0 AS mean_d,
                 count(*) AS n
          FROM long GROUP BY lst, dim
        ), frozen(lst, dim, c) AS (
          VALUES {frozen_rows}
        ), per_dim AS (
          SELECT r.lst, r.mean_d - f.c AS delta, r.n
          FROM refit r JOIN frozen f ON f.lst = r.lst AND f.dim = r.dim
        )
        SELECT lst,
               CAST(max(n) AS BIGINT) AS n_members,
               CAST(round(sqrt(sum(delta * delta)), 6) AS DOUBLE) AS drift,
               CAST(round(max(abs(delta)), 6) AS DOUBLE) AS max_dim_shift
        FROM per_dim GROUP BY lst ORDER BY lst
    """


def ivf_refit_partials_frame(raw: DataFrame) -> DataFrame:
    """Per-(list, dim) Lloyd-step sufficient statistics over ANY
    (…, embedding) frame — batch or streaming (pure select + groupBy, so
    it drops into either plan): frozen-quantizer assignment via the
    bit-parity frozen-sims pandas UDF (the interpreted zip_with fold
    measured 15 s vs 2.4 s warm at sf0.1 for this plan — the same ~6×
    the r6 ANN tier measured), then SUM / non-null COUNT / row COUNT per
    (list, dim). Both refit twins (llm_ivf_refit_drift_audit,
    stream_ivf_refit_drift) build on THIS frame, so the drift arithmetic
    cannot de-twin. State/shuffle is nlist × dim (= 1024) rows however
    large the corpus; streaming merges it counter-wise across
    microbatches.

    The mean's denominator is the NON-NULL count (``F.count("val")``) —
    matching the avg semantics of the shared DuckDB oracle — while
    n_members counts rows, so a NULL embedding element cannot silently
    diverge the twins from the oracle."""
    from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS
    from syslog_kafka_spark.operators.similarity import frozen_sims_udf

    sims = frozen_sims_udf(IVF_CENTROIDS)
    long = raw.withColumn("_sims", sims(F.col("embedding"))).select(
        (F.array_position(F.col("_sims"), F.array_max("_sims")) - 1)
        .cast("int")
        .alias("lst"),
        F.posexplode(F.col("embedding").cast("array<double>")),
    ).select("lst", F.col("pos").alias("dim"), F.col("col").alias("val"))
    return long.groupBy("lst", "dim").agg(
        F.sum("val").alias("s"),
        F.count("val").cast("bigint").alias("nv"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


def ivf_refit_finish(partials: DataFrame) -> DataFrame:
    """Finishing arithmetic shared by both refit twins: 6-dp (+0.0
    signed-zero guard) means from the sufficient statistics, frozen
    centroids joined back from a 1024-row broadcast frame (built with
    createDataFrame, never a 1024-literal Catalyst tree — the r6
    planning trap), per-list drift + worst dimension shift."""
    from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS

    spark = partials.sparkSession
    refit = partials.select(
        "lst",
        "dim",
        # nv = 0 (every value in the slot NULL) must yield NULL like the
        # oracle's avg(), not the NaN/Infinity Spark's double division
        # produces — NULL deltas then drop out of both engines' sums
        # identically (unreachable with non-null fixed-dim embeddings,
        # but the twins may not diverge even on degenerate input).
        F.when(
            F.col("nv") > 0, F.round(F.col("s") / F.col("nv"), 6) + F.lit(0.0)
        ).alias("mean_d"),
        "n",
    )
    frozen = spark.createDataFrame(
        [
            (lst, dim, float(val))
            for lst, c in enumerate(IVF_CENTROIDS)
            for dim, val in enumerate(c)
        ],
        "lst int, dim int, c double",
    )
    per_dim = refit.join(F.broadcast(frozen), ["lst", "dim"]).select(
        "lst", (F.col("mean_d") - F.col("c")).alias("delta"), "n"
    )
    return (
        per_dim.groupBy("lst")
        .agg(
            F.max("n").cast("bigint").alias("n_members"),
            F.round(F.sqrt(F.sum(F.col("delta") * F.col("delta"))), 6).alias(
                "drift"
            ),
            F.round(F.max(F.abs("delta")), 6).alias("max_dim_shift"),
        )
        .orderBy("lst")
    )


@query(
    "llm_ivf_refit_drift_audit",
    family="llm",
    oracle=_ivf_refit_drift_oracle(),
)
def llm_ivf_refit_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer-staleness audit: one Lloyd refit step against the FROZEN
    IVF coarse quantizer — per list, the distance between the frozen
    centroid and the mean of the vectors currently assigned to it (plus
    the worst single-dimension shift). This is the number that decides
    when the blocked near-dup / ANN / decontamination tier must re-fit
    its index: drift near zero says the frozen lists still describe the
    corpus; growing drift says new data has moved the density and block
    occupancy (and recall) will degrade. The sequential outer loop of a
    full k-means re-fit belongs offline (scripts/fit_ann_structures.py);
    its INNER step is exactly this job.

    Distributed shape: assignment rides the bit-parity frozen-sims
    pandas UDF (one corpus pass); the per-(list, dim) mean is a
    posexplode + partial-aggregated hash-agg whose shuffle is
    #partitions × (nlist × dim) rows — independent of corpus size; the
    frozen centroids join back from a 1024-row broadcast frame (built
    with createDataFrame, never a 1024-literal Catalyst tree — the r6
    planning trap); the final rollup is 16 rows. Means are rounded at
    6 dp with the +0.0 signed-zero guard BEFORE the drift arithmetic,
    so both engines difference identical numbers."""
    emb = load_tables(spark, sf_dir).embeddings
    return ivf_refit_finish(ivf_refit_partials_frame(emb))


_GATE_THRESHOLDS = (0.2, 0.3, 0.5, 0.7)


def _quality_gate_sweep_oracle() -> str:
    thr = ", ".join(str(t) for t in _GATE_THRESHOLDS)
    return f"""
        WITH feats AS (
          SELECT doc_id, n_chars,
                 CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
                 len(list_distinct({_TOKENS_SQL}))
                   / CAST(greatest(len({_TOKENS_SQL}), 1) AS DOUBLE) AS uniq_ratio
          FROM documents
        ),
        thr AS (SELECT CAST(unnest([{thr}]) AS DOUBLE) AS min_uniq_ratio)
        SELECT t.min_uniq_ratio,
               CAST(sum(CASE WHEN f.uniq_ratio >= t.min_uniq_ratio
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN f.uniq_ratio < t.min_uniq_ratio
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(sum(CASE WHEN f.uniq_ratio >= t.min_uniq_ratio
                    THEN f.n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
               CAST(sum(CASE WHEN f.uniq_ratio < t.min_uniq_ratio
                    THEN f.n_chars ELSE 0 END) AS BIGINT) AS dropped_chars,
               CAST(sum(CASE WHEN f.uniq_ratio >= t.min_uniq_ratio
                    THEN f.n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
               CAST(sum(CASE WHEN f.uniq_ratio < t.min_uniq_ratio
                    THEN f.n_tokens ELSE 0 END) AS BIGINT) AS dropped_tokens
        FROM feats f CROSS JOIN thr t
        GROUP BY 1 ORDER BY 1
    """


@query("llm_quality_gate_sweep", family="llm", oracle=_quality_gate_sweep_oracle())
def llm_quality_gate_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price a repetition-quality gate before committing to it: for each
    candidate unique-token-ratio floor (0.2/0.3/0.5/0.7), how many
    documents and how much char/token mass the corpus keeps vs drops.
    This is the thresholds-vs-loss curve a curation run reads to pick
    its filter setting (the llm_dedup_threshold_sweep /
    llm_lsh_cap_sweep pattern applied to the quality tier): computing
    it as four separate filtered runs would re-tokenize the corpus per
    setting; here the per-doc features are computed ONCE and the sweep
    is a re-aggregation against a 4-row broadcast thresholds frame.

    Determinism: uniq_ratio is the same distinct-count over
    token-count double division on both engines, and the thresholds are
    literals, so every CASE branch decides identically; all output
    columns are integer masses.

    Distributed shape: one corpus scan computing per-doc (n_tokens,
    uniq_ratio) as codegen'd expressions, broadcast cross join against
    #thresholds rows, map-side-combined aggregate to #thresholds output
    rows — no corpus-sized shuffle at any point."""
    d = load_tables(spark, sf_dir).documents
    thr = d.sparkSession.createDataFrame(
        [(float(t),) for t in _GATE_THRESHOLDS], "min_uniq_ratio double"
    )
    return (
        quality_gate_feats(d)
        .crossJoin(F.broadcast(thr))
        .groupBy("min_uniq_ratio")
        .agg(*quality_gate_ledger_aggs())
        .orderBy("min_uniq_ratio")
    )


def quality_gate_feats(docs: DataFrame) -> DataFrame:
    """Per-doc (n_chars, n_tokens, uniq_ratio) features — ONE definition
    shared by the batch sweep and the streaming monitor
    (stream_quality_gate_monitor) so the feature arithmetic cannot
    de-twin between the two faces."""
    toks = tokens("text")
    return docs.select(
        "n_chars",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (
            F.size(F.array_distinct(toks))
            / F.greatest(F.size(toks), F.lit(1)).cast("double")
        ).alias("uniq_ratio"),
    )


def quality_gate_ledger_aggs() -> list:
    """The kept/dropped doc+char+token ledger aggregates over a frame
    carrying (uniq_ratio, min_uniq_ratio, n_chars, n_tokens) — shared by
    both gate faces for the same de-twinning reason."""
    kept = F.col("uniq_ratio") >= F.col("min_uniq_ratio")
    return [
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(~kept, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
        F.sum(F.when(~kept, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("dropped_chars"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
        F.sum(F.when(~kept, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("dropped_tokens"),
    ]
