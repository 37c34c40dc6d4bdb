"""Similarity search + semantic dedup over embedding columns (array<float>).

- cosine_topk: exact brute force — the correctness baseline. Queries are
  broadcast (they're the small side by construction); each executor scans
  its corpus partition once and a window takes top-k. Deterministic ties:
  (score DESC, vec_id ASC).
- srp_topk_frozen / ivf_topk_frozen: the scale paths — SRP-LSH buckets /
  IVF lists cut the scanned corpus to colliding candidates only, using
  FROZEN structures (hyperplanes / centroids) fit once offline by
  scripts/fit_ann_structures.py. One implementation per operator since
  round 7: the earlier seeded-random "fit inside the query" twins were
  folded into these — at warehouse scale the structure is always a
  data-independent constant shipped with the job, and a pure-function
  query is what the correctness gate can hash end-to-end. The offline
  fit itself (`_kmeans_centroids`) stays here for the fit scripts.
- embedding_neardup_pairs / semantic_dedup_frozen: blocked cosine pair
  scan (per-block Arrow kernel) and SemDeDup-style min-id survivorship.

At 100 TB the brute force is O(Q x N) dot products spread across the
cluster (embarrassingly parallel, no shuffle on the corpus side); SRP/IVF
trade recall for a ~bucket-fraction scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.pandas.functions import pandas_udf

from syslog_kafka_spark.sources.readers import spread


def dot_expr(a: Column, b: Column) -> Column:
    """Dot product of two array columns — zip_with + aggregate fold,
    JVM-side, summed left-to-right in double (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    """L2 norm of an array column."""
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def _prenorm_score(vec_a: Column, vec_b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine as dot/(na*nb) with each side's norm precomputed once per
    row before the join: Catalyst does not CSE across higher-order
    functions, so folding both norms per PAIR costs 3 aggregate folds
    instead of one (measured 2x on the sf0.1 near-dup query)."""
    return dot_expr(vec_a, vec_b) / (norm_a * norm_b)




def _rank_topk(scored: DataFrame, k: int, round_to: int | None) -> DataFrame:
    """Shared top-k tail of every similarity search: per-query rank over
    (score DESC, neighbor_id) with the rank filter pushed so Spark plans
    a WindowGroupLimit, then optional HALF_UP rounding. One definition so
    a tie-break or rounding change (the classic hash-gate bug class)
    lands everywhere at once."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )
    if round_to is not None:
        out = out.withColumn("score", F.round(F.col("score"), round_to))
    return out


def _check_sides(
    corpus: DataFrame | None,
    queries: DataFrame | None,
    corpus_base: DataFrame | None,
    query_base: DataFrame | None,
) -> None:
    """Each side of a top-k search takes exactly one of a raw frame and a
    pre-built :func:`ann_tier_base` frame; a frame passed beside its base
    would otherwise be ignored without a word."""
    for frame, base, names in (
        (corpus, corpus_base, "corpus/corpus_base"),
        (queries, query_base, "queries/query_base"),
    ):
        if (frame is None) == (base is None):
            raise ValueError(f"pass exactly one of {names}")


def cosine_topk(
    corpus: DataFrame | None = None,
    queries: DataFrame | None = None,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 4,
    corpus_base: DataFrame | None = None,
    query_base: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Returns (query_id, rank, neighbor_id, score). Self-matches excluded.
    ``queries`` is broadcast; the corpus is scanned once, no shuffle until
    the final per-query top-k window over Q x N candidate rows (bounded by
    pushing the rank filter — Spark plans it as a WindowGroupLimit).

    ``corpus_base``/``query_base``: pre-built :func:`ann_tier_base` frames,
    each passed instead of ``corpus``/``queries`` — id/vector/norm are
    read from the shared frame instead of recomputed, same expressions,
    bit-identical scores.
    """
    _check_sides(corpus, queries, corpus_base, query_base)
    if query_base is not None:
        q = query_base.select(
            F.col("_id").alias("query_id"),
            F.col("_vec").alias("_qvec"),
            F.col("_n").alias("_qn"),
        )
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qvec"),
            norm_expr(F.col(vec_col)).alias("_qn"),
        )
    if corpus_base is not None:
        c = corpus_base.select(
            F.col("_id").alias("neighbor_id"),
            F.col("_vec").alias("_cvec"),
            F.col("_n").alias("_cn"),
        )
    else:
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cvec"),
            norm_expr(F.col(vec_col)).alias("_cn"),
        )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score",
            _prenorm_score(F.col("_cvec"), F.col("_qvec"), F.col("_cn"), F.col("_qn")),
        )
    )
    return _rank_topk(scored, k, round_to)


def embedding_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked on ``label_col``
    (e.g. a cluster/shard assignment) so the pair scan never goes global.

    The O(block²) scoring runs as a per-block applyInPandas kernel:
    each vector crosses the Arrow boundary ONCE (traffic linear in
    rows), and the block dot matrix accumulates one dimension at a time
    — numpy outer products in the exact association order of the
    zip_with+aggregate fold, so every cosine is bit-identical to the
    expression form and the DuckDB oracles. Row-chunked so peak memory
    is CHUNK x block, never block². Rounding stays JVM-side (F.round is
    HALF_UP like the oracle; numpy rounds half-even). r6 measurements:
    the interpreted per-pair fold cost ~1.4 µs/dot (llm_embedding_neardup
    hit 23x on 10x data); a per-PAIR pandas UDF was no better because it
    shipped both vectors per pair (O(pairs x dim) traffic); this
    per-BLOCK kernel is the one that scales — at 100 TB you bound block
    populations via the clustering fan-out, and the kernel's quadratic
    term runs at numpy speed inside each task.

    Semantics preserved from the self-join form: NULL-labeled rows never
    pair (an inner join on the label drops them — filtered here before
    the groupBy, matching the oracles' ``a.label = b.label``), the id
    type is whatever the caller's ``id_col`` is (schema derived, not
    hardcoded), and NaN cosines (zero-norm vectors) pass the threshold
    exactly as Spark/DuckDB comparison semantics order NaN above every
    number."""
    dim_chunk = 1024

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        A = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        n, dim = A.shape
        nrm2 = np.zeros(n, dtype=np.float64)
        for i in range(dim):  # sequential: matches norm_expr's fold
            nrm2 = nrm2 + A[:, i] * A[:, i]
        nrm = np.sqrt(nrm2)
        out_a: list = []
        out_b: list = []
        out_c: list[float] = []
        for lo in range(0, n, dim_chunk):
            hi = min(lo + dim_chunk, n)
            acc = np.zeros((hi - lo, n), dtype=np.float64)
            for i in range(dim):  # sequential: matches dot_expr's fold
                acc = acc + np.outer(A[lo:hi, i], A[:, i])
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = acc / (nrm[lo:hi, None] * nrm[None, :])
            # numpy comparisons drop NaN, but Spark/DuckDB order NaN above
            # all doubles, so a NaN cosine (zero-norm vector) passes the
            # >= threshold filter on both engines — keep it here too
            ri, ci = np.nonzero((cos >= threshold) | np.isnan(cos))
            # upper triangle only (ids sorted, so index order == id order)
            keep = (ri + lo) < ci
            out_a.extend(ids[ri[keep] + lo].tolist())
            out_b.extend(ids[ci[keep]].tolist())
            out_c.extend(cos[ri[keep], ci[keep]].tolist())
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "cosine": out_c})

    id_type = df.schema[id_col].dataType.simpleString()
    pairs = (
        df.select(
            F.col(id_col).alias(id_col),
            F.col(vec_col).alias(vec_col),
            F.col(label_col).alias("_blk"),
        )
        .filter(F.col("_blk").isNotNull())  # inner-join-on-label semantics
        .groupBy("_blk")
        .applyInPandas(kernel, f"id_a {id_type}, id_b {id_type}, cosine double")
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def _kmeans_centroids(samples: np.ndarray, k: int, iters: int = 10, seed: int = 42) -> np.ndarray:
    """Tiny OFFLINE k-means (numpy, seeded) for the IVF / SemDeDup coarse
    quantizers. Runs on a bounded sample — never on the full corpus — in
    the fit scripts (scripts/fit_ann_structures.py,
    scripts/fit_semdedup_centroids.py) whose outputs are the frozen
    literals the production operators consume."""
    rng = np.random.default_rng(seed)
    centroids = samples[rng.choice(len(samples), size=k, replace=False)]
    for _ in range(iters):
        # cosine assignment on normalized vectors == dot-product argmax
        sims = samples @ centroids.T
        assign = sims.argmax(axis=1)
        for c in range(k):
            members = samples[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        norms = np.linalg.norm(centroids, axis=1, keepdims=True)
        centroids = centroids / np.clip(norms, 1e-12, None)
    return centroids


# Frozen-structure arithmetic, the bit-parity story: the DuckDB oracle
# twins evaluate dots as SEQUENTIAL left-associated double sums
# (list_reduce / explicit chains). Three Spark forms reproduce that sum
# bit-for-bit: the zip_with+aggregate fold, an explicit `+` chain, and a
# numpy loop that accumulates ONE DIMENSION AT A TIME (vectorized over
# rows). Measured at sf0.1 (r6): the interpreted fold costs ~4-5 s per
# frozen ANN query; the explicit chain is far worse (Catalyst planning
# is superlinear in expression-tree size — 2048-node trees took ~45 s);
# the sequential-numpy pandas UDF is ~the r5 UDF constant. The UDFs
# below therefore carry the hot path, with the dimension loop ordered
# exactly like the fold so IEEE754 rounding matches the oracle.


def srp_buckets_frozen_udf(planes: list[list[list[float]]]):
    """Pandas UDF: multi-table SRP bucket ids from FROZEN hyperplanes —
    for table t, bucket = (t << n_planes) + Σ_j [dot(vec, plane_tj) > 0]
    * 2^j. Dots accumulate per-dimension sequentially (acc = acc +
    v[i]*w[i], vectorized across the batch), which is bit-identical to
    the DuckDB oracle's list_reduce fold — the sign decisions, and so
    the candidate set, are deterministic across engines.

    This is the 100 TB deployment shape for LSH retrieval: planes drawn
    once offline (scripts/fit_ann_structures.py), applied everywhere as
    data-independent constants — no driver state, one Arrow-batched
    pass."""
    P = np.asarray(planes, dtype=np.float64)  # (n_tables, n_planes, dim)
    n_tables, n_planes, dim = P.shape

    @pandas_udf("array<bigint>")
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        out = np.zeros((n_tables, mat.shape[0]), dtype=np.int64)
        for t in range(n_tables):
            for j in range(n_planes):
                acc = np.zeros(mat.shape[0], dtype=np.float64)
                for i in range(dim):  # sequential: matches the SQL fold
                    acc = acc + mat[:, i] * P[t, j, i]
                out[t] += (acc > 0).astype(np.int64) << j
            out[t] += t << n_planes
        return pd.Series([row.tolist() for row in out.T])

    return buckets


def frozen_sims_udf(centroids: list[list[float]]):
    """Pandas UDF: per-centroid dot products (array<double>) against
    FROZEN centroids, accumulated one dimension at a time so every sim
    is bit-identical to frozen_cluster_sims_sql's explicit chains."""
    C = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    k, dim = C.shape

    @pandas_udf("array<double>")
    def sims(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        acc = np.zeros((k, mat.shape[0]), dtype=np.float64)
        for c in range(k):
            for i in range(dim):  # sequential: matches the SQL chains
                acc[c] = acc[c] + mat[:, i] * C[c, i]
        return pd.Series([row.tolist() for row in acc.T])

    return sims


def ann_tier_base(
    emb: "DataFrame",
    planes: list[list[list[float]]],
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "DataFrame":
    """ONE corpus pass carrying everything every ANN tier needs:
    (_id, _vec, _n, _srp, _sims) — the vector, its norm, the SRP bucket
    array, and the per-centroid IVF sims. Both pandas UDFs sit in the
    same projection, so Spark extracts them into a SINGLE
    ArrowEvalPython node: one Python round trip per batch instead of one
    per tier. Built for the recall audit (r14), which previously ran the
    SRP bucket pass, the IVF sims pass, and the brute-force norm scan as
    three separate corpus reads; each tier's search derives its side
    from this frame via ``corpus_base``/``query_base`` below with
    expressions IDENTICAL to its standalone path (same norm_expr, same
    UDF builders, same explode/argmax), so scores and candidate sets are
    bit-equal — the driver hash gates confirm."""
    import pyspark.sql.functions as F

    buckets = srp_buckets_frozen_udf(planes)
    sims = frozen_sims_udf(centroids)
    v = F.col(vec_col)
    return spread(
        emb.select(
            F.col(id_col).alias("_id"),
            v.alias("_vec"),
            norm_expr(v).alias("_n"),
            buckets(v).alias("_srp"),
            sims(v).alias("_sims"),
        )
    )


def blocked_assignment(
    emb: "DataFrame", centroids: list[list[float]], *, keep_label: bool = False
) -> "DataFrame":
    """(label × frozen-IVF-list) refined block assignment: every non-null
    -label vector gets blk = label · nlist + argmax(frozen centroid
    dots). ONE definition of the blk arithmetic shared by the 16-list
    blocked tier, the re-fit-64 tier, and the nlist experiment script —
    three hand-synced copies of the cast/argmax/offset expression is
    exactly how quantizer generations de-twin silently."""
    import pyspark.sql.functions as F

    sims = frozen_sims_udf(centroids)
    label = F.col("label").cast("bigint")
    cols = ["vec_id", "embedding"]
    if keep_label:
        cols.append(label.alias("label"))
    return (
        emb.filter(F.col("label").isNotNull())
        .withColumn("_sims", sims(F.col("embedding")))
        .select(
            *cols,
            (
                label * len(centroids)
                + (F.array_position("_sims", F.array_max("_sims")) - 1)
            ).alias("blk"),
        )
    )


def srp_topk_frozen(
    corpus: DataFrame | None = None,
    queries: DataFrame | None = None,
    *,
    planes: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 4,
    corpus_base: DataFrame | None = None,
    query_base: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors: multi-table SRP LSH with
    FROZEN hyperplanes.

    ``corpus_base``/``query_base``: pre-built :func:`ann_tier_base`
    frames, each passed instead of ``corpus``/``queries`` — the bucket
    arrays come off the shared frame's ``_srp`` column (the SAME
    srp_buckets_frozen_udf output) instead of a private corpus pass;
    explode/join/dedup/score are unchanged, so the candidate set and
    scores are bit-identical. Candidates are the union over the tables'
    bucket joins (recall ≈ 1-(1-p^planes)^tables where p = 1 - angle/pi),
    deduplicated before the exact cosine is computed — the bucket key
    bounds the join, no full Q x N scan. The whole query is a pure
    function of the data, so the correctness gate hash-compares
    candidates AND scores. Signatures come from the
    sequential-accumulation pandas UDF (srp_buckets_frozen_udf), whose
    sign decisions are bit-identical to the oracle's list_reduce fold."""
    _check_sides(corpus, queries, corpus_base, query_base)
    if corpus_base is not None:
        c = corpus_base.select(
            F.col("_id").alias("neighbor_id"),
            F.col("_vec").alias("_cvec"),
            F.col("_n").alias("_cn"),
            F.explode("_srp").alias("_bucket"),
        )
    else:
        buckets = srp_buckets_frozen_udf(planes)
        c = spread(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("_cvec"),
                norm_expr(F.col(vec_col)).alias("_cn"),
            )
        ).withColumn("_bucket", F.explode(buckets(F.col("_cvec"))))
    if query_base is not None:
        q = query_base.select(
            F.col("_id").alias("query_id"),
            F.col("_vec").alias("_qvec"),
            F.col("_n").alias("_qn"),
            F.explode("_srp").alias("_bucket"),
        )
    else:
        buckets = srp_buckets_frozen_udf(planes)
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qvec"),
            norm_expr(F.col(vec_col)).alias("_qn"),
        ).withColumn("_bucket", F.explode(buckets(F.col("_qvec"))))

    candidates = (
        c.join(F.broadcast(q), "_bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_cvec", "_qvec", "_cn", "_qn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = candidates.withColumn(
        "score", _prenorm_score(F.col("_cvec"), F.col("_qvec"), F.col("_cn"), F.col("_qn"))
    )
    return _rank_topk(scored, k, round_to)


def frozen_probe_lists(sims_col: Column, n_lists: int, n_probe: int) -> Column:
    """The ``n_probe`` best inverted lists for a query, as an int array
    Column over its per-centroid sims: comparator sort on (sim DESC,
    index ASC) — the numpy argsort tie order, matching the oracle's
    row_number ordering. Shared by the exact-rescan IVF search and the
    PQ-ADC variant so probe selection can never drift between them."""
    entries = F.array(
        *[
            F.struct(F.get(sims_col, i).alias("s"), F.lit(i).alias("i"))
            for i in range(n_lists)
        ]
    )
    ranked_lists = F.array_sort(
        entries,
        lambda l, r: F.when(l["s"] > r["s"], F.lit(-1))
        .when(l["s"] < r["s"], F.lit(1))
        .when(l["i"] < r["i"], F.lit(-1))
        .when(l["i"] > r["i"], F.lit(1))
        .otherwise(F.lit(0)),
    )
    return F.transform(F.slice(ranked_lists, 1, n_probe), lambda x: x["i"])


def ivf_topk_frozen(
    corpus: DataFrame | None = None,
    queries: DataFrame | None = None,
    *,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 4,
    corpus_base: DataFrame | None = None,
    query_base: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine search with a
    PRETRAINED (frozen) coarse quantizer —
    fit once offline (scripts/fit_ann_structures.py): per-centroid sims
    come from the sequential-accumulation pandas UDF (frozen_sims_udf,
    bit-identical to the oracle's chains); corpus vectors argmax-assign
    to one list (array_position of array_max — first-max ties, = numpy
    argmax); queries probe their ``n_probe`` best lists via a comparator
    sort over (sim DESC, index ASC) — the numpy argsort tie order. The
    probed lists, candidate set, and re-ranked top-k are therefore all
    deterministic and hash-gateable. The rescan still touches
    ~n_probe/n_lists of the corpus; no driver-side fit in the hot path,
    which is the warehouse deployment shape."""
    _check_sides(corpus, queries, corpus_base, query_base)
    vec = F.col(vec_col)
    argmax = (
        F.array_position(F.col("_sims"), F.array_max(F.col("_sims"))) - 1
    ).cast("int")
    probes = frozen_probe_lists(F.col("_sims"), len(centroids), n_probe)
    # corpus_base/query_base: pre-built ann_tier_base frames passed instead
    # of corpus/queries — the sims arrays come off the shared ``_sims``
    # column (the SAME frozen_sims_udf output); argmax assignment and probe
    # selection are the identical expressions either way, so
    # lists/candidates/scores are bit-equal.
    if corpus_base is not None:
        c = (
            corpus_base.select(
                F.col("_id").alias("neighbor_id"),
                F.col("_vec").alias("_cvec"),
                F.col("_n").alias("_cn"),
                "_sims",
            )
            .withColumn("_list", argmax)
            .drop("_sims")
        )
    else:
        sims_udf = frozen_sims_udf(centroids)
        c = (
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                vec.alias("_cvec"),
                norm_expr(vec).alias("_cn"),
                sims_udf(vec).alias("_sims"),
            )
            .withColumn("_list", argmax)
            .drop("_sims")
        )
    if query_base is not None:
        q = (
            query_base.select(
                F.col("_id").alias("query_id"),
                F.col("_vec").alias("_qvec"),
                F.col("_n").alias("_qn"),
                "_sims",
            )
            .withColumn("_list", F.explode(probes))
            .drop("_sims")
        )
    else:
        sims_udf = frozen_sims_udf(centroids)
        q = (
            queries.select(
                F.col(id_col).alias("query_id"),
                vec.alias("_qvec"),
                norm_expr(vec).alias("_qn"),
                sims_udf(vec).alias("_sims"),
            )
            .withColumn("_list", F.explode(probes))
            .drop("_sims")
        )

    scored = (
        c.join(F.broadcast(q), "_list")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score",
            _prenorm_score(F.col("_cvec"), F.col("_qvec"), F.col("_cn"), F.col("_qn")),
        )
    )
    return _rank_topk(scored, k, round_to)


def srp_buckets_sql(
    n_tables: int, n_planes: int, dim: int, vec: str = "v", planes: str = "P", t: str = "u.t"
) -> str:
    """DuckDB twin of :func:`srp_buckets_frozen` for ONE table index
    column ``t``: bucket = t*2^n_planes + Σ_j sign-bits. Each dot is
    ``list_reduce`` over the element products — a left-sequential fold
    bit-matching Spark's aggregate (0.0 + x1 == x1 exactly, so the
    missing explicit init cannot diverge). ``planes`` names a literal
    list-of-lists column with flattened (table*n_planes + plane) rows."""
    bits = " + ".join(
        f"(CASE WHEN list_reduce(list_transform(generate_series(1, {dim}),"
        f" i -> {vec}[i] * {planes}[{t} * {n_planes} + {j + 1}][i]),"
        f" (a, x) -> a + x) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes)
    )
    return f"({t} * {1 << n_planes} + {bits})"


def planes_sql_literal(planes: list[list[list[float]]]) -> str:
    """Flattened (table*n_planes + plane)-major DuckDB literal of the
    frozen SRP hyperplanes — the ``planes`` operand of
    :func:`srp_buckets_sql`."""
    rows = [
        "[" + ", ".join(repr(float(x)) for x in p) + "]" for tbl in planes for p in tbl
    ]
    return "[" + ", ".join(rows) + "]"


def assign_frozen_cluster(vec_col: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid assignment against FROZEN unit-norm centroids, as a
    pure Column expression: argmax_c dot(vec, c). Normalizing ``vec`` is
    unnecessary — dividing every dot by the same positive |vec| cannot
    change the argmax. Ties break to the smallest cluster index (first
    position of the max), matching numpy argmax.

    Each dot is a zip_with+aggregate fold — a sequential left-to-right
    double sum, which the DuckDB twin (:func:`frozen_cluster_sims_sql`)
    reproduces term for term so both engines see bit-identical sims.
    (An explicit per-term `+` chain is bitwise-equal too but was REJECTED
    in r6: Catalyst planning is superlinear in expression-tree size, and
    the 1024-node chains made llm_semantic_dedup ~5x slower.)
    """
    sims = [dot_expr(vec_col, F.array(*[F.lit(x) for x in c])) for c in centroids]
    arr = F.array(*sims)
    return (F.array_position(arr, F.array_max(arr)) - 1).cast("int")


def frozen_cluster_sims_sql(centroids: list[list[float]], vec: str = "embedding") -> str:
    """DuckDB list literal of per-centroid dot products, bit-matching
    :func:`assign_frozen_cluster`: explicit left-associated sums of
    CAST(vec[i] AS DOUBLE) * <literal>, one chain per centroid."""
    dots = []
    for c in centroids:
        terms = " + ".join(
            f"(CAST({vec}[{i + 1}] AS DOUBLE) * {x!r})" for i, x in enumerate(c)
        )
        dots.append(f"({terms})")
    return "[" + ", ".join(dots) + "]"


def pair_cosine_sql(dim: int, a: str = "x", b: str = "y", vec: str = "embedding") -> str:
    """DuckDB cosine between two table aliases' vector columns, matching
    _prenorm_score's double arithmetic: dot(a,b) / (norm_a * norm_b) with
    sequential sums. Norms are expected precomputed per side as ``nrm``."""
    dot = " + ".join(
        f"(CAST({a}.{vec}[{i + 1}] AS DOUBLE) * CAST({b}.{vec}[{i + 1}] AS DOUBLE))"
        for i in range(dim)
    )
    return f"(({dot}) / ({a}.nrm * {b}.nrm))"


def norm_sql(dim: int, vec: str = "embedding") -> str:
    """DuckDB twin of norm_expr: sqrt of the sequential sum of squares."""
    terms = " + ".join(
        f"(CAST({vec}[{i + 1}] AS DOUBLE) * CAST({vec}[{i + 1}] AS DOUBLE))"
        for i in range(dim)
    )
    return f"sqrt({terms})"


def semantic_dedup_frozen(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023) with a
    PRETRAINED (frozen) coarse quantizer: cluster embeddings against the
    frozen centroids, find within-cluster cosine pairs above
    ``threshold``, keep the min-id representative of each duplicate
    neighborhood. Returns one row per input with ``(id, cluster,
    in_dup_group, is_dropped, kept_id)`` — ``kept_id`` is the smallest id
    among the duplicates it matched (itself if unique); a row is dropped
    when a smaller-id duplicate exists.

    This is the shape you actually run at 100 TB: the k-means fit happens
    once, offline, on a bounded sample (scripts/fit_semdedup_centroids.py);
    the production pass is then a pure function of the data, with no
    driver-side collect at all — fully SQL-expressible, so the correctness
    gate hash-compares it end to end. The pair scan is blocked per
    cluster, so the quadratic term is (corpus/n_clusters)² per task, never
    corpus²; at 100 TB you raise n_clusters to keep cluster populations
    bounded and the plan is unchanged.
    """
    labeled = df.select(
        F.col(id_col),
        F.col(vec_col),
        assign_frozen_cluster(F.col(vec_col), centroids).alias("cluster"),
    )

    pairs = embedding_neardup_pairs(
        labeled, id_col=id_col, vec_col=vec_col, label_col="cluster", threshold=threshold
    )
    edges = pairs.select(
        F.col("id_a").alias("_id"), F.col("id_b").alias("_peer")
    ).unionByName(pairs.select(F.col("id_b").alias("_id"), F.col("id_a").alias("_peer")))
    reps = edges.groupBy("_id").agg(F.min("_peer").alias("_min_peer"))
    return (
        labeled.join(reps, labeled[id_col] == reps["_id"], "left")
        .select(
            F.col(id_col),
            "cluster",
            F.col("_min_peer").isNotNull().alias("in_dup_group"),
            F.coalesce(F.col("_min_peer") < F.col(id_col), F.lit(False)).alias(
                "is_dropped"
            ),
            F.least(F.coalesce("_min_peer", F.col(id_col)), F.col(id_col)).alias(
                "kept_id"
            ),
        )
    )
