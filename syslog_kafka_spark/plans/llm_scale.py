"""Scale-path curation operators: the 100 TB-shaped variants of the
curation tier — constant-memory Bloom decontamination and count-min
heavy hitters, disjoint-chunk exact dedup, domain temperature mixing
and its hash-threshold subsampler, quality-ranked dedup selection, and
embedding-space audits.

Each query here exists because its naive sibling stops working at
corpus scale: an exact-gram decontamination join needs the train gram
set shuffled or broadcast (GBs at 100 TB — the Bloom filter is ~8 KB),
document-level dedup misses the boilerplate a chunk-level pass removes
(C4's recipe), and mixture weights / embedding audits are the
dashboard aggregations every curation run re-derives. All are pure
Column expressions over the house md5-derived ``hash64`` so every
query is DuckDB-oracle-checkable bit-for-bit.

Reference scope: the engine's curation tier (SURVEY §2B.10); no
reference-repo analog (the reference at syslog/syslog_producer.go is a
transport, not a curation engine).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from syslog_kafka_spark.functions.hashes import hash64, hash64_sql
from syslog_kafka_spark.functions.text import (
    fingerprint,
    fingerprint_sql,
    quality_features,
    token_count,
    tokens,
)
from syslog_kafka_spark.operators.session_cache import session_cache
from syslog_kafka_spark.plans.registry import query
from syslog_kafka_spark.sources.readers import load_tables

_TOKENS_SQL = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '')"

# ---------------------------------------------------------------------------
# Domain temperature mixing
# ---------------------------------------------------------------------------

_MIX_ALPHAS = (0.3, 0.5, 0.7)


def _temperature_mix_oracle() -> str:
    w_cols = ",\n               ".join(
        f"ROUND(power(CAST(sum_tokens AS DOUBLE), {a}) /"
        f" sum(power(CAST(sum_tokens AS DOUBLE), {a})) OVER (), 6)"
        f" AS w_a{int(a * 100)}"
        for a in _MIX_ALPHAS
    )
    return f"""
        WITH per AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS sum_tokens
          FROM documents GROUP BY source
        )
        SELECT source, n_docs, sum_tokens,
               ROUND(sum_tokens * 100.0 / sum(sum_tokens) OVER (), 4) AS p_pct,
               {w_cols},
               ROUND(power(CAST(sum_tokens AS DOUBLE), 0.5)
                     / sum(power(CAST(sum_tokens AS DOUBLE), 0.5)) OVER ()
                     * sum(sum_tokens) OVER () / sum_tokens, 4) AS epochs_a50
        FROM per ORDER BY source
    """


@query("llm_domain_temperature_mix", family="llm", oracle=_temperature_mix_oracle())
def llm_domain_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain sampling weights (the multilingual-LM
    mixing recipe: w_d ∝ p_d^α): per-source token mass, its natural
    share, the α-sweep of sampling weights, and the effective epochs
    each domain sees under α=0.5 at a one-epoch token budget (>1 means
    the sampler repeats the domain; the standard over-sampling audit).

    Distributed shape: one map-side-combinable groupBy over the corpus;
    the α-sweep runs on the ~#domains-row aggregate, so the unbounded
    window is over a frame that fits in one task at any corpus size.
    pow() may differ from the oracle's libm in the last ulp — weights
    are reported at 6 dp where a 1-ulp slip cannot flip the rounding."""
    d = load_tables(spark, sf_dir).documents
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).alias("sum_tokens"),
    )
    w = Window.partitionBy()
    tok_d = F.col("sum_tokens").cast("double")
    total = F.sum("sum_tokens").over(w)
    cols = [
        F.col("source"),
        F.col("n_docs"),
        F.col("sum_tokens"),
        F.round(F.col("sum_tokens") * 100.0 / total, 4).alias("p_pct"),
    ]
    for a in _MIX_ALPHAS:
        share = F.pow(tok_d, F.lit(a)) / F.sum(F.pow(tok_d, F.lit(a))).over(w)
        cols.append(F.round(share, 6).alias(f"w_a{int(a * 100)}"))
    share50 = F.pow(tok_d, F.lit(0.5)) / F.sum(F.pow(tok_d, F.lit(0.5))).over(w)
    cols.append(F.round(share50 * total / F.col("sum_tokens"), 4).alias("epochs_a50"))
    return per.select(*cols).orderBy("source")


# ---------------------------------------------------------------------------
# Embedding-space audit
# ---------------------------------------------------------------------------

# the + 0.0 normalizes signed zero: a mean of -2e-5 rounds to -0.0 in
# DuckDB but +0.0 in Spark, and the driver canon reprs them differently
_DIM_STATS_ORACLE = """
    WITH v AS (
      SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS _t(i)
    )
    SELECT dim, count(*) AS n,
           ROUND(avg(x), 4) + 0.0 AS mean_x,
           ROUND(var_pop(x), 4) + 0.0 AS var_x,
           ROUND(min(x), 6) + 0.0 AS min_x,
           ROUND(max(x), 6) + 0.0 AS max_x
    FROM v GROUP BY dim ORDER BY dim
"""


@query("llm_embedding_dim_stats", family="llm", oracle=_DIM_STATS_ORACLE)
def llm_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding-space audit: mean / population variance /
    range for each of the 64 dimensions — the collapse detector every
    embedding pipeline runs before trusting cosine geometry (a dimension
    with ~zero variance is dead weight in every distance computation;
    a mean far from 0 says the corpus needs centering before IVF/PQ).

    Distributed shape: posexplode emits (dim, value) pairs — 64 rows per
    vector — into a 64-group aggregate with map-side partials, so the
    shuffle is #partitions × 64 rows regardless of corpus size. Float
    accumulation order differs across partitionings; stats are reported
    rounded (4 dp) where the ulp-level reorder noise cannot surface."""
    e = load_tables(spark, sf_dir).embeddings
    v = e.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("x")
    )
    return (
        v.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.avg("x"), 4) + 0.0).alias("mean_x"),
            (F.round(F.var_pop("x"), 4) + 0.0).alias("var_x"),
            (F.round(F.min("x"), 6) + 0.0).alias("min_x"),
            (F.round(F.max("x"), 6) + 0.0).alias("max_x"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# Chunk-level exact dedup (C4-style)
# ---------------------------------------------------------------------------

_CHUNK_DEDUP_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ), ch AS (
      SELECT doc_id, s AS chunk_start,
             {hash64_sql("array_to_string(list_slice(toks, s, s + 31), ' ')", salt="chunk-v1")}
               AS chunk_hash,
             len(list_slice(toks, s, s + 31)) AS n_chunk_tokens
      FROM d, unnest(generate_series(1, greatest(len(toks), 1), 32)) AS _t(s)
    ), rn AS (
      SELECT doc_id, n_chunk_tokens,
             row_number() OVER (PARTITION BY chunk_hash
                                ORDER BY doc_id, chunk_start) AS rk
      FROM ch
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           CAST(sum(CASE WHEN rk > 1 THEN n_chunk_tokens ELSE 0 END) AS BIGINT)
             AS dup_tokens,
           ROUND(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) * 100.0 / count(*), 2)
             AS pct_removed
    FROM rn GROUP BY doc_id ORDER BY doc_id
"""


@query("llm_chunk_dedup_removal", family="llm", oracle=_CHUNK_DEDUP_ORACLE)
def llm_chunk_dedup_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup (the C4 recipe, fixed 32-token disjoint
    windows instead of line splits): every chunk occurrence after the
    first — ordered by (doc_id, chunk_start), the deterministic
    keep-first rule — is marked removable, and the audit reports each
    document's removable chunk/token mass (keep-first rule over the
    global (doc_id, chunk_start) order; complements llm_chunk_dedup's
    cross-document recurrence report). Catches the boilerplate and
    shared-header duplication that document-level exact dedup
    (llm_dedup_exact_stats) misses entirely.

    Distributed shape: disjoint stride means the chunk explode is a 1×
    row blowup; only 8-byte chunk hashes shuffle, keyed by the hash
    itself (uniform — no skew), one window pass + one groupBy. At
    100 TB this is two shuffles of ~(corpus tokens / 32) fixed-width
    rows — the same shape C4 ran at web scale."""
    from syslog_kafka_spark.operators.curation import chunk_tokens

    d = load_tables(spark, sf_dir).documents
    ch = chunk_tokens(d, chunk_size=32, stride=32).select(
        "doc_id",
        "chunk_start",
        hash64("chunk_text", salt="chunk-v1").alias("chunk_hash"),
        "n_chunk_tokens",
    )
    rk = F.row_number().over(
        Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_start")
    )
    dup = (ch.withColumn("rk", rk)).withColumn("is_dup", F.col("rk") > 1)
    return (
        dup.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dup_chunks"),
            F.sum(F.when(F.col("is_dup"), F.col("n_chunk_tokens")).otherwise(0)).alias(
                "dup_tokens"
            ),
            F.round(
                F.sum(F.col("is_dup").cast("int")) * 100.0 / F.count(F.lit(1)), 2
            ).alias("pct_removed"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination
# ---------------------------------------------------------------------------

_BLOOM_M = 65536  # filter positions (8 KB of bits)
_BLOOM_K = 3  # probes per gram
_BLOOM_N = 8  # gram width
if _BLOOM_M & (_BLOOM_M - 1):  # bloom_position_array derives h2 by shiftright
    raise ValueError("_BLOOM_M must be a power of two")


def _bloom_pos_sql(h: str, i: int) -> str:
    """Kirsch–Mitzenmacher double hashing: pos_i = (h1 + i*h2) mod m with
    h1/h2 carved from the one 60-bit gram hash — no per-probe rehash."""
    return (
        f"((({h}) % {_BLOOM_M}) + {i} * ((({h}) // {_BLOOM_M}) % {_BLOOM_M}))"
        f" % {_BLOOM_M}"
    )


def bloom_position_array(h: Column = None) -> Column:
    """Kirsch–Mitzenmacher probe positions (k per gram) as an array
    Column over the 60-bit gram hash — the Spark twin of
    :func:`_bloom_pos_sql`, shared by the batch decontamination build and
    the streaming filter build so both route every gram to the identical
    bit positions. Both h1 and h2 derive from the PASSED column (h2 via
    shiftright — exact integer div-by-2^16 for the non-negative 60-bit
    hash family, where a float division would lose bits above 2^53), so
    a caller handing a custom column can't silently mix hash sources."""
    h = F.col("gram_hash") if h is None else h
    h1 = F.pmod(h, F.lit(_BLOOM_M))
    h2 = F.pmod(
        F.shiftright(h.cast("bigint"), _BLOOM_M.bit_length() - 1), F.lit(_BLOOM_M)
    )
    return F.array(
        *[F.pmod(h1 + F.lit(i) * h2, F.lit(_BLOOM_M)) for i in range(_BLOOM_K)]
    )


def _bloom_decontamination_oracle() -> str:
    from syslog_kafka_spark.operators.curation import hash_split_sql, ngram_hashes_sql

    gram_expr, unnest = ngram_hashes_sql("toks", n=_BLOOM_N, salt="bloom-v1")
    pos_list = ", ".join(_bloom_pos_sql("gram_hash", i) for i in range(_BLOOM_K))
    return f"""
        WITH d AS (
          SELECT doc_id, {_TOKENS_SQL} AS toks,
                 {hash_split_sql('doc_id')} AS split
          FROM documents
        ), g AS (
          SELECT doc_id, split, {gram_expr} AS gram_hash
          FROM d, {unnest}
          WHERE len(toks) >= {_BLOOM_N} AND split != 'val'
        ), train_g AS (
          SELECT DISTINCT gram_hash FROM g WHERE split = 'train'
        ), train_pos AS (
          SELECT DISTINCT p AS pos FROM train_g, unnest([{pos_list}]) AS _p(p)
        ), test_g AS (
          SELECT DISTINCT doc_id, gram_hash FROM g WHERE split = 'test'
        ), test_pos AS (
          SELECT DISTINCT doc_id, gram_hash, p AS pos
          FROM test_g, unnest([{pos_list}]) AS _p(p)
        ), probes AS (
          SELECT t.doc_id, t.gram_hash,
                 count(*) AS n_pos,
                 sum(CASE WHEN train_pos.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
          FROM test_pos t LEFT JOIN train_pos USING (pos)
          GROUP BY t.doc_id, t.gram_hash
        ), verdicts AS (
          SELECT p.doc_id,
                 (p.n_hit = p.n_pos) AS bloom_hit,
                 (tg.gram_hash IS NOT NULL) AS exact_hit
          FROM probes p
          LEFT JOIN (SELECT gram_hash, 1 AS _m FROM train_g) tg
            ON p.gram_hash = tg.gram_hash
        )
        SELECT doc_id,
               count(*) AS n_test_grams,
               CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bloom_hits,
               CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_exact_hits,
               CAST(sum(CASE WHEN bloom_hit AND NOT exact_hit THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_pos,
               (sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) > 0) AS flagged
        FROM verdicts GROUP BY doc_id ORDER BY doc_id
    """


@query(
    "llm_bloom_decontamination",
    family="llm",
    oracle=_bloom_decontamination_oracle(),
)
def llm_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-memory decontamination: the train split's 8-gram hashes
    are folded into a 65536-position Bloom filter (3 Kirsch–Mitzenmacher
    probes per gram, both derived from the one 60-bit gram hash), and
    each held-out document is probed against it — with the exact-join
    verdict computed alongside so the result quantifies the filter's
    false-positive cost against ground truth.

    Why this exists next to llm_decontamination: the exact recipe must
    materialize/broadcast the distinct train gram set, which at 100 TB
    is tens of GB per executor; the Bloom side is ≤65536 distinct
    positions (~8 KB of bits) REGARDLESS of corpus size — built with one
    distinct-aggregate over hashed grams, broadcast to every probe task.
    The m/k here are sized for the test corpus; a production run scales
    m with the gram cardinality estimate and keeps everything else.

    Distributed shape: one tokenize+hash pass feeds both splits behind a
    cache barrier; the filter build is a map-side-combinable distinct of
    bounded cardinality; the probe is a broadcast hash join against the
    ≤m-row position set — the train corpus is never shuffled."""
    from syslog_kafka_spark.operators.curation import hash_split, ngram_hashes

    d = load_tables(spark, sf_dir).documents
    labeled = d.select("doc_id", "text", hash_split("doc_id").alias("split")).filter(
        F.col("split") != "val"
    )
    grams = session_cache(
        ngram_hashes(labeled, n=_BLOOM_N, salt="bloom-v1", carry=("split",))
    )  # eager fill: 4 consumers (2 position sets + exact join sides)
    pos_arr = bloom_position_array()

    train_g = grams.filter(F.col("split") == "train").select("gram_hash").distinct()
    train_pos = train_g.select(F.explode(pos_arr).alias("pos")).distinct()
    test_g = (
        grams.filter(F.col("split") == "test").select("doc_id", "gram_hash").distinct()
    )
    test_pos = test_g.select(
        "doc_id", "gram_hash", F.explode(pos_arr).alias("pos")
    ).distinct()

    probes = (
        test_pos.join(
            F.broadcast(train_pos.withColumn("_hit", F.lit(1))), "pos", "left"
        )
        .groupBy("doc_id", "gram_hash")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hit"),
        )
    )
    # Ground-truth exact hits, decontamination-shaped: the tiny held-out
    # gram set is broadcast INTO the train side (inner join), so the
    # train corpus is never shuffled and never broadcast.
    exact = (
        F.broadcast(test_g)
        .join(train_g, "gram_hash")
        .withColumn("_exact", F.lit(1))
    )
    verdicts = probes.join(
        F.broadcast(exact), ["doc_id", "gram_hash"], "left"
    ).select(
        "doc_id",
        (F.col("n_hit") == F.col("n_pos")).alias("bloom_hit"),
        F.col("_exact").isNotNull().alias("exact_hit"),
    )
    return (
        verdicts.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_test_grams"),
            F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom_hits"),
            F.sum(F.col("exact_hit").cast("long")).alias("n_exact_hits"),
            F.sum((F.col("bloom_hit") & ~F.col("exact_hit")).cast("long")).alias(
                "n_false_pos"
            ),
            (F.sum(F.col("bloom_hit").cast("long")) > 0).alias("flagged"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

_CMS_D = 4  # sketch rows (independent hash salts)
_CMS_W = 2048  # buckets per row
_CMS_TOPK = 20


def _cms_oracle() -> str:
    bucket = {
        r: f"({hash64_sql('term', salt=f'cms-r{r}')}) % {_CMS_W}" for r in range(_CMS_D)
    }
    rows = ",\n        ".join(
        f"b{r} AS (SELECT {bucket[r]} AS b, CAST(sum(cnt) AS BIGINT) AS c{r}"
        f" FROM tc GROUP BY 1)"
        for r in range(_CMS_D)
    )
    joins = "\n          ".join(
        f"JOIN b{r} ON ({bucket[r].replace('term', 't.term')}) = b{r}.b"
        for r in range(_CMS_D)
    )
    least = "least(" + ", ".join(f"c{r}" for r in range(_CMS_D)) + ")"
    return f"""
        WITH tok AS (
          SELECT unnest({_TOKENS_SQL}) AS term FROM documents
        ), tc AS (
          SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY term
        ), {rows},
        top AS (
          SELECT term, cnt FROM tc ORDER BY cnt DESC, term LIMIT {_CMS_TOPK}
        )
        SELECT t.term, t.cnt AS exact_cnt,
               {least} AS cms_est,
               {least} - t.cnt AS overest,
               ROUND(({least} - t.cnt) * 1.0 / t.cnt, 6) AS rel_overest
        FROM top t
          {joins}
        ORDER BY exact_cnt DESC, term
    """


@query("llm_cms_heavy_hitters", family="llm", oracle=_cms_oracle())
def llm_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter audit: the corpus term stream folded
    into a 4×2048 CMS (one salted hash64 per row), the top-20 exact terms
    probed against it, and the sketch's overestimate priced per term.
    CMS is deterministic given fixed hashes, so unlike sampling sketches
    it is exactly oracle-checkable — and its one-sided error (est ≥
    exact, always) is pinned by a test.

    Why this is the scale path: exact term counting shuffles the full
    vocabulary (hundreds of millions of keys at 100 TB); the sketch is
    4×2048 counters REGARDLESS of vocabulary size, mergeable across
    executors (counter-wise add), and each row's bucket table here is a
    map-side-combinable groupBy producing ≤2048 rows that broadcast onto
    the probe. The exact counts are computed alongside only because the
    audit's point is measuring the sketch against ground truth.

    Distributed shape: one corpus explode → vocab-keyed count (cached —
    feeds the 4 bucket tables AND the top-k), 4 vocab→2048 aggregates,
    one TakeOrdered top-k, broadcast joins only."""
    d = load_tables(spark, sf_dir).documents
    tc = session_cache(
        d.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )  # eager fill: 5 consumers (top-k + 4 bucket tables) race cold

    def bucket(col: str, r: int):
        return F.pmod(hash64(col, salt=f"cms-r{r}"), F.lit(_CMS_W))

    probe = tc.orderBy(F.desc("cnt"), "term").limit(_CMS_TOPK)
    for r in range(_CMS_D):
        bt = tc.groupBy(bucket("term", r).alias(f"b{r}")).agg(
            F.sum("cnt").cast("bigint").alias(f"c{r}")
        )
        probe = probe.withColumn(f"b{r}", bucket("term", r)).join(
            F.broadcast(bt), f"b{r}"
        )
    est = F.least(*[F.col(f"c{r}") for r in range(_CMS_D)])
    return probe.select(
        "term",
        F.col("cnt").alias("exact_cnt"),
        est.alias("cms_est"),
        (est - F.col("cnt")).alias("overest"),
        F.round((est - F.col("cnt")) * 1.0 / F.col("cnt"), 6).alias("rel_overest"),
    ).orderBy(F.desc("exact_cnt"), "term")


# ---------------------------------------------------------------------------
# Mixture subsampling (apply the temperature weights)
# ---------------------------------------------------------------------------

_SUB_BETA = 0.5  # token budget as a fraction of the corpus


def _mixture_subsample_oracle() -> str:
    # sqrt (IEEE-exact, unlike pow(x, 0.5)) and keep_prob PINNED at 6 dp
    # before the bucket threshold, so a last-ulp slip in the window sum
    # cannot flip a document's keep decision on one engine only
    doc_bucket = f"({hash64_sql('CAST(doc_id AS VARCHAR)', salt='mix-sub-v1')}) % 1000000"
    return f"""
        WITH doc AS (
          SELECT doc_id, source, len({_TOKENS_SQL}) AS doc_tokens,
                 {doc_bucket} AS bucket
          FROM documents
        ), per AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(doc_tokens) AS BIGINT) AS n_tokens
          FROM doc GROUP BY source
        ), wgt AS (
          SELECT source, n_docs, n_tokens,
                 sqrt(CAST(n_tokens AS DOUBLE))
                   / sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER () AS w_target,
                 sum(n_tokens) OVER () AS total_tokens
          FROM per
        ), wgt2 AS (
          SELECT source, n_docs, n_tokens, w_target,
                 round(least(1.0, w_target * {_SUB_BETA} * total_tokens
                                  / greatest(n_tokens, 1)), 6) AS keep_prob
          FROM wgt
        ), kept AS (
          SELECT d.source,
                 count(*) AS n_kept,
                 CAST(sum(d.doc_tokens) AS BIGINT) AS kept_tokens
          FROM doc d JOIN wgt2 USING (source)
          WHERE d.bucket < keep_prob * 1000000
          GROUP BY d.source
        )
        SELECT w.source, w.n_docs, w.n_tokens,
               coalesce(k.n_kept, 0) AS n_kept,
               CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
               ROUND(w.w_target, 6) AS w_target,
               w.keep_prob,
               ROUND(coalesce(k.kept_tokens, 0)
                     / sum(coalesce(k.kept_tokens, 0)) OVER (), 6) AS achieved_share
        FROM wgt2 w LEFT JOIN kept k USING (source)
        ORDER BY w.source
    """


@query(
    "llm_mixture_subsample", family="llm", oracle=_mixture_subsample_oracle()
)
def llm_mixture_subsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture subsampling: the α=0.5 temperature weights
    (see llm_domain_temperature_mix) are APPLIED — each domain keeps
    documents whose salted hash64 bucket falls under its keep
    probability, sized so the kept corpus hits a β=0.5 token budget at
    the target mixture. The audit reports, per domain, the target
    weight, the keep probability, and the achieved share of the kept
    token mass (which converges on w_target as the corpus grows —
    hash-bucket sampling is the law of large numbers in action).

    Down-sampling only (keep_prob capped at 1): domains whose target
    exceeds their mass keep everything — the epochs>1 repeat factor is
    a sampler-side concern this operator reports but cannot apply.

    Distributed shape: pass 1 is the per-source token aggregate
    (map-side combinable); the ~#domains weight table broadcasts back
    onto the corpus for the hash-threshold filter (pure Column
    expressions — no shuffle of document rows at all); pass 2 re-
    aggregates the kept mass per source. Two corpus scans, zero
    corpus-sized shuffles, at any scale."""
    d = load_tables(spark, sf_dir).documents
    doc = d.select(
        "doc_id",
        "source",
        token_count("text").alias("doc_tokens"),
        F.pmod(
            hash64(F.col("doc_id").cast("string"), salt="mix-sub-v1"), F.lit(1000000)
        ).alias("bucket"),
    )
    per = doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_tokens").cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy()
    tok_d = F.col("n_tokens").cast("double")
    wgt = session_cache(  # eager fill: 2 consumers would each re-run the corpus agg
        per.select(
            "source",
            "n_docs",
            "n_tokens",
            (F.sqrt(tok_d) / F.sum(F.sqrt(tok_d)).over(w)).alias("w_target"),
            F.sum("n_tokens").over(w).alias("total_tokens"),
        ).withColumn(
            # sqrt is IEEE-exact (pow(x, 0.5) is not), and the keep
            # probability is PINNED at 6 dp before the threshold so a
            # last-ulp slip in the window sum cannot flip a keep decision
            "keep_prob",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col("w_target")
                    * F.lit(_SUB_BETA)
                    * F.col("total_tokens")
                    / F.greatest(F.col("n_tokens"), F.lit(1)),
                ),
                6,
            ),
        )
    )
    kept = (
        doc.join(F.broadcast(wgt), "source")
        .filter(F.col("bucket") < F.col("keep_prob") * F.lit(1000000))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_tokens").cast("bigint").alias("kept_tokens"),
        )
    )
    out = (
        wgt.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias("kept_tokens"),
            F.round("w_target", 6).alias("w_target"),
            "keep_prob",
        )
    )
    return out.withColumn(
        "achieved_share",
        F.round(
            F.col("kept_tokens") / F.sum("kept_tokens").over(Window.partitionBy()), 6
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# HyperLogLog vocabulary cardinality
# ---------------------------------------------------------------------------

_HLL_P = 10  # register-index bits
_HLL_M = 1 << _HLL_P  # 1024 registers
_HLL_WBITS = 60 - _HLL_P  # rho window: remaining hash bits
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)  # standard bias constant


def hll_register_frame(tok: DataFrame) -> DataFrame:
    """(source, reg, rho) HLL register frame from a (source, term) frame
    — register = low 10 hash bits, rho = leading-zero rank of the
    remaining 50 via exact integer bit-length. Pure expressions + ONE
    max-aggregate, so it drops unchanged into a streaming plan: shared
    by the batch audit and the streaming twin (stream_hll_build)."""
    hh = tok.select(
        "source", hash64("term", salt="hll-v1").alias("h")
    ).select(
        "source",
        F.pmod(F.col("h"), F.lit(_HLL_M)).alias("reg"),
        F.expr(f"h div {_HLL_M}").alias("w"),
    )
    bitlen = F.length(F.conv(F.col("w"), 10, 2))
    rho = F.when(F.col("w") == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - bitlen
    )
    return hh.groupBy("source", "reg").agg(F.max(rho).alias("rho"))


def hll_estimators() -> tuple[Column, Column, Column]:
    """(raw, linear, est) estimator Columns over a (used, z_used) sketch
    frame — α·m²/Σ2^-M_j with the PINNED (2-dp) linear-counting regime
    rule. The ONE definition both the batch audit and the streaming twin
    evaluate, so the regime decision can never drift between them: the
    comparison uses the 2-dp-rounded raw value because z_used is
    accumulation-order-sensitive and an unrounded comparison exactly at
    2.5m could pick different regimes per engine (the keep_prob pinning
    rule, applied here)."""
    z = F.col("z_used") + (F.lit(_HLL_M) - F.col("used"))
    raw = F.lit(_HLL_ALPHA) * _HLL_M * _HLL_M / z
    linear = F.lit(float(_HLL_M)) * F.log(
        F.lit(_HLL_M) * 1.0 / (F.lit(_HLL_M) - F.col("used"))
    )
    est = F.when(
        (F.round(raw, 2) <= F.lit(2.5) * _HLL_M) & (F.col("used") < _HLL_M), linear
    ).otherwise(raw)
    return raw, linear, est


def hll_estimate_columns(sk: DataFrame) -> DataFrame:
    """(source, used_registers, hll_raw, hll_est) from a drained
    (source, used, z_used) sketch frame — the streaming twin's report."""
    raw, _linear, est = hll_estimators()
    return sk.select(
        "source",
        F.col("used").alias("used_registers"),
        F.round(raw, 2).alias("hll_raw"),
        F.round(est, 2).alias("hll_est"),
    )


def _hll_oracle() -> str:
    h = hash64_sql("term", salt="hll-v1")
    z = f"(z_used + ({_HLL_M} - used))"  # absent registers contribute 2^0
    # CAST: a bare float literal is DECIMAL in DuckDB (overflows on *m*m,
    # and decimal arithmetic is exact where Spark's double is not)
    raw = f"(CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M} / {z})"
    return f"""
        WITH tok AS (
          SELECT source, unnest({_TOKENS_SQL}) AS term FROM documents
        ), hh AS (
          SELECT source, ({h}) % {_HLL_M} AS reg, ({h}) // {_HLL_M} AS w
          FROM tok
        ), reg AS (
          SELECT source, reg,
                 max(CASE WHEN w = 0 THEN {_HLL_WBITS + 1}
                          ELSE {_HLL_WBITS + 1} - length(bin(w)) END) AS rho
          FROM hh GROUP BY source, reg
        ), sk AS (
          SELECT source,
                 CAST(count(*) AS BIGINT) AS used,
                 sum(power(2.0, -rho)) AS z_used
          FROM reg GROUP BY source
        ), ex AS (
          SELECT source, CAST(count(DISTINCT term) AS BIGINT) AS exact_distinct
          FROM tok GROUP BY source
        )
        SELECT s.source, e.exact_distinct, s.used AS used_registers,
               ROUND({raw}, 2) AS hll_raw,
               CASE WHEN s.used < {_HLL_M}
                    THEN ROUND({_HLL_M} * ln({_HLL_M} * 1.0 / ({_HLL_M} - s.used)), 2)
               END AS hll_linear,
               -- regime rule compares the PINNED (2-dp) raw estimator:
               -- z_used is accumulation-order-sensitive, and an unrounded
               -- comparison exactly at 2.5m could pick linear on one
               -- engine and raw on the other (same rule as the 6-dp
               -- keep_prob pinning elsewhere in this module)
               ROUND(CASE WHEN ROUND({raw}, 2) <= 2.5 * {_HLL_M} AND s.used < {_HLL_M}
                          THEN {_HLL_M} * ln({_HLL_M} * 1.0 / ({_HLL_M} - s.used))
                          ELSE {raw} END, 2) AS hll_est,
               ROUND(abs(CASE WHEN ROUND({raw}, 2) <= 2.5 * {_HLL_M} AND s.used < {_HLL_M}
                              THEN {_HLL_M} * ln({_HLL_M} * 1.0 / ({_HLL_M} - s.used))
                              ELSE {raw} END - e.exact_distinct)
                     / e.exact_distinct, 4) AS rel_err
        FROM sk s JOIN ex e USING (source)
        ORDER BY s.source
    """


@query("llm_hll_vocab_cardinality", family="llm", oracle=_hll_oracle())
def llm_hll_vocab_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token cardinality per source, hand-rolled on
    the house hash64 so — unlike Spark's approx_count_distinct, whose
    HLL++ internals no other engine reproduces — the whole sketch is
    deterministic and exactly oracle-checkable: register = low 10 hash
    bits, rho = leading-zero rank of the remaining 50 bits (computed by
    exact integer bit-length via binary-string length — floating log2
    misrounds at power-of-two boundaries), estimate = α·m²/Σ2^-M_j with
    the linear-counting variant reported alongside whenever any register
    is empty. Exact distinct counts computed next to it price the
    sketch's error against ground truth.

    Why this is the scale path: exact per-source vocabulary needs a
    corpus-wide distinct on (source, term) — hundreds of millions of
    keys at 100 TB; the sketch reduces map-side to ≤1024 registers per
    source (counter-wise max-mergeable across executors, the same
    merge the groupBy's partial aggregation performs here), so only
    #sources × 1024 fixed-width rows ever shuffle. The exact side
    exists because the audit's point is measuring the sketch.

    Bit-parity: 2^-rho terms are exact powers of two but their sum is
    accumulation-order-sensitive at the 61-bit span, and ln() is libm;
    estimates are reported at 2 dp where a last-ulp slip cannot flip
    the rounding."""
    d = load_tables(spark, sf_dir).documents
    tok = d.select("source", F.explode(tokens("text")).alias("term"))
    reg = hll_register_frame(tok)
    sk = reg.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("used"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("z_used"),
    )
    ex = tok.groupBy("source").agg(
        F.countDistinct("term").cast("bigint").alias("exact_distinct")
    )
    # the standard regime rule: linear counting below 2.5m (where the raw
    # estimator is biased), raw above (where V→0 starves linear counting)
    # — one shared definition with the streaming twin, pinned at 2 dp.
    raw, linear, est = hll_estimators()
    return (
        sk.join(ex, "source")
        .select(
            "source",
            "exact_distinct",
            F.col("used").alias("used_registers"),
            F.round(raw, 2).alias("hll_raw"),
            F.when(F.col("used") < _HLL_M, F.round(linear, 2)).alias("hll_linear"),
            F.round(est, 2).alias("hll_est"),
            F.round(
                F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct"), 4
            ).alias("rel_err"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct sketch with set operations
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_SCALE = float(1 << 60)  # hash64 domain upper bound


def _kmv_oracle() -> str:
    h = hash64_sql("term", salt="kmv-v1")
    merged = "list_slice(list_sort(list_distinct(list_concat(a.ks, b.ks))), 1, {k})".format(
        k=_KMV_K
    )
    return f"""
        WITH tok AS (
          SELECT DISTINCT source, ({h}) AS h
          FROM (SELECT source, unnest({_TOKENS_SQL}) AS term FROM documents)
        ), rk AS (
          SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS r
          FROM tok
        ), ks AS (
          SELECT source,
                 list_sort(list(h ORDER BY h)) AS ks,
                 CAST(max(r) AS BIGINT) AS n_kept
          FROM rk WHERE r <= {_KMV_K} GROUP BY source
        ), ex AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM tok GROUP BY source
        ), inter AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 CAST(count(*) AS BIGINT) AS exact_inter
          FROM tok a JOIN tok b ON a.h = b.h AND a.source < b.source
          GROUP BY 1, 2
        ), pairs AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 ea.n_exact AS exact_a, eb.n_exact AS exact_b,
                 {merged} AS merged,
                 a.ks AS ka, b.ks AS kb
          FROM ks a JOIN ks b ON a.source < b.source
          JOIN ex ea ON ea.source = a.source
          JOIN ex eb ON eb.source = b.source
        ), est AS (
          SELECT source_a, source_b, exact_a, exact_b, merged, ka, kb,
                 len(merged) AS m,
                 CASE WHEN len(merged) < {_KMV_K}
                      THEN CAST(len(merged) AS DOUBLE)
                      ELSE ({_KMV_K} - 1) * {_KMV_SCALE!r}
                           / CAST(merged[{_KMV_K}] AS DOUBLE) END AS union_est,
                 len(list_intersect(list_intersect(merged, ka), kb)) AS n_both
          FROM pairs
        )
        SELECT e.source_a, e.source_b, e.exact_a, e.exact_b,
               coalesce(i.exact_inter, 0) AS exact_inter,
               ROUND(e.union_est, 2) AS kmv_union_est,
               ROUND(e.n_both * 1.0 / e.m, 4) AS kmv_jaccard_est,
               ROUND(e.n_both * 1.0 / e.m * e.union_est, 2) AS kmv_inter_est,
               ROUND(abs(e.union_est
                         - (e.exact_a + e.exact_b - coalesce(i.exact_inter, 0)))
                     / (e.exact_a + e.exact_b - coalesce(i.exact_inter, 0)), 4)
                 AS union_rel_err
        FROM est e
        LEFT JOIN inter i ON i.source_a = e.source_a AND i.source_b = e.source_b
        ORDER BY e.source_a, e.source_b
    """


@query("llm_kmv_source_overlap", family="llm", oracle=_kmv_oracle())
def llm_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k, k=256) distinct sketches per source with SET
    OPERATIONS — the capability HLL lacks: merging two sketches' bottom
    values estimates the union, and the fraction of merged values
    present in BOTH input sketches estimates Jaccard, hence the
    intersection (the Theta-sketch recipe). Exact pairwise
    intersections are computed alongside to price the estimates.
    Bottom-k of a salted hash is a pure SET property — independent of
    order, duplicates, and partitioning — so unlike Misra-Gries-style
    stream summaries (order-dependent, not gateable) the whole sketch
    is hash-oracle-checkable.

    Why this is the scale path: per-source distinct vocabularies never
    co-shuffle — each source keeps 256 hashes (one window pass over the
    distinct frame), and every pairwise union/intersection estimate is
    list arithmetic on 256-element arrays broadcast in a #sources²
    frame. The exact intersection join exists only as the audit's
    ground truth.

    Distributed shape: ONE (source, term-hash) distinct (cached, eager
    — bottom-k, exact counts, and both exact-join sides consume it),
    a per-source window for the bottom-k, then everything downstream
    operates on ≤#sources×256 values."""
    d = load_tables(spark, sf_dir).documents
    tok = session_cache(
        d.select("source", F.explode(tokens("text")).alias("term"))
        .select("source", hash64("term", salt="kmv-v1").alias("h"))
        .distinct()
    )  # eager fill: 4 consumers race a cold cache
    rk = tok.withColumn(
        "r", F.row_number().over(Window.partitionBy("source").orderBy("h"))
    )
    ks = (
        rk.filter(F.col("r") <= _KMV_K)
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("h")).alias("ks"))
    )
    ex = tok.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    a, b = tok.alias("ia"), tok.alias("ib")
    inter = (
        a.join(
            b,
            (F.col("ia.h") == F.col("ib.h")) & (F.col("ia.source") < F.col("ib.source")),
        )
        .groupBy(
            F.col("ia.source").alias("source_a"), F.col("ib.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_inter"))
    )
    ksa = ks.select(F.col("source").alias("source_a"), F.col("ks").alias("ka"))
    ksb = ks.select(F.col("source").alias("source_b"), F.col("ks").alias("kb"))
    exa = ex.select(F.col("source").alias("source_a"), F.col("n_exact").alias("exact_a"))
    exb = ex.select(F.col("source").alias("source_b"), F.col("n_exact").alias("exact_b"))
    pairs = (
        ksa.join(ksb, F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(exa), "source_a")
        .join(F.broadcast(exb), "source_b")
        .withColumn(
            "merged",
            F.slice(F.array_sort(F.array_union("ka", "kb")), 1, _KMV_K),
        )
    )
    m = F.size("merged")
    union_est = F.when(m < _KMV_K, m.cast("double")).otherwise(
        F.lit(float(_KMV_K - 1))
        * F.lit(_KMV_SCALE)
        / F.element_at("merged", _KMV_K).cast("double")
    )
    n_both = F.size(F.array_intersect(F.array_intersect(F.col("merged"), F.col("ka")), F.col("kb")))
    est = pairs.select(
        "source_a",
        "source_b",
        "exact_a",
        "exact_b",
        m.alias("m"),
        union_est.alias("union_est"),
        n_both.alias("n_both"),
    )
    exact_union = (
        F.col("exact_a") + F.col("exact_b") - F.coalesce("exact_inter", F.lit(0))
    )
    return (
        est.join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "exact_a",
            "exact_b",
            F.coalesce("exact_inter", F.lit(0)).cast("bigint").alias("exact_inter"),
            F.round("union_est", 2).alias("kmv_union_est"),
            F.round(F.col("n_both") * 1.0 / F.col("m"), 4).alias("kmv_jaccard_est"),
            F.round(F.col("n_both") * 1.0 / F.col("m") * F.col("union_est"), 2).alias(
                "kmv_inter_est"
            ),
            F.round(F.abs(F.col("union_est") - exact_union) / exact_union, 4).alias(
                "union_rel_err"
            ),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Histogram quantile sketch
# ---------------------------------------------------------------------------

_QSK_WIDTH = 16  # tokens per histogram bucket
_QSK_BUCKETS = 128
_QSK_PS = (0.5, 0.9, 0.99)


def _quantile_sketch_oracle() -> str:
    # CAST: bare float literals are DECIMAL in DuckDB, and DECIMAL
    # 0.99*total is exact where Spark's double 0.99*total is not — at a
    # cum boundary that flips which bucket the probe selects
    ps = ", ".join(f"CAST({p!r} AS DOUBLE)" for p in _QSK_PS)
    return f"""
        WITH d AS (
          SELECT len({_TOKENS_SQL}) AS n FROM documents
        ), hist AS (
          SELECT least(CAST(n // {_QSK_WIDTH} AS BIGINT), {_QSK_BUCKETS - 1})
                   AS bucket,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM d GROUP BY 1
        ), cum AS (
          SELECT bucket, cnt,
                 sum(cnt) OVER (ORDER BY bucket) AS cum,
                 sum(cnt) OVER () AS total
          FROM hist
        ), hit AS (
          SELECT p.p, c.bucket, c.cnt, c.cum - c.cnt AS cum_prev, c.total,
                 row_number() OVER (PARTITION BY p.p ORDER BY c.bucket) AS rk
          FROM (SELECT unnest([{ps}]) AS p) p
          JOIN cum c ON c.cum >= p.p * c.total
        ), ex AS (
          SELECT quantile_cont(n, [{ps}]) AS qs FROM d
        )
        SELECT h.p,
               ROUND(ex.qs[h.rk0] * 1.0, 4) AS exact_q,
               ROUND(h.bucket * {_QSK_WIDTH}
                     + (h.p * h.total - h.cum_prev) / h.cnt * {_QSK_WIDTH}, 4)
                 AS approx_q,
               ROUND(abs(h.bucket * {_QSK_WIDTH}
                         + (h.p * h.total - h.cum_prev) / h.cnt * {_QSK_WIDTH}
                         - ex.qs[h.rk0]), 4) AS abs_err
        FROM (SELECT *, row_number() OVER (ORDER BY p) AS rk0
              FROM hit WHERE rk = 1) h
        CROSS JOIN ex
        ORDER BY h.p
    """


@query("llm_length_quantile_sketch", family="llm", oracle=_quantile_sketch_oracle())
def llm_length_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantile sketch of document token lengths: a fixed
    128-bucket equi-width histogram (16 tokens/bucket) interpolated at
    p50/p90/p99, priced against the exact percentile computed alongside.
    The packing planner consumes these quantiles (sequence-length
    budgets, padding ceilings); at corpus scale it reads the sketch, not
    a global sort.

    Why this is the scale path: exact percentiles need a corpus-wide
    sort (or Spark's approx_percentile, whose internal G-K sketch no
    other engine reproduces); the histogram is 128 counters,
    counter-wise mergeable across executors with map-side combine —
    #partitions × 128 rows shuffle, then the interpolation runs on a
    128-row frame. The exact side exists to price the sketch's error.

    Parity: bucket index is integer floor-div (no floats), the
    interpolation is one division rounded at 4 dp, and Spark's exact
    percentile() and DuckDB's quantile_cont share the (n-1)p linear
    interpolation rule (verified on this corpus)."""
    d = load_tables(spark, sf_dir).documents
    n = d.select(token_count("text").alias("n"))
    hist = n.groupBy(
        F.least(
            F.floor(F.col("n") / _QSK_WIDTH).cast("bigint"),
            F.lit(_QSK_BUCKETS - 1),
        ).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("total"),
    )
    ps = F.explode(F.array(*[F.lit(p) for p in _QSK_PS])).alias("p")
    hit = (
        n.sparkSession.range(1)
        .select(ps)
        .join(cum, F.col("cum") >= F.col("p") * F.col("total"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("p").orderBy("bucket")
            ),
        )
        .filter(F.col("rk") == 1)
    )
    approx = (
        F.col("bucket") * _QSK_WIDTH
        + (F.col("p") * F.col("total") - (F.col("cum") - F.col("cnt")))
        / F.col("cnt")
        * _QSK_WIDTH
    )
    ex = n.agg(
        *[F.percentile("n", p).alias(f"_q{i}") for i, p in enumerate(_QSK_PS)]
    )
    exact = F.array(*[F.col(f"_q{i}") for i in range(len(_QSK_PS))])[
        F.row_number().over(Window.partitionBy().orderBy("p")) - 1
    ]
    return (
        hit.join(F.broadcast(ex))
        .select(
            "p",
            F.round(exact * 1.0, 4).alias("exact_q"),
            F.round(approx, 4).alias("approx_q"),
            F.round(F.abs(approx - exact), 4).alias("abs_err"),
        )
        .orderBy("p")
    )


# ---------------------------------------------------------------------------
# Semantic decontamination (IVF-bucketed embedding leakage scan)
# ---------------------------------------------------------------------------

_SEMDECON_TAU = 0.3


def _semantic_decontamination_oracle() -> str:
    from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS
    from syslog_kafka_spark.operators.curation import hash_split_sql
    from syslog_kafka_spark.operators.similarity import frozen_cluster_sims_sql

    return f"""
        WITH a0 AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 {frozen_cluster_sims_sql(IVF_CENTROIDS)} AS sims,
                 {hash_split_sql('vec_id')} AS split
          FROM embeddings
        ), c AS (
          SELECT vec_id, v, split,
                 CAST(list_position(sims, list_max(sims)) - 1 AS INT) AS lst,
                 sqrt(list_dot_product(v, v)) AS nrm
          FROM a0 WHERE split != 'val'
        ), pairs AS (
          SELECT q.vec_id AS test_id, t.vec_id AS train_id,
                 list_dot_product(t.v, q.v) / (t.nrm * q.nrm) AS score
          FROM c q JOIN c t ON q.lst = t.lst
          WHERE q.split = 'test' AND t.split = 'train'
        ), ranked AS (
          SELECT test_id, train_id, score,
                 row_number() OVER (PARTITION BY test_id
                                    ORDER BY score DESC, train_id) AS rk,
                 count(*) OVER (PARTITION BY test_id) AS n_candidates
          FROM pairs
        )
        SELECT test_id, CAST(n_candidates AS BIGINT) AS n_candidates,
               train_id AS best_train_id,
               CAST(round(score, 4) AS DOUBLE) AS best_cosine,
               round(score, 4) >= {_SEMDECON_TAU} AS flagged
        FROM ranked WHERE rk = 1
        ORDER BY test_id
    """


@query(
    "llm_semantic_decontamination",
    family="llm",
    oracle=_semantic_decontamination_oracle(),
)
def llm_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination: for every held-out vector, the
    nearest TRAIN vector by cosine — candidates restricted to the test
    vector's frozen IVF list (the index both ANN queries probe) — with
    the flag raised when best-cosine ≥ τ=0.3. Catches the paraphrased /
    re-encoded leakage that exact and Bloom n-gram decontamination
    (llm_decontamination, llm_bloom_decontamination) can never see,
    completing the engine's decontamination ladder: exact grams → Bloom
    grams → embedding space.

    Distributed shape: one pass assigns split + IVF list + norm (cached,
    eagerly filled — the train and test sides both read it, and a cold
    cache races N-ways); the bipartite join is keyed on the list id so
    each test vector meets ~1/n_lists of the train split, never the
    whole corpus. The 16 frozen lists are sized for the gate corpus — at
    100 TB nlist grows ~√N (the FAISS rule), keeping per-list occupancy
    (and so join fan-out AND key parallelism) bounded; the shape is
    unchanged. Scores ride the ANN tier's bit-parity: the frozen-sims
    pandas UDF for assignment, fold-identical dots for scoring, 4 dp
    rounding (the llm_ann_* precedent), flag compared on the ROUNDED
    score so a last-ulp slip cannot flip it."""
    from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS
    from syslog_kafka_spark.operators.curation import hash_split
    from syslog_kafka_spark.operators.similarity import (
        _prenorm_score,
        frozen_sims_udf,
        norm_expr,
    )

    emb = load_tables(spark, sf_dir).embeddings
    sims = frozen_sims_udf(IVF_CENTROIDS)
    assigned = (
        emb.select(
            "vec_id", "embedding", hash_split(F.col("vec_id")).alias("split")
        )
        .filter(F.col("split") != "val")
        .withColumn("_sims", sims(F.col("embedding")))
        .select(
            "vec_id",
            "embedding",
            "split",
            (F.array_position("_sims", F.array_max("_sims")) - 1)
            .cast("int")
            .alias("lst"),
            norm_expr(F.col("embedding")).alias("nrm"),
        )
    )
    assigned = session_cache(
        assigned
    )  # eager fill: train + test consumers race a cold cache
    train = assigned.filter(F.col("split") == "train").select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("_tv"),
        F.col("nrm").alias("_tn"),
        "lst",
    )
    test = assigned.filter(F.col("split") == "test").select(
        F.col("vec_id").alias("test_id"),
        F.col("embedding").alias("_qv"),
        F.col("nrm").alias("_qn"),
        "lst",
    )
    pairs = test.join(train, "lst").select(
        "test_id",
        "train_id",
        _prenorm_score(F.col("_tv"), F.col("_qv"), F.col("_tn"), F.col("_qn")).alias(
            "score"
        ),
    )
    wr = Window.partitionBy("test_id").orderBy(F.desc("score"), F.asc("train_id"))
    wc = Window.partitionBy("test_id")
    return (
        pairs.withColumn("rk", F.row_number().over(wr))
        .withColumn("n_candidates", F.count(F.lit(1)).over(wc).cast("bigint"))
        .filter(F.col("rk") == 1)
        .select(
            "test_id",
            "n_candidates",
            F.col("train_id").alias("best_train_id"),
            F.round("score", 4).alias("best_cosine"),
            (F.round("score", 4) >= F.lit(_SEMDECON_TAU)).alias("flagged"),
        )
        .orderBy("test_id")
    )


# ---------------------------------------------------------------------------
# Epoch up-sampling plan (apply the repeat factors)
# ---------------------------------------------------------------------------


def _epoch_upsample_oracle() -> str:
    doc_bucket = (
        f"({hash64_sql('CAST(doc_id AS VARCHAR)', salt='epoch-v1')}) % 1000000"
    )
    return f"""
        WITH doc AS (
          SELECT doc_id, source, len({_TOKENS_SQL}) AS doc_tokens,
                 {doc_bucket} AS bucket
          FROM documents
        ), per AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(doc_tokens) AS BIGINT) AS n_tokens
          FROM doc GROUP BY source
        ), wgt AS (
          SELECT source, n_docs, n_tokens,
                 round(sqrt(CAST(n_tokens AS DOUBLE))
                         / sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER ()
                         * sum(n_tokens) OVER () / n_tokens, 6) AS epochs
          FROM per
        ), cp AS (
          SELECT d.source, d.doc_tokens,
                 CAST(floor(w.epochs) AS BIGINT)
                   + CASE WHEN d.bucket
                            < (w.epochs - floor(w.epochs)) * 1000000
                          THEN 1 ELSE 0 END AS copies
          FROM doc d JOIN wgt w USING (source)
        ), emitted AS (
          SELECT source,
                 CAST(sum(copies) AS BIGINT) AS n_copies,
                 CAST(sum(doc_tokens * copies) AS BIGINT) AS emitted_tokens
          FROM cp GROUP BY source
        )
        SELECT w.source, w.n_docs, w.n_tokens, w.epochs,
               e.n_copies, e.emitted_tokens,
               ROUND(e.emitted_tokens
                     / sum(e.emitted_tokens) OVER (), 6) AS achieved_share
        FROM wgt w JOIN emitted e USING (source)
        ORDER BY w.source
    """


@query("llm_epoch_upsample_plan", family="llm", oracle=_epoch_upsample_oracle())
def llm_epoch_upsample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch up-sampling APPLIED: each domain's α=0.5 repeat factor
    (epochs — see llm_domain_temperature_mix's epochs_a50 column) is
    realized as integer full copies plus one fractional copy kept by a
    salted hash64 threshold, and the expanded stream is audited per
    domain. This is the half llm_mixture_subsample cannot do: the
    subsampler caps keep probability at 1 (down-sampling only), while
    the trainer's mixture needs small domains REPEATED — floor(epochs)
    deterministic replicas per document, the remainder a hash-bucket
    lottery, so the emitted token mass converges on the temperature
    target from both sides.

    Bit-parity note: α=0.5 means sqrt, which IEEE 754 requires to be
    correctly rounded on both engines (pow(x, 0.5) does not) — epochs
    is then pinned at 6 dp before floor/fraction split so the window
    sum's accumulation-order ulp cannot flip a copy count.

    Distributed shape: pass 1 is the per-source token aggregate; the
    ~#domains epoch table broadcasts back and the expansion is a
    map-side explode of sequence(1, copies) — the row blowup is the
    output itself (bounded by the epoch cap of the mixture), with no
    shuffle between the corpus scan and the final per-source audit."""
    d = load_tables(spark, sf_dir).documents
    doc = d.select(
        "doc_id",
        "source",
        token_count("text").alias("doc_tokens"),
        F.pmod(
            hash64(F.col("doc_id").cast("string"), salt="epoch-v1"), F.lit(1000000)
        ).alias("bucket"),
    )
    per = doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_tokens").cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy()
    tok_d = F.col("n_tokens").cast("double")
    wgt = session_cache(  # eager fill: 2 consumers would each re-run the corpus agg
        per.select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(
                F.sqrt(tok_d)
                / F.sum(F.sqrt(tok_d)).over(w)
                * F.sum("n_tokens").over(w)
                / tok_d,
                6,
            ).alias("epochs"),
        )
    )
    copies = (
        F.floor("epochs").cast("bigint")
        + F.when(
            F.col("bucket")
            < (F.col("epochs") - F.floor("epochs")) * F.lit(1000000),
            F.lit(1),
        ).otherwise(F.lit(0))
    ).alias("copies")
    expanded = (
        doc.join(F.broadcast(wgt.select("source", "epochs")), "source")
        .select("source", "doc_tokens", copies)
        .select(
            "source",
            "doc_tokens",
            F.explode(
                F.when(
                    F.col("copies") >= 1, F.sequence(F.lit(1), F.col("copies"))
                ).otherwise(F.array())
            ).alias("copy_idx"),
        )
    )
    emitted = expanded.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.sum("doc_tokens").cast("bigint").alias("emitted_tokens"),
    )
    return (
        # LEFT join: a source whose every document lost the fractional
        # lottery emits no expanded rows, but the oracle's aggregate keeps
        # it with zero copies — an inner join would silently drop the row
        wgt.join(emitted, "source", "left")
        .withColumn("n_copies", F.coalesce("n_copies", F.lit(0)))
        .withColumn(
            "emitted_tokens", F.coalesce("emitted_tokens", F.lit(0)).cast("bigint")
        )
        .withColumn(
            "achieved_share",
            F.round(
                F.col("emitted_tokens")
                / F.sum("emitted_tokens").over(Window.partitionBy()),
                6,
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "epochs",
            "n_copies",
            "emitted_tokens",
            "achieved_share",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Deterministic shard shuffle
# ---------------------------------------------------------------------------

_N_SHARDS = 64


def _shard_shuffle_oracle() -> str:
    shard = f"({hash64_sql('CAST(doc_id AS VARCHAR)', salt='shard-v1')}) % {_N_SHARDS}"
    okey = f"({hash64_sql('CAST(doc_id AS VARCHAR)', salt='shard-order-v1')})"
    return f"""
        WITH doc AS (
          SELECT doc_id, len({_TOKENS_SQL}) AS doc_tokens,
                 {shard} AS shard, {okey} AS pos_key
          FROM documents
        ), pos AS (
          SELECT doc_id, doc_tokens, shard,
                 row_number() OVER (PARTITION BY shard
                                    ORDER BY pos_key, doc_id) AS position
          FROM doc
        ), agg AS (
          SELECT shard, count(*) AS n_docs,
                 CAST(sum(doc_tokens) AS BIGINT) AS shard_tokens,
                 CAST(max(CASE WHEN position = 1 THEN doc_id END) AS BIGINT)
                   AS head_doc_id
          FROM pos GROUP BY shard
        )
        SELECT shard, n_docs, shard_tokens, head_doc_id,
               ROUND(n_docs * {_N_SHARDS} * 1.0
                     / sum(n_docs) OVER (), 4) AS balance_ratio
        FROM agg ORDER BY shard
    """


@query("llm_shard_shuffle_assignment", family="llm", oracle=_shard_shuffle_oracle())
def llm_shard_shuffle_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards: every document
    gets a shard (salted hash64 mod 64) and a position within its shard
    (ranked by a SECOND independent salted hash — the shuffle order),
    and the audit reports each shard's document count, token mass, head
    document, and balance ratio (n_docs / expected — 1.0 is perfectly
    uniform). This is how a training pipeline materializes "globally
    shuffled" data without any RNG state: the order is a pure function
    of doc_id, so any worker can reproduce any shard independently, and
    adding documents never reorders existing ones within a shard prefix.

    Distributed shape: exactly the real write's plan — one hash exchange
    on shard (the physical partitionBy), within-shard sort for position,
    and the audit aggregate reuses that same partitioning (one Exchange
    serves window + groupBy, same shape as llm_dedup_keep_best). Only
    (doc_id, two 8-byte hashes, token count) shuffle — never text."""
    d = load_tables(spark, sf_dir).documents
    doc = d.select(
        "doc_id",
        token_count("text").alias("doc_tokens"),
        F.pmod(
            hash64(F.col("doc_id").cast("string"), salt="shard-v1"), F.lit(_N_SHARDS)
        ).alias("shard"),
        hash64(F.col("doc_id").cast("string"), salt="shard-order-v1").alias("pos_key"),
    )
    pos = doc.withColumn(
        "position",
        F.row_number().over(
            Window.partitionBy("shard").orderBy("pos_key", "doc_id")
        ),
    )
    agg = pos.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_tokens").cast("bigint").alias("shard_tokens"),
        F.max(F.when(F.col("position") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("head_doc_id"),
    )
    return agg.withColumn(
        "balance_ratio",
        F.round(
            F.col("n_docs") * F.lit(_N_SHARDS) * 1.0
            / F.sum("n_docs").over(Window.partitionBy()),
            4,
        ),
    ).orderBy("shard")


# ---------------------------------------------------------------------------
# Cross-source n-gram overlap matrix
# ---------------------------------------------------------------------------

_OVERLAP_N = 8


def _source_overlap_oracle() -> str:
    from syslog_kafka_spark.operators.curation import ngram_hashes_sql

    gram_expr, unnest = ngram_hashes_sql("toks", n=_OVERLAP_N, salt="overlap-v1")
    return f"""
        WITH d AS (
          SELECT source, {_TOKENS_SQL} AS toks FROM documents
        ), g AS (
          SELECT DISTINCT source, {gram_expr} AS gram_hash
          FROM d, {unnest}
          WHERE len(toks) >= {_OVERLAP_N}
        ), c AS (
          SELECT source, count(*) AS n_grams FROM g GROUP BY source
        ), sh AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 count(*) AS shared
          FROM g a JOIN g b
            ON a.gram_hash = b.gram_hash AND a.source < b.source
          GROUP BY 1, 2
        )
        SELECT ca.source AS source_a, cb.source AS source_b,
               ca.n_grams AS grams_a, cb.n_grams AS grams_b,
               CAST(coalesce(sh.shared, 0) AS BIGINT) AS shared_grams,
               ROUND(coalesce(sh.shared, 0) * 1.0
                     / (ca.n_grams + cb.n_grams - coalesce(sh.shared, 0)), 6)
                 AS jaccard,
               ROUND(coalesce(sh.shared, 0) * 1.0
                     / least(ca.n_grams, cb.n_grams), 6) AS containment
        FROM c ca JOIN c cb ON ca.source < cb.source
        LEFT JOIN sh ON sh.source_a = ca.source AND sh.source_b = cb.source
        ORDER BY source_a, source_b
    """


@query("llm_source_overlap_matrix", family="llm", oracle=_source_overlap_oracle())
def llm_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise domain contamination matrix: for every pair of sources,
    the Jaccard and containment (shared / smaller set) of their distinct
    8-gram hash sets — the corpus-composition audit that tells a
    curation run which "distinct" domains are actually mirrors of each
    other before mixture weights treat them as independent mass.

    Distributed shape: ONE tokenize+gram pass feeds a (source, gram)
    distinct (gram-keyed, uniform 8-byte — the same shuffle any
    decontamination pays), cached and eagerly filled because three
    consumers reference it (per-source counts + both sides of the
    gram-keyed self-join; a cold cache races N-ways — the r7 LSH
    lesson). Per-gram join fan-out is bounded by #sources, the pair
    frame is #sources² rows, and the count joins are broadcast — so
    corpus size only ever enters through the one distinct."""
    from syslog_kafka_spark.operators.curation import ngram_hashes

    d = load_tables(spark, sf_dir).documents
    g = session_cache(
        ngram_hashes(d, n=_OVERLAP_N, salt="overlap-v1", carry=("source",))
        .select("source", "gram_hash")
        .distinct()
    )  # eager fill: 3 consumers below would race a cold cache
    c = session_cache(
        g.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams")), eager=False
    )
    a, b = g.alias("a"), g.alias("b")
    sh = (
        a.join(
            b,
            (F.col("a.gram_hash") == F.col("b.gram_hash"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ca, cb = c.alias("ca"), c.alias("cb")
    pairs = ca.join(cb, F.col("ca.source") < F.col("cb.source")).select(
        F.col("ca.source").alias("source_a"),
        F.col("cb.source").alias("source_b"),
        F.col("ca.n_grams").alias("grams_a"),
        F.col("cb.n_grams").alias("grams_b"),
    )
    shared = F.coalesce("shared", F.lit(0))
    return (
        pairs.join(F.broadcast(sh), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "grams_a",
            "grams_b",
            shared.cast("bigint").alias("shared_grams"),
            F.round(
                shared * 1.0 / (F.col("grams_a") + F.col("grams_b") - shared), 6
            ).alias("jaccard"),
            F.round(shared * 1.0 / F.least("grams_a", "grams_b"), 6).alias(
                "containment"
            ),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Session-transcript assembly (logs → training documents)
# ---------------------------------------------------------------------------

_TRANSCRIPT_GAP_US = 1_800_000_000  # 30-minute session gap


def _session_transcripts_oracle() -> str:
    return f"""
        WITH flagged AS (
          SELECT user_id, ts, event_id, event_type, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                           > {_TRANSCRIPT_GAP_US}
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, ts, event_id, event_type, value,
                 CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS BIGINT) AS session_id
          FROM flagged
        ), tokd AS (
          SELECT user_id, session_id, ts, event_id,
                 event_type || ':' ||
                 CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR) AS tok
          FROM sess
        ), doc AS (
          SELECT user_id, session_id,
                 CAST(count(*) AS BIGINT) AS n_events,
                 (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
                   AS span_secs,
                 string_agg(tok, ' ' ORDER BY ts, event_id) AS transcript
          FROM tokd GROUP BY user_id, session_id
        )
        SELECT user_id, session_id, n_events, span_secs,
               length(transcript) AS n_chars,
               {hash64_sql('transcript', salt='transcript-v1')} AS transcript_hash
        FROM doc ORDER BY user_id, session_id
    """


@query(
    "llm_session_transcripts", family="llm", oracle=_session_transcripts_oracle()
)
def llm_session_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-to-training-document assembly: each user's event stream is
    sessionized (the 30-minute lag-gap recipe window_sessionize_30min
    pins) and every session becomes one ordered transcript — events
    rendered as `type:cents` tokens, joined in (ts, event_id) order —
    the step that turns interaction logs / chat histories into training
    documents. The gate compares the transcript's hash64, so one
    misordered, dropped, or misrendered event anywhere fails.

    Determinism: the double `value` never renders as a float string
    (engines format doubles differently); it is scaled to integer cents
    with the shared HALF-UP rounding. Ordering inside collect_list is
    non-deterministic, so the struct array is array_sort'd on
    (ts, event_id) before joining — the oracle's `ORDER BY` inside
    string_agg.

    Distributed shape: ONE hash(user_id) exchange serves the
    sessionization window AND the (user, session) transcript aggregate
    (hash(user) clusters every (user, session) group). Transcript size
    is bounded by session length — the collect_list never sees more
    than one session."""
    e = load_tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > _TRANSCRIPT_GAP_US),
        1,
    ).otherwise(0)
    sess = e.select(
        "user_id", "ts", "event_id", "event_type", "value",
        new_session.alias("_ns"),
    ).withColumn("session_id", F.sum("_ns").over(wrun).cast("bigint"))
    tok = F.concat(
        F.col("event_type"),
        F.lit(":"),
        F.round(F.col("value") * 100, 0).cast("bigint").cast("string"),
    )
    doc = (
        sess.select("user_id", "session_id", "ts", "event_id", tok.alias("tok"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("ts").alias("_min_ts"),
            F.max("ts").alias("_max_ts"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("transcript"),
        )
    )
    return doc.select(
        "user_id",
        "session_id",
        "n_events",
        F.expr("(unix_micros(_max_ts) - unix_micros(_min_ts)) div 1000000").alias(
            "span_secs"
        ),
        F.length("transcript").alias("n_chars"),
        hash64("transcript", salt="transcript-v1").alias("transcript_hash"),
    ).orderBy("user_id", "session_id")


# ---------------------------------------------------------------------------
# Scale-curation funnel (the tier composed end-to-end)
# ---------------------------------------------------------------------------

_FUNNEL_MIN_SCORE = 0.35
_FUNNEL_MIN_TOKENS = 16
_FUNNEL_BETA = 0.5


def _curation_funnel_oracle() -> str:
    doc_bucket = (
        f"({hash64_sql('CAST(doc_id AS VARCHAR)', salt='funnel-mix-v1')}) % 1000000"
    )
    thr = (
        "round(least(1.0, w_target * {b} * total_tokens"
        " / greatest(src_tokens, 1)), 6)".format(b=_FUNNEL_BETA)
    )
    stage_agg = (
        "SELECT {i} AS stage, '{name}' AS stage_name,"
        " CAST(count(*) AS BIGINT) AS n_docs,"
        " CAST(sum(n_tokens) AS BIGINT) AS sum_tokens FROM {src}"
    )
    return f"""
        WITH base AS (
          SELECT doc_id, source,
                 len({_TOKENS_SQL}) AS n_tokens,
                 CAST(round(len(list_distinct({_TOKENS_SQL}))
                            / greatest(len({_TOKENS_SQL}), 1), 4) AS DOUBLE)
                   AS score,
                 length(text) AS n_chars,
                 {fingerprint_sql('text')} AS fp,
                 {doc_bucket} AS bucket
          FROM documents
        ), s2 AS (
          SELECT * FROM base
          WHERE score >= {_FUNNEL_MIN_SCORE} AND n_tokens >= {_FUNNEL_MIN_TOKENS}
        ), s3 AS (
          SELECT doc_id, source, n_tokens, bucket FROM (
            SELECT *, row_number() OVER (PARTITION BY fp
                       ORDER BY score DESC, n_chars DESC, doc_id) AS rk
            FROM s2
          ) WHERE rk = 1
        ), per AS (
          SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
          FROM s3 GROUP BY source
        ), wgt AS (
          SELECT source, src_tokens,
                 sqrt(CAST(src_tokens AS DOUBLE))
                   / sum(sqrt(CAST(src_tokens AS DOUBLE))) OVER () AS w_target,
                 sum(src_tokens) OVER () AS total_tokens
          FROM per
        ), s4 AS (
          SELECT s3.* FROM s3 JOIN wgt USING (source)
          WHERE bucket < ({thr}) * 1000000
        ), funnel AS (
          {stage_agg.format(i=1, name='input', src='base')}
          UNION ALL {stage_agg.format(i=2, name='quality', src='s2')}
          UNION ALL {stage_agg.format(i=3, name='dedup', src='s3')}
          UNION ALL {stage_agg.format(i=4, name='mixture', src='s4')}
        )
        SELECT stage, stage_name, n_docs, sum_tokens,
               ROUND(n_docs * 1.0
                     / max(CASE WHEN stage = 1 THEN n_docs END) OVER (), 4)
                 AS pct_docs,
               ROUND(sum_tokens * 1.0
                     / max(CASE WHEN stage = 1 THEN sum_tokens END) OVER (), 4)
                 AS pct_tokens
        FROM funnel ORDER BY stage
    """


@query("llm_scale_curation_funnel", family="llm", oracle=_curation_funnel_oracle())
def llm_scale_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale tier composed end-to-end: quality gate (uniq-token
    ratio + length floor) → keep-best fingerprint dedup → temperature
    mixture subsampling, with per-stage survivor accounting — the
    funnel report every production curation run publishes. Each stage
    reuses the exact semantics of its standalone query
    (llm_dedup_keep_best's ranking rule, llm_mixture_subsample's
    hash-threshold sampler recomputed over the POST-dedup masses), so
    the composite is as oracle-checkable as its parts.

    Distributed shape: one projection computes every per-row signal
    (score, fingerprint, token count, sample bucket) in the scan; the
    post-dedup survivor frame — id-width columns only, never text — is
    cached and eagerly filled because three consumers read it (its own
    stage aggregate, the per-source masses, the mixture filter); the
    weight table broadcasts back. Stages 1–2 are map-side-combinable
    aggregates over the same scan, the dedup stage is the one hash(fp)
    exchange, and the funnel itself is a union of four ≤1-row frames."""
    d = load_tables(spark, sf_dir).documents
    feats = quality_features("text")
    base = d.select(
        "doc_id",
        "source",
        token_count("text").alias("n_tokens"),
        feats["uniq_token_ratio"].alias("score"),
        F.length("text").alias("n_chars"),
        fingerprint("text").alias("fp"),
        F.pmod(
            hash64(F.col("doc_id").cast("string"), salt="funnel-mix-v1"),
            F.lit(1000000),
        ).alias("bucket"),
    )
    s2 = base.filter(
        (F.col("score") >= _FUNNEL_MIN_SCORE)
        & (F.col("n_tokens") >= _FUNNEL_MIN_TOKENS)
    )
    rk = F.row_number().over(
        Window.partitionBy("fp").orderBy(
            F.desc("score"), F.desc("n_chars"), F.asc("doc_id")
        )
    )
    s3 = session_cache(
        s2.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select("doc_id", "source", "n_tokens", "bucket")
    )  # eager fill: stage agg + masses + mixture filter consume it
    per = s3.groupBy("source").agg(
        F.sum("n_tokens").cast("bigint").alias("src_tokens")
    )
    w = Window.partitionBy()
    tok_d = F.col("src_tokens").cast("double")
    wgt = per.select(
        "source",
        "src_tokens",
        (F.sqrt(tok_d) / F.sum(F.sqrt(tok_d)).over(w)).alias("w_target"),
        F.sum("src_tokens").over(w).alias("total_tokens"),
    )
    # pinned at 6 dp before the threshold (the mixture-subsample rule):
    # the window sum's accumulation order must not flip a keep decision
    keep_prob = F.round(
        F.least(
            F.lit(1.0),
            F.col("w_target")
            * F.lit(_FUNNEL_BETA)
            * F.col("total_tokens")
            / F.greatest(F.col("src_tokens"), F.lit(1)),
        ),
        6,
    )
    s4 = s3.join(F.broadcast(wgt), "source").filter(
        F.col("bucket") < keep_prob * F.lit(1000000)
    )

    def stage(df: DataFrame, i: int, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        ).select(
            F.lit(i).alias("stage"),
            F.lit(name).alias("stage_name"),
            "n_docs",
            "sum_tokens",
        )

    funnel = (
        stage(base, 1, "input")
        .unionAll(stage(s2, 2, "quality"))
        .unionAll(stage(s3, 3, "dedup"))
        .unionAll(stage(s4, 4, "mixture"))
    )
    input_docs = F.max(F.when(F.col("stage") == 1, F.col("n_docs"))).over(w)
    input_tokens = F.max(F.when(F.col("stage") == 1, F.col("sum_tokens"))).over(w)
    return funnel.select(
        "stage",
        "stage_name",
        "n_docs",
        "sum_tokens",
        F.round(F.col("n_docs") * 1.0 / input_docs, 4).alias("pct_docs"),
        F.round(F.col("sum_tokens") * 1.0 / input_tokens, 4).alias("pct_tokens"),
    ).orderBy("stage")


# ---------------------------------------------------------------------------
# Keep-best fingerprint dedup
# ---------------------------------------------------------------------------

_KEEP_BEST_ORACLE = f"""
    WITH s AS (
      SELECT doc_id, {fingerprint_sql('text')} AS fp,
             CAST(round(len(list_distinct({_TOKENS_SQL}))
                        / greatest(len({_TOKENS_SQL}), 1), 4) AS DOUBLE) AS score,
             length(text) AS n_chars
      FROM documents
    ), r AS (
      SELECT fp, doc_id, score,
             row_number() OVER (PARTITION BY fp
                                ORDER BY score DESC, n_chars DESC, doc_id) AS rk
      FROM s
    )
    SELECT fp,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS kept_doc_id,
           max(CASE WHEN rk = 1 THEN score END) AS kept_score,
           min(score) AS min_score
    FROM r GROUP BY fp HAVING count(*) >= 2
    ORDER BY fp
"""


@query("llm_dedup_keep_best", family="llm", oracle=_KEEP_BEST_ORACLE)
def llm_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked dedup representative selection: documents sharing a
    rolling-hash fingerprint (near-identical heads — see
    llm_fingerprint_collisions) collapse to the member with the highest
    unique-token ratio (then longest, then smallest id), instead of the
    arbitrary min-id the exact recipe keeps. Keep-best is the standard
    production refinement: when a boilerplate family has one fuller
    member, dropping it because its id is larger throws away the best
    training signal in the group.

    Distributed shape: score + fingerprint are pure per-row expressions
    fused into the scan; ONE hash shuffle on fp serves both the ranking
    window and the group aggregate (same key — Catalyst reuses the
    partitioning, asserted in test_plan_quality), and only 8-byte
    fingerprints + two small numbers shuffle, never text."""
    d = load_tables(spark, sf_dir).documents
    feats = quality_features("text")
    s = d.select(
        "doc_id",
        fingerprint("text").alias("fp"),
        feats["uniq_token_ratio"].alias("score"),
        F.length("text").alias("n_chars"),
    )
    rk = F.row_number().over(
        Window.partitionBy("fp").orderBy(
            F.desc("score"), F.desc("n_chars"), F.asc("doc_id")
        )
    )
    r = s.withColumn("rk", rk)
    return (
        r.groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id")))
            .cast("bigint")
            .alias("kept_doc_id"),
            F.max(F.when(F.col("rk") == 1, F.col("score"))).alias("kept_score"),
            F.min("score").alias("min_score"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("fp")
    )
