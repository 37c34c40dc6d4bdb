"""LLM-data-pipeline surface (SURVEY §2B.10): dedup (exact / MinHash /
SimHash / n-gram Jaccard / embedding cosine), similarity search, text
analysis (lang-ID, quality, token counts, fingerprints).

Every query here carries a DuckDB oracle: portable md5-based hashing
makes even MinHash/LSH cross-checkable, and the ANN paths hash-gate via
frozen SRP planes / IVF centroids shipped as literals to both engines
(operators/ann_frozen.py, r6). The only rows-only checks left in the
inventory are the two Spark-internal approx sketches and the replay
throughput gate — each annotated with its hash-gated twin (gated_twin
in the registry).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from syslog_kafka_spark.functions.hashes import (
    char_shingles,
    char_shingles_sql,
    hashed_shingles_sql,
    minhash_signature_from_hashes_sql,
    hash64_sql,
    minhash_signature,
    minhash_signature_sql,
)
from syslog_kafka_spark.functions.text import (
    LANG_MARKERS,
    bpe_ish_token_count,
    fingerprint,
    fingerprint_sql,
    lang_id,
    quality_features,
    token_count,
    tokens,
)
from syslog_kafka_spark.operators.dedup import (
    cached_duplicate_groups,
    cached_minhash_pairs,
    jaccard_expr,
    normalized,
    simhash_neardup_pairs,
)
from syslog_kafka_spark.operators.session_cache import session_cache
from syslog_kafka_spark.operators.similarity import cosine_topk, embedding_neardup_pairs
from syslog_kafka_spark.plans.registry import query
from syslog_kafka_spark.sources.readers import load_tables

_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_TOKENS_SQL = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '')"


@query(
    "llm_dedup_exact_stats",
    family="llm",
    oracle=f"""
        SELECT
          count(*) AS n_docs,
          count(DISTINCT md5({_NORM_SQL})) AS n_unique,
          count(*) - count(DISTINCT md5({_NORM_SQL})) AS n_dropped
        FROM documents
    """,
)
def llm_dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup summary: corpus size vs surviving unique texts."""
    d = load_tables(spark, sf_dir).documents
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5(normalized("text"))).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5(normalized("text")))).alias("n_dropped"),
    )


@query(
    "llm_dedup_groups",
    family="llm",
    oracle=f"""
        SELECT md5({_NORM_SQL}) AS digest,
               count(*) AS group_size,
               min(doc_id) AS survivor_id
        FROM documents
        GROUP BY digest
        HAVING count(*) > 1
        ORDER BY survivor_id
    """,
)
def llm_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups (size > 1) with their surviving min doc_id.
    Reads the session-cached duplicate-groups aggregate shared with
    llm_dedup_then_lsh's group-size weighting (r13: one corpus
    normalize+hash+aggregate per sweep instead of two)."""
    d = load_tables(spark, sf_dir).documents
    return (
        cached_duplicate_groups(d)
        .filter(F.col("group_size") > 1)
        .orderBy("survivor_id")
    )


@query(
    "llm_fingerprint_collisions",
    family="llm",
    oracle=f"""
        SELECT {fingerprint_sql('text')} AS fp,
               count(*) AS n_docs,
               min(doc_id) AS first_doc
        FROM documents
        GROUP BY fp
        HAVING count(*) > 1
        ORDER BY first_doc
    """,
)
def llm_fingerprint_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-fingerprint collisions (near-identical heads): rolling-
    hash-style signature, groups with >1 doc."""
    d = load_tables(spark, sf_dir).documents
    return (
        d.select(fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") > 1)
        .orderBy("first_doc")
    )


@query(
    "llm_token_stats",
    family="llm",
    oracle=f"""
        SELECT
          lang,
          count(*) AS n_docs,
          CAST(round(avg(len({_TOKENS_SQL})), 2) AS DOUBLE) AS avg_tokens,
          CAST(round(avg(length(text)), 2) AS DOUBLE) AS avg_chars,
          CAST(max(len({_TOKENS_SQL})) AS INT) AS max_tokens
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
)
def llm_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-token statistics per language tag."""
    d = load_tables(spark, sf_dir).documents
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(token_count("text")), 2).alias("avg_tokens"),
            F.round(F.avg(F.length("text")), 2).alias("avg_chars"),
            F.max(token_count("text")).alias("max_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "llm_term_freq",
    family="llm",
    oracle=f"""
        SELECT term, count(*) AS freq, count(DISTINCT doc_id) AS doc_freq
        FROM (
          SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
        )
        GROUP BY term
        ORDER BY freq DESC, term
        LIMIT 25
    """,
)
def llm_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies (top 25 terms + document frequency)."""
    d = load_tables(spark, sf_dir).documents
    return (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"), F.countDistinct("doc_id").alias("doc_freq"))
        .orderBy(F.col("freq").desc(), "term")
        .limit(25)
    )


@query(
    "llm_quality_scores",
    family="llm",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents WHERE doc_id <= 50
        )
        SELECT
          doc_id,
          length(text) AS n_chars,
          len(toks) AS n_tokens,
          CAST(round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
               / greatest(length(text), 1), 4) AS DOUBLE) AS punct_ratio,
          CAST(round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
               / greatest(length(text), 1), 4) AS DOUBLE) AS digit_ratio,
          CAST(round(CASE WHEN len(toks) > 0
               THEN length(text) / len(toks) ELSE 0.0 END, 4) AS DOUBLE) AS mean_token_len,
          CAST(round(len(list_distinct(toks)) / greatest(len(toks), 1), 4) AS DOUBLE)
            AS uniq_token_ratio
        FROM t
        ORDER BY doc_id
    """,
)
def llm_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality heuristics: punctuation/digit ratios, mean
    token length, unique-token ratio."""
    d = load_tables(spark, sf_dir).documents
    feats = quality_features("text")
    return (
        d.filter(F.col("doc_id") <= 50)
        .select(
            "doc_id",
            feats["n_chars"].alias("n_chars"),
            feats["n_tokens"].alias("n_tokens"),
            feats["punct_ratio"].alias("punct_ratio"),
            feats["digit_ratio"].alias("digit_ratio"),
            feats["mean_token_len"].alias("mean_token_len"),
            feats["uniq_token_ratio"].alias("uniq_token_ratio"),
        )
        .orderBy("doc_id")
    )


def _langid_sql() -> str:
    """DuckDB argmax-over-marker-hits replicating functions.text.lang_id."""
    toks = _TOKENS_SQL
    score = {
        lang: " + ".join(
            f"CASE WHEN list_contains({toks}, '{w}') THEN 1 ELSE 0 END" for w in words
        )
        for lang, words in LANG_MARKERS.items()
    }
    # fold in sorted-lang order with strictly-greater, exactly like lang_id()
    langs = sorted(LANG_MARKERS)
    best, best_score = f"'{langs[0]}'", f"({score[langs[0]]})"
    for lang in langs[1:]:
        s = f"({score[lang]})"
        best = f"CASE WHEN {s} > {best_score} THEN '{lang}' ELSE {best} END"
        best_score = f"CASE WHEN {s} > {best_score} THEN {s} ELSE {best_score} END"
    return f"CASE WHEN {best_score} > 0 THEN {best} ELSE 'und' END"


@query(
    "llm_langid_confusion",
    family="llm",
    oracle=f"""
        SELECT lang AS tagged_lang, {_langid_sql()} AS predicted_lang, count(*) AS n
        FROM documents
        GROUP BY tagged_lang, predicted_lang
        ORDER BY tagged_lang, predicted_lang
    """,
)
def llm_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID vs the corpus lang tag (confusion
    counts)."""
    d = load_tables(spark, sf_dir).documents
    return (
        d.select(F.col("lang").alias("tagged_lang"), lang_id("text").alias("predicted_lang"))
        .groupBy("tagged_lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("tagged_lang", "predicted_lang")
    )


@query(
    "llm_bpe_token_counts",
    family="llm",
    oracle="""
        SELECT
          doc_id,
          len(regexp_extract_all(text, '([A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s])', 1)) AS n_bpe_tokens
        FROM documents
        WHERE doc_id <= 100
        ORDER BY doc_id
    """,
)
def llm_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-word token counting via a regex vocabulary proxy."""
    d = load_tables(spark, sf_dir).documents
    return (
        d.filter(F.col("doc_id") <= 100)
        .select("doc_id", bpe_ish_token_count("text").alias("n_bpe_tokens"))
        .orderBy("doc_id")
    )


# Candidate blocking for the exact-Jaccard / MinHash-estimate queries:
# (32-char normalized prefix, length-div-32 bucket). The length bucket
# bounds bucket sizes on boilerplate-heavy corpora where thousands of docs
# share a prefix ("GET /index.html ..."): docs of very different lengths
# can't be 0.6-Jaccard near-dups anyway, so splitting them costs little
# recall while capping the worst bucket's pair count. Banded MinHash-LSH
# (operators/dedup.py) remains the principled scale path.
_BLOCKED_PAIRS_SQL = f"""
    WITH d AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.norm AS norm_a, b.norm AS norm_b
    FROM d a JOIN d b
      ON substr(a.norm, 1, 32) = substr(b.norm, 1, 32)
     AND CAST(floor(len(a.norm) / 32) AS BIGINT) = CAST(floor(len(b.norm) / 32) AS BIGINT)
     AND a.doc_id < b.doc_id
"""


def with_pair_block_key(df, norm_col: str = "norm"):
    """Attach the (prefix, length-bucket) blocking columns used by the
    blocked pair queries — split out so skew behavior is unit-testable."""
    return df.withColumn("blk_prefix", F.substring(norm_col, 1, 32)).withColumn(
        "blk_len", F.floor(F.length(norm_col) / 32)
    )


_BLOCK_COLS = ["blk_prefix", "blk_len"]


@query(
    "llm_jaccard_neardup",
    family="llm",
    oracle=f"""
        WITH pairs AS ({_BLOCKED_PAIRS_SQL})
        SELECT id_a, id_b,
               CAST(round(
                 len(list_intersect({char_shingles_sql('norm_a')}, {char_shingles_sql('norm_b')}))
                 / greatest(len(list_distinct(list_concat(
                     {char_shingles_sql('norm_a')}, {char_shingles_sql('norm_b')}))), 1)
               , 4) AS DOUBLE) AS jaccard
        FROM pairs
        WHERE len(list_intersect({char_shingles_sql('norm_a')}, {char_shingles_sql('norm_b')}))
              / greatest(len(list_distinct(list_concat(
                  {char_shingles_sql('norm_a')}, {char_shingles_sql('norm_b')}))), 1) >= 0.6
        ORDER BY id_a, id_b
    """,
)
def llm_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs, blocked on (prefix, length bucket) —
    the compound key bounds the self-join even on boilerplate-prefix
    corpora; 5-char shingles, threshold 0.6.

    Shingles are materialized in one projection per surviving PAIR (after
    the block join): inlining them into jaccard_expr costs 4 lambda
    evaluations per pair (no CSE across higher-order functions), while
    shingling every doc before the join wastes work when blocking leaves
    most docs pairless (measured slower at sf0.1). Strings move through
    the join; arrays are built only for pairs that survive it."""
    d = load_tables(spark, sf_dir).documents
    base = with_pair_block_key(d.select("doc_id", normalized("text").alias("norm")))
    a = base.select(F.col("doc_id").alias("id_a"), F.col("norm").alias("norm_a"), *_BLOCK_COLS)
    b = base.select(F.col("doc_id").alias("id_b"), F.col("norm").alias("norm_b"), *_BLOCK_COLS)
    return (
        a.join(b, _BLOCK_COLS)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            char_shingles(F.col("norm_a"), 5).alias("sh_a"),
            char_shingles(F.col("norm_b"), 5).alias("sh_b"),
        )
        .withColumn("jaccard", F.round(jaccard_expr(F.col("sh_a"), F.col("sh_b")), 4))
        .filter(F.col("jaccard") >= 0.6)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


@query(
    "llm_minhash_estimate",
    family="llm",
    oracle=f"""
        WITH pairs AS ({_BLOCKED_PAIRS_SQL}),
        sigs AS (
          SELECT id_a, id_b,
                 {minhash_signature_sql(char_shingles_sql('norm_a'), 16)} AS sig_a,
                 {minhash_signature_sql(char_shingles_sql('norm_b'), 16)} AS sig_b
          FROM pairs
        )
        SELECT id_a, id_b,
               CAST(len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2])) AS DOUBLE) / 16
                 AS minhash_sim
        FROM sigs
        WHERE len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2])) >= 8
        ORDER BY id_a, id_b
    """,
)
def llm_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-estimated similarity on blocked candidate pairs: fraction of
    matching components of 16-hash signatures (portable md5-salted hashes,
    so the oracle reproduces the signatures exactly)."""
    d = load_tables(spark, sf_dir).documents
    blocked = with_pair_block_key(d.select("doc_id", normalized("text").alias("norm")))
    # signatures are the expensive column; compute them ONLY for docs whose
    # block can produce a pair (>= 2 members — a key-only agg + semi-join
    # prefilter). On a mostly-singleton block distribution this cuts the
    # md5/shingle work to the candidate subset; result set is unchanged
    # (singleton-block docs can never appear in the pair output).
    # Cached: both join sides reference the signatures.
    eligible = (
        blocked.groupBy(*_BLOCK_COLS).agg(F.count("*").alias("_n")).filter(F.col("_n") >= 2)
    )
    base = session_cache(
        blocked.join(eligible.select(*_BLOCK_COLS), list(_BLOCK_COLS), "left_semi")
        .withColumn("sig", minhash_signature(char_shingles(F.col("norm"), 5), 16)),
        eager=False,
    )
    a = base.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"), *_BLOCK_COLS)
    b = base.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"), *_BLOCK_COLS)
    matches = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq)
    )
    return (
        a.join(b, _BLOCK_COLS)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_m", matches)
        .filter(F.col("_m") >= 8)
        .select("id_a", "id_b", (F.col("_m").cast("double") / 16).alias("minhash_sim"))
        .orderBy("id_a", "id_b")
    )


@query(
    "llm_similarity_topk",
    family="llm",
    oracle="""
        WITH q AS (
          SELECT vec_id AS query_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id < 10
        ), c AS (
          SELECT vec_id AS neighbor_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
          FROM embeddings
        ), scored AS (
          SELECT query_id, neighbor_id,
                 list_dot_product(cv, qv)
                   / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))) AS s,
                 row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY list_dot_product(cv, qv)
                     / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))) DESC,
                     neighbor_id
                 ) AS rank
          FROM c CROSS JOIN q
          WHERE neighbor_id <> query_id
        )
        SELECT query_id, rank, neighbor_id, CAST(round(s, 4) AS DOUBLE) AS score
        FROM scored WHERE rank <= 5
        ORDER BY query_id, rank
    """,
)
def llm_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 neighbors for query vectors
    (vec_id < 10) — the deterministic ANN baseline. Queries broadcast;
    corpus scanned once; per-query window top-k."""
    emb = load_tables(spark, sf_dir).embeddings
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, round_to=4)
    return out.orderBy("query_id", "rank")


@query(
    "llm_embedding_neardup",
    family="llm",
    oracle="""
        WITH e AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS DOUBLE)
                 AS cosine
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
        ORDER BY id_a, id_b
    """,
    bench=False,
)
def llm_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked on the label column
    (cluster assignment) so the self-join stays keyed. Threshold 0.4 is
    calibrated to this corpus (random vectors: same-label max cosine
    ≈0.47, so only genuinely-similar pairs surface).

    SMALL-CORPUS EXACT TIER — CORRECTNESS FIXTURE, bench=False. The label
    column has FIXED cardinality, so block populations grow ~N/16 and the
    per-block all-pairs work grows ~N² — measured 108.9× at sf1→sf10
    (BENCH_SF10.md); at 100 TB this is the one plan shape that cannot
    complete, so it is NOT a benched face (same demotion pattern as
    llm_simhash_multiprobe → llm_simhash_pair_digest). The benched/gated
    scale paths are llm_embedding_neardup_blocked (label × frozen-IVF-list
    blocking) and llm_embedding_neardup_refit64 (√N re-fit quantizer);
    this exact variant remains hash-gated as the within-label ground
    truth the blocked tiers' recall is priced against."""
    emb = load_tables(spark, sf_dir).embeddings
    return embedding_neardup_pairs(emb, threshold=0.4).orderBy("id_a", "id_b")


def _embedding_neardup_blocked_oracle(
    centroids: list[list[float]] | None = None, threshold: float = 0.4
) -> str:
    from syslog_kafka_spark.operators.similarity import frozen_cluster_sims_sql

    if centroids is None:
        from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS

        centroids = IVF_CENTROIDS
    nlist = len(centroids)
    return f"""
        WITH e AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 {frozen_cluster_sims_sql(centroids)} AS sims
          FROM embeddings
        ), b AS (
          SELECT vec_id,
                 CAST(label AS BIGINT) * {nlist}
                   + (list_position(sims, list_max(sims)) - 1) AS blk,
                 v
          FROM e WHERE label IS NOT NULL
        )
        SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
               CAST(round(list_dot_product(a.v, b2.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b2.v, b2.v))), 4) AS DOUBLE)
                 AS cosine
        FROM b a JOIN b b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
        WHERE list_dot_product(a.v, b2.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b2.v, b2.v))) >= {threshold}
        ORDER BY id_a, id_b
    """


@query(
    "llm_embedding_neardup_blocked",
    family="llm",
    oracle=_embedding_neardup_blocked_oracle(),
    # correctness face only (r11 verdict item #3): the raw pair set's
    # bench number is dominated by collecting ~5.6M sf10 rows to the
    # driver — the benched face is llm_neardup_pair_digest, which keeps
    # the pairs on the executors and returns label-cardinality rows
    bench=False,
)
def llm_embedding_neardup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs on the LINEAR blocking key: (label ×
    frozen-IVF list). The exact tier (llm_embedding_neardup) blocks on
    the fixed-cardinality label alone, so block populations — and the
    per-block all-pairs term — grow ~N²/16 (measured 108.9× at
    sf1→sf10). Refining each block by the frozen coarse quantizer's
    argmax list (the same 16-centroid index the ANN tier and
    llm_semantic_decontamination probe) bounds per-block occupancy: at
    100 TB nlist grows ~√N (the FAISS rule), so blocks hold ~constant
    rows and total pair work stays ~linear while the per-BLOCK
    applyInPandas kernel (vectors cross Arrow once, numpy does the
    block) is unchanged.

    Semantics: exactness WITHIN the refined block — a same-label pair
    whose members quantize to different IVF lists is not scanned, the
    deliberate recall trade every blocked near-dup tier makes (the
    exact tier prices it). Deterministic and hash-gated: the frozen
    centroid dots ride the bit-parity pandas UDF (accumulated one
    dimension at a time, identical to the oracle's literal chains), and
    the argmax/blk arithmetic is integer-exact on both engines."""
    from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS

    return _blocked_neardup(spark, sf_dir, IVF_CENTROIDS)


def _blocked_neardup(
    spark: SparkSession, sf_dir: str, centroids: list[list[float]]
) -> DataFrame:
    """Shared (label × frozen-IVF-list) blocked pair scan — one body for
    every quantizer generation, so the 16-list and re-fit-64 tiers
    cannot de-twin (and blocked_assignment is the one definition of the
    blk arithmetic itself, shared with the nlist experiment script)."""
    from syslog_kafka_spark.operators.similarity import blocked_assignment

    emb = load_tables(spark, sf_dir).embeddings
    blocked = blocked_assignment(emb, centroids)
    return embedding_neardup_pairs(blocked, label_col="blk", threshold=0.4).orderBy(
        "id_a", "id_b"
    )


def _blocked_digest_oracle(
    centroids: list[list[float]], threshold: float = 0.4
) -> str:
    """Per-label audit-digest oracle over the (label × frozen-IVF-list)
    blocked pair scan, parametric in the frozen centroid table — one SQL
    body for every quantizer generation (16-list and re-fit-64), so the
    digest faces cannot de-twin."""
    from syslog_kafka_spark.operators.similarity import frozen_cluster_sims_sql

    nlist = len(centroids)
    cos = (
        "list_dot_product(a.v, b2.v)"
        " / (sqrt(list_dot_product(a.v, a.v))"
        " * sqrt(list_dot_product(b2.v, b2.v)))"
    )
    return f"""
        WITH e AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 {frozen_cluster_sims_sql(centroids)} AS sims
          FROM embeddings
        ), b AS (
          SELECT vec_id, CAST(label AS BIGINT) AS label,
                 CAST(label AS BIGINT) * {nlist}
                   + (list_position(sims, list_max(sims)) - 1) AS blk,
                 v
          FROM e WHERE label IS NOT NULL
        ), occ AS (
          SELECT blk, label, CAST(count(*) AS BIGINT) AS n FROM b
          GROUP BY blk, label
        ), occ_lbl AS (
          SELECT label,
                 CAST(sum(n) AS BIGINT) AS n_vectors,
                 CAST(count(*) AS BIGINT) AS n_blocks,
                 CAST(max(n) AS BIGINT) AS max_block,
                 CAST(sum((n * (n - 1)) / 2) AS BIGINT) AS n_pairs_scanned
          FROM occ GROUP BY label
        ), nd AS (
          SELECT a.blk // {nlist} AS label,
                 CAST(count(*) AS BIGINT) AS n_neardup,
                 CAST(sum(CAST(round(round({cos}, 4) * 10000, 0) AS BIGINT))
                      AS BIGINT) AS cos_cents,
                 CAST(sum(a.vec_id + b2.vec_id) AS BIGINT) AS id_checksum
          FROM b a JOIN b b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
          WHERE {cos} >= {threshold}
          GROUP BY 1
        )
        SELECT o.label, o.n_vectors, o.n_blocks, o.max_block,
               o.n_pairs_scanned,
               COALESCE(nd.n_neardup, 0) AS n_neardup,
               COALESCE(nd.cos_cents, 0) AS cos_cents,
               COALESCE(nd.id_checksum, 0) AS id_checksum
        FROM occ_lbl o LEFT JOIN nd ON nd.label = o.label
        ORDER BY o.label
    """


def _blocked_neardup_digest(
    spark: SparkSession, sf_dir: str, centroids: list[list[float]]
) -> DataFrame:
    """Per-label audit digest over the (label × frozen-IVF-list) blocked
    pair scan — the Spark twin of :func:`_blocked_digest_oracle`, one
    body for every quantizer generation."""
    from syslog_kafka_spark.operators.session_cache import session_cache
    from syslog_kafka_spark.operators.similarity import blocked_assignment

    nlist = len(centroids)
    emb = load_tables(spark, sf_dir).embeddings
    # blocked is read twice (occupancy ledger + pair kernel): session
    # LRU entry, eagerly filled, so the frozen-sims UDF runs one pass
    blocked = session_cache(blocked_assignment(emb, centroids, keep_label=True))
    occ = blocked.groupBy("blk", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    occ_lbl = occ.groupBy("label").agg(
        F.sum("n").cast("bigint").alias("n_vectors"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.max("n").cast("bigint").alias("max_block"),
        F.sum((F.col("n") * (F.col("n") - 1)) / 2)
        .cast("bigint")
        .alias("n_pairs_scanned"),
    )
    pairs = embedding_neardup_pairs(
        blocked.select("vec_id", "embedding", "blk"),
        label_col="blk",
        threshold=0.4,
    )
    nd = (
        pairs.join(
            blocked.select(F.col("vec_id").alias("id_a"), "blk"), "id_a"
        )
        .groupBy(F.floor(F.col("blk") / nlist).cast("bigint").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_neardup"),
            F.sum(F.round(F.col("cosine") * 10000, 0).cast("bigint"))
            .cast("bigint")
            .alias("cos_cents"),
            F.sum(F.col("id_a") + F.col("id_b")).cast("bigint").alias("id_checksum"),
        )
    )
    return (
        occ_lbl.join(nd, "label", "left")
        .select(
            "label",
            "n_vectors",
            "n_blocks",
            "max_block",
            "n_pairs_scanned",
            F.coalesce("n_neardup", F.lit(0)).cast("bigint").alias("n_neardup"),
            F.coalesce("cos_cents", F.lit(0)).cast("bigint").alias("cos_cents"),
            F.coalesce("id_checksum", F.lit(0))
            .cast("bigint")
            .alias("id_checksum"),
        )
        .orderBy("label")
    )


def _neardup_digest_oracle_16() -> str:
    from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS

    return _blocked_digest_oracle(IVF_CENTROIDS)


@query(
    "llm_neardup_pair_digest",
    family="llm",
    oracle=_neardup_digest_oracle_16(),
)
def llm_neardup_pair_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BENCHED face of llm_embedding_neardup_blocked (r11 verdict
    item #3, the llm_simhash_multiprobe → llm_simhash_pair_digest
    precedent): the same (label × frozen-16-list) blocked pair scan,
    digested per label — vectors, occupied blocks, max occupancy, the
    exact Σ n·(n−1)/2 pairs-scanned ledger, and the near-dup survivors'
    count + integer cosine/id checksums. The raw pair face's decade
    reading (11.9× isolated at sf1→sf10, twice) is dominated by
    COLLECTING the ~5.6M-row sf10 pair set — the operator pipeline
    itself re-measured 3.72× in the r9 nlist experiment — so the raw
    face measures the harness, not the plan; this digest keeps every
    pair on the executors and returns label-cardinality rows, which is
    also the only shape a 100 TB audit could ever return to a driver."""
    from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS

    return _blocked_neardup_digest(spark, sf_dir, IVF_CENTROIDS)


def _refit64_oracle(threshold: float = 0.4) -> str:
    from syslog_kafka_spark.operators.ivf_refit_frozen import IVF64_CENTROIDS

    return _blocked_digest_oracle(IVF64_CENTROIDS, threshold)


@query(
    "llm_embedding_neardup_refit64",
    family="llm",
    oracle=_refit64_oracle(),
)
def llm_embedding_neardup_refit64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The √N re-fit tier of the blocked near-dup family: the same
    (label × frozen-IVF-list) blocked pair scan as
    llm_embedding_neardup_blocked, but against the FROZEN 64-list re-fit
    quantizer (operators/ivf_refit_frozen.py, fit by
    scripts/fit_refit_quantizer.py — exactly the fit
    scripts/neardup_nlist_experiment.py measured; that script was
    deleted, see git history). The frozen 16-list
    index cannot grow with the corpus, so at 10× data its block
    populations creep back up (max occupancy 1881, pipeline 3.72×
    sf1→sf10); FAISS's deployment rule re-fits nlist ≈ √N, and the
    64-list fit cuts max occupancy to 808 and the warm sf10 pipeline to
    2.12× over the sf1 frozen-16 baseline. Freezing that fit turns the
    measured rule into a regression-pinned, hash-gated tier: this is
    the plan a 100 TB deployment runs after a quantizer refresh, and
    llm_ivf_refit_drift_audit is the monitor that says when to cut the
    next one.

    Output is the per-LABEL audit digest, not the raw pair list: for
    each coarse label, total vectors, occupied refined blocks, max
    block occupancy, exact pairs-scanned ledger (Σ n·(n−1)/2 — the
    occupancy regression pin itself), and the near-dup survivors'
    count + integer cosine/id checksums. Two reasons over pair rows:
    (1) the digest hash-gates the frozen-64 argmax assignment of EVERY
    vector and the occupancy arithmetic at EVERY scale — at the
    driver's sf0.01 gate the 1024-way blocking leaves zero qualifying
    pairs, and an empty pair list would gate nothing; (2) occupancy is
    the quantity the re-fit exists to bound, so the gate pins it
    directly. Checksums are exact integers (cosine rounded 4 dp, then
    ×10⁴ re-rounded at 0 dp — both engines HALF_UP on positives), so
    the only float surface is the same rounded cosine the sibling tier
    gates. Per-block kernel unchanged (vectors cross Arrow once)."""
    from syslog_kafka_spark.operators.ivf_refit_frozen import IVF64_CENTROIDS

    return _blocked_neardup_digest(spark, sf_dir, IVF64_CENTROIDS)


def _lsh_banded_cte(
    n_hashes: int = 16,
    bands: int = 4,
    source: str = "documents",
) -> str:
    """The MinHash-LSH front half as a DuckDB CTE list ending in
    ``banded(id, shingles, band, bucket)`` — the shingle→signature→
    band-bucket pipeline shared by :func:`_lsh_pairs_cte` and the
    streaming probe twin's oracle (plans/stream_gated), mirroring the
    single ``banded_buckets`` definition on the Spark side."""
    rpb = n_hashes // bands
    band_cases = " ".join(
        "WHEN {b} THEN {h}".format(
            b=b,
            h=hash64_sql(
                "concat_ws(',', "
                + ", ".join(f"sig[{b * rpb + i + 1}]" for i in range(rpb))
                + ")"
            ),
        )
        for b in range(bands)
    )
    return f"""
        sh AS (
          SELECT doc_id AS id, {hashed_shingles_sql(_NORM_SQL)} AS shingles
          FROM {source}
        ), sig AS (
          SELECT id, shingles, {minhash_signature_from_hashes_sql('shingles', n_hashes)} AS sig
          FROM sh
        ), banded AS (
          SELECT id, shingles, t.b AS band,
                 CASE t.b {band_cases} END AS bucket
          FROM sig, (SELECT unnest([{", ".join(str(b) for b in range(bands))}]) AS b) t
        )"""


def _lsh_pairs_cte(
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    source: str = "documents",
) -> str:
    """The full MinHash-LSH pipeline as a DuckDB CTE list ending in
    ``verified(id_a, id_b, jaccard)`` — shared by the pair query, the
    connected-components clustering oracle, and (with ``source``
    overridden) the dedup-then-LSH composite. Possible only because every
    hash in the path is md5-portable: shingle hash, signature affine
    family, and the band bucket (hash64 of the comma-joined slice)."""
    return f"""{_lsh_banded_cte(n_hashes, bands, source)}, pairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
        ), j AS (
          SELECT p.id_a, p.id_b,
                 len(list_intersect(sa.shingles, sb.shingles)) AS inter,
                 len(sa.shingles) + len(sb.shingles)
                   - len(list_intersect(sa.shingles, sb.shingles)) AS uni
          FROM pairs p
          JOIN sh sa ON sa.id = p.id_a
          JOIN sh sb ON sb.id = p.id_b
        ), verified AS (
          SELECT id_a, id_b,
                 CAST(CASE WHEN uni = 0 THEN 1.0
                           ELSE CAST(inter AS DOUBLE) / uni END AS DOUBLE) AS jaccard
          FROM j
          WHERE CASE WHEN uni = 0 THEN 1.0
                     ELSE CAST(inter AS DOUBLE) / uni END >= {threshold}
        )"""


def _lsh_pairs_oracle(n_hashes: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    return f"""
        WITH {_lsh_pairs_cte(n_hashes, bands, threshold)}
        SELECT id_a, id_b, jaccard FROM verified
        ORDER BY id_a, id_b
    """


@query(
    "llm_minhash_lsh_pairs",
    family="llm",
    oracle=_lsh_pairs_oracle(),
    # correctness face only (r12 verdict item #3): the raw pair set was
    # the last pair-set face still benched, and its decade readings carry
    # the same harness-collect signature llm_embedding_neardup_blocked
    # shed in r12 (23.8× in-probe vs 6.42× isolated at sf1→sf10) — the
    # benched face is llm_minhash_band_digest, which keeps every pair on
    # the executors and returns band-cardinality rows
    bench=False,
)
def llm_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline (banding, bucket join, exact
    Jaccard verify ≥ 0.5) — hash-gated end-to-end: the portable md5 hash
    family lets DuckDB reproduce signatures, band buckets, and the verify
    stage exactly."""
    d = load_tables(spark, sf_dir).documents
    return cached_minhash_pairs(d).filter(F.col("jaccard") >= 0.5).orderBy(
        "id_a", "id_b"
    )


# Shared building blocks of the three LSH digest faces (band digest,
# occupancy-capped, cap sweep): ONE definition for the bucket occupancy
# ledger, and ONE materialized candidate+verify pipeline — the
# family-shared cached_minhash_pairs_banded frame, whose per-band
# occupancy columns carry every attribution the faces report (see
# _first_band_with). A change to the verify rule or checksum arithmetic
# lands in the shared frame and reaches every face at once; the
# reconciliation tests in tests/test_plan_quality.py pin the faces to
# each other on top.


def _lsh_bucket_occupancy(banded: DataFrame) -> DataFrame:
    """Per-(band, bucket) member counts of a banded-buckets frame."""
    return banded.groupBy("_band", "_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


_LSH_BANDS = 4  # the family's band count — matches every _lsh_*_oracle default


def _first_band_with(pred) -> Column:
    """The smallest band index b for which ``pred(b)`` holds over the
    per-band occupancy columns of cached_minhash_pairs_banded (NULL when
    none does) — the deterministic band attribution the digest faces
    previously recomputed with a per-face candidate self-join
    (min(_band) over co-occurrence rows). NULL-safe by construction: a
    NULL _occ{b} fails both ``isNotNull`` and any ``<= cap`` comparison,
    so the CASE chain falls through exactly like the old per-row min."""
    c = F.when(pred(0), 0)
    for b in range(1, _LSH_BANDS):
        c = c.when(pred(b), b)
    return c.cast("int")


def _jac_cents() -> Column:
    """The integer jaccard mass both engines sum identically: 4 dp round,
    scale to cents-of-percent, HALF_UP to a bigint."""
    return F.round(F.round(F.col("jaccard"), 4) * 10000, 0).cast("bigint")


def _lsh_band_digest_oracle(
    n_hashes: int = 16, bands: int = 4, threshold: float = 0.5
) -> str:
    return f"""
        WITH {_lsh_banded_cte(n_hashes, bands)}, occ AS (
          SELECT band, bucket, CAST(count(*) AS BIGINT) AS n
          FROM banded GROUP BY 1, 2
        ), ledger AS (
          SELECT CAST(band AS INTEGER) AS band,
                 CAST(count(*) AS BIGINT) AS n_buckets,
                 CAST(max(n) AS BIGINT) AS max_occupancy,
                 CAST(sum((n * (n - 1)) / 2) AS BIGINT) AS cand_pairs
          FROM occ GROUP BY 1
        ), cand AS (
          SELECT a.id AS id_a, b.id AS id_b, CAST(min(a.band) AS INTEGER) AS band
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
          GROUP BY 1, 2
        ), j AS (
          SELECT c.band, c.id_a, c.id_b,
                 len(list_intersect(sa.shingles, sb.shingles)) AS inter,
                 len(sa.shingles) + len(sb.shingles)
                   - len(list_intersect(sa.shingles, sb.shingles)) AS uni
          FROM cand c
          JOIN sh sa ON sa.id = c.id_a
          JOIN sh sb ON sb.id = c.id_b
        ), ver AS (
          SELECT band, CAST(count(*) AS BIGINT) AS n_verified,
                 CAST(sum(CAST(round(round(CASE WHEN uni = 0 THEN 1.0
                       ELSE CAST(inter AS DOUBLE) / uni END, 4) * 10000, 0)
                       AS BIGINT)) AS BIGINT) AS jac_cents,
                 CAST(sum(id_a + id_b) AS BIGINT) AS id_checksum
          FROM j
          WHERE CASE WHEN uni = 0 THEN 1.0
                     ELSE CAST(inter AS DOUBLE) / uni END >= {threshold}
          GROUP BY band
        )
        SELECT l.band, l.n_buckets, l.max_occupancy, l.cand_pairs,
               COALESCE(v.n_verified, 0) AS n_verified,
               COALESCE(v.jac_cents, 0) AS jac_cents,
               COALESCE(v.id_checksum, 0) AS id_checksum
        FROM ledger l LEFT JOIN ver v ON v.band = l.band
        ORDER BY l.band
    """


@query("llm_minhash_band_digest", family="llm", oracle=_lsh_band_digest_oracle())
def llm_minhash_band_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BENCHED face of llm_minhash_lsh_pairs (r12 verdict item #3;
    third application of the digest precedent after
    llm_simhash_pair_digest and llm_neardup_pair_digest): the identical
    uncapped MinHash-LSH pipeline — shingle → signature → band bucket →
    candidate self-join → exact-Jaccard verify ≥ 0.5 — aggregated per
    band instead of returned as a pair set. Per band: occupied buckets,
    MAX bucket occupancy (the hot-bucket monitor the capped face's
    lever acts on), the exact Σ n·(n−1)/2 candidate ledger, then the
    survivors' verified count with integer jaccard/id checksums, each
    verified pair attributed to its FIRST band (min band,
    deterministic). The raw pair face stays registered hash-gated with
    bench=False: its decade reading was dominated by collecting the
    corpus-sized pair set to the driver — the harness, not the plan —
    while this digest returns #bands rows, the only shape a 100 TB
    near-dup audit could ever return.

    Shuffle shape: the occupancy ledger and the band self-join share
    the (_band, _bucket) partitioning — one shuffle family; shingle
    arrays join back only AFTER the candidate space collapses to
    distinct pairs; the LSH base is the same session-cached frame every
    other LSH face shares (cached_lsh_base — ONE corpus-sized cache
    entry across the family). The verified pair set itself comes from
    the shared cached_minhash_pairs_banded frame (r13 optimization):
    its per-band shared-bucket occupancies carry the first-colliding-
    band attribution (min band = first b with _occ{b} set), so this
    face is a filter+aggregate over the family-shared frame instead of
    its own candidate self-join + shingle verify."""
    from syslog_kafka_spark.operators.dedup import (
        banded_buckets,
        cached_lsh_base,
        cached_minhash_pairs_banded,
    )

    d = load_tables(spark, sf_dir).documents
    base = cached_lsh_base(d, 5, 16)
    banded = banded_buckets(base, 16, 4)
    ledger = _lsh_bucket_occupancy(banded).groupBy(
        F.col("_band").cast("int").alias("band")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("n").cast("bigint").alias("max_occupancy"),
        F.sum((F.col("n") * (F.col("n") - 1)) / 2)
        .cast("bigint")
        .alias("cand_pairs"),
    )
    ver = (
        cached_minhash_pairs_banded(d)
        .filter(F.col("jaccard") >= 0.5)
        .withColumn("band", _first_band_with(lambda b: F.col(f"_occ{b}").isNotNull()))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_verified"),
            F.sum(_jac_cents()).cast("bigint").alias("jac_cents"),
            F.sum(F.col("id_a") + F.col("id_b"))
            .cast("bigint")
            .alias("id_checksum"),
        )
    )
    return (
        ledger.join(ver, "band", "left")
        .select(
            "band",
            "n_buckets",
            "max_occupancy",
            "cand_pairs",
            F.coalesce("n_verified", F.lit(0)).cast("bigint").alias("n_verified"),
            F.coalesce("jac_cents", F.lit(0)).cast("bigint").alias("jac_cents"),
            F.coalesce("id_checksum", F.lit(0)).cast("bigint").alias("id_checksum"),
        )
        .orderBy("band")
    )


_LSH_CAP = 3  # bites at the driver's 500-doc gate scale (top occupancy 4-5)


def _lsh_capped_oracle(
    cap: int = _LSH_CAP, n_hashes: int = 16, bands: int = 4, threshold: float = 0.5
) -> str:
    return f"""
        WITH {_lsh_banded_cte(n_hashes, bands)}, occ AS (
          SELECT band, bucket, CAST(count(*) AS BIGINT) AS n
          FROM banded GROUP BY 1, 2
        ), ledger AS (
          SELECT CAST(band AS INTEGER) AS band,
                 CAST(count(*) AS BIGINT) AS n_buckets,
                 CAST(sum(CASE WHEN n > {cap} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_buckets_capped,
                 CAST(sum(CASE WHEN n <= {cap} THEN (n * (n - 1)) / 2 ELSE 0 END)
                   AS BIGINT) AS cand_kept,
                 CAST(sum(CASE WHEN n > {cap} THEN (n * (n - 1)) / 2 ELSE 0 END)
                   AS BIGINT) AS cand_skipped
          FROM occ GROUP BY 1
        ), kept AS (
          SELECT b.id, b.shingles, b.band, b.bucket
          FROM banded b JOIN occ o
            ON o.band = b.band AND o.bucket = b.bucket AND o.n <= {cap}
        ), cand AS (
          SELECT a.id AS id_a, b.id AS id_b, CAST(min(a.band) AS INTEGER) AS band
          FROM kept a JOIN kept b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
          GROUP BY 1, 2
        ), j AS (
          SELECT c.band, c.id_a, c.id_b,
                 len(list_intersect(sa.shingles, sb.shingles)) AS inter,
                 len(sa.shingles) + len(sb.shingles)
                   - len(list_intersect(sa.shingles, sb.shingles)) AS uni
          FROM cand c
          JOIN sh sa ON sa.id = c.id_a
          JOIN sh sb ON sb.id = c.id_b
        ), ver AS (
          SELECT band, CAST(count(*) AS BIGINT) AS n_verified,
                 CAST(sum(CAST(round(round(CASE WHEN uni = 0 THEN 1.0
                       ELSE CAST(inter AS DOUBLE) / uni END, 4) * 10000, 0)
                       AS BIGINT)) AS BIGINT) AS jac_cents,
                 CAST(sum(id_a + id_b) AS BIGINT) AS id_checksum
          FROM j
          WHERE CASE WHEN uni = 0 THEN 1.0
                     ELSE CAST(inter AS DOUBLE) / uni END >= {threshold}
          GROUP BY band
        )
        SELECT l.band, l.n_buckets, l.n_buckets_capped, l.cand_kept,
               l.cand_skipped,
               COALESCE(v.n_verified, 0) AS n_verified,
               COALESCE(v.jac_cents, 0) AS jac_cents,
               COALESCE(v.id_checksum, 0) AS id_checksum
        FROM ledger l LEFT JOIN ver v ON v.band = l.band
        ORDER BY l.band
    """


@query("llm_lsh_occupancy_capped", family="llm", oracle=_lsh_capped_oracle())
def llm_lsh_occupancy_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy-CAPPED LSH near-dup — the production lever this round's
    llm_dedup_then_lsh adjudication named (BENCH_SF10.md r12): hot
    buckets (here, letter-light documents sharing shingles across the
    corpus's cipher replicas; on real crawls, boilerplate) grow
    occupancy with corpus size, and per-bucket candidates grow as its
    square — the one superlinear term in an otherwise-linear banded
    pipeline. Real deployments skip too-common buckets outright (a
    bucket that common carries no near-dup signal; its members collide
    with everything) and ACCOUNT for the skipped mass. This face does
    both, per band: occupied buckets, capped buckets, the exact
    Σ n·(n−1)/2 candidate ledger KEPT and SKIPPED, then the survivors'
    verified near-dup count with integer jaccard/id checksums — each
    verified pair attributed to its FIRST kept band (min band,
    deterministic). The cap is a fixed literal (3) so the capped branch
    is exercised — and therefore hash-gated — at the driver's 500-doc
    gate scale (top occupancy 4–5 there; 400 at sf1, 1223 at sf10, so
    at scale the cap removes exactly the quadratic mass). At 100 TB the
    cap is the difference between bounded per-bucket work and one
    mega-bucket holding the corpus's boilerplate.

    Shuffle shape: the occupancy ledger aggregates over the shared
    cached base; the verified survivors come from the family-shared
    cached_minhash_pairs_banded frame (r13 optimization) — a pair
    survives the cap iff some band's shared-bucket occupancy _occ{b}
    <= cap, and its attribution is the FIRST such band, exactly the
    min-kept-band the per-face candidate self-join used to recompute.
    The digest is band-cardinality (4 rows). The LSH base and the pair
    frame are the same session-cached entries every other LSH face
    shares."""
    from syslog_kafka_spark.operators.dedup import (
        banded_buckets,
        cached_lsh_base,
        cached_minhash_pairs_banded,
    )

    cap = _LSH_CAP
    d = load_tables(spark, sf_dir).documents
    base = cached_lsh_base(d, 5, 16)
    banded = banded_buckets(base, 16, 4)
    occ = _lsh_bucket_occupancy(banded)
    ledger = occ.groupBy(F.col("_band").cast("int").alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.when(F.col("n") > cap, 1).otherwise(0))
        .cast("bigint")
        .alias("n_buckets_capped"),
        F.sum(
            F.when(F.col("n") <= cap, (F.col("n") * (F.col("n") - 1)) / 2).otherwise(0)
        )
        .cast("bigint")
        .alias("cand_kept"),
        F.sum(
            F.when(F.col("n") > cap, (F.col("n") * (F.col("n") - 1)) / 2).otherwise(0)
        )
        .cast("bigint")
        .alias("cand_skipped"),
    )
    ver = (
        cached_minhash_pairs_banded(d)
        .filter(F.col("jaccard") >= 0.5)
        .withColumn("band", _first_band_with(lambda b: F.col(f"_occ{b}") <= cap))
        .filter(F.col("band").isNotNull())
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_verified"),
            F.sum(_jac_cents()).cast("bigint").alias("jac_cents"),
            F.sum(F.col("id_a") + F.col("id_b"))
            .cast("bigint")
            .alias("id_checksum"),
        )
    )
    return (
        ledger.join(ver, "band", "left")
        .select(
            "band",
            "n_buckets",
            "n_buckets_capped",
            "cand_kept",
            "cand_skipped",
            F.coalesce("n_verified", F.lit(0)).cast("bigint").alias("n_verified"),
            F.coalesce("jac_cents", F.lit(0)).cast("bigint").alias("jac_cents"),
            F.coalesce("id_checksum", F.lit(0)).cast("bigint").alias("id_checksum"),
        )
        .orderBy("band")
    )


# derived from the production cap so the "sweep row at the production
# setting equals llm_lsh_occupancy_capped" reconciliation pin
# (tests/test_plan_quality.py) can never silently price the wrong cap
_SWEEP_CAPS = tuple(sorted({2, _LSH_CAP, 5, 8}))


def _lsh_cap_sweep_oracle(
    caps: tuple[int, ...] = _SWEEP_CAPS,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> str:
    caps_list = ", ".join(str(c) for c in caps)
    return f"""
        WITH {_lsh_banded_cte(n_hashes, bands)}, occ AS (
          SELECT band, bucket, CAST(count(*) AS BIGINT) AS n
          FROM banded GROUP BY 1, 2
        ), caps AS (
          SELECT unnest([{caps_list}]) AS cap
        ), ledger AS (
          SELECT CAST(c.cap AS INTEGER) AS cap,
                 CAST(sum(CASE WHEN o.n > c.cap THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_buckets_capped,
                 CAST(sum(CASE WHEN o.n <= c.cap THEN (o.n * (o.n - 1)) / 2
                      ELSE 0 END) AS BIGINT) AS cand_kept,
                 CAST(sum(CASE WHEN o.n > c.cap THEN (o.n * (o.n - 1)) / 2
                      ELSE 0 END) AS BIGINT) AS cand_skipped
          FROM occ o CROSS JOIN caps c GROUP BY 1
        ), bn AS (
          SELECT b.id, b.band, b.bucket, o.n
          FROM banded b JOIN occ o ON o.band = b.band AND o.bucket = b.bucket
        ), cand AS (
          SELECT a.id AS id_a, b.id AS id_b, CAST(min(a.n) AS BIGINT) AS min_occ
          FROM bn a JOIN bn b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
          GROUP BY 1, 2
        ), j AS (
          SELECT c.id_a, c.id_b, c.min_occ,
                 len(list_intersect(sa.shingles, sb.shingles)) AS inter,
                 len(sa.shingles) + len(sb.shingles)
                   - len(list_intersect(sa.shingles, sb.shingles)) AS uni
          FROM cand c
          JOIN sh sa ON sa.id = c.id_a
          JOIN sh sb ON sb.id = c.id_b
        ), ver AS (
          SELECT id_a, id_b, min_occ,
                 CAST(round(round(CASE WHEN uni = 0 THEN 1.0
                      ELSE CAST(inter AS DOUBLE) / uni END, 4) * 10000, 0)
                      AS BIGINT) AS jc
          FROM j
          WHERE CASE WHEN uni = 0 THEN 1.0
                     ELSE CAST(inter AS DOUBLE) / uni END >= {threshold}
        ), vc AS (
          SELECT CAST(c.cap AS INTEGER) AS cap,
                 CAST(count(*) AS BIGINT) AS n_verified,
                 CAST(sum(v.jc) AS BIGINT) AS jac_cents,
                 CAST(sum(v.id_a + v.id_b) AS BIGINT) AS id_checksum
          FROM ver v JOIN caps c ON v.min_occ <= c.cap
          GROUP BY 1
        )
        SELECT l.cap, l.n_buckets_capped, l.cand_kept, l.cand_skipped,
               COALESCE(v.n_verified, 0) AS n_verified,
               COALESCE(v.jac_cents, 0) AS jac_cents,
               COALESCE(v.id_checksum, 0) AS id_checksum
        FROM ledger l LEFT JOIN vc v ON v.cap = l.cap
        ORDER BY l.cap
    """


@query("llm_lsh_cap_sweep", family="llm", oracle=_lsh_cap_sweep_oracle())
def llm_lsh_cap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tuning query behind llm_lsh_occupancy_capped: price the
    occupancy cap at several settings (2/3/5/8) from ONE shared pass —
    the question a production deployment asks before picking the cap is
    "how much candidate mass does each setting skip, and how many true
    near-dups does it lose?", and answering it with one pipeline run per
    setting would re-shingle and re-verify the corpus four times. The
    sweep pattern is llm_dedup_threshold_sweep's: compute the
    cap-independent quantities once — bucket occupancy, the candidate
    pair set with each pair's MIN shared-bucket occupancy (a pair
    survives cap C iff it shares at least one bucket of occupancy ≤ C),
    and the exact-Jaccard verify — then explode only the final
    cardinality-bounded frames by the 4-row broadcast caps list. Per
    cap: capped-bucket count, the exact Σ n·(n−1)/2 candidate ledger
    kept AND skipped, and the surviving verified near-dups with integer
    jaccard/id checksums. At cap=3 this row reconciles exactly with
    llm_lsh_occupancy_capped's per-band digest summed (pinned in
    tests/test_plan_quality.py).

    Scale: verify runs once over the UNCAPPED candidate space (the
    sweep must see the full space to price it) — and since r13 that
    once is the family-shared cached_minhash_pairs_banded frame, whose
    least(_occ*) IS each pair's min shared-bucket occupancy; everything
    cap-dependent is a re-aggregation of executor-resident frames;
    output is #caps rows."""
    from syslog_kafka_spark.operators.dedup import (
        banded_buckets,
        cached_lsh_base,
        cached_minhash_pairs_banded,
    )

    d = load_tables(spark, sf_dir).documents
    base = cached_lsh_base(d, 5, 16)
    banded = banded_buckets(base, 16, 4)
    occ = _lsh_bucket_occupancy(banded)
    caps_df = spark.createDataFrame(
        [(int(c),) for c in _SWEEP_CAPS], "cap int"
    )
    ledger = (
        occ.crossJoin(F.broadcast(caps_df))
        .groupBy("cap")
        .agg(
            F.sum(F.when(F.col("n") > F.col("cap"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_buckets_capped"),
            F.sum(
                F.when(
                    F.col("n") <= F.col("cap"),
                    (F.col("n") * (F.col("n") - 1)) / 2,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("cand_kept"),
            F.sum(
                F.when(
                    F.col("n") > F.col("cap"),
                    (F.col("n") * (F.col("n") - 1)) / 2,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("cand_skipped"),
        )
    )
    ver = (
        cached_minhash_pairs_banded(d)
        .filter(F.col("jaccard") >= 0.5)
        .select(
            "id_a",
            "id_b",
            F.least(*[F.col(f"_occ{b}") for b in range(_LSH_BANDS)])
            .cast("bigint")
            .alias("min_occ"),
            _jac_cents().alias("jc"),
        )
    )
    vc = (
        ver.join(F.broadcast(caps_df), ver.min_occ <= caps_df.cap)
        .groupBy("cap")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_verified"),
            F.sum("jc").cast("bigint").alias("jac_cents"),
            F.sum(F.col("id_a") + F.col("id_b"))
            .cast("bigint")
            .alias("id_checksum"),
        )
    )
    return (
        ledger.join(vc, "cap", "left")
        .select(
            "cap",
            "n_buckets_capped",
            "cand_kept",
            "cand_skipped",
            F.coalesce("n_verified", F.lit(0)).cast("bigint").alias("n_verified"),
            F.coalesce("jac_cents", F.lit(0)).cast("bigint").alias("jac_cents"),
            F.coalesce("id_checksum", F.lit(0)).cast("bigint").alias("id_checksum"),
        )
        .orderBy("cap")
    )


def _dedup_components_oracle() -> str:
    """Recursive-CTE transitive closure over the verified LSH pairs: the
    declarative twin of iterative min-label propagation."""
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
        )
        SELECT component AS component_id,
               count(*) AS n_members,
               max(node) AS max_member
        FROM lbl GROUP BY component ORDER BY component_id
    """


@query("llm_dedup_components", family="llm", oracle=_dedup_components_oracle())
def llm_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering: LSH pairs → connected components →
    duplicate groups (keep min-id per component, drop the rest) — the
    final step of a production fuzzy-dedup pass (Lee et al.). Spark side
    is iterative min-label propagation (O(diameter) co-partitioned
    join+agg rounds, no driver-side node data); the oracle is a DuckDB
    recursive-CTE transitive closure over the identical md5-portable LSH
    pipeline — declarative vs iterative, hash-identical results."""
    from syslog_kafka_spark.operators.dedup import connected_components

    d = load_tables(spark, sf_dir).documents
    edges = cached_minhash_pairs(d).filter(F.col("jaccard") >= 0.5)
    labels = connected_components(edges)
    return (
        labels.groupBy(F.col("label").alias("component_id"))
        .agg(F.count("*").alias("n_members"), F.max("node").alias("max_member"))
        .orderBy("component_id")
    )


def _soft_dedup_weights_oracle() -> str:
    """Recursive-CTE closure (as _dedup_components_oracle) → component
    sizes → per-source soft-dedup mass over ALL documents (singletons
    never enter the edge list; size defaults to 1)."""
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
        csize AS (
          SELECT node, count(*) OVER (PARTITION BY component) AS size
          FROM lbl
        ),
        w AS (
          SELECT d.source, d.n_chars, COALESCE(c.size, 1) AS size
          FROM documents d LEFT JOIN csize c ON c.node = d.doc_id
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN size > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_docs,
               CAST(round(sum(1.0 / size), 4) AS DOUBLE) AS effective_docs,
               CAST(sum(n_chars) AS BIGINT) AS raw_chars,
               CAST(round(sum(CAST(n_chars AS DOUBLE) / size), 4) AS DOUBLE)
                 AS effective_chars
        FROM w GROUP BY source ORDER BY source
    """


@query("llm_soft_dedup_weights", family="llm", oracle=_soft_dedup_weights_oracle())
def llm_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup (down-weighting instead of dropping): every document
    gets weight 1/|its near-dup cluster| — duplicates collectively count
    once, singletons keep weight 1 — and the report is each source's raw
    vs EFFECTIVE mass (doc- and char-weighted) under those weights. This
    is the repetition-aware sampling-weight table a training pipeline
    feeds its sampler when it can't afford to hard-drop near-dups
    (epoching reuses them at reduced rate), and the per-source shrink
    ratio is the dedup-health dashboard number. Reuses the gated LSH →
    connected-components machinery end-to-end: cluster sizes come from
    the same iterative min-label propagation llm_dedup_components gates
    (oracle: the same recursive-CTE closure), sizes join back to the
    corpus on doc_id (broadcast — the label frame is pair-survivor-sized,
    orders smaller than the corpus), and the output is #sources rows.
    Singletons never enter the edge list, so the join is a left join
    with size defaulting to 1; float surface is the final ≤#sources-row
    aggregate rounded 4 dp."""
    from syslog_kafka_spark.operators.dedup import connected_components

    d = load_tables(spark, sf_dir).documents
    edges = cached_minhash_pairs(d).filter(F.col("jaccard") >= 0.5)
    labels = connected_components(edges)
    sizes = labels.join(
        labels.groupBy("label").agg(F.count(F.lit(1)).alias("size")), "label"
    ).select("node", "size")
    w = d.join(
        F.broadcast(sizes), d.doc_id == sizes.node, "left"
    ).select("source", "n_chars", F.coalesce("size", F.lit(1)).alias("size"))
    return (
        w.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("size") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_docs"),
            F.round(F.sum(F.lit(1.0) / F.col("size")), 4)
            .cast("double")
            .alias("effective_docs"),
            F.sum("n_chars").cast("bigint").alias("raw_chars"),
            F.round(F.sum(F.col("n_chars").cast("double") / F.col("size")), 4)
            .cast("double")
            .alias("effective_chars"),
        )
        .orderBy("source")
    )


def _simhash_oracle(max_hamming: int = 12, prefix_bits: int = 12, bits: int = 60) -> str:
    """DuckDB twin of simhash64 + prefix-blocked pair join
    (operators/dedup.py:138-195): per-bit majority vote over md5-derived
    token hashes, then bit_count(xor) hamming under a shared prefix."""
    bit_terms = " + ".join(
        f"(CASE WHEN sum((h >> {i}) & 1) * 2 > count(*) "
        f"THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
        WITH tok AS (
          SELECT doc_id AS id, {hash64_sql('t.tok')} AS h
          FROM (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
            FROM documents
          ) t
        ), sims AS (
          SELECT id, {bit_terms} AS simhash
          FROM tok GROUP BY id
        )
        SELECT a.id AS id_a, b.id AS id_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sims a JOIN sims b
          ON (a.simhash >> {bits - prefix_bits}) = (b.simhash >> {bits - prefix_bits})
         AND a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
        ORDER BY id_a, id_b
    """


@query("llm_simhash_neardup", family="llm", oracle=_simhash_oracle())
def llm_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 12 on 60-bit hashes, 12-bit
    prefix blocking) — hash-gated: md5-derived token hashes make the
    per-bit majority vote engine-portable."""
    d = load_tables(spark, sf_dir).documents
    return simhash_neardup_pairs(d, max_hamming=12, prefix_bits=12).orderBy("id_a", "id_b")


def _simhash_multiprobe_oracle(
    max_hamming: int = 12, prefix_bits: int = 12, tables: int = 4, bits: int = 60
) -> str:
    """DuckDB twin of simhash_neardup_multiprobe: same sims CTE, then one
    rotated block key per table UNION'd into the probe relation."""
    bit_terms = " + ".join(
        f"(CASE WHEN sum((h >> {i}) & 1) * 2 > count(*) "
        f"THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)"
        for i in range(bits)
    )
    step = bits // tables
    # mask the low bits BEFORE shifting: DuckDB BIGINT arithmetic is
    # overflow-checked, so (h << r) with h < 2^60 would error for r > 3
    probes = "\n          UNION ALL ".join(
        f"SELECT id, simhash, {t} AS tbl, "
        f"((((simhash & {(1 << (bits - t * step)) - 1}) << {t * step})"
        f" + (simhash >> {bits - t * step})) "
        f">> {bits - prefix_bits}) AS blk FROM sims"
        for t in range(tables)
    )
    return f"""
        WITH tok AS (
          SELECT doc_id AS id, {hash64_sql('t.tok')} AS h
          FROM (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
            FROM documents
          ) t
        ), sims AS (
          SELECT id, {bit_terms} AS simhash
          FROM tok GROUP BY id
        ), probed AS (
          {probes}
        ), pairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                 a.simhash AS sa, b.simhash AS sb
          FROM probed a JOIN probed b
            ON a.tbl = b.tbl AND a.blk = b.blk AND a.id < b.id
        )
        SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
        FROM pairs
        WHERE bit_count(xor(sa, sb)) <= {max_hamming}
        ORDER BY id_a, id_b
    """


@query(
    "llm_simhash_multiprobe",
    family="llm",
    oracle=_simhash_multiprobe_oracle(),
    bench=False,
)
def llm_simhash_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table SimHash near-dup (4 rotation tables): recovers pairs
    whose differing bits fall inside the single-table prefix window —
    recall → 1 for hamming ≪ 60/tables while every join stays bucketed.
    Hash-gated end-to-end: the rotations are plain shift/mask arithmetic,
    identical in both engines.

    bench=False: hamming ≤ 12 is deliberately loose, so the verified
    pair SET is huge (5.3 M rows at sf1) and a timed collect measures
    harness output transfer, not the operator (kernel-profiled: the
    pipeline re-counts in 1.5 s warm at sf1). The benched quantity is
    llm_simhash_pair_digest — the same pipeline aggregated to one row
    per hamming distance, which is what a 100 TB run would materialize."""
    from syslog_kafka_spark.operators.dedup import simhash_neardup_multiprobe

    d = load_tables(spark, sf_dir).documents
    return simhash_neardup_multiprobe(
        d, max_hamming=12, prefix_bits=12, tables=4
    ).orderBy("id_a", "id_b")


def _simhash_pair_digest_oracle() -> str:
    """ROLLUP over the multiprobe pair query: per-hamming pair counts +
    id-sum checksums, total row keyed hamming = -1."""
    inner = _simhash_multiprobe_oracle()
    return f"""
        WITH pair_set AS ({inner})
        SELECT coalesce(hamming, -1) AS hamming,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(id_a) AS BIGINT) AS sum_id_a,
               CAST(sum(id_b) AS BIGINT) AS sum_id_b
        FROM pair_set
        GROUP BY ROLLUP (hamming)
        ORDER BY hamming
    """


@query("llm_simhash_pair_digest", family="llm", oracle=_simhash_pair_digest_oracle())
def llm_simhash_pair_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multiprobe near-dup DIGEST: per-hamming-distance pair counts
    with id-sum checksums plus a total row (hamming = -1, via ROLLUP).
    This is the benched face of the multiprobe pipeline: the full pair
    set is 5.3 M rows at sf1 — downstream consumers (threshold tuning,
    recall audits) read exactly this digest, and a 100 TB run would
    never collect the raw pairs to one node. The checksums make the
    gate as strong as hashing the pair set itself short of ordering:
    any missing/extra/mis-distanced pair shifts a count or an id sum.

    Plan shape: identical banded self-join as the pair query (shared
    session-cached signature base), then a 13-group partial-aggregated
    rollup — map-side combine collapses the pair volume inside each
    task, so the final shuffle is #partitions × 14 rows."""
    from syslog_kafka_spark.operators.dedup import simhash_neardup_multiprobe

    d = load_tables(spark, sf_dir).documents
    pairs = simhash_neardup_multiprobe(d, max_hamming=12, prefix_bits=12, tables=4)
    return (
        pairs.rollup("hamming")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("id_a").cast("bigint").alias("sum_id_a"),
            F.sum("id_b").cast("bigint").alias("sum_id_b"),
        )
        .select(
            F.coalesce(F.col("hamming"), F.lit(-1)).cast("int").alias("hamming"),
            "n_pairs",
            "sum_id_a",
            "sum_id_b",
        )
        .orderBy("hamming")
    )


def _ann_srp_oracle() -> str:
    """DuckDB twin of srp_topk_frozen: identical frozen hyperplanes
    (literal CTE), identical sign decisions (list_reduce left fold ==
    Spark's aggregate fold bit-for-bit), bucket join, DISTINCT candidate
    set, exact-cosine re-rank rounded to 4dp (list_dot_product — the
    proven llm_similarity_topk scoring twin)."""
    from syslog_kafka_spark.operators.ann_frozen import (
        DIM,
        N_PLANES,
        N_TABLES,
        SRP_PLANES,
    )
    from syslog_kafka_spark.operators.similarity import (
        planes_sql_literal,
        srp_buckets_sql,
    )

    return f"""
        WITH pl AS (SELECT {planes_sql_literal(SRP_PLANES)} AS P),
        base AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        bx AS (
          SELECT b.vec_id, {srp_buckets_sql(N_TABLES, N_PLANES, DIM)} AS bucket
          FROM base b CROSS JOIN pl CROSS JOIN range(0, {N_TABLES}) u(t)
        ),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          FROM bx q JOIN bx c ON q.bucket = c.bucket
          WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        ),
        scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 list_dot_product(cc.v, qq.v)
                   / (sqrt(list_dot_product(cc.v, cc.v))
                      * sqrt(list_dot_product(qq.v, qq.v))) AS s
          FROM cand
          JOIN base qq ON qq.vec_id = cand.query_id
          JOIN base cc ON cc.vec_id = cand.neighbor_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, s,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY s DESC, neighbor_id
                 ) AS rank
          FROM scored
        )
        SELECT query_id, rank, neighbor_id, CAST(round(s, 4) AS DOUBLE) AS score
        FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
    """


@query("llm_ann_srp_topk", family="llm", oracle=_ann_srp_oracle())
def llm_ann_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via signed-random-projection LSH buckets with
    FROZEN hyperplanes (scripts/fit_ann_structures.py →
    operators/ann_frozen.py): the candidate set is the union over 8
    independent 4-plane bucket tables, re-ranked by exact cosine — and
    because the planes are committed literals evaluated with the same
    left-associated folds on both engines, candidates AND scores
    hash-gate end to end (the r4 SemDeDup pattern applied to ANN); the
    recall floor vs brute force is pinned in tests/test_llm_ops.py."""
    from syslog_kafka_spark.operators.ann_frozen import SRP_PLANES
    from syslog_kafka_spark.operators.similarity import srp_topk_frozen

    emb = load_tables(spark, sf_dir).embeddings
    return srp_topk_frozen(
        emb, emb.filter(F.col("vec_id") < 10), planes=SRP_PLANES, k=5
    ).orderBy("query_id", "rank")


_TFIDF_TERMS = ["spark", "query", "data"]


@query(
    "llm_tfidf_rank",
    family="llm",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks
          WHERE term IN ('spark', 'query', 'data')
          GROUP BY doc_id, term
        ), df AS (
          SELECT term, count(DISTINCT doc_id) AS df FROM toks
          WHERE term IN ('spark', 'query', 'data')
          GROUP BY term
        ), n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id,
            {" + ".join(
              f"coalesce(sum(CASE WHEN tf.term = '{t}' THEN tf * ln(CAST(n_docs AS DOUBLE) / df) END), 0.0)"
              for t in _TFIDF_TERMS
            )} AS score
          FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
          GROUP BY tf.doc_id
        )
        SELECT doc_id, CAST(round(score, 4) AS DOUBLE) AS score
        FROM scored
        ORDER BY score DESC, doc_id
        LIMIT 20
    """,
)
def llm_tfidf_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF document ranking for a fixed query-term set.

    Per-term partial scores are summed in a FIXED expression order
    (t_spark + t_query + t_data) on both engines — a floating SUM over an
    engine-chosen order could flip the last ulp and the rounding."""
    d = load_tables(spark, sf_dir).documents
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term")).filter(
        F.col("term").isin(_TFIDF_TERMS)
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # tiny driver-side scalar; broadcast into the expr
    scored = (
        tf.join(F.broadcast(df_), "term")
        .withColumn("partial", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")))
        .groupBy("doc_id")
        .agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("term") == t, F.col("partial"))), F.lit(0.0)
                ).alias(f"_s_{t}")
                for t in _TFIDF_TERMS
            ]
        )
        .withColumn("score", sum([F.col(f"_s_{t}") for t in _TFIDF_TERMS], F.lit(0.0)))
    )
    return (
        scored.select("doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@query(
    "llm_word_bigrams",
    family="llm",
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
        bigrams AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                        i -> t[i] || ' ' || t[i + 1])) AS bigram
          FROM toks
        )
        SELECT bigram, count(*) AS freq
        FROM bigrams
        GROUP BY bigram
        ORDER BY freq DESC, bigram
        LIMIT 20
    """,
)
def llm_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word n-grams (bigrams) via index-transform over the token array —
    no explode until the final count, 1-based element_at on both engines.

    Tokens are materialized in a separate projection first: Catalyst does
    not CSE expressions referenced inside higher-order-function lambdas,
    so inlining tokens() here re-splits the text once per element_at call
    (measured 6.5s → 0.5s at sf0.1 for this query)."""
    d = load_tables(spark, sf_dir).documents
    base = d.select(tokens("text").alias("_toks"))
    # shared guarded builder (plans.mining): sequence(1, 0) DESCENDS to
    # [1, 0], so a <2-token doc would index past the array under ANSI;
    # the builder's empty-array branch matches the oracle's empty
    # generate_series(1, 0)
    from syslog_kafka_spark.plans.mining import _bigrams_col

    bigrams = _bigrams_col()
    return (
        base.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "bigram")
        .limit(20)
    )


def _ann_ivf_oracle(n_probe: int = 3) -> str:
    """DuckDB twin of ivf_topk_frozen: frozen-centroid sims as the same
    left-associated chains (frozen_cluster_sims_sql), corpus argmax via
    list_position-of-list_max (first-max ties, = numpy/Spark), query
    probe lists via row_number over (sim DESC, index ASC) — the argsort
    tie order — then exact-cosine re-rank rounded to 4dp."""
    from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS, N_LISTS
    from syslog_kafka_spark.operators.similarity import frozen_cluster_sims_sql

    return f"""
        WITH a0 AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 {frozen_cluster_sims_sql(IVF_CENTROIDS)} AS sims
          FROM embeddings
        ),
        c AS (
          SELECT vec_id, v,
                 CAST(list_position(sims, list_max(sims)) - 1 AS INT) AS lst
          FROM a0
        ),
        qp AS (
          SELECT a.vec_id, a.v, u.i - 1 AS lst,
                 row_number() OVER (
                   PARTITION BY a.vec_id ORDER BY a.sims[u.i] DESC, u.i
                 ) AS pr
          FROM a0 a CROSS JOIN range(1, {N_LISTS + 1}) u(i)
          WHERE a.vec_id < 10
        ),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_dot_product(c.v, q.v)
                   / (sqrt(list_dot_product(c.v, c.v))
                      * sqrt(list_dot_product(q.v, q.v))) AS s
          FROM qp q JOIN c ON q.lst = c.lst
          WHERE q.pr <= {n_probe} AND c.vec_id <> q.vec_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, s,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY s DESC, neighbor_id
                 ) AS rank
          FROM scored
        )
        SELECT query_id, rank, neighbor_id, CAST(round(s, 4) AS DOUBLE) AS score
        FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
    """


@query("llm_ann_ivf_topk", family="llm", oracle=_ann_ivf_oracle(n_probe=4))
def llm_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k with a PRETRAINED coarse quantizer: k-means
    centroids fit once offline (scripts/fit_ann_structures.py) and frozen
    as literals (operators/ann_frozen.py) — corpus vectors argmax-assign
    to one inverted list, queries probe their 4 nearest lists, and the
    exact-cosine rescan touches ~n_probe/n_lists of the corpus. Frozen
    structure + fold-identical arithmetic on both engines makes the
    probed lists, candidate set, and re-ranked top-k hash-gateable; the
    recall floor vs brute force is pinned in tests/test_llm_ops.py."""
    from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS
    from syslog_kafka_spark.operators.similarity import ivf_topk_frozen

    emb = load_tables(spark, sf_dir).embeddings
    return ivf_topk_frozen(
        emb, emb.filter(F.col("vec_id") < 10), centroids=IVF_CENTROIDS, k=5, n_probe=4
    ).orderBy("query_id", "rank")


def _ann_recall_oracle() -> str:
    """Composes the three proven topk oracles (brute-force cosine, SRP,
    IVF) as nested-WITH CTE bodies, then joins each tier's result set
    against the exact top-5 and reduces to a per-tier recall ledger."""
    exact = """
        WITH q AS (
          SELECT vec_id AS query_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id < 10
        ), c AS (
          SELECT vec_id AS neighbor_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
          FROM embeddings
        ), scored AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY list_dot_product(cv, qv)
                     / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))) DESC,
                     neighbor_id
                 ) AS rank
          FROM c CROSS JOIN q
          WHERE neighbor_id <> query_id
        )
        SELECT query_id, neighbor_id FROM scored WHERE rank <= 5
    """
    return f"""
        WITH exact AS ({exact}),
        srp AS ({_ann_srp_oracle()}),
        ivf AS ({_ann_ivf_oracle(n_probe=4)}),
        tier_rows AS (
          SELECT 'ivf' AS tier, query_id, neighbor_id FROM ivf
          UNION ALL
          SELECT 'srp' AS tier, query_id, neighbor_id FROM srp
        ),
        truth AS (
          SELECT CAST(count(*) AS BIGINT) AS n_truth,
                 CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries
          FROM exact
        ),
        hits AS (
          SELECT t.tier,
                 CAST(count(*) AS BIGINT) AS n_hits,
                 CAST(sum(e.query_id * 100000 + e.neighbor_id) AS BIGINT)
                   AS hit_checksum
          FROM tier_rows t
          JOIN exact e
            ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
          GROUP BY 1
        )
        SELECT tl.tier, tr.n_queries, tr.n_truth,
               COALESCE(h.n_hits, 0) AS n_hits,
               CAST(round(10000.0 * COALESCE(h.n_hits, 0) / tr.n_truth, 0)
                    AS BIGINT) AS recall_bps,
               COALESCE(h.hit_checksum, 0) AS hit_checksum
        FROM (SELECT unnest(['ivf', 'srp']) AS tier) tl
        LEFT JOIN hits h ON h.tier = tl.tier
        CROSS JOIN truth tr
        ORDER BY tl.tier
    """


@query("llm_ann_recall_audit", family="llm", oracle=_ann_recall_oracle())
def llm_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of both frozen ANN tiers (SRP-LSH, IVF n_probe=4)
    against exact brute-force cosine, as a driver-hash-gated query — the
    acceptance test a production vector index must pass before it
    replaces the linear scan, promoted from a pytest-only floor
    (tests/test_llm_ops.py) to a first-class audit with an oracle.
    Per tier: query count, ground-truth size (queries x 5), hit count,
    recall in basis points, and an integer hit checksum
    (query_id * 100000 + neighbor_id summed over the intersection) so
    the gate pins WHICH true neighbors each tier recovered, not just how
    many. All three topk faces share the deterministic
    (score DESC, neighbor_id) tie order their individual gates already
    pin, so the set intersection is exactly reproducible.

    Scale shape (r14 rework): the three tier faces each used to run their
    OWN corpus pass (SRP bucket UDF, IVF sims UDF, brute-force norm scan
    — three ArrowEvalPython/scan pipelines over the same table). The
    audit now derives every side from ONE session-cached
    ann_tier_base frame — id, vector, norm, SRP buckets, and IVF sims
    computed in a single projection, so both pandas UDFs share one
    ArrowEvalPython node and the corpus crosses the Python boundary
    once. Each tier's search reads the shared columns through the same
    expressions its standalone path computes (norm_expr /
    srp_buckets_frozen_udf / frozen_sims_udf / the argmax and probe
    selections), so candidates and scores are bit-identical — the
    driver hash gate pins it. Exact brute force scores queries x N — at
    audit time that cost IS the deliverable; production audits sample
    queries exactly like the vec_id < 10 predicate here; the per-tier
    reduce collapses to #tiers rows before anything reaches the
    driver."""
    from syslog_kafka_spark.operators.ann_frozen import IVF_CENTROIDS, SRP_PLANES
    from syslog_kafka_spark.operators.session_cache import session_cache
    from syslog_kafka_spark.operators.similarity import (
        ann_tier_base,
        cosine_topk,
        ivf_topk_frozen,
        srp_topk_frozen,
    )

    base = session_cache(
        ann_tier_base(load_tables(spark, sf_dir).embeddings, SRP_PLANES, IVF_CENTROIDS)
    )
    qbase = base.filter(F.col("_id") < 10)
    # referenced twice (truth aggregate + hit join) and the brute-force
    # scan is the audit's dominant cost — barrier it so it runs once
    exact = session_cache(
        cosine_topk(k=5, corpus_base=base, query_base=qbase).select(
            "query_id", "neighbor_id"
        ),
        eager=False,
    )
    srp = srp_topk_frozen(planes=SRP_PLANES, k=5, corpus_base=base, query_base=qbase)
    ivf = ivf_topk_frozen(
        centroids=IVF_CENTROIDS, k=5, n_probe=4, corpus_base=base, query_base=qbase
    )
    tier_rows = ivf.select(
        F.lit("ivf").alias("tier"), "query_id", "neighbor_id"
    ).unionByName(srp.select(F.lit("srp").alias("tier"), "query_id", "neighbor_id"))
    truth = exact.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
    )
    hits = (
        # exact is #queries x k rows — broadcast it into the hit join so
        # the tier result sets never shuffle on the pair key
        tier_rows.join(F.broadcast(exact), ["query_id", "neighbor_id"])
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.sum(F.col("query_id") * 100000 + F.col("neighbor_id"))
            .cast("bigint")
            .alias("hit_checksum"),
        )
    )
    tiers = spark.createDataFrame([("ivf",), ("srp",)], "tier string")
    return (
        tiers.join(hits, "tier", "left")
        .crossJoin(F.broadcast(truth))
        .select(
            "tier",
            "n_queries",
            "n_truth",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.lit(10000.0) * F.coalesce("n_hits", F.lit(0)) / F.col("n_truth"), 0
            )
            .cast("bigint")
            .alias("recall_bps"),
            F.coalesce("hit_checksum", F.lit(0)).cast("bigint").alias("hit_checksum"),
        )
        .orderBy("tier")
    )


# ---------------------------------------------------------------------------
# Curation tier (operators/curation.py): the raw-corpus → training-shards
# steps. All engine-portable expressions, all hash-gated.


def _pii_synth_sql() -> str:
    """The deterministic PII-bearing text both engines synthesize from
    customer keys (the synthetic corpus itself contains no PII)."""
    return (
        "'reach user' || CAST(c_custkey AS VARCHAR)"
        " || ' at u' || CAST(c_custkey AS VARCHAR)"
        " || '@mail' || CAST(c_custkey % 7 AS VARCHAR)"
        " || '.example.com or +1 555 '"
        " || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')"
        " || ' 99 from 10.' || CAST(c_custkey % 256 AS VARCHAR)"
        " || '.0.' || CAST(c_custkey % 100 AS VARCHAR)"
    )


def _pii_oracle() -> str:
    from syslog_kafka_spark.operators.curation import pii_counts_sql, redact_pii_sql

    counts = ", ".join(f"{sql} AS {name}" for name, sql in pii_counts_sql("t").items())
    return f"""
        WITH s AS (
          SELECT c_custkey, {_pii_synth_sql()} AS t
          FROM customer WHERE c_custkey <= 200
        )
        SELECT c_custkey, {counts}, {redact_pii_sql('t')} AS redacted
        FROM s ORDER BY c_custkey
    """


@query("llm_pii_redaction", family="llm", oracle=_pii_oracle())
def llm_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails, IPv4s, phone numbers) over a
    deterministic synthesized corpus — counts verify detection, the
    redacted text verifies the scrub, and the RE2-safe patterns make both
    hash-comparable across engines."""
    from syslog_kafka_spark.operators.curation import pii_counts, redact_pii

    c = load_tables(spark, sf_dir).customer.filter(F.col("c_custkey") <= 200)
    key = F.col("c_custkey")
    synth = F.concat(
        F.lit("reach user"), key.cast("string"),
        F.lit(" at u"), key.cast("string"),
        F.lit("@mail"), (key % 7).cast("string"),
        F.lit(".example.com or +1 555 "),
        F.lpad((key % 10000).cast("string"), 4, "0"),
        F.lit(" 99 from 10."), (key % 256).cast("string"),
        F.lit(".0."), (key % 100).cast("string"),
    )
    base = c.select("c_custkey", synth.alias("_t"))
    counts = [expr.alias(name) for name, expr in pii_counts("_t").items()]
    return base.select(
        "c_custkey", *counts, redact_pii("_t").alias("redacted")
    ).orderBy("c_custkey")


def _hash_split_oracle() -> str:
    from syslog_kafka_spark.operators.curation import hash_split_sql

    return f"""
        SELECT {hash_split_sql('doc_id')} AS split,
               count(*) AS n_docs,
               CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS sum_tokens
        FROM documents
        GROUP BY 1 ORDER BY 1
    """


@query("llm_hash_split", family="llm", oracle=_hash_split_oracle())
def llm_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (salted hash64 mod 100):
    stable across runs, executors, and partitionings — rand()-based
    splits can never guarantee that. Gated on the per-split doc and token
    totals."""
    from syslog_kafka_spark.operators.curation import hash_split

    d = load_tables(spark, sf_dir).documents
    return (
        d.select(hash_split("doc_id").alias("split"), token_count("text").alias("_n"))
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("_n").alias("sum_tokens"))
        .orderBy("split")
    )


_CHUNK_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents WHERE doc_id <= 30
    ), st AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks), 1), 48)) AS s
      FROM d
    )
    SELECT doc_id, s AS chunk_start,
           array_to_string(list_slice(toks, s, s + 63), ' ') AS chunk_text,
           len(list_slice(toks, s, s + 63)) AS n_chunk_tokens
    FROM st ORDER BY doc_id, chunk_start
"""


@query("llm_doc_chunks", family="llm", oracle=_CHUNK_ORACLE)
def llm_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (64-token windows, stride 48)
    via sequence+slice — the explode is per chunk, not per token, so the
    row blowup is bounded by the overlap factor."""
    from syslog_kafka_spark.operators.curation import chunk_tokens

    d = load_tables(spark, sf_dir).documents.filter(F.col("doc_id") <= 30)
    return chunk_tokens(d, chunk_size=64, stride=48).orderBy("doc_id", "chunk_start")


def _length_buckets_oracle() -> str:
    from syslog_kafka_spark.operators.curation import length_bucket_sql

    return f"""
        WITH d AS (SELECT len({_TOKENS_SQL}) AS n_tokens FROM documents)
        SELECT {length_bucket_sql('n_tokens')} AS bucket_lo,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        FROM d GROUP BY 1 ORDER BY 1
    """


@query("llm_length_buckets", family="llm", oracle=_length_buckets_oracle())
def llm_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two sequence-length buckets for packing: bucket floor,
    document count, and token mass per bucket."""
    from syslog_kafka_spark.operators.curation import length_bucket

    d = load_tables(spark, sf_dir).documents
    return (
        d.select(length_bucket(token_count("text")).alias("bucket_lo"),
                 token_count("text").alias("_n"))
        .groupBy("bucket_lo")
        .agg(F.count("*").alias("n_docs"), F.sum("_n").alias("sum_tokens"))
        .orderBy("bucket_lo")
    )


_TOKEN_ENTROPY_ORACLE = f"""
    WITH uni AS (
      SELECT doc_id, term, count(*) AS c
      FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents)
      GROUP BY doc_id, term
    ),
    tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM uni GROUP BY doc_id)
    SELECT u.doc_id, t.n AS n_tokens,
           CAST(round(-sum((u.c / t.n) * log2(u.c / t.n)), 4) AS DOUBLE)
             AS token_entropy_bits
    FROM uni u JOIN tot t USING (doc_id)
    GROUP BY u.doc_id, t.n
    ORDER BY u.doc_id
"""


@query("llm_token_entropy", family="llm", oracle=_TOKEN_ENTROPY_ORACLE)
def llm_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the within-doc token distribution
    (bits): the repetition filters' information-theoretic sibling — "spam
    spam spam" scores 0, diverse text approaches log2(n_tokens). Two
    co-partitioned aggregates on doc_id; the totals join never reshuffles."""
    d = load_tables(spark, sf_dir).documents
    uni = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
    )
    tot = uni.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        uni.join(tot, "doc_id")
        .groupBy("doc_id", "n")
        .agg(F.round(-F.sum(p * F.log2(p)), 4).alias("token_entropy_bits"))
        .select("doc_id", F.col("n").alias("n_tokens"), "token_entropy_bits")
        .orderBy("doc_id")
    )


def _weighted_sample_oracle() -> str:
    h = hash64_sql("CAST(doc_id AS VARCHAR)", salt="mix-v1")
    return f"""
        WITH d AS (
          SELECT doc_id, lang, len({_TOKENS_SQL}) AS n_tokens,
                 ({h}) % 1000000 AS u
          FROM documents
        )
        SELECT lang,
               count(*) AS n_sampled,
               CAST(sum(n_tokens) AS BIGINT) AS sampled_tokens
        FROM d
        WHERE u < least(n_tokens, 100) * 10000
        GROUP BY lang
        ORDER BY lang
    """


@query("llm_weighted_sample", family="llm", oracle=_weighted_sample_oracle())
def llm_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic length-weighted Bernoulli sampling for data mixing:
    each doc is kept with probability min(n_tokens, 100)% — longer docs
    (more token mass) sample proportionally more often, capped. The
    uniform draw is the salted hash of the doc id, so the sample is
    identical across runs, executors, and partitionings; bump the salt to
    redraw. Pure filter — no shuffle until the audit aggregate."""
    from syslog_kafka_spark.functions.hashes import hash64

    d = load_tables(spark, sf_dir).documents
    n = token_count("text")
    u = F.pmod(hash64(F.col("doc_id").cast("string"), salt="mix-v1"), F.lit(1000000))
    return (
        d.select("lang", n.alias("n_tokens"), u.alias("u"))
        .filter(F.col("u") < F.least(F.col("n_tokens"), F.lit(100)) * 10000)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_tokens").alias("sampled_tokens"),
        )
        .orderBy("lang")
    )


def _packing_oracle() -> str:
    from syslog_kafka_spark.operators.curation import length_bucket_sql, pad_ceiling_sql

    return f"""
        WITH d AS (SELECT len({_TOKENS_SQL}) AS n FROM documents)
        SELECT {length_bucket_sql('n')} AS bucket_lo,
               count(*) AS n_docs,
               CAST(sum(n) AS BIGINT) AS real_tokens,
               CAST(sum({pad_ceiling_sql('n')}) AS BIGINT) AS padded_tokens,
               CAST(sum({pad_ceiling_sql('n')} - n) AS BIGINT) AS wasted_tokens,
               CAST(round(sum(n) / sum({pad_ceiling_sql('n')}), 4) AS DOUBLE)
                 AS packing_efficiency
        FROM d GROUP BY 1 ORDER BY 1
    """


@query("llm_packing_efficiency", family="llm", oracle=_packing_oracle())
def llm_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for bucketed batch packing: per length bucket,
    real vs padded token mass when every sequence pads to its power-of-two
    ceiling — the number that decides whether a packing job (concat +
    re-chunk) is worth running before training."""
    from syslog_kafka_spark.operators.curation import length_bucket, pad_ceiling

    d = load_tables(spark, sf_dir).documents
    n = token_count("text")
    return (
        d.select(
            length_bucket(n).alias("bucket_lo"),
            n.alias("_n"),
            pad_ceiling(n).alias("_pad"),
        )
        .groupBy("bucket_lo")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_n").alias("real_tokens"),
            F.sum("_pad").alias("padded_tokens"),
            F.sum(F.col("_pad") - F.col("_n")).alias("wasted_tokens"),
            F.round(F.sum("_n") / F.sum("_pad"), 4).alias("packing_efficiency"),
        )
        .orderBy("bucket_lo")
    )


def _strat_sample_oracle() -> str:
    h = hash64_sql("CAST(doc_id AS VARCHAR)", salt="sample-v1")
    return f"""
        WITH ranked AS (
          SELECT lang, doc_id, {h} AS hk,
                 row_number() OVER (PARTITION BY lang ORDER BY {h}, doc_id) AS rn
          FROM documents
        )
        SELECT lang, doc_id, hk
        FROM ranked WHERE rn <= 10
        ORDER BY lang, doc_id
    """


@query("llm_stratified_sample", family="llm", oracle=_strat_sample_oracle())
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: 10 docs per language stratum,
    chosen by smallest salted hash — a reproducible 'random' sample that
    never moves under re-runs or repartitioning (unlike sampleBy), so
    eval sets stay frozen. One window per stratum; at scale this is a
    single shuffle on the stratum key."""
    from pyspark.sql import Window

    from syslog_kafka_spark.functions.hashes import hash64

    d = load_tables(spark, sf_dir).documents
    hk = hash64(F.col("doc_id").cast("string"), salt="sample-v1")
    w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    return (
        d.select("lang", "doc_id", hk.alias("hk"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("lang", "doc_id", "hk")
        .orderBy("lang", "doc_id")
    )


def _repetition_cte(src: str = "documents") -> str:
    """CTE list ending in ``repstats(doc_id, n_tokens, top_token_frac,
    dup_bigram_frac)`` over ``src`` — shared by the metrics query and the
    end-to-end curation pipeline."""
    return f"""
        toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM {src}),
        uni AS (
          SELECT doc_id, term, count(*) AS c
          FROM (SELECT doc_id, unnest(t) AS term FROM toks)
          GROUP BY doc_id, term
        ),
        unistats AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top_cnt
          FROM uni GROUP BY doc_id
        ),
        big AS (
          SELECT doc_id, bigram, count(*) AS c FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                          i -> t[i] || ' ' || t[i + 1])) AS bigram
            FROM toks)
          GROUP BY doc_id, bigram
        ),
        bigstats AS (
          SELECT doc_id,
                 CAST(round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)
                      / greatest(sum(c), 1), 4) AS DOUBLE) AS dup_bigram_frac
          FROM big GROUP BY doc_id
        ),
        repstats AS (
          SELECT u.doc_id, n_tokens,
                 CAST(round(top_cnt / greatest(n_tokens, 1), 4) AS DOUBLE)
                   AS top_token_frac,
                 coalesce(b.dup_bigram_frac, 0.0) AS dup_bigram_frac
          FROM unistats u LEFT JOIN bigstats b USING (doc_id)
        )"""


def _repetition_oracle() -> str:
    return f"""
        WITH {_repetition_cte()}
        SELECT doc_id, n_tokens, top_token_frac, dup_bigram_frac,
               (top_token_frac <= 0.18 AND dup_bigram_frac <= 0.1) AS keep
        FROM repstats
        ORDER BY doc_id
    """


def _repetition_metrics(docs: DataFrame) -> DataFrame:
    """Per-doc repetition metrics over a (doc_id, text, ...) frame:
    (doc_id, n_tokens, top_token_frac, dup_bigram_frac). Shared by the
    metrics query and the end-to-end curation pipeline.

    Distributed shape: explode tokens/bigrams, then two hash-aggregates
    keyed by (doc_id, term) — partial map-side combine shrinks the
    shuffle to distinct terms per doc; everything after is keyed by
    doc_id, so the join is co-partitioned at scale."""
    # unigram and bigram branches both consume this projection; the
    # barrier keeps the corpus scan + tokenize single-pass (checkpoint at
    # warehouse scale)
    base = session_cache(
        docs.select("doc_id", tokens("text").alias("_toks")), eager=False
    )
    uni = (
        base.select("doc_id", F.explode("_toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
    )
    unistats = uni.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"), F.max("c").alias("top_cnt")
    )
    # shared guarded builder — same <2-token rationale as llm_word_bigrams
    from syslog_kafka_spark.plans.mining import _bigrams_col

    bigram_expr = _bigrams_col()
    big = (
        base.select("doc_id", F.explode(bigram_expr).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
    )
    bigstats = big.groupBy("doc_id").agg(
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
            / F.greatest(F.sum("c"), F.lit(1)),
            4,
        ).alias("dup_bigram_frac")
    )
    top_frac = F.round(F.col("top_cnt") / F.greatest(F.col("n_tokens"), F.lit(1)), 4)
    dup_frac = F.coalesce(F.col("dup_bigram_frac"), F.lit(0.0))
    return unistats.join(bigstats, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        top_frac.alias("top_token_frac"),
        dup_frac.alias("dup_bigram_frac"),
    )


@query("llm_quality_repetition", family="llm", oracle=_repetition_oracle())
def llm_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: per-document top-token fraction
    and duplicated-bigram fraction (fraction of bigram instances whose
    bigram repeats within the doc), plus the keep/drop verdict at
    top<=0.18, dup<=0.10. Repetition is the canonical signal for
    low-quality machine-generated text in pretraining curation."""
    d = load_tables(spark, sf_dir).documents
    rep = _repetition_metrics(d)
    return rep.select(
        "doc_id",
        "n_tokens",
        "top_token_frac",
        "dup_bigram_frac",
        (
            (F.col("top_token_frac") <= 0.18) & (F.col("dup_bigram_frac") <= 0.1)
        ).alias("keep"),
    ).orderBy("doc_id")


def _curation_pipeline_oracle() -> str:
    from syslog_kafka_spark.operators.curation import hash_split_sql

    return f"""
        WITH surv AS (
          SELECT d.* FROM documents d
          JOIN (
            SELECT min(doc_id) AS doc_id
            FROM (SELECT doc_id, md5({_NORM_SQL}) AS dg FROM documents)
            GROUP BY dg
          ) s USING (doc_id)
        ),
        {_repetition_cte('surv')},
        kept AS (
          SELECT r.doc_id, r.n_tokens, s.lang
          FROM repstats r JOIN surv s USING (doc_id)
          WHERE r.top_token_frac <= 0.18 AND r.dup_bigram_frac <= 0.1
        )
        SELECT {hash_split_sql('doc_id')} AS split, lang,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        FROM kept GROUP BY 1, 2 ORDER BY 1, 2
    """


@query("llm_curation_pipeline", family="llm", oracle=_curation_pipeline_oracle())
def llm_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation tier end-to-end in ONE lazy DAG: exact dedup (keep
    min-id per normalized digest) → Gopher repetition gate → deterministic
    train/val/test split → per-(split, lang) shard manifest. This is the
    query a training-data job actually submits; every stage reuses the
    operators gated individually above, and Catalyst fuses the whole
    chain — dedup's semi-join, the metric aggregates, and the final
    rollup — into one plan with no intermediate materialization beyond
    the documented barriers."""
    from syslog_kafka_spark.operators.curation import hash_split
    from syslog_kafka_spark.operators.dedup import exact_dedup

    d = load_tables(spark, sf_dir).documents
    # survivors feed both the metrics pass and the lang join-back; the
    # barrier keeps the dedup (2 scans of documents) from running twice
    surv = session_cache(exact_dedup(d), eager=False)
    rep = _repetition_metrics(surv)
    kept = rep.filter(
        (F.col("top_token_frac") <= 0.18) & (F.col("dup_bigram_frac") <= 0.1)
    )
    return (
        kept.join(surv.select("doc_id", "lang"), "doc_id")
        .select(hash_split("doc_id").alias("split"), "lang", "n_tokens")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("sum_tokens"))
        .orderBy("split", "lang")
    )


def _unigram_logprob_oracle() -> str:
    return f"""
        WITH tok AS (
          SELECT doc_id, term, count(*) AS dc
          FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents)
          GROUP BY doc_id, term
        ),
        vocab AS (SELECT term, CAST(sum(dc) AS BIGINT) AS c FROM tok GROUP BY term),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vocab)
        SELECT t.doc_id,
               CAST(sum(t.dc) AS BIGINT) AS n_tokens,
               CAST(round(sum(t.dc * -log2(v.c / (SELECT n FROM tot)))
                    / sum(t.dc), 4) AS DOUBLE) AS avg_nll_bits
        FROM tok t JOIN vocab v ON t.term = v.term
        GROUP BY t.doc_id
        ORDER BY t.doc_id
    """


@query("llm_unigram_logprob", family="llm", oracle=_unigram_logprob_oracle())
def llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score (CCNet-style): per-document
    mean negative log2-likelihood of each token under the corpus unigram
    distribution — fluent/common text scores low, gibberish and rare-token
    soup scores high. The classic cheap LM filter before a real model.

    Distributed shape: tokens pre-aggregate to (doc_id, term, count)
    before anything else, so the vocab join input is distinct terms per
    doc, not token instances; the frequency table (Zipf-small after the
    count) broadcasts back, making the scoring pass shuffle-free. The
    weighted-average formula is written identically on both engines so
    the float math agrees bit-for-bit pre-rounding."""
    d = load_tables(spark, sf_dir).documents
    # referenced by both the vocab build and the scoring join — barrier
    # makes the explode+count single-pass over the corpus
    tok = session_cache(
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("dc")),
        eager=False,
    )
    vocab = tok.groupBy("term").agg(F.sum("dc").alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    priced = F.broadcast(vocab.crossJoin(F.broadcast(total)))
    nll = -F.log2(F.col("c") / F.col("n"))
    return (
        tok.join(priced, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("dc").alias("n_tokens"),
            F.round(F.sum(F.col("dc") * nll) / F.sum("dc"), 4).alias("avg_nll_bits"),
        )
        .orderBy("doc_id")
    )


_URL_SYNTH_SQL = (
    "'see https://shop' || CAST(p_partkey % 13 AS VARCHAR)"
    " || '.example' || CAST(p_partkey % 3 AS VARCHAR)"
    " || '.com/p/' || CAST(p_partkey AS VARCHAR)"
    " || ' and http://cdn' || CAST(p_partkey % 5 AS VARCHAR)"
    " || '.assets.net/img mirror ftp://old.example.org'"
)

_URL_ORACLE = f"""
    WITH s AS (
      SELECT p_partkey, {_URL_SYNTH_SQL} AS t
      FROM part WHERE p_partkey <= 500
    ),
    hosts AS (
      SELECT unnest(regexp_extract_all(t, 'https?://([A-Za-z0-9.-]+)', 1)) AS host
      FROM s
    )
    SELECT host,
           count(*) AS n_links,
           split_part(host, '.', -1) AS tld
    FROM hosts
    GROUP BY host
    ORDER BY host
"""


@query("llm_url_extraction", family="llm", oracle=_URL_ORACLE)
def llm_url_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain analytics for corpus provenance: extract every http(s)
    host from a deterministic synthesized link corpus, count links per
    host, derive the TLD — the domain-frequency pass that feeds
    source-level filtering/dedup decisions (ftp URIs deliberately
    excluded by the scheme pattern). RE2-safe regex, portable split."""
    p = load_tables(spark, sf_dir).part.filter(F.col("p_partkey") <= 500)
    k = F.col("p_partkey")
    text = F.concat(
        F.lit("see https://shop"), (k % 13).cast("string"),
        F.lit(".example"), (k % 3).cast("string"),
        F.lit(".com/p/"), k.cast("string"),
        F.lit(" and http://cdn"), (k % 5).cast("string"),
        F.lit(".assets.net/img mirror ftp://old.example.org"),
    )
    hosts = p.select(
        F.explode(
            F.regexp_extract_all(text, F.lit(r"https?://([A-Za-z0-9.-]+)"), 1)
        ).alias("host")
    )
    return (
        hosts.groupBy("host")
        .agg(F.count("*").alias("n_links"))
        .withColumn("tld", F.element_at(F.split("host", r"\."), -1))
        .orderBy("host")
    )


_VOCAB_COVERAGE_ORACLE = f"""
    WITH tf AS (
      SELECT term, count(*) AS freq
      FROM (SELECT unnest({_TOKENS_SQL}) AS term FROM documents)
      GROUP BY term
    ),
    ranked AS (
      SELECT term, freq,
             row_number() OVER (ORDER BY freq DESC, term) AS rnk,
             CAST(sum(freq) OVER (ORDER BY freq DESC, term
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_freq,
             CAST(sum(freq) OVER () AS BIGINT) AS total
      FROM tf
    )
    SELECT rnk AS vocab_rank, term, freq,
           CAST(round(cum_freq / total, 4) AS DOUBLE) AS cum_coverage
    FROM ranked WHERE rnk <= 20 ORDER BY rnk
"""


@query("llm_vocab_coverage", family="llm", oracle=_VOCAB_COVERAGE_ORACLE)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: for the top-20 corpus terms, the
    cumulative fraction of all token instances a vocabulary truncated at
    that rank would cover — the sizing curve for tokenizer vocab /
    stopword decisions. Window-over-aggregate: term frequencies reduce
    first (one shuffle), then running sums run over the tiny ranked
    frame — never over token instances."""
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir).documents
    tf = (
        d.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    order = Window.orderBy(F.col("freq").desc(), "term")
    everything = Window.partitionBy()
    return (
        tf.select(
            F.row_number().over(order).alias("vocab_rank"),
            "term",
            "freq",
            F.round(
                F.sum("freq").over(order.rowsBetween(Window.unboundedPreceding, 0))
                / F.sum("freq").over(everything),
                4,
            ).alias("cum_coverage"),
        )
        .filter(F.col("vocab_rank") <= 20)
        .orderBy("vocab_rank")
    )


_MEDIA_ORACLE = """
    WITH b AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, length(text)),
                    i -> ord(substr(text, i, 1)) % 16)) AS bucket
      FROM documents WHERE doc_id < 100
    ),
    h AS (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY doc_id, bucket),
    top AS (
      SELECT doc_id, bucket,
             row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bucket) AS rn
      FROM h
    )
    SELECT t.doc_id AS media_id,
           strlen(d.text) AS n_bytes,
           CAST(t.bucket AS BIGINT) AS top_bucket
    FROM top t JOIN documents d ON t.doc_id = d.doc_id
    WHERE t.rn = 1
    ORDER BY media_id
"""


@query("llm_media_features", family="llm", oracle=_MEDIA_ORACLE)
def llm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing under the oracle gate: documents become binary
    media rows (payload = utf-8 bytes), flow through the Arrow-batched
    mapInPandas decode→feature pipeline (operators/multimodal.py, fake
    decoder = byte histogram), and emit integer outputs — payload size
    and the dominant histogram bucket — that DuckDB reproduces from the
    same bytes. Proves schema, batching, and UDF signature end-to-end,
    not just in smoke tests; a real image/audio decoder swaps in at the
    documented seam with no Spark-side change.

    Integer-only outputs keep the gate float-free: the normalized float32
    feature vector is exercised (argmax runs over it) but never hashed."""
    from syslog_kafka_spark.operators.multimodal import extract_features, fake_decoder

    d = load_tables(spark, sf_dir).documents.filter(F.col("doc_id") < 100)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit(None).cast("string").alias("uri"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("raw").alias("format"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    feats = extract_features(media, dim=16, decoder=fake_decoder)
    return (
        feats.select(
            "media_id",
            "n_bytes",
            (F.array_position(F.col("feature"), F.array_max("feature")) - 1)
            .cast("bigint")
            .alias("top_bucket"),
        )
        .orderBy("media_id")
    )


def _chunk_dedup_oracle() -> str:
    chunk_hash = hash64_sql("array_to_string(list_slice(toks, s, s + 7), ' ')", salt="chunk-v1")
    return f"""
        WITH d AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
        st AS (
          SELECT doc_id, toks,
                 unnest(generate_series(1, greatest(len(toks), 1), 8)) AS s
          FROM d
        ),
        ch AS (
          SELECT doc_id, {chunk_hash} AS chunk_hash
          FROM st WHERE len(list_slice(toks, s, s + 7)) = 8
        )
        SELECT chunk_hash,
               count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_occ,
               min(doc_id) AS first_doc
        FROM ch
        GROUP BY chunk_hash
        HAVING count(DISTINCT doc_id) >= 2
        ORDER BY chunk_hash
    """


@query("llm_chunk_dedup", family="llm", oracle=_chunk_dedup_oracle())
def llm_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-substring detection (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): split
    every doc into disjoint 8-token chunks, hash each chunk, and report
    chunks that recur in >= 2 distinct documents — the substrings an
    exact-substring dedup pass would cut.

    Distributed shape: the aggregate groups on the 8-byte chunk hash,
    never the chunk text, so the shuffle carries (hash, doc_id) pairs —
    at 100 TB this is the difference between shuffling the corpus and
    shuffling ~2% of it. The full-width chunk filter drops ragged tails
    before the shuffle."""
    from syslog_kafka_spark.functions.hashes import hash64
    from syslog_kafka_spark.operators.curation import chunk_tokens

    d = load_tables(spark, sf_dir).documents
    ch = chunk_tokens(d, chunk_size=8, stride=8).filter(F.col("n_chunk_tokens") == 8)
    return (
        ch.select("doc_id", hash64(F.col("chunk_text"), salt="chunk-v1").alias("chunk_hash"))
        .groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("chunk_hash")
    )


def _decontamination_oracle() -> str:
    from syslog_kafka_spark.operators.curation import hash_split_sql, ngram_hashes_sql

    gram_expr, unnest = ngram_hashes_sql("toks", n=13, salt="decon-v1")
    return f"""
        WITH d AS (
          SELECT doc_id, {_TOKENS_SQL} AS toks,
                 {hash_split_sql('doc_id')} AS split
          FROM documents
        ), g AS (
          SELECT doc_id, split, {gram_expr} AS gram_hash
          FROM d, {unnest}
          WHERE len(toks) >= 13
        ), test_g AS (
          SELECT DISTINCT doc_id, gram_hash FROM g WHERE split = 'test'
        ), train_g AS (
          SELECT DISTINCT gram_hash FROM g WHERE split = 'train'
        ), tot AS (
          SELECT doc_id, count(*) AS n_test_grams FROM test_g GROUP BY doc_id
        ), hits AS (
          SELECT t.doc_id, count(*) AS n_hit_grams
          FROM test_g t JOIN train_g USING (gram_hash) GROUP BY t.doc_id
        )
        SELECT tot.doc_id AS doc_id, tot.n_test_grams,
               COALESCE(hits.n_hit_grams, 0) AS n_hit_grams,
               ROUND(COALESCE(hits.n_hit_grams, 0) * 100.0 / tot.n_test_grams, 2)
                 AS contaminated_pct,
               COALESCE(hits.n_hit_grams, 0) > 0 AS contaminated
        FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
        ORDER BY tot.doc_id
    """


@query("llm_decontamination", family="llm", oracle=_decontamination_oracle())
def llm_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination audit (the GPT-3 appendix-C recipe):
    flag every held-out document sharing any 13-token n-gram with the
    training split, with per-document overlap rates.

    Distributed shape: grams are hashed inside the per-document array
    transform, so the explode emits 8-byte hashes, never gram text. The
    tokenize+hash partial is computed ONCE for both splits behind a cache
    barrier (at cluster scale: a checkpoint), then the tiny held-out side
    is broadcast into the train-side probe — the 100 TB train corpus is
    never shuffled, each task probes a ~MB hash set map-side. Reference
    scope: the engine's curation tier (SURVEY §2B.10), no reference-repo
    analog."""
    from syslog_kafka_spark.operators.curation import hash_split, ngram_hashes

    d = load_tables(spark, sf_dir).documents
    labeled = d.select("doc_id", "text", hash_split("doc_id").alias("split")).filter(
        F.col("split") != "val"
    )
    # One tokenize+hash pass feeds both splits (cache barrier; checkpoint
    # at cluster scale), mirroring the single `g` CTE in the oracle.
    grams = session_cache(
        ngram_hashes(labeled, n=13, salt="decon-v1", carry=("split",)), eager=False
    )
    test_g = grams.filter(F.col("split") == "test").select("doc_id", "gram_hash").distinct()
    train_g = grams.filter(F.col("split") == "train").select("gram_hash").distinct()
    totals = test_g.groupBy("doc_id").agg(F.count("*").alias("n_test_grams"))
    hits = (
        F.broadcast(test_g)
        .join(train_g, "gram_hash")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_grams"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_test_grams",
            F.coalesce("n_hit_grams", F.lit(0)).alias("n_hit_grams"),
            F.round(
                F.coalesce("n_hit_grams", F.lit(0)) * 100.0 / F.col("n_test_grams"), 2
            ).alias("contaminated_pct"),
            (F.coalesce("n_hit_grams", F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def _pack_assignment_oracle() -> str:
    from syslog_kafka_spark.operators.curation import pack_bins_sql

    body = pack_bins_sql(_TOKENS_SQL, context_len=256, n_shards=8)
    return f"""
        WITH pb AS ({body})
        SELECT shard, bin,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(sum(CASE WHEN crosses_boundary THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_boundary_crossers
        FROM pb
        GROUP BY shard, bin
        ORDER BY shard, bin
    """


@query("llm_pack_assignment", family="llm", oracle=_pack_assignment_oracle())
def llm_pack_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop packing manifest: per (shard, context-window bin)
    document count, token mass, and boundary-crossing documents — the
    layout a GPT-style pretraining loader materializes. Packing runs
    per-shard (salted-hash assignment), so the running-offset window
    parallelizes n_shards-ways instead of collapsing onto one task;
    complements llm_packing_efficiency (padded-batch audit) with the
    padding-free packed layout."""
    from syslog_kafka_spark.operators.curation import pack_bins

    d = load_tables(spark, sf_dir).documents
    pb = pack_bins(d, context_len=256, n_shards=8)
    return (
        pb.groupBy("shard", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum(F.when(F.col("crosses_boundary"), 1).otherwise(0)).alias(
                "n_boundary_crossers"
            ),
        )
        .orderBy("shard", "bin")
    )


def _semdedup_oracle(threshold: float = 0.8) -> str:
    """DuckDB twin of semantic_dedup_frozen + the per-cluster rollup:
    frozen-centroid argmax assignment (list_position of list_max — first
    max wins, like numpy argmax), cluster-blocked pair scan, min-peer
    reps. Every float sum is written as the same left-associated double
    chain Spark's aggregate fold evaluates, so sims and cosines are
    bit-identical across engines."""
    from syslog_kafka_spark.operators.semdedup_centroids import CENTROIDS, DIM
    from syslog_kafka_spark.operators.similarity import (
        frozen_cluster_sims_sql,
        norm_sql,
        pair_cosine_sql,
    )

    return f"""
        WITH a0 AS (
          SELECT vec_id, embedding,
                 {frozen_cluster_sims_sql(CENTROIDS)} AS sims,
                 {norm_sql(DIM)} AS nrm
          FROM embeddings
        ),
        a AS (
          SELECT vec_id, embedding, nrm,
                 CAST(list_position(sims, list_max(sims)) - 1 AS INT) AS cluster
          FROM a0
        ),
        p AS (
          SELECT x.vec_id AS id_a, y.vec_id AS id_b
          FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
          WHERE {pair_cosine_sql(DIM)} >= {threshold!r}
        ),
        e AS (
          SELECT id_a AS id, id_b AS peer FROM p
          UNION ALL SELECT id_b, id_a FROM p
        ),
        r AS (SELECT id, min(peer) AS min_peer FROM e GROUP BY id)
        SELECT a.cluster,
               count(*) AS n_vecs,
               CAST(sum(CASE WHEN r.min_peer IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_in_dup_groups,
               CAST(sum(CASE WHEN r.min_peer < a.vec_id THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dropped,
               count(DISTINCT least(coalesce(r.min_peer, a.vec_id), a.vec_id)) AS n_kept
        FROM a LEFT JOIN r ON a.vec_id = r.id
        GROUP BY a.cluster
        ORDER BY a.cluster
    """


@query("llm_semantic_dedup", family="llm", oracle=_semdedup_oracle())
def llm_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup summary (Abbas et al. 2023): coarse
    quantizer clustering + within-cluster cosine pairs + min-id survivors,
    reported per cluster. The quantizer is PRETRAINED — seeded k-means
    centroids fit offline by scripts/fit_semdedup_centroids.py and frozen
    as literals (operators/semdedup_centroids.py) — which is both the
    100 TB deployment shape (fit once on a sample, apply everywhere, no
    driver-side collect in the hot path) and what makes the query a pure
    function both engines hash-compare end to end. Threshold 0.8 sits far
    above this corpus's same-cluster background cosine (≈0.5), so only
    true near-copies group."""
    from syslog_kafka_spark.operators.semdedup_centroids import CENTROIDS
    from syslog_kafka_spark.operators.similarity import semantic_dedup_frozen

    emb = load_tables(spark, sf_dir).embeddings
    sd = semantic_dedup_frozen(emb, CENTROIDS, threshold=0.8)
    return (
        sd.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("in_dup_group"), 1).otherwise(0)).alias("n_in_dup_groups"),
            F.sum(F.when(F.col("is_dropped"), 1).otherwise(0)).alias("n_dropped"),
            F.countDistinct("kept_id").alias("n_kept"),
        )
        .orderBy("cluster")
    )


# --- embedding compression / projection -------------------------------------

_QUANT_ORACLE = """
    WITH q AS (
      SELECT label,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
    SELECT label,
           count(*) AS n_vecs,
           CAST(round(avg(scale), 6) AS DOUBLE) AS avg_scale,
           CAST(round(avg(sqrt(list_avg(list_transform(v,
             x -> pow(x - round(x / scale) * scale, 2))))), 6) AS DOUBLE) AS avg_rmse
    FROM q
    WHERE scale > 0
    GROUP BY label
    ORDER BY label
"""


@query("llm_embedding_quantization", family="llm", oracle=_QUANT_ORACLE)
def llm_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit for an embedding corpus: per
    vector, scale = max|x|/127, quantize q = round(x/scale), and measure
    the reconstruction RMSE of dequantized q*scale — the exact error a
    serving stack pays for 4x smaller vectors. Everything is JVM-side
    higher-order array algebra (transform/aggregate) on the embedding
    column; the only shuffle is the final tiny per-label aggregate, so the
    audit is a single scan at any corpus size."""
    emb = load_tables(spark, sf_dir).embeddings
    v = "transform(embedding, x -> CAST(x AS DOUBLE))"
    scale = f"aggregate({v}, 0D, (m, x) -> greatest(m, abs(x))) / 127.0"
    rmse = (
        f"sqrt(aggregate({v}, 0D, (a, x) -> a + pow(x - round(x / _scale) * _scale, 2))"
        f" / size(embedding))"
    )
    return (
        emb.withColumn("_scale", F.expr(scale))
        .filter(F.col("_scale") > 0)
        .withColumn("_rmse", F.expr(rmse))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("_scale"), 6).alias("avg_scale"),
            F.round(F.avg("_rmse"), 6).alias("avg_rmse"),
        )
        .orderBy("label")
    )


def _rademacher_rows(k: int = 8, dim: int = 64) -> list[list[float]]:
    """Frozen +-1 projection matrix, deterministic by construction (fixed
    LCG seed) so the Spark build and the DuckDB oracle embed the SAME
    literals — the same freeze-the-randomness trick the SemDeDup oracle
    uses for its centroids."""
    import random

    rng = random.Random(20260814)
    return [[1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)] for _ in range(k)]


_PROJ_ROWS = _rademacher_rows()


def _proj_oracle() -> str:
    comps = ",\n             ".join(
        f"list_dot_product(v, {row}) AS p{j}" for j, row in enumerate(_PROJ_ROWS)
    )
    sq = " + ".join(f"p{j} * p{j}" for j in range(len(_PROJ_ROWS)))
    k, d = len(_PROJ_ROWS), len(_PROJ_ROWS[0])
    return f"""
    WITH v AS (
      SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), p AS (
      SELECT label,
             {comps},
             sqrt(list_dot_product(v, v)) AS norm_v
      FROM v
    )
    SELECT label,
           count(*) AS n_vecs,
           CAST(round(avg((sqrt({sq}) / sqrt({k})) / (norm_v / sqrt({d}))), 4) AS DOUBLE)
             AS avg_norm_ratio
    FROM p
    WHERE norm_v > 0
    GROUP BY label
    ORDER BY label
    """


@query("llm_random_projection", family="llm", oracle=_proj_oracle())
def llm_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sketch: project 64-dim embeddings to 8 dims
    with a frozen Rademacher (+-1) matrix and audit norm preservation —
    avg of (||Pv||/sqrt(k)) / (||v||/sqrt(d)) per label, which JL says
    concentrates near 1. The matrix rides inline as literals (no
    broadcast, no state); each component is a zip_with dot product fused
    into the scan, so projecting a 100 TB corpus is one pass with a
    per-label scalar aggregate at the end. Deterministic: both engines
    fold the identical literal matrix left-to-right in doubles."""
    emb = load_tables(spark, sf_dir).embeddings
    k, d = len(_PROJ_ROWS), len(_PROJ_ROWS[0])
    v = "transform(embedding, x -> CAST(x AS DOUBLE))"

    def dot(row: list[float]) -> str:
        lits = ", ".join(str(x) for x in row)
        return f"aggregate(zip_with({v}, array({lits}), (x, s) -> x * s), 0D, (a, b) -> a + b)"

    comps = [F.expr(dot(row)).alias(f"p{j}") for j, row in enumerate(_PROJ_ROWS)]
    norm_v = F.expr(f"sqrt(aggregate({v}, 0D, (a, x) -> a + x * x))")
    sq = sum(F.col(f"p{j}") * F.col(f"p{j}") for j in range(k))
    return (
        emb.select("label", norm_v.alias("norm_v"), *comps)
        .filter(F.col("norm_v") > 0)
        .withColumn("_ratio", (F.sqrt(sq) / F.lit(k) ** 0.5) / (F.col("norm_v") / F.lit(d) ** 0.5))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("_ratio"), 4).alias("avg_norm_ratio"),
        )
        .orderBy("label")
    )


# --- Python UDTF (Spark 4 user-defined table function) ----------------------


class _KwicUDTF:
    """Keyword-in-context concordance: for each occurrence of `keyword`
    in the document's token stream, emit the token position plus two
    tokens of left and right context — the classic corpus-linguistics
    table function. One input row fans out to 0..n output rows, which is
    exactly the shape SQL scalar functions cannot express and UDTFs
    exist for."""

    def eval(self, doc_id, text, keyword):
        toks = [t for t in (text or "").split(" ") if t]
        for i, t in enumerate(toks):
            if t == keyword:
                yield (
                    doc_id,
                    i,
                    " ".join(toks[max(0, i - 2) : i]),
                    " ".join(toks[i + 1 : i + 3]),
                )


@query(
    "llm_udtf_concordance",
    family="llm",
    oracle="""
        WITH d AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents WHERE doc_id <= 60
        ),
        e AS (
          SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM d
        )
        SELECT doc_id,
               CAST(i - 1 AS INT) AS pos,
               coalesce(array_to_string(toks[greatest(i - 2, 1):i - 1], ' '), '') AS left_ctx,
               coalesce(array_to_string(toks[i + 1:i + 2], ' '), '') AS right_ctx
        FROM e
        WHERE toks[i] = 'spark'
        ORDER BY doc_id, pos
    """,
)
def llm_udtf_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 `spark.udtf.register`, Arrow-batched): a
    keyword-in-context scan for the token 'spark' invoked as a LATERAL
    table function, one input doc fanning out to one row per hit. The
    UDTF runs as an Arrow-batched Python worker per partition — the
    sanctioned slow-path escape hatch — while the oracle recomputes the
    concordance relationally (indexed unnest + list slicing), so the fan
    -out cardinality, token positions, and boundary-clipped context
    windows all hash-match. Scale shape: the UDTF is embarrassingly
    parallel over doc partitions and emits only hit rows, so output is
    corpus-frequency-bound, not corpus-size-bound."""
    from pyspark.sql.functions import udtf

    kwic = udtf(
        _KwicUDTF,
        returnType="doc_id BIGINT, pos INT, left_ctx STRING, right_ctx STRING",
        useArrow=True,
    )
    spark.udtf.register("kwic_hits", kwic)
    # The doc_id predicate must live UNDER the lateral join: Spark does not
    # push filters through ArrowEvalPythonUDTF (the UDTF is an optimizer
    # black box), so `FROM {documents} d ... WHERE d.doc_id <= 60` tokenizes
    # the ENTIRE corpus in Python and then discards all but 60 docs.
    # Pre-filtering the left side is result-identical for an inner lateral
    # join keyed on an input column (r13: corpus-sized UDTF input -> 60 rows,
    # Filter above ArrowEvalPythonUDTF -> PushedFilters on the parquet scan).
    # The analyzed plan holds the resolved UDTF, so the name is dropped once
    # the frame is built.
    try:
        return spark.sql(
            """
            SELECT s.doc_id, s.pos, s.left_ctx, s.right_ctx
            FROM (SELECT doc_id, text FROM {documents} WHERE doc_id <= 60) d,
                 LATERAL kwic_hits(d.doc_id, d.text, 'spark') s
            ORDER BY s.doc_id, s.pos
            """,
            documents=load_tables(spark, sf_dir).documents,
        )
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS kwic_hits")


# --- near-dup graph analytics ----------------------------------------------


def _containment_oracle(threshold: float = 0.6) -> str:
    return f"""
        WITH {_lsh_pairs_cte()}
        SELECT p.id_a, p.id_b,
               CAST(round(CASE WHEN len(sa.shingles) = 0 THEN 1.0
                    ELSE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                         / len(sa.shingles) END, 4) AS DOUBLE) AS containment_ab,
               CAST(round(CASE WHEN len(sb.shingles) = 0 THEN 1.0
                    ELSE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                         / len(sb.shingles) END, 4) AS DOUBLE) AS containment_ba
        FROM pairs p
        JOIN sh sa ON sa.id = p.id_a
        JOIN sh sb ON sb.id = p.id_b
        WHERE greatest(
          CASE WHEN len(sa.shingles) = 0 THEN 1.0
               ELSE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                    / len(sa.shingles) END,
          CASE WHEN len(sb.shingles) = 0 THEN 1.0
               ELSE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                    / len(sb.shingles) END) >= {threshold}
        ORDER BY id_a, id_b
    """


@query("llm_containment_neardup", family="llm", oracle=_containment_oracle())
def llm_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (|A∩B|/|A|, |A∩B|/|B|) over the SAME
    LSH candidate pairs as the Jaccard gate — the signal that catches a
    short document embedded in a long one, which Jaccard dilutes through
    the union. Shares the banded candidate generation (never all-pairs);
    the verify stage is two array_intersect ratios fused into the pair
    scan. Oracle reuses the pipeline CTE (signatures, banding, buckets)
    so candidate sets are provably identical cross-engine.

    r13 optimization: rides the family-shared cached_minhash_pairs_banded
    frame — its _inter/_sz_a/_sz_b integer columns are exactly the
    array-verify ingredients (same sizes, same intersect), so the
    containment ratios are two divisions over the materialized frame
    instead of a per-face candidate self-join + array verify."""
    from syslog_kafka_spark.operators.dedup import cached_minhash_pairs_banded

    d = load_tables(spark, sf_dir).documents
    p = cached_minhash_pairs_banded(d)
    inter = F.col("_inter").cast("double")
    len_a = F.col("_sz_a").cast("double")
    len_b = F.col("_sz_b").cast("double")
    c_ab = F.when(len_a == 0, F.lit(1.0)).otherwise(inter / len_a)
    c_ba = F.when(len_b == 0, F.lit(1.0)).otherwise(inter / len_b)
    return (
        p.withColumn("containment_ab", c_ab)
        .withColumn("containment_ba", c_ba)
        .filter(F.greatest("containment_ab", "containment_ba") >= 0.6)
        .select(
            "id_a",
            "id_b",
            F.round("containment_ab", 4).alias("containment_ab"),
            F.round("containment_ba", 4).alias("containment_ba"),
        )
        .orderBy("id_a", "id_b")
    )


def _degree_dist_oracle() -> str:
    return f"""
        WITH {_lsh_pairs_cte()},
        sym AS (
          SELECT id_a AS id FROM verified
          UNION ALL
          SELECT id_b FROM verified
        ),
        deg AS (SELECT id, count(*) AS degree FROM sym GROUP BY id)
        SELECT degree, count(*) AS n_docs
        FROM deg
        GROUP BY degree
        ORDER BY degree
    """


@query("llm_neardup_degree_dist", family="llm", oracle=_degree_dist_oracle())
def llm_neardup_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the verified near-dup graph (nodes = docs,
    edges = Jaccard-verified LSH pairs): how many documents have 1, 2, …
    near-duplicates. The shape of this histogram is the capacity-planning
    input for dedup at scale — a heavy tail means giant components and
    argues for raising the verify threshold before clustering. Both
    aggregations are tiny (edges, then degree classes), so the cost is
    the shared pair pipeline, not the analytics."""
    d = load_tables(spark, sf_dir).documents
    pairs = cached_minhash_pairs(d).filter(F.col("jaccard") >= 0.5)
    # ONE pass over the pair stream: explode both endpoints per edge.
    # (unionAll of two selections from the same frame would execute the
    # whole LSH pipeline twice — measured 12x instead of ~3x at sf1.)
    sym = pairs.select(F.explode(F.array("id_a", "id_b")).alias("id"))
    return (
        sym.groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("degree")
    )


def _tfidf_cosine_oracle(threshold: float = 0.4, max_doc: int = 150) -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKENS_SQL}) AS term
          FROM documents WHERE doc_id <= {max_doc}
        ), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
        df AS (
          SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
        ), keep AS (
          SELECT df.term, ln(CAST(n_docs AS DOUBLE) / df) AS idf
          FROM df CROSS JOIN n
          WHERE df * 2 <= n_docs
        ), w AS (
          SELECT t.doc_id, t.term, count(*) * any_value(k.idf) AS w
          FROM toks t JOIN keep k ON t.term = k.term
          GROUP BY t.doc_id, t.term
        ), nrm AS (
          SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id
        ), dots AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
          FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               CAST(round(dot / (na.nrm * nb.nrm), 3) AS DOUBLE) AS cosine
        FROM dots
        JOIN nrm na ON na.doc_id = id_a
        JOIN nrm nb ON nb.doc_id = id_b
        WHERE dot / (na.nrm * nb.nrm) >= {threshold}
        ORDER BY id_a, id_b
    """


@query("llm_tfidf_cosine_pairs", family="llm", oracle=_tfidf_cosine_oracle())
def llm_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity via an INVERTED-INDEX join — the
    lexical twin of the embedding similarity gates. Documents meet only
    on shared terms (join on term, sum of weight products), so the pair
    space is posting-list-bounded instead of all-pairs; terms appearing
    in more than half the (restricted) corpus are dropped first, which is
    the standard stopword guard that keeps the hottest posting lists from
    quadratic blowup at scale. IDF uses the filtered-corpus doc count so
    both engines derive weights from identical statistics."""
    d = load_tables(spark, sf_dir).documents.filter(F.col("doc_id") <= 150)
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    n_docs = toks.select("doc_id").distinct().count()
    df_ = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    keep = df_.filter(F.col("df") * 2 <= n_docs).withColumn(
        "idf", F.log(F.lit(float(n_docs)) / F.col("df"))
    )
    w = (
        toks.join(F.broadcast(keep.select("term", "idf")), "term")
        .groupBy("doc_id", "term")
        .agg((F.count(F.lit(1)) * F.any_value("idf")).alias("w"))
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select(F.col("doc_id").alias("id_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("id_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        dots.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .filter(cos >= 0.4)
        .select("id_a", "id_b", F.round(cos, 3).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


def _dedup_then_lsh_oracle() -> str:
    reps_cte = f"""
        grp AS (
          SELECT {_NORM_SQL} AS norm,
                 min(doc_id) AS doc_id,
                 arg_min(text, doc_id) AS text,
                 count(*) AS grp_size
          FROM documents
          GROUP BY {_NORM_SQL}
        ), reps AS (SELECT doc_id, text FROM grp)
    """
    return f"""
        WITH {reps_cte},
        {_lsh_pairs_cte(source="reps")}
        SELECT v.id_a, v.id_b, v.jaccard,
               ga.grp_size * gb.grp_size AS n_doc_pairs
        FROM verified v
        JOIN grp ga ON ga.doc_id = v.id_a
        JOIN grp gb ON gb.doc_id = v.id_b
        ORDER BY v.id_a, v.id_b
    """


@query("llm_dedup_then_lsh", family="llm", oracle=_dedup_then_lsh_oracle())
def llm_dedup_then_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup BEFORE near-dup — the Lee et al. ordering that keeps
    LSH bucketing sane on duplicate-heavy crawls (BENCH_SF1.md's negative
    result measured why: identical docs share identical signatures, so
    bucket occupancy and candidate pairs grow quadratically in the dup
    mass; collapsing each exact-dup group to its min-id representative
    first makes pair volume proportional to UNIQUE content). The LSH
    stage runs over representatives only; each surviving near-dup edge is
    weighted by grp_size_a x grp_size_b — the number of underlying
    document pairs it stands for — so downstream accounting loses
    nothing. At 100 TB this is the difference between a dedup stage that
    finishes and one that doesn't. (The synthetic corpus is dup-light —
    ~0.2% exact-dup mass — so HERE the stage costs the same as raw LSH;
    the payoff is proportional to dup mass, which real crawls have in
    abundance.)

    r13 optimization: the rep-only pair set is computed as a RESTRICTION
    of the family-shared cached_minhash_pairs frame instead of a second
    LSH pipeline over reps. Valid because MinHash signatures and band
    buckets are pure per-document functions (hash64 of the signature
    slice — see banded_buckets), so two reps collide in the corpus-wide
    banding iff they collide in a reps-only banding, with the identical
    exact-Jaccard verify; the inner joins against the group frame below
    are exactly the both-endpoints-are-reps restriction. When the sweep
    already holds the verified pair frame (it does — seven sibling faces
    read it), the rep pair set is a filter over it; a STANDALONE
    dup-heavy deployment still runs the rep-first ordering this query's
    oracle documents, where LSH-over-reps is the cheaper side. The
    group-size weighting rides the session-cached duplicate-groups
    aggregate shared with llm_dedup_groups (digest-width shuffle,
    min-id/count unchanged; the r12 session_cache-not-checkpoint rule
    still applies — plan-keyed caching keeps every reference stable
    across builds)."""
    d = load_tables(spark, sf_dir).documents
    grp = cached_duplicate_groups(d)
    pairs = cached_minhash_pairs(d).filter(F.col("jaccard") >= 0.5)
    ga = grp.select(F.col("survivor_id").alias("id_a"), F.col("group_size").alias("_ga"))
    gb = grp.select(F.col("survivor_id").alias("id_b"), F.col("group_size").alias("_gb"))
    return (
        pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            (F.col("_ga") * F.col("_gb")).alias("n_doc_pairs"),
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "llm_domain_mixture",
    family="llm",
    oracle=f"""
        WITH tok AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source
        ),
        sh AS (
          SELECT source, n_docs, n_tokens,
                 n_tokens / (SELECT sum(n_tokens) FROM tok) AS share
          FROM tok
        )
        SELECT source, n_docs, n_tokens,
               CAST(round(share, 6) AS DOUBLE) AS share,
               CAST(round(pow(share, 0.3) / (SELECT sum(pow(share, 0.3)) FROM sh), 6)
                    AS DOUBLE) AS mix_weight,
               CAST(round(pow(share, 0.3) / (SELECT sum(pow(share, 0.3)) FROM sh)
                          / share, 4) AS DOUBLE) AS upsample
        FROM sh
        ORDER BY source
    """,
)
def llm_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture weighting: per-source token shares temperature-
    scaled with alpha=0.3 (the exponentiated-share sampling used for
    multilingual/multi-domain pretraining mixes — rare sources get
    upsampled, dominant ones capped) and renormalized; `upsample` is the
    resulting over/under-sampling factor per domain. The plan is one
    token-count aggregate over the corpus plus two broadcast 1-row
    totals — at 100 TB the heavy pass is the single groupBy(source)
    with map-side partials; everything after runs on a frame the size of
    the domain count."""
    d = load_tables(spark, sf_dir).documents
    tok = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("bigint").alias("n_tokens"),
    )
    total = tok.agg(F.sum("n_tokens").cast("double").alias("_total"))
    sh = tok.crossJoin(F.broadcast(total)).withColumn(
        "share", F.col("n_tokens") / F.col("_total")
    )
    z = sh.agg(F.sum(F.pow("share", F.lit(0.3))).alias("_z"))
    return (
        sh.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round("share", 6).alias("share"),
            F.round(F.pow("share", F.lit(0.3)) / F.col("_z"), 6).alias("mix_weight"),
            F.round(F.pow("share", F.lit(0.3)) / F.col("_z") / F.col("share"), 4).alias(
                "upsample"
            ),
        )
        .orderBy("source")
    )


# Winnowing (Schleimer, Wilkerson, Aiken 2003, "Winnowing: Local
# Algorithms for Document Fingerprinting"): hash every k-gram, slide a
# window of w hashes, keep each window's minimum — guarantees any match
# of length >= w+k-1 shares a fingerprint, with ~2/(w+1) selection
# density. k=8, w=4 here.
_WINNOW_K = 8
_WINNOW_W = 4


def winnow_arrow_pairs(df: DataFrame, k: int, w: int) -> DataFrame:
    """(doc_id, fp) winnowed-fingerprint pairs via a mapInArrow kernel:
    hashlib-md5 60-bit k-gram hashes, numpy sliding-window min,
    vectorized run-length dedup — bit-compatible with both the DuckDB
    oracle and the pure-Python mirror the hypothesis property pins
    (tests/test_winnowing_property.py). Chosen over the interpreted
    transform/slice expression pipeline by the r6 measurement
    (scripts/winnow_arrow_experiment.py, sf1 warm: 2.0 s vs 3.7 s, and
    no ~8 s first-lambda-per-JVM warmup); the expression variant lived
    there as the documented loser (deleted; see git history). Still
    embarrassingly parallel over
    splits — only selected fingerprints reach the shuffle."""
    import hashlib

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            texts = batch.column("_nt").to_pylist()
            out_ids: list[int] = []
            out_fps: list[int] = []
            for d, t in zip(doc_ids, texts):
                if t is None:
                    continue  # null text contributes no fingerprints,
                    # matching the expression pipeline's null propagation
                n = max(len(t) - (k - 1), 1)
                hs = np.fromiter(
                    (
                        int(hashlib.md5(t[i : i + k].encode("utf-8")).hexdigest()[:15], 16)
                        for i in range(n)
                    ),
                    dtype=np.int64,
                    count=n,
                )
                if len(hs) >= w:
                    mins = np.lib.stride_tricks.sliding_window_view(hs, w).min(axis=1)
                else:
                    mins = hs.min(keepdims=True)
                keep = np.ones(len(mins), dtype=bool)
                keep[1:] = mins[1:] != mins[:-1]
                sel = mins[keep]
                out_ids.extend([d] * len(sel))
                out_fps.extend(int(x) for x in sel)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids, pa.int64()), pa.array(out_fps, pa.int64())],
                ["doc_id", "fp"],
            )

    return df.mapInArrow(kernel, "doc_id bigint, fp bigint")


@query(
    "llm_winnowing_fingerprints",
    family="llm",
    oracle=f"""
        WITH h AS (
          SELECT doc_id,
                 list_transform(
                   generate_series(1, greatest(length(t) - {_WINNOW_K - 1}, 1)),
                   i -> {hash64_sql(f"substr(t, i, {_WINNOW_K})")}) AS hs
          FROM (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
        ),
        m AS (
          SELECT doc_id,
                 list_transform(
                   generate_series(1, greatest(len(hs) - {_WINNOW_W - 1}, 1)),
                   p -> list_min(list_slice(hs, p, p + {_WINNOW_W - 1}))) AS mins
          FROM h
        ),
        fp AS (
          SELECT doc_id,
                 unnest(list_filter(mins, (x, i) -> i = 1 OR x <> mins[i - 1])) AS fp
          FROM m
        )
        SELECT fp, count(DISTINCT doc_id) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_occurrences
        FROM fp
        GROUP BY fp
        HAVING count(DISTINCT doc_id) >= 2
        ORDER BY n_docs DESC, n_occurrences DESC, fp
        LIMIT 20
    """,
)
def llm_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003): per-document
    window-min selection over k-gram hashes — the plagiarism/overlap
    detector with a guaranteed match length, denser than MinHash but
    positional. Top shared fingerprints across documents surface copied
    passages. Selection follows the paper: each window's min, with
    CONSECUTIVE duplicate selections collapsed (run-length dedup, not a
    global distinct) — so `n_occurrences` counts true selection runs (a
    passage repeated within one document fingerprints once per
    repetition) and the n_occurrences tiebreak carries signal, while
    density stays ~2/(w+1). The per-doc inner loops run in an Arrow
    batch kernel (winnow_arrow_pairs — the r6-measured winner over the
    interpreted array-lambda pipeline); only the winnowed ~2/(w+1)
    fingerprint set reaches the shuffle, the same reason winnowing beats
    full k-gram inverted indexes at 100 TB."""
    from syslog_kafka_spark.sources.readers import spread

    d = load_tables(spark, sf_dir).documents
    # Materialize the normalized text ONCE and spread the frame before
    # the per-position hashing: a single-file scan is one split, which
    # would serialize the whole hash pass onto one core.
    base = spread(d.select("doc_id", normalized("text").alias("_nt")))
    fps = winnow_arrow_pairs(base, _WINNOW_K, _WINNOW_W)
    return (
        fps.groupBy("fp")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occurrences").desc(), "fp")
        .limit(20)
    )


# DSIR-style importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score raw documents by
# log p_target(x) - log p_raw(x) under hashed bag-of-ngrams models.
_DSIR_BUCKETS = 64


@query(
    "llm_dsir_importance",
    family="llm",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, lang,
                 {hash64_sql("term")} % {_DSIR_BUCKETS} AS bucket
          FROM (SELECT doc_id, lang, unnest({_TOKENS_SQL}) AS term FROM documents)
        ),
        bstats AS (
          SELECT bucket,
                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
                 CAST(count(*) AS BIGINT) AS n_r
          FROM tok GROUP BY bucket
        ),
        tot AS (
          SELECT sum(n_t) AS tot_t, sum(n_r) AS tot_r FROM bstats
        ),
        ratio AS (
          SELECT bucket,
                 ln(((n_t + 1) / (tot_t + {_DSIR_BUCKETS}))
                    / ((n_r + 1) / (tot_r + {_DSIR_BUCKETS}))) AS log_ratio
          FROM bstats, tot
        )
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(round(sum(r.log_ratio), 4) AS DOUBLE) AS dsir_score
        FROM tok t JOIN ratio r USING (bucket)
        GROUP BY t.doc_id
        ORDER BY dsir_score DESC, t.doc_id
        LIMIT 15
    """,
)
def llm_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): rank raw documents by
    the hashed-ngram log-likelihood ratio between a target distribution
    (here: the English subcorpus) and the raw corpus — the importance-
    resampling selector for pretraining data. Unigram features hash into
    64 buckets (portable md5 hash, add-1 smoothing). Plan shape: one
    token explode feeds BOTH the 64-row bucket model and, via a
    broadcast join of that tiny ratio table back onto itself, the
    per-doc score sum — the model fit costs one shuffle by bucket, the
    scoring pass shuffles by doc_id only; nothing all-pairs, nothing
    driver-side, which is exactly how DSIR runs over a full crawl."""
    from syslog_kafka_spark.operators.session_cache import session_cache

    B = _DSIR_BUCKETS
    d = load_tables(spark, sf_dir).documents
    tok = d.select("doc_id", "lang", F.explode(tokens("text")).alias("term")).select(
        "doc_id",
        "lang",
        F.pmod(
            F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("bigint"), F.lit(B)
        ).alias("bucket"),
    )
    # Collapse the token stream ONCE into per-(doc, lang, bucket) counts and
    # barrier it: without the cache the explode + per-token md5 re-runs for
    # every materialization of the model (bstats -> tot, bstats -> ratio, and
    # the scoring pass = 3 full passes). The pre-aggregate is map-side
    # combined, fixed-width, and <= n_docs x 64 rows; both the 64-row model
    # and the per-doc score derive from it (k-weighted sums — exact for the
    # integer counts, and the double sum reorders within the 4-dp rounding
    # the gate already tolerates across engines). (r13, guide §2.2/§4:
    # 3 token-stream passes -> 1.)
    tokc = session_cache(
        tok.groupBy("doc_id", "lang", "bucket").agg(F.count(F.lit(1)).alias("k"))
    )
    bstats = tokc.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("k")).otherwise(0))
        .cast("bigint")
        .alias("n_t"),
        F.sum("k").alias("n_r"),
    )
    tot = bstats.agg(
        F.sum("n_t").cast("double").alias("tot_t"),
        F.sum("n_r").cast("double").alias("tot_r"),
    )
    ratio = bstats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.log(
            ((F.col("n_t") + 1) / (F.col("tot_t") + B))
            / ((F.col("n_r") + 1) / (F.col("tot_r") + B))
        ).alias("log_ratio"),
    )
    return (
        tokc.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            F.round(F.sum(F.col("k") * F.col("log_ratio")), 4).alias("dsir_score"),
        )
        .orderBy(F.col("dsir_score").desc(), "doc_id")
        .limit(15)
    )


_URL_VARIANT_SQL = (
    "(CASE WHEN o_orderkey % 2 = 0 THEN 'https://' ELSE 'http://' END)"
    " || (CASE WHEN o_orderkey % 3 = 0 THEN 'www.' ELSE '' END)"
    " || (CASE WHEN o_orderkey % 5 = 0 THEN 'SITE' ELSE 'site' END)"
    " || CAST(o_orderkey % 7 AS VARCHAR) || '.Example.com/item/'"
    " || CAST(o_orderkey % 40 AS VARCHAR)"
    " || (CASE WHEN o_orderkey % 4 = 0 THEN '?utm_source=feed'"
    "          WHEN o_orderkey % 4 = 1 THEN '/' ELSE '' END)"
)


@query(
    "llm_url_canonical_dedup",
    family="llm",
    oracle=f"""
        WITH raw AS (
          SELECT {_URL_VARIANT_SQL} AS url
          FROM orders WHERE o_orderkey <= 600
        ),
        canon AS (
          SELECT url,
                 lower(split_part(regexp_replace(regexp_replace(regexp_replace(
                          url, '^https?://', ''), '^www\\.', ''), '[?].*$', ''),
                        '/', 1))
                 || regexp_replace(
                      substr(regexp_replace(regexp_replace(regexp_replace(
                               url, '^https?://', ''), '^www\\.', ''), '[?].*$', ''),
                             length(split_part(regexp_replace(regexp_replace(
                               regexp_replace(url, '^https?://', ''), '^www\\.', ''),
                               '[?].*$', ''), '/', 1)) + 1),
                      '/$', '') AS canonical
          FROM raw
        )
        SELECT canonical,
               CAST(count(*) AS BIGINT) AS n_urls,
               count(DISTINCT url) AS n_variants
        FROM canon
        GROUP BY canonical
        HAVING count(DISTINCT url) >= 2
        ORDER BY n_urls DESC, canonical
        LIMIT 20
    """,
)
def llm_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawl-curation step that
    collapses scheme/www/case/tracking-query/trailing-slash variants of
    one resource before fetch-dedup: strip scheme and leading www., drop
    the query string, lowercase the HOST ONLY (paths are case-
    sensitive), trim a trailing slash, then group. Variant synthesis is
    deterministic from orders keys so both engines build the identical
    messy corpus. Pure string expressions per row + one groupBy on the
    canonical key — at crawl scale the canonical form IS the shuffle/
    partition key for the fetch-frontier."""
    o = load_tables(spark, sf_dir).orders.filter(F.col("o_orderkey") <= 600)
    k = F.col("o_orderkey")
    url = F.concat(
        F.when(k % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(k % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(k % 5 == 0, F.lit("SITE")).otherwise(F.lit("site")),
        (k % 7).cast("string"),
        F.lit(".Example.com/item/"),
        (k % 40).cast("string"),
        F.when(k % 4 == 0, F.lit("?utm_source=feed"))
        .when(k % 4 == 1, F.lit("/"))
        .otherwise(F.lit("")),
    )
    raw = o.select(url.alias("url"))
    stripped = F.regexp_replace(
        F.regexp_replace(F.regexp_replace("url", r"^https?://", ""), r"^www\.", ""),
        r"[?].*$",
        "",
    )
    host = F.split_part(stripped, F.lit("/"), F.lit(1))
    path = F.regexp_replace(F.substring(stripped, F.length(host) + 1, 1_000_000), r"/$", "")
    canon = raw.select("url", F.concat(F.lower(host), path).alias("canonical"))
    return (
        canon.groupBy("canonical")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("url").alias("n_variants"),
        )
        .filter(F.col("n_variants") >= 2)
        .orderBy(F.col("n_urls").desc(), "canonical")
        .limit(20)
    )


@query(
    "llm_tokenizer_fertility",
    family="llm",
    oracle=f"""
        WITH t AS (
          SELECT lang,
                 CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_words,
                 CAST(len(regexp_extract_all(text,
                      '([A-Za-z]{{1,4}}|[0-9]|[^A-Za-z0-9\\s])', 1)) AS BIGINT)
                   AS n_subwords
          FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_words) AS BIGINT) AS total_words,
               CAST(sum(n_subwords) AS BIGINT) AS total_subwords,
               CAST(round(sum(n_subwords) / greatest(sum(n_words), 1), 4) AS DOUBLE)
                 AS fertility
        FROM t
        GROUP BY lang
        ORDER BY lang
    """,
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: sub-word pieces emitted per
    whitespace word (the BPE-ish regex proxy over the real vocabulary) —
    the metric that decides whether a tokenizer under-serves a language
    (high fertility = more compute per word, worse effective context).
    One pass, two codegen'd array counts per row, one groupBy(lang) with
    map-side partials — corpus-scale-safe by construction."""
    d = load_tables(spark, sf_dir).documents
    return (
        d.select(
            "lang",
            token_count("text").cast("bigint").alias("n_words"),
            bpe_ish_token_count("text").cast("bigint").alias("n_subwords"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_subwords").alias("total_subwords"),
            F.round(
                F.sum("n_subwords") / F.greatest(F.sum("n_words"), F.lit(1)), 4
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


@query(
    "llm_embedding_centroid_audit",
    family="llm",
    oracle="""
        WITH ed AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings
        ),
        dims AS (
          -- parallel unnest zips the value list with its index list
          SELECT label, d, avg(val) AS c
          FROM (SELECT label,
                       unnest(generate_series(1, len(emb))) AS d,
                       unnest(emb) AS val
                FROM ed)
          GROUP BY label, d
        ),
        cent AS (
          SELECT label, list(c ORDER BY d) AS carr FROM dims GROUP BY label
        ),
        scored AS (
          SELECT e.vec_id, e.label,
                 list_sum(list_transform(generate_series(1, len(e.emb)),
                                         i -> e.emb[i] * c.carr[i])) AS dot,
                 sqrt(list_sum(list_transform(e.emb, x -> x * x))) AS nv,
                 sqrt(list_sum(list_transform(c.carr, x -> x * x))) AS nc
          FROM ed e JOIN cent c USING (label)
        )
        SELECT label,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(round(any_value(nc), 4) AS DOUBLE) AS centroid_norm,
               CAST(round(avg(dot / (nv * nc)), 4) AS DOUBLE) AS mean_cos_to_centroid
        FROM scored
        GROUP BY label
        ORDER BY label
    """,
)
def llm_embedding_centroid_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class audit: per-label centroid norm and mean
    cosine of members to their centroid — the cluster-coherence check
    run before trusting labels for semantic dedup or sampling (a label
    whose centroid norm ~0 or mean-cosine ~0 is noise). Plan: one
    posexplode feeds the (label, dim) centroid aggregate — a frame of
    labels x dims rows, tiny — which broadcasts back onto the vectors;
    every per-vector product then runs as an ORDERED array fold
    (zip_with + aggregate), bit-identical to DuckDB's ordered list_sum,
    which is what makes float dot products cross-engine hashable at
    all. The corpus-sized shuffle is only the centroid groupBy."""
    e = load_tables(spark, sf_dir).embeddings.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    dims = e.select("label", F.posexplode("emb").alias("d", "val"))
    cent = (
        dims.groupBy("label", "d")
        .agg(F.avg("val").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "c"))), lambda s: s["c"]
            ).alias("carr")
        )
    )
    dot = F.aggregate(
        F.zip_with("emb", "carr", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nv = F.sqrt(
        F.aggregate(
            F.transform("emb", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    nc = F.sqrt(
        F.aggregate(
            F.transform("carr", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    scored = e.join(F.broadcast(cent), "label").select(
        "label", dot.alias("dot"), nv.alias("nv"), nc.alias("nc")
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.any_value("nc"), 4).alias("centroid_norm"),
            F.round(F.avg(F.col("dot") / (F.col("nv") * F.col("nc"))), 4).alias(
                "mean_cos_to_centroid"
            ),
        )
        .orderBy("label")
    )


@query(
    "llm_arrow_native_lengths",
    family="llm",
    oracle="""
        SELECT CAST(power(2, CAST(ceil(log2(greatest(length(text), 1))) AS INT))
                    AS BIGINT) AS len_bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1
        ORDER BY len_bucket
    """,
)
def llm_arrow_native_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` (the zero-copy sibling of mapInPandas): per-document
    character lengths computed with pyarrow.compute kernels directly on
    the Arrow batches — no pandas materialization, no Python-object
    round trip, the cheapest possible Python touchpoint for a 100 TB
    corpus when a native Arrow kernel exists for the job. Lengths then
    bucket into power-of-two classes JVM-side. The Python stage is
    measurable-batch-size, columnar in, columnar out."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def lengths(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"), pc.utf8_length(b.column("text"))],
                names=["doc_id", "n_chars"],
            )

    d = load_tables(spark, sf_dir).documents.select("doc_id", "text")
    lens = d.mapInArrow(lengths, "doc_id bigint, n_chars int")
    bucket = F.pow(
        F.lit(2), F.ceil(F.log2(F.greatest(F.col("n_chars"), F.lit(1))))
    ).cast("bigint")
    return (
        lens.select(bucket.alias("len_bucket"), "n_chars")
        .groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("len_bucket")
    )


@query(
    "llm_media_frame_sample",
    family="llm",
    oracle="""
        WITH v AS (
          SELECT doc_id AS media_id,
                 n_chars * 100 AS duration_ms,
                 CAST(greatest((n_chars * 100) // 2000, 1) AS BIGINT)
                   AS n_frames
          FROM documents
          WHERE doc_id < 100 AND doc_id % 2 = 0
        )
        SELECT media_id,
               duration_ms,
               n_frames,
               (n_frames - 1) * 2000 AS last_frame_ts_ms
        FROM v
        ORDER BY media_id
    """,
)
def llm_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (operators/multimodal.frame_sample_plan):
    media rows expand to one row per sampled timestamp via
    sequence+explode — the Spark-side fan-out a video curation pipeline
    runs before per-frame decode (decode itself is the documented stub
    seam). Durations are synthesized deterministically (100 ms per
    char, every doc with an even id is 'video'), every_ms=2000; the
    gate hashes per-media frame counts and the last sampled timestamp,
    so an off-by-one in the expansion arithmetic fails. At scale the
    expansion is a narrow per-row generate — output rows ∝ total video
    duration, the natural unit of downstream decode work."""
    from syslog_kafka_spark.operators.multimodal import frame_sample_plan

    d = load_tables(spark, sf_dir).documents.filter(
        (F.col("doc_id") < 100) & (F.col("doc_id") % 2 == 0)
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("rawv").alias("format"),
        (F.col("n_chars") * 100).cast("long").alias("duration_ms"),
    )
    frames = frame_sample_plan(media, every_ms=2000)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("frame_ts_ms").cast("bigint").alias("last_frame_ts_ms"),
        )
        .join(media.select("media_id", "duration_ms"), "media_id")
        .select("media_id", "duration_ms", "n_frames", "last_frame_ts_ms")
        .orderBy("media_id")
    )


# Gopher quality rules (Rae et al. 2021, appendix A1.1), adapted to the
# fixture corpus's ranges: doc word count bounds, mean word length
# bounds, digit-character ratio cap, unique-word ratio floor, and the
# ">= 2 distinct English stop words" rule.
_GOPHER_STOPS = ("the", "and", "of", "to", "a")


@query(
    "llm_gopher_rules",
    family="llm",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents WHERE doc_id <= 60
        ),
        feats AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 CASE WHEN len(toks) > 0
                      THEN (len(list_filter(string_split(array_to_string(toks, ''), ''),
                                            c -> c != ''))) / CAST(len(toks) AS DOUBLE)
                      ELSE 0.0 END AS mean_word_len,
                 (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                   / greatest(length(text), 1.0) AS digit_ratio,
                 len(list_distinct(toks)) / CAST(greatest(len(toks), 1) AS DOUBLE)
                   AS uniq_ratio,
                 len(list_filter(['the', 'and', 'of', 'to', 'a'],
                                 w -> list_contains(toks, w))) AS n_stops
          FROM t
        )
        SELECT doc_id,
               n_words,
               CAST(CASE WHEN n_words BETWEEN 5 AND 10000 THEN 1 ELSE 0 END AS BIGINT)
                 AS ok_word_count,
               CAST(CASE WHEN mean_word_len BETWEEN 2 AND 12 THEN 1 ELSE 0 END AS BIGINT)
                 AS ok_word_len,
               CAST(CASE WHEN digit_ratio < 0.2 THEN 1 ELSE 0 END AS BIGINT)
                 AS ok_digits,
               CAST(CASE WHEN uniq_ratio > 0.2 THEN 1 ELSE 0 END AS BIGINT)
                 AS ok_uniq,
               CAST(CASE WHEN n_stops >= 2 THEN 1 ELSE 0 END AS BIGINT) AS ok_stops,
               CAST(CASE WHEN n_words BETWEEN 5 AND 10000
                          AND mean_word_len BETWEEN 2 AND 12
                          AND digit_ratio < 0.2
                          AND uniq_ratio > 0.2
                          AND n_stops >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM feats
        ORDER BY doc_id
    """,
)
def llm_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule battery (Rae et al. 2021 A1.1) as one
    verdict-with-reasons pass: word-count bounds, mean word length
    bounds, digit-ratio cap, unique-word-ratio floor, and the >= 2
    distinct stop words rule — each emitted as its own flag so a
    filtered corpus can report WHY each document was dropped, which is
    what makes a curation run auditable. Every rule is a codegen'd
    Column expression over one tokens array per row; the only shuffle is
    the final sort. Mean word length counts characters across tokens
    (join-then-count, identical arithmetic both engines)."""
    d = load_tables(spark, sf_dir).documents.filter(F.col("doc_id") <= 60)
    toks = tokens("text")
    base = d.select(
        "doc_id",
        "text",
        F.size(toks).cast("bigint").alias("n_words"),
        F.length(F.array_join(toks, "")).alias("n_token_chars"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.size(
            F.filter(
                F.array(*[F.lit(w) for w in _GOPHER_STOPS]),
                lambda w: F.array_contains(toks, w),
            )
        ).alias("n_stops"),
    )
    mean_wl = F.when(
        F.col("n_words") > 0, F.col("n_token_chars") / F.col("n_words")
    ).otherwise(F.lit(0.0))
    digit_ratio = (
        F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
    ) / F.greatest(F.length("text"), F.lit(1)).cast("double")
    uniq_ratio = F.col("n_uniq") / F.greatest(F.col("n_words"), F.lit(1)).cast("double")
    flags = {
        "ok_word_count": F.col("n_words").between(5, 10000),
        "ok_word_len": mean_wl.between(2, 12),
        "ok_digits": digit_ratio < 0.2,
        "ok_uniq": uniq_ratio > 0.2,
        "ok_stops": F.col("n_stops") >= 2,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return base.select(
        "doc_id",
        "n_words",
        *[F.when(c, 1).otherwise(0).cast("bigint").alias(n) for n, c in flags.items()],
        F.when(keep, 1).otherwise(0).cast("bigint").alias("keep"),
    ).orderBy("doc_id")


def _leakage_safe_split_oracle() -> str:
    """Recursive closure -> component representative -> salted hash split:
    near-duplicate documents inherit their component's split, so no pair
    of near-dups ever straddles train/val/test."""
    rep_hash = hash64_sql("CAST(rep AS VARCHAR)", salt="leakage-split-v1")
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
        assigned AS (
          SELECT d.doc_id,
                 coalesce(l.component, d.doc_id) AS rep
          FROM documents d LEFT JOIN lbl l ON l.node = d.doc_id
        ),
        split AS (
          SELECT doc_id, rep,
                 CASE WHEN {rep_hash} % 100 < 80 THEN 'train'
                      WHEN {rep_hash} % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM assigned
        )
        SELECT split,
               CAST(count(*) AS BIGINT) AS n_docs,
               count(DISTINCT rep) AS n_components
        FROM split
        GROUP BY split
        ORDER BY split
    """


@query("llm_leakage_safe_split", family="llm", oracle=_leakage_safe_split_oracle())
def llm_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: each document is assigned by
    the salted hash of its near-dup COMPONENT representative (min-id in
    its connected component; singletons represent themselves), so two
    near-duplicate documents can never land in different splits — the
    contamination mode a naive per-doc hash split permits and eval
    integrity forbids. Composes the gated LSH pair + connected-components
    machinery with the house split formula; the oracle rebuilds the
    identical closure declaratively. At 100 TB the extra cost over a
    plain split is exactly the dedup pass a curation run executes
    anyway — the split piggybacks on its labels via one broadcast-sized
    join of (node, component)."""
    from syslog_kafka_spark.operators.dedup import connected_components
    from syslog_kafka_spark.functions.hashes import hash64

    d = load_tables(spark, sf_dir).documents
    edges = cached_minhash_pairs(d).filter(F.col("jaccard") >= 0.5)
    labels = connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )
    assigned = d.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("rep")
    )
    bucket = F.pmod(hash64(F.col("rep").cast("string"), salt="leakage-split-v1"), F.lit(100))
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    return (
        assigned.select("doc_id", "rep", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("rep").alias("n_components"),
        )
        .orderBy("split")
    )
