"""Corpus-statistics mining: Zipf rank-frequency slope, PMI collocations,
bigram language-model scoring.

Training-data curation needs corpus-level statistical profiles beyond
per-doc quality gates (SURVEY §2B.10): a Zipf slope sanity-checks that a
crawl slice has natural-language token statistics (templated/boilerplate
corpora flatten the curve), PMI collocations surface the phrases a
tokenizer should keep intact, and bigram-LM perplexity is the classic
fluency filter (CCNet uses a 5-gram LM; the bigram variant here has the
same dataflow shape — per-doc probe against broadcast corpus counts —
with exactly reproducible arithmetic for the oracle).

All three are single-scan + hash-agg pipelines over the shared token
array: no UDFs, no driver-side state, every aggregate keyed by token or
doc_id — the shapes that scale to a 100 TB corpus unchanged.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from syslog_kafka_spark.functions.hashes import hash64, hash64_sql
from syslog_kafka_spark.functions.text import tokens
from syslog_kafka_spark.plans.registry import query
from syslog_kafka_spark.sources.readers import load_tables, spread

_TOKENS_SQL = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t != '')"

# Shared Spark-side bigram builder: index-transform over the token array
# (no explode until the final aggregation; see llm_word_bigrams for the
# CSE rationale behind materializing tokens first).
def _bigrams_col():
    # Guarded for <2-token documents: F.sequence(1, 0) DESCENDS to [1, 0]
    # (it does not produce an empty array), so the unguarded transform
    # would index past the token array and throw under ANSI — while the
    # DuckDB twin's generate_series(1, 0) is empty and quietly skips the
    # doc. The empty-array branch makes both engines drop such docs at
    # the explode.
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - 1),
        lambda i: F.concat(
            F.element_at("_toks", i), F.lit(" "), F.element_at("_toks", i + 1)
        ),
    )
    return F.when(F.size("_toks") >= 2, pairs).otherwise(
        F.array().cast("array<string>")
    )


_BIGRAMS_SQL = """
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                        i -> t[i] || ' ' || t[i + 1])) AS bigram
          FROM (SELECT doc_id, {toks} AS t FROM documents)
""".format(toks=_TOKENS_SQL)


@query(
    "llm_zipf_slope",
    family="llm",
    oracle=f"""
        WITH tok AS (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents),
        freq AS (SELECT tok, count(*) AS freq FROM tok GROUP BY tok),
        top AS (
          SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rank
          FROM freq ORDER BY freq DESC, tok LIMIT 500
        )
        SELECT
          count(*) AS n_ranks,
          CAST(round(regr_slope(ln(freq), ln(rank)), 6) AS DOUBLE) AS zipf_slope,
          CAST(round(regr_intercept(ln(freq), ln(rank)), 6) AS DOUBLE) AS zipf_intercept
        FROM top
    """,
)
def llm_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of ln(freq) on ln(rank) over the top-500
    token ranks. Natural-language corpora land near -1; far-off slopes
    flag boilerplate or templating in a crawl slice.

    Scale shape: one explode + hash-agg for the frequency table, then
    TakeOrderedAndProject for the top-k (never a full sort), then the
    rank window runs on 500 rows — a single partition by construction,
    not by accident of data size."""
    d = load_tables(spark, sf_dir).documents
    freq = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    top = freq.orderBy(F.desc("freq"), F.asc("tok")).limit(500)
    ranked = top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("tok")))
    )
    return ranked.agg(
        F.count("*").alias("n_ranks"),
        F.round(F.regr_slope(F.log("freq"), F.log("rank")), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(F.log("freq"), F.log("rank")), 6).alias(
            "zipf_intercept"
        ),
    )


@query(
    "llm_pmi_collocations",
    family="llm",
    oracle=f"""
        WITH tok AS (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents),
        uni AS (SELECT tok, count(*) AS c1 FROM tok GROUP BY tok),
        nu AS (SELECT sum(c1) AS n_uni FROM uni),
        big AS (
          SELECT bigram, count(*) AS c12
          FROM ({_BIGRAMS_SQL})
          GROUP BY bigram HAVING count(*) >= 5
        ),
        nb AS (
          SELECT sum(cnt) AS n_big FROM (
            SELECT count(*) AS cnt FROM ({_BIGRAMS_SQL}) GROUP BY bigram
          )
        )
        SELECT
          b.bigram AS bigram,
          b.c12 AS freq,
          CAST(round(ln((CAST(b.c12 AS DOUBLE) / n_big) /
                 ((CAST(u1.c1 AS DOUBLE) / n_uni) * (CAST(u2.c1 AS DOUBLE) / n_uni))), 4)
               AS DOUBLE) AS pmi
        FROM big b
        JOIN uni u1 ON u1.tok = split_part(b.bigram, ' ', 1)
        JOIN uni u2 ON u2.tok = split_part(b.bigram, ' ', 2)
        CROSS JOIN nu CROSS JOIN nb
        ORDER BY pmi DESC, bigram
        LIMIT 20
    """,
)
def llm_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information (min bigram
    freq 5): PMI = ln(p(w1,w2) / (p(w1) p(w2))), the classic phrase-mining
    statistic for deciding which multi-word units a tokenizer vocabulary
    should keep whole.

    The division chain is written identically on both engines (IEEE ops
    in the same order → bit-identical before rounding). Unigram and
    bigram counts are hash-aggs on the token; the two vocab joins key on
    single words — all shuffles are on token strings, never on doc pairs."""
    d = load_tables(spark, sf_dir).documents
    # spread: the base is consumed by several aggregations; on a
    # single-split scan each re-execution of the tokenize+explode would
    # otherwise run one-core (sources/readers.spread).
    base = spread(d.select("doc_id", tokens("text").alias("_toks")))
    uni = (
        base.select(F.explode("_toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c1"))
    )
    n_uni = uni.agg(F.sum("c1").alias("n_uni"))
    all_big = base.select(F.explode(_bigrams_col()).alias("bigram"))
    big_counts = all_big.groupBy("bigram").agg(F.count("*").alias("c12"))
    n_big = big_counts.agg(F.sum("c12").alias("n_big"))
    big = big_counts.filter(F.col("c12") >= 5)
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c1").alias("c1_w1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c1").alias("c1_w2"))
    joined = (
        big.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)))
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
    )
    pmi = F.round(
        F.log(
            (F.col("c12").cast("double") / F.col("n_big"))
            / (
                (F.col("c1_w1").cast("double") / F.col("n_uni"))
                * (F.col("c1_w2").cast("double") / F.col("n_uni"))
            )
        ),
        4,
    )
    return (
        joined.select(
            "bigram", F.col("c12").alias("freq"), pmi.alias("pmi")
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(20)
    )


@query(
    "llm_bigram_logprob",
    family="llm",
    oracle=f"""
        WITH doc_big AS (
          SELECT doc_id, bigram, split_part(bigram, ' ', 1) AS w1
          FROM ({_BIGRAMS_SQL})
        ),
        c12 AS (SELECT bigram, count(*) AS c12 FROM doc_big GROUP BY bigram),
        c1 AS (SELECT w1, count(*) AS c1 FROM doc_big GROUP BY w1)
        SELECT
          d.doc_id AS doc_id,
          count(*) AS n_bigrams,
          CAST(round(avg(-ln(CAST(c12.c12 AS DOUBLE) / c1.c1)), 4) AS DOUBLE)
            AS mean_nll
        FROM doc_big d
        JOIN c12 ON c12.bigram = d.bigram
        JOIN c1 ON c1.w1 = d.w1
        GROUP BY d.doc_id
        ORDER BY d.doc_id
        LIMIT 100
    """,
)
def llm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean bigram negative log-likelihood under the corpus
    bigram LM (p(w2|w1) = c(w1 w2) / c(w1 ·), MLE over observed bigram
    heads — no smoothing needed since every probe bigram is in the
    corpus by construction). The CCNet fluency-filter dataflow at bigram
    order: corpus counts once, broadcast-joined back to each document's
    bigrams, one hash-agg per doc.

    Output bounded to the first 100 doc_ids (TakeOrdered) so the gate
    hashes a fixed slice while the LM statistics still cover the whole
    corpus."""
    d = load_tables(spark, sf_dir).documents
    # spread: doc_big is consumed three times (c12, c1, scoring join) —
    # parallelize the re-executed tokenize+explode (sources/readers.spread).
    base = spread(d.select("doc_id", tokens("text").alias("_toks")))
    doc_big = base.select("doc_id", F.explode(_bigrams_col()).alias("bigram")).withColumn(
        "w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
    )
    c12 = doc_big.groupBy("bigram").agg(F.count("*").alias("c12"))
    c1 = doc_big.groupBy("w1").agg(F.count("*").alias("c1"))
    joined = doc_big.join(c12, "bigram").join(c1, "w1")
    nll = -F.log(F.col("c12").cast("double") / F.col("c1"))
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(nll), 4).alias("mean_nll"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Per-document TF-IDF keyword extraction
# ---------------------------------------------------------------------------

_KW_TOPK = 3


@query(
    "llm_idf_topk_keywords",
    family="llm",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
        ), df AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (
          SELECT count(DISTINCT doc_id) AS n_docs FROM tf
        ), scored AS (
          SELECT tf.doc_id, tf.term,
                 round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS score
          FROM tf JOIN df USING (term) CROSS JOIN n
        ), ranked AS (
          SELECT doc_id, term, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term) AS rank
          FROM scored
        )
        SELECT doc_id, CAST(rank AS INT) AS rank, term,
               CAST(score AS DOUBLE) AS score
        FROM ranked WHERE rank <= {_KW_TOPK}
        ORDER BY doc_id, rank
    """,
)
def llm_idf_topk_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords — the keyword-extraction pass a
    curation pipeline runs to tag/route documents (topic bucketing,
    source diagnostics) without a model. idf = ln((N+1)/(df+1)) (the
    smoothed sklearn-style form, exact in double on both engines), score
    rounded at 6 dp BEFORE ranking with a term tiebreak, so rank order
    is engine-independent even when two terms tie at the last ulp.

    Distributed shape: one (doc, term) hash-agg (map-side combined),
    one term-keyed df aggregate joined back ON TERM (co-partitioned with
    the tf frame — no broadcast needed, the vocabulary can exceed
    broadcast size at 100 TB), the N scalar broadcast, and the top-k
    window partitioned BY DOC — thousands of parallel partitions, no
    global window anywhere. Spark plans the rank<=k filter as
    WindowGroupLimit, so each task keeps k rows per doc, not the full
    term list."""
    from syslog_kafka_spark.operators.session_cache import session_cache

    d = load_tables(spark, sf_dir).documents
    # three consumers read the (doc, term) aggregate (the df rollup, the
    # N scalar, the scoring join): the barrier makes the explode +
    # hash-agg run once instead of re-planning per consumer
    tf = session_cache(
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    score = F.round(
        F.col("tf") * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
        6,
    )
    ranked = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", score.alias("score"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
            ),
        )
        .filter(F.col("rank") <= _KW_TOPK)
    )
    return ranked.select(
        "doc_id", F.col("rank").cast("int").alias("rank"), "term", "score"
    ).orderBy("doc_id", "rank")


# ---------------------------------------------------------------------------
# Perplexity-bucket fluency funnel (CCNet head/middle/tail)
# ---------------------------------------------------------------------------

# Pinned on the 4-dp-ROUNDED per-doc mean bigram NLL (the hash-gated
# llm_bigram_logprob statistic): head < 3.37 <= middle < 3.40 <= tail —
# the sf0.01 terciles, frozen as literals so the bucket decision is a
# comparison between two exactly-reproducible numbers on both engines
# (the 6-dp-pinned-probability rule, applied at this statistic's 4 dp).
_PPL_HEAD = 3.37
_PPL_MID = 3.40


@query(
    "llm_perplexity_buckets",
    family="llm",
    oracle=f"""
        WITH doc_big AS (
          SELECT doc_id, {hash64_sql('bigram', salt='ppl-v1')} AS gram_h,
                 {hash64_sql("split_part(bigram, ' ', 1)", salt='ppl-v1')} AS w1_h
          FROM ({_BIGRAMS_SQL})
        ),
        db AS (
          SELECT doc_id, gram_h, w1_h, count(*) AS k
          FROM doc_big GROUP BY doc_id, gram_h, w1_h
        ),
        c12 AS (SELECT gram_h, sum(k) AS c12 FROM db GROUP BY gram_h),
        c1 AS (SELECT w1_h, sum(k) AS c1 FROM db GROUP BY w1_h),
        per AS (
          SELECT d.doc_id, CAST(sum(d.k) AS BIGINT) AS n_bigrams,
                 round(sum(d.k * (-ln(CAST(c12.c12 AS DOUBLE) / c1.c1)))
                       / sum(d.k), 4) AS mean_nll
          FROM db d
          JOIN c12 USING (gram_h)
          JOIN c1 USING (w1_h)
          GROUP BY d.doc_id
        )
        SELECT CASE WHEN mean_nll < CAST({_PPL_HEAD} AS DOUBLE) THEN 'head'
                    WHEN mean_nll < CAST({_PPL_MID} AS DOUBLE) THEN 'middle'
                    ELSE 'tail' END AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams,
               CAST(round(avg(mean_nll), 6) AS DOUBLE) AS mean_bucket_nll,
               CASE WHEN mean_nll < CAST({_PPL_MID} AS DOUBLE) THEN TRUE
                    ELSE FALSE END AS kept
        FROM per
        GROUP BY 1, 5 ORDER BY bucket
    """,
)
def llm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style fluency funnel: per-doc mean bigram NLL under the
    corpus LM (the llm_bigram_logprob statistic, here over EVERY doc),
    split into head/middle/tail by pinned thresholds on the 4-dp-ROUNDED
    score, with head+middle kept — the filter decision CCNet makes with
    a 5-gram KenLM, at bigram order so the arithmetic is exactly
    engine-reproducible. Bucket thresholds are frozen corpus terciles
    (a real pipeline re-fits them per crawl snapshot and freezes them
    into the filter config, exactly as here).

    Distributed shape (reworked after the r9 sf10 probe measured the
    occurrence-level string-keyed version at 18.9× on 10× data): the
    token stream collapses FIRST into per-(doc, bigram) occurrence
    counts keyed by 60-bit hashes (one map-side-combined aggregate; the
    bigram/head strings never leave their scan task), the corpus LM
    counts derive from that same pre-aggregate by re-summing k, and the
    two join-backs move (doc_id, gram_h, w1_h, k) rows — fixed-width,
    distinct-bigram volume instead of token-stream volume. Per-doc mean
    is the k-weighted sum (identical formula on both engines), then the
    3-row rollup — no global window, no driver-side state; the funnel
    output is O(1) regardless of corpus size."""
    d = load_tables(spark, sf_dir).documents
    base = spread(d.select("doc_id", tokens("text").alias("_toks")))
    doc_big = base.select(
        "doc_id", F.explode(_bigrams_col()).alias("bigram")
    ).select(
        "doc_id",
        hash64("bigram", salt="ppl-v1").alias("gram_h"),
        hash64(F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)), salt="ppl-v1").alias("w1_h"),
    )
    from syslog_kafka_spark.operators.session_cache import session_cache

    # three consumers read the per-(doc, bigram) pre-aggregate (both LM
    # rollups and the scoring join): cache it so the token-stream explode
    # + hash-agg runs once
    db = session_cache(
        doc_big.groupBy("doc_id", "gram_h", "w1_h").agg(
            F.count(F.lit(1)).alias("k")
        )
    )
    c12 = db.groupBy("gram_h").agg(F.sum("k").alias("c12"))
    c1 = db.groupBy("w1_h").agg(F.sum("k").alias("c1"))
    nll = -F.log(F.col("c12").cast("double") / F.col("c1"))
    per = (
        db.join(c12, "gram_h")
        .join(c1, "w1_h")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_bigrams"),
            F.round(F.sum(F.col("k") * nll) / F.sum("k"), 4).alias("mean_nll"),
        )
    )
    bucket = (
        F.when(F.col("mean_nll") < F.lit(_PPL_HEAD), "head")
        .when(F.col("mean_nll") < F.lit(_PPL_MID), "middle")
        .otherwise("tail")
    )
    return (
        per.groupBy(
            bucket.alias("bucket"),
            (F.col("mean_nll") < F.lit(_PPL_MID)).alias("kept"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("total_bigrams"),
            F.round(F.avg("mean_nll"), 6).alias("mean_bucket_nll"),
        )
        .select(
            "bucket", "n_docs", "total_bigrams", "mean_bucket_nll", "kept"
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# BPE merge-candidate counting (tokenizer-training step 1)
# ---------------------------------------------------------------------------

_BPE_TOPK = 20


@query(
    "llm_bpe_merge_candidates",
    family="llm",
    oracle=f"""
        WITH tok AS (
          SELECT unnest({_TOKENS_SQL}) AS word FROM documents
        ), vocab AS (
          SELECT word, count(*) AS freq FROM tok GROUP BY word
        ), pairs AS (
          SELECT unnest(list_transform(generate_series(1, length(word) - 1),
                        i -> substring(word, i, 2))) AS pair,
                 freq
          FROM vocab WHERE length(word) >= 2
        ), agg AS (
          SELECT pair, CAST(sum(freq) AS BIGINT) AS freq
          FROM pairs GROUP BY pair
        ), ranked AS (
          SELECT pair, freq,
                 row_number() OVER (ORDER BY freq DESC, pair) AS rank
          FROM agg
        )
        SELECT CAST(rank AS INT) AS rank, pair, freq
        FROM ranked WHERE rank <= {_BPE_TOPK}
        ORDER BY rank
    """,
)
def llm_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE-training merge step: corpus-weighted adjacent
    character-pair frequencies, top-20 merge candidates. This is the
    inner statistic every BPE/WordPiece trainer iterates on; one step is
    the honest distributed demo (later steps depend on the chosen merge
    — an inherently sequential outer loop whose INNER count is exactly
    this job re-run on the rewritten vocab).

    Distributed shape — the key move is counting pairs over the VOCAB,
    not the corpus: the word-frequency aggregate (map-side combined)
    collapses the token stream first, then the character-pair explode
    runs over distinct words weighted by freq, so pair-explode volume is
    vocab-sized (sublinear in corpus) rather than token-stream-sized.
    The final ranking window is global but runs over the pair AGGREGATE
    — bounded by |alphabet|² rows regardless of corpus size, so the
    single-partition stage holds ≤ a few hundred rows. Ranking ties
    break on the pair string; counts are exact integers, so the gate
    has no float surface at all."""
    d = load_tables(spark, sf_dir).documents
    vocab = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("word") >= 2)
    )
    pairs = vocab.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "freq",
    )
    agg = pairs.groupBy("pair").agg(F.sum("freq").cast("bigint").alias("freq"))
    ranked = agg.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("pair"))),
    ).filter(F.col("rank") <= _BPE_TOPK)
    return ranked.select(
        F.col("rank").cast("int").alias("rank"), "pair", "freq"
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# BPE merge-apply (tokenizer-training outer loop, iterated)
# ---------------------------------------------------------------------------

_BPE_APPLY_ITERS = 3
_BPE_APPLY_TOPK = 5
_US = "\x1f"  # symbol delimiter: unit separator, below any printable char


def bpe_vocab(d: DataFrame) -> DataFrame:
    """(word, freq, syms) corpus-weighted symbol vocabulary — ONE
    definition shared by the trainer (llm_bpe_merge_apply), the
    frozen-merge encoder, and scripts/fit_bpe_merges.py. The sharing is
    load-bearing: if the fit script trained on a drifted vocab (a
    tokenization or chr(31)-filter change applied in one copy), the
    encoder would apply merges to words they were never trained on and
    EVERY hash gate would still pass, because each query's Spark and
    DuckDB sides would share the drifted copy."""
    return (
        d.select(F.explode(tokens("text")).alias("word"))
        .filter(~F.col("word").contains(_US))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            "freq",
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ).alias("syms"),
        )
    )


def bpe_vocab_cte() -> str:
    """DuckDB twin of :func:`bpe_vocab`: the tok/vocab/v0 CTE chain
    (fold inputs read word/freq/syms FROM v0)."""
    return f"""tok AS (
          SELECT unnest({_TOKENS_SQL}) AS word FROM documents
        ), vocab AS (
          SELECT word, count(*) AS freq FROM tok
          WHERE word NOT LIKE '%' || chr(31) || '%'
          GROUP BY word
        ), v0 AS (
          SELECT word, freq,
                 list_transform(generate_series(1, length(word)),
                                i -> substring(word, i, 1)) AS syms
          FROM vocab
        )"""


def _bpe_apply_oracle() -> str:
    fold = bpe_apply_fold_sql("syms", "m.m_a", "m.m_b")

    def counts(i: int) -> str:
        return f"""c{i} AS (
          SELECT pair_key, CAST(sum(freq) AS BIGINT) AS freq FROM (
            SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
                          i -> syms[i] || chr(31) || syms[i + 1])) AS pair_key,
                   freq
            FROM v{i - 1} WHERE len(syms) >= 2
          ) GROUP BY pair_key
        )"""

    def merge(i: int) -> str:
        return f"""m{i} AS (
          SELECT string_split(pair_key, chr(31))[1] AS m_a,
                 string_split(pair_key, chr(31))[2] AS m_b
          FROM c{i} ORDER BY freq DESC, pair_key LIMIT 1
        )"""

    def apply(i: int) -> str:
        return f"""v{i} AS (
          SELECT word, freq, {fold} AS syms FROM v{i - 1}, m{i} m
        )"""

    def ranked(i: int) -> str:
        return f"""
          SELECT {i} AS iter,
                 CAST(row_number() OVER (ORDER BY freq DESC, pair_key) AS INT)
                   AS rank,
                 string_split(pair_key, chr(31))[1] AS sym_a,
                 string_split(pair_key, chr(31))[2] AS sym_b,
                 freq
          FROM c{i} ORDER BY freq DESC, pair_key LIMIT {_BPE_APPLY_TOPK}"""

    stages = []
    for i in range(1, _BPE_APPLY_ITERS + 1):
        stages.append(counts(i))
        if i < _BPE_APPLY_ITERS:
            stages.append(merge(i))
            stages.append(apply(i))
    body = ",\n        ".join(stages)
    unioned = "\n          UNION ALL".join(
        f"({ranked(i)})" for i in range(1, _BPE_APPLY_ITERS + 1)
    )
    return f"""
        WITH {bpe_vocab_cte()},
        {body}
        SELECT * FROM ({unioned}) ORDER BY iter, rank
    """


def _bpe_pair_counts(v: DataFrame) -> DataFrame:
    """Adjacent SYMBOL-pair frequencies over a (freq, syms) vocab frame;
    pair identity is the chr(31)-delimited symbol pair (concatenation is
    ambiguous once merged symbols exist: after merges 'ab' and 'bc',
    'abc' could be (ab,c) or (a,bc))."""
    return (
        v.filter(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> concat(syms[i-1], chr(31), syms[i]))"
                )
            ).alias("pair_key"),
        )
        .groupBy("pair_key")
        .agg(F.sum("freq").cast("bigint").alias("freq"))
    )


def bpe_apply_fold(syms, m_a, m_b):
    """Greedy left-to-right non-overlapping application of ONE merge pair
    to a symbol-sequence column — the canonical BPE trainer step, and the
    SAME expression the frozen-merge encoder replays (one definition, so
    training and encoding cannot de-twin). A left fold with a
    delimited-string accumulator: if the accumulator's LAST symbol is
    exactly m_a and the incoming symbol is m_b, append the characters
    (the last symbol becomes the merged one — which immediately stops it
    re-matching m_a, so overlapping runs merge greedily like the
    reference trainers); otherwise append the symbol with its delimiter.
    DuckDB's list_reduce seeds with the first ELEMENT (no init), Spark's
    aggregate with '' — the `acc = m_a` arm of the oracle's condition
    covers exactly that representational difference, and both engines
    split the same final string."""
    merged = F.aggregate(
        syms,
        F.lit(""),
        lambda acc, x: F.when(
            acc.endswith(F.concat(F.lit(_US), m_a)) & (x == m_b),
            F.concat(acc, x),
        ).otherwise(F.concat(acc, F.lit(_US), x)),
    )
    return F.filter(F.split(merged, _US), lambda s: s != F.lit(""))


def bpe_apply_fold_sql(syms: str, m_a: str, m_b: str) -> str:
    """DuckDB twin of :func:`bpe_apply_fold` over SQL expressions for the
    merge pair (column references or quoted literals)."""
    return (
        f"list_filter(string_split(list_reduce({syms}, (acc, x) -> CASE "
        f"WHEN (acc = {m_a} OR ends_with(acc, chr(31) || {m_a})) AND x = {m_b} "
        f"THEN acc || x ELSE acc || chr(31) || x END), chr(31)), s -> s != '')"
    )


def _bpe_apply_merge(v: DataFrame, top1: DataFrame) -> DataFrame:
    """Apply the broadcast 1-row merge choice to every vocab word via the
    shared :func:`bpe_apply_fold`."""
    return v.crossJoin(F.broadcast(top1)).select(
        "word",
        "freq",
        bpe_apply_fold(F.col("syms"), F.col("m_a"), F.col("m_b")).alias("syms"),
    )


@query("llm_bpe_merge_apply", family="llm", oracle=_bpe_apply_oracle())
def llm_bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE trainer's OUTER loop, iterated: count adjacent symbol
    pairs over the corpus-weighted vocab, pick the top merge
    (freq DESC, pair ASC — exact-integer, deterministic), apply it to
    every word's symbol sequence, re-count — three gated iterations.
    llm_bpe_merge_candidates proved the inner statistic; this query
    proves the loop's DATAFLOW: the chosen merge feeds back as a 1-row
    broadcast (never a driver collect), the rewrite is a vocab-sized
    higher-order fold, and the next count runs over the rewritten vocab.
    A real 32k-merge training run is this plan repeated — each
    iteration's shuffle stays (pair-space)-bounded and the corpus is
    never re-scanned after the initial vocab aggregate.

    Output: the top-5 merge candidates at each iteration (iteration 1
    reproduces llm_bpe_merge_candidates' head; later iterations count
    pairs no string-level scan can see, e.g. (merged, next) pairs).
    Pairs are chr(31)-delimited symbol tuples; ordering and ranking use
    the delimited key on BOTH engines, so tie-breaks cannot diverge.
    Words containing chr(31) are excluded up front on both sides (the
    delimiter must not occur in a symbol; zero such words in any corpus
    here, but the gate must not depend on that).

    Distributed shape: ONE corpus-scale pass (token explode →
    map-side-combined vocab aggregate, cached via session_cache — every
    iteration re-reads vocab, not the corpus); per-iteration work is
    vocab-sized (the fold) plus a ≤|alphabet+merges|²-row pair
    aggregate; the 1-row merge choice moves executor→executor as a
    broadcast. At 100 TB the corpus pass dominates and runs once."""
    from syslog_kafka_spark.operators.session_cache import session_cache

    d = load_tables(spark, sf_dir).documents
    v = session_cache(bpe_vocab(d))

    out = None
    for it in range(1, _BPE_APPLY_ITERS + 1):
        counts = _bpe_pair_counts(v)
        split_key = F.split("pair_key", _US)
        ranked = (
            counts.withColumn(
                "rank",
                F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("pair_key"))),
            )
            .filter(F.col("rank") <= _BPE_APPLY_TOPK)
            .select(
                F.lit(it).alias("iter"),
                F.col("rank").cast("int").alias("rank"),
                F.get(split_key, 0).alias("sym_a"),
                F.get(split_key, 1).alias("sym_b"),
                "freq",
            )
        )
        out = ranked if out is None else out.unionByName(ranked)
        if it < _BPE_APPLY_ITERS:
            top1 = (
                counts.orderBy(F.desc("freq"), F.asc("pair_key"))
                .limit(1)
                .select(
                    F.get(F.split("pair_key", _US), 0).alias("m_a"),
                    F.get(F.split("pair_key", _US), 1).alias("m_b"),
                )
            )
            # each rewritten vocab is materialized (session LRU), exactly
            # like a real trainer's per-merge vocab table: without the
            # barrier the fold subtree replicates into every LATER
            # iteration's counts/merge/fold trees (the plan doubles per
            # iteration — measured 4 BroadcastNestedLoopJoins for 2
            # applied merges; cached it is one per merge, in the fill)
            v = session_cache(_bpe_apply_merge(v, top1))
    return out.orderBy("iter", "rank")


# ---------------------------------------------------------------------------
# Frozen-merge BPE encoding (tokenizer-training step 3: USE the tokenizer)
# ---------------------------------------------------------------------------

_ENC_MAX_BUCKET = 6  # tokens-per-word histogram clamp (6 = "6 or more")


def _bpe_encode_oracle() -> str:
    from syslog_kafka_spark.operators.bpe_frozen import BPE_MERGES

    cur = "syms"
    for a, b in BPE_MERGES:
        qa = "'" + a.replace("'", "''") + "'"
        qb = "'" + b.replace("'", "''") + "'"
        cur = bpe_apply_fold_sql(cur, qa, qb)
    return f"""
        WITH {bpe_vocab_cte()}, enc AS (
          SELECT word, freq, len({cur}) AS n_tokens FROM v0
        )
        SELECT CAST(LEAST(n_tokens, {_ENC_MAX_BUCKET}) AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(freq) AS BIGINT) AS corpus_freq,
               CAST(sum(freq * length(word)) AS BIGINT) AS total_chars,
               CAST(sum(freq * n_tokens) AS BIGINT) AS total_tokens
        FROM enc GROUP BY 1 ORDER BY bucket
    """


@query("llm_bpe_encode_frozen", family="llm", oracle=_bpe_encode_oracle())
def llm_bpe_encode_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus with the trained tokenizer — the step after
    llm_bpe_merge_candidates (count) and llm_bpe_merge_apply (train):
    every vocab word's character sequence replays the FROZEN rank-ordered
    merge table (operators/bpe_frozen.py, fit by scripts/fit_bpe_merges.py
    with the exact gated trainer loop), via the SAME bpe_apply_fold
    expression the trainer uses — one definition, so training and
    encoding cannot de-twin. This is the production tokenization pass: a
    real run encodes the token stream; encoding the VOCAB weighted by
    frequency computes the identical corpus statistics at vocab-bounded
    cost, and the tokens-per-word histogram (with corpus-frequency,
    char, and token mass per bucket) is the fertility/compression
    surface a tokenizer owner actually monitors.

    Hash-gate: every bucket row pins the exact post-merge token count of
    every vocab word (a single mis-applied or mis-ordered merge moves
    words across buckets and shifts total_tokens integer-exactly). No
    float surface at all.

    Distributed shape: ONE corpus-scale pass (token explode →
    map-side-combined vocab aggregate); the 8-merge fold chain is a
    single vocab-sized projection with zero joins and zero extra
    shuffles (the merge table is code, not data — it ships inside the
    task binary exactly like a production tokenizer's merges file); the
    histogram is a ≤6-row aggregate. At 100 TB the corpus pass
    dominates and runs once."""
    from syslog_kafka_spark.operators.bpe_frozen import BPE_MERGES

    d = load_tables(spark, sf_dir).documents
    cur = F.col("syms")
    for a, b in BPE_MERGES:
        cur = bpe_apply_fold(cur, F.lit(a), F.lit(b))
    enc = bpe_vocab(d).select("word", "freq", F.size(cur).alias("n_tokens"))
    return _bpe_histogram(enc)


# ---------------------------------------------------------------------------
# Merge-table-as-DATA BPE encoding (production merge counts)
# ---------------------------------------------------------------------------


def _bpe_histogram(enc: DataFrame, *extra_keys: str) -> DataFrame:
    """The tokens-per-word histogram both encode queries share — ONE
    definition so the expression path and the table path cannot diverge
    in the aggregate surface. ``extra_keys`` prepend group columns (the
    curve query groups by checkpoint rank as well)."""
    keys = [F.col(k) for k in extra_keys] + [
        F.least(F.col("n_tokens"), F.lit(_ENC_MAX_BUCKET))
        .cast("int")
        .alias("bucket")
    ]
    return (
        enc.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("freq").cast("bigint").alias("corpus_freq"),
            F.sum(F.col("freq") * F.length("word"))
            .cast("bigint")
            .alias("total_chars"),
            F.sum(F.col("freq") * F.col("n_tokens"))
            .cast("bigint")
            .alias("total_tokens"),
        )
        .orderBy(*extra_keys, "bucket")
    )


# Compression-curve checkpoints: 8 = the frozen-expression table's size
# (that slice of the output must equal llm_bpe_encode_frozen's histogram —
# pinned by tests/test_bpe_kernel.py), 64 = past BOTH engines' expression
# walls (~48 nested folds: Catalyst analyzer max-iterations, DuckDB
# binder recursion depth — the ranks where encode NEEDS table-as-data),
# 89 = convergence (this corpus's entire pair space).
_BPE_CURVE_CHECKPOINTS = (8, 16, 32, 64, 89)


def _bpe_encode_table_oracle() -> str:
    from syslog_kafka_spark.operators.bpe_frozen_full import BPE_MERGES_FULL

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = ", ".join(
        f"({i + 1}, {q(a)}, {q(b)})" for i, (a, b) in enumerate(BPE_MERGES_FULL)
    )
    cks = ", ".join(str(c) for c in _BPE_CURVE_CHECKPOINTS)
    fold = bpe_apply_fold_sql("e.syms", "m.m_a", "m.m_b")
    return f"""
        WITH RECURSIVE {bpe_vocab_cte()},
        m(rank, m_a, m_b) AS (VALUES {vals}),
        stepped AS (
          SELECT 0 AS r, word, freq, syms FROM v0
          UNION ALL
          SELECT e.r + 1, e.word, e.freq, {fold} AS syms
          FROM stepped e JOIN m ON m.rank = e.r + 1
        ), enc AS (
          SELECT r, word, freq, len(syms) AS n_tokens
          FROM stepped WHERE r IN ({cks})
        )
        SELECT CAST(r AS INT) AS merges_applied,
               CAST(LEAST(n_tokens, {_ENC_MAX_BUCKET}) AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(freq) AS BIGINT) AS corpus_freq,
               CAST(sum(freq * length(word)) AS BIGINT) AS total_chars,
               CAST(sum(freq * n_tokens) AS BIGINT) AS total_tokens
        FROM enc GROUP BY 1, 2 ORDER BY merges_applied, bucket
    """


@query("llm_bpe_encode_table", family="llm", oracle=_bpe_encode_table_oracle())
def llm_bpe_encode_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus with the merge table as DATA — the production
    merge-count path, gated as the tokenizer's COMPRESSION CURVE.
    llm_bpe_encode_frozen inlines each merge as one fold expression, the
    fastest shape at 8 merges but one whose plan grows with the table:
    measured (scripts/bpe_crossover_probe.py, deleted; see git history;
    sf0.01, vocab cached so the timed region is the encode alone; r12
    cold/warm split — cold rebuilds the kernel closure so the memo never
    flatters a repeat) the expression path climbs through ~5 s cold by 32 merges and
    HARD-FAILS past ~48 — Catalyst analyzer max-iterations; DuckDB's
    binder refuses the same depths — while the table path stays flat
    ≤1.6 s cold / ≤0.17 s warm through all 89 ranks and through
    256/1024/4096 padded ranks. At production rank counts the kernel's
    pair→rank indexed walk is what keeps it flat: 44× over the rank
    scan at the 6,770-rank matching-merge table, single-threaded
    (operators/bpe_kernel.py). A real tokenizer's 32k–100k merges
    therefore ship as DATA: here the FULL to-convergence table
    (operators/bpe_frozen_full.py — 89 merges, this corpus's entire
    pair space, fit by scripts/fit_bpe_merges.py --k 0 with the exact
    gated trainer loop) rides the Arrow kernel's closure to every
    executor (one copy per executor, a broadcast's distribution shape)
    and encoding is a vocab-sized Arrow-batched pass over the words
    (operators/bpe_kernel.py).

    Output: the tokens-per-word histogram AT EACH checkpoint rank
    (8/16/32/64/89 merges applied) — the fertility-vs-vocab-size curve a
    tokenizer owner plots to pick the merge budget. Gating the curve
    rather than the converged state is load-bearing twice over: at
    convergence every word is 1 token (a kernel that ignored the table
    would hash-match), and the intermediate checkpoints pin every
    merge's rank ORDER, not just the final partition. The DuckDB oracle
    replays the SAME table as a rank-joined recursive CTE over the SAME
    fold SQL the trainer gates; the merges_applied=8 slice must equal
    llm_bpe_encode_frozen's histogram (tests/test_bpe_kernel.py), so
    the expression path and the data path cannot de-twin.

    Distributed shape: ONE corpus-scale pass (token explode →
    map-side-combined vocab aggregate); the encode is a vocab-sized
    Arrow projection (zero joins, zero extra shuffles) returning one
    count per checkpoint; posexplode is vocab × |checkpoints|; the
    histogram is a ≤30-row aggregate. At 100 TB the corpus pass
    dominates and runs once; the Python cost is |vocab|-bounded, never
    |tokens|-bounded."""
    from syslog_kafka_spark.operators.bpe_frozen_full import BPE_MERGES_FULL
    from syslog_kafka_spark.operators.bpe_kernel import bpe_checkpoint_token_counts

    d = load_tables(spark, sf_dir).documents
    curve = bpe_checkpoint_token_counts(BPE_MERGES_FULL, _BPE_CURVE_CHECKPOINTS)
    ranks = F.array(*[F.lit(c) for c in _BPE_CURVE_CHECKPOINTS])
    enc = (
        bpe_vocab(d)
        .select("word", "freq", F.posexplode(curve(F.col("word"))))
        .select(
            F.get(ranks, F.col("pos")).cast("int").alias("merges_applied"),
            "word",
            "freq",
            F.col("col").alias("n_tokens"),
        )
    )
    return _bpe_histogram(enc, "merges_applied")


def _kl_drift_oracle() -> str:
    return f"""
        WITH tok AS (
          SELECT source, term, CAST(count(*) AS BIGINT) AS dc
          FROM (SELECT source, unnest({_TOKENS_SQL}) AS term FROM documents)
          GROUP BY 1, 2
        ),
        src AS (SELECT source, CAST(sum(dc) AS BIGINT) AS ns FROM tok GROUP BY 1),
        vocab AS (SELECT term, CAST(sum(dc) AS BIGINT) AS c FROM tok GROUP BY 1),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vocab)
        SELECT t.source,
               CAST(count(*) AS BIGINT) AS n_terms,
               CAST(max(s.ns) AS BIGINT) AS n_tokens,
               CAST(sum(CAST(round(1000000.0
                    * (t.dc / CAST(s.ns AS DOUBLE))
                    * log2((t.dc / CAST(s.ns AS DOUBLE))
                           / (v.c / CAST((SELECT n FROM tot) AS DOUBLE))), 0)
                    AS BIGINT)) AS BIGINT) AS kl_microbits
        FROM tok t
        JOIN src s ON s.source = t.source
        JOIN vocab v ON v.term = t.term
        GROUP BY t.source
        ORDER BY t.source
    """


@query("llm_unigram_kl_drift", family="llm", oracle=_kl_drift_oracle())
def llm_unigram_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: KL(source unigram || corpus
    unigram) in microbits per source — the dashboard number that flags a
    crawl slice whose token statistics diverged from the mixture it
    feeds (templated boilerplate, wrong-language contamination, format
    junk all spike it). Complements llm_domain_mixture (mass shares)
    and llm_zipf_slope (corpus-global shape) with a per-source
    distance-to-corpus measure.

    Float discipline: the per-term contribution
    1e6 * p_s(t) * log2(p_s(t) / p_c(t)) is rounded to an INTEGER
    microbit count per (source, term) BEFORE the per-source sum, so the
    result is independent of the engines' summation order (the jac_cents
    pattern); the per-term double itself is the same
    division-then-log2-then-multiply chain on both engines. Terms absent
    from a source contribute exactly 0 by construction (the join is on
    the source's own terms), and every source term has corpus count
    >= source count, so the log argument is always finite and positive.

    Distributed shape: ONE token-explode pass pre-aggregated to
    (source, term, count) with map-side combine; the source-total and
    corpus-vocab frames both derive from that cached frame (one corpus
    scan total); vocab is Zipf-small and broadcasts back, so the pricing
    join is shuffle-free and the output is #sources rows."""
    from syslog_kafka_spark.operators.session_cache import session_cache

    d = load_tables(spark, sf_dir).documents
    tok = session_cache(
        d.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("dc")),
        eager=False,
    )
    src = tok.groupBy("source").agg(F.sum("dc").cast("bigint").alias("ns"))
    vocab = tok.groupBy("term").agg(F.sum("dc").cast("bigint").alias("c"))
    total = vocab.agg(F.sum("c").cast("bigint").alias("n"))
    p = F.col("dc") / F.col("ns").cast("double")
    q = F.col("c") / F.col("n").cast("double")
    contrib = F.round(F.lit(1000000.0) * p * F.log2(p / q), 0).cast("bigint")
    return (
        tok.join(F.broadcast(src), "source")
        .join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.max("ns").cast("bigint").alias("n_tokens"),
            F.sum(contrib).cast("bigint").alias("kl_microbits"),
        )
        .orderBy("source")
    )
