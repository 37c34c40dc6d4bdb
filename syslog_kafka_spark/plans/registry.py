"""Query inventory registry.

Every gated capability of the engine is declared here as a named
``QuerySpec``: a Spark-first builder (DataFrame API — Catalyst owns the
physical plan) plus, when SQL-expressible, a DuckDB oracle string over the
same parquet tables. The driver's correctness gate runs both sides and
hash-compares results, so builders must be deterministic: every aggregate
aliased identically on both sides, floats rounded, ties broken by unique
keys.

The registry is the single source of truth for ``__spark_entry__.queries()``
/ ``oracle_sql()``, for the pytest oracle suite, and for ``bench.py``.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from syslog_kafka_spark.session import child_session

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    family: str
    build: Builder
    oracle: str | None = None
    doc: str = ""
    bench: bool = True  # include in bench.py's headline timing run
    # Required on every oracle=None query: the hash-gated counterpart that
    # covers the same mechanism — either another registry query (checked to
    # carry an oracle) or a "file.py::test_name" pytest node for floors the
    # registry can't express. Turns "ungated by design" into a pointer at
    # the gate that does exist (tests/test_registry_window.py enforces it).
    gated_twin: str | None = None
    confs: dict[str, str] = field(default_factory=dict)  # see query()


QUERIES: dict[str, QuerySpec] = {}


def query(
    name: str,
    family: str,
    oracle: str | None = None,
    bench: bool = True,
    gated_twin: str | None = None,
    confs: dict[str, str] | None = None,
) -> Callable[[Builder], Builder]:
    """Register a query builder under ``name``.

    ``oracle`` is ANSI/DuckDB SQL equivalent to the Spark plan; ``None``
    marks a non-SQL-expressible op (driver falls back to rows-only check)
    and requires ``gated_twin`` to name its hash-gated counterpart.

    ``confs`` are session confs the query needs: the builder the decorator
    registers and returns runs on ``session.child_session(spark, confs)``,
    so it never sets a conf on the session it is handed.
    """

    def deco(fn: Builder) -> Builder:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        build = fn
        if confs:

            @functools.wraps(fn)
            def build(spark: SparkSession, sf_dir: str) -> DataFrame:
                return fn(child_session(spark, confs), sf_dir)

        QUERIES[name] = QuerySpec(
            name=name,
            family=family,
            build=build,
            oracle=oracle,
            doc=(fn.__doc__ or "").strip(),
            bench=bench,
            gated_twin=gated_twin,
            confs=confs or {},
        )
        return build

    return deco


# The driver's correctness gate evaluates the FIRST 50 registry entries in
# iteration order. Round-14 window (the pre-committed r13 rotation plan +
# the r13 verdict's item #4): FIRST the SEVEN r13 registrations, taking
# their first driver stamps (each was oracle-verified on every pytest run
# by tests/test_inventory_oracle in the meantime), then the NINE r8-stamp
# llm deferrals the r13 window comment named, then ONE family-coverage pin
# per family the rest of the window misses, oldest oracled stamp each
# (kafka_decode_roundtrip r12, sort_top_orders r10, syslog_named_levels
# r10), then the r9-stamp cohort — the oldest remaining stamps. That
# cohort holds 47 entries: 7 + 9 + 3 + 47 = 66 > 50, so SIXTEEN
# llm-family r9 entries are DEFERRED to r15 (llm already holds 19 of the
# 50 slots): llm_dedup_then_lsh, llm_dedup_threshold_sweep,
# llm_embedding_neardup_blocked, llm_embedding_quantization,
# llm_hashed_quality_classifier, llm_idf_topk_keywords, llm_ivf_pq_topk,
# llm_length_buckets, llm_neardup_degree_dist, llm_perplexity_buckets,
# llm_pmi_collocations, llm_random_projection, llm_simhash_pair_digest,
# llm_tfidf_cosine_pairs, llm_udtf_concordance, llm_zipf_slope — all
# sixteen stay oracle-covered on every pytest run in the meantime.
# After this window no registered query's stamp predates r9.
#
# Round-15 rotation pool, in priority order: FIRST any registration the
# driver has never stamped, then the SIXTEEN r9 llm deferrals above,
# then the r10-stamp cohort, then r11-stamp entries to fill the window,
# keeping the every-family-in-window invariant
# (tests/test_registry_window.py) ahead of stamp age.
WINDOW_PRIORITY: tuple[str, ...] = (
    # --- r13 registrations: first driver stamps (r13 verdict item #4) ---
    "llm_minhash_band_digest",
    "llm_lsh_cap_sweep",
    "llm_soft_dedup_weights",
    "llm_ann_recall_audit",
    "llm_unigram_kl_drift",
    "llm_quality_gate_sweep",
    "stream_quality_gate_monitor",
    # --- the nine r8-stamp llm deferrals from the r13 window ---
    "llm_pii_redaction",
    "llm_pq_quantization_audit",
    "llm_repeated_span_removal",
    "llm_simhash_multiprobe",
    "llm_stratified_sample",
    "llm_token_entropy",
    "llm_url_extraction",
    "llm_vocab_coverage",
    "llm_weighted_sample",
    # --- family coverage (oldest oracled stamp per family the cohort
    #     misses) ---
    "kafka_decode_roundtrip",
    "sort_top_orders",
    "syslog_named_levels",
    # --- 31 of the 47-entry r9-stamp cohort (16 llm deferred to r15) ---
    "agg_listagg_nations",
    "agg_median_mad",
    "agg_recursive_month_spine",
    "join_asof_tolerance",
    "join_bucketed_colocated",
    "join_lateral_topk",
    "join_null_safe_groups",
    "join_right_outer_segment_counts",
    "join_salted_skew",
    "llm_bigram_logprob",
    "llm_cluster_cohesion_audit",
    "llm_containment_neardup",
    "scalar_map_higher_order",
    "scalar_parameterized_sql",
    "scalar_pipe_syntax",
    "scalar_try_arith",
    "scalar_variant_extract",
    "scan_partition_pruned",
    "scan_python_datasource",
    "setop_union_all",
    "stream_chained_window_rollup",
    "stream_dedup_within_watermark",
    "stream_foreach_batch_sink",
    "stream_python_datasource_tail",
    "stream_quality_filter",
    "stream_state_store_read",
    "window_ewma_user_value",
    "window_gapfill_interpolate",
    "window_pct_change_mom",
    "window_rolling_distinct_users",
    "window_zscore_anomaly",
)


def load_all() -> dict[str, QuerySpec]:
    """Import every plan module so its @query decorators run.

    Returns the inventory ordered by ``WINDOW_PRIORITY`` first (the driver
    correctness gate reads the first 50 entries), then every remaining
    query in registration order.
    """
    # Imports are side-effecting registrations; keep them here so callers
    # get the complete inventory with one call.
    from syslog_kafka_spark.plans import (  # noqa: F401
        aggregates,
        curation_qa,
        extras,
        joins,
        kafka_roundtrip,
        llm,
        llm_scale,
        mining,
        reshape,
        scalars,
        scans,
        setops,
        sorts,
        stream_gated,
        syslog_queries,
        tpch_like,
        windows,
    )

    missing = [n for n in WINDOW_PRIORITY if n not in QUERIES]
    if missing:
        raise KeyError(f"WINDOW_PRIORITY names not registered: {missing}")
    ordered = {n: QUERIES[n] for n in WINDOW_PRIORITY}
    ordered.update({n: s for n, s in QUERIES.items() if n not in ordered})
    return ordered
