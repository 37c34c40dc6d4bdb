"""Physical-plan regression tests: the scale-discipline invariants from
ARCHITECTURE.md, asserted programmatically.

These catch silent plan rot — a lost filter pushdown or a broadcast that
degrades to sort-merge changes nothing at sf0.001 but everything at 100 TB.
"""

from __future__ import annotations

import pytest

from syslog_kafka_spark.plans.registry import load_all


def _plan(spark, sf_dir, name: str) -> str:
    df = load_all()[name].build(spark, sf_dir)
    jexec = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jexec.explainString(mode)


def _executed_op_counts(spark, sf_dir, name: str) -> dict[str, int]:
    """Physical operators this query would itself execute, by JVM class
    name — walked from the executedPlan TREE, never descending into an
    InMemoryTableScan (a cached relation's stored plan is the cache
    fill's business, not this query's). String-parsing the formatted
    explain is unreliable here: cache dumps print Final+Initial sections
    whose indentation restarts relative to the outer tree, so nested
    dumps (a cached table inside a cached frame) leak phantom nodes into
    any indent-based scan of the text."""
    df = load_all()[name].build(spark, sf_dir)
    return _frame_op_counts(df)


def _frame_op_counts(df) -> dict[str, int]:
    """The tree walk behind :func:`_executed_op_counts`, for frames that
    don't come from the registry. Handles QueryStageExec so it is safe on
    both un-executed and executed adaptive plans."""
    counts: dict[str, int] = {}

    def walk(p) -> None:
        cls = p.getClass().getSimpleName()
        counts[cls] = counts.get(cls, 0) + 1
        if cls.startswith("InMemoryTableScan"):
            return
        if cls == "AdaptiveSparkPlanExec":
            walk(p.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(p.plan())
            return
        it = p.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return counts


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reaches parquet
    # column pruning: the scan must not read the join keys it doesn't need
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema


def test_star_joins_broadcast_not_sortmerge(spark, sf_dir):
    for name in ("join_local_supplier_volume", "join_shipping_priority", "join_broadcast_brand_volume"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"
        assert "SortMergeJoin" not in plan, f"{name}: unexpected sort-merge join"


def test_order_limit_is_topk(spark, sf_dir):
    for name in ("sort_top_orders", "join_shipping_priority"):
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, f"{name}: order+limit not planned as top-k"


def test_dim_filter_pushdown_through_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_shipping_priority")
    # the BUILDING segment filter must reach the customer scan, not sit
    # above the join
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_window_topk_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "window_top3_orders_per_cust")
    assert "LessThanOrEqual(o_custkey,200)" in plan


def test_tpch_composites_plan_quality(spark, sf_dir):
    """The round-2 composites must keep their intended physical shapes."""
    # Q9: LIKE filter reaches the part scan; dims broadcast
    plan = _plan(spark, sf_dir, "tpch_profit_by_nation")
    assert "StringContains(p_name,widget)" in plan, "p_name LIKE not pushed to scan"
    assert "BroadcastHashJoin" in plan
    # Q2: correlated MIN decorrelated to an aggregate, not a per-row rescan
    plan = _plan(spark, sf_dir, "tpch_min_cost_supplier")
    assert "min(" in plan  # decorrelated aggregate present
    assert "CartesianProduct" not in plan
    # Q13: outer join must stay an outer hash/broadcast join with the
    # priority predicate inside the join (not filtering customers away)
    plan = _plan(spark, sf_dir, "tpch_order_count_distribution")
    assert "LeftOuter" in plan
    assert "Filter" in plan
    # Q21: EXISTS/NOT EXISTS become semi/anti joins — never a rescan loop
    plan = _plan(spark, sf_dir, "tpch_waiting_suppliers")
    assert "LeftSemi" in plan, "EXISTS not planned as semi join"
    assert "LeftAnti" in plan, "NOT EXISTS not planned as anti join"
    # Q15: status filter pushed; scalar max is a subquery reuse, no rescan
    plan = _plan(spark, sf_dir, "tpch_top_supplier_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in plan, "date range not pushed to scan"
    # Q4: correlated EXISTS with non-equi predicate becomes a semi join,
    # and the quarter window prunes the orders scan
    plan = _plan(spark, sf_dir, "tpch_priority_wait_counts")
    assert "LeftSemi" in plan, "EXISTS not planned as semi join"
    assert "GreaterThanOrEqual(o_orderdate" in plan, "date window not pushed to orders scan"
    # Q10: aggregate feeds TakeOrderedAndProject — only 20 rows leave
    plan = _plan(spark, sf_dir, "tpch_returned_item_accounts")
    assert "TakeOrderedAndProject" in plan, "top-20 not planned as top-k"
    assert "EqualTo(l_returnflag,R)" in plan, "returnflag not pushed to lineitem scan"
    # Q17: correlated AVG decorrelated to an aggregate + join, no rescan
    plan = _plan(spark, sf_dir, "tpch_small_qty_revenue")
    assert "avg(" in plan, "correlated AVG not decorrelated to an aggregate"
    assert "CartesianProduct" not in plan
    # Q8: the eight-way tree keeps every dim broadcast (no sort-merge)
    plan = _plan(spark, sf_dir, "tpch_market_share")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(p_type,ECONOMY)" in plan, "p_type filter not pushed to part scan"


def test_funnel_windows_share_one_exchange(spark, sf_dir):
    """The three funnel stages partition identically on user_id, so the
    plan must reuse ONE exchange below all three Window nodes (the only
    other exchanges belong to the final multi-distinct aggregate)."""
    plan = _plan(spark, sf_dir, "window_funnel_conversion")
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 3
    assert tree.count("Exchange") <= 3, "window layers stopped sharing the exchange"


def test_rollup_cascade_reads_cached_partials(spark, sf_dir):
    """The minute→hour→day cascade must read each finer level from its
    cached partial, not re-derive from parquet: every union branch above
    the minute level shows InMemoryTableScan (without the barriers the
    plan held THREE parquet scans of the fact table)."""
    plan = _plan(spark, sf_dir, "agg_rollup_cascade")
    tree = plan.split("\n\n")[0]
    assert tree.count("InMemoryTableScan") >= 3, (
        "cascade branches re-deriving from parquet:\n" + tree
    )


def test_twice_referenced_partials_read_from_cache(spark, sf_dir):
    """Queries whose expensive partial feeds two consumers must show the
    cache barrier in the plan — without it the partial (and its fact-table
    scan) recomputes once per reference."""
    for name, min_cached in (
        ("llm_curation_pipeline", 2),   # dedup survivors + tokenized base
        ("agg_key_skew_audit", 2),      # per-key counts: stats row + top-k
        ("tpch_top_supplier_revenue", 1),  # revenue view: join (+ scalar max subquery)
    ):
        plan = _plan(spark, sf_dir, name)
        tree = plan.split("\n\n")[0]
        assert tree.count("InMemoryTableScan") >= min_cached, (
            f"{name}: partial re-derived instead of cached:\n" + tree
        )


def test_no_cartesian_products_outside_cross(spark, sf_dir):
    # every join query except the explicit cross join must avoid
    # CartesianProduct (BroadcastNestedLoop for the tiny cross is fine)
    for name, spec in load_all().items():
        if spec.family != "joins" or name == "join_cross_region_nation":
            continue
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"


def test_decontamination_broadcasts_heldout_probe(spark, sf_dir):
    """The train-side probe must be a broadcast join (held-out gram set is
    tiny vs the train corpus) and the tokenize+hash partial must come from
    the cache barrier, not a second parquet scan of documents."""
    plan = _plan(spark, sf_dir, "llm_decontamination")
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, "held-out probe not broadcast:\n" + tree
    # every consumer (test totals, probe build+stream side) reads the gram
    # partial from cache; "Scan parquet" repeats under each InMemoryRelation
    # printout but is one physical scan
    assert tree.count("InMemoryTableScan") >= 2, (
        "gram partial re-derived instead of cached:\n" + tree
    )


def test_pack_assignment_window_partitions_by_shard(spark, sf_dir):
    """Concat-and-chop packing must not collapse onto one task: the
    running-offset window partitions by shard (hashpartitioning), never a
    global SinglePartition sort."""
    plan = _plan(spark, sf_dir, "llm_pack_assignment")
    tree = plan.split("\n\n")[0]
    assert "Window" in tree
    assert "SinglePartition" not in tree, (
        "packing window degraded to a single partition:\n" + tree
    )


def test_gapfill_filter_pushed_and_dims_broadcast(spark, sf_dir):
    """Gap filling prunes the fact scan to the user subset (both scans of
    the daily partial carry the pushed filter) and the calendar↔daily
    join stays hash/broadcast — never a nested-loop over generated days."""
    plan = _plan(spark, sf_dir, "window_gapfill_daily")
    assert "LessThanOrEqual(user_id,5)" in plan, "user filter not pushed to events scan"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_moving_avg_windows_after_daily_rollup(spark, sf_dir):
    """The 7-day moving average must window the POST-aggregation daily
    relation (calendar-sized), not the raw orders scan: exactly one
    parquet scan, and the range-frame window sits above the hash
    aggregate."""
    plan = _plan(spark, sf_dir, "window_moving_avg_7d")
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "Window" in tree


def test_share_of_total_broadcasts_dims(spark, sf_dir):
    """Ratio-to-report: both dimension joins broadcast (customer keys and
    nation), no sort-merge join anywhere; the single-partition window is
    over the 25-row post-aggregate only."""
    plan = _plan(spark, sf_dir, "window_share_of_total")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multiset_setops_stay_hash_aggregates(spark, sf_dir):
    """INTERSECT ALL / EXCEPT ALL plan as count-replicating hash
    aggregates (Spark's Generate+Aggregate lowering) — no join fallback,
    no cartesian."""
    plan = _plan(spark, sf_dir, "setop_multiset_all")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_zipf_topk_is_take_ordered(spark, sf_dir):
    """The top-500 rank cut must plan as TakeOrderedAndProject (partial
    top-k per partition), never a full sort of the vocabulary."""
    plan = _plan(spark, sf_dir, "llm_zipf_slope")
    assert "TakeOrderedAndProject" in plan, plan


def test_pmi_totals_are_broadcast(spark, sf_dir):
    """The single-row corpus totals join the bigram relation via broadcast
    (nested-loop over one row), never a shuffled join or cartesian."""
    plan = _plan(spark, sf_dir, "llm_pmi_collocations")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rolling_distinct_users_explodes_pairs_not_events(spark, sf_dir):
    """The 7-day contribution explode must run over the distinct
    (day, user) pairs — i.e. AFTER a distinct aggregate — so work is
    bounded by users x days, not raw events."""
    plan = _plan(spark, sf_dir, "window_rolling_distinct_users")
    assert "explode(sequence(" in plan, plan
    tree = plan.split("\n\n")[0].splitlines()
    gen_idx = next(i for i, l in enumerate(tree) if "Generate (" in l)
    assert "HashAggregate" in tree[gen_idx + 1], (
        "explode does not feed from the dedup aggregate:\n" + "\n".join(tree)
    )


def test_partitioned_scan_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the hive-partition column must prune at planning time:
    the scan's PartitionFilters carries the predicate and PartitionCount
    is 1 of the 5 event types."""
    import pyspark.sql.functions as F

    from syslog_kafka_spark.sources.readers import load_tables

    out = str(tmp_path / "events_by_type")
    load_tables(spark, sf_dir).events.write.partitionBy("event_type").parquet(out)
    df = spark.read.parquet(out).filter(F.col("event_type") == "error")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "event_type" in pf[0], plan
    assert "PushedFilters: []" in plan or "event_type" not in (
        [l for l in plan.splitlines() if "PushedFilters" in l] or [""]
    )[0], plan  # the predicate is partition-level, not a data filter


def test_lateral_topk_decorrelates_to_window_group_limit(spark, sf_dir):
    # The LATERAL ... ORDER BY ... LIMIT 2 must plan as a ranked window
    # (WindowGroupLimit) over one join, never a per-row re-execution or a
    # cartesian product.
    plan = _plan(spark, sf_dir, "join_lateral_topk")
    assert "WindowGroupLimit" in plan, "lateral top-k not planned as window group limit"
    assert "CartesianProduct" not in plan
    # the customer-key filter reaches the scan
    assert "LessThanOrEqual(c_custkey,120)" in plan


def test_corr_regression_is_one_partial_aggregate(spark, sf_dir):
    # Bivariate moments are partial-aggregable: partial HashAggregate
    # before the shuffle, one agg exchange + one presentation exchange,
    # no window, no join.
    import re

    plan = _plan(spark, sf_dir, "agg_corr_regression")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2  # partial + final
    assert "Join" not in plan


def test_zscore_moments_share_one_window_exchange(spark, sf_dir):
    # mean and stddev over the same cohort partition must come from ONE
    # Window operator over ONE hash exchange on event_type.
    import re

    plan = _plan(spark, sf_dir, "window_zscore_anomaly")
    assert len(re.findall(r"\(\d+\) Window$", plan, re.M)) == 1
    assert plan.count("hashpartitioning(event_type") >= 1


def test_embedding_ops_are_scan_fused(spark, sf_dir):
    # Quantization and JL projection are per-row array algebra + a tiny
    # label aggregate: no join, single aggregation exchange.
    for name in ("llm_embedding_quantization", "llm_random_projection"):
        plan = _plan(spark, sf_dir, name)
        assert "Join" not in plan, f"{name}: unexpected join"
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python in hot path"


def test_integrity_audit_orphan_checks_broadcast(spark, sf_dir):
    # The referential checks anti-join against dimension keys — the key
    # side must broadcast, not sort-merge.
    plan = _plan(spark, sf_dir, "agg_integrity_audit")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_cosine_norms_broadcast(spark, sf_dir):
    # The per-doc norm tables are tiny aggregates: they must broadcast
    # onto the dot-product stream, never force a sort-merge.
    plan = _plan(spark, sf_dir, "llm_tfidf_cosine_pairs")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_null_safe_join_is_hash_join(spark, sf_dir):
    # <=> must plan as a hash join with an EqualNullSafe key — not a
    # BroadcastNestedLoopJoin (which <=> can degrade to if expressed as
    # a non-equi condition).
    plan = _plan(spark, sf_dir, "join_null_safe_groups")
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan


def _executed_join_count(spark, sf_dir, name: str) -> int:
    ops = _executed_op_counts(spark, sf_dir, name)
    return sum(
        n
        for cls, n in ops.items()
        if cls.startswith(
            ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
        )
    )


def test_degree_dist_single_lsh_execution(spark, sf_dir):
    # The endpoint stream is ONE explode pass over the pair frame; a
    # unionAll of two selections would show the LSH bucket self-join
    # twice in the plan (measured 12x at sf1). The r13 shared-frame
    # build shape is exactly 4 joins — the ids-only band self-join, the
    # (_band,_bucket) occupancy attach, and the two shingle-array
    # join-backs against the cached base — so a duplicated pipeline
    # shows ≥8. Counted over executed nodes only: if an earlier query
    # in the session cached the pair frame, this plan serves it from an
    # InMemoryTableScan and executes 0 joins — also acceptable.
    joins = _executed_join_count(spark, sf_dir, "llm_neardup_degree_dist")
    assert joins <= 4, f"LSH pipeline appears duplicated: {joins} joins"


def test_lateral_dataframe_api_decorrelates_to_window_group_limit(spark, sf_dir):
    """df.lateralJoin + per-group ORDER/LIMIT must decorrelate to the
    same WindowGroupLimit shape as the SQL LATERAL form — never a
    nested-loop per outer row."""
    plan = _plan(spark, sf_dir, "join_lateral_dataframe_api")
    assert "WindowGroupLimit" in plan, "correlated top-k not decorrelated"


def test_dsir_model_joins_are_broadcast(spark, sf_dir):
    """DSIR scoring: the 64-row bucket-ratio table and the 1-row totals
    must broadcast — the only shuffles are the bucket agg and the
    per-doc score agg."""
    plan = _plan(spark, sf_dir, "llm_dsir_importance")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_domain_mixture_totals_are_broadcast(spark, sf_dir):
    """Mixture weights: both 1-row totals (token mass, partition
    function) join via BroadcastNestedLoopJoin on a frame the size of
    the domain count — no repartitioning of the corpus after the one
    groupBy(source)."""
    plan = _plan(spark, sf_dir, "llm_domain_mixture")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_winnowing_explodes_only_winnowed_set(spark, sf_dir):
    """Winnowing: the k-gram hashing and window-min selection run inside
    ONE Arrow batch kernel (mapInArrow, the r6-measured winner over the
    interpreted-lambda pipeline) that emits only the ~2/(w+1)-density
    fingerprint set as rows — so the plan has the single Arrow map node
    and NO Generate (explode) at all; nothing wider than the winnowed
    set ever becomes rows or reaches the shuffle."""
    import re

    plan = _plan(spark, sf_dir, "llm_winnowing_fingerprints")
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 0
    assert re.search(r"MapInArrow|PythonMapInArrow|ArrowEvalPython", plan), plan[:2000]


def test_parquet_aggregate_pushdown_reaches_scan(spark, sf_dir):
    """scan_agg_pushdown's COUNT/MIN/MAX must be answered by the V2
    parquet scan's footer statistics: the plan of its own builder shows
    PushedAggregation, meaning zero data pages are read at any scale."""
    plan = _plan(spark, sf_dir, "scan_agg_pushdown")
    assert "PushedAggregation: [COUNT(*), MIN(o_totalprice), MAX(o_totalprice)]" in plan


def test_scd2_join_broadcasts_the_dimension(spark, sf_dir):
    """SCD2 point-in-time join: the versioned dimension must broadcast
    (equi-key + range predicate as a BroadcastHashJoin condition), never
    degrade to a sort-merge or nested-loop range join."""
    plan = _plan(spark, sf_dir, "join_scd2_point_in_time")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the one BroadcastNestedLoopJoin allowed is the deliberate 4-row
    # version-expansion cross join that BUILDS the dimension
    assert plan.count("(") and plan.count("BroadcastNestedLoopJoin Cross") <= 1


def test_bloom_decontamination_broadcasts_both_probes(spark, sf_dir):
    """The scale-path decontamination exists to avoid shuffling the train
    corpus: both the ≤m-row position-set probe and the held-out exact
    probe must be broadcast hash joins, and the gram partial must feed
    every consumer from the cache barrier (one tokenize+hash pass)."""
    plan = _plan(spark, sf_dir, "llm_bloom_decontamination")
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, "bloom/exact probes not broadcast:\n" + tree
    assert "SortMergeJoin" not in tree, "train side shuffled:\n" + tree
    assert "CartesianProduct" not in tree
    assert tree.count("InMemoryTableScan") >= 2, (
        "gram partial re-derived instead of cached:\n" + tree
    )


def test_chunk_dedup_removal_is_two_exchanges_no_join(spark, sf_dir):
    """Disjoint-stride chunk dedup is explode → window(chunk_hash) →
    groupBy(doc_id): exactly the two hash-key shuffles, no join, no
    Python in the hot path — the shape that holds at corpus scale."""
    plan = _plan(spark, sf_dir, "llm_chunk_dedup_removal")
    assert "Join" not in plan, "unexpected join:\n" + plan
    assert "BatchEvalPython" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 3, (
        "more shuffles than explode→window→agg needs:\n" + tree
    )


def test_embedding_dim_stats_prunes_to_one_column(spark, sf_dir):
    """The per-dimension audit reads only the vector column (ReadSchema
    pruned) and aggregates with map-side partials — no join, no Python."""
    plan = _plan(spark, sf_dir, "llm_embedding_dim_stats")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "embedding" in m.group(1) and "doc_id" not in m.group(1), (
        "scan not pruned to the embedding column:\n" + plan
    )


def test_temperature_mix_window_runs_on_the_aggregate(spark, sf_dir):
    """The α-sweep's unbounded window must sit ABOVE the per-source
    aggregate (runs on ~#domains rows), never on the raw corpus."""
    plan = _plan(spark, sf_dir, "llm_domain_temperature_mix")
    tree = plan.split("\n\n")[0]
    agg_pos = tree.find("HashAggregate")
    win_pos = tree.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # formatted plans print leaves last: the window node appears before
    # the aggregate in the tree text iff it consumes the aggregate
    assert win_pos < agg_pos, "window not above the aggregate:\n" + tree


def test_cms_bucket_tables_broadcast_onto_topk(spark, sf_dir):
    """The 4 sketch-row bucket tables are ≤2048 rows each: all four
    probe joins must broadcast, the top-k must be a TakeOrdered, and
    the vocabulary aggregate must feed its 5 consumers from cache."""
    plan = _plan(spark, sf_dir, "llm_cms_heavy_hitters")
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") >= 4, tree
    assert "SortMergeJoin" not in tree
    assert "TakeOrderedAndProject" in tree
    assert tree.count("InMemoryTableScan") >= 4, (
        "vocab counts re-derived instead of cached:\n" + tree
    )


def test_mixture_subsample_broadcasts_the_weight_table(spark, sf_dir):
    """The ~#domains weight table joins back onto the corpus as a
    broadcast — document rows are filtered in place, never shuffled
    for the join."""
    plan = _plan(spark, sf_dir, "llm_mixture_subsample")
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree


def test_epoch_upsample_expansion_is_mapside(spark, sf_dir):
    """The epoch table broadcasts onto the corpus and the copy explosion
    is a Generate directly over that broadcast join — no shuffle between
    the corpus scan and the per-source audit aggregate's partials."""
    plan = _plan(spark, sf_dir, "llm_epoch_upsample_plan")
    tree = plan.split("\n\n")[0]
    assert "Generate" in tree
    assert tree.count("BroadcastHashJoin") >= 2, tree
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree


def test_shard_shuffle_shares_one_hash_exchange(spark, sf_dir):
    """The within-shard position window and the shard audit aggregate
    both key on shard: one hash exchange serves both, plus only the
    single-partition exchange for the global balance window (the final
    sort rides that single partition for free)."""
    plan = _plan(spark, sf_dir, "llm_shard_shuffle_assignment")
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree
    n_ex = tree.count("Exchange")
    assert n_ex == 2, f"window+agg should share one shard exchange, saw {n_ex}:\n{tree}"


def test_source_overlap_feeds_consumers_from_cache(spark, sf_dir):
    """The (source, gram) distinct is cached and eagerly filled; every
    downstream consumer (per-source counts + both self-join sides) reads
    the InMemoryRelation instead of re-running the tokenize+gram pass."""
    ops = _executed_op_counts(spark, sf_dir, "llm_source_overlap_matrix")
    assert ops.get("InMemoryTableScanExec", 0) >= 3, ops
    assert "CartesianProductExec" not in ops
    # the counts + the self-join never re-scan parquet: the only file
    # scans live inside the cache fill, which already ran at build time
    assert ops.get("FileSourceScanExec", 0) == 0, ops


def test_semantic_decontamination_serves_both_sides_from_cache(spark, sf_dir):
    """The assign pass (split + IVF list + norm) is cached and eagerly
    filled; the train and test sides of the list-keyed join both read
    the InMemoryRelation — the pandas-UDF assignment never runs twice."""
    ops = _executed_op_counts(spark, sf_dir, "llm_semantic_decontamination")
    assert ops.get("InMemoryTableScanExec", 0) >= 2, ops
    assert ops.get("FileSourceScanExec", 0) == 0, ops
    assert "CartesianProductExec" not in ops


def test_hll_shuffles_only_registers(spark, sf_dir):
    """The sketch side's shuffle is (source, register) keyed — bounded at
    1024·#sources rows — and the sketch↔exact source join is tiny, never
    a cartesian."""
    plan = _plan(spark, sf_dir, "llm_hll_vocab_cardinality")
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    # map-side partial aggregation on both the register and exact paths
    assert tree.count("HashAggregate") >= 4, tree


def test_session_transcripts_share_the_user_exchange(spark, sf_dir):
    """hash(user_id) clusters every (user, session) group, so the
    sessionization window and the transcript aggregate share ONE
    exchange; only the presentation sort adds a second."""
    plan = _plan(spark, sf_dir, "llm_session_transcripts")
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree
    n_ex = tree.count("Exchange")
    assert n_ex == 2, f"window+agg should share one user exchange, saw {n_ex}:\n{tree}"


def test_keep_best_shares_one_hash_exchange(spark, sf_dir):
    """The ranking window and the group aggregate both key on fp: one
    hash exchange serves both (plus the final presentation sort)."""
    plan = _plan(spark, sf_dir, "llm_dedup_keep_best")
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree
    # exactly two Exchange nodes: the shared hash(fp) one under the
    # window (reused by both HashAggregates) + the final range sort
    n_ex = tree.count("Exchange")
    assert n_ex == 2, f"window+agg should share one fp exchange, saw {n_ex}:\n" + tree


def test_ivf_pq_probe_join_broadcasts_and_stays_bounded(spark, sf_dir):
    """The IVF-PQ probe join must broadcast the tiny query side against
    the list-partitioned index — a sort-merge (corpus shuffle) or a
    cartesian here is exactly the plan rot that kills it at 100 TB."""
    ops = _executed_op_counts(spark, sf_dir, "llm_ivf_pq_topk")
    assert not any("CartesianProduct" in k for k in ops), ops
    assert any("BroadcastHashJoin" in k for k in ops), ops
    assert not any("SortMergeJoin" in k for k in ops), ops


def test_quality_classifier_weight_join_broadcasts(spark, sf_dir):
    """The 4096-row weight table must broadcast; the corpus side is the
    streamed probe."""
    ops = _executed_op_counts(spark, sf_dir, "llm_hashed_quality_classifier")
    assert not any("CartesianProduct" in k for k in ops), ops
    assert any("BroadcastHashJoin" in k for k in ops), ops


def test_covariance_audit_shuffle_is_corpus_size_independent(spark, sf_dir):
    """The Gram partials aggregate must be the ONLY wide stage over data
    derived from the corpus: everything after operates on <=2145-row
    frames joined by broadcast."""
    ops = _executed_op_counts(spark, sf_dir, "llm_embedding_covariance_audit")
    assert not any("CartesianProduct" in k for k in ops), ops
    assert not any("SortMergeJoin" in k for k in ops), ops


def test_blocked_neardup_has_no_join_and_one_block_exchange(spark, sf_dir):
    """The linear near-dup tier must stay kernel-shaped: one exchange on
    the (label x IVF-list) block key feeding the per-block applyInPandas
    kernel — no self-join materializing the pair space outside the
    kernel, no cartesian. (The r8-measured 108.9x quadratic was a plan
    property — fixed-cardinality key — not a kernel one; this pins the
    refined-key plan.)"""
    ops = _executed_op_counts(spark, sf_dir, "llm_embedding_neardup_blocked")
    assert not any("Join" in k for k in ops), ops
    assert not any("CartesianProduct" in k for k in ops), ops
    assert any("FlatMapGroupsInPandas" in k for k in ops), ops


def test_simhash_digest_rollup_is_partial_aggregated(spark, sf_dir):
    """The digest's rollup must partial-aggregate (Expand + map-side
    HashAggregate) so pair volume collapses inside each task — the final
    shuffle is #partitions x 14 rows, which is the whole point of
    benching the digest instead of collecting the pair set."""
    ops = _executed_op_counts(spark, sf_dir, "llm_simhash_pair_digest")
    assert not any("CartesianProduct" in k for k in ops), ops
    assert any(k.startswith("Expand") for k in ops), ops
    # partial + final rollup aggregates, plus the pipeline's own aggs
    assert sum(v for k, v in ops.items() if "HashAggregate" in k) >= 2, ops


def test_idf_keywords_topk_is_window_group_limit(spark, sf_dir):
    """The per-doc top-k must plan as WindowGroupLimit (each task keeps
    k rows per doc, never the full term list), and nothing may go
    cartesian (the N scalar rides a broadcast)."""
    ops = _executed_op_counts(spark, sf_dir, "llm_idf_topk_keywords")
    assert any("WindowGroupLimit" in k for k in ops), ops
    assert not any("CartesianProduct" in k for k in ops), ops


def test_perplexity_buckets_has_no_cartesian_and_no_global_window(spark, sf_dir):
    """The fluency funnel is joins + hash-aggs only: no cartesian, and
    no Window operator at all — bucketing is a CASE on the per-doc
    aggregate, never a global rank."""
    ops = _executed_op_counts(spark, sf_dir, "llm_perplexity_buckets")
    assert not any("CartesianProduct" in k for k in ops), ops
    assert not any(k.startswith("Window") for k in ops), ops


def test_novelty_deciles_have_no_single_partition_exchange(spark, sf_dir):
    """The r9 fix for the novelty curve: decile assignment must ride the
    range-partitioned rank, not an unpartitioned ntile window — no
    SinglePartition exchange may survive anywhere in the executed plan
    (the pre-fix plan funneled every per-doc row through one task)."""
    df = load_all()["llm_ngram_novelty_curve"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan[:4000]


def test_bpe_pairs_count_over_vocab_not_corpus(spark, sf_dir):
    """The pair explode must run on the vocab AGGREGATE (word, freq),
    never the raw token stream: the plan has the word-frequency
    HashAggregate BELOW the pair-generate+agg, and nothing cartesian."""
    ops = _executed_op_counts(spark, sf_dir, "llm_bpe_merge_candidates")
    assert not any("CartesianProduct" in k for k in ops), ops
    assert sum(v for k, v in ops.items() if "HashAggregate" in k) >= 4, ops
    assert not any("Join" in k for k in ops), ops


def test_ivf_refit_frozen_join_is_broadcast(spark, sf_dir):
    """The 1024-row frozen-centroid frame must broadcast against the
    per-(list,dim) means; a sort-merge there would shuffle a frame that
    is constant-size by construction."""
    ops = _executed_op_counts(spark, sf_dir, "llm_ivf_refit_drift_audit")
    assert not any("CartesianProduct" in k for k in ops), ops
    assert any("BroadcastHashJoin" in k for k in ops), ops
    assert not any("SortMergeJoin" in k for k in ops), ops


def test_bpe_merge_apply_reads_corpus_once_and_broadcasts_merges(spark, sf_dir):
    """Three-iteration merge-apply must never rescan the corpus, and
    every rewritten vocab must be a materialization barrier: without it
    the fold subtree replicates into every later iteration's trees (the
    plan doubles per iteration — 4 BroadcastNestedLoopJoins for 2
    applied merges when unbarriered). Steady state: the query's own tree
    is all InMemoryTableScans + the bounded pair windows — zero parquet
    FileScans, zero merge-broadcast replays, nothing cartesian or
    sort-merged."""
    from syslog_kafka_spark.operators.session_cache import clear_session_caches

    clear_session_caches(spark)
    # build once so the session cache is filled; the second build's own
    # tree is then the steady-state plan a sweep executes
    load_all()["llm_bpe_merge_apply"].build(spark, sf_dir).count()
    ops = _executed_op_counts(spark, sf_dir, "llm_bpe_merge_apply")
    assert not any("CartesianProduct" in k for k in ops), ops
    assert not any("SortMergeJoin" in k for k in ops), ops
    scans = sum(v for k, v in ops.items() if k.startswith("FileSourceScan"))
    assert scans == 0, ops  # vocab cached: no corpus rescan in-plan
    assert sum(v for k, v in ops.items() if k.startswith("InMemoryTableScan")) >= 3, ops
    bnl = sum(v for k, v in ops.items() if "BroadcastNestedLoop" in k)
    assert bnl == 0, ops  # merge broadcasts live in the cache fills only
    clear_session_caches(spark)


def test_refit64_blocked_frame_is_cached_and_join_free_of_shuffled_pairs(
    spark, sf_dir
):
    """The refit-64 digest reads the blocked assignment TWICE (occupancy
    ledger + pair kernel): both references must hit the session-cached
    frame (no second frozen-sims UDF pass), and the near-dup join-back
    to labels must broadcast (pairs are sparse; the blocked base is the
    big side and already partitioned)."""
    from syslog_kafka_spark.operators.session_cache import clear_session_caches

    clear_session_caches(spark)
    load_all()["llm_embedding_neardup_refit64"].build(spark, sf_dir).count()
    ops = _executed_op_counts(spark, sf_dir, "llm_embedding_neardup_refit64")
    assert not any("CartesianProduct" in k for k in ops), ops
    assert sum(v for k, v in ops.items() if k.startswith("InMemoryTableScan")) >= 2, ops
    # embeddings parquet is only read by the cache fill, not this tree
    assert not any(k.startswith("FileSourceScan") for k in ops), ops
    clear_session_caches(spark)


def test_decontamination_probe_is_scan_local(spark, sf_dir):
    """The Bloom probe's per-document work must stay INSIDE the scan
    task: gram hashes live in a per-row array (never exploded to rows —
    zero Generate nodes), membership is expression-level against the
    broadcast 64 KB bitmap (a BroadcastHashJoin on the dummy key; never
    sort-merged), and the only aggregation is the 64-bucket digest. An
    explode here would shuffle the token stream once per gram — the
    exact cost class the scan-local fold exists to avoid at 100 TB."""
    import os

    from syslog_kafka_spark.plans.stream_gated import bloom_probe_digest_frame

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    digest = bloom_probe_digest_frame(docs, docs)
    # execute BEFORE walking: the assertions must see the final adaptive
    # plan (AQE can introduce/replace exchanges and join strategies at
    # runtime), not the un-executed initial plan
    digest.count()
    counts = _frame_op_counts(digest)
    assert not any(k.startswith("Generate") for k in counts), counts
    assert not any("SortMergeJoin" in k for k in counts), counts
    assert not any("CartesianProduct" in k for k in counts), counts
    # the dummy-key equi-join constant-folds (both sides literal 1), so
    # Catalyst plans a BroadcastNestedLoopJoin over the 1-ROW bitmap frame
    # — still a broadcast of 64 KB to every scan task, which is the
    # contract; any non-broadcast join here would shuffle the corpus
    assert any("Broadcast" in k and "Join" in k for k in counts), counts
    # partial + final of the one digest aggregate (bucket cardinality 64)
    assert sum(v for k, v in counts.items() if k.startswith("HashAggregate")) <= 2, counts


def test_bpe_encode_frozen_has_no_joins_and_one_scan(spark, sf_dir):
    """The frozen-merge encoder's merge table is CODE (literals inside
    the fold expressions), not data: the plan must contain zero joins of
    any kind and exactly one parquet scan (the vocab pass) — a join or
    broadcast here would mean the merge table regressed into a data-side
    artifact, and a second scan would mean the corpus is read per
    consumer."""
    ops = _executed_op_counts(spark, sf_dir, "llm_bpe_encode_frozen")
    assert not any("Join" in k for k in ops), ops
    assert sum(v for k, v in ops.items() if k.startswith("FileSourceScan")) == 1, ops


def test_bpe_encode_table_is_one_arrow_projection_no_joins(spark, sf_dir):
    """The table path ships the merge table inside the Arrow kernel's
    closure — NOT as a data-side relation: the plan must contain zero
    joins (a join would mean the table regressed into a DataFrame), one
    parquet scan (the vocab pass), and exactly one Arrow Python node
    (one vocab-sized kernel pass for ALL checkpoint ranks — a node per
    checkpoint would re-run the merge replay five times)."""
    ops = _executed_op_counts(spark, sf_dir, "llm_bpe_encode_table")
    assert not any("Join" in k for k in ops), ops
    assert sum(v for k, v in ops.items() if k.startswith("FileSourceScan")) == 1, ops
    arrow = sum(v for k, v in ops.items() if "ArrowEvalPython" in k)
    assert arrow == 1, ops


def test_dedup_then_lsh_second_build_is_cache_served(spark, sf_dir):
    """r12 regression pin: the exact-dedup barrier must be a plan-keyed
    session_cache, NOT a checkpoint — a checkpoint's LogicalRDD carries
    a new rdd id per build, which changes every downstream semanticHash
    and silently defeats cached_lsh_base across calls (the r11 'weak'
    grade: warm sf10 runs re-shingled the whole rep corpus). Gate: after
    one full build+collect, a SECOND build's executed plan reads ONLY
    from cache — zero file scans, zero Arrow kernels (the shingling
    kernel must not reappear)."""
    from syslog_kafka_spark.operators.session_cache import clear_session_caches

    clear_session_caches(spark)
    load_all()["llm_dedup_then_lsh"].build(spark, sf_dir).collect()
    df = load_all()["llm_dedup_then_lsh"].build(spark, sf_dir)
    df.count()
    ops = _frame_op_counts(df)
    assert not any(k.startswith("FileSourceScan") for k in ops), ops
    assert not any("ArrowEval" in k or "MapInArrow" in k for k in ops), ops
    assert sum(v for k, v in ops.items() if k.startswith("InMemoryTableScan")) >= 2, ops
    clear_session_caches(spark)


def test_lsh_occupancy_capped_shares_base_and_stays_id_width(spark, sf_dir):
    """The capped face must ride the SAME session-cached LSH base AND
    the session-cached verified pair frame as the other LSH faces
    (InMemoryTableScans after a pair build — one for the occupancy
    ledger over the base, one for the shared pair frame — with no
    second shingling kernel and no re-run of the candidate self-join
    or shingle verify): no CartesianProduct, no file re-scan."""
    from syslog_kafka_spark.operators.session_cache import clear_session_caches

    clear_session_caches(spark)
    # fill the shared base + pair frame the way any sibling LSH face would
    load_all()["llm_minhash_lsh_pairs"].build(spark, sf_dir).collect()
    df = load_all()["llm_lsh_occupancy_capped"].build(spark, sf_dir)
    df.count()
    ops = _frame_op_counts(df)
    assert not any("CartesianProduct" in k for k in ops), ops
    # base + pair frame are read from cache — the shingling Arrow kernel
    # must not rerun
    assert not any("ArrowEval" in k or "MapInArrow" in k for k in ops), ops
    assert sum(v for k, v in ops.items() if k.startswith("InMemoryTableScan")) >= 2, ops
    assert not any(k.startswith("FileSourceScan") for k in ops), ops
    # the verify join-backs live in the cached pair frame; this face's own
    # plan re-joins nothing pair-shaped (ledger-vs-ver is one small join)
    joins = sum(
        n
        for cls, n in ops.items()
        if cls.startswith(("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    )
    assert joins <= 1, ops
    clear_session_caches(spark)


def test_minhash_band_digest_matches_raw_pair_face(spark, sf_dir):
    """Cross-face reconciliation for the r13 digest demotion: the benched
    band digest must account for EXACTLY the pair set the (now
    bench=False) raw face returns — total verified count, jaccard-cents
    mass, and id checksum — and its candidate ledger must cover at least
    the distinct verified pairs. If the digest ever drifts from the pair
    face (a banding or verify change applied to one side only), the
    demotion would silently bench a different operator."""
    import pyspark.sql.functions as F

    from syslog_kafka_spark.operators.session_cache import clear_session_caches

    clear_session_caches(spark)
    try:
        pairs = load_all()["llm_minhash_lsh_pairs"].build(spark, sf_dir)
        digest = load_all()["llm_minhash_band_digest"].build(spark, sf_dir)
        p = pairs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.round(F.col("jaccard"), 4) * 10000, 0).cast("bigint")).alias(
                "jc"
            ),
            F.sum(F.col("id_a") + F.col("id_b")).cast("bigint").alias("ck"),
        ).collect()[0]
        d = digest.agg(
            F.sum("n_verified").alias("n"),
            F.sum("jac_cents").alias("jc"),
            F.sum("id_checksum").alias("ck"),
            F.sum("cand_pairs").alias("cand"),
        ).collect()[0]
        assert (p["n"], p["jc"], p["ck"]) == (d["n"], d["jc"], d["ck"])
        assert d["cand"] >= d["n"]
    finally:
        clear_session_caches(spark)


def test_lsh_cap_sweep_reconciles_with_capped_face_and_uncapped_digest(
    spark, sf_dir
):
    """The cap sweep's row at the PRODUCTION cap (_LSH_CAP — the sweep's
    caps list is derived from it, so this pin can never price the wrong
    setting) must equal llm_lsh_occupancy_capped's per-band digest
    summed, and its largest cap must recover the UNCAPPED pipeline
    exactly (skipped mass 0 at sf0.001, verified mass equal to the band
    digest's) — pinning that the sweep's min-shared-occupancy survivor
    rule is the capped operator's kept-bucket rule, not an approximation
    of it."""
    import pyspark.sql.functions as F

    from syslog_kafka_spark.operators.session_cache import clear_session_caches
    from syslog_kafka_spark.plans.llm import _LSH_CAP

    clear_session_caches(spark)
    try:
        sweep = {
            r["cap"]: r
            for r in load_all()["llm_lsh_cap_sweep"].build(spark, sf_dir).collect()
        }
        capped = (
            load_all()["llm_lsh_occupancy_capped"]
            .build(spark, sf_dir)
            .agg(
                F.sum("n_buckets_capped").alias("nbc"),
                F.sum("cand_kept").alias("kept"),
                F.sum("cand_skipped").alias("skip"),
                F.sum("n_verified").alias("nv"),
                F.sum("jac_cents").alias("jc"),
                F.sum("id_checksum").alias("ck"),
            )
            .collect()[0]
        )
        prod = sweep[_LSH_CAP]
        assert (
            prod["n_buckets_capped"],
            prod["cand_kept"],
            prod["cand_skipped"],
            prod["n_verified"],
            prod["jac_cents"],
            prod["id_checksum"],
        ) == (
            capped["nbc"],
            capped["kept"],
            capped["skip"],
            capped["nv"],
            capped["jc"],
            capped["ck"],
        )
        digest = (
            load_all()["llm_minhash_band_digest"]
            .build(spark, sf_dir)
            .agg(
                F.sum("n_verified").alias("nv"),
                F.sum("jac_cents").alias("jc"),
                F.sum("id_checksum").alias("ck"),
            )
            .collect()[0]
        )
        top = sweep[max(sweep)]
        assert (top["n_verified"], top["jac_cents"], top["id_checksum"]) == (
            digest["nv"],
            digest["jc"],
            digest["ck"],
        )
    finally:
        clear_session_caches(spark)


def test_quality_gate_sweep_single_scan_no_shuffle_joins(spark, sf_dir):
    """The gate-pricing sweep must stay one corpus scan re-aggregated
    against the broadcast thresholds frame: a second documents scan or a
    sort-merge join would mean the sweep re-tokenizes per setting — the
    exact cost the operator exists to avoid."""
    df = load_all()["llm_quality_gate_sweep"].build(spark, sf_dir)
    df.collect()
    ops = _frame_op_counts(df)
    assert sum(v for k, v in ops.items() if k.startswith("FileSourceScan")) == 1, ops
    assert not any(k.startswith("SortMergeJoin") for k in ops), ops
    assert not any(k.startswith("CartesianProduct") for k in ops), ops


def test_unigram_kl_drift_one_corpus_pass_broadcast_pricing(spark, sf_dir):
    """KL drift's (source, term, count) frame is the single corpus pass;
    the source-total and vocab frames re-read it from cache and broadcast
    back into the pricing join — no second explode, no shuffle join."""
    from syslog_kafka_spark.operators.session_cache import clear_session_caches

    clear_session_caches(spark)
    df = load_all()["llm_unigram_kl_drift"].build(spark, sf_dir)
    df.collect()
    ops = _frame_op_counts(df)
    assert not any(k.startswith("FileSourceScan") for k in ops), ops
    assert sum(v for k, v in ops.items() if k.startswith("InMemoryTableScan")) >= 3, ops
    assert sum(v for k, v in ops.items() if k.startswith("BroadcastHashJoin")) >= 2, ops
    assert not any(k.startswith("SortMergeJoin") for k in ops), ops
    clear_session_caches(spark)


def test_ann_recall_audit_cache_served_and_broadcast_hits(spark, sf_dir):
    """The recall audit's three tier faces must all read the ONE
    session-cached embeddings base (single parquet scan at cache fill,
    InMemoryTableScans everywhere else), and the hit join against the
    #queries x k exact set must broadcast, never shuffle the tier rows."""
    from syslog_kafka_spark.operators.session_cache import clear_session_caches

    clear_session_caches(spark)
    df = load_all()["llm_ann_recall_audit"].build(spark, sf_dir)
    df.collect()
    ops = _frame_op_counts(df)
    assert not any(k.startswith("FileSourceScan") for k in ops), ops
    assert sum(v for k, v in ops.items() if k.startswith("InMemoryTableScan")) >= 4, ops
    assert not any(k.startswith("SortMergeJoin") for k in ops), ops
    clear_session_caches(spark)


def test_ann_recall_audit_single_python_pass(spark, sf_dir):
    """The recall audit must derive every tier from the ONE session-cached
    ann_tier_base frame (r14 rework): after the base fills, the audit's
    own plan reads InMemoryTableScans only — no parquet re-scan of the
    embeddings and, critically, no per-tier ArrowEvalPython re-run (the
    SRP bucket and IVF sims UDFs both live inside the cached base's
    single Python pass)."""
    from syslog_kafka_spark.operators.session_cache import clear_session_caches

    clear_session_caches(spark)
    df = load_all()["llm_ann_recall_audit"].build(spark, sf_dir)
    df.count()
    ops = _frame_op_counts(df)
    assert not any("ArrowEval" in k or "MapInArrow" in k for k in ops), ops
    assert not any(k.startswith("FileSourceScan") for k in ops), ops
    assert sum(v for k, v in ops.items() if k.startswith("InMemoryTableScan")) >= 2, ops
    assert not any("CartesianProduct" in k for k in ops), ops
    clear_session_caches(spark)
