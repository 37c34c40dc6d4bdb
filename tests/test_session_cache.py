"""Session-cache LRU policy: bounded entries, storage-level eviction,
alias-safe hits.

The r8 sf10 sweep needed a 48 GiB driver heap because session-lived
``.cache()`` frames accumulated without bound (BENCH_SF10.md);
``operators/session_cache`` is the unpersist policy that replaces the
bigger-heap workaround. These tests pin the behaviors correctness
depends on: a semantically-equal plan with DIFFERENT aliases gets its
own column names back (canonicalization strips names, so returning a
stored frame would be wrong — the r9 self-review catch), eviction
actually releases Spark storage (asserted against the JVM storage
tracker, not just the Python-side dict), an evicted frame still
recomputes, and an externally cleared entry re-fills on the next hit.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from syslog_kafka_spark.operators import session_cache as session_cache_module
from syslog_kafka_spark.operators.session_cache import (
    _CKPTS,
    _LRU,
    clear_session_caches,
    release_checkpoint,
    session_cache,
    session_checkpoint,
)


def _storage_used(spark) -> int:
    """Bytes currently held by persisted RDDs (memory + disk)."""
    jsc = spark.sparkContext._jsc.sc()
    return sum(r.memSize() + r.diskSize() for r in jsc.getRDDStorageInfo())


def _is_cached(df) -> bool:
    """This exact frame resolves to a CacheManager entry (sameResult)."""
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf).isDefined()


def test_same_plan_shares_storage_and_aliases_stay_correct(spark):
    clear_session_caches(spark)
    a = session_cache(spark.range(100).select((F.col("id") * 3).alias("x")))
    # semantically equal plan, DIFFERENT output name: must come back
    # with column 'y' (CacheManager remaps attributes; a stored-frame
    # return would surface 'x' — the bug this pins against)
    b = session_cache(spark.range(100).select((F.col("id") * 3).alias("y")))
    assert b.columns == ["y"]
    assert [r["y"] for r in b.orderBy("y").limit(2).collect()] == [0, 3]
    assert a.columns == ["x"]
    # one LRU entry (same semanticHash); both frames resolve to the SAME
    # CacheManager entry (sameResult dedup), so b reads the cache rather
    # than recomputing
    assert len(_LRU[spark]) == 1
    assert _is_cached(a) and _is_cached(b)
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan, plan[:2000]
    clear_session_caches(spark)


def test_budget_evicts_lru_from_spark_storage(spark, monkeypatch):
    clear_session_caches(spark)
    monkeypatch.setattr(session_cache_module, "CACHE_ENTRIES", 2)
    first = session_cache(spark.range(10).select((F.col("id") + 1).alias("a")))
    session_cache(spark.range(10).select((F.col("id") + 2).alias("b")))
    used_two = _storage_used(spark)
    assert used_two > 0
    session_cache(spark.range(10).select((F.col("id") + 3).alias("c")))
    assert len(_LRU[spark]) == 2  # oldest evicted from the registry
    # ...and from Spark storage itself: 2 entries live, not 3 (unpersist
    # is non-blocking, so poll briefly)
    import time

    for _ in range(50):
        if _storage_used(spark) <= used_two:
            break
        time.sleep(0.1)
    assert _storage_used(spark) <= used_two
    # the evicted frame still computes (eviction is perf, not correctness)
    assert first.count() == 10
    assert [r["a"] for r in first.orderBy("a").limit(3).collect()] == [1, 2, 3]
    clear_session_caches(spark)


def test_hit_refills_after_external_clear_cache(spark):
    """catalog.clearCache() behind our back must not leave a permanently
    cold 'hit': the next session_cache call re-registers + re-fills the
    entry. (Assertions target this frame's CacheManager entry, not the
    global storage tracker — a full-suite run carries other tests'
    checkpointed RDDs that clearCache does not drop.)"""
    clear_session_caches(spark)
    first = session_cache(spark.range(200).select((F.col("id") * 5).alias("v")))
    assert _is_cached(first)
    spark.catalog.clearCache()
    assert not _is_cached(first)  # externally dropped behind our back
    again = session_cache(spark.range(200).select((F.col("id") * 5).alias("v")))
    assert _is_cached(again)  # re-registered (and eagerly re-filled)
    assert again.count() == 200
    clear_session_caches(spark)


def test_clear_session_caches_unpersists_everything(spark):
    clear_session_caches(spark)
    session_cache(spark.range(50).select((F.col("id") * 7).alias("x")))
    session_cache(spark.range(50).select((F.col("id") * 11).alias("y")))
    assert clear_session_caches(spark) == 2
    assert len(_LRU.get(spark, {})) == 0
    assert clear_session_caches(spark) == 0  # idempotent


def test_same_plan_reregister_keeps_one_handle_per_slot(spark):
    """The collision-safe slot (r9 ADVICE) stores a LIST of handles; a
    sameResult re-register must REPLACE its handle, not append — else
    the common hot path (the LSH base, rebuilt per query) grows a slot
    per call and eviction unpersists the live entry N times."""
    clear_session_caches(spark)
    for _ in range(3):
        session_cache(spark.range(64).select((F.col("id") * 13).alias("z")))
    (slot,) = _LRU[spark].values()
    assert len(slot) == 1
    clear_session_caches(spark)


def _persisted_ids(spark) -> set:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def test_session_checkpoint_is_released_by_clear(spark):
    """A managed localCheckpoint registers its pinned RDD ids and
    clear_session_caches releases them — the r9 ADVICE leak (novelty
    curve checkpoints accumulating across probe sweeps)."""
    clear_session_caches(spark)
    before = _persisted_ids(spark)
    ck = session_checkpoint(spark.range(1000).select((F.col("id") % 9).alias("k")))
    assert ck.count() == 1000  # usable while registered
    pinned = _persisted_ids(spark) - before
    assert pinned  # the checkpoint actually pinned storage
    assert clear_session_caches(spark) >= 1
    assert _persisted_ids(spark) & pinned == set()
    assert not _CKPTS.get(spark)


def test_release_checkpoint_frees_one_generation(spark):
    clear_session_caches(spark)
    before = _persisted_ids(spark)
    gen1 = session_checkpoint(spark.range(100).select(F.col("id").alias("a")))
    after1 = _persisted_ids(spark) - before
    gen2 = session_checkpoint(spark.range(100).select((F.col("id") + 1).alias("a")))
    assert release_checkpoint(gen1) is True
    assert release_checkpoint(gen1) is False  # idempotent / unregistered
    assert _persisted_ids(spark) & after1 == set()
    assert gen2.count() == 100  # the live generation is untouched
    clear_session_caches(spark)


def test_release_checkpoint_never_touches_lazy_caches(spark):
    """Regression pin (r10): a lazy session_cache entry materializes its
    column-buffer RDD during the FIRST downstream action — often an
    eager session_checkpoint. The checkpoint's recorded ids must come
    off its LogicalRDD plan node, not a persistent-map diff, or
    release_checkpoint unpersists the live cache and every later
    iteration rebuilds the cached pipeline (the sf10 cohesion-audit
    regression: 2 s → 27 s warm)."""
    from syslog_kafka_spark.operators.session_cache import session_cache

    clear_session_caches(spark)
    base = session_cache(
        spark.range(50000).select((F.col("id") * 3).alias("v")), eager=False
    )
    dep = base.groupBy((F.col("v") % 11).alias("k")).agg(F.sum("v").alias("s"))
    ck = session_checkpoint(dep)  # first action: fills the lazy cache too
    assert ck.count() == 11
    assert release_checkpoint(ck) is True
    # the lazy cache must still hold storage after the release
    jspark = spark._jsparkSession
    in_mem = jspark.sharedState().cacheManager().lookupCachedData(base._jdf)
    assert in_mem.isDefined()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    assert rdds.size() >= 1  # cache buffers survive the checkpoint release
    assert base.count() == 50000
    clear_session_caches(spark)


def test_collision_shaped_slots_evict_every_handle(spark, monkeypatch):
    """Stress the per-slot handle LIST (r10 hardening) through eviction
    under a budget of 2: forge TWO collision-shaped slots — each holding
    a second DISTINCT cached frame, exactly the state a 32-bit
    semanticHash collision produces — then push both out of the LRU and
    assert every handle's storage was released (the pre-r10 bug: a slot
    stored ONE handle, so the displaced plan's storage leaked beyond
    eviction and clear)."""
    clear_session_caches(spark)
    monkeypatch.setattr(session_cache_module, "CACHE_ENTRIES", 2)
    a = session_cache(spark.range(30).select((F.col("id") + 101).alias("a")))
    b = session_cache(spark.range(30).select((F.col("id") + 103).alias("b")))
    foreigners = []
    for df, key in zip((a, b), list(_LRU[spark])):
        f = df.sparkSession.range(30).select(
            (F.col("id") + 1000 + len(foreigners)).alias("f")
        )
        f = f.cache()
        f.count()
        foreigners.append(f)
        _LRU[spark][key].append(f)  # the collision-shaped state
    assert all(_is_cached(f) for f in foreigners)
    # two fresh plans evict both collision slots
    session_cache(spark.range(30).select((F.col("id") + 105).alias("c")))
    session_cache(spark.range(30).select((F.col("id") + 107).alias("d")))
    import time

    for _ in range(50):
        if not any(
            _is_cached(x) for x in (a, b, *foreigners)
        ):
            break
        time.sleep(0.1)
    assert not _is_cached(a) and not _is_cached(b)
    assert not any(_is_cached(f) for f in foreigners)
    assert len(_LRU[spark]) == 2
    clear_session_caches(spark)


def test_dead_handle_gets_best_effort_unpersist_before_drop(spark):
    """r10 ADVICE: when a stored handle's sameResult probe throws, the
    handle must get a best-effort unpersist BEFORE being dropped from
    the slot — silently dropping it would strand its storage beyond
    both eviction and clear."""
    clear_session_caches(spark)
    a = session_cache(spark.range(40).select((F.col("id") + 211).alias("a")))

    class _Boom:
        unpersisted = False

        @property
        def _jdf(self):
            raise RuntimeError("transient Py4J failure")

        def unpersist(self, blocking=False):
            self.unpersisted = True
            return self

    boom = _Boom()
    key = next(iter(_LRU[spark]))
    _LRU[spark][key].append(boom)
    # re-registering the same plan walks the slot, hits the raising
    # handle, and must attempt its unpersist before dropping it
    session_cache(spark.range(40).select((F.col("id") + 211).alias("a")))
    assert boom.unpersisted
    assert all(h is not boom for h in _LRU[spark][key])
    assert _is_cached(a)  # the live handle is untouched
    clear_session_caches(spark)


def test_transient_probe_failure_on_live_handle_repairs_the_cache(spark):
    """Worst case of the best-effort unpersist (review finding): the
    failing handle is ALIVE and sameResult with the incoming frame, so
    the unpersist drops the storage df.cache() just registered. The
    repair re-persist must leave the returned frame cached."""
    clear_session_caches(spark)
    first = session_cache(spark.range(50).select((F.col("id") + 307).alias("a")))
    assert _is_cached(first)

    class _Flaky:
        """Probe raises; unpersist REALLY unpersists the live frame."""

        def __init__(self, real):
            self._real = real

        @property
        def _jdf(self):
            raise RuntimeError("transient Py4J failure")

        def unpersist(self, blocking=False):
            return self._real.unpersist(blocking=blocking)

    key = next(iter(_LRU[spark]))
    _LRU[spark][key] = [_Flaky(_LRU[spark][key][0])]
    again = session_cache(spark.range(50).select((F.col("id") + 307).alias("a")))
    assert _is_cached(again)  # the repair re-registered the dropped entry
    assert again.count() == 50
    clear_session_caches(spark)


def test_one_shot_probe_failure_keeps_colliding_live_handle(spark):
    """r11 ADVICE: a handle that fails its sameResult probe ONCE on a
    transient blip but answers on retry must keep both its slot and its
    storage — it may be a live hash-colliding DISTINCT frame whose cache
    the probe_failed repair (which re-persists only the incoming frame)
    would never restore."""
    clear_session_caches(spark)
    session_cache(spark.range(60).select((F.col("id") + 401).alias("a")))
    foreign = spark.range(60).select((F.col("id") + 403).alias("f"))
    foreign = foreign.cache()
    foreign.count()

    class _FailsOnce:
        """First _jdf access raises (transient), every later one works."""

        def __init__(self, real):
            self._real = real
            self.failures_left = 1
            self.unpersist_called = False

        @property
        def _jdf(self):
            if self.failures_left:
                self.failures_left -= 1
                raise RuntimeError("transient Py4J failure")
            return self._real._jdf

        def unpersist(self, blocking=False):
            self.unpersist_called = True
            return self._real.unpersist(blocking=blocking)

    flaky = _FailsOnce(foreign)
    key = next(iter(_LRU[spark]))
    _LRU[spark][key].append(flaky)  # the collision-shaped state
    session_cache(spark.range(60).select((F.col("id") + 401).alias("a")))
    assert not flaky.unpersist_called  # retry answered; no storage drop
    assert any(h is flaky for h in _LRU[spark][key])  # slot survives
    assert _is_cached(foreign)
    clear_session_caches(spark)


# builders that cache a twice-read partial: each must cache it through the
# LRU so clear_session_caches releases it
_PARTIAL_CACHING_BUILDERS = (
    "tpch_top_supplier_revenue",
    "agg_rollup_cascade",
    "agg_key_skew_audit",
    "llm_mixture_subsample",
    "llm_epoch_upsample_plan",
    "llm_source_overlap_matrix",
    "llm_pq_quantization_audit",
    "llm_embedding_covariance_audit",
)


def test_builder_partials_are_released_by_clear(spark, sf_dir):
    """A raw ``.cache()`` in a builder outlives every sweep boundary: no
    registry holds it, so clear_session_caches cannot release it and its
    storage lives as long as the shared session. After building and
    collecting every partial-caching builder, one clear must leave both
    the CacheManager and the persisted-RDD map as they were."""
    from syslog_kafka_spark.plans.registry import load_all

    clear_session_caches(spark)
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    before = _persisted_ids(spark)
    specs = load_all()
    for name in _PARTIAL_CACHING_BUILDERS:
        assert specs[name].build(spark, sf_dir).collect(), name
    assert not cm.isEmpty()  # the builders did cache their partials
    clear_session_caches(spark)
    assert cm.isEmpty()
    assert _persisted_ids(spark) - before == set()
