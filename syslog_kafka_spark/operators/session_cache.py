"""Bounded session-level cache registry for expensive materialized frames.

The engine deliberately caches a handful of expensive intermediates for
the life of a session (the LSH shingle/signature base, n-gram hash
frames, IVF-assigned embeddings) because N concurrent map stages racing
a COLD cache each recompute it (measured 36 s vs 16 s at sf1,
``operators/dedup.py``). Raw ``.cache()`` made that working set
UNBOUNDED: a long session sweeping many queries (or many scale factors)
accumulates every distinct cached plan until the driver heap dies — the
r8 sf10 sweep needed a 48 GiB driver heap plus manual
``catalog.clearCache()`` between queries (BENCH_SF10.md). A real
long-lived session needs an unpersist policy, not a bigger heap.

:func:`session_cache` is that policy: an LRU of eviction HANDLES keyed
by Catalyst's ``semanticHash`` of the analyzed plan, per parent session
(``session.parent_session``: a session and its children share one;
weakly referenced, so a stopped session drops its registry). Hitting
the entry budget unpersists the least-recently-used frame BEFORE the
new one is filled, so the persisted peak never exceeds the budget.
Re-requesting an evicted plan simply re-caches and re-fills it —
eviction is a performance event, never a correctness one.

Storage identity and output naming belong to Spark's CacheManager, not
this module: every call returns the CALLER's own ``df.cache()`` (the
CacheManager dedups storage across ``sameResult`` plans and remaps
output attributes itself), never a previously stored DataFrame —
canonicalization strips alias names, so handing back another call's
frame could surface the wrong column names for a semantically-equal
plan. The LRU stores one representative frame per hash purely as the
unpersist handle. The eager fill runs on every call: on an
already-persisted entry it is a cheap cached count, and it transparently
re-fills an entry some outside actor (``catalog.clearCache()``, a
manual ``unpersist``) dropped behind our back.

On a 1000-executor cluster the same policy applies to executor storage
memory: each cached base is a materialized intermediate a warehouse
would spill to a temp table; bounding the number of live ones keeps
storage-memory pressure constant regardless of how many distinct
queries a session runs.

Budget is entries, not bytes: the heavy frames routed here are
O(corpus) per-document arrays at the SAME scale factor within a
session, so entry-count is a faithful proxy and avoids a
size-estimation pass. A builder's small twice-read partial (a per-key
aggregate behind a cache barrier) comes through here too, often lazily
(``eager=False``), and takes one entry: eviction and
:func:`clear_session_caches` can release only what this registry
holds, never a raw ``.cache()``. :data:`CACHE_ENTRIES` is 12 —
comfortably above the ~6 distinct bases one bench sweep touches per
scale factor, small enough that two scale factors' worth cannot pile
up.
"""

from __future__ import annotations

from collections import OrderedDict
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

from syslog_kafka_spark.session import parent_session

# Both registries key on ``parent_session``: a child session shares its
# parent's CacheManager and context, so one LRU serves the whole family,
# and clearing the parent releases what a query cached on its child.
_LRU: WeakKeyDictionary = WeakKeyDictionary()  # SparkSession -> OrderedDict
# SparkSession -> list[(checkpointed frame, frozenset of persisted RDD ids)]
_CKPTS: WeakKeyDictionary = WeakKeyDictionary()

# LRU budget: distinct cached plans per parent session
CACHE_ENTRIES = 12


def session_cache(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Cache ``df`` under the session LRU budget; eagerly fill by default.

    Returns ``df.cache()`` itself — storage dedup across same-plan calls
    is the CacheManager's job (``sameResult`` + attribute remap), and the
    caller always sees its own column names. The LRU only bounds how many
    distinct plans stay persisted, evicting the least-recently-used via
    non-blocking unpersist BEFORE the incoming frame is materialized.

    Each LRU slot holds a LIST of handles: ``semanticHash`` is 32-bit,
    and on a hash collision two genuinely different plans would share
    one slot — replacing the stored handle would strand the displaced
    plan's persisted storage beyond the reach of both eviction and
    :func:`clear_session_caches`. A new frame replaces only a stored
    handle whose analyzed plan is ``sameResult``; a colliding distinct
    plan is appended, and eviction unpersists every handle in the slot
    (a collision over-counts the slot as one budget entry — acceptable
    for a 1-in-4-billion event; a silent leak is not).
    """
    lru: OrderedDict = _LRU.setdefault(parent_session(df.sparkSession), OrderedDict())
    analyzed = df._jdf.queryExecution().analyzed()
    key = analyzed.semanticHash()
    cached = df.cache()
    # Re-register (or register) this plan as most-recently-used, keeping
    # any hash-colliding foreign handles alive in the same slot. The
    # stored frames are only eviction handles; unpersisting one drops the
    # storage shared by every sameResult plan.
    slot = lru.pop(key, None) or []
    kept = []
    probe_failed = False
    for handle in slot:
        # Probe twice: a handle that fails ONCE on a transient Py4J hiccup
        # but answers on retry keeps its slot (and, when it is a live
        # hash-colliding DISTINCT plan, its storage — the r11 ADVICE gap:
        # the probe_failed repair below re-persists only ``cached``, so a
        # colliding foreign frame unpersisted on a transient blip would
        # silently lose its cache).
        same = None
        for _attempt in range(2):
            try:
                same = handle._jdf.queryExecution().analyzed().sameResult(analyzed)
                break
            except Exception:
                continue
        if same is None:
            # Dead or unreadable handle (JVM-side frame gone, or a
            # persistent Py4J failure). Dropping it from the slot makes its
            # storage unreachable by eviction/clear, so best-effort
            # unpersist first — a no-op on a truly dead frame.
            _unpersist([handle])
            probe_failed = True
            continue
        if not same:
            kept.append(handle)
    kept.append(cached)
    lru[key] = kept
    if probe_failed:
        # If the failed probe's handle was in fact ALIVE and sameResult
        # with the incoming frame (a transient failure, not a dead JVM
        # frame), the unpersist above just dropped the storage the
        # df.cache() call registered. Re-persisting is the idempotent
        # repair: a no-op when the entry survived, a re-registration
        # when it did not — either way the eager fill below lands in a
        # live cache entry.
        try:
            cached.persist()
        except Exception:
            pass
    # Evict BEFORE the eager fill so the persisted peak stays at the
    # budget — filling first would transiently hold budget+1 corpus-sized
    # frames, exactly the spike the policy exists to prevent.
    while len(lru) > CACHE_ENTRIES:
        _unpersist(lru.popitem(last=False)[1])
    if eager:
        # Eager fill: concurrent downstream stages race a cold cache and
        # each recompute the plan; one count() fills it in a single pass.
        # On an already-persisted entry this is a cheap cached count, and
        # it re-fills an entry an outside clearCache() dropped.
        cached.count()
    return cached


def session_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` with a managed release handle.

    localCheckpoint pins ONE materialization of a nondeterministic
    exchange (sampled range bounds, ``spark_partition_id``) — a cache
    entry cannot do that job, because LRU eviction would silently
    re-execute the plan with different placements and corrupt any
    offsets derived from the first run. But the pinned RDD lives outside
    the CacheManager, so a bare ``localCheckpoint`` accumulates executor
    storage forever (the r9 ADVICE leak: repeated novelty-curve builds
    across a probe sweep). This wrapper records the checkpointed RDD's
    id — read EXACTLY off the returned frame's LogicalRDD plan node, not
    inferred — so :func:`clear_session_caches` can release it between
    queries.

    The id must be exact, never a before/after diff of the context's
    persistent-RDD map: lazy ``session_cache(..., eager=False)`` entries
    register their column-buffer RDDs at FIRST materialization, which is
    often the eager checkpoint action itself, and a diff attributes
    those cache RDDs to the checkpoint — ``release_checkpoint`` then
    unpersists a live cache mid-loop and every later iteration rebuilds
    the cached pipeline from scratch (measured: the sf10 cohesion audit
    went 42 s → 117 s cold, 2 s → 27 s warm, under the diff version).

    NOT an LRU: unpersisting a local checkpoint truncated its lineage —
    a later read fails outright rather than recomputing — so eviction
    can never be a mid-use event. Release happens only at the explicit
    sweep boundary, where no returned frame is still live.
    """
    ck = df.localCheckpoint(eager=True)
    try:
        # localCheckpoint returns a frame whose analyzed plan IS the
        # LogicalRDD over the pinned RDD.
        ids = frozenset([int(ck._jdf.queryExecution().analyzed().rdd().id())])
    except Exception:
        ids = frozenset()  # unexpected plan shape: keep the frame, leak one RDD
    _CKPTS.setdefault(parent_session(df.sparkSession), []).append((ck, ids))
    return ck


def release_checkpoint(ck: DataFrame) -> bool:
    """Release one :func:`session_checkpoint` frame's pinned RDDs NOW.

    For iterative algorithms (connected components) where generation k+1
    is a fully-materialized copy and generation k's pinned storage is
    dead weight the moment the new checkpoint fills — releasing in-loop
    keeps the pinned peak at two generations instead of
    O(iterations) × corpus. The frame must not be read again (a local
    checkpoint cannot recompute). Returns False if ``ck`` is not a
    registered checkpoint (already released, or never managed)."""
    ckpts: list | None = _CKPTS.get(parent_session(ck.sparkSession))
    for i, (frame, ids) in enumerate(ckpts or ()):
        if frame is ck:
            _unpersist_rdds(ck.sparkSession, ids)
            ckpts.pop(i)
            return True
    return False


def _unpersist(frames: list[DataFrame]) -> None:
    for frame in frames:
        try:
            frame.unpersist(blocking=False)
        except Exception:
            pass  # a dead frame, or a session shutting down


def _unpersist_rdds(spark: SparkSession, ids: frozenset) -> None:
    """Unpersist the persisted RDDs among ``ids``."""
    try:
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in ids:
            handle = rdds.get(rid)
            if handle is not None:
                handle.unpersist(False)
    except Exception:
        pass  # a session shutting down mid-release


def release_session_checkpoints(spark: SparkSession) -> int:
    """Release EVERY registered checkpoint's pinned RDDs, keep the LRU.

    The sweep-boundary call for harnesses that WANT warm caches across
    queries (bench.py: the LRU budget already bounds cache storage, and
    cross-query cache reuse is part of what the sweep measures) but must
    not accumulate checkpoint pins — checkpoints are per-build artifacts
    that no later query can ever reuse (a new build makes new frames),
    so between queries they are pure dead weight. Returns the number of
    checkpoint frames released.
    """
    ckpts: list = _CKPTS.get(parent_session(spark)) or []
    for _frame, ids in ckpts:
        _unpersist_rdds(spark, ids)
    n = len(ckpts)
    ckpts.clear()
    return n


def clear_session_caches(spark: SparkSession) -> int:
    """Unpersist every frame and checkpoint this registry holds for
    ``spark``, its parent and their child sessions.

    For sweep harnesses (scripts/sf10_probe.py) that previously needed
    ``catalog.clearCache()`` — this drops only the engine's own entries,
    leaving caller-managed caches alone. Returns the number evicted.
    """
    n = 0
    lru: OrderedDict | None = _LRU.get(parent_session(spark))
    while lru:
        _unpersist(lru.popitem(last=False)[1])
        n += 1
    return n + release_session_checkpoints(spark)
