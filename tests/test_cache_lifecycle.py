"""Persist-lifecycle contract (cache.py): composed catalog use in one
long-lived session must not accumulate cached corpora.

Round-4 defect: the BPE / PageRank / triangle builders persisted
per-round intermediates and relied on the bench harness's
``catalog.clearCache()``; calling several builders (or one builder
repeatedly) in one session leaked a cached corpus copy per round per
call. The scoped registry bounds that to one invocation's worth of
frames per builder.
"""

from __future__ import annotations

from amazon_macie_activity_generator_spark.cache import (
    release_all,
    release_scope,
    scope_frames,
    scoped_persist,
)


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _drain_to(spark, n: int, timeout_s: float = 15.0) -> int:
    """Wait for the JVM's persistent-RDD count to drain to <= n.

    Two async sources make an immediate count racy: cache.py unpersists
    with blocking=False BY DESIGN (release paths must not stall on RPC),
    and ``localCheckpoint()`` RDDs (the connected-components lineage cuts
    in operators/dedup.py) are NOT registry frames at all — Spark frees
    them via the ContextCleaner when their references are GC'd, so plans
    built by an EARLIER test in the same session can leave persistent
    RDDs that vanish whenever the next GC happens to run. Poll with a
    GC nudge instead of asserting on either race."""
    import gc
    import time

    deadline = time.monotonic() + timeout_s
    count = _n_cached(spark)
    nudged = False
    while count > n and time.monotonic() < deadline:
        if not nudged:
            # drop lingering python refs, then ask the JVM to GC so the
            # ContextCleaner's weak refs fire for checkpoint RDDs
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            nudged = True
        time.sleep(0.2)
        count = _n_cached(spark)
    return count


def test_repeat_invocations_bounded(spark, sf_dir):
    """Running bpe_merges + bpe_encode + triangle_count twice each caches
    no more than one invocation's frames per builder."""
    from amazon_macie_activity_generator_spark.queries_warehouse import q_triangle_count
    from amazon_macie_activity_generator_spark.queries_text import (
        q_bpe_encode,
        q_bpe_merges,
    )

    release_all()
    spark.catalog.clearCache()
    # baseline: alien persistent RDDs this test does not own — e.g.
    # GC-pending localCheckpoint RDDs from OTHER tests' plan builds in
    # the shared session (release_all has no claim over those)
    baseline = _drain_to(spark, 0)
    builders = (q_bpe_merges, q_bpe_encode, q_triangle_count)
    for b in builders:
        b(spark, sf_dir).collect()
    first = _n_cached(spark)
    # second composed pass: begin_scope must release the first pass's
    # frames, so the cached count does NOT grow
    for b in builders:
        b(spark, sf_dir).collect()
    assert _drain_to(spark, first) <= first
    # per-scope accounting matches: one invocation's worth each
    assert len(scope_frames("bpe_merges")) == 3  # t1, t2, t3
    assert len(scope_frames("bpe_encode")) == 4  # t1..t4 (doc_id carried)
    assert len(scope_frames("triangle_count")) == 1  # out_adj (r13 form)
    release_all()
    assert _drain_to(spark, baseline) <= baseline


def test_release_scope_is_isolated(spark):
    df_a = scoped_persist(spark.range(5), "scope_a")
    df_b = scoped_persist(spark.range(7), "scope_b")
    df_a.count(), df_b.count()
    assert _n_cached(spark) >= 2
    release_scope("scope_a")
    assert scope_frames("scope_a") == []
    assert any(d is df_b for d in scope_frames("scope_b"))
    release_scope("scope_b")


def test_keep_trims_oldest(spark):
    frames = [scoped_persist(spark.range(i + 1), "trim", keep=2) for i in range(5)]
    assert len(scope_frames("trim")) == 2
    assert scope_frames("trim") == frames[-2:]
    # evicted frames recompute fine (lineage intact)
    assert frames[0].count() == 1
    release_scope("trim")


def test_release_all_after_operator_helpers(spark, sf_dir):
    """Operator helpers (minhash/banded/embedding bases) register with a
    keep bound and release_all() drops everything they cached."""
    from amazon_macie_activity_generator_spark.queries_text import q_dedup_minhash
    from amazon_macie_activity_generator_spark.queries_text import q_dedup_incremental

    release_all()
    spark.catalog.clearCache()
    baseline = _drain_to(spark, 0)
    q_dedup_minhash(spark, sf_dir).collect()
    q_dedup_incremental(spark, sf_dir).collect()
    release_all()
    assert _drain_to(spark, baseline) <= baseline


def test_registry_keyed_by_session(spark):
    """Two sessions running the same builder scope do not evict each
    other: release_scope(scope, spark=A) leaves B's frames cached, and a
    session-scoped begin_scope (what builders call) only supersedes the
    ACTIVE session's previous invocation."""
    from amazon_macie_activity_generator_spark import cache

    other = spark.newSession()
    df_a = scoped_persist(spark.range(3), "two_sessions")
    df_b = scoped_persist(other.range(4), "two_sessions")
    assert len(scope_frames("two_sessions")) == 2
    release_scope("two_sessions", spark=spark)
    live = scope_frames("two_sessions")
    assert df_a not in live and any(d is df_b for d in live)
    # registry keys carry the owning session token
    with cache._LOCK:
        assert (id(other), "two_sessions") in cache._TRACKED
        assert (id(spark), "two_sessions") not in cache._TRACKED
    release_scope("two_sessions")
    assert scope_frames("two_sessions") == []


def test_session_cap_bounds_wrapper_leak(spark):
    """A service creating a newSession() wrapper per request (fresh token
    each time, never stopped, never re-entering begin_scope) must not
    accumulate frames without bound: the per-scope session cap evicts the
    oldest sessions' frames, keeping at most _MAX_SESSIONS_PER_SCOPE
    sessions' worth — and the evicted sessions' registry pins go too."""
    from amazon_macie_activity_generator_spark import cache

    release_all()
    cap = cache._MAX_SESSIONS_PER_SCOPE
    wrappers = [spark.newSession() for _ in range(cap + 3)]
    for w in wrappers:
        scoped_persist(w.range(2), "per_request")
    assert len(scope_frames("per_request")) == cap
    with cache._LOCK:
        toks = {t for (t, s) in cache._TRACKED if s == "per_request"}
        # the survivors are the NEWEST cap sessions
        assert toks == {id(w) for w in wrappers[-cap:]}
        # evicted wrappers' session pins are gone (no other scope holds them)
        assert all(id(w) not in cache._SESSIONS for w in wrappers[:-cap])
    # the registering session's own entry is never evicted by its own call
    for _ in range(3):
        scoped_persist(wrappers[-1].range(2), "per_request")
    with cache._LOCK:
        assert (id(wrappers[-1]), "per_request") in cache._TRACKED
    release_all()
    spark.catalog.clearCache()


def test_stopped_sessions_are_pruned(spark, monkeypatch):
    """Entries whose owning session is stopped drop out of the registry
    on the next registry operation instead of lingering forever."""
    from amazon_macie_activity_generator_spark import cache

    release_all()
    scoped_persist(spark.range(2), "prune_me")
    assert len(scope_frames("prune_me")) == 1
    monkeypatch.setattr(cache, "_is_stopped", lambda sess: True)
    # any mutating registry op prunes dead-session entries
    release_scope("some_unrelated_scope")
    assert scope_frames("prune_me") == []
    with cache._LOCK:
        assert cache._TRACKED == {} and cache._SESSIONS == {}
    monkeypatch.undo()
    spark.catalog.clearCache()  # drop the orphaned (never-unpersisted) frame


def _is_cached(df) -> bool:
    from pyspark import StorageLevel

    return df.storageLevel != StorageLevel.NONE


def test_keep_bound_keeps_newest_equal_plan_cached(spark):
    """Spark's unpersist is keyed by plan: equal plans share one cache
    entry, so evicting the oldest of several equal-plan frames must not
    unpersist it while a newer tracked frame still holds it."""
    release_all()
    spark.catalog.clearCache()
    frames = [scoped_persist(spark.range(11), "equal_plans", keep=2) for _ in range(4)]
    assert scope_frames("equal_plans") == frames[-2:]
    assert _is_cached(frames[-1])
    assert frames[-1].count() == 11
    # once the last tracked frame goes, the shared entry goes with it
    release_scope("equal_plans")
    assert not _is_cached(frames[-1])


def test_release_keeps_entry_shared_with_another_scope(spark):
    release_all()
    spark.catalog.clearCache()
    scoped_persist(spark.range(13), "released")
    live = scoped_persist(spark.range(13), "still_live")
    release_scope("released")
    assert _is_cached(live)
    release_all()
    assert not _is_cached(live)


def test_third_embedding_near_dup_build_reads_cache(spark, sf_dir):
    """embedding_near_dup persists its SRP base under keep=2. From the
    third build in one session the eviction of the first build's base
    used to un-cache the new one, so every branch recomputed the base,
    Arrow UDF included."""
    from amazon_macie_activity_generator_spark.queries_vectors import q_embedding_near_dup

    release_all()
    spark.catalog.clearCache()
    for _ in range(3):
        df = q_embedding_near_dup(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert len(scope_frames("embedding_near_dup")) == 2
    release_all()


def test_session_cap_keeps_newest_equal_plan_cached(spark):
    """The session-cap path: equal plans registered from newSession()
    wrappers share one cache entry (the cache manager is per context),
    so evicting the oldest wrappers' frames must leave it in place."""
    from amazon_macie_activity_generator_spark import cache

    release_all()
    spark.catalog.clearCache()
    wrappers = [spark.newSession() for _ in range(cache._MAX_SESSIONS_PER_SCOPE + 2)]
    frames = [scoped_persist(w.range(17), "per_request_equal") for w in wrappers]
    assert len(scope_frames("per_request_equal")) == cache._MAX_SESSIONS_PER_SCOPE
    assert _is_cached(frames[-1])
    assert "InMemoryTableScan" in frames[-1]._jdf.queryExecution().executedPlan().toString()
    release_all()
    assert not _is_cached(frames[-1])


def test_concurrent_release_never_uncaches_a_registered_equal_plan(spark):
    """One thread re-registers a plan under its scope while another
    registers and releases the same plan under its own: a frame must be
    cached from the moment scoped_persist returns it. A persist racing
    the other thread's unpersist outside the registry lock would drop
    the shared entry under the new frame."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    release_all()
    spark.catalog.clearCache()
    rounds = 150

    def hold():
        misses = 0
        for _ in range(rounds):
            release_scope("hold")
            misses += not _is_cached(scoped_persist(spark.range(19), "hold"))
        return misses

    def churn():
        for _ in range(rounds):
            scoped_persist(spark.range(19), "churn")
            release_scope("churn")
        return 0

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=2) as ex:
            futs = [ex.submit(hold), ex.submit(churn)]
            misses = sum(fut.result(timeout=120) for fut in futs)
    finally:
        sys.setswitchinterval(interval)
    assert misses == 0
    release_all()
