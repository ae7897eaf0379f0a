"""Persist lifecycle for catalog query builders.

Several builders persist per-round intermediates (BPE merge rounds,
PageRank iterations, the triangle-count edge list): the cache bounds
recompute while the SAME invocation's final action runs, but the frames
are dead weight the moment that action finishes. The builders return
lazy DataFrames, so they cannot unpersist at the right moment
themselves — Spark has no "child materialized" callback — and relying
on the bench harness's ``catalog.clearCache()`` leaks cached corpora in
any *composed* use (several builders called in one long-lived session).

``scoped_persist(df, scope)`` makes the leak bounded instead: each frame
registers under its builder's scope, and ``begin_scope(scope)`` — called
on entry to the builder — releases every frame the same builder
registered on its PREVIOUS invocation. Net contract: at most one
invocation's worth of cached state per builder per SESSION, regardless
of how many times the catalog runs; ``release_all()`` drops even that
(the bench harness equivalent of ``clearCache`` scoped to what this
package created).

Spark's ``unpersist`` is keyed by plan, not by DataFrame: a second
``persist()`` of an equal plan reuses the first one's cache entry, and
unpersisting EITHER frame drops that entry for both. So a frame leaving
the registry (evicted by a ``keep`` bound or the session cap, or
released) is unpersisted only when no live tracked frame shares its
entry (``sameSemantics``). The guarantee: a frame ``scoped_persist``
returned stays cached until it is itself evicted or released, or the
caller unpersists or clears the cache — eviction or release of an older
frame with the same plan never un-caches it, so repeat calls of a
``keep=N`` helper on equal inputs keep reading their base from the
cache. Frames persisted outside the registry are not seen: releasing a
tracked frame still drops an equal plan that other code persisted on its
own. Unpersisting a frame that an older, still uncollected result reads
costs that result a recompute, never correctness (lineage is intact).

Registry shape (hardened for long-lived multi-session services): keys
are ``(session token, scope)``, so two sessions running the same builder
never evict each other's live frames; entries whose owning session has
been stopped are pruned on every registry operation (the DataFrame
references would otherwise linger forever — unpersist on a dead session
is a no-op the old code swallowed silently); and every registry
mutation, with the persist and unpersist calls it makes, holds a process
lock, so concurrent builder use from two threads cannot corrupt the
per-scope lists or unpersist an entry a frame is being registered on.
Two threads sharing ONE session and ONE builder can still evict each
other mid-plan — that stays recompute-only by the lineage argument
above.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

# (session token, scope) -> frames registered by that builder in that
# session. The token is id(session); _SESSIONS pins the session object so
# the id cannot be recycled while its entry is live, and lets the prune
# pass ask the session whether it has been stopped.
_TRACKED: dict[tuple[int, str], list[DataFrame]] = {}
_SESSIONS: dict[int, SparkSession] = {}
_LOCK = threading.RLock()

# Upper bound on how many SESSIONS may hold live frames for one scope.
# A service creating a newSession() wrapper per request registers under
# a fresh token each time and never re-enters begin_scope with an old
# wrapper, and wrappers are never individually "stopped" (stop() kills
# the shared context) — so without this cap every wrapper's frames and
# the wrapper object itself would be pinned forever. Evicting the oldest
# session's frames leaves a cache entry a newer session's live frame
# shares in place; otherwise it costs their pending readers a recompute
# (lineage intact), like every other eviction in this module.
_MAX_SESSIONS_PER_SCOPE = 4


def _is_stopped(sess: SparkSession) -> bool:
    # Only a positive stopped signal counts: a classic session whose
    # context nulled its JVM handle (stop() does that). Session kinds
    # that cannot answer — Spark Connect raises on .sparkContext — are
    # treated as LIVE; pruning them would orphan persisted frames while
    # release_scope/release_all still think they were handled.
    try:
        sc = sess.sparkContext
    except Exception:
        return False
    try:
        return sc is None or sc._jsc is None  # stop() nulls the JVM handle
    except Exception:
        return False


def _prune_stopped_locked() -> None:
    """Drop every entry whose owning session is stopped (caller holds _LOCK).

    No unpersist attempted — the backing JVM state died with the session;
    this releases the lingering Python-side DataFrame references.
    """
    dead = [tok for tok, sess in _SESSIONS.items() if _is_stopped(sess)]
    for tok in dead:
        _SESSIONS.pop(tok, None)
        for key in [k for k in _TRACKED if k[0] == tok]:
            _TRACKED.pop(key, None)


def _shares_entry(df: DataFrame, other: DataFrame) -> bool:
    try:
        return df.sameSemantics(other)
    except Exception:
        # a frame whose session is gone cannot hold a live entry
        return False


def _unpersist_unshared_locked(frames: list[DataFrame]) -> None:
    """Unpersist ``frames`` that have left the registry, except those
    whose plan-keyed cache entry a live tracked frame shares (caller
    holds _LOCK, so no frame can register on an entry between the check
    and the unpersist). Non-blocking: the RPC only drops the entry."""
    live = [df for tracked in _TRACKED.values() for df in tracked]
    for df in frames:
        if any(_shares_entry(df, other) for other in live):
            continue
        try:
            df.unpersist(blocking=False)
        except Exception:
            # the owning SparkSession may already be stopped (test
            # teardown) — nothing left to release
            pass


def scoped_persist(df: DataFrame, scope: str, keep: int | None = None) -> DataFrame:
    """Persist ``df`` and register it under ``scope`` for later release.

    ``keep`` bounds the scope to its newest N frames — the form for
    shared operator HELPERS, which may legitimately hold several live
    frames within one composed plan (e.g. incremental dedup builds the
    corpus index and the batch index from the same helper), so a
    begin_scope() on entry would evict a frame the pending plan still
    wants cached. N is chosen per helper as (frames per call) x (a small
    number of concurrently-pending plans). An evicted frame is
    unpersisted only if no live tracked frame shares its cache entry, so
    repeat calls on equal inputs keep the newest frame cached (see the
    module docstring); overflow eviction of a distinct plan only costs
    its pending readers a recompute.
    """
    sess = df.sparkSession
    with _LOCK:
        _prune_stopped_locked()
        df = df.persist()
        tok = id(sess)
        _SESSIONS[tok] = sess
        frames = _TRACKED.setdefault((tok, scope), [])
        frames.append(df)
        evicted: list[DataFrame] = []
        if keep is not None:
            while len(frames) > keep:
                evicted.append(frames.pop(0))
        # cap the sessions holding this scope (oldest registration first;
        # dict order is age). Never evict the registering session's own
        # entry — its key may be old even though it is current.
        other_toks = [t for (t, s) in _TRACKED if s == scope and t != tok]
        for old_tok in other_toks[: max(0, len(other_toks) + 1 - _MAX_SESSIONS_PER_SCOPE)]:
            evicted.extend(_TRACKED.pop((old_tok, scope), []))
            if not any(t == old_tok for (t, _s) in _TRACKED):
                _SESSIONS.pop(old_tok, None)
        _unpersist_unshared_locked(evicted)
    return df


def _pop_keys_locked(keys: list[tuple[int, str]]) -> list[DataFrame]:
    """Pop ``keys`` and trim orphaned session pins; returns the popped
    frames. Caller holds _LOCK (snapshot and pop MUST share one
    acquisition — a frame registered between them would be popped and
    unpersisted while its registering call still considers it
    tracked)."""
    popped = [df for key in keys for df in _TRACKED.pop(key, [])]
    # Drop the session pin once its last tracked scope is gone —
    # newSession() wrappers are never individually "stopped" (stop()
    # kills the shared context), so stopped-pruning alone would pin
    # every short-lived wrapper object here forever.
    live_tokens = {tok for tok, _ in _TRACKED}
    for tok, _ in keys:
        if tok not in live_tokens:
            _SESSIONS.pop(tok, None)
    return popped


def release_scope(scope: str, spark: SparkSession | None = None) -> None:
    """Unpersist every frame registered under ``scope`` (non-blocking),
    except one whose cache entry a live tracked frame shares.

    With ``spark`` given, only that session's frames are released;
    otherwise the scope is released across all sessions (the historical
    single-session behavior, which tests and the bench harness rely on).
    """
    with _LOCK:
        _prune_stopped_locked()
        if spark is not None:
            keys = [(id(spark), scope)]
        else:
            keys = [k for k in _TRACKED if k[1] == scope]
        _unpersist_unshared_locked(_pop_keys_locked(keys))


def begin_scope(scope: str, spark: SparkSession | None = None) -> None:
    """Builder entry hook: supersede the previous invocation's frames.

    Builders pass their own ``spark`` so the release key matches the key
    ``scoped_persist`` derives from ``df.sparkSession`` — the two can
    differ when resolved via ``getActiveSession()`` (newSession()
    wrappers, worker threads with no active session), which would evict
    the WRONG session's frames and leave the builder's own previous
    frames cached forever. The no-argument form falls back to the active
    session, and to releasing the scope everywhere when none resolves —
    a deliberate trade: releasing another session's frames costs its
    pending plans a recompute (and leaves any cache entry a live tracked
    frame shares in place), while skipping the release would leak
    persisted frames, and bounded memory is this module's primary
    contract.
    """
    release_scope(scope, spark if spark is not None else SparkSession.getActiveSession())


def scope_frames(scope: str) -> list[DataFrame]:
    """All live frames registered under ``scope`` across sessions
    (test/introspection accessor — registry order within a session).
    Stopped-session entries are pruned first, matching the module
    contract that every registry operation prunes."""
    with _LOCK:
        _prune_stopped_locked()
        return [df for (_, s), frames in _TRACKED.items() if s == scope for df in frames]


def release_all() -> None:
    """Release every scope this package registered."""
    with _LOCK:
        _unpersist_unshared_locked(_pop_keys_locked(list(_TRACKED)))
