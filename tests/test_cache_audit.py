"""VERDICT r5 ask #5 — the whole-catalog persist audit: every
``DataFrame.persist()`` issued while building the catalog must go through
``cache.scoped_persist`` (i.e. be registered in a scope, or already
evicted-and-unpersisted by a ``keep=N`` bound), and ``release_all()``
must leave the registry empty. An unscoped persist is an unbounded cache
leak at service lifetimes — exactly the class the r4 leak was.

The audit instruments persist() itself (build-time only, no execution),
so it catches a leak the moment a builder grows one, without
materializing 145 plans.
"""

from __future__ import annotations

import pytest
from _cross_engine import BUILD_EXECUTES

# patch the CONCRETE class: pyspark.sql.DataFrame is the unified v4 API
# base whose persist() the classic subclass overrides — instrumenting the
# base would record nothing
from pyspark.sql.classic.dataframe import DataFrame

from amazon_macie_activity_generator_spark import cache
from amazon_macie_activity_generator_spark.queries import QUERIES


def test_every_catalog_persist_is_scope_registered(spark, sf_dir):
    recorded: list[DataFrame] = []
    orig = DataFrame.persist

    def recording_persist(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        recorded.append(out)
        return out

    DataFrame.persist = recording_persist
    try:
        for name, (fn, _sql) in QUERIES.items():
            if name in BUILD_EXECUTES:  # write sinks, need checkpoint dirs
                continue
            fn(spark, sf_dir)  # build only — plans stay lazy
    finally:
        DataFrame.persist = orig

    with cache._LOCK:
        tracked = {id(f) for frames in cache._TRACKED.values() for f in frames}
    # a recorded frame is fine if it is (a) registered in a live scope or
    # (b) already evicted AND unpersisted (keep=N / begin_scope turnover
    # flips is_cached back off on the same object)
    leaks = [df for df in recorded if id(df) not in tracked and df.is_cached]
    assert not leaks, (
        f"{len(leaks)} persist() calls bypassed scoped_persist (or were "
        f"evicted without unpersist): {[d.columns for d in leaks]}"
    )
    assert recorded, "audit vacuous: no builder persisted anything"

    cache.release_all()
    with cache._LOCK:
        assert not cache._TRACKED, "release_all left registered frames behind"
    assert not any(df.is_cached for df in recorded), (
        "release_all left persisted frames cached"
    )


@pytest.fixture(autouse=True)
def _clean_registry():
    yield
    cache.release_all()
