"""The catalog's build-executing entries clean up after themselves.

A streaming drain that outlives ``DRAIN_TIMEOUT_S`` must stop its query
and raise instead of handing back the micro-batches delivered so far,
and no build — finished or timed out — may leave a work directory, a
memory-sink temp view or a running query behind: at service lifetimes
each of those is an unbounded leak (a full source copy on disk, or the
drained rows pinned in the driver)."""

from __future__ import annotations

import tempfile

import pytest
from _cross_engine import BUILD_EXECUTES

from amazon_macie_activity_generator_spark.queries import QUERIES
from amazon_macie_activity_generator_spark.streaming import replay

# every build-executing entry but the blueprint pipeline drains a stream
STREAMING_DRAINS = sorted(BUILD_EXECUTES - {"blueprint_e2e"})


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("name", STREAMING_DRAINS)
def test_drain_raises_on_timeout_and_leaves_nothing(
    name, spark, sf_dir, tmp_path, monkeypatch
):
    monkeypatch.setattr(replay, "DRAIN_TIMEOUT_S", 0.001)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    views = _temp_views(spark)
    fn, _sql = QUERIES[name]
    with pytest.raises(TimeoutError, match="did not finish"):
        fn(spark, sf_dir)
    assert not spark.streams.active
    assert not list(tmp_path.iterdir())
    assert _temp_views(spark) == views


@pytest.mark.parametrize("name", sorted(BUILD_EXECUTES))
def test_build_leaves_no_residue(name, spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    views = _temp_views(spark)
    fn, _sql = QUERIES[name]
    # the rows must outlive the work directory they were drained through
    assert fn(spark, sf_dir).collect()
    assert not list(tmp_path.iterdir())
    assert _temp_views(spark) == views
    assert not spark.streams.active
