"""ks_value_drift — statistical invariants on constructed corpora.

The degenerate sweep pins cross-engine agreement; these pin that the
statistic itself behaves like a two-sample KS: 0 for identical halves,
1 for disjoint supports, and within (0, 1) for a genuine shift."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from amazon_macie_activity_generator_spark.queries_warehouse import q_ks_value_drift


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, ts, user_id, event_type, value, props)."""
    d = str(tmp_path)
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string"
    )
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    return d


def _rows(spec):
    """spec: list of (event_type, hour_offset, value)."""
    t0 = dt.datetime(2024, 1, 1)
    return [
        (i, t0 + dt.timedelta(hours=h), 1, et, float(v), "{}")
        for i, (et, h, v) in enumerate(spec)
    ]


@pytest.fixture()
def ks(spark, tmp_path):
    def run(spec):
        d = _write_events(spark, tmp_path, _rows(spec))
        return {r.event_type: r for r in q_ks_value_drift(spark, d).collect()}

    return run


def test_identical_halves_give_zero(ks):
    # same value multiset in hours 0-1 (early) and 9-10 (late)
    spec = [("a", h, v) for h in (0, 1) for v in (1, 2, 3)]
    spec += [("a", h, v) for h in (9, 10) for v in (1, 2, 3)]
    out = ks(spec)
    assert out["a"].ks == 0.0
    assert out["a"].n_early == 6 and out["a"].n_late == 6


def test_disjoint_supports_give_one(ks):
    spec = [("a", 0, v) for v in (1, 2, 3)] + [("a", 10, v) for v in (7, 8, 9)]
    out = ks(spec)
    assert out["a"].ks == 1.0


def test_partial_shift_strictly_between(ks):
    # late half shifts one of three values: D = 1/3
    spec = [("a", 0, v) for v in (1, 2, 3)] + [("a", 10, v) for v in (1, 2, 9)]
    out = ks(spec)
    assert out["a"].ks == pytest.approx(1 / 3, abs=1e-6)


def test_single_half_types_drop(ks):
    # type "b" has events only at one timestamp -> early == everything,
    # late empty -> no two-sample statistic
    spec = [("a", 0, 1), ("a", 10, 2), ("b", 5, 1), ("b", 5, 2)]
    out = ks(spec)
    assert "b" not in out
    assert "a" in out
