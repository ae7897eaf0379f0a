"""Catalog-wide plan-invariant sweep: EVERY entry (not just the ones with
a bespoke guard in test_plans.py) is checked for the three properties
that silently kill 100 TB runs — ordered-but-unpartitioned windows (the
whole table through one task), non-broadcast cartesian products, and
row-at-a-time Python in the plan. A bespoke guard pins a chosen plan
shape; this sweep catches the entry nobody wrote a guard for."""

from __future__ import annotations

import pytest
from _cross_engine import BUILD_EXECUTES

from amazon_macie_activity_generator_spark.queries import QUERIES

# Ordered-unpartitioned windows that are SAFE by cardinality argument —
# each waiver states why one task is acceptable at any data scale.
UNPARTITIONED_WINDOW_WAIVERS = {
    # lag() over month-grain aggregates: cardinality = #months in the
    # data's time range (time-bounded, not data-bounded)
    "mom_revenue_change",
    # row_number() AFTER .limit(20): exactly 20 rows enter the window
    "bpe_pair_counts",
}


def _top_groups(s: str) -> list[str]:
    groups, depth, cur = [], 0, ""
    for ch in s:
        if ch == "[":
            depth += 1
        if ch == "]":
            depth -= 1
        cur += ch
        if depth == 0 and cur.endswith("]"):
            groups.append(cur)
            cur = ""
    return groups


def _window_violations(optimized: str) -> list[str]:
    """Logical Window nodes print as `Window [exprs], [part], [order]`
    (partitioned) or `Window [exprs], [order]` / `Window [exprs], [part]`
    (two groups). A trailing group containing a sort direction is an
    ORDER spec — two groups ending in one means ordered-unpartitioned."""
    out = []
    for ln in optimized.splitlines():
        s = ln.strip().lstrip("+-: ").strip()
        if not s.startswith("Window "):
            continue
        groups = _top_groups(s[len("Window "):])
        if len(groups) < 3 and groups and (
            " ASC" in groups[-1] or " DESC" in groups[-1]
        ):
            out.append(s[:120])
    return out


@pytest.mark.parametrize("name", sorted(set(QUERIES) - BUILD_EXECUTES))
def test_entry_plan_invariants(name, spark, sf_dir):
    fn, _sql = QUERIES[name]
    df = fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    physical = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    wv = _window_violations(optimized)
    if name not in UNPARTITIONED_WINDOW_WAIVERS:
        assert not wv, f"{name}: ordered-unpartitioned window(s): {wv}"
    assert "CartesianProduct" not in physical, (
        f"{name}: non-broadcast cartesian product in physical plan"
    )
    assert "BatchEvalPython" not in physical, (
        f"{name}: row-at-a-time Python UDF in physical plan"
    )
    spark.catalog.clearCache()
