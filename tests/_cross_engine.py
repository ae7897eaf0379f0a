"""Shared cross-engine comparison protocol for the degenerate-input
sweeps (test_degenerate_corpus.py, test_empty_tables.py) — ONE
definition so the two suites can never apply different strictness —
and the one list of catalog entries whose build executes work.
"""

from __future__ import annotations

import __spark_entry__ as entrymod

# Entries whose BUILD executes work: streaming drains (stateless, stateful
# and the queue replay) and the sink-writing blueprint pipeline. The
# returned DataFrame reads an already-drained result, so the batch sweeps
# (plan, edge-corpus, persist audit) skip them; the drain tests cover them.
BUILD_EXECUTES = frozenset({
    "streaming_tumbling", "streaming_replay", "streaming_dedup",
    "streaming_join", "streaming_left_join", "streaming_append_windows",
    "sessionize_stateful", "blueprint_e2e",
})


def canon(df):
    """Sort by all columns; floats normalized to 9 significant digits —
    strict enough to catch every semantic divergence the sweeps exist
    for, loose enough to ignore last-bit summation-order dust on
    1e12-magnitude aggregates (measured <= 4e-16 relative). The +0.0
    folds IEEE negative zero into positive zero: -0.0 == 0.0 is the SAME
    value, but Spark normalizes the sign through aggregation seeds and
    round() while DuckDB preserves it, and '%.9g' would render them as
    distinct '-0' vs '0'."""
    df = df[sorted(df.columns)]
    for c in df.columns:
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].map(lambda x: f"{x + 0.0:.9g}")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def assert_agree(name, spark, sf_dir, con, what="degenerate input"):
    fn = entrymod.queries()[name]
    s = canon(fn(spark, sf_dir).toPandas())
    d = canon(con.execute(entrymod.oracle_sql()[name]).df())
    assert list(s.columns) == list(d.columns)
    assert s.shape == d.shape, f"{name}: {s.shape} vs {d.shape}"
    s, d = s.astype(str), d.astype(str)
    if not s.equals(d):
        neq = (s != d).any(axis=1)
        raise AssertionError(
            f"{name} diverges on {what} ({int(neq.sum())} rows)\n"
            f"spark:\n{s[neq].head(5).to_string()}\n"
            f"oracle:\n{d[neq].head(5).to_string()}"
        )
    spark.catalog.clearCache()
