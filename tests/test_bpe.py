"""BPE merge-trick correctness pins (queries_text.bpe_merges/bpe_encode).

The catalog entries encode the greedy non-overlapping left-to-right pair
merge as a STRING operation: join tokens with double spaces, literal
replace-all of " w1  w2 " with " w1_w2 ", re-split. The driver oracle
proves Spark == DuckDB, but both run the same trick — these tests prove
the trick itself against an independent token-level reference merge:

- hypothesis: the pure string transform equals the token-walk greedy
  merge on arbitrary token lists / pairs (including w1 == w2 runs and
  tokens that contain each other or underscores);
- one batched Spark job: `_bpe_apply` reproduces the reference merge on
  a fixed adversarial set.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.queries_text import _bpe_apply


def greedy_merge(tokens: list[str], w1: str, w2: str) -> list[str]:
    """Independent reference: one left-to-right pass, merging each
    non-overlapping (w1, w2) adjacency — textbook BPE apply."""
    out, i = [], 0
    while i < len(tokens):
        if i + 1 < len(tokens) and tokens[i] == w1 and tokens[i + 1] == w2:
            out.append(w1 + "_" + w2)
            i += 2
        else:
            out.append(tokens[i])
            i += 1
    return out


def string_trick_merge(tokens: list[str], w1: str, w2: str) -> list[str]:
    """The exact transform both engines run (queries_text._bpe_apply /
    _BPE_DUCK_APPLY), in pure Python."""
    s = "  " + "  ".join(tokens) + "  "
    s = s.replace(f" {w1}  {w2} ", f" {w1}_{w2} ")
    return [t for t in re.split(" +", s) if t != ""]


# Tokens from a tiny alphabet maximize adjacent repeats and
# contains-each-other collisions ("a" vs "aa" vs "a_a").
_token = st.sampled_from(["a", "b", "aa", "ab", "a_b", "b_a", "x"])


@given(
    toks=st.lists(_token, min_size=0, max_size=12),
    w1=_token,
    w2=_token,
)
@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_string_trick_equals_greedy_merge(toks, w1, w2):
    assert string_trick_merge(toks, w1, w2) == greedy_merge(toks, w1, w2)


ADVERSARIAL = [
    # (tokens, pair) — runs of the same token, chained overlaps,
    # containment collisions, pattern at both ends, no-op pairs
    (["a", "a", "a", "a", "a"], ("a", "a")),
    (["a", "a", "a", "a"], ("a", "a")),
    (["a", "b", "a", "b", "a"], ("a", "b")),
    (["b", "a", "b", "a", "b"], ("a", "b")),
    (["aa", "a", "aa", "a"], ("a", "aa")),
    (["a_b", "a", "b", "a_b"], ("a", "b")),
    (["a", "b"], ("a", "b")),
    (["b", "a"], ("a", "b")),
    (["x"], ("a", "b")),
    ([], ("a", "b")),
]


def test_empty_top_pair_is_a_noop_not_a_row_drop(spark):
    """A corpus state with no adjacent pairs yields an EMPTY top-1 frame;
    the apply must degrade to a no-op merge, not silently drop every row
    (the crossJoin-with-empty failure mode)."""
    cur = spark.createDataFrame(
        [(0, ["a"]), (1, []), (2, ["b"])], "case_id long, tk array<string>"
    )
    top = spark.createDataFrame([], "w1 string, w2 string, n long")
    out = _bpe_apply(cur, top, carry=("case_id",))
    got = {r["case_id"]: list(r["tk"]) for r in out.collect()}
    assert got == {0: ["a"], 1: [], 2: ["b"]}


def test_degenerate_corpus_matches_oracle(spark, tmp_path):
    """End-to-end Spark-vs-DuckDB agreement on the corpus the review
    flagged: every document has <= 1 token, so all three merge rounds
    find no pair and both engines must fall back to the same sentinel
    no-op (doc set preserved, n_bpe == n_raw, compression 1.0)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazon_macie_activity_generator_spark.queries_text import (
        SQL_BPE_ENCODE,
        SQL_BPE_MERGES,
        q_bpe_encode,
        q_bpe_merges,
    )

    docs = pa.table({
        "doc_id": pa.array([1, 2, 3], type=pa.int64()),
        "text": pa.array(["alpha", "  beta  ", ""]),
        "lang": pa.array(["en"] * 3),
        "source": pa.array(["s"] * 3),
        "n_chars": pa.array([5, 8, 0], type=pa.int64()),
    })
    pq.write_table(docs, str(tmp_path / "documents.parquet"))

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )

    enc = q_bpe_encode(spark, str(tmp_path)).orderBy("doc_id").collect()
    enc_oracle = con.execute(SQL_BPE_ENCODE + " ORDER BY doc_id").fetchall()
    assert [tuple(r) for r in enc] == enc_oracle
    assert [r["compression"] for r in enc] == [1.0, 1.0, 1.0]

    merges = q_bpe_merges(spark, str(tmp_path)).collect()
    merges_oracle = con.execute(SQL_BPE_MERGES).fetchall()
    assert merges == [] and merges_oracle == []
    spark.catalog.clearCache()


def test_spark_apply_matches_reference_merge(spark):
    """One Spark job over every adversarial case: _bpe_apply's output
    list must equal the token-walk greedy merge. Cases with distinct
    pairs run as separate (tiny) plans unioned into one action."""
    frames = []
    for i, (toks, (w1, w2)) in enumerate(ADVERSARIAL):
        cur = spark.createDataFrame([(i, toks)], "case_id long, tk array<string>")
        top = spark.createDataFrame([(w1, w2, 1)], "w1 string, w2 string, n long")
        frames.append(_bpe_apply(cur, top, carry=("case_id",)))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    got = {r["case_id"]: list(r["tk"]) for r in out.collect()}
    for i, (toks, (w1, w2)) in enumerate(ADVERSARIAL):
        assert got[i] == greedy_merge(toks, w1, w2), (i, toks, w1, w2)
