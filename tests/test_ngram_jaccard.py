"""operators.dedup.ngram_jaccard_pairs against a pure-Python Jaccard.

The reference tokenizes as ``tokens_expr`` does (lowercase, split on the
Java whitespace class, drop empty tokens) and shingles as
``word_shingles_expr`` does: a document shorter than n words is one
gram, and NULL or empty text is the single gram ''. Jaccard is rounded
half-up to 4 places, as Spark's ``round`` does.
"""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.operators.dedup import (
    JAVA_WS,
    ngram_jaccard_pairs,
)

# (doc_id, block, text): unsorted ids, two blocks, NULL and empty text,
# documents shorter than n words, case and whitespace variants
CORPUS = [
    (907, "a", "the quick brown fox jumps over the lazy dog"),
    (12, "a", "The quick brown fox jumps over a lazy cat"),
    (455, "a", "quick brown fox jumps over the lazy dog today"),
    (3, "a", None),
    (88, "a", ""),
    (41, "a", "two words"),
    (640, "a", "Two\tWORDS"),
    (7, "b", "the quick brown fox jumps over the lazy dog"),
    (5000, "b", "a completely different sentence about spark joins"),
    (19, "b", "a completely different sentence about duckdb joins"),
    (2, "b", "   "),
    (301, "b", None),
    (77, "b", "solo"),
    (56, "b", "different sentence about spark"),
]


def _grams(text: str | None, n: int) -> set[str]:
    toks = [t for t in re.split(f"[{JAVA_WS}]+", (text or "").lower()) if t]
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)}


def _expected(n: int, threshold: float, blocked: bool) -> list[tuple[int, int, float]]:
    out = []
    for (ia, ba, ta), (ib, bb, tb) in combinations(CORPUS, 2):
        if blocked and ba != bb:
            continue
        ga, gb = _grams(ta, n), _grams(tb, n)
        jac = Decimal(repr(len(ga & gb) / len(ga | gb))).quantize(
            Decimal("0.0001"), rounding=ROUND_HALF_UP
        )
        if jac >= Decimal(repr(threshold)):
            out.append((min(ia, ib), max(ia, ib), float(jac)))
    return sorted(out)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, blk string, text string")


@pytest.mark.parametrize("blocked", [True, False], ids=["two_blocks", "no_block"])
@pytest.mark.parametrize("n,threshold", [(3, 0.2), (3, 1.0), (2, 0.05), (1, 0.5)])
def test_ngram_jaccard_pairs_match_python_reference(spark, corpus, blocked, n, threshold):
    pairs = ngram_jaccard_pairs(
        corpus, n=n, threshold=threshold, block_on=F.col("blk") if blocked else None
    )
    assert pairs.columns == ["id_a", "id_b", "jaccard"]
    got = sorted((r.id_a, r.id_b, r.jaccard) for r in pairs.collect())
    want = _expected(n, threshold, blocked)
    assert want, "reference found no pairs: the corpus does not exercise the join"
    assert got == want


def test_ngram_jaccard_pairs_null_and_short_docs_pair_as_expected(spark, corpus):
    """NULL, empty and blank text share the gram '' (Jaccard 1.0 with
    each other within a block); two 2-word docs that differ only in case
    and whitespace are one short-doc gram each, and equal."""
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(corpus, threshold=1.0, block_on=F.col("blk")).collect()
    }
    assert got[(3, 88)] == 1.0
    assert got[(2, 301)] == 1.0
    assert got[(41, 640)] == 1.0
    assert (3, 301) not in got  # different blocks


@pytest.mark.parametrize("threshold", [0.0, -0.5])
def test_ngram_jaccard_pairs_rejects_non_positive_threshold(corpus, threshold):
    with pytest.raises(ValueError, match="threshold > 0"):
        ngram_jaccard_pairs(corpus, threshold=threshold)
