"""The plan masks of ``scripts/catalog_identity.py``: two builds of one
plan hash the same, two different plans do not."""

from __future__ import annotations

import contextlib
import io
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from catalog_identity import _sha, mask  # noqa: E402


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_lambda_variable_numbers_are_masked(spark):
    # each build of a Python-lambda transform draws fresh variable
    # numbers (x_1, then x_2, ...) from the session's counter
    def build(step):
        return spark.range(3).select(F.transform(F.array("id"), lambda v: v + step).alias("a"))

    first, second = _plan(build(1)), _plan(build(1))
    assert "lambda x_" in first and first != second
    assert _sha(mask(first)) == _sha(mask(second))
    assert _sha(mask(first)) != _sha(mask(_plan(build(2))))


def test_lambda_mask_keeps_fixed_names():
    # SQL-text lambdas (``x -> ...``) keep their names; only the counter
    # suffix of a numbered variable goes
    assert mask("lambda x_12#7L + lambda x_3#9") == "lambda x_N#N + lambda x_N#N"
    assert mask("lambda x#7, lambda y#8") == "lambda x#N, lambda y#N"
