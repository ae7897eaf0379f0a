"""Formula translation: whitelist grammar, no eval (SURVEY.md §4.1)."""

from __future__ import annotations

import pytest

from amazon_macie_activity_generator_spark.formula import FormulaError, translate_formula


def test_simple_arithmetic():
    sql, needed = translate_formula("t * 10")
    assert "t" in sql and "10" in sql and not needed


def test_power_and_mod():
    sql, _ = translate_formula("(t ** 2) % 7")
    # floored mod = fmod + divisor-sign correction, not pmod
    assert "power" in sql and "mod(" in sql and "CASE WHEN" in sql


def test_max_datapoints_placeholder():
    sql, needed = translate_formula("(max(datapoints) + 1) ** 2")
    assert needed == {"__datapoints_max__"}
    assert "__datapoints_max__" in sql


def test_math_functions():
    sql, _ = translate_formula("sin(t) + sqrt(abs(t))")
    assert "sin" in sql and "sqrt" in sql and "abs" in sql


def test_mod_matches_python_for_negative_divisors(spark):
    """The SQL translation and the driver-side recurrence interpreter
    evaluate the SAME grammar — Python FLOORED mod must hold in both,
    including negative divisors (pmod would disagree)."""
    from pyspark.sql import functions as F

    from amazon_macie_activity_generator_spark.formula import eval_formula_step

    for formula in ["t % (0 - 3)", "(0 - t) % 3", "t % 3"]:
        sql, _ = translate_formula(formula)
        got = [
            r.v for r in
            spark.range(0, 7).selectExpr("id AS t").select(F.expr(sql).alias("v"))
            .orderBy(F.expr("t")).collect()
        ]
        want = [float(eval_formula_step(formula, t, [])) for t in range(7)]
        assert got == want, (formula, got, want)


def test_negative_base_fractional_power_is_nan_both_sides(spark):
    import math

    from pyspark.sql import functions as F

    from amazon_macie_activity_generator_spark.formula import eval_formula_step

    assert math.isnan(eval_formula_step("(0 - 8) ** 0.5", 0, []))
    sql, _ = translate_formula("(0 - 8) ** 0.5")
    v = spark.range(1).select(F.expr(sql).alias("v")).first().v
    assert v is None or math.isnan(v)


def test_datapoint_max_variable_translates():
    # the reference's anomaly formulas expose `datapoint_max` directly
    # (main.py:636-639); it must map to the same placeholder as
    # max(datapoints)
    sql, needed = translate_formula("datapoint_max * 10")
    assert needed == {"__datapoints_max__"}
    assert "__datapoints_max__" in sql


def test_bool_literal_rejected():
    with pytest.raises(FormulaError):
        translate_formula("t + True")


@pytest.mark.parametrize("bad", [
    "__import__('os').system('rm -rf /')",
    "open('/etc/passwd')",
    "t.__class__",
    "[x for x in range(10)]",
    "lambda: 1",
    "unknown_var + 1",
    "max(t)",          # max only over datapoints
    "t if t else 0",
])
def test_injection_rejected(bad):
    with pytest.raises(FormulaError):
        translate_formula(bad)


def test_formula_evaluates_in_spark(spark):
    from pyspark.sql import functions as F
    sql, _ = translate_formula("t * 2 + 1")
    df = spark.range(5).withColumnRenamed("id", "t").select(F.expr(sql).alias("v"))
    assert [r.v for r in df.collect()] == [1.0, 3.0, 5.0, 7.0, 9.0]


def test_recurrence_interpreter():
    from amazon_macie_activity_generator_spark.formula import (
        FormulaError,
        eval_formula_step,
        eval_recurrence,
    )

    # sum over prefix: doubling recurrence 1, 2, 4, 8...
    assert eval_recurrence("sum(datapoints) + 1", 5) == [1.0, 2.0, 4.0, 8.0, 16.0]
    # len over prefix == t
    assert eval_recurrence("len(datapoints) * 3", 4) == [0.0, 3.0, 6.0, 9.0]
    # max over empty prefix mirrors the reference crash, as a clear error
    import pytest

    with pytest.raises(FormulaError, match="empty prefix"):
        eval_recurrence("max(datapoints) + 1", 3)
    # injection still rejected in the interpreter
    with pytest.raises(FormulaError):
        eval_formula_step("__import__('os')", 0, [])


def test_recurrence_generator_end_to_end(spark):
    from amazon_macie_activity_generator_spark.config import GeneratorSpec
    from amazon_macie_activity_generator_spark.plans.generate import generate_series

    g = GeneratorSpec(
        "rec", "custom",
        {"formula": "sum(datapoints) + 1", "num_points": 10,
         "signal_min": 1, "signal_max": 20},
    )
    vals = [
        r.value for r in generate_series(spark, g, "run").orderBy("t").collect()
    ]
    # raw 1,2,4,...,512 scaled into [1,20]: monotone, endpoints pinned
    assert len(vals) == 10
    assert vals[0] == 1 and vals[-1] == 20
    assert vals == sorted(vals)


def test_non_finite_recurrence_raises_on_both_entry_points(spark):
    """``sum(datapoints) + 1`` doubles every slot and passes the largest
    double after about 1024 slots. Min-max scaling of a series holding
    inf has no defined result, so the product path must fail loudly, not
    emit a series of 1s and 0s."""
    from amazon_macie_activity_generator_spark.config import GeneratorSpec, parse_blueprint
    from amazon_macie_activity_generator_spark.plans.generate import generate, generate_series

    cfg = {"formula": "sum(datapoints) + 1", "num_points": 1100}
    bp = parse_blueprint({"generators": [{"id": "rec", "shape": "custom", "config": cfg}],
                          "targets": []})
    with pytest.raises(ValueError, match="finite"):
        generate(spark, bp, run_id="run").collect()
    with pytest.raises(ValueError, match="finite"):
        generate_series(spark, GeneratorSpec("rec", "custom", cfg), "run").collect()
