"""G1-G6 semantics vs the reference's documented behavior (SURVEY.md §2.2)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.config import GeneratorSpec
from amazon_macie_activity_generator_spark.operators import generators as G
from amazon_macie_activity_generator_spark.plans.generate import generate_series


def values(df):
    return [r.value for r in df.orderBy("t").collect()]


def raw_expr(shape, cfg, n, t):
    """One series' raw value expression, its parameters as literals."""
    key, params = G.shape_params(shape, cfg, n)
    return G.shape_expr(key, {k: F.lit(v) for k, v in params.items()}, t, F.lit("r"), F.lit("s"))


def test_constant(spark):
    g = GeneratorSpec("c1", "constant", {"constant": 7, "num_points": 5})
    assert values(generate_series(spark, g, "run")) == [7.0] * 5


def test_constant_default(spark):
    g = GeneratorSpec("c1", "constant", {"num_points": 3})
    assert values(generate_series(spark, g, "run")) == [1.0] * 3


def test_square_readme_example(spark):
    # README.md:135: low 10 width 2, high 40 width 3 -> 10,10,40,40,40,...
    g = GeneratorSpec(
        "sq", "square",
        {"low_value": 10, "low_width": 2, "high_value": 40, "high_width": 3, "num_points": 7},
    )
    assert values(generate_series(spark, g, "run")) == [10, 10, 40, 40, 40, 10, 10]


def test_square_truncates(spark):
    g = GeneratorSpec("sq", "square", {"low_width": 3, "high_width": 3, "high_value": 5, "num_points": 4})
    assert values(generate_series(spark, g, "run")) == [0, 0, 0, 5]


def test_sinusoidal_scaled_range(spark):
    g = GeneratorSpec(
        "sin", "sinusoidal",
        {"frequency": 0.037, "num_points": 100, "signal_min": 1, "signal_max": 20},
    )
    vals = values(generate_series(spark, g, "run"))
    assert len(vals) == 100
    assert min(vals) == 1 and max(vals) == 20  # min-max rescale hits both ends


def test_sinusoidal_grid_matches_linspace(spark):
    # TimeSynth grid: t_k = k * N/(N-1); raw sin before scaling
    n, f = 10, 0.1
    df = G.time_grid(spark, n).withColumn("v", raw_expr("sinusoidal", {"frequency": f}, n, F.col("t")))
    got = [r.v for r in df.orderBy("t").collect()]
    step = n / (n - 1)
    want = [math.sin(2 * math.pi * f * k * step) for k in range(n)]
    assert got == pytest.approx(want)


def test_custom_formula(spark):
    g = GeneratorSpec("cf", "custom", {"formula": "t * 10", "num_points": 10,
                                       "signal_min": 0, "signal_max": 90})
    vals = values(generate_series(spark, g, "run"))
    # t*10 rescaled into [0,90] with ceil: identical to original series
    assert vals == [0, 10, 20, 30, 40, 50, 60, 70, 80, 90]


def test_custom_constant_formula_no_nan(spark):
    # B4: constant input to scale_range must clamp to signal_min, not NaN
    g = GeneratorSpec("cf", "custom", {"formula": "10000", "num_points": 4,
                                       "signal_min": 3, "signal_max": 20})
    assert values(generate_series(spark, g, "run")) == [3, 3, 3, 3]


def test_random_uniform_scaled(spark):
    g = GeneratorSpec("r", "random", {"type": "uniform", "num_points": 200,
                                      "signal_min": 1, "signal_max": 20})
    vals = values(generate_series(spark, g, "run"))
    assert len(vals) == 200
    assert all(1 <= v <= 20 for v in vals)
    assert len(set(vals)) > 5  # actually random-ish


def test_random_deterministic_across_runs(spark):
    g = GeneratorSpec("r", "random", {"type": "uniform", "num_points": 50})
    a = values(generate_series(spark, g, "runX"))
    b = values(generate_series(spark, g, "runX"))
    c = values(generate_series(spark, g, "runY"))
    assert a == b  # same identity -> same draws
    assert a != c  # different run -> different draws


def test_random_triangular_in_signal_range_unscaled(spark):
    g = GeneratorSpec("r", "random", {"type": "triangular", "num_points": 300,
                                      "signal_min": 5, "signal_max": 10})
    vals = values(generate_series(spark, g, "run"))
    assert all(5 <= v <= 10 for v in vals)


@pytest.mark.parametrize("rtype,params", [
    ("gauss", {"mu": 0.0, "sigma": 1.0}),
    ("normalvariate", {"mu": 5.0, "sigma": 2.0}),
    ("lognormvariate", {"mu": 0.0, "sigma": 0.5}),
    ("expovariate", {"lambda": 1.5}),
    ("paretovariate", {"alpha": 2.5}),
    ("weibullvariate", {"alpha": 1.0, "beta": 1.5}),
    ("gammavariate", {"alpha": 2.0, "beta": 2.0}),
    ("betavariate", {"alpha": 2.0, "beta": 3.0}),
    ("vonmisesvariate", {"mu": 0.0, "kappa": 4.0}),
])
def test_random_distributions_produce_scaled_series(spark, rtype, params):
    # B1 fix: ALL documented distributions work (reference crashes on most)
    cfg = {"type": rtype, "num_points": 100, "signal_min": 1, "signal_max": 20, **params}
    g = GeneratorSpec("r", "random", cfg)
    vals = values(generate_series(spark, g, "run"))
    assert len(vals) == 100
    assert all(1 <= v <= 20 for v in vals)


def test_counter_rng_uniform(spark):
    # cross-engine counter RNG (functions/rng.py counter_int31): raw unit
    # draws are uniform-ish — chi-square over 20 bins, n=2000, loose 99.9%
    # critical value (~43.8 at 19 dof)
    from amazon_macie_activity_generator_spark.functions.rng import counter_unit

    n, bins = 2000, 20
    df = G.time_grid(spark, n).select(
        F.floor(counter_unit(F.col("t")) * bins).alias("b")
    )
    counts = {r["b"]: r["c"] for r in df.groupBy("b").agg(F.count("*").alias("c")).collect()}
    assert set(counts) == set(range(bins))
    e = n / bins
    chi2 = sum((counts[b] - e) ** 2 / e for b in range(bins))
    assert chi2 < 43.8, f"chi2={chi2}, counts={counts}"


def test_counter_rng_mode_deterministic_and_distinct_streams(spark):
    # rng="counter" plugs into the full G4 pipeline; same identity ->
    # same draws; different series -> different stream offsets
    cfg = {"type": "uniform", "rng": "counter", "num_points": 100,
           "signal_min": 1, "signal_max": 20}
    a = values(generate_series(spark, GeneratorSpec("s1", "random", cfg), "run"))
    b = values(generate_series(spark, GeneratorSpec("s1", "random", cfg), "run"))
    c = values(generate_series(spark, GeneratorSpec("s2", "random", cfg), "run"))
    assert a == b
    assert a != c
    assert all(1 <= v <= 20 for v in a)


def test_gamma_raw_moments(spark):
    # sanity on the raw (pre-scale) gamma draws: mean ~ alpha*beta
    df = G.time_grid(spark, 4000)
    expr = raw_expr("random", {"type": "gammavariate", "alpha": 3.0, "beta": 2.0}, 4000, F.col("t"))
    stats = df.select(expr.alias("v")).agg(F.mean("v"), F.stddev("v")).first()
    assert stats[0] == pytest.approx(6.0, rel=0.1)      # alpha*beta
    assert stats[1] == pytest.approx(math.sqrt(3) * 2, rel=0.15)  # sqrt(alpha)*beta
