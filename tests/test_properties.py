"""Property tests (SURVEY.md §5.3): scaling bounds, slice reassembly,
zero-fill completeness, square-wave semantics, formula-translator
equivalence — hypothesis-driven configs, each example batched into a
single Spark job (lists of cases per example, not a job per case).
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.formula import FormulaError, translate_formula
from amazon_macie_activity_generator_spark.operators.generators import shape_expr, shape_params
from amazon_macie_activity_generator_spark.operators.scaling import scale_minmax
from amazon_macie_activity_generator_spark.operators.slicing import slice_array_expr

SLOW = settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# --------------------------------------------------- formula translation

@st.composite
def formulas(draw):
    """Random arithmetic over t and literals from the documented surface."""
    def expr(depth: int) -> str:
        if depth == 0:
            return draw(st.sampled_from(["t", str(draw(st.integers(1, 50)))]))
        op = draw(st.sampled_from(["+", "-", "*", "%", "**"]))
        l, r = expr(depth - 1), expr(depth - 1)
        if op == "%":
            # nonzero literal divisor: Python raises on x % 0 while SQL
            # engines return null/error — out of scope for the property
            return f"({l} % {draw(st.integers(1, 19))})"
        if op == "**":
            return f"({expr(depth - 1)} ** {draw(st.integers(1, 3))})"
        return f"({l} {op} {r})"

    return expr(draw(st.integers(1, 3)))


@SLOW
@given(formulas())
def test_formula_translation_matches_python_eval(formula):
    """translate_formula must agree with Python eval semantics for every
    whitelisted formula (checked via DuckDB evaluating the SQL, pmod
    nonneg semantics matching Python %)."""
    sql, needed = translate_formula(formula)
    assert not needed
    con = duckdb.connect()
    con.execute("CREATE MACRO pmod(a, b) AS ((a % b) + b) % b")
    for t in (0, 1, 5, 17):
        got = con.sql(f"SELECT {sql.replace('CAST(t AS DOUBLE)', f'CAST({t} AS DOUBLE)')} AS v").fetchone()[0]
        want = float(eval(formula, {"__builtins__": {}}, {"t": t}))  # noqa: S307 - test vs reference semantics
        assert got == pytest.approx(want, rel=1e-9, abs=1e-9), (formula, t)


@given(st.sampled_from(["__import__('os')", "t.__class__", "open('x')", "lambda: 1", "[1,2]"]))
def test_formula_rejects_non_whitelist(bad):
    with pytest.raises(FormulaError):
        translate_formula(bad)


# ----------------------------------------------------------- slice (T7)

@SLOW
@given(st.lists(st.tuples(st.integers(0, 500), st.integers(-2, 60)), min_size=1, max_size=60))
def test_slice_reassembly_invariants(spark, cases):
    """sum(slices) == value; every slice <= slice_size (when slicing
    applies); v==0 or s<=0 passes through unchanged (main.py:95-113)."""
    df = spark.createDataFrame(cases, "v long, s long")
    out = df.select(
        "v", "s",
        F.aggregate(slice_array_expr(F.col("v"), F.col("s")), F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("total"),
        F.array_max(slice_array_expr(F.col("v"), F.col("s"))).alias("mx"),
        F.size(slice_array_expr(F.col("v"), F.col("s"))).alias("n"),
    )
    bad = out.filter(
        (F.col("total") != F.col("v"))
        | (((F.col("v") > 0) & (F.col("s") > 0)) & (F.col("mx") > F.greatest("s", F.lit(0))))
        | (((F.col("v") == 0) | (F.col("s") <= 0)) & (F.col("n") != 1))
    )
    assert bad.count() == 0


# --------------------------------------------------------- scaling (T1)

@SLOW
@given(
    st.lists(st.integers(-1000, 1000), min_size=1, max_size=40),
    st.integers(-50, 50), st.integers(0, 100),
)
def test_scale_minmax_bounds_and_constant_clamp(spark, values, lo, span):
    """Scaled output lands in [lo, hi]; constant input clamps to lo (B4:
    the reference NaNs on max==min; documented intent is the bottom of
    the range)."""
    hi = lo + span
    rows = [(i, float(v)) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "t long, value double")
    out = scale_minmax(df, value_col="value", lo=lo, hi=hi, by=[]).collect()
    assert all(lo <= r.value <= max(lo, hi) for r in out)
    if len(set(values)) == 1:
        assert all(r.value == lo for r in out)


# ------------------------------------------------------ square wave (G2)

@SLOW
@given(
    st.integers(0, 30), st.integers(1, 10), st.integers(0, 30), st.integers(1, 10),
    st.integers(1, 80),
)
def test_square_matches_list_semantics(spark, low, lw, high, hw, n):
    """The square expression == the reference's
    repeat-[low]*lw+[high]*hw-truncate list semantics (main.py:447-462)
    for arbitrary configs."""
    pattern = [float(low)] * lw + [float(high)] * hw
    want = [pattern[t % len(pattern)] for t in range(n)]
    cfg = {"low_value": low, "low_width": lw, "high_value": high, "high_width": hw}
    key, params = shape_params("square", cfg, n)
    square = shape_expr(key, {k: F.lit(v) for k, v in params.items()}, F.col("id"), F.lit("r"), F.lit("s"))
    got = [r.v for r in spark.range(n).select(square.alias("v")).orderBy("id").collect()]
    assert got == want


# --------------------------------------------------------- zero-fill (T6)

@SLOW
@given(st.dictionaries(
    st.sampled_from(["a", "b", "c", "d"]), st.integers(1, 25), min_size=1, max_size=4,
))
def test_zero_fill_completeness(spark, lengths):
    """After alignment every (series, t<grid) exists exactly once; fill
    rows are 0; grid = max series length (B2 intent, README.md:137)."""
    from amazon_macie_activity_generator_spark.operators.align import zero_fill

    rows = [(s, t, float(t + 1)) for s, n in lengths.items() for t in range(n)]
    df = spark.createDataFrame(rows, "series_id string, t long, value double")
    out = zero_fill(spark, df).collect()
    grid = max(lengths.values())
    assert len(out) == grid * len(lengths)
    got = {(r.series_id, r.t): r.value for r in out}
    assert len(got) == len(out)
    for s, n in lengths.items():
        for t in range(grid):
            assert got[(s, t)] == (float(t + 1) if t < n else 0.0)


# ------------------------------------------------- determinism invariants

def test_generate_deterministic_across_runs_and_partitionings(spark):
    """Same blueprint + run_id => identical fact table, regardless of
    partitioning (hash-counter RNG discipline, SURVEY.md §4.2)."""
    from amazon_macie_activity_generator_spark.config import parse_blueprint
    from amazon_macie_activity_generator_spark.plans.generate import generate

    bp = parse_blueprint({
        "commons": {"num_points": 60, "signal_min": 1, "signal_max": 9,
                    "noise_min": -2, "noise_max": 2,
                    "anomalies": {"start": 5, "end": 50, "counts": 4}},
        "generators": [
            {"id": "a", "shape": "random", "config": {"type": "uniform"}},
            {"id": "b", "shape": "sinusoidal", "config": {"frequency": 0.2}},
        ],
        "targets": [],
    })
    one = {(r.series_id, r.t): r.value for r in generate(spark, bp, run_id="det").collect()}
    two = {
        (r.series_id, r.t): r.value
        for r in generate(spark, bp, run_id="det").repartition(13).collect()
    }
    assert one == two
    other = {(r.series_id, r.t): r.value for r in generate(spark, bp, run_id="other").collect()}
    assert one != other  # run_id participates in every draw


def test_generate_batched_matches_sequential_multi_spec_anomalies(spark, tmp_path):
    """generate() must equal, series by series, the reference chain built
    from the public operators: shape expression -> scale_signal ->
    apply_noise -> apply_anomalies -> int cast, zero-filled to the longest
    series. The blueprint covers all six shapes (a recurrence and a real
    file among them), noise, two anomaly layers whose stats come from the
    CURRENT frame (later specs see earlier specs' writes, compounding like
    main.py:628's in-loop recompute), starts clamped into [0, n), and
    unequal lengths, in both anomaly modes."""
    from amazon_macie_activity_generator_spark.config import parse_blueprint
    from amazon_macie_activity_generator_spark.formula import eval_recurrence
    from amazon_macie_activity_generator_spark.operators import generators as G
    from amazon_macie_activity_generator_spark.operators.anomalies import apply_anomalies
    from amazon_macie_activity_generator_spark.operators.noise import apply_noise
    from amazon_macie_activity_generator_spark.operators.scaling import scale_signal
    from amazon_macie_activity_generator_spark.plans.generate import generate
    from amazon_macie_activity_generator_spark.sources.real_series import real_series_from_file

    real = tmp_path / "real.dat"
    real.write_text("\n".join(str(i * 7 % 19) for i in range(20)) + "\n\n4\n")
    quiet = {"noise_min": 0, "noise_max": 0}
    bp = parse_blueprint({
        "commons": {
            "num_points": 40, "signal_min": 1, "signal_max": 15,
            "noise_min": -2, "noise_max": 3,
            "anomalies": [
                {"start": -5, "end": 20, "counts": 4},
                {"start": 10, "end": 39, "counts": 3, "formula": "max(datapoints) + t"},
            ],
        },
        "generators": [
            {
                "id": "a", "shape": "constant",
                "config": {
                    "constant": 2, "num_points": 8, **quiet,
                    "anomalies": [
                        {"start": 0, "end": 7, "counts": 8},
                        {"start": -10, "end": 3, "counts": 4, "formula": "t * 100 + 7"},
                    ],
                },
            },
            {
                # two default specs: spec 1's datapoint_max must see spec
                # 0's (2+1)^2 = 9 writes and inject (9+1)^2 = 100
                "id": "b", "shape": "constant",
                "config": {
                    "constant": 2, "num_points": 8, **quiet,
                    "anomalies": [
                        {"start": 4, "end": 7, "counts": 4},
                        {"start": 0, "end": 1, "counts": 2},
                    ],
                },
            },
            {"id": "q", "shape": "square",
             "config": {"low_value": 1, "high_value": 6, "low_width": 3, "high_width": 2,
                        "num_points": 33}},
            {"id": "s", "shape": "sinusoidal", "config": {"frequency": 0.07, "amplitude": 2.0}},
            {"id": "r", "shape": "random", "config": {"type": "gauss"}},
            {"id": "rt", "shape": "random", "config": {"type": "triangular", "num_points": 27}},
            {"id": "cu", "shape": "custom", "config": {"formula": "t % 7 + 1"}},
            {"id": "rec", "shape": "custom",
             "config": {"formula": "sum(datapoints) % 13 + 1", "num_points": 31}},
            {"id": "re", "shape": "real", "config": {"path": str(real), "num_points": 25}},
        ],
        "targets": [],
    })
    run_id, n_grid = "par", bp.num_points

    def reference(g, mode):
        cfg, n, t = g.config, g.num_points, F.col("t")
        if g.shape == "real":
            df = real_series_from_file(spark, cfg["path"], n)
        elif g.shape == "custom" and G.custom_expr(cfg["formula"])[1]:
            df = spark.createDataFrame(
                list(enumerate(eval_recurrence(cfg["formula"], n))), "t long, value double"
            )
        else:
            key, params = G.shape_params(g.shape, cfg, n)
            literals = {k: F.lit(v) for k, v in params.items()}
            expr = G.shape_expr(key, literals, t, F.lit(run_id), F.lit(g.id))
            df = G.time_grid(spark, n).withColumn("value", expr.cast("double"))
        df = df.withColumn("run_id", F.lit(run_id)).withColumn("series_id", F.lit(g.id))
        if G.signal_scaled(g.shape, cfg):
            df = scale_signal(df, cfg, by=["series_id"])
            df = df.withColumn("value", F.col("value").cast("double"))
        df = apply_noise(df, cfg, by=["series_id"])
        df = apply_anomalies(df, g.anomalies, n, by=["series_id"], mode=mode)
        got = {(g.id, r.t): r.value for r in df.select("t", F.col("value").cast("long")).collect()}
        assert len(got) == n
        return {**got, **{(g.id, t): 0 for t in range(n, n_grid)}}

    for mode in ("hash", "stride"):
        batched = {
            (r.series_id, r.t): r.value
            for r in generate(spark, bp, run_id=run_id, anomaly_mode=mode).collect()
        }
        expected = {k: v for g in bp.generators for k, v in reference(g, mode).items()}
        assert batched == expected, mode
    # stride mode, series b: spec 1 compounds — slots 0-1 get (9+1)^2,
    # slots 4-7 keep 9
    assert batched[("b", 0)] == 100 and batched[("b", 1)] == 100
    assert batched[("b", 4)] == 9 and batched[("b", 2)] == 2
    # spec 0 injects (2+1)^2 = 9 everywhere; spec 1 overwrites clamped
    # slots 0..3 with t*100+7 — NOT ((9+1)^2-style compounded values
    assert batched[("a", 0)] == 7 and batched[("a", 3)] == 307


def test_fake_providers_partition_invariant(spark):
    from pyspark.sql import functions as F

    from amazon_macie_activity_generator_spark.functions.fake import fake_document

    doc = fake_document(F.col("id"), fake_types=["ssn", "sentence"], fake_counts=2)
    base = spark.range(100)
    a = {r.id: r.d for r in base.select("id", doc.alias("d")).collect()}
    b = {r.id: r.d for r in base.repartition(17).select("id", doc.alias("d")).collect()}
    assert a == b


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.tuples(st.integers(0, 40), st.floats(-100, 100, allow_nan=False, width=32)),
    min_size=2, max_size=15, unique_by=lambda p: p[0],
))
def test_interpolate_linear_properties(spark, points):
    """Linear interpolation invariants on arbitrary sparse series:
    observed slots unchanged, grid complete, every interior gap exactly on
    the segment between its neighbors, edge gaps clamped to the boundary."""
    from amazon_macie_activity_generator_spark.operators.interpolate import (
        expand_grid,
        interpolate_linear,
    )

    observed = dict(points)
    sparse = spark.createDataFrame(
        [("s", t, float(v)) for t, v in points], "series_id string, t long, value double"
    )
    out = {r.t: r for r in interpolate_linear(expand_grid(sparse)).collect()}
    ts = sorted(observed)
    lo, hi = ts[0], ts[-1]
    assert sorted(out) == list(range(lo, hi + 1))  # complete grid
    for t, r in out.items():
        if t in observed:
            assert not r.was_gap and r.value == observed[t]
        else:
            assert r.was_gap
            prev_t = max(x for x in ts if x < t)
            next_t = min(x for x in ts if x > t)
            pv, nv = observed[prev_t], observed[next_t]
            want = pv + (nv - pv) * (t - prev_t) / (next_t - prev_t)
            assert abs(r.value - want) < 1e-9
            assert min(pv, nv) - 1e-9 <= r.value <= max(pv, nv) + 1e-9
