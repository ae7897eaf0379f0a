"""The generation plan: blueprint -> timeseries fact table.

Reference pipeline (``generate_datapoints`` main.py:643-665):
per generator: shape -> [scale] -> noise -> anomalies -> int cast;
then zero-fill alignment + pivot at queue-build (main.py:667-709).

Fact schema (SURVEY.md §1.2):
``(run_id string, series_id string, shape string, t long, ts timestamp,
value long)`` — one row per (series, slot). ``ts`` = start_time + t
minutes (1 slot = 1 minute, CloudFormationTemplate.yml:137).

Scale design: ONE pipeline for one generator or many. Each generator's
raw series is an expression over its own ``spark.range`` (a recurrence
or a real file is computed driver-side and parallelized), tagged with
its scaling and noise parameters as literals; the tagged series are
unioned once. Every per-series statistic is then a window aggregate
partitioned by ``series_id``: scale and noise min/max share one window
(noise draws never read ``value``), and each anomaly layer adds one
more over the same partitioning. The union is shuffled once and no
stage replays the stages before it; a series is capped at
``MAX_NUM_POINTS`` rows, so a window partition stays bounded. The
zero-fill pads each short series from the lengths the driver already
knows — no join, no ``distinct``.
"""

from __future__ import annotations

import math
import uuid
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.config import Blueprint, BlueprintError, GeneratorSpec
from amazon_macie_activity_generator_spark.formula import eval_recurrence
from amazon_macie_activity_generator_spark.functions.rng import hash_gauss, hash_int
from amazon_macie_activity_generator_spark.operators import generators as G
from amazon_macie_activity_generator_spark.operators.anomalies import anomaly_value_expr, series_stat_aggs
from amazon_macie_activity_generator_spark.operators.noise import noise_enabled
from amazon_macie_activity_generator_spark.operators.scaling import scale_expr
from amazon_macie_activity_generator_spark.sources.real_series import real_series_from_file

DEFAULT_START_TIME = "2024-01-01T00:00:00"


def _driver_series_df(spark: SparkSession, values: list[float]) -> DataFrame:
    """Materialize a driver-computed series (recurrence prefix semantics,
    n <= 20,160) as (t, value). Partition count sized to the data — the
    default defaultParallelism slices would spread 20 rows over 32 tasks
    and pay per-task overhead on every downstream stage."""
    slices = max(1, min(spark.sparkContext.defaultParallelism, len(values) // 2048))
    rdd = spark.sparkContext.parallelize(list(enumerate(values)), slices)
    return spark.createDataFrame(rdd, "t long, value double")


def _raw_series(spark: SparkSession, gen: GeneratorSpec, run_id: str) -> DataFrame:
    """One generator's RAW values (before scale/noise/anomalies) as
    ``(t, value double)`` with exactly ``gen.num_points`` rows."""
    cfg = gen.config
    n = gen.num_points
    shape = gen.shape
    if shape == "real":
        return real_series_from_file(spark, cfg.get("path") or cfg["key"], n)
    t = F.col("t")
    if shape == "constant":
        value = G.constant_expr(cfg, t)
    elif shape == "square":
        value = G.square_expr(cfg, t)
    elif shape == "sinusoidal":
        value = G.sinusoidal_expr(cfg, t, n)
    elif shape == "custom":
        value, needed = G.custom_expr(cfg)
        if needed:
            # recurrence over its own prefix (reference eval semantics,
            # main.py:473-475): inherently sequential -> computed
            # driver-side (n <= 20,160) and parallelized like a real
            # series; safe AST interpreter, never eval.
            values = eval_recurrence(str(cfg["formula"]), n)
            bad = next((i for i, v in enumerate(values) if not math.isfinite(v)), None)
            if bad is not None:
                # min-max scaling of a series holding NaN/inf has no
                # defined result: fail loudly instead of emitting 0/1s
                raise ValueError(
                    f"generator {gen.id!r}: recurrence {cfg['formula']!r} reaches "
                    f"{values[bad]} at slot {bad}; signal scaling requires finite values"
                )
            return _driver_series_df(spark, values)
    elif shape == "random":
        value, _ = G.random_expr(cfg, gen.id, run_id, t)
    else:  # pragma: no cover - config layer rejects earlier
        raise BlueprintError(f"unknown shape {shape!r}")
    return G.time_grid(spark, n).withColumn("value", value.cast("double"))


def _needs_scaling(gen: GeneratorSpec) -> bool:
    """sinusoidal/custom/real and random-except-triangular are
    signal-scaled; constant & square are not (main.py:447-573)."""
    return gen.shape in ("sinusoidal", "custom", "real") or (
        gen.shape == "random" and gen.config.get("type", "uniform") != "triangular"
    )


def _tagged_series(spark: SparkSession, gen: GeneratorSpec, run_id: str) -> DataFrame:
    """The raw series plus its per-series parameters as literal columns
    (NULL when the stage is off for this generator): the signal range of
    T1/T2 and the noise range of T3."""
    cfg = gen.config
    scale = _needs_scaling(gen)
    noise = noise_enabled(cfg)

    def param(on: bool, key: str, default: float) -> Column:
        return F.lit(float(cfg.get(key, default)) if on else None).cast("double")

    return _raw_series(spark, gen, run_id).select(
        F.lit(gen.id).alias("series_id"), F.lit(gen.shape).alias("shape"), "t", "value",
        param(scale, "signal_min", G.DEFAULT_SIGNAL_MIN).alias("__sig_lo"),
        param(scale, "signal_max", G.DEFAULT_SIGNAL_MAX).alias("__sig_hi"),
        param(noise, "noise_min", 0).alias("__noise_lo"),
        param(noise, "noise_max", 0).alias("__noise_hi"),
    )


def _with_series_stats(df: DataFrame, stats: dict[str, Column]) -> DataFrame:
    """Add each aggregate in ``stats`` as a column over its row's series.
    A window, not a groupBy joined back: the frame is read once, and every
    window after the first reuses the first one's partitioning."""
    by_series = Window.partitionBy("series_id")
    return df.select("*", *[agg.over(by_series).alias(name) for name, agg in stats.items()])


def _anomaly_layer(
    spark: SparkSession, df: DataFrame, gens: list[GeneratorSpec], layer: int,
    run_id: str, anomaly_mode: str,
) -> DataFrame:
    """T4, layer ``layer`` = every generator's layer-th anomaly spec.

    Hit slots come from a tiny exploded DRAW TABLE (counts rows per
    series -> distinct slots) broadcast-joined on (series_id, t): per fact
    row the hit test is O(1), not O(generators x draws). The stats the
    formulas need are a window over the CURRENT (post-previous-layer)
    series — main.py:628 recomputes int(np.max(datapoints)) inside the
    per-spec loop, so multi-spec magnitudes compound ((max+1)^2 + 1)^2.
    Clamps and draws mirror ``anomaly_hit_expr`` exactly."""
    spec_rows, formulas = [], {}
    for g in gens:
        if len(g.anomalies) <= layer:
            continue
        spec = g.anomalies[layer]
        n = g.num_points
        start = max(0, min(int(spec.get("start", 0)), n - 1))
        end = max(0, min(int(spec.get("end", n - 1)), n - 1))
        counts = int(spec.get("counts", 0))
        if counts <= 0 or start > n - 1 or end < start:
            continue
        width = end - start + 1
        stride = max(width // counts, 1)
        spec_rows.append((g.id, start, end, width, stride, counts))
        formulas.setdefault(spec.get("formula"), []).append(g.id)
    if not spec_rows:
        return df

    specs_df = spark.createDataFrame(
        spec_rows,
        "series_id string, start long, end long, width long, stride long, counts long",
    )
    j = F.explode(F.sequence(F.lit(0), F.col("counts") - 1)).alias("j")
    drawn = specs_df.select("series_id", "start", "end", "width", "stride", j)
    if anomaly_mode == "stride":
        slot = F.col("start") + F.col("j") * F.col("stride")
    else:
        # same hash identity AND input types as anomaly_hit_expr
        # (xxhash64 is type-sensitive: j must be int like the
        # sequence(0, counts-1) elements there) -> identical draws
        slot = F.col("start") + hash_int(
            F.lit(run_id), F.col("series_id"), F.lit(layer), F.col("j").cast("int"),
            n=F.col("width"), salt="anom",
        )
    hits = (
        drawn.select("series_id", slot.alias("t"), "end")
        .filter(F.col("t") <= F.col("end"))
        .select("series_id", "t")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    df = df.join(F.broadcast(hits), on=["series_id", "t"], how="left")

    needed_all: set[str] = set()
    chain = F.col("value")
    for formula, series_ids in reversed(list(formulas.items())):
        val_expr, needed = anomaly_value_expr({"formula": formula} if formula else {})
        needed_all |= needed
        cond = F.col("__hit").isNotNull() & F.col("series_id").isin(series_ids)
        chain = F.when(cond, val_expr.cast("double")).otherwise(chain)
    df = _with_series_stats(df, series_stat_aggs(needed_all, "value"))
    return df.withColumn("value", chain).drop("__hit", *needed_all)


def _pipeline(
    spark: SparkSession, gens: list[GeneratorSpec], run_id: str, anomaly_mode: str
) -> DataFrame:
    """T1-T4 over ``gens``: (series_id, shape, t, value double)."""
    df = reduce(DataFrame.unionByName, [_tagged_series(spark, g, run_id) for g in gens])

    # T1/T2 signal scaling + T3 noise: one window gives both stats
    value, stats = F.col("value"), {}
    if any(_needs_scaling(g) for g in gens):
        stats.update(__vmin=F.min("value"), __vmax=F.max("value"))
        scaled = scale_expr(value, F.col("__vmin"), F.col("__vmax"), F.col("__sig_lo"), F.col("__sig_hi"))
        value = F.when(F.col("__sig_lo").isNotNull(), scaled.cast("double")).otherwise(value)
    if any(noise_enabled(g.config) for g in gens):
        # same identity and salt as apply_noise -> same draws
        draw = hash_gauss(F.lit(run_id), "series_id", "t", salt="noise")
        df = df.withColumn("__noise_raw", F.when(F.col("__noise_lo").isNotNull(), draw))
        stats.update(__nmin=F.min("__noise_raw"), __nmax=F.max("__noise_raw"))
        noise = scale_expr(
            F.col("__noise_raw"), F.col("__nmin"), F.col("__nmax"),
            F.col("__noise_lo"), F.col("__noise_hi"),
        )
        value = F.when(
            F.col("__noise_raw").isNotNull(), F.greatest(F.lit(0.0), value + noise.cast("double"))
        ).otherwise(value)
    df = _with_series_stats(df, stats).select("series_id", "shape", "t", value.alias("value"))

    for layer in range(max((len(g.anomalies) for g in gens), default=0)):
        df = _anomaly_layer(spark, df, gens, layer, run_id, anomaly_mode)
    return df


def generate_series(spark: SparkSession, gen: GeneratorSpec, run_id: str, anomaly_mode: str = "hash") -> DataFrame:
    """One generator -> (run_id, series_id, shape, t, value double): the
    generation pipeline through T4, without the int cast or zero-fill."""
    df = _pipeline(spark, [gen], run_id, anomaly_mode)
    return df.select(F.lit(run_id).alias("run_id"), "series_id", "shape", "t", "value")


def generate(
    spark: SparkSession,
    blueprint: Blueprint,
    run_id: str | None = None,
    anomaly_mode: str = "hash",
) -> DataFrame:
    """Blueprint -> full fact table (T5 int cast + T6 zero-fill included).

    All generators share one plan (module docstring): a blueprint of G
    generators with L anomaly layers reads each generator's range once,
    shuffles the fact rows once and broadcasts L hit tables. On 100 series
    x 20,160 slots with noise and one anomaly each (``local[2]`` on a
    4-vCPU VM, noop sink, warm runs) the build takes 3.3-5.5 s and the
    execution 9.2-11.0 s; a design that joined each per-series statistic
    back onto its input, replaying every earlier stage, took 4.8-11.0 s
    and 30.9-38.1 s.
    """
    run_id = run_id or uuid.uuid4().hex
    gens = blueprint.generators
    n_grid = blueprint.num_points

    # T5 — final int cast (main.py:663)
    df = _pipeline(spark, gens, run_id, anomaly_mode).withColumn("value", F.col("value").cast("long"))
    # T6 — zero-fill (main.py:686-696): every series already holds slots
    # 0..n-1, so a short one is padded with slots n..N-1 valued 0
    pads = [
        spark.range(g.num_points, n_grid).select(
            F.lit(g.id).alias("series_id"), F.lit(g.shape).alias("shape"),
            F.col("id").alias("t"), F.lit(0).cast("long").alias("value"),
        )
        for g in gens
        if g.num_points < n_grid
    ]
    df = reduce(DataFrame.unionByName, pads, df)

    start = str(blueprint.commons.get("start_time", DEFAULT_START_TIME))
    ts = F.to_timestamp(F.lit(start)) + F.make_interval(mins=F.col("t").cast("int"))
    return df.select(
        F.lit(run_id).alias("run_id"), "series_id", "shape", "t", ts.alias("ts"), "value"
    )
