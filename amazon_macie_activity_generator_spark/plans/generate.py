"""The generation plan: blueprint -> timeseries fact table.

Reference pipeline (``generate_datapoints`` main.py:643-665):
per generator: shape -> [scale] -> noise -> anomalies -> int cast;
then zero-fill alignment + pivot at queue-build (main.py:667-709).

Fact schema (SURVEY.md §1.2):
``(run_id string, series_id string, shape string, t long, ts timestamp,
value long)`` — one row per (series, slot). ``ts`` = start_time + t
minutes (1 slot = 1 minute, CloudFormationTemplate.yml:137).

Scale design: generators are data. One parameter table, a row per
generator (shape code, length, shape parameters of
operators/generators.py, signal and noise ranges), is exploded to its
slots, and one CASE over the shape codes present gives every raw value;
recurrences and real files are computed driver-side into one more
frame. So the plan has the same size for 2 generators or 2,000. Every
per-series statistic is a window partitioned by ``series_id``: scale and
noise min/max share one (noise draws never read ``value``), and each
anomaly layer adds one over the same partitioning, so the raw rows are
shuffled once and no stage replays the stages before it. A series is
capped at ``MAX_NUM_POINTS`` rows, so a window partition stays bounded.
The zero-fill explodes the same table over the missing slots.
"""

from __future__ import annotations

import math
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.config import Blueprint, GeneratorSpec
from amazon_macie_activity_generator_spark.formula import eval_recurrence
from amazon_macie_activity_generator_spark.functions.rng import hash_gauss, hash_int
from amazon_macie_activity_generator_spark.operators import generators as G
from amazon_macie_activity_generator_spark.operators.anomalies import (
    anomaly_value_expr,
    anomaly_window,
    series_stat_aggs,
)
from amazon_macie_activity_generator_spark.operators.noise import noise_enabled
from amazon_macie_activity_generator_spark.operators.scaling import scale_expr
from amazon_macie_activity_generator_spark.sources.real_series import real_values

DEFAULT_START_TIME = "2024-01-01T00:00:00"
# per-series ranges of T1/T2 (signal) and T3 (noise), NULL when the
# stage is off for that generator
_TAGS = ["__sig_lo", "__sig_hi", "__noise_lo", "__noise_hi"]
_TAG_SCHEMA = ", ".join(f"{c} double" for c in _TAGS)


def _driver_values(gen: GeneratorSpec) -> list[float] | None:
    """The values of a series with no column expression — a real file,
    or a recurrence over its own prefix (reference eval semantics,
    main.py:473-475: inherently sequential, so computed driver-side for
    n <= 20,160 by the safe AST interpreter, never eval) — else None."""
    cfg, n = gen.config, gen.num_points
    if gen.shape == "real":
        return [float(v) for v in real_values(cfg.get("path") or cfg["key"], n)]
    if gen.shape != "custom" or not G.custom_expr(str(cfg["formula"]))[1]:
        return None
    values = eval_recurrence(str(cfg["formula"]), n)
    bad = next((i for i, v in enumerate(values) if not math.isfinite(v)), None)
    if bad is not None:
        # min-max scaling of a series holding NaN/inf has no defined
        # result: fail loudly instead of emitting 0/1s
        raise ValueError(
            f"generator {gen.id!r}: recurrence {cfg['formula']!r} reaches "
            f"{values[bad]} at slot {bad}; signal scaling requires finite values"
        )
    return values


def _raw_frames(spark: SparkSession, gens: list[GeneratorSpec], run_id: str) -> tuple[DataFrame, DataFrame]:
    """The parameter table and the RAW series (before scale/noise/
    anomalies): ``(series_id, shape, t, value double)`` plus ``_TAGS``."""
    keys: dict = {}  # expression key -> shape code
    rows, driver_rows = [], []
    for g in gens:
        cfg = g.config
        scale, noise = G.signal_scaled(g.shape, cfg), noise_enabled(cfg)
        tags = (
            float(cfg.get("signal_min", G.DEFAULT_SIGNAL_MIN)) if scale else None,
            float(cfg.get("signal_max", G.DEFAULT_SIGNAL_MAX)) if scale else None,
            float(cfg.get("noise_min", 0)) if noise else None,
            float(cfg.get("noise_max", 0)) if noise else None,
        )
        values, code, params = _driver_values(g), None, {}
        if values is None:
            key, params = G.shape_params(g.shape, cfg, g.num_points)
            code = keys.setdefault(key, len(keys))
        else:
            driver_rows += [(g.id, g.shape, t, v, *tags) for t, v in enumerate(values)]
        rows.append(((g.id, g.shape, code, g.num_points, *tags), params))

    names = sorted({name for _, params in rows for name in params})
    table = spark.createDataFrame(
        [(*row, *map(params.get, names)) for row, params in rows],
        f"series_id string, shape string, code int, num_points long, {_TAG_SCHEMA}"
        + "".join(f", __p_{name} double" for name in names),
    )
    cols = {name: F.col(f"__p_{name}") for name in names}
    value = F  # F.when, then Column.when: one flat CASE over the shape codes
    for key, code in keys.items():
        expr = G.shape_expr(key, cols, F.col("t"), F.lit(run_id), F.col("series_id"))
        value = value.when(F.col("code") == code, expr.cast("double"))
    if not keys:  # every series is computed driver-side
        value = F.lit(None).cast("double")
    # num_points is a long, so t is a long, as xxhash64 draws need
    slots = F.explode(F.sequence(F.lit(0), F.col("num_points") - 1)).alias("t")
    raw = table.filter(F.col("code").isNotNull()).select("*", slots).select(
        "series_id", "shape", "t", value.alias("value"), *_TAGS)
    if driver_rows:
        # partitions sized to the data: defaultParallelism slices would
        # spread 20 rows over 32 tasks, paying per-task overhead downstream
        slices = max(1, min(spark.sparkContext.defaultParallelism, len(driver_rows) // 2048))
        raw = raw.unionByName(spark.createDataFrame(
            spark.sparkContext.parallelize(driver_rows, slices),
            f"series_id string, shape string, t long, value double, {_TAG_SCHEMA}",
        ))
    return table, raw


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
    row the hit test is O(1), not O(generators x draws). Each hit carries
    the index of its spec's formula, so the value chain has one branch
    per distinct formula and never lists series ids. The stats the
    formulas need are a window over the CURRENT (post-previous-layer)
    series — main.py:628 recomputes int(np.max(datapoints)) inside the
    per-spec loop, so multi-spec magnitudes compound ((max+1)^2 + 1)^2.
    Clamps and strides come from ``anomaly_window``; the draws mirror
    ``anomaly_hit_expr`` exactly."""
    spec_rows, formulas = [], {}  # formula -> its index in this layer
    for g in gens:
        if len(g.anomalies) <= layer:
            continue
        spec = g.anomalies[layer]
        window = anomaly_window(spec, g.num_points)
        if window is None:
            continue
        k = formulas.setdefault(spec.get("formula"), len(formulas))
        spec_rows.append((g.id, *window, k))
    if not spec_rows:
        return df

    specs_df = spark.createDataFrame(
        spec_rows,
        "series_id string, start long, end long, width long, stride long, counts long, __formula int",
    )
    j = F.explode(F.sequence(F.lit(0), F.col("counts") - 1)).alias("j")
    drawn = specs_df.select("series_id", "start", "end", "width", "stride", "__formula", j)
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
        drawn.select("series_id", slot.alias("t"), "end", "__formula")
        .filter(F.col("t") <= F.col("end"))
        # unique on the join keys, so a plan that reads no value (a
        # count) drops the join; a series has one formula per layer
        .groupBy("series_id", "t")
        .agg(F.max("__formula").alias("__formula"))
    )
    df = df.join(F.broadcast(hits), on=["series_id", "t"], how="left")

    needed_all: set[str] = set()
    chain = F.col("value")
    for formula, k in reversed(list(formulas.items())):
        val_expr, needed = anomaly_value_expr({"formula": formula} if formula else {})
        needed_all |= needed
        chain = F.when(F.col("__formula") == k, val_expr.cast("double")).otherwise(chain)
    df = _with_series_stats(df, series_stat_aggs(needed_all, "value"))
    return df.withColumn("value", chain).drop("__formula", *needed_all)


def _pipeline(
    spark: SparkSession, gens: list[GeneratorSpec], run_id: str, anomaly_mode: str
) -> tuple[DataFrame, DataFrame]:
    """T1-T4 over ``gens``: the parameter table and (series_id, shape, t,
    value double)."""
    table, df = _raw_frames(spark, gens, run_id)

    # T1/T2 signal scaling + T3 noise: one window gives both stats
    value, stats = F.col("value"), {}
    if any(G.signal_scaled(g.shape, g.config) for g in gens):
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
    return table, df


def generate_series(spark: SparkSession, gen: GeneratorSpec, run_id: str, anomaly_mode: str = "hash") -> DataFrame:
    """One generator -> (run_id, series_id, shape, t, value double): the
    generation pipeline through T4, without the int cast or zero-fill."""
    _, df = _pipeline(spark, [gen], run_id, anomaly_mode)
    return df.select(F.lit(run_id).alias("run_id"), "series_id", "shape", "t", "value")


def generate(
    spark: SparkSession,
    blueprint: Blueprint,
    run_id: str | None = None,
    anomaly_mode: str = "hash",
) -> DataFrame:
    """Blueprint -> full fact table (T5 int cast + T6 zero-fill included).

    All generators share one plan (module docstring): a blueprint of G
    generators with L anomaly layers scans one parameter table, shuffles
    the fact rows once and broadcasts L hit tables. On 100 series x
    20,160 slots with noise and one anomaly each (four cycling shapes,
    ``local[2]`` on a 4-vCPU VM, noop sink, warm runs) the build takes
    0.18-0.25 s and the execution 1.2-1.3 s; a plan with one range per
    generator, unioned, took 2.0-2.2 s and 4.2-4.4 s on the same host.
    """
    run_id = run_id or uuid.uuid4().hex
    gens = blueprint.generators
    n_grid = blueprint.num_points

    # T5 — final int cast (main.py:663)
    table, df = _pipeline(spark, gens, run_id, anomaly_mode)
    df = df.withColumn("value", F.col("value").cast("long"))
    # T6 — zero-fill (main.py:686-696): every series already holds slots
    # 0..n-1, so a short one is padded with slots n..N-1 valued 0
    if any(g.num_points < n_grid for g in gens):
        pad = F.explode(F.sequence(F.col("num_points"), F.lit(n_grid - 1).cast("long"))).alias("t")
        df = df.unionByName(
            table.filter(F.col("num_points") < n_grid)
            .select("series_id", "shape", pad, F.lit(0).cast("long").alias("value"))
        )

    start = str(blueprint.commons.get("start_time", DEFAULT_START_TIME))
    ts = F.to_timestamp(F.lit(start)) + F.make_interval(mins=F.col("t").cast("int"))
    return df.select(
        F.lit(run_id).alias("run_id"), "series_id", "shape", "t", ts.alias("ts"), "value"
    )
