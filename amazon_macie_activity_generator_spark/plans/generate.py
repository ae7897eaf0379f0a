"""The generation plan: blueprint -> timeseries fact table.

Reference pipeline (``generate_datapoints`` main.py:643-665):
per generator: shape -> [scale] -> noise -> anomalies -> int cast;
then zero-fill alignment + pivot at queue-build (main.py:667-709).

Fact schema (SURVEY.md §1.2):
``(run_id string, series_id string, shape string, t long, ts timestamp,
value long)`` — one row per (series, slot). ``ts`` = start_time + t
minutes (1 slot = 1 minute, CloudFormationTemplate.yml:137).

Scale design: each series is an independent expression pipeline over
``spark.range`` — generation parallelizes over slots; per-series scalar
stats (scaling, anomaly max) are two-pass agg + broadcast join; the
only data-sized shuffle in the whole plan is the zero-fill join, and
that only when series actually differ in length.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.config import Blueprint, BlueprintError, GeneratorSpec
from amazon_macie_activity_generator_spark.operators import generators as G
from amazon_macie_activity_generator_spark.operators.align import zero_fill
from amazon_macie_activity_generator_spark.operators.anomalies import apply_anomalies
from amazon_macie_activity_generator_spark.operators.noise import apply_noise
from amazon_macie_activity_generator_spark.operators.scaling import scale_signal
from amazon_macie_activity_generator_spark.sources.real_series import real_series_from_file

DEFAULT_START_TIME = "2024-01-01T00:00:00"


def _scale_driver_side(values: list[float], cfg: dict) -> list[float]:
    """scale_signal for a series already materialized at the driver:
    the same IEEE arithmetic as operators.scaling.scale_expr (incl. the
    B4 constant-input clamp), so results are bit-identical to the
    cluster-side path — but without shipping a 20k-point series through
    an agg + broadcast join just to learn its min/max."""
    import math

    lo = float(cfg.get("signal_min", 1))
    hi = float(cfg.get("signal_max", 20))
    # Python's min/max propagate NaN position-dependently while Spark's
    # F.min/F.max order NaN above every value — bit-identity only holds
    # on finite input, so fail fast instead of silently diverging.
    if not all(math.isfinite(v) for v in values):
        raise ValueError(
            "driver-side scaling requires finite series values; a recurrence "
            "that reaches NaN/inf must be fixed (or scaled cluster-side)"
        )
    mn, mx = min(values), max(values)
    if mx == mn:
        return [float(math.ceil(lo))] * len(values)
    return [float(math.ceil((v - mn) / (mx - mn) * (hi - lo) + lo)) for v in values]


def _driver_series_df(spark: SparkSession, values: list[float]) -> DataFrame:
    """Materialize a driver-computed series (recurrence prefix semantics,
    n <= 20,160) as (t, value). Partition count sized to the data — the
    default defaultParallelism slices would spread 20 rows over 32 tasks
    and pay per-task overhead on every downstream stage."""
    slices = max(1, min(spark.sparkContext.defaultParallelism, len(values) // 2048))
    rdd = spark.sparkContext.parallelize(list(enumerate(values)), slices)
    return spark.createDataFrame(rdd, "t long, value double")


def generate_series(spark: SparkSession, gen: GeneratorSpec, run_id: str, anomaly_mode: str = "hash") -> DataFrame:
    """One generator -> (run_id, series_id, shape, t, value double)."""
    cfg = gen.config
    n = gen.num_points
    shape = gen.shape

    scaled_driver_side = False
    if shape == "real":
        df = real_series_from_file(spark, cfg.get("path") or cfg["key"], n)
    else:
        df = G.time_grid(spark, n)
        t = F.col("t")
        if shape == "constant":
            df = df.withColumn("value", G.constant_expr(cfg, t))
        elif shape == "square":
            df = df.withColumn("value", G.square_expr(cfg, t))
        elif shape == "sinusoidal":
            df = df.withColumn("value", G.sinusoidal_expr(cfg, t, n))
        elif shape == "custom":
            expr, needed = G.custom_expr(cfg)
            if needed:
                # recurrence formula -> driver-side safe interpreter
                # (see _raw_series; same path, same values); the series is
                # in hand, so signal-scale it here too instead of paying
                # an agg + broadcast join for its min/max
                from amazon_macie_activity_generator_spark.formula import eval_recurrence

                values = eval_recurrence(str(cfg["formula"]), n)
                df = _driver_series_df(spark, _scale_driver_side(values, cfg))
                scaled_driver_side = True
            else:
                df = df.withColumn("value", expr.cast("double"))
        elif shape == "random":
            expr, _needs_scale = G.random_expr(cfg, gen.id, run_id, t)
            df = df.withColumn("value", expr.cast("double"))
        else:  # pragma: no cover - config layer rejects earlier
            raise BlueprintError(f"unknown shape {shape!r}")

    df = df.withColumn("run_id", F.lit(run_id)).withColumn("series_id", F.lit(gen.id))

    # signal scaling: sinusoidal/custom/real/random-except-triangular
    # (main.py:447-573); constant & square are not scaled.
    needs_scaling = shape in ("sinusoidal", "custom", "real") or (
        shape == "random" and cfg.get("type", "uniform") != "triangular"
    )
    if needs_scaling and not scaled_driver_side:
        df = scale_signal(df, cfg, value_col="value", by=["series_id"])
        df = df.withColumn("value", F.col("value").cast("double"))

    df = apply_noise(df, cfg, value_col="value", by=["series_id"])
    df = apply_anomalies(
        df, gen.anomalies, n, value_col="value", by=["series_id"], mode=anomaly_mode
    )
    return df.select("run_id", "series_id", F.lit(shape).alias("shape"), "t", "value")


def _raw_series(spark: SparkSession, gen: GeneratorSpec, run_id: str) -> DataFrame:
    """One generator's RAW values (no scale/noise/anomalies):
    (run_id, series_id, shape, t, value double)."""
    cfg = gen.config
    n = gen.num_points
    shape = gen.shape

    if shape == "real":
        df = real_series_from_file(spark, cfg.get("path") or cfg["key"], n)
    else:
        df = G.time_grid(spark, n)
        t = F.col("t")
        if shape == "constant":
            df = df.withColumn("value", G.constant_expr(cfg, t))
        elif shape == "square":
            df = df.withColumn("value", G.square_expr(cfg, t))
        elif shape == "sinusoidal":
            df = df.withColumn("value", G.sinusoidal_expr(cfg, t, n))
        elif shape == "custom":
            expr, needed = G.custom_expr(cfg)
            if needed:
                # recurrence over its own prefix (reference eval semantics,
                # main.py:473-475): inherently sequential -> computed
                # driver-side (n <= 20,160) and parallelized like a real
                # series; safe AST interpreter, never eval.
                from amazon_macie_activity_generator_spark.formula import eval_recurrence

                values = eval_recurrence(str(cfg["formula"]), n)
                df = _driver_series_df(spark, values)
            else:
                df = df.withColumn("value", expr.cast("double"))
        elif shape == "random":
            expr, _ = G.random_expr(cfg, gen.id, run_id, t)
            df = df.withColumn("value", expr.cast("double"))
        else:  # pragma: no cover - config layer rejects earlier
            raise BlueprintError(f"unknown shape {shape!r}")

    return df.select(
        F.lit(run_id).alias("run_id"), F.lit(gen.id).alias("series_id"),
        F.lit(shape).alias("shape"), "t", F.col("value").cast("double").alias("value"),
    )


def _needs_scaling(gen: GeneratorSpec) -> bool:
    """sinusoidal/custom/real and random-except-triangular are
    signal-scaled; constant & square are not (main.py:447-573)."""
    return gen.shape in ("sinusoidal", "custom", "real") or (
        gen.shape == "random" and gen.config.get("type", "uniform") != "triangular"
    )


def generate(
    spark: SparkSession,
    blueprint: Blueprint,
    run_id: str | None = None,
    anomaly_mode: str = "hash",
    align: bool = True,
) -> DataFrame:
    """Blueprint -> full fact table (T5 int cast + T6 zero-fill included).

    Scale design — BATCHED across generators: per-series work (signal
    scaling stats, noise-vector stats, anomaly scalar aggs) runs as ONE
    aggregation + ONE broadcast join over the union, parameterized by a
    tiny per-series config table, instead of one agg+join pipeline per
    generator. A 100-series blueprint costs the same number of shuffles
    as a 1-series one (measured 67s -> ~8s for 100 series x 20,160 slots
    on local[8]); per-series values are bit-identical to the sequential
    ``generate_series`` path (same hash-RNG identities, same layer-indexed
    anomaly draws).
    """
    from amazon_macie_activity_generator_spark.functions.rng import hash_gauss
    from amazon_macie_activity_generator_spark.operators.anomalies import (
        anomaly_hit_expr,
        anomaly_value_expr,
        attach_series_stats,
    )
    from amazon_macie_activity_generator_spark.operators.noise import noise_enabled
    from amazon_macie_activity_generator_spark.operators.scaling import scale_expr

    run_id = run_id or uuid.uuid4().hex
    gens = blueprint.generators
    parts = [_raw_series(spark, g, run_id) for g in gens]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)

    # per-series parameter table (tiny; broadcast)
    param_rows = [
        (
            g.id, _needs_scaling(g),
            float(g.config.get("signal_min", G.DEFAULT_SIGNAL_MIN)),
            float(g.config.get("signal_max", G.DEFAULT_SIGNAL_MAX)),
            noise_enabled(g.config),
            float(g.config.get("noise_min", 0)), float(g.config.get("noise_max", 0)),
        )
        for g in gens
    ]
    params = spark.createDataFrame(
        param_rows,
        "series_id string, __scale boolean, __sig_lo double, __sig_hi double, "
        "__noise boolean, __noise_lo double, __noise_hi double",
    )
    df = df.join(F.broadcast(params), on="series_id", how="left")

    # T1/T2 batched signal scaling: one stats agg + one broadcast join
    if any(r[1] for r in param_rows):
        stats = (
            df.filter(F.col("__scale"))
            .groupBy("series_id")
            .agg(F.min("value").alias("__vmin"), F.max("value").alias("__vmax"))
        )
        df = df.join(F.broadcast(stats), on="series_id", how="left")
        scaled = scale_expr(
            F.col("value"), F.col("__vmin"), F.col("__vmax"),
            F.col("__sig_lo"), F.col("__sig_hi"),
        )
        df = df.withColumn(
            "value", F.when(F.col("__scale"), scaled.cast("double")).otherwise(F.col("value"))
        ).drop("__vmin", "__vmax")

    # T3 batched noise: same identity/salt as apply_noise -> same draws
    if any(r[4] for r in param_rows):
        df = df.withColumn("__noise_raw", hash_gauss("run_id", "series_id", "t", salt="noise"))
        nstats = (
            df.filter(F.col("__noise"))
            .groupBy("series_id")
            .agg(F.min("__noise_raw").alias("__nmin"), F.max("__noise_raw").alias("__nmax"))
        )
        df = df.join(F.broadcast(nstats), on="series_id", how="left")
        noise = scale_expr(
            F.col("__noise_raw"), F.col("__nmin"), F.col("__nmax"),
            F.col("__noise_lo"), F.col("__noise_hi"),
        )
        df = df.withColumn(
            "value",
            F.when(
                F.col("__noise"),
                F.greatest(F.lit(0.0), F.col("value") + noise.cast("double")),
            ).otherwise(F.col("value")),
        ).drop("__noise_raw", "__nmin", "__nmax")
    df = df.drop("__scale", "__sig_lo", "__sig_hi", "__noise", "__noise_lo", "__noise_hi")

    # T4 batched anomalies, layered: layer k = every generator's k-th spec.
    # Hit slots come from a tiny exploded DRAW TABLE (counts rows per
    # series -> distinct slots) broadcast-joined on (series_id, t): per
    # fact row the hit test is O(1), not O(generators x draws) predicate
    # evaluations. One scalar-stats join per LAYER, computed from the
    # CURRENT (post-previous-layer) frame — main.py:628 recomputes
    # int(np.max(datapoints)) inside the per-spec loop, so multi-spec
    # magnitudes compound ((max+1)^2 + 1)^2; stats are per-series, so
    # layer-k stats seeing layers 0..k-1's writes on that series is
    # exactly the sequential apply_anomalies ordering. Clamps mirror
    # anomaly_hit_expr exactly.
    from amazon_macie_activity_generator_spark.functions.rng import hash_int
    max_layers = max((len(g.anomalies) for g in gens), default=0)
    for layer in range(max_layers):
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
            continue

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
        branches = []
        for formula, series_ids in formulas.items():
            val_expr, needed = anomaly_value_expr({"formula": formula} if formula else {})
            needed_all |= needed
            cond = F.col("__hit").isNotNull() & F.col("series_id").isin(series_ids)
            branches.append((cond, val_expr))
        if needed_all and layer > 0:
            # same barrier as apply_anomalies: layer k's stats aggregate
            # must not replay layers 0..k-1's join+when lineage
            from amazon_macie_activity_generator_spark.cache import scoped_persist

            df = scoped_persist(df, "generate_anomaly_layers", keep=2)
        df = attach_series_stats(df, needed_all, "value", ["series_id"])
        chain = F.col("value")
        for cond, val_expr in reversed(branches):
            chain = F.when(cond, val_expr.cast("double")).otherwise(chain)
        df = df.withColumn("value", chain).drop("__hit", *needed_all)

    # T5 — final int cast (main.py:663)
    df = df.withColumn("value", F.col("value").cast("long").cast("double"))

    if align:
        df = zero_fill(
            spark, df, n_points=blueprint.num_points,
            carry_cols=("run_id", "shape"),
        )
    start = str(blueprint.commons.get("start_time", DEFAULT_START_TIME))
    df = df.withColumn(
        "ts",
        F.to_timestamp(F.lit(start)) + F.make_interval(mins=F.col("t").cast("int")),
    )
    return df.select(
        "run_id", "series_id", "shape", "t", "ts", F.col("value").cast("long").alias("value")
    )
