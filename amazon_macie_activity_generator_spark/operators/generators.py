"""G1-G6 — synthetic series generators as column expressions over
per-generator parameters.

Reference: ``main.py:447-573`` (one ``get_<shape>_timeseries`` per shape,
dispatched by name at ``main.py:652-657``), each building a Python list.
Here a generator is data: ``shape_params`` turns its config into an
expression key plus parameters computed in Python (``2*pi*frequency``,
the TimeSynth step, the gamma ``d``/``c``, ...), and ``shape_expr`` is
the math of every generator sharing that key, over those parameters and
the slot index ``t`` — whole-stage codegen, no Python in the loop. The
generation plan keeps the parameters as columns of a one-row-per-
generator table (plans/generate.py); one series can pass literals.

Fidelity notes (SURVEY.md §2.2):
- B1 fixed: the reference's beta/gamma/weibull/gauss/normal/lognormal
  paths crash on an undefined helper (``main.py:551,555``); we implement
  all eleven documented distributions properly.
- Sinusoidal reproduces TimeSynth's regular sampling grid
  ``t_k = k * N / (N-1)`` (linspace(0, N, N)), then
  ``amplitude * sin(2*pi*frequency*t_k)`` (main.py:479-498).
- constant and square are NOT signal-scaled (``signal_scaled``).
"""

from __future__ import annotations

import math
from collections.abc import Hashable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.formula import translate_formula
from amazon_macie_activity_generator_spark.functions.rng import counter_gauss, counter_unit, hash_gauss, hash_unit

DEFAULT_NUM_POINTS = 100  # main.py:69
DEFAULT_SIGNAL_MIN = 1    # main.py:63
DEFAULT_SIGNAL_MAX = 20   # main.py:64
MAX_NUM_POINTS = 20160    # README.md:41 — 14 days of minutes


def time_grid(spark: SparkSession, n: int) -> DataFrame:
    """S3 — the slot grid ``t = 0..n-1`` (main.py:474,541,546) as a relation.

    ``spark.range`` splits the grid across the cluster; at 20k points x
    millions of series the grid is generated, never materialized.
    """
    return spark.range(n).withColumnRenamed("id", "t")


def signal_scaled(shape: str, cfg: dict) -> bool:
    """T1/T2 applies to sinusoidal/custom/real and every random type but
    triangular, which draws inside the signal range (main.py:447-573)."""
    return shape in ("sinusoidal", "custom", "real") or (
        shape == "random" and cfg.get("type", "uniform") != "triangular"
    )


def custom_expr(formula: str) -> tuple[Column, set[str]]:
    """G5 (main.py:464-477): formula over t — translated, never eval'd.
    Needed agg placeholders (max/min/len/sum(datapoints)) mark a
    recurrence over the series' own prefix, evaluated driver-side."""
    sql, needed = translate_formula(formula)
    return F.expr(sql), needed


def shape_params(shape: str, cfg: dict, n: int) -> tuple[Hashable, dict[str, float | None]]:
    """A generator's expression key and the parameters ``shape_expr``
    reads, every literal precomputed (None switches a branch off).
    Custom formulas key on their text, random draws on (type, rng)."""
    def num(key: str, default: float) -> float:
        return float(cfg.get(key, default))

    if shape == "constant":  # G1 (main.py:500-508)
        return ("constant",), {"constant": num("constant", 1)}
    if shape == "square":  # G2 (main.py:447-462): [low]*lw + [high]*hw, repeated
        lw, hw = int(cfg.get("low_width", 1)), int(cfg.get("high_width", 1))
        return ("square",), {"period": float(max(lw + hw, 1)), "low_width": float(lw),
                             "low_value": num("low_value", 0), "high_value": num("high_value", 0)}
    if shape == "sinusoidal":  # G3 (main.py:479-498)
        return ("sinusoidal",), {"amplitude": num("amplitude", 1.0),
                                 "omega": 2.0 * math.pi * num("frequency", 1.0),
                                 "step": float(n) / float(n - 1) if n > 1 else 0.0}
    if shape == "custom":
        return ("custom", str(cfg["formula"])), {}
    if shape != "random":
        raise ValueError(f"shape {shape!r} has no column expression")
    # G4 (main.py:531-573): distributions per README.md:133
    dist = str(cfg.get("type", "uniform"))
    alpha, beta = num("alpha", 1.0), num("beta", 1.0)
    if dist == "uniform":
        params = {}
    elif dist == "triangular":
        # drawn directly in [signal_min, signal_max], mode = midpoint
        # (random.triangular default)
        lo, hi = num("signal_min", DEFAULT_SIGNAL_MIN), num("signal_max", DEFAULT_SIGNAL_MAX)
        c = (lo + hi) / 2.0
        params = {"lo": lo, "hi": hi, "fc": (c - lo) / (hi - lo) if hi != lo else 0.5,
                  "k_left": (hi - lo) * (c - lo), "k_right": (hi - lo) * (hi - c)}
    elif dist in ("gauss", "normalvariate", "lognormvariate"):
        dist = "gauss" if dist == "normalvariate" else dist
        params = {"mu": num("mu", 0.0), "sigma": num("sigma", 1.0)}
    elif dist == "expovariate":
        params = {"lambd": num("lambda", 1.0)}
    elif dist == "paretovariate":
        params = {"neg_inv_alpha": -1.0 / alpha}
    elif dist == "weibullvariate":
        params = {"alpha": alpha, "inv_beta": 1.0 / beta}
    elif dist == "gammavariate":
        params = {**_gamma_params(alpha, "x"), "beta": beta}
    elif dist == "betavariate":
        params = {**_gamma_params(alpha, "x"), **_gamma_params(beta, "y")}
    elif dist == "vonmisesvariate":
        kappa = num("kappa", 1.0)
        params = {"mu": num("mu", 0.0), "sigma": None if kappa <= 1e-6 else 1.0 / math.sqrt(kappa)}
    else:
        raise ValueError(f"unknown random type {dist!r}")
    return ("random", dist, str(cfg.get("rng", "hash"))), params


def _gamma_params(alpha: float, tag: str) -> dict[str, float | None]:
    """Marsaglia–Tsang constants of Gamma(alpha, 1). alpha<1 draws
    Gamma(alpha+1) and keeps the boost exponent ``1/alpha``."""
    boost = alpha < 1.0
    d = (alpha + 1.0 if boost else alpha) - 1.0 / 3.0
    return {f"{tag}_d": d, f"{tag}_c": 1.0 / math.sqrt(9.0 * d), f"{tag}_boost": 1.0 / alpha if boost else None}


def shape_expr(key: Hashable, p: Mapping[str, Column], t: Column, run_id: Column, series_id: Column) -> Column:
    """The raw value at slot ``t`` of the generators sharing ``key``,
    over their parameters ``p`` (columns or literals, by name);
    ``run_id``/``series_id`` seed the random draws."""
    if key[0] == "constant":
        return p["constant"]
    if key[0] == "square":  # list repetition as modular arithmetic on t
        return F.when(F.pmod(t, p["period"]) < p["low_width"], p["low_value"]).otherwise(p["high_value"])
    if key[0] == "sinusoidal":
        return p["amplitude"] * F.sin(p["omega"] * (t.cast("double") * p["step"]))
    if key[0] == "custom":
        return custom_expr(key[1])[0]
    return _random_expr(key[1], key[2], p, t, run_id, series_id)


def _random_expr(dist: str, rng: str, p: Mapping[str, Column], t: Column, run_id: Column, series_id: Column) -> Column:
    """G4: a per-slot draw. Draws derive from a partition-stable
    counter-style RNG: xxhash64 by default, or the cross-engine counter
    RNG (functions/rng.py), whose ops all exist identically in DuckDB; a
    counter stream starts at crc32(run|series|salt), the column form of
    ``counter_offset``. Closed-form inverse CDFs keep everything
    JVM-side; beta/gamma/vonmises use bounded transform-rejection over a
    fixed budget of streams — still pure expressions, no Python."""
    if rng == "counter":
        def counter(salt): return F.crc32(F.concat_ws("|", run_id, series_id, F.lit(salt))) + t
        def u(salt): return counter_unit(counter(salt))
        def z(salt): return counter_gauss(counter(salt))
    else:
        def u(salt): return hash_unit(run_id, series_id, t, salt=salt)
        def z(salt): return hash_gauss(run_id, series_id, t, salt=salt)
    one = F.lit(1.0)
    if dist == "uniform":
        return u("uni")
    if dist == "triangular":
        uu = u("tri")
        left = p["lo"] + F.sqrt(uu * p["k_left"])
        return F.when(uu < p["fc"], left).otherwise(p["hi"] - F.sqrt((one - uu) * p["k_right"]))
    if dist == "gauss":
        return p["mu"] + p["sigma"] * z("nrm")
    if dist == "lognormvariate":
        return F.exp(p["mu"] + p["sigma"] * z("lgn"))
    if dist == "expovariate":
        return -F.log(one - u("exp")) / p["lambd"]
    if dist == "paretovariate":
        return F.pow(one - u("par"), p["neg_inv_alpha"])
    if dist == "weibullvariate":
        # random.weibullvariate(alpha, beta): alpha * (-ln(1-u))^(1/beta)
        return p["alpha"] * F.pow(-F.log(one - u("wei")), p["inv_beta"])
    if dist == "gammavariate":
        return _gamma_expr(p, "x", u, z, "gam") * p["beta"]
    if dist == "betavariate":
        # X/(X+Y) with X~Gamma(alpha,1), Y~Gamma(beta,1)
        x, y = _gamma_expr(p, "x", u, z, "bx"), _gamma_expr(p, "y", u, z, "by")
        return x / (x + y)
    # vonmisesvariate: the wrapped-normal approximation (sigma^2 =
    # 1/kappa), exact-uniform for kappa~0 (sigma None) — a bounded,
    # pure-expression stand-in for Best–Fisher rejection
    two_pi = F.lit(2.0 * math.pi)
    theta = F.pmod(p["mu"] + p["sigma"] * z("vmz"), two_pi)
    return F.when(p["sigma"].isNull(), two_pi * u("vm0")).otherwise(theta)


def _gamma_expr(p: Mapping[str, Column], tag: str, u, z, salt: str) -> Column:
    """Gamma(alpha, 1) over ``_gamma_params(alpha, tag)``: Marsaglia–Tsang
    (2000) squeeze with a fixed budget of 4 independent stream attempts
    (acceptance ~0.95+ per attempt for alpha>=1; miss probability < 1e-5),
    falling back to the Wilson–Hilferty approximation. alpha<1 via the
    standard boost Gamma(a) = Gamma(a+1) * U^(1/a)."""
    d, c, boost = p[f"{tag}_d"], p[f"{tag}_c"], p[f"{tag}_boost"]
    one = F.lit(1.0)
    result = d * F.pow(F.greatest(F.lit(1e-12), one + c * z(f"{salt}:wh")), F.lit(3.0))
    # try attempts in reverse so attempt 0 wins when it accepts
    for i in reversed(range(4)):
        zi, ui = z(f"{salt}:z{i}"), u(f"{salt}:u{i}")
        v = F.pow(one + c * zi, F.lit(3.0))
        accept = (v > F.lit(0.0)) & (
            F.log(F.greatest(ui, F.lit(1e-300)))
            < F.lit(0.5) * zi * zi + d - d * v + d * F.log(F.greatest(v, F.lit(1e-300)))
        )
        result = F.when(accept, d * v).otherwise(result)
    ub = u(f"{salt}:boost")
    return result * F.when(boost.isNotNull(), F.pow(F.greatest(ub, F.lit(1e-16)), boost)).otherwise(one)
