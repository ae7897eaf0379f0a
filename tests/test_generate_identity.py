"""Pinned fact-table identity for ``generate``.

One blueprint exercises every generation path at once: all six shapes,
all eleven random types under both RNG families, shared and distinct
custom formulas, a recurrence, a real file, zero-filled short series,
noise on and off, and two anomaly layers with different formulas. The
sorted rows of its fact table are hashed and compared with a committed
digest, so a rewrite of the generation plan must reproduce every value
bit for bit in both anomaly modes.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.config import parse_blueprint
from amazon_macie_activity_generator_spark.plans.generate import generate

RANDOM_TYPES = {
    "uniform": {},
    "triangular": {"signal_min": 3, "signal_max": 11},
    "gauss": {"mu": 1.0, "sigma": 2.0},
    "normalvariate": {"mu": -3.0, "sigma": 0.5},
    "lognormvariate": {"mu": 0.2, "sigma": 0.4},
    "expovariate": {"lambda": 1.7},
    "paretovariate": {"alpha": 2.5},
    "weibullvariate": {"alpha": 1.5, "beta": 0.8},
    "gammavariate": {"alpha": 2.0, "beta": 3.0},
    "betavariate": {"alpha": 0.6, "beta": 2.0},
    "vonmisesvariate": {"mu": 1.0, "kappa": 3.0},
}

# sha256 of the sorted fact rows per anomaly mode
PINNED = {
    "hash": "53fa7c6172cf11114c0ec3c13864aa342e7ae61108ed96c8d8eac7c20645e803",
    "stride": "c5ed11775e7b8aa9a454203b7f7fcaef0871e1a032ce2d46fb6c113591024d5d",
}


def _blueprint(real_path: str):
    quiet = {"noise_min": 0, "noise_max": 0}
    gens = [
        {"id": "const", "shape": "constant", "config": {"constant": 4}},
        {"id": "const_short", "shape": "constant",
         "config": {"constant": 6, "num_points": 17, **quiet}},
        {"id": "square", "shape": "square",
         "config": {"low_value": 2, "high_value": 9, "low_width": 4, "high_width": 3,
                    "anomalies": [{"start": 0, "end": 20, "counts": 4, "formula": "t * 3 + 1"},
                                  {"start": 5, "end": 50, "counts": 2}]}},
        {"id": "sine", "shape": "sinusoidal",
         "config": {"frequency": 0.05, "amplitude": 3.0, "num_points": 45}},
        {"id": "cu_a", "shape": "custom", "config": {"formula": "t % 7 + 1"}},
        {"id": "cu_b", "shape": "custom", "config": {"formula": "t % 7 + 1", **quiet}},
        {"id": "cu_c", "shape": "custom", "config": {"formula": "(t * t) % 11 + 2", "num_points": 30}},
        {"id": "rec", "shape": "custom",
         "config": {"formula": "sum(datapoints) % 13 + 1", "num_points": 33}},
        {"id": "real", "shape": "real", "config": {"path": real_path, "num_points": 26, **quiet}},
        {"id": "gamma_boost", "shape": "random",
         "config": {"type": "gammavariate", "alpha": 0.4, "beta": 1.0, "rng": "counter"}},
        {"id": "vm_flat", "shape": "random", "config": {"type": "vonmisesvariate", "kappa": 0.0}},
    ]
    for rng in ("hash", "counter"):
        for i, (rtype, params) in enumerate(RANDOM_TYPES.items()):
            cfg = {"type": rtype, "rng": rng, **params}
            if i % 3 == 0:
                cfg.update(quiet)
            if i % 4 == 1:
                cfg["num_points"] = 40
            gens.append({"id": f"r_{rng}_{rtype}", "shape": "random", "config": cfg})
    return parse_blueprint({
        "commons": {
            "num_points": 60, "signal_min": 1, "signal_max": 25,
            "noise_min": -2, "noise_max": 4,
            "anomalies": [
                {"start": 3, "end": 40, "counts": 5},
                {"start": 10, "end": 59, "counts": 3, "formula": "max(datapoints) + t"},
            ],
        },
        "generators": gens,
        "targets": [],
    })


def _rows_sha(df) -> str:
    rows = df.select(
        "run_id", "series_id", "shape", "t", F.col("ts").cast("string").alias("ts"), "value"
    ).collect()
    text = "\n".join(sorted("|".join(map(str, r)) for r in rows))
    return hashlib.sha256(text.encode()).hexdigest()


@pytest.mark.parametrize("mode", ["hash", "stride"])
def test_generate_rows_pinned(spark, tmp_path, mode):
    real = tmp_path / "real.dat"
    real.write_text("\n".join(str(i * 5 % 23) for i in range(21)) + "\n\n7\n")
    bp = _blueprint(str(real))
    assert len(bp.generators) == 33
    df = generate(spark, bp, run_id="pinned", anomaly_mode=mode)
    # every series is zero-filled to the grid: run_blueprint reports its
    # n_rows by this identity instead of running a count job
    assert df.count() == len(bp.generators) * bp.num_points
    assert _rows_sha(df) == PINNED[mode]
