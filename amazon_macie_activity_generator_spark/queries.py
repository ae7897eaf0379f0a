"""Driver-contract query catalog: name -> (spark_builder, duckdb_oracle_sql).

This module holds the reference-parity and product-path entries
(generators, transforms, reshape, fake content / S3 activity rows,
streaming replay, ``blueprint_e2e``, ``flagship_pipeline``) and the ONE
registry, ``QUERIES``. The extension entries live in four domain
modules next to it:

- ``queries_text``       text and dedup over ``documents``;
- ``queries_vectors``    vectors and similarity over ``embeddings``;
- ``queries_warehouse``  warehouse, event-stream and graph shapes over the
  TPC-H tables and ``events``;
- ``queries_media``      multimodal decode / resize / features.

``QUERIES`` keeps the catalog's historical insertion order: the driver
rotation's final tiebreak depends on it.

The driver runs the Spark side at sf=0.01 and hash-compares against the
DuckDB SQL (columns sorted by name; floats rounded in BOTH engines by
the queries themselves). Non-SQL-expressible / nondeterministic ops have
``sql=None`` -> rows-only check.

Cross-engine FP discipline (SURVEY.md §7 hard parts):
- identical IEEE op order in both engines wherever floats matter;
- libm-sensitive funcs (sin) round to 6dp *before* any ceil;
- float outputs round to 4dp; casts avoid engine-specific behavior
  (DuckDB CAST(double AS BIGINT) rounds, Spark truncates -> always
  ``floor`` first).
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark import (
    queries_media as media,
    queries_text as text,
    queries_vectors as vectors,
    queries_warehouse as warehouse,
)
from amazon_macie_activity_generator_spark.config import GeneratorSpec
from amazon_macie_activity_generator_spark.formula import translate_formula
from amazon_macie_activity_generator_spark.functions.rng import counter_offset, counter_unit
from amazon_macie_activity_generator_spark.operators import generators as G
from amazon_macie_activity_generator_spark.operators.align import zero_fill
from amazon_macie_activity_generator_spark.operators.anomalies import apply_anomalies
from amazon_macie_activity_generator_spark.operators.reshape import (
    JSON_OPTS,
    group_datapoints,
    payload_envelope,
    pivot_slot_rows,
)
from amazon_macie_activity_generator_spark.operators.scaling import scale_minmax
from amazon_macie_activity_generator_spark.operators.slicing import chunk_rows, slice_explode
from amazon_macie_activity_generator_spark.plans.generate import generate_series
from amazon_macie_activity_generator_spark.sources.real_series import (
    events_as_series,
    pad_truncate,
)
from amazon_macie_activity_generator_spark.sources.tables import load_table, spread_small_scan

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# --------------------------------------------------------------- generators

def q_gen_constant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 (main.py:500-508)."""
    g = GeneratorSpec("const1", "constant", {"constant": 7, "num_points": 100})
    df = generate_series(spark, g, run_id="oracle")
    return df.select("t", F.col("value").cast("long").alias("value"))


SQL_GEN_CONSTANT = "SELECT t, CAST(7 AS BIGINT) AS value FROM range(0, 100) tbl(t)"


def q_gen_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 (main.py:447-462): README.md:135 worked example, 100 points."""
    g = GeneratorSpec(
        "sq1", "square",
        {"low_value": 10, "low_width": 2, "high_value": 40, "high_width": 3, "num_points": 100},
    )
    df = generate_series(spark, g, run_id="oracle")
    return df.select("t", F.col("value").cast("long").alias("value"))


SQL_GEN_SQUARE = (
    "SELECT t, CAST(CASE WHEN t % 5 < 2 THEN 10 ELSE 40 END AS BIGINT) AS value "
    "FROM range(0, 100) tbl(t)"
)

_SIN_N = 100
_SIN_STEP = float(_SIN_N) / float(_SIN_N - 1)
_SIN_W = 2.0 * math.pi * 0.037  # angular frequency for f=0.037


def q_gen_sinusoidal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 (main.py:479-498): sin on the TimeSynth grid, signal-scaled to
    [1,20]. Pre-ceil round(6) in both engines dodges libm ULP drift."""
    df = G.time_grid(spark, _SIN_N).withColumn(
        "raw", F.sin(F.lit(_SIN_W) * F.col("t").cast("double") * F.lit(_SIN_STEP))
    )
    df = scale_minmax(df, value_col="raw", lo=1, hi=20, by=[], round_before_ceil=6)
    return df.select("t", F.col("raw").cast("long").alias("value"))


SQL_GEN_SINUSOIDAL = f"""
WITH raw AS (
  SELECT t, sin({_SIN_W!r} * CAST(t AS DOUBLE) * {_SIN_STEP!r}) AS v
  FROM range(0, {_SIN_N}) tbl(t)
), stats AS (SELECT min(v) AS mn, max(v) AS mx FROM raw)
SELECT t, CAST(CASE WHEN mx = mn THEN ceil(1.0)
                ELSE ceil(round((v - mn) / (mx - mn) * 19.0 + 1.0, 6)) END AS BIGINT) AS value
FROM raw, stats
"""


def q_gen_custom_recurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 recurrence semantics (eval with the prefix in scope,
    main.py:473-475): ``sum(datapoints) + 1`` doubles each slot -> raw
    2^(t-1) (1 at t=0), then signal-scaled [1,20]. Closed form in the
    oracle; round(6) pre-ceil in both engines."""
    g = GeneratorSpec(
        "rec1", "custom",
        {"formula": "sum(datapoints) + 1", "num_points": 20,
         "signal_min": 1, "signal_max": 20},
    )
    df = generate_series(spark, g, run_id="oracle")
    return df.select("t", F.col("value").cast("long").alias("value"))


# raw values are exact powers of two and both engines run the identical
# IEEE scaling expression, so no pre-ceil rounding is needed (or wanted:
# one-sided rounding could flip a ceil the other engine doesn't).
SQL_GEN_RECURRENCE = """
WITH raw AS (
  SELECT t, power(2.0, t) AS v FROM range(0, 20) tbl(t)
), stats AS (SELECT min(v) AS mn, max(v) AS mx FROM raw)
SELECT t, CAST(CASE WHEN mx = mn THEN ceil(1.0)
                ELSE ceil((v - mn) / (mx - mn) * 19.0 + 1.0) END AS BIGINT) AS value
FROM raw, stats
"""

_CUSTOM_FORMULA = "(t * t) % 97 + 3"


def q_gen_custom_formula(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 (main.py:464-477): whitelist-translated formula, scaled [0,90]."""
    sql, needed = translate_formula(_CUSTOM_FORMULA)
    assert not needed
    df = G.time_grid(spark, 200).withColumn("raw", F.expr(sql))
    df = scale_minmax(df, value_col="raw", lo=0, hi=90, by=[], round_before_ceil=6)
    return df.select("t", F.col("raw").cast("long").alias("value"))


SQL_GEN_CUSTOM = """
WITH raw AS (
  SELECT t, (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) % 97 + 3 AS v
  FROM range(0, 200) tbl(t)
), stats AS (SELECT min(v) AS mn, max(v) AS mx FROM raw)
SELECT t, CAST(CASE WHEN mx = mn THEN ceil(0.0)
                ELSE ceil(round((v - mn) / (mx - mn) * 90.0 + 0.0, 6)) END AS BIGINT) AS value
FROM raw, stats
"""

# ------------------------------------------------------------------ sources

_REPLAY_N = 2500


def q_real_replay_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 (main.py:510-529): replay 'click' events as a series; zero-pad
    to N slots / truncate beyond."""
    s = events_as_series(load_table(spark, sf_dir, "events")).filter(F.col("series_id") == "click")
    out = pad_truncate(spark, s.select("t", "value"), _REPLAY_N)
    return out.select("t", F.round("value", 4).alias("value"))


SQL_REAL_REPLAY = f"""
WITH s AS (
  SELECT row_number() OVER (ORDER BY ts, event_id) - 1 AS t, value
  FROM events WHERE event_type = 'click' AND ts IS NOT NULL
)
SELECT g.t, round(COALESCE(s.value, 0.0), 4) AS value
FROM range(0, {_REPLAY_N}) g(t) LEFT JOIN s ON g.t = s.t
"""


# --------------------------------------------------------------- transforms

def q_scale_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2 (main.py:340-357): rescale events.value per event_type into
    [1,100] — two-pass agg + broadcast join, no unpartitioned window."""
    df = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = scale_minmax(df, value_col="value", lo=1, hi=100, by=["event_type"], out_col="scaled")
    return out.select("event_id", "event_type", F.col("scaled").cast("long").alias("scaled"))


SQL_SCALE_MINMAX = """
SELECT event_id, event_type,
       CAST(CASE WHEN mx = mn THEN ceil(1.0)
             ELSE ceil((value - mn) / (mx - mn) * 99.0 + 1.0) END AS BIGINT) AS scaled
FROM (
  SELECT event_id, event_type, value,
         min(value) OVER (PARTITION BY event_type) AS mn,
         max(value) OVER (PARTITION BY event_type) AS mx
  FROM events
)
"""

_ANOM_SPEC = {"start": 10, "end": 500, "counts": 7}
_ANOM_STRIDE = (500 - 10 + 1) // 7  # 70


def q_anomaly_inject_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 (main.py:606-641), deterministic stride mode: 7 slots in
    [10,500], overwrite with default (max+1)^2."""
    s = events_as_series(load_table(spark, sf_dir, "events")).select("series_id", "t", "value")
    out = apply_anomalies(s, [_ANOM_SPEC], n_points=501, mode="stride")
    return out.select("series_id", "t", F.round("value", 4).alias("value"))


SQL_ANOMALY_STRIDE = f"""
WITH s AS (
  SELECT event_type AS series_id,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS t,
         value
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
), st AS (SELECT series_id, max(value) AS mx FROM s GROUP BY series_id)
SELECT s.series_id, s.t,
       round(CASE WHEN s.t BETWEEN 10 AND 500
                   AND (s.t - 10) % {_ANOM_STRIDE} = 0
                   AND (s.t - 10) // {_ANOM_STRIDE} < 7
              THEN power(TRY_CAST(trunc(st.mx) AS BIGINT) + 1, 2) ELSE s.value END, 4) AS value
FROM s JOIN st USING (series_id)
"""


def q_align_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 (main.py:686-696): full grid x series, missing slots -> 0."""
    s = events_as_series(load_table(spark, sf_dir, "events")).select("series_id", "t", "value")
    out = zero_fill(spark, s)
    return out.select("series_id", "t", F.round("value", 4).alias("value"))


SQL_ALIGN_ZERO_FILL = """
WITH s AS (
  SELECT event_type AS series_id,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS t,
         value
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
),
grid AS (
  SELECT unnest(range(0, (SELECT max(cnt) FROM (SELECT count(*) AS cnt FROM s GROUP BY series_id)))) AS t
)
SELECT d.series_id, grid.t, round(COALESCE(s.value, 0.0), 4) AS value
FROM grid CROSS JOIN (SELECT DISTINCT series_id FROM s) d
LEFT JOIN s ON s.series_id = d.series_id AND s.t = grid.t
"""


def q_slice_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 (main.py:95-113): fan-out slicing, slice_size=3."""
    df = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 1000)
        .select("event_id", F.floor("value").cast("long").alias("value"))
    )
    out = slice_explode(df, 3)
    return out.select(
        "event_id",
        F.col("slice_idx").cast("long").alias("slice_idx"),
        F.col("slice_value").cast("long").alias("slice_value"),
    )


SQL_SLICE_EXPLODE = """
WITH v AS (
  SELECT event_id, CAST(floor(value) AS BIGINT) AS v
  FROM events WHERE event_id < 1000
),
n AS (
  -- v <= 0 and the v // 3 >= 1000000 cap mirror slicing.slice_array_expr:
  -- degenerate values pass through as ONE slice [v] (never a dropped row
  -- or a million-element fan-out)
  SELECT event_id, v,
         CASE WHEN v <= 0 OR v // 3 >= 1000000 THEN 1
              ELSE v // 3 + CASE WHEN v % 3 > 0 THEN 1 ELSE 0 END END AS cnt
  FROM v
)
SELECT event_id, i AS slice_idx,
       CASE WHEN v <= 0 OR v // 3 >= 1000000 THEN v
            WHEN i < v // 3 THEN 3 ELSE v % 3 END AS slice_value
FROM (SELECT event_id, v, unnest(range(cnt)) AS i FROM n)
"""


def q_chunk_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 (main.py:71-82): <=10-row chunks per event_type."""
    df = load_table(spark, sf_dir, "events").select("event_type", "event_id")
    out = chunk_rows(df, 10, order_by=["event_id"], by=["event_type"])
    return out.groupBy("event_type", "chunk_id").agg(F.count("*").alias("n_rows"))


SQL_CHUNK_ROWS = """
SELECT event_type, chunk_id, count(*) AS n_rows
FROM (
  SELECT event_type,
         (row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1) // 10 AS chunk_id
  FROM events
)
GROUP BY event_type, chunk_id
"""


# ---------------------------------------------------------------- reshaping

def q_pivot_slot_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 (main.py:686-707): wide slot rows over the 5 event series."""
    s = events_as_series(load_table(spark, sf_dir, "events")).filter(F.col("t") < 1500)
    wide = pivot_slot_rows(s, series_ids=EVENT_TYPES, agg="max")
    return wide.select("t", *[F.round(c, 4).alias(c) for c in EVENT_TYPES])


SQL_PIVOT_SLOT_ROW = """
WITH s AS (
  SELECT event_type AS series_id,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS t,
         value
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
)
SELECT t,
       round(COALESCE(max(CASE WHEN series_id = 'click' THEN value END), 0), 4) AS click,
       round(COALESCE(max(CASE WHEN series_id = 'error' THEN value END), 0), 4) AS error,
       round(COALESCE(max(CASE WHEN series_id = 'purchase' THEN value END), 0), 4) AS purchase,
       round(COALESCE(max(CASE WHEN series_id = 'signup' THEN value END), 0), 4) AS signup,
       round(COALESCE(max(CASE WHEN series_id = 'view' THEN value END), 0), 4) AS view
FROM s WHERE t < 1500 GROUP BY t
"""


def q_group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 (main.py:784-802): per-slot sorted datapoint groups, as JSON for
    cross-engine comparison."""
    s = (
        events_as_series(load_table(spark, sf_dir, "events"))
        .filter(F.col("t") < 100)
        .withColumn("value", F.floor("value").cast("long"))
    )
    out = group_datapoints(s)
    return out.select("t", F.to_json("datapoints", JSON_OPTS).alias("datapoints_json"))


SQL_GROUP_COLLECT = """
WITH s AS (
  SELECT event_type AS series_id,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS t,
         CAST(floor(value) AS BIGINT) AS value
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
)
SELECT t, to_json(list(struct_pack(generator_id := series_id, value := value)
                       ORDER BY series_id)) AS datapoints_json
FROM s WHERE t < 100 GROUP BY t
"""

_PAYLOAD_TARGET = {"type": "lambda", "function": "net_fuzz", "generators": ["click"]}


def q_payload_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 (main.py:804-828): wire-format envelope (README.md:292-313),
    fixed timestamp for determinism."""
    s = (
        events_as_series(load_table(spark, sf_dir, "events"))
        .filter(F.col("t") < 5)
        .withColumn("value", F.floor("value").cast("long"))
    )
    grouped = group_datapoints(s)
    return payload_envelope(
        grouped, _PAYLOAD_TARGET, timestamp=F.lit("2024-01-01T00:00:00Z")
    )


SQL_PAYLOAD_JSON = """
WITH s AS (
  SELECT event_type AS series_id,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS t,
         CAST(floor(value) AS BIGINT) AS value
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
)
SELECT to_json(struct_pack(
         source := 'amazon-macie-activity-generator',
         action := 'execute-datapoints',
         "timestamp" := '2024-01-01T00:00:00Z',
         datapoints := list(struct_pack(generator_id := series_id, value := value)
                            ORDER BY series_id),
         target := struct_pack(function := 'net_fuzz', type := 'lambda')
       )) AS payload
FROM s WHERE t < 5 GROUP BY t
"""

# ------------------------------------------------------------- flagship

_FLAGSHIP_ANOM = {"start": 10, "end": 100, "counts": 5}
_FLAGSHIP_N = 101  # anomaly-clamp window (n_points)


def flagship_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver flagship (``__spark_entry__.entry`` runs this at
    sf0.001): the full reference delivery pipeline, replay -> align
    (zero-fill, T6) -> signal-scale into [1,20] (T2) -> stride anomaly
    injection (T4) -> int cast (T5) -> wide slot rows (R1, the queue
    entry shape, main.py:667-709). Composed here as a catalog entry so
    the flagship itself carries a DuckDB value-hash oracle — each stage's
    oracle CTE is the same SQL that hash-matches the stage entry."""
    from amazon_macie_activity_generator_spark.cache import begin_scope, scoped_persist

    events = load_table(spark, sf_dir, "events")
    series = events_as_series(events).select("series_id", "t", "value")
    # r14 (guide §5 reuse): each composed stage consumes its input more
    # than once (zero_fill reads `series` for the grid max, the distinct
    # series dimension AND the join; scale_minmax reads `aligned` for
    # the stats aggregate AND the join), so the unbarriered composition
    # re-derived the events->window subtree ~12x per plan (24 scan nodes
    # in plans/r14/flagship_pipeline_before.txt). Persist the two fan-out
    # points; every downstream branch reads the cache. Lazy persists —
    # plan barriers + per-partition cache locking, no eager action, so
    # the bench timer still sees the full cost.
    begin_scope("flagship_pipeline", spark)
    series = scoped_persist(series, "flagship_pipeline", keep=2)
    aligned = scoped_persist(zero_fill(spark, series), "flagship_pipeline", keep=2)
    scaled = scale_minmax(aligned, value_col="value", lo=1, hi=20, by=["series_id"])
    with_anomalies = apply_anomalies(
        scaled.withColumn("value", F.col("value").cast("double")),
        [_FLAGSHIP_ANOM],
        n_points=_FLAGSHIP_N,
        mode="stride",
    )
    final = with_anomalies.withColumn("value", F.col("value").cast("long"))
    return pivot_slot_rows(final, series_ids=EVENT_TYPES, agg="max")


def _sql_flagship() -> str:
    """The composed oracle, generated from the SAME spec constants the
    Spark side uses (one source of truth), with apply_anomalies'
    clamp/stride rules mirrored: both ends clamped into [0, n_points-1],
    stride = max(width // counts, 1)."""
    start = max(0, min(int(_FLAGSHIP_ANOM["start"]), _FLAGSHIP_N - 1))
    end = max(0, min(int(_FLAGSHIP_ANOM["end"]), _FLAGSHIP_N - 1))
    counts = int(_FLAGSHIP_ANOM["counts"])
    stride = max((end - start + 1) // counts, 1)
    pivot_cols = ",\n".join(
        f"       CAST(COALESCE(max(CASE WHEN series_id = '{sid}' THEN value END), 0) AS DOUBLE) AS {sid}"
        for sid in EVENT_TYPES
    )
    return f"""
WITH s AS (
  SELECT event_type AS series_id,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS t,
         value
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
),
grid AS (
  SELECT unnest(range(0, (SELECT max(cnt) FROM (SELECT count(*) AS cnt FROM s GROUP BY series_id)))) AS t
),
aligned AS (
  SELECT d.series_id, grid.t, COALESCE(s.value, 0.0) AS value
  FROM grid CROSS JOIN (SELECT DISTINCT series_id FROM s) d
  LEFT JOIN s ON s.series_id = d.series_id AND s.t = grid.t
),
st AS (SELECT series_id, min(value) AS mn, max(value) AS mx FROM aligned GROUP BY series_id),
scaled AS (
  SELECT a.series_id, a.t,
         CASE WHEN st.mx = st.mn THEN ceil(1.0)
              ELSE ceil((a.value - st.mn) / (st.mx - st.mn) * 19.0 + 1.0) END AS value
  FROM aligned a JOIN st USING (series_id)
),
am AS (SELECT series_id, max(value) AS mx FROM scaled GROUP BY series_id),
anom AS (
  -- stride hits then the T5 int cast: Spark CAST(double AS long)
  -- truncates, DuckDB's rounds -> trunc() first
  SELECT sc.series_id, sc.t,
         CAST(trunc(CASE WHEN sc.t BETWEEN {start} AND {end}
                          AND (sc.t - {start}) % {stride} = 0
                          AND (sc.t - {start}) // {stride} < {counts}
                     THEN power(TRY_CAST(trunc(am.mx) AS BIGINT) + 1, 2)
                     ELSE sc.value END) AS BIGINT) AS value
  FROM scaled sc JOIN am USING (series_id)
)
SELECT t,
{pivot_cols}
FROM anom GROUP BY t
"""


SQL_FLAGSHIP = _sql_flagship()

_CTR_M = 2147483647
_CTR_OFF_UNI = counter_offset("oracle", "rndc1", "uni")
_CTR_OFF_EXP = counter_offset("oracle", "rndx1", "exp")


def _ctr_chain_sql(off: int, n: int) -> str:
    """DuckDB twin of functions/rng.py:counter_int31 — same rounds, same
    constants, all intermediates < 2^48."""
    return f"""
  x1 AS (SELECT t, ((({off} + t) % {_CTR_M - 1} + 1) * 48271) % {_CTR_M} AS x
         FROM range(0, {n}) tbl(t)),
  x2 AS (SELECT t, (xor(x, x >> 15) * 69621) % {_CTR_M} AS x FROM x1),
  x3 AS (SELECT t, (xor(x, x >> 13) * 48271) % {_CTR_M} AS x FROM x2),
  u  AS (SELECT t, CAST(x AS DOUBLE) / {_CTR_M}.0 AS v FROM x3)"""


def q_gen_random_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 uniform draws via the cross-engine counter RNG (rng='counter',
    functions/rng.py): the oracle-checkable path for random generation —
    Lehmer rounds + xorshift are pure shared arithmetic, so unlike
    xxhash64 draws the full pipeline (draw -> signal scale -> int cast,
    main.py:531-573) value-hash-matches DuckDB exactly."""
    g = GeneratorSpec(
        "rndc1", "random",
        {"type": "uniform", "rng": "counter", "num_points": 1000,
         "signal_min": 1, "signal_max": 20},
    )
    df = generate_series(spark, g, run_id="oracle")
    return df.select("t", F.col("value").cast("long").alias("value"))


SQL_GEN_RANDOM_COUNTER = f"""
WITH {_ctr_chain_sql(_CTR_OFF_UNI, 1000)},
  stats AS (SELECT min(v) AS mn, max(v) AS mx FROM u)
SELECT t, CAST(CASE WHEN mx = mn THEN ceil(1.0)
               ELSE ceil((v - mn) / (mx - mn) * 19.0 + 1.0) END AS BIGINT) AS value
FROM u, stats
"""


def q_gen_random_expo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 expovariate (main.py:553: -ln(1-u)/lambda) on the counter RNG,
    signal-scaled [1,20]. ln is libm -> round(6) pre-ceil in both engines
    (same discipline as gen_sinusoidal)."""
    df = G.time_grid(spark, 1000).withColumn(
        "raw",
        -F.log(F.lit(1.0) - counter_unit(F.lit(_CTR_OFF_EXP) + F.col("t"))) / F.lit(0.5),
    )
    df = scale_minmax(df, value_col="raw", lo=1, hi=20, by=[], round_before_ceil=6)
    return df.select("t", F.col("raw").cast("long").alias("value"))


SQL_GEN_RANDOM_EXPO = f"""
WITH {_ctr_chain_sql(_CTR_OFF_EXP, 1000)},
  raw AS (SELECT t, -ln(1.0 - v) / 0.5 AS v FROM u),
  stats AS (SELECT min(v) AS mn, max(v) AS mx FROM raw)
SELECT t, CAST(CASE WHEN mx = mn THEN ceil(1.0)
               ELSE ceil(round((v - mn) / (mx - mn) * 19.0 + 1.0, 6)) END AS BIGINT) AS value
FROM raw, stats
"""


def q_noise_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 oracle bridge — the full bounded-noise semantics (main.py:588-604:
    draw N(0,1) per point, min-max rescale the noise VECTOR into
    [noise_min, noise_max], add, clamp at 0) on counter-RNG gauss draws.
    Box-Muller uses libm sqrt/log/cos -> round(6) pre-ceil in both engines
    (same discipline as gen_sinusoidal). Constant-10 base series, noise
    [0, 5]."""
    from amazon_macie_activity_generator_spark.functions.rng import counter_gauss

    df = G.time_grid(spark, 1000).withColumn("value", F.lit(10.0))
    df = df.withColumn("__raw", counter_gauss(F.lit(_CTR_OFF_NZ) + F.col("t")))
    df = scale_minmax(
        df, value_col="__raw", lo=0, hi=5, by=[], out_col="__noise", round_before_ceil=6
    )
    return df.select(
        "t",
        F.greatest(F.lit(0.0), F.col("value") + F.col("__noise")).cast("long").alias("value"),
    )


_CTR_OFF_NZ = counter_offset("oracle", "noisec", "nz")
_CTR_GAUSS_SPREAD = 1 << 20
_TWO_PI = 2.0 * math.pi

SQL_NOISE_COUNTER = f"""
WITH {_ctr_chain_sql(_CTR_OFF_NZ, 1000)},
  u2c AS (SELECT t, ((({_CTR_OFF_NZ + _CTR_GAUSS_SPREAD} + t) % {_CTR_M - 1} + 1) * 48271) % {_CTR_M} AS x
          FROM range(0, 1000) tbl(t)),
  u2b AS (SELECT t, (xor(x, x >> 15) * 69621) % {_CTR_M} AS x FROM u2c),
  u2a AS (SELECT t, (xor(x, x >> 13) * 48271) % {_CTR_M} AS x FROM u2b),
  z AS (
    SELECT u.t,
           sqrt(-2.0 * ln(greatest(u.v, 1e-16)))
             * cos({_TWO_PI!r} * (CAST(u2a.x AS DOUBLE) / {_CTR_M}.0)) AS v
    FROM u JOIN u2a ON u.t = u2a.t
  ),
  stats AS (SELECT min(v) AS mn, max(v) AS mx FROM z)
SELECT t, CAST(greatest(0.0, 10.0 + (CASE WHEN mx = mn THEN ceil(0.0)
               ELSE ceil(round((v - mn) / (mx - mn) * 5.0 + 0.0, 6)) END)) AS BIGINT) AS value
FROM z, stats
"""


def q_fake_formats_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F3 format-parity bridge: ITIN ('9%02d-7%d-%04d', main.py:117-124)
    and CVE ('CVE-%d-%04d', main.py:141-149) strings assembled from
    counter-RNG digit streams — exact string equality with the DuckDB twin
    proves the format assembly (printf semantics, modular digit derivation)
    cross-engine. The production providers (functions/fake.py) draw from
    xxhash64 streams and are format/regex-tested rows-only."""
    from amazon_macie_activity_generator_spark.functions.rng import counter_int31

    def d(off: int, mod: int):
        return F.pmod(counter_int31(F.lit(off) + F.col("t")), F.lit(mod))

    itin = F.format_string(
        "9%02d-7%d-%04d",
        d(_CTR_OFF_F[0], 100), d(_CTR_OFF_F[1], 10), d(_CTR_OFF_F[2], 10000),
    )
    cve = F.format_string(
        "CVE-%d-%04d",
        F.lit(1999) + d(_CTR_OFF_F[3], 27), d(_CTR_OFF_F[4], 9999) + 1,
    )
    return G.time_grid(spark, 2000).select("t", itin.alias("itin"), cve.alias("cve"))


_CTR_OFF_F = [counter_offset("oracle", "fake", s)
              for s in ("itin1", "itin2", "itin3", "cve1", "cve2")]

_SQL_FAKE_STREAMS = ",\n   ".join(
    f"((({off} + t) % {_CTR_M - 1} + 1) * 48271) % {_CTR_M} AS {c}"
    for off, c in zip(_CTR_OFF_F, "abcde")
)

SQL_FAKE_FORMATS_COUNTER = f"""
WITH x1 AS (SELECT t, {_SQL_FAKE_STREAMS}
  FROM range(0, 2000) tbl(t)),
x2 AS (SELECT t, {", ".join(f"(xor({c}, {c} >> 15) * 69621) % {_CTR_M} AS {c}" for c in "abcde")} FROM x1),
x3 AS (SELECT t, {", ".join(f"(xor({c}, {c} >> 13) * 48271) % {_CTR_M} AS {c}" for c in "abcde")} FROM x2)
SELECT t,
  printf('9%02d-7%d-%04d', a % 100, b % 10, c % 10000) AS itin,
  printf('CVE-%d-%04d', 1999 + d % 27, e % 9999 + 1) AS cve
FROM x3
"""


_CTR_OFF_PAR = counter_offset("oracle", "rndp1", "par")
_CTR_OFF_WEI = counter_offset("oracle", "rndw1", "wei")
_CTR_OFF_TRI = counter_offset("oracle", "rndt1", "tri")


def q_gen_random_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 paretovariate (main.py:555-557: (1-u)^(-1/alpha), alpha=2.5) on
    the counter RNG, signal-scaled [1,20], round(6) pre-ceil (pow is libm)."""
    df = G.time_grid(spark, 1000).withColumn(
        "raw",
        F.pow(F.lit(1.0) - counter_unit(F.lit(_CTR_OFF_PAR) + F.col("t")), F.lit(-1.0 / 2.5)),
    )
    df = scale_minmax(df, value_col="raw", lo=1, hi=20, by=[], round_before_ceil=6)
    return df.select("t", F.col("raw").cast("long").alias("value"))


SQL_GEN_RANDOM_PARETO = f"""
WITH {_ctr_chain_sql(_CTR_OFF_PAR, 1000)},
  raw AS (SELECT t, pow(1.0 - v, {-1.0 / 2.5!r}) AS v FROM u),
  stats AS (SELECT min(v) AS mn, max(v) AS mx FROM raw)
SELECT t, CAST(CASE WHEN mx = mn THEN ceil(1.0)
               ELSE ceil(round((v - mn) / (mx - mn) * 19.0 + 1.0, 6)) END AS BIGINT) AS value
FROM raw, stats
"""


def q_gen_random_weibull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 weibullvariate (main.py:559-561: alpha*(-ln(1-u))^(1/beta),
    alpha=1, beta=1.5) on the counter RNG, signal-scaled [1,20]."""
    df = G.time_grid(spark, 1000).withColumn(
        "raw",
        F.pow(-F.log(F.lit(1.0) - counter_unit(F.lit(_CTR_OFF_WEI) + F.col("t"))),
              F.lit(1.0 / 1.5)),
    )
    df = scale_minmax(df, value_col="raw", lo=1, hi=20, by=[], round_before_ceil=6)
    return df.select("t", F.col("raw").cast("long").alias("value"))


SQL_GEN_RANDOM_WEIBULL = f"""
WITH {_ctr_chain_sql(_CTR_OFF_WEI, 1000)},
  raw AS (SELECT t, pow(-ln(1.0 - v), {1.0 / 1.5!r}) AS v FROM u),
  stats AS (SELECT min(v) AS mn, max(v) AS mx FROM raw)
SELECT t, CAST(CASE WHEN mx = mn THEN ceil(1.0)
               ELSE ceil(round((v - mn) / (mx - mn) * 19.0 + 1.0, 6)) END AS BIGINT) AS value
FROM raw, stats
"""


def q_gen_random_triangular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 triangular (main.py:541-545) through the FULL pipeline with
    rng='counter': drawn directly in [5,10] (not rescaled), int-cast (T5).
    sqrt is IEEE correctly-rounded, so no rounding shim is needed — the
    whole path is bit-exact cross-engine."""
    g = GeneratorSpec(
        "rndt1", "random",
        {"type": "triangular", "rng": "counter", "num_points": 1000,
         "signal_min": 5, "signal_max": 10},
    )
    df = generate_series(spark, g, run_id="oracle")
    return df.select("t", F.col("value").cast("long").alias("value"))


SQL_GEN_RANDOM_TRIANGULAR = f"""
WITH {_ctr_chain_sql(_CTR_OFF_TRI, 1000)}
SELECT t, CAST(floor(
  CASE WHEN v < 0.5
       THEN 5.0 + sqrt(v * 12.5)
       ELSE 10.0 - sqrt((1.0 - v) * 12.5) END) AS BIGINT) AS value
FROM u
"""


# ----------------------------------------------------- rows-only (no oracle)

def q_gen_random_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 (main.py:531-573): uniform draws, signal-scaled. Cross-engine RNG
    never hash-matches -> rows-only (count + range asserted by tests)."""
    g = GeneratorSpec(
        "rnd1", "random",
        {"type": "uniform", "num_points": 1000, "signal_min": 1, "signal_max": 20},
    )
    df = generate_series(spark, g, run_id="oracle")
    return df.select("t", F.col("value").cast("long").alias("value"))


def q_noise_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 (main.py:588-604): bounded noise, clamped at 0. Rows-only."""
    from amazon_macie_activity_generator_spark.operators.noise import apply_noise

    g = GeneratorSpec("c", "constant", {"constant": 10, "num_points": 1000})
    df = generate_series(spark, g, run_id="oracle")
    out = apply_noise(df, {"noise_min": 0, "noise_max": 5}, identity=("run_id", "series_id", "t"))
    return out.select("t", F.col("value").alias("value"))


# ----------------------------------------- fake content / sinks / pipeline

def q_fake_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F12/K6 — deterministic fake-document generation keyed by event_id
    (rows-only: content is hash-derived, format asserted in tests)."""
    from amazon_macie_activity_generator_spark.functions.fake import fake_document

    events = spread_small_scan(load_table(spark, sf_dir, "events"), "event_id")
    doc = fake_document(
        F.col("event_id"),
        fake_types=["ssn", "itin", "email", "sentence", "phone_number"],
        fake_counts=2,
        prefix="sensitive/",
    )
    return events.select("event_id", doc.alias("d")).select(
        "event_id", "d.object_key", "d.provider", "d.content"
    )


def q_s3_put_activities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 — one fake S3 object row per unit of datapoint value (rows-only;
    count/shape asserted in tests; T9 zero-skip folded in)."""
    from amazon_macie_activity_generator_spark.sinks.local import s3_put_activity_rows

    # spread the one-input-split scan (r13, the _docs rule): the
    # explode + per-row fake-document generation is the CPU cost and
    # otherwise runs entirely on the scan's single task
    events = spread_small_scan(load_table(spark, sf_dir, "events"), "event_id")
    dp = events.select(
        "event_id", (F.pmod(F.col("value").cast("long"), F.lit(4))).alias("value")
    )
    target = {"prefix": "acts/", "fake_types": ["ssn", "itin"], "fake_counts": 1,
              "content_types": ["text/plain", "text/html"], "acls": ["private", "public-read"]}
    return s3_put_activity_rows(dp, target, key_cols=("event_id",))


def q_streaming_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/K2 — full queue round-trip: generate a blueprint cycle, enqueue
    slot rows (twice — dedup ids must absorb the duplicate), replay with
    availableNow, return delivered slot rows (rows-only: side-effecting)."""
    import os
    import tempfile

    from amazon_macie_activity_generator_spark.config import parse_blueprint
    from amazon_macie_activity_generator_spark.operators.reshape import slot_row_json
    from amazon_macie_activity_generator_spark.plans.generate import generate
    from amazon_macie_activity_generator_spark.sinks.local import write_queue
    from amazon_macie_activity_generator_spark.streaming.replay import replay_to_table

    bp = parse_blueprint({
        "commons": {"num_points": 60, "signal_min": 1, "signal_max": 10},
        "generators": [
            {"id": "g1", "shape": "sinusoidal", "config": {"frequency": 0.1}},
            {"id": "g2", "shape": "square",
             "config": {"high_value": 9, "low_value": 2, "high_width": 3, "low_width": 7}},
        ],
        "targets": [],
    })
    fact = generate(spark, bp, run_id="replayrun", anomaly_mode="stride")
    slot_rows = slot_row_json(fact).withColumn("run_id", F.lit("replayrun"))
    work = tempfile.mkdtemp(prefix="amag_replay_")
    qpath = os.path.join(work, "queue")
    write_queue(slot_rows, qpath)
    write_queue(slot_rows, qpath)
    schema = spark.read.parquet(qpath).schema
    # r14 (VERDICT item 7, guide §6): this entry is a BULK drain
    # (availableNow), so it uses the documented bulk mode —
    # max_files_per_trigger=128 folds the ~64 queue files (two
    # repartition(t) writes) into one micro-batch instead of ~64, each
    # of which paid a checkpoint/state commit (~9 s of build per rep
    # measured; ~0.8 s after). The delivered row SET is identical:
    # dropDuplicatesWithinWatermark keys on (run_id, t) regardless of
    # batch boundaries and the result projects only (run_id, t, body) —
    # hash-verified before/after (cd94e466, 60 rows). The
    # one-file-per-tick default stays for processing-time cadence
    # callers (the reference's pacing).
    sq = replay_to_table(
        spark, qpath, schema, os.path.join(work, "delivered"),
        os.path.join(work, "ckpt"), available_now=True,
        max_files_per_trigger=128,
    )
    sq.awaitTermination(300)
    return spark.read.parquet(os.path.join(work, "delivered")).select("run_id", "t", "body")


def q_blueprint_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1-EP3 — full blueprint lifecycle (generate -> queue -> dispatch ->
    all three sink types, local mode); returns the CloudWatch metrics table
    (rows-only: run dirs + hash-derived content)."""
    import tempfile

    from amazon_macie_activity_generator_spark.config import parse_blueprint
    from amazon_macie_activity_generator_spark.plans.pipeline import run_blueprint

    bp = parse_blueprint({
        "commons": {"num_points": 50, "signal_min": 1, "signal_max": 8},
        "generators": [
            {"id": "ts1", "shape": "sinusoidal", "config": {"frequency": 0.25}},
            {"id": "ts2", "shape": "constant", "config": {"num_points": 25, "constant": 5}},
            {"id": "ts6", "shape": "custom", "config": {"formula": "t * 2"}},
        ],
        "targets": [
            {"type": "s3", "prefix": "sensitive/", "action": "put",
             "generators": ["ts2"], "fake_types": ["ssn", "itin"], "fake_counts": 1},
            {"type": "s3", "action": "get", "slice_size": 3, "generators": ["ts1"]},
            {"type": "lambda", "function": "test", "generators": ["ts1"], "group_datapoints": True},
            {"type": "cloudwatch", "namespace": "Test/TS",
             "generators": ["ts1", "ts2", "ts6"], "group_datapoints": True},
        ],
    })
    work = tempfile.mkdtemp(prefix="amag_e2e_")
    out = run_blueprint(spark, bp, work, run_id="e2erun", anomaly_mode="stride")
    cw = next(t for t in out["targets"] if t["type"] == "cloudwatch")
    return spark.read.parquet(cw["metrics"]).select(
        "dim_id", "dim_shape", "timestamp", "value"
    )


# ------------------------------------------------------- reshape round trip

def q_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 inverse — pivot the event series wide, then unpivot back to the
    long fact shape (zero-filled slots surface as explicit 0 rows)."""
    from amazon_macie_activity_generator_spark.operators.reshape import unpivot_slot_rows

    s = events_as_series(load_table(spark, sf_dir, "events")).filter(F.col("t") < 1500)
    wide = pivot_slot_rows(s, series_ids=EVENT_TYPES, agg="max")
    long = unpivot_slot_rows(wide, series_ids=EVENT_TYPES)
    return long.select("t", "series_id", F.round("value", 4).alias("value"))


SQL_UNPIVOT = """
WITH s AS (
  SELECT event_type AS series_id,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS t,
         value
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
),
grid AS (SELECT DISTINCT t FROM s WHERE t < 1500),
series AS (SELECT unnest(['click','error','purchase','signup','view']) AS series_id)
SELECT g.t, se.series_id, round(coalesce(s.value, 0), 4) AS value
FROM grid g CROSS JOIN series se
LEFT JOIN s ON s.t = g.t AND s.series_id = se.series_id
"""


QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "gen_constant": (q_gen_constant, SQL_GEN_CONSTANT),
    "gen_square": (q_gen_square, SQL_GEN_SQUARE),
    "gen_sinusoidal": (q_gen_sinusoidal, SQL_GEN_SINUSOIDAL),
    "gen_custom_formula": (q_gen_custom_formula, SQL_GEN_CUSTOM),
    "gen_custom_recurrence": (q_gen_custom_recurrence, SQL_GEN_RECURRENCE),
    "gen_random_uniform": (q_gen_random_uniform, None),
    "gen_random_counter": (q_gen_random_counter, SQL_GEN_RANDOM_COUNTER),
    "gen_random_expo": (q_gen_random_expo, SQL_GEN_RANDOM_EXPO),
    "gen_random_pareto": (q_gen_random_pareto, SQL_GEN_RANDOM_PARETO),
    "gen_random_weibull": (q_gen_random_weibull, SQL_GEN_RANDOM_WEIBULL),
    "gen_random_triangular": (q_gen_random_triangular, SQL_GEN_RANDOM_TRIANGULAR),
    "noise_counter": (q_noise_counter, SQL_NOISE_COUNTER),
    "fake_formats_counter": (q_fake_formats_counter, SQL_FAKE_FORMATS_COUNTER),
    "real_replay_pad": (q_real_replay_pad, SQL_REAL_REPLAY),
    "scale_minmax": (q_scale_minmax, SQL_SCALE_MINMAX),
    "noise_bounded": (q_noise_bounded, None),
    "anomaly_inject_stride": (q_anomaly_inject_stride, SQL_ANOMALY_STRIDE),
    "align_zero_fill": (q_align_zero_fill, SQL_ALIGN_ZERO_FILL),
    "slice_explode": (q_slice_explode, SQL_SLICE_EXPLODE),
    "chunk_rows": (q_chunk_rows, SQL_CHUNK_ROWS),
    "pivot_slot_row": (q_pivot_slot_row, SQL_PIVOT_SLOT_ROW),
    "group_collect": (q_group_collect, SQL_GROUP_COLLECT),
    "payload_json": (q_payload_json, SQL_PAYLOAD_JSON),
    "dedup_exact": (text.q_dedup_exact, text.SQL_DEDUP_EXACT),
    "dedup_minhash": (text.q_dedup_minhash, None),
    "dedup_minhash_md5": (text.q_dedup_minhash_md5, text.SQL_DEDUP_MINHASH_MD5),
    "dedup_ngram_jaccard": (text.q_dedup_ngram_jaccard, text.SQL_DEDUP_NGRAM),
    "dedup_groups": (text.q_dedup_groups, text.SQL_DEDUP_GROUPS),
    "dedup_simhash": (text.q_dedup_simhash, None),
    "dedup_simhash_md5": (text.q_dedup_simhash_md5, text.SQL_DEDUP_SIMHASH_MD5),
    "embedding_near_dup": (vectors.q_embedding_near_dup, vectors.SQL_EMBEDDING_NEAR_DUP),
    "topk_cosine": (vectors.q_topk_cosine, vectors.SQL_TOPK_COSINE),
    "topk_cosine_lsh": (vectors.q_topk_cosine_lsh, vectors.SQL_TOPK_COSINE_LSH),
    "topk_recall_lsh": (vectors.q_topk_recall_lsh, vectors.SQL_TOPK_RECALL_LSH),
    "topk_cosine_ivf": (vectors.q_topk_cosine_ivf, None),
    "text_token_stats": (text.q_text_token_stats, text.SQL_TEXT_TOKEN_STATS),
    "text_quality": (text.q_text_quality, text.SQL_TEXT_QUALITY),
    "lang_id": (text.q_lang_id, text.SQL_LANG_ID),
    "doc_fingerprint": (text.q_doc_fingerprint, text.SQL_DOC_FINGERPRINT),
    "doc_chunk": (text.q_doc_chunk, text.SQL_DOC_CHUNK),
    "doc_pack": (text.q_doc_pack, text.SQL_DOC_PACK),
    "tfidf_top_terms": (text.q_tfidf_top_terms, text.SQL_TFIDF),
    "pii_redact": (text.q_pii_redact, text.SQL_PII_REDACT),
    "multimodal_features": (media.q_multimodal_features, media.SQL_MULTIMODAL),
    "media_dedup": (media.q_media_dedup, media.SQL_MEDIA_DEDUP),
    "per_group_sample": (warehouse.q_per_group_sample, warehouse.SQL_PER_GROUP_SAMPLE),
    "multimodal_decode_stub": (media.q_multimodal_decode_stub, media.SQL_MULTIMODAL_DECODE),
    "multimodal_decode_real": (media.q_multimodal_decode_real, media.SQL_MULTIMODAL_DECODE_REAL),
    "multimodal_resize": (media.q_multimodal_resize, media.SQL_MULTIMODAL_RESIZE),
    "multimodal_frames": (media.q_multimodal_frames, media.SQL_MULTIMODAL_FRAMES),
    "json_extract_props": (warehouse.q_json_extract_props, warehouse.SQL_JSON_EXTRACT),
    "tumbling_counts": (warehouse.q_tumbling_counts, warehouse.SQL_TUMBLING),
    "sliding_counts": (warehouse.q_sliding_counts, warehouse.SQL_SLIDING),
    "asof_join": (warehouse.q_asof_join, warehouse.SQL_ASOF_JOIN),
    "interval_join": (warehouse.q_interval_join, warehouse.SQL_INTERVAL_JOIN),
    "cube_events": (warehouse.q_cube_events, warehouse.SQL_CUBE_EVENTS),
    "hash_split": (text.q_hash_split, text.SQL_HASH_SPLIT),
    "stratified_sample": (text.q_stratified_sample, text.SQL_STRATIFIED_SAMPLE),
    "token_freq": (text.q_token_freq, text.SQL_TOKEN_FREQ),
    "embedding_quantize": (vectors.q_embedding_quantize, vectors.SQL_EMBEDDING_QUANTIZE),
    "sessionize": (warehouse.q_sessionize, warehouse.SQL_SESSIONIZE),
    "sessionize_stateful": (warehouse.q_sessionize_stateful, warehouse.SQL_SESSIONIZE_STATEFUL),
    "doc_fingerprint_rolling": (text.q_doc_fingerprint_rolling, None),
    "fake_content": (q_fake_content, None),
    "s3_put_activities": (q_s3_put_activities, None),
    "streaming_tumbling": (warehouse.q_streaming_tumbling, warehouse.SQL_TUMBLING),
    "streaming_dedup": (warehouse.q_streaming_dedup, warehouse.SQL_STREAMING_DEDUP),
    "streaming_replay": (q_streaming_replay, None),
    "blueprint_e2e": (q_blueprint_e2e, None),
    "unpivot_roundtrip": (q_unpivot_roundtrip, SQL_UNPIVOT),
    "rolling_stats": (warehouse.q_rolling_stats, warehouse.SQL_ROLLING),
    "rollup_pricing": (warehouse.q_rollup_pricing, warehouse.SQL_ROLLUP),
    "corpus_clean": (text.q_corpus_clean, text.SQL_CORPUS_CLEAN),
    "agg_pricing_summary": (warehouse.q_agg_pricing_summary, warehouse.SQL_AGG_PRICING),
    "join_topn_customers": (warehouse.q_join_topn_customers, warehouse.SQL_JOIN_TOPN),
    "set_ops_users": (warehouse.q_set_ops_users, warehouse.SQL_SET_OPS),
    "anti_join_customers": (warehouse.q_anti_join_customers, warehouse.SQL_ANTI_JOIN),
    "percentiles_by_type": (warehouse.q_percentiles_by_type, warehouse.SQL_PERCENTILES),
    "distinct_users_daily": (warehouse.q_distinct_users_daily, warehouse.SQL_DISTINCT_DAILY),
    "salted_agg_users": (warehouse.q_salted_agg_users, warehouse.SQL_SALTED_AGG),
    "approx_distinct_daily": (warehouse.q_approx_distinct_daily, None),
    "contamination_ngram": (text.q_contamination_ngram, text.SQL_CONTAMINATION),
    "bm25_search": (text.q_bm25_search, text.SQL_BM25),
    "inverted_index": (text.q_inverted_index, text.SQL_INVERTED_INDEX),
    "repetition_ratio": (text.q_repetition_ratio, text.SQL_REPETITION),
    "kmeans_assign": (vectors.q_kmeans_assign, vectors.SQL_KMEANS_ASSIGN),
    "topk_recall_ivf": (vectors.q_topk_recall_ivf, vectors.SQL_TOPK_RECALL_IVF),
    "revenue_by_nation": (warehouse.q_revenue_by_nation, warehouse.SQL_REVENUE_BY_NATION),
    "dedup_latest_event": (warehouse.q_dedup_latest_event, warehouse.SQL_DEDUP_LATEST),
    "streaming_join": (warehouse.q_streaming_join, warehouse.SQL_STREAMING_JOIN),
    "semantic_dedup": (vectors.q_semantic_dedup, vectors.SQL_SEMANTIC_DEDUP),
    "grouping_sets_parts": (warehouse.q_grouping_sets_parts, warehouse.SQL_GROUPING_SETS),
    "interpolate_gaps": (warehouse.q_interpolate_gaps, warehouse.SQL_INTERPOLATE),
    "value_histogram": (warehouse.q_value_histogram, warehouse.SQL_VALUE_HISTOGRAM),
    "unigram_logprob": (text.q_unigram_logprob, text.SQL_UNIGRAM_LOGPROB),
    "topk_per_group": (warehouse.q_topk_per_group, warehouse.SQL_TOPK_PER_GROUP),
    "robust_outliers": (warehouse.q_robust_outliers, warehouse.SQL_ROBUST_OUTLIERS),
    "table_profile": (warehouse.q_table_profile, warehouse.SQL_TABLE_PROFILE),
    "scd2_intervals": (warehouse.q_scd2_intervals, warehouse.SQL_SCD2),
    "value_ranks": (warehouse.q_value_ranks, warehouse.SQL_VALUE_RANKS),
    "streaming_append_windows": (
        warehouse.q_streaming_append_windows, warehouse.SQL_STREAMING_APPEND,
    ),
    "event_gaps": (warehouse.q_event_gaps, warehouse.SQL_EVENT_GAPS),
    "char_entropy": (text.q_char_entropy, text.SQL_CHAR_ENTROPY),
    "small_qty_revenue": (warehouse.q_small_qty_revenue, warehouse.SQL_SMALL_QTY_REVENUE),
    "large_orders": (warehouse.q_large_orders, warehouse.SQL_LARGE_ORDERS),
    "hourly_activity_spine": (warehouse.q_hourly_activity_spine, warehouse.SQL_HOURLY_SPINE),
    "mom_revenue_change": (warehouse.q_mom_revenue_change, warehouse.SQL_MOM_REVENUE),
    "fuzzy_name_pairs": (warehouse.q_fuzzy_name_pairs, warehouse.SQL_FUZZY_NAME_PAIRS),
    "rolling_time_window": (warehouse.q_rolling_time_window, warehouse.SQL_ROLLING_TIME_WINDOW),
    "event_funnel": (warehouse.q_event_funnel, warehouse.SQL_EVENT_FUNNEL),
    "retention_cohorts": (warehouse.q_retention_cohorts, warehouse.SQL_RETENTION),
    "bpe_pair_counts": (text.q_bpe_pair_counts, text.SQL_BPE_PAIR_COUNTS),
    "mix_sampling_weights": (text.q_mix_sampling_weights, text.SQL_MIX_SAMPLING_WEIGHTS),
    "winnowing_fingerprint": (text.q_winnowing_fingerprint, text.SQL_WINNOWING),
    "streaming_left_join": (warehouse.q_streaming_left_join, warehouse.SQL_STREAMING_LEFT_JOIN),
    "dedup_keep_best": (text.q_dedup_keep_best, text.SQL_DEDUP_KEEP_BEST),
    "dedup_incremental": (text.q_dedup_incremental, text.SQL_DEDUP_INCREMENTAL),
    "markov_transitions": (warehouse.q_markov_transitions, warehouse.SQL_MARKOV_TRANSITIONS),
    "session_paths": (warehouse.q_session_paths, warehouse.SQL_SESSION_PATHS),
    "ntile_bins": (warehouse.q_ntile_bins, warehouse.SQL_NTILE_BINS),
    "pmi_collocations": (text.q_pmi_collocations, text.SQL_PMI_COLLOCATIONS),
    "bigram_logprob": (text.q_bigram_logprob, text.SQL_BIGRAM_LOGPROB),
    "dedup_containment": (text.q_dedup_containment, text.SQL_DEDUP_CONTAINMENT),
    "chi2_source_lang": (text.q_chi2_source_lang, text.SQL_CHI2_SOURCE_LANG),
    "copurchase_pairs": (warehouse.q_copurchase_pairs, warehouse.SQL_COPURCHASE_PAIRS),
    "pagerank_copurchase": (warehouse.q_pagerank_copurchase, warehouse.SQL_PAGERANK_COPURCHASE),
    "triangle_count": (warehouse.q_triangle_count, warehouse.SQL_TRIANGLE_COUNT),
    "gopher_quality_flags": (text.q_gopher_quality_flags, text.SQL_GOPHER_QUALITY_FLAGS),
    "knn_classify": (vectors.q_knn_classify, vectors.SQL_KNN_CLASSIFY),
    "knn_classify_lsh": (vectors.q_knn_classify_lsh, vectors.SQL_KNN_CLASSIFY_LSH),
    "psi_value_drift": (warehouse.q_psi_value_drift, warehouse.SQL_PSI_VALUE_DRIFT),
    "ks_value_drift": (warehouse.q_ks_value_drift, warehouse.SQL_KS_VALUE_DRIFT),
    "dedup_chunk_exact": (text.q_dedup_chunk_exact, text.SQL_DEDUP_CHUNK_EXACT),
    "source_overlap": (text.q_source_overlap, text.SQL_SOURCE_OVERLAP),
    "training_mix": (text.q_training_mix, text.SQL_TRAINING_MIX),
    "bpe_merges": (text.q_bpe_merges, text.SQL_BPE_MERGES),
    "bpe_encode": (text.q_bpe_encode, text.SQL_BPE_ENCODE),
    "hard_negatives": (vectors.q_hard_negatives, vectors.SQL_HARD_NEGATIVES),
    "hard_negatives_lsh": (vectors.q_hard_negatives_lsh, vectors.SQL_HARD_NEGATIVES_LSH),
    "split_leakage": (text.q_split_leakage, text.SQL_SPLIT_LEAKAGE),
    "embedding_finite_gate": (vectors.q_embedding_finite_gate, vectors.SQL_EMBEDDING_FINITE_GATE),
    "events_time_gate": (warehouse.q_events_time_gate, warehouse.SQL_EVENTS_TIME_GATE),
    "doc_id_dedup_gate": (text.q_doc_id_dedup_gate, text.SQL_DOC_ID_DEDUP_GATE),
    "vec_id_unique_audit": (vectors.q_vec_id_unique_audit, vectors.SQL_VEC_ID_UNIQUE_AUDIT),
    "event_id_dedup_gate": (warehouse.q_event_id_dedup_gate, warehouse.SQL_EVENT_ID_DEDUP_GATE),
    "events_value_gate": (warehouse.q_events_value_gate, warehouse.SQL_EVENTS_VALUE_GATE),
    "multimodal_pixels": (media.q_multimodal_pixels, media.SQL_MULTIMODAL_PIXELS),
    "multimodal_pixels_palette": (
        media.q_multimodal_pixels_palette, media.SQL_MULTIMODAL_PIXELS_PALETTE,
    ),
    "multimodal_pixels_jpeg": (media.q_multimodal_pixels_jpeg, media.SQL_MULTIMODAL_PIXELS_JPEG),
    "multimodal_audio": (media.q_multimodal_audio, media.SQL_MULTIMODAL_AUDIO),
    # appended LAST so existing entries keep their insertion order (the
    # rotation's final tiebreak)
    "flagship_pipeline": (flagship_pipeline, SQL_FLAGSHIP),
}
