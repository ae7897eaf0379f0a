"""S2 — real-timeseries replay source (main.py:510-529).

Reference: read an S3 object, one int per line, skip blank lines,
zero-pad to num_points, truncate beyond, then signal-scale.

Two ingestion paths:
- ``real_values``/``real_series_from_file``: small config-attached text
  files (the reference's case — the whole object fits in Lambda
  memory). Parsed, padded and truncated driver-side for a deterministic
  line index, then parallelized — no grid, no join.
- ``pad_truncate``: the scale path — any DataFrame with an explicit
  slot column (e.g. parquet with (t, value) or an events table via
  ``events_as_series``). Pad/truncate happens relationally.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from amazon_macie_activity_generator_spark.operators.generators import time_grid

_SCHEMA = StructType([StructField("t", LongType(), False), StructField("value", LongType(), False)])


def parse_real_lines(text: str) -> list[int]:
    """skip-blank + int parse (main.py:520-524)."""
    return [int(line) for line in text.splitlines() if line.strip() != ""]


def real_values(path: str | Path, n_points: int) -> list[int]:
    """The file's first ``n_points`` values, zero-padded (main.py:525-529)."""
    values = parse_real_lines(Path(path).read_text())[:n_points]
    return values + [0] * (n_points - len(values))


def real_series_from_file(spark: SparkSession, path: str | Path, n_points: int) -> DataFrame:
    df = spark.createDataFrame(list(enumerate(real_values(path, n_points))), schema=_SCHEMA)
    return df.withColumn("value", F.col("value").cast("double"))


def pad_truncate(spark: SparkSession, df: DataFrame, n_points: int, t_col: str = "t", value_col: str = "value") -> DataFrame:
    """Zero-pad to n_points / truncate beyond (main.py:525-529):
    grid left-join + coalesce(value, 0). Truncation is a pushable filter."""
    grid = time_grid(spark, n_points).withColumnRenamed("t", t_col)
    clipped = df.filter(F.col(t_col) < n_points).select(t_col, value_col)
    return grid.join(clipped, on=t_col, how="left").withColumn(
        value_col, F.coalesce(F.col(value_col).cast("double"), F.lit(0.0))
    )


def events_as_series(events: DataFrame, series_col: str = "event_type") -> DataFrame:
    """Adapt the driver's ``events`` table into replay series: one series
    per ``event_type``, slot = rank of ts within the series.

    The window is keyed by series (bounded partitions); at 100 TB slots
    would instead come pre-assigned from the source (kafka offset /
    event-time bucket) — the row_number here is the small-data adapter.

    A NULL series key is NOT a series, and an event without a timestamp
    cannot be placed on the timeline: rows with NULL ``series_col`` or
    NULL ``ts`` are dropped (mirrored as WHERE event_type IS NOT NULL
    AND ts IS NOT NULL in every series-shaped oracle). Keeping them
    would leak engine-specific NULL semantics into every downstream
    sort/join/to_json (Spark orders NULL first and drops null JSON
    fields; DuckDB does the opposite).
    """
    events = events.filter(
        F.col(series_col).isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy(series_col).orderBy("ts", "event_id")
    return events.select(
        F.col(series_col).alias("series_id"),
        (F.row_number().over(w) - 1).cast("long").alias("t"),
        F.col("ts"),
        F.col("value").cast("double").alias("value"),
    )
