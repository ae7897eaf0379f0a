"""R1-R4 — reshaping/grouping: slot rows, datapoint groups, payloads.

R1 pivot-to-slot-row (main.py:686-707): per slot t, a wide row
``{series_id: value}`` — the SQS queue entry body.
R2 group datapoints (main.py:784-802): per slot, pack selected series
into ``[{generator_id, value}]`` for one delivery.
R3 single dispatch (main.py:757-782): T7 slice explode -> one envelope
per slice.
R4 payload envelope (main.py:804-828; wire format README.md:292-313):
``{source, action: 'execute-datapoints', timestamp, datapoints, target}``.

All are single-shuffle groupBys on t (map-side partial aggregation);
pivot uses an explicit value list so the plan needs no extra pass to
discover columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# reference parity: the queue/payload bodies come from json.dumps, which
# KEEPS null-valued fields (main.py:686-709) — Spark's to_json drops
# them by default, which silently diverges on any null datapoint
JSON_OPTS = {"ignoreNullFields": "false"}

SOURCE_NAME = "amazon-macie-activity-generator"  # payload `source`, main.py:824


def pivot_slot_rows(
    df: DataFrame,
    series_ids: list[str] | None = None,
    t_col: str = "t",
    series_col: str = "series_id",
    value_col: str = "value",
    agg: str = "first",
) -> DataFrame:
    """R1 — one wide row per slot; missing series -> 0 (zero-fill contract).

    ``agg='max'`` gives a fully deterministic pivot for oracle comparison
    ((t, series) is unique in a well-formed fact table, so first == max).
    """
    pvt = df.groupBy(t_col).pivot(series_col, values=series_ids)
    agg_fn = {"first": F.first, "max": F.max, "min": F.min, "sum": F.sum}[agg]
    wide = pvt.agg(agg_fn(value_col))
    if series_ids:
        for sid in series_ids:
            wide = wide.withColumn(sid, F.coalesce(F.col(sid), F.lit(0).cast("double")))
    return wide


def slot_row_json(
    df: DataFrame, t_col: str = "t", series_col: str = "series_id", value_col: str = "value"
) -> DataFrame:
    """R1 (map form) — per slot, JSON ``{series_id: value}`` exactly like the
    queue entry body (main.py:704). Deterministic key order via sort_array."""
    entries = F.sort_array(F.collect_list(F.struct(F.col(series_col), F.col(value_col))))
    return df.groupBy(t_col).agg(
        F.to_json(F.map_from_entries(entries), JSON_OPTS).alias("body")
    )


def unpivot_slot_rows(
    df: DataFrame,
    series_ids: list[str],
    t_col: str = "t",
    series_col: str = "series_id",
    value_col: str = "value",
) -> DataFrame:
    """R1 inverse — wide slot rows back to the long fact shape via
    ``unpivot`` (ids=[t], values=series columns). Round-trips with
    pivot_slot_rows; the consumer-side transform when a sink wants
    per-series rows out of queue entries."""
    return df.unpivot(
        ids=[t_col], values=series_ids,
        variableColumnName=series_col, valueColumnName=value_col,
    )


def group_datapoints(
    df: DataFrame,
    t_col: str = "t",
    series_col: str = "series_id",
    value_col: str = "value",
) -> DataFrame:
    """R2 — per slot, sorted array<struct<generator_id,value>>."""
    dp = F.struct(
        F.col(series_col).alias("generator_id"), F.col(value_col).alias("value")
    )
    return df.groupBy(t_col).agg(
        F.sort_array(F.collect_list(dp)).alias("datapoints")
    )


def payload_envelope(
    df: DataFrame,
    target: dict,
    timestamp: Column | None = None,
    datapoints_col: str = "datapoints",
) -> DataFrame:
    """R4 — delivery JSON envelope. ``target`` is serialized minus the
    routing-only keys ``generators``/``client`` (main.py:813-820)."""
    tgt = {k: v for k, v in target.items() if k not in ("generators", "client")}
    tgt_struct = F.struct(*[F.lit(v).alias(k) for k, v in sorted(tgt.items())])
    ts = timestamp if timestamp is not None else F.date_format(
        F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'"
    )
    return df.select(
        F.to_json(
            F.struct(
                F.lit(SOURCE_NAME).alias("source"),
                F.lit("execute-datapoints").alias("action"),
                ts.alias("timestamp"),
                F.col(datapoints_col).alias("datapoints"),
                tgt_struct.alias("target"),
            ),
            JSON_OPTS,
        ).alias("payload")
    )
