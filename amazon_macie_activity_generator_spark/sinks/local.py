"""K1-K6 — sinks, local mode (SURVEY.md §2.5, §7.5).

Every reference sink is a side-effecting per-datapoint AWS call loop; the
Spark shape splits it in two:

- a **row builder** (pure DataFrame -> DataFrame, unit-testable, oracle-
  friendly) that produces exactly the rows/payloads the reference would
  send, and
- a local **writer** that materializes them as parquet / JSON-lines
  tables or one file per object.

At-most-once (main.py:726-731): side-effecting writers run with idempotent
keys (object_key / partitioned overwrite) rather than task retries.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.functions.fake import (
    choice,
    fake_document,
    uuid4_expr,
)

# ------------------------------------------------------------- K1 queue

def write_queue(slot_rows: DataFrame, path: str, run_id_col: str = "run_id", t_col: str = "t") -> None:
    """K1 — persist slot rows as the 'queue' table (the SQS stand-in).

    Dedup id ``run_id:t`` (reference: ms-epoch:index, main.py:698-706) —
    ``dropDuplicates`` replaces SQS FIFO dedup; ordering is recovered by
    readers via ``orderBy(t)`` (FIFO group id 'timeseries' = one global
    order over slots). Parquet partitioned by run so a replay prunes to
    its own cycle."""
    (
        slot_rows.dropDuplicates([run_id_col, t_col])
        .repartition(F.col(t_col))
        .write.mode("append")
        .partitionBy(run_id_col)
        .parquet(path)
    )


# ----------------------------------------------------------- K3 metrics

def metrics_rows(
    df: DataFrame,
    namespace: str = "amazon-macie-activity-generator",
    metric_name: str = "Timeseries",
) -> DataFrame:
    """K3 row builder — CloudWatch put_metric_data members
    (execute_datapoints_on_cloudwatch, main.py:884-913): metric
    'Timeseries', dims {Shape, Id}, unit Count, parsed timestamp. The
    10-member batching (main.py:909-913) is an API-limit detail of the
    remote call; local mode appends whole tables."""
    return df.select(
        F.lit(namespace).alias("namespace"),
        F.lit(metric_name).alias("metric_name"),
        F.col("shape").alias("dim_shape"),
        F.col("series_id").alias("dim_id"),
        F.col("ts").alias("timestamp"),
        F.col("value").cast("double").alias("value"),
        F.lit("Count").alias("unit"),
    )


# ----------------------------------------------------- K4 lambda payloads

def write_payload_lines(payloads: DataFrame, path: str, payload_col: str = "payload") -> None:
    """K4 local mode — one JSON payload per line (the async Lambda invoke
    body, execute_datapoints_on_lambda main.py:915-929)."""
    payloads.select(F.col(payload_col).cast("string").alias("value")).write.mode(
        "append"
    ).text(path)


# ------------------------------------------------- K5/K6 activity rows

def _activities(
    df: DataFrame, value_col: str, key_cols: tuple[str, ...]
) -> tuple[DataFrame, Column]:
    """One row per unit of value, ``(key_cols..., act_idx)`` with act_idx
    1..int(value), and the activity's xxhash64 key — the reference's
    per-unit loop (``range(value)``, main.py:1053-1057 and 977-1020).

    Reference parity: ``range(value)`` emits NOTHING for value < 1
    (T9 zero skip, main.py:1031-1034) — but Spark's sequence(1, v) steps
    DOWNWARD when v < 1 (sequence(1, -5) is [1..-5]), so the guard must
    be v >= 1 on the truncated int, not value != 0."""
    n_acts = F.col(value_col).cast("int")
    acts = df.filter(n_acts >= 1).select(
        *key_cols,
        F.explode(F.sequence(F.lit(1), n_acts)).alias("act_idx"),
    )
    return acts, F.xxhash64(*[F.col(c) for c in key_cols], F.col("act_idx"))


# ------------------------------------------------- K5 S3 GET activities

def s3_get_activity_rows(
    df: DataFrame,
    real_keys: list[str] | None = None,
    value_col: str = "value",
    key_cols: tuple[str, ...] = ("run_id", "series_id", "t"),
) -> DataFrame:
    """K5 row builder — one GET per unit of value (execute_datapoint_on_s3
    loops value times, main.py:1053-1057), each touching a random key.

    S4 key selection (select_bucket_objects, main.py:931-957): pick from
    up to 1,000 listed real keys; when fewer exist than needed, synthesize
    fake uuid keys for the shortfall — errors on fake keys are swallowed
    by design (touch_bucket_object, main.py:970-975)."""
    acts, key = _activities(df, value_col, key_cols)
    if real_keys:
        pool = real_keys[:1000]  # S3_LIST_OBJECTS_MAX, main.py:57
        chosen = choice(key, "getkey", pool)
    else:
        chosen = F.concat(F.lit("fake/"), uuid4_expr(key, "fakekey"))
    return acts.select(*key_cols, "act_idx", chosen.alias("object_key"), F.lit("get").alias("action"))


# -------------------------------------------- K6 S3 PUT fake documents

def s3_put_activity_rows(
    df: DataFrame,
    target: dict[str, Any],
    value_col: str = "value",
    key_cols: tuple[str, ...] = ("run_id", "series_id", "t"),
) -> DataFrame:
    """K6 row builder — one fake document per unit of value
    (create_bucket_object, main.py:977-1020): content from the configured
    ``fake_types`` providers, key under provider|mixed prefix, random
    content-type/ACL from the configured lists."""
    content_types = target.get("content_types", [target.get("content_type", "text/plain")])
    acls = target.get("acls", [target.get("acl", "private")])
    acts, key = _activities(df, value_col, key_cols)
    doc = fake_document(
        key,
        fake_types=target.get("fake_types"),
        fake_counts=int(target.get("fake_counts", 1)),
        prefix=target.get("prefix", ""),
    )
    return acts.withColumn("d", doc).select(
        *key_cols, "act_idx", F.col("d.object_key").alias("object_key"),
        F.col("d.provider").alias("provider"), F.col("d.content").alias("content"),
        choice(key, "ctype", [str(c) for c in content_types]).alias("content_type"),
        choice(key, "acl", [str(a) for a in acls]).alias("acl"),
        F.lit("put").alias("action"),
    )


def write_objects_local(
    df: DataFrame,
    out_dir: str,
    key_col: str = "object_key",
    content_col: str = "content",
) -> None:
    """K6 local writer — one file per object row under ``out_dir``; the
    local stand-in for S3 put_object. Idempotent keys make re-runs
    at-most-once-safe (same key -> same content -> overwrite)."""

    def _write(rows: Iterator[Any]) -> None:
        for row in rows:
            path = os.path.join(out_dir, row[key_col])
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", newline="") as fh:
                fh.write(row[content_col])

    df.select(key_col, content_col).foreachPartition(_write)
