"""End-to-end blueprint pipeline: generate -> queue -> dispatch -> sinks.

The reference's full lifecycle (SURVEY.md §3): produce_timeseries
(main.py:667-709) fills the queue; each tick consumes one slot and
dispatches it to every target (dispatch_datapoints_to_targets,
main.py:738-755) — grouped (R2) or single-with-slicing (R3/T7) — then
executes the payload's datapoints on the target sink (EP3,
main.py:871-1057).

Spark shape: the fact table is the queue (one generation cycle = one
batch write); dispatch is a per-target transform of the SAME fact table
— series filter (T10) -> group/slice reshape -> payload rows (R4) ->
activity rows -> sink writes. The reference's lambda_self_invoke fan-out
(K7, main.py:1102-1115) dissolves into partition parallelism: every
payload/activity row is independent, so Spark schedules the width.

The sinks of one cycle are independent, as the reference's targets
are: ``run_blueprint`` writes the queue and executes every target
concurrently, on at most ``MAX_SINK_THREADS`` driver threads that read
the one persisted fact table. streaming/replay.py drives the delivery
one micro-batch at a time for cadence parity.
"""

from __future__ import annotations

import os
import uuid
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from amazon_macie_activity_generator_spark.config import Blueprint, TargetSpec
from amazon_macie_activity_generator_spark.operators.reshape import (
    TS_FORMAT,
    payload_envelope,
    slot_row_json,
)
from amazon_macie_activity_generator_spark.operators.slicing import slice_explode
from amazon_macie_activity_generator_spark.plans.generate import generate
from amazon_macie_activity_generator_spark.sinks.local import (
    metrics_rows,
    s3_get_activity_rows,
    s3_put_activity_rows,
    write_objects_local,
    write_payload_lines,
    write_queue,
)

# Most sink writes one cycle runs at once. Each runs on its own driver
# thread (and py4j connection); the executors are shared, so a blueprint
# with more targets queues them instead of opening a thread per target.
MAX_SINK_THREADS = 8


def select_target_series(fact: DataFrame, target: TargetSpec) -> DataFrame:
    """T10 — a target consumes only its configured generators
    (main.py:766, 795); isin filter -> partition-pruning-friendly."""
    gens = target.generators
    return fact if not gens else fact.filter(F.col("series_id").isin(gens))


def dispatch_group(fact: DataFrame, target: TargetSpec) -> DataFrame:
    """R2 path (group_datapoints=true targets, main.py:784-802): all of a
    slot's selected series in ONE payload. The slot timestamp rides along
    through the groupBy (first() of a per-slot-constant column — no join)."""
    sel = select_target_series(fact, target).withColumn(
        "tss", F.date_format("ts", TS_FORMAT)
    )
    dp = F.struct(F.col("series_id").alias("generator_id"), F.col("value").alias("value"))
    grouped = sel.groupBy("t").agg(
        F.first("tss").alias("tss"),
        F.sort_array(F.collect_list(dp)).alias("datapoints"),
    )
    return payload_envelope(grouped, target.config, timestamp=F.col("tss"))


def dispatch_single(fact: DataFrame, target: TargetSpec) -> DataFrame:
    """R3 path (main.py:757-782): per slot x series, slice the value (T7)
    and emit one single-datapoint payload per slice. slice_size defaults
    to the value itself = no slicing (main.py:777)."""
    sel = select_target_series(fact, target)
    s = target.slice_size
    sliced = slice_explode(
        sel, F.lit(s) if s is not None else F.col("value"), value_col="value"
    )
    one = sliced.select(
        "t",
        F.date_format("ts", TS_FORMAT).alias("tss"),
        F.array(
            F.struct(
                F.col("series_id").alias("generator_id"),
                F.col("slice_value").alias("value"),
            )
        ).alias("datapoints"),
    )
    return payload_envelope(one, target.config, timestamp=F.col("tss"))


def dispatch(fact: DataFrame, target: TargetSpec) -> DataFrame:
    """Route by group_datapoints (main.py:752-755). Returns payload rows."""
    if target.config.get("group_datapoints"):
        return dispatch_group(fact, target)
    return dispatch_single(fact, target)


def execute_target(
    fact: DataFrame,
    target: TargetSpec,
    out_dir: str,
    idx: int,
) -> dict[str, Any]:
    """EP3 — execute a target's datapoints on its sink, local mode.

    s3/put -> fake-document files + object manifest parquet;
    s3/get -> touched-key manifest parquet;
    cloudwatch -> metrics parquet; lambda -> payload JSON-lines."""
    sel = select_target_series(fact, target)
    tdir = os.path.join(out_dir, f"target_{idx}_{target.type}")
    result: dict[str, Any] = {"type": target.type, "dir": tdir}
    if target.type == "cloudwatch":
        metrics_rows(sel, namespace=target.config.get("namespace", "amazon-macie-activity-generator")) \
            .write.mode("append").parquet(os.path.join(tdir, "metrics"))
        result["metrics"] = os.path.join(tdir, "metrics")
    elif target.type == "lambda":
        write_payload_lines(dispatch(fact, target), os.path.join(tdir, "payloads"))
        result["payloads"] = os.path.join(tdir, "payloads")
    elif target.type == "s3":
        action = target.config.get("action", "get")  # main.py:1047
        if action == "put":
            # persist: the fake-document projection (multi-KB content per
            # row, the heaviest expressions in the job) feeds TWO actions
            # — manifest write + object files — and must compute once
            rows = s3_put_activity_rows(sel, target.config).persist()
            try:
                rows.write.mode("append").parquet(os.path.join(tdir, "manifest"))
                write_objects_local(
                    rows, os.path.join(tdir, "objects")
                )
            finally:
                rows.unpersist()
            result["manifest"] = os.path.join(tdir, "manifest")
            result["objects"] = os.path.join(tdir, "objects")
        else:
            rows = s3_get_activity_rows(sel, real_keys=target.config.get("real_keys"))
            rows.write.mode("append").parquet(os.path.join(tdir, "manifest"))
            result["manifest"] = os.path.join(tdir, "manifest")
    return result


def run_cycles(
    spark: SparkSession,
    blueprint: Blueprint,
    out_dir: str,
    n_cycles: int = 2,
    anomaly_mode: str = "hash",
) -> list[dict[str, Any]]:
    """Cycle restart (main.py:1128-1133): when a cycle's queue drains the
    reference regenerates and refills. Batch shape: each cycle is one
    ``run_blueprint`` with a fresh run_id; the queue table accumulates
    cycles as partitions (run_id partition pruning gives per-cycle reads),
    and random generators draw fresh values because run_id participates
    in every hash draw."""
    return [
        run_blueprint(spark, blueprint, out_dir, anomaly_mode=anomaly_mode)
        for _ in range(n_cycles)
    ]


def run_blueprint(
    spark: SparkSession,
    blueprint: Blueprint,
    out_dir: str,
    run_id: str | None = None,
    anomaly_mode: str = "hash",
) -> dict[str, Any]:
    """One full cycle: generate the fact table, persist the queue table,
    execute every target. Returns output locations.

    The fact table is computed once and shared by the queue write and all
    targets (the reference regenerates per cycle too, main.py:1128-1133).
    The writes run concurrently, on at most ``MAX_SINK_THREADS`` threads;
    concurrent readers share the one cache fill of ``fact``, whose rows
    are deterministic. Each write carries the caller's job group, local
    properties and session tags, so its jobs are attributed like the
    caller's own. Every write finishes, and every thread is joined,
    before the first failure (in target order, the queue first) is
    raised. Every series is zero-filled to the grid, so the fact has
    generators x ``num_points`` rows without a count job."""
    run_id = run_id or uuid.uuid4().hex
    fact = generate(spark, blueprint, run_id=run_id, anomaly_mode=anomaly_mode).persist()
    try:
        queue_path = os.path.join(out_dir, "queue")
        slot_rows = slot_row_json(fact).withColumn("run_id", F.lit(run_id))
        writes = [partial(write_queue, slot_rows, queue_path)] + [
            partial(execute_target, fact, t, out_dir, i) for i, t in enumerate(blueprint.targets)
        ]
        with ThreadPoolExecutor(max_workers=min(len(writes), MAX_SINK_THREADS),
                                thread_name_prefix="run_blueprint") as pool:
            # one wrapper per write: each gets its own copy of the local
            # properties, which Spark SQL mutates per execution
            futures = [pool.submit(inheritable_thread_target(spark)(w)) for w in writes]
        _, *targets = [f.result() for f in futures]
        return {"run_id": run_id, "queue": queue_path, "targets": targets,
                "n_rows": len(blueprint.generators) * blueprint.num_points}
    finally:
        fact.unpersist()
