"""Replay scheduler + event-time streaming (SURVEY.md §2.5 K1/K2, §4.3).

The reference's delivery loop: CloudWatch tick every minute -> consume
EXACTLY ONE queue slot -> delete-before-process (at-most-once,
main.py:711-736) -> dispatch to targets; when the queue drains, a new
cycle is generated (main.py:1128-1133). Late/missed slots are dropped by
design — there is no redelivery (README.md:282).

Structured Streaming mapping:

- **Queue** = the parquet slot-row table written by K1
  (``sinks.local.write_queue``); ``readStream`` over it is the consumer.
- **Cadence**: ``trigger(processingTime='60 seconds')`` with
  ``maxFilesPerTrigger`` admits that many queue FILES per tick, not that
  many slots. ``write_queue`` writes one file per shuffle partition that
  survives AQE coalescing, so one file can hold a whole cycle and one
  tick then delivers all of it; slot-exact pacing is not implemented.
  Tests use ``trigger(availableNow=True)`` to drain deterministically.
- **Catalog drains**: the catalog's streaming entries drain through
  ``drain_to_memory`` (or, for the queue replay, ``work_dir`` plus
  ``await_drain``): one work directory removed on exit, one timeout
  (``DRAIN_TIMEOUT_S``) that stops the query and raises instead of
  handing back the micro-batches delivered so far.
- **Dedup** (SQS dedup ids, main.py:698-706): ``dropDuplicates(
  ['run_id','t'])`` backed by the checkpoint's state store. A micro-batch
  reaches the batch function unsorted: the delivery write needs no slot
  order, and a range sort would cost a sample job and an exchange per
  batch.
- **At-most-once**: Spark's checkpoint gives at-least-once per batch, so
  the batch fn writes with idempotent keys (run_id, t) — replayed batches
  overwrite identical rows instead of duplicating them. That is the
  delete-before-process contract's observable behavior, without its
  data-loss-on-crash defect.
- **Event-time ops**: watermarked tumbling window + session_window over a
  stream of events — the generalization of the fixed 1-minute grid to
  real event-time (late rows beyond the watermark are dropped, the
  streaming analog of the reference's drop-late-slots semantics).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

# Longest a catalog drain may run, in seconds. An availableNow query that
# has not finished by then has delivered only part of its input.
DRAIN_TIMEOUT_S = 300


def queue_stream(
    spark: SparkSession, queue_path: str, schema: StructType,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """K2 consumer source: stream the K1 queue table. The default
    ``maxFilesPerTrigger=1`` admits one queue FILE per micro-batch under
    a processing-time trigger. That is one slot per tick only when each
    file holds one slot: ``write_queue`` writes one file per shuffle
    partition that survives AQE coalescing, so a cycle's slots can share
    one file and one tick then delivers the whole cycle. Bulk drains
    (catch-up after downtime, backfills) raise the setting to amortize
    the per-micro-batch checkpoint/state commit across more rows —
    measured in scripts/streaming_scale.py / SCALE.md."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(queue_path)
    )


def replay(
    stream: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    cadence_seconds: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Drive the dispatch: dedup on (run_id, t) -> ``batch_fn`` executes
    the micro-batch's slot rows on targets. The rows arrive in no
    particular order; a ``batch_fn`` that needs slot order sorts the
    batch itself. at-most-once => batch_fn must write idempotently keyed
    by (run_id, t).

    State bound: a plain ``dropDuplicates`` on an unbounded stream keeps
    every (run_id, t) ever seen in the state store forever (the hazard
    ``dedup_in_stream`` documents). Dedup here runs WITHIN a 14-day
    arrival-time watermark — the reference queue's own retention window
    (SQS ``MessageRetentionPeriod``, CloudFormationTemplate.yml:163), so
    a slot re-delivered after retention expiry would re-execute there
    too; state older than the window is evicted."""
    deduped = (
        stream.withColumn("__arrival_ts", F.current_timestamp())
        .withWatermark("__arrival_ts", "14 days")
        .dropDuplicatesWithinWatermark(["run_id", "t"])
        .drop("__arrival_ts")
    )

    writer = deduped.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif cadence_seconds:
        writer = writer.trigger(processingTime=f"{cadence_seconds} seconds")
    return writer.start()


def replay_to_table(
    spark: SparkSession,
    queue_path: str,
    schema: StructType,
    out_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    cadence_seconds: int | None = None,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Replay the queue into a parquet 'delivered' table partitioned by
    run_id — idempotent per-(run_id,t) delivery record; the local-mode
    equivalent of executing each slot on its targets."""
    stream = queue_stream(spark, queue_path, schema,
                          max_files_per_trigger=max_files_per_trigger)

    def _deliver(batch: DataFrame, batch_id: int) -> None:
        # idempotent delivery: dynamic overwrite of THIS batch's partition
        # — a replayed micro-batch (crash between write and checkpoint
        # commit) rewrites identical data instead of appending duplicates.
        # That is the observable at-most-once contract (main.py:726-731)
        # without the reference's delete-before-process data loss.
        (
            batch.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id", "batch_id")
            .parquet(out_path)
        )

    return replay(
        stream, _deliver, checkpoint_dir,
        cadence_seconds=cadence_seconds, available_now=available_now,
    )


# ------------------------------------------------------- catalog drains

@contextmanager
def work_dir(prefix: str) -> Iterator[str]:
    """A fresh temp directory, removed with everything in it when the
    block exits — normally or by an exception."""
    path = tempfile.mkdtemp(prefix=prefix)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def await_drain(query: StreamingQuery, what: str) -> None:
    """Wait up to ``DRAIN_TIMEOUT_S`` for an availableNow ``query`` to
    finish. If it has not, stop it and raise ``TimeoutError``: its sink
    holds only the micro-batches delivered so far, and a partial result
    must never pass for the whole one."""
    if not query.awaitTermination(DRAIN_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"{what}: the drain did not finish in {DRAIN_TIMEOUT_S} s"
        )


def drain_to_memory(
    spark: SparkSession,
    name: str,
    sources: Sequence[DataFrame],
    build: Callable[[Callable[[], DataFrame]], DataFrame],
    output_mode: str = "append",
) -> DataFrame:
    """Run a streaming query over a file source to completion and return
    its result as a batch DataFrame, leaving nothing behind.

    ``sources`` are appended, in order, as parquet into a fresh work
    directory (a frame listed twice lands twice). ``build`` receives a
    function that opens a new stream over that directory (call it once
    per streaming side) and returns the streaming result. The result
    drains with ``availableNow`` into a memory sink, checkpointed in the
    work directory, under the timeout of ``await_drain``.

    The returned frame reads the memory sink's rows through its own plan.
    The sink's temp view is dropped, so the rows live only as long as the
    frame, and the work directory (source copy and checkpoint) is removed
    on every exit path."""
    with work_dir(f"amag_{name}_") as work:
        src = os.path.join(work, "src")
        for frame in sources:
            frame.write.mode("append").parquet(src)
        schema = sources[0].schema
        result = build(lambda: spark.readStream.schema(schema).parquet(src))
        view = f"{name}_{uuid.uuid4().hex[:8]}"
        query = (
            result.writeStream.format("memory").queryName(view)
            .outputMode(output_mode)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True).start()
        )
        try:
            await_drain(query, name)
            return spark.table(view)
        finally:
            spark.catalog.dropTempView(view)


# --------------------------------------------- event-time streaming aggs

def streaming_tumbling_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    by: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window counts — the streaming twin of
    operators.sessionize.tumbling_counts (same output per window once the
    watermark closes it; late rows beyond the watermark are dropped)."""
    by = by if by is not None else ["event_type"]
    return (
        events.filter(F.col("ts").isNotNull()).withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), *by)
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("win.start").alias("bucket"), *by, "n_events", "sum_value")
    )


def streaming_sessions(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    user_col: str = "user_id",
) -> DataFrame:
    """session_window-based sessionization — the streaming twin of
    operators.sessionize.sessionize (stateful, watermark-bounded)."""
    return (
        events.filter(F.col("ts").isNotNull()).withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup(
    events: DataFrame,
    watermark: str = "2 hours",
    keys: list[str] | None = None,
) -> DataFrame:
    """Watermark-bounded streaming deduplication: at-most-once delivery of
    each key (the streaming twin of the queue dedup ids, main.py:698-706,
    and of X1 exact dedup).

    ``dropDuplicatesWithinWatermark`` keeps dedup state only for the
    watermark horizon — the scale-correct form: plain dropDuplicates on a
    stream grows its state table forever, which no 100 TB/day stream
    survives. Late duplicates beyond the watermark are dropped by design
    (same at-most-once stance as the reference's delete-then-process)."""
    keys = keys if keys is not None else ["event_id"]
    return events.filter(F.col("ts").isNotNull()).withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
