"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster (AQE on, skew-join handling on, sensible
shuffle partitioning, Arrow for the few pandas-UDF paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "amazon-macie-activity-generator-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime re-planning, partition coalescing, skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Coalescing is size-based and blind to downstream expression cost:
        # at bench scale it folds CPU-heavy doc pipelines onto 1-2 cores.
        # A small floor keeps parallelism; at real scale partitions exceed
        # it anyway so behavior is unchanged.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas_udf / mapInPandas paths (batched, not per-row).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet carries TIMESTAMP(NANOS); Spark has no
        # nanos timestamp -> read as long, loaders convert to micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return _apply_extra_conf(builder).getOrCreate()


def warm_up(spark: SparkSession) -> None:
    """Warm the JVM, the noop sink and the Python workers, so that the
    first timed action pays for itself and not for session startup: a
    noop write, then an Arrow map over one partition per core, so that
    every core spawns its Python worker (workers are reused)."""
    spark.range(1_000_000).selectExpr("sum(id) AS s").write.format("noop").mode("overwrite").save()
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 1000 * n, 1, n).mapInPandas(lambda it: it, "id long") \
        .write.format("noop").mode("overwrite").save()


def _apply_extra_conf(builder):
    """Apply ``$SPARK_GRAFT_EXTRA_CONF`` (``key=value;key=value``) — the
    parameterization seam for scale-dependent settings (r13, guide §9):
    local defaults stay untouched so the driver's bench is comparable,
    and a cluster deployment overrides e.g. the shuffle codec or join
    preferences per environment instead of editing code.

    Malformed entries (no ``=`` separator, or an empty key) raise
    instead of being applied: a typo in a cluster deployment must
    surface at startup, not silently set ``conf[""]`` or an
    empty-string value (r14, ADVICE). Note the standard Spark caveat:
    builder configs only take effect for the session ``getOrCreate()``
    CREATES — if a SparkSession already exists in the process the extra
    conf is silently ignored, so set the env var before the first
    session is built."""
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, (p.strip() for p in extra.split(";"))):
        k, sep, v = kv.partition("=")
        if not sep or not k.strip():
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF: malformed entry {kv!r} "
                "(expected key=value;key=value)"
            )
        builder = builder.config(k.strip(), v.strip())
    return builder
