"""Warehouse, event-stream and graph catalog entries.

Over the TPC-H tables and ``events``: joins, grouping sets, window and
ranking shapes, sampling, sessionization, funnels and cohorts, batch and
Structured Streaming windows / joins / dedup, drift statistics, ingest
gates, and co-purchase graph analytics — the SQL-breadth categories the
reference lacks (SURVEY.md §2.7, §2.8), expressed through the same
engine.

Same contract as queries.py: name -> (spark_builder, duckdb_sql | None).

Scale notes (local[32] tests, 1000-executor design):
- All six dimension tables in ``revenue_by_nation`` are broadcast; the
  only shuffles are lineitem->orders hash joins on their natural keys and
  the final nation aggregate.
- ``event_gaps`` is one shuffle (hash by user_id) + an in-partition sort;
  no global sort, no driver round-trip.
- ``small_qty_revenue`` self-joins lineitem with its per-part averages:
  both sides shuffle on l_partkey once (co-partitioned hash join); the
  part dimension is broadcast. No boundary FP risk: l_quantity is
  integral so per-part sums (and hence 0.2*avg) are bit-exact in both
  engines.
- ``large_orders`` partial-aggregates lineitem map-side, filters to the
  few qualifying orderkeys, and AQE converts the join back to orders
  into a broadcast join at runtime.
- ``markov_transitions`` / ``session_paths``: one hash shuffle on
  user_id, in-partition sort, then a tiny (|types|^2- or path-keyed)
  map-side-combinable count. No global sort; the per-user window never
  sees more than one user's rows.
- ``copurchase_pairs``: pairs explode in-task from each order's sorted
  distinct-part set (one order-keyed shuffle, no self-join — r13); pair
  fan-out is bounded by max order width (7 lineitems in TPC-H-ish data),
  keeping generation linear in lineitem count.
- ``psi_value_drift``: one stats pass and one (type, segment, bin)
  grouped count over the stream — both map-side combinable — with the
  |types|-row stats frame broadcast back; the bin grid / pivot / PSI sum
  all run on tiny |types| x 20 frames. No windows over the event stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.cache import begin_scope, scoped_persist
from amazon_macie_activity_generator_spark.functions.jsonx import extract_int_prop, sql_int_prop
from amazon_macie_activity_generator_spark.functions.rounding import sql_round_fixed
from amazon_macie_activity_generator_spark.operators.interpolate import MAX_GRID_SLOTS
from amazon_macie_activity_generator_spark.operators.sessionize import sessionize, tumbling_counts
from amazon_macie_activity_generator_spark.sources.tables import load_table, spread_small_scan


# ------------------------------------------------------------ json / time

def q_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 — JSON property extraction from events.props.

    Uses the pinned cross-engine contract in ``functions/jsonx.py``: the
    old ``get_json_object(..).cast('long')`` THREW under Spark 4's
    default ANSI mode on any non-integral ``$.k`` (one malformed crawl
    row = dead job), and plain TRY_CAST twins diverge because DuckDB
    rounds decimal text and parses hex (see module docstring there).
    """
    events = spread_small_scan(load_table(spark, sf_dir, "events"), "event_id")
    return events.select(
        "event_id",
        extract_int_prop("props", "$.k").alias("k"),
    )


SQL_JSON_EXTRACT = f"""
SELECT event_id,
       {sql_int_prop('props', '$.k')} AS k
FROM events
"""


def q_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 — hourly tumbling counts per event_type."""
    events = load_table(spark, sf_dir, "events")
    out = tumbling_counts(events, bucket="hour")
    return out.select(
        F.col("bucket").cast("string").alias("bucket"),
        "event_type", "n_events", "sum_value",
    )


SQL_TUMBLING = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS bucket, event_type,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 — 30-min-gap sessionization per user (gaps-and-islands)."""
    events = load_table(spark, sf_dir, "events")
    return sessionize(events, gap_minutes=30)


SQL_SESSIONIZE = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id, count(*) AS n_events,
       min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
FROM sess GROUP BY user_id, session_id
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): every click event picks up the
    latest purchase value at-or-before its timestamp for the same user.
    Oracle = DuckDB's native ASOF LEFT JOIN — Spark has no built-in, the
    union+running-last composition IS the operator. No-match rows surface
    -1.0 (null-free hashing). NULL-ts events are excluded on BOTH sides
    (no time, no as-of position — a NULL-ts purchase would sort NULLS
    FIRST into Spark's running-last window and become the "earliest"
    value, while DuckDB's ASOF c.ts >= NULL never matches)."""
    from amazon_macie_activity_generator_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 4).alias("value"))
    )
    out = asof_join(clicks, purchases, ts_col="ts", by=["user_id"], value_col="value")
    return out.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.coalesce(F.col("asof_value"), F.lit(-1.0)).alias("asof_value"),
    )


SQL_ASOF_JOIN = """
WITH clicks AS (
  SELECT user_id, ts, event_id FROM events
  WHERE event_type = 'click' AND ts IS NOT NULL
),
p AS (
  SELECT user_id, ts, round(max(value), 4) AS value
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1, 2
)
SELECT c.user_id, epoch_us(c.ts) AS ts_us, c.event_id,
       coalesce(p.value, -1.0) AS asof_value
FROM clicks c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join (operators/interval.py): 8 fixed 90-minute
    windows (every 3h from the corpus day start) x all events, joined via
    time-bucket discretization — no nested loop. Counts + value sums per
    window; DuckDB twin is the plain range join."""
    from amazon_macie_activity_generator_spark.operators.interval import interval_join

    events = load_table(spark, sf_dir, "events")
    day0 = events.agg(F.date_trunc("day", F.min("ts")).alias("d0"))
    intervals = (
        day0.select(F.explode(F.sequence(F.lit(0), F.lit(7))).alias("k"), "d0")
        .select(
            "k",
            (F.col("d0") + F.make_interval(hours=F.col("k") * 3)).alias("start_ts"),
            (F.col("d0") + F.make_interval(hours=F.col("k") * 3, mins=F.lit(90))).alias("end_ts"),
        )
    )
    hits = interval_join(events, intervals, ts_col="ts", bucket_minutes=30)
    return hits.groupBy(F.col("k").cast("long").alias("k")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


SQL_INTERVAL_JOIN = """
WITH d0 AS (SELECT date_trunc('day', min(ts)) AS d FROM events),
iv AS (
  SELECT k, d + k * INTERVAL 3 HOUR AS s,
         d + k * INTERVAL 3 HOUR + INTERVAL 90 MINUTE AS e
  FROM d0, range(0, 8) AS r(k)
)
SELECT iv.k, count(*) AS n_events, round(sum(ev.value), 4) AS sum_value
FROM events ev JOIN iv ON ev.ts >= iv.s AND ev.ts <= iv.e
GROUP BY iv.k
"""


def q_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets breadth (§2.7 gap coverage): CUBE over
    (event_type, hour-of-day) with grouping_id — all four aggregation
    granularities in one shuffle."""
    events = load_table(spark, sf_dir, "events")
    hod = F.hour("ts").alias("hod")
    return (
        events.cube(F.col("event_type"), hod)
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("hod").cast("long"), F.lit(-1)).alias("hod"),
            "gid", "n_events", "sum_value",
        )
    )


SQL_CUBE_EVENTS = """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(CAST(hod AS BIGINT), -1) AS hod,
       CAST(grouping(event_type) * 2 + grouping(hod) AS BIGINT) AS gid,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM (SELECT event_type, hour(ts) AS hod, value FROM events)
GROUP BY CUBE (event_type, hod)
-- empty-relation semantics: Spark's cube emits NO rows for an empty
-- input, SQL emits the grand-total grouping set (count 0). Every
-- grouping-set row over a non-empty input aggregates >= 1 row, so this
-- filter only pins the empty case to Spark's behavior.
HAVING count(*) > 0
"""


def q_per_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group selection (eval-set picking): order each
    user's events by a hash of the event id and keep the first 2 — stable
    under any partitioning, exact membership oracle-checks."""
    events = load_table(spark, sf_dir, "events")

    h = F.md5(F.concat(F.lit("ps:"), F.col("event_id").cast("string")))
    w = Window.partitionBy("user_id").orderBy(h.asc(), F.col("event_id").asc())
    return (
        events.filter(F.col("user_id") < 30)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("user_id", "event_id", F.col("rank").cast("long").alias("rank"))
    )


SQL_PER_GROUP_SAMPLE = """
SELECT user_id, event_id, CAST(rank AS BIGINT) AS rank FROM (
  SELECT user_id, event_id,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY md5('ps:' || CAST(event_id AS VARCHAR)) ASC, event_id ASC
         ) AS rank
  FROM events WHERE user_id < 30
) WHERE rank <= 2
"""


def q_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 — 2-hour windows hopping every hour (each event in 2 windows).
    Spark's native window(ts, '2 hours', '1 hour'); the oracle expands the
    window membership with a generate_series cross join."""
    from amazon_macie_activity_generator_spark.operators.sessionize import sliding_counts

    events = load_table(spark, sf_dir, "events")
    return sliding_counts(events, window_hours=2, slide_hours=1)


SQL_SLIDING = """
SELECT CAST(date_trunc('hour', ts) - k.k * INTERVAL 1 HOUR AS VARCHAR) AS win_start,
       event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events, range(0, 2) AS k(k)
WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/X1 streaming — the events table written TWICE into the source
    (guaranteed duplicates), streamed through watermark-bounded
    dropDuplicatesWithinWatermark, appended to a memory sink, then counted
    per type. Dedup is deterministic, so the result value-hash-matches the
    batch DISTINCT oracle: streaming and batch dedup agree."""
    import os
    import tempfile
    import uuid

    from amazon_macie_activity_generator_spark.streaming.replay import streaming_dedup

    events = load_table(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="amag_sdedup_")
    src = os.path.join(work, "src")
    events.write.parquet(src)
    events.write.mode("append").parquet(src)  # plant exact duplicates
    stream = spark.readStream.schema(events.schema).parquet(src)
    name = "dedup_" + uuid.uuid4().hex[:8]
    q = (
        streaming_dedup(stream, watermark="2 hours", keys=["event_id"])
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.count_distinct(F.col("event_id")).alias("n_ids"))
    )


SQL_STREAMING_DEDUP = """
SELECT event_type, count(DISTINCT event_id) AS n_events,
       count(DISTINCT event_id) AS n_ids
FROM events WHERE ts IS NOT NULL GROUP BY 1
"""


def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/X6 streaming — watermarked tumbling-window counts via Structured
    Streaming (availableNow drain, complete mode), value-matching the same
    DuckDB oracle as the batch query: the streaming and batch engines agree."""
    import os
    import tempfile
    import uuid

    from amazon_macie_activity_generator_spark.streaming.replay import (
        streaming_tumbling_counts,
    )

    events = load_table(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="amag_stream_")
    src = os.path.join(work, "src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    name = "tumbling_" + uuid.uuid4().hex[:8]
    q = (
        streaming_tumbling_counts(stream, "1 hour", "2 hours")
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        F.col("bucket").cast("string").alias("bucket"),
        "event_type", "n_events", "sum_value",
    )


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions (absent in the reference, §2.7): per-event-type
    10-row moving average + running count over event time."""

    from amazon_macie_activity_generator_spark.functions.rounding import round_fixed

    events = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    # no time, no timeline: NULL-ts events are excluded (oracle mirrors)
    # round_fixed, not round(): a moving average can land exactly on a
    # .xxxx5 half boundary where the engines' round() modes disagree
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return events.select(
        "event_id", "event_type",
        round_fixed(F.avg("value").over(w.rowsBetween(-9, 0)), 4).alias("moving_avg"),
        F.count(F.lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("running_n"),
    )


_MAVG = ("avg(value) OVER (PARTITION BY event_type ORDER BY ts, event_id "
         "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)")
SQL_ROLLING = f"""
SELECT event_id, event_type,
       {sql_round_fixed(_MAVG, 4)} AS moving_avg,
       count(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS running_n
FROM events WHERE ts IS NOT NULL
"""


def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets / ROLLUP (absent in the reference, §2.7): subtotals
    and grand total over the pricing summary."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").try_cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "sum_qty", "n_rows",
        )
    )


SQL_ROLLUP = """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       CAST(sum(CASE WHEN isnan(l_quantity) THEN NULL ELSE TRY_CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
-- pins the empty relation to Spark semantics (no grand-total row);
-- no-op on non-empty input — see SQL_CUBE_EVENTS
HAVING count(*) > 0
"""


def q_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    session state across micro-batches. The MECHANISM is not
    SQL-expressible, but with availableNow (one batch) the RESULT is
    deterministic — every closed session, i.e. the batch gaps-and-islands
    sessionization minus each user's final (still-open) session — so the
    entry carries a full value-hash oracle (round 4; was rows-only)."""
    import os
    import tempfile
    import uuid

    from amazon_macie_activity_generator_spark.operators.sessionize import (
        sessionize_stateful,
    )

    events = load_table(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="amag_state_")
    src = os.path.join(work, "src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    name = "sess_state_" + uuid.uuid4().hex[:8]
    q = (
        sessionize_stateful(stream, gap_minutes=30)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    return spark.table(name)


# the stateful emitter's exact contract: the batch sessionization minus
# each user's max session_id (the session still open in state)
SQL_SESSIONIZE_STATEFUL = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
),
agg AS (
  SELECT user_id, session_id, count(*) AS n_events,
         min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, session_id, n_events, start_us, end_us
FROM agg
WHERE session_id < (SELECT max(a2.session_id) FROM agg a2
                    WHERE a2.user_id = agg.user_id)
"""


def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregation over the main fact table (decimal sums for
    cross-engine exactness; filters push to the parquet scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).try_cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_AGG_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CASE WHEN isnan(l_quantity) THEN NULL ELSE TRY_CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_qty,
       CAST(sum(CASE WHEN isnan(l_extendedprice) THEN NULL ELSE TRY_CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_base_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_join_topn_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + sort/limit: top-10 customers by order value; dimension side
    broadcast (no shuffle of the fact table beyond the agg)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").try_cast("decimal(18,2)")).cast("double").alias("total_spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    joined = spend.join(F.broadcast(customer), spend.o_custkey == customer.c_custkey)
    return (
        joined.select("c_custkey", "c_name", "total_spend", "n_orders")
        .orderBy(F.desc("total_spend"), "c_custkey")
        .limit(10)
    )


SQL_JOIN_TOPN = """
SELECT c_custkey, c_name, total_spend, n_orders
FROM (
  SELECT o_custkey, CAST(sum(CASE WHEN isnan(o_totalprice) THEN NULL ELSE TRY_CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total_spend,
         count(*) AS n_orders
  FROM orders GROUP BY o_custkey
) s JOIN customer ON s.o_custkey = c_custkey
ORDER BY total_spend DESC, c_custkey LIMIT 10
"""


def q_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join / NOT EXISTS (§2.7 gap): customers with no big-ticket
    order (> 300k) — the filter pushes below the anti join."""
    customer = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000
)
"""


def q_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event_type (median/p90/p99) —
    Spark percentile() and DuckDB quantile_cont share linear
    interpolation; round(4) absorbs FP accumulation order."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


SQL_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type
"""


def q_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct per day (the expensive one — two-level agg;
    approx_count_distinct is the rows-only scale alternative)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(F.col("day").cast("string").alias("day"), "n_users", "n_events")


SQL_DISTINCT_DAILY = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY 1
"""


def q_salted_agg_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (operators/skew.py): per-user sums
    through a salted partial stage — result identical to the plain
    groupBy, which is exactly what the oracle checks."""
    from amazon_macie_activity_generator_spark.operators.skew import salted_agg

    events = load_table(spark, sf_dir, "events")
    out = salted_agg(events.select("user_id", "value"), key="user_id", value_col="value", salt=8)
    return out.select("user_id", F.round("sum_value", 4).alias("sum_value"), "n_rows")


SQL_SALTED_AGG = """
SELECT user_id, round(sum(value), 4) AS sum_value, count(*) AS n_rows
FROM events GROUP BY user_id
"""


def q_approx_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog approximate distinct per day (rows-only: sketch values
    are engine-local; the exact twin is distinct_users_daily). The 100 TB
    path — one pass, bounded sketch memory, no per-key exact state."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(F.to_date("ts").alias("day")).agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
    ).select(F.col("day").cast("string").alias("day"), "approx_users")


def q_set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: purchasers who clicked but never errored
    (INTERSECT + EXCEPT)."""
    events = load_table(spark, sf_dir, "events")
    u = lambda t: events.filter(F.col("event_type") == t).select("user_id").distinct()  # noqa: E731
    return u("purchase").intersect(u("click")).exceptAll(u("error"))


SQL_SET_OPS = """
SELECT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error'
"""


# --------------------------------------------------------------------------
# revenue_by_nation — TPC-H Q5-shaped six-table join, broadcast dims
# --------------------------------------------------------------------------

def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by supplier nation for ASIA, orders placed in 1996 — the
    Q5 join shape. customer/supplier/nation/region are broadcast (the
    plan has exactly two shuffle joins: lineitem->orders on l_orderkey
    and nothing else wide); the date filter is pushed to the orders scan.
    Local sums of double are order-sensitive at the 1e-9 level, so both
    engines round the revenue to 2 dp."""
    li = load_table(spark, sf_dir, "lineitem")
    # range predicate, not year(): comparisons on the raw column reach the
    # parquet scan as PushedFilters; a function call would not
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dims = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    j = (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(dims), (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
    )
    return (
        j.groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


SQL_REVENUE_BY_NATION = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --------------------------------------------------------------------------
# dedup_latest_event — keep-newest dedup by key (CDC compaction shape)
# --------------------------------------------------------------------------

def q_dedup_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep only the newest event per (user_id, event_type) — the
    changelog-compaction / SCD-1 shape. Single shuffle on the dedup key;
    at scale this is the max_by/window top-1 pattern, never a self-join.
    Ties on ts break by highest event_id (deterministic). NULL-ts events
    are excluded: an event without a time cannot be "latest", and a NULL
    DESC window-order key is placed unstably by DuckDB's parallel sort
    (the mom_revenue_change flake class)."""
    events = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.round("value", 4).alias("value"))
    )


SQL_DEDUP_LATEST = """
SELECT user_id, event_type, event_id, round(value, 4) AS value FROM events
WHERE ts IS NOT NULL
QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) = 1
"""


# --------------------------------------------------------------------------
# streaming_append_windows — append-mode finalized-window semantics
# --------------------------------------------------------------------------

def q_streaming_append_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling windows in APPEND mode: a window row is
    emitted exactly once, when the watermark passes its end — the
    finalized-result semantics production streaming jobs rely on (the
    complete-mode twin is streaming_tumbling). After an availableNow
    drain the emitted set is exactly the windows whose end <= max(ts) -
    watermark; the oracle states that closure rule in SQL (max(ts)
    truncated to milliseconds — the precision Spark's watermark tracker
    uses)."""
    import os
    import shutil
    import tempfile
    import uuid

    from amazon_macie_activity_generator_spark.streaming.replay import (
        streaming_tumbling_counts,
    )

    events = load_table(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="amag_append_")
    try:
        src = os.path.join(work, "src")
        events.write.parquet(src)
        stream = spark.readStream.schema(events.schema).parquet(src)
        name = "append_" + uuid.uuid4().hex[:8]
        q = (
            streaming_tumbling_counts(stream, "1 hour", "2 hours")
            .writeStream.format("memory").queryName(name).outputMode("append")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        if q.isActive:
            q.stop()
    finally:
        # the memory sink holds the drained rows; the parquet copy and
        # checkpoint are dead weight once the query terminates
        shutil.rmtree(work, ignore_errors=True)
    return spark.table(name).select(
        F.col("bucket").cast("string").alias("bucket"),
        "event_type", "n_events", "sum_value",
    )


SQL_STREAMING_APPEND = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS bucket, event_type,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
HAVING date_trunc('hour', any_value(ts)) + INTERVAL 1 HOUR
       <= (SELECT date_trunc('milliseconds', max(ts)) FROM events)
          - INTERVAL 2 HOUR
"""


# --------------------------------------------------------------------------
# value_ranks — ranking-function family in one pass
# --------------------------------------------------------------------------

def q_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank / ntile over one shuffle: events
    ranked within event_type by integer value (ties share rank — rank
    functions are deterministic because they depend only on the ordering
    KEY, not physical row order; the ntile uses the (value, event_id)
    total order for the same reason). Completes the window-function
    surface next to row_number (topk_per_group) and lead (scd2).
    NULL values are excluded: ranking NULL is meaningless and the engines
    default to opposite NULL placement (Spark first, DuckDB last)."""
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # floor(), not cast: Spark's double->long cast truncates while
    # DuckDB's rounds half-away — floor is identical in both engines
    v = F.floor("value")
    w_ties = Window.partitionBy("event_type").orderBy(v)
    w_total = Window.partitionBy("event_type").orderBy(v, "event_id")
    return events.select(
        "event_id",
        "event_type",
        v.alias("v_int"),
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
        F.round(F.percent_rank().over(w_ties), 6).alias("pct_rank"),
        F.ntile(4).over(w_total).alias("quartile"),
    )


SQL_VALUE_RANKS = """
SELECT event_id, event_type, CAST(floor(value) AS BIGINT) AS v_int,
       CAST(rank() OVER w AS INT) AS rnk,
       CAST(dense_rank() OVER w AS INT) AS drnk,
       round(percent_rank() OVER w, 6) AS pct_rank,
       CAST(ntile(4) OVER (PARTITION BY event_type
                           ORDER BY floor(value), event_id) AS INT) AS quartile
FROM events
WHERE value IS NOT NULL
WINDOW w AS (PARTITION BY event_type ORDER BY floor(value))
"""


# --------------------------------------------------------------------------
# table_profile — single-pass column profiling (the data-quality preamble)
# --------------------------------------------------------------------------

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the events table — count / nulls / distincts /
    min / max per column, then a one-row unpivot to a row per column.

    Shape chosen for 100 TB: putting five exact ``count_distinct``s in a
    single ``agg`` makes Catalyst plan an Expand that replicates every
    input row ~6x through the shuffle (round 1's slowest query). Instead
    the non-distinct aggregates (count/nulls/min/max — map-side
    combinable) run in ONE full-width pass, and each exact distinct runs
    as its own single-distinct aggregation over a pruned one-column scan
    — Spark rewrites a lone distinct into two hash aggregates keyed on
    the column, no Expand. Total column-bytes read ~2x the single pass
    versus 6x row replication; the six one-row results meet in broadcast
    joins that move bytes, not data. (When estimates suffice, prefer the
    HLL single-pass — see approx_distinct_daily.) Timestamps format to
    fixed 6-digit micros so both engines stringify identically."""
    events = load_table(spark, sf_dir, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value"]

    def _fmt(c, x):
        # doubles print via an explicit %.6f: the engines' native
        # double->string reprs agree on small values but split at the
        # scientific-notation cutover (Spark '1.0E12' vs DuckDB
        # '1000000000000.0'). NULL must stay NULL: format_string
        # stringifies a NULL argument as the literal 'null' (Java
        # String.format), which an all-NULL or empty column would hit.
        if c == "ts":
            return F.date_format(x, _TS_FMT_SPARK)
        if c == "value":
            return F.when(x.isNotNull(), F.format_string("%.6f", x))
        return x.cast("string")

    def smin(c):
        return _fmt(c, F.min(c))

    def smax(c):
        return _fmt(c, F.max(c))

    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            smin(c).alias(f"{c}__min"),
            smax(c).alias(f"{c}__max"),
        ]
    one = events.agg(*aggs)
    for c in cols:
        one = one.crossJoin(F.broadcast(
            events.agg(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
        ))
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__distinct, {c}__min, {c}__max" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column, n_rows, n_nulls, n_distinct, min_value, max_value)"
    )


def _duck_profile_row(c: str) -> str:
    if c == "ts":
        mn, mx = (
            f"strftime(min({c}), '{_TS_FMT_DUCK}')",
            f"strftime(max({c}), '{_TS_FMT_DUCK}')",
        )
    elif c == "value":
        mn, mx = f"printf('%.6f', min({c}))", f"printf('%.6f', max({c}))"
    else:
        mn, mx = f"CAST(min({c}) AS VARCHAR)", f"CAST(max({c}) AS VARCHAR)"
    return (
        f"SELECT '{c}' AS \"column\", count(*) AS n_rows,"
        f" CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,"
        f" count(DISTINCT {c}) AS n_distinct, {mn} AS min_value, {mx} AS max_value"
        " FROM events"
    )


SQL_TABLE_PROFILE = "\nUNION ALL\n".join(
    _duck_profile_row(c) for c in ["event_id", "ts", "user_id", "event_type", "value"]
)


# --------------------------------------------------------------------------
# scd2_intervals — change-history validity intervals via lead()
# --------------------------------------------------------------------------

def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style history: each user's events become validity intervals
    [ts, next ts) via lead() over (user_id, ordered by ts, event_id) —
    the standard change-data-capture history build. Single shuffle on the
    key; the open interval (last row) has valid_to NULL. NULL-ts events
    are excluded (no time, no history position; oracle mirrors)."""
    events = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.date_format("ts", _TS_FMT_SPARK).alias("valid_from"),
        F.date_format(F.lead("ts").over(w), _TS_FMT_SPARK).alias("valid_to"),
    )


SQL_SCD2 = f"""
SELECT user_id, event_type, round(value, 4) AS value,
       strftime(ts, '{_TS_FMT_DUCK}') AS valid_from,
       strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                '{_TS_FMT_DUCK}') AS valid_to
FROM events WHERE ts IS NOT NULL
"""


# --------------------------------------------------------------------------
# value_histogram — fixed-width bucket histogram (width_bucket shape)
# --------------------------------------------------------------------------

def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per event_type: 10 buckets of
    width 50, top bucket open-ended. Pure map-side bucket expression +
    one aggregation — the one-pass histogram any dashboard needs; at
    100 TB the bucket key is low-cardinality so partial aggregation
    collapses nearly all rows map-side. NULL values are excluded up
    front (the psi_value_drift rule): least(NULL, 9) skip-NULLs to the
    top bucket in current Spark AND DuckDB — a silent miscount that is
    also version-fragile (older DuckDB returns NULL instead)."""
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket = F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("long")
    return (
        events.groupBy("event_type", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


SQL_VALUE_HISTOGRAM = """
SELECT event_type, CAST(least(floor(value / 50), 9) AS BIGINT) AS bucket,
       count(*) AS n, round(min(value), 4) AS lo, round(max(value), 4) AS hi
FROM events WHERE value IS NOT NULL GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# topk_per_group — per-group top-k (window row_number pattern)
# --------------------------------------------------------------------------

def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 longest docs per source — the per-group top-k window shape
    (global top-k lives in join_topn_customers). One shuffle on the group
    key; rank state is O(k) per group under AQE."""
    # no key, no rank position: doc_id is the determinism tiebreak, and
    # a NULL id has none (the engines also disagree on NULL sort
    # position; two NULL-id ties would be unstable in BOTH)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("source", "rk", "doc_id", "n_chars")
    )


SQL_TOPK_PER_GROUP = """
SELECT source, CAST(rk AS INT) AS rk, doc_id, n_chars FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents WHERE doc_id IS NOT NULL
) WHERE rk <= 3
"""


# --------------------------------------------------------------------------
# robust_outliers — median/MAD outlier flags (anomaly-detection adjacent)
# --------------------------------------------------------------------------

def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts per event_type: median + MAD (median absolute
    deviation), outlier = deviation > 3*MAD (+1e-9 margin so a 1-ulp
    cross-engine difference in the interpolated medians can't flip a
    boundary row). Two grouped exact-percentile passes with broadcast
    joins back — the same two-pass agg+broadcast shape as T1 scaling; at
    100 TB swap exact percentile for approx_percentile and keep the plan.
    Thematically this is the reference's anomaly machinery (T4,
    main.py:606-641) inverted: detection instead of injection."""
    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(dev, 0.5)").alias("mad"))
    flagged = dev.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("dev") > 3 * F.col("mad") + 1e-9).cast("long")).alias("n_outliers"),
            F.round(F.first("med"), 4).alias("med"),
            F.round(F.first("mad"), 4).alias("mad"),
        )
    )


SQL_ROBUST_OUTLIERS = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, abs(e.value - m.med) AS dev, m.med
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN d.dev > 3 * m.mad + 1e-9 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(any_value(d.med), 4) AS med, round(any_value(m.mad), 4) AS mad
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


# --------------------------------------------------------------------------
# grouping_sets_parts — explicit GROUPING SETS (completes rollup/cube trio)
# --------------------------------------------------------------------------

def q_grouping_sets_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by part brand, by part type, and grand total in ONE pass —
    explicit GROUPING SETS with grouping_id to tag each stratum (rollup
    and cube live in rollup_pricing / cube_events; this is the third
    member). part is broadcast into lineitem; the grouping-sets expand
    happens after the join, so lineitem is scanned once. First use of the
    driver's `part` table."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    j.createOrReplaceTempView("part_rev")
    return spark.sql("""
        SELECT p_brand, p_type, grouping__id AS gid,
               round(sum(rev), 2) AS revenue, count(*) AS n_items
        FROM part_rev
        GROUP BY GROUPING SETS ((p_brand), (p_type), ())
    """)


SQL_GROUPING_SETS = """
SELECT p_brand, p_type,
       CAST(grouping(p_brand) * 2 + grouping(p_type) AS BIGINT) AS gid,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY GROUPING SETS ((p_brand), (p_type), ())
-- pins the empty relation to Spark semantics (no grand-total row);
-- no-op on non-empty input — see SQL_CUBE_EVENTS
HAVING count(*) > 0
"""


# --------------------------------------------------------------------------
# interpolate_gaps — linear interpolation over missing time slots
# --------------------------------------------------------------------------

def q_interpolate_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap repair beyond the reference's zero-fill (T6): build a sparse
    per-type minute-slot series from events (only slots with traffic),
    expand to the full grid, and LINEARLY INTERPOLATE interior gaps from
    the nearest observed neighbors (edges hold the boundary value). Window
    functions only — running frames in both directions (see
    operators/interpolate.py) — so it shuffles once on the series key. At
    100 TB the grid join prunes to each series' own slot range first."""
    from amazon_macie_activity_generator_spark.operators.interpolate import (
        expand_grid,
        interpolate_linear,
    )

    events = load_table(spark, sf_dir, "events")
    slot = (F.unix_timestamp("ts") / 60).cast("long")
    # NB: no pre-round here — interpolating between 4-dp rationals lands
    # on exact .00005 boundaries where the engines' round modes disagree;
    # raw double sums interpolate boundary-free and round once at the end
    sparse = (
        events.groupBy(F.col("event_type").alias("series_id"), slot.alias("t"))
        .agg(F.sum("value").alias("value"))
    )
    filled = interpolate_linear(expand_grid(sparse))
    # round_fixed, NOT round(): interpolants between 2-decimal endpoints
    # land exactly on .xxxx5 where the engines' round() modes disagree;
    # the helper is the same IEEE arithmetic in both engines and guards
    # Spark floor()'s silent int64 saturation past |v| ~9.2e14.
    from amazon_macie_activity_generator_spark.functions.rounding import round_fixed

    return filled.select(
        "series_id", "t",
        round_fixed(F.col("value"), 4).alias("value"),
        "was_gap",
    )


SQL_INTERPOLATE = f"""
WITH sparse AS (
  SELECT event_type AS series_id,
         -- trunc twice, mirroring Spark exactly: unix_timestamp is
         -- trunc-toward-zero epoch seconds (NOT floor — they differ on
         -- pre-epoch fractional timestamps), then /60 cast long truncates
         CAST(trunc(trunc(epoch(ts)) / 60) AS BIGINT) AS t,
         sum(value) AS value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT series_id, min(t) AS t0, max(t) AS t1 FROM sparse GROUP BY series_id
), grid AS (
  -- span cap mirrors operators/interpolate.py MAX_GRID_SLOTS: one
  -- corrupt far-future timestamp must not explode the per-series grid
  SELECT series_id, unnest(range(t0, least(t1, t0 + {MAX_GRID_SLOTS} - 1) + 1)) AS t FROM bounds
), full_grid AS (
  SELECT g.series_id, g.t, s.value FROM grid g
  LEFT JOIN sparse s ON g.series_id = s.series_id AND g.t = s.t
), neighbors AS (
  SELECT series_id, t, value,
    last_value(value IGNORE NULLS) OVER
      (PARTITION BY series_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
    first_value(value IGNORE NULLS) OVER
      (PARTITION BY series_id ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
    last_value(CASE WHEN value IS NOT NULL THEN t END IGNORE NULLS) OVER
      (PARTITION BY series_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
    first_value(CASE WHEN value IS NOT NULL THEN t END IGNORE NULLS) OVER
      (PARTITION BY series_id ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
  FROM full_grid
)
, interp AS (
  SELECT series_id, t,
         CASE WHEN value IS NOT NULL THEN value
              WHEN prev_v IS NULL THEN next_v
              WHEN next_v IS NULL THEN prev_v
              ELSE prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t)
         END AS raw,
         value IS NULL AS was_gap
  FROM neighbors
)
-- round_fixed twin: same IEEE floor arithmetic, same int64-saturation
-- guard as the Spark side (functions/rounding.py)
SELECT series_id, t,
       {sql_round_fixed('raw', 4)} AS value,
       was_gap
FROM interp
"""


# --------------------------------------------------------------------------
# streaming_join — watermarked stream-stream interval join
# --------------------------------------------------------------------------

def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds: clicks joined to
    the purchases that follow within 1 hour for the same user, both sides
    watermarked 2 hours so join state is GC-ed as event time advances —
    the canonical funnel join. The equality key (user_id) hash-partitions
    both streams; the time bound caps per-key state, so state size is
    O(events per user per watermark horizon) regardless of total volume.
    Oracle: the identical batch join in DuckDB (stream and batch engines
    must agree on the drained result)."""
    import os
    import shutil
    import tempfile
    import uuid

    events = load_table(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="amag_ssjoin_")
    try:
        src = os.path.join(work, "src")
        events.write.parquet(src)

        def side(event_type: str, prefix: str) -> DataFrame:
            return (
                spark.readStream.schema(events.schema).parquet(src)
                .filter(F.col("event_type") == event_type)
                .select(
                    F.col("user_id").alias(f"{prefix}_user"),
                    F.col("event_id").alias(f"{prefix}_id"),
                    F.col("ts").alias(f"{prefix}_ts"),
                )
                .withWatermark(f"{prefix}_ts", "2 hours")
            )

        clicks, buys = side("click", "c"), side("purchase", "p")
        joined = clicks.join(
            buys,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        name = "ssjoin_" + uuid.uuid4().hex[:8]
        q = (
            joined.select(
                F.col("c_user").alias("user_id"),
                F.col("c_id").alias("click_id"),
                F.col("p_id").alias("purchase_id"),
            )
            .writeStream.format("memory").queryName(name).outputMode("append")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        if q.isActive:
            q.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.table(name)


SQL_STREAMING_JOIN = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


# --------------------------------------------------------------------------
# event_gaps — per-user inter-arrival deltas (lag window)
# --------------------------------------------------------------------------

def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seconds between consecutive events per user, ordered by (ts,
    event_id) for a deterministic tiebreak. First event per user has no
    predecessor and is dropped. Both engines count epoch-second boundary
    crossings (unix_timestamp floor == date_diff('second', ...)), so
    sub-second timestamps compare identically. NULL-ts events are
    excluded (no time, no gap; NULL order keys are unstable in DuckDB's
    parallel window sort)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "event_id", "ts")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")).alias("gap_s"),
        )
    )


SQL_EVENT_GAPS = """
SELECT user_id, event_id, gap_s FROM (
  SELECT user_id, event_id,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap_s
  FROM events WHERE ts IS NOT NULL
) WHERE gap_s IS NOT NULL
"""


# --------------------------------------------------------------------------
# small_qty_revenue — TPC-H Q17 shape (row vs its group's aggregate)
# --------------------------------------------------------------------------

def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from lineitems whose quantity is below 20% of their part's
    average, rolled up per brand (TPC-H Q17 generalized from one brand to
    all). The correlated scalar subquery becomes an aggregate + equi-join
    on l_partkey; the part dimension is broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    th = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_th")
    )
    small = li.join(th, "l_partkey").filter(F.col("l_quantity") < F.col("qty_th"))
    return (
        small.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            small["l_partkey"] == part["p_partkey"],
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        )
    )


SQL_SMALL_QTY_REVENUE = """
WITH th AS (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_th
  FROM lineitem GROUP BY l_partkey
)
SELECT p_brand,
       count(*) AS n_lines,
       round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN th USING (l_partkey)
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_quantity < th.qty_th
GROUP BY p_brand
"""


# --------------------------------------------------------------------------
# large_orders — TPC-H Q18 shape (HAVING filter, join back to header)
# --------------------------------------------------------------------------

def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total lineitem quantity exceeds 250 (TPC-H Q18's
    large-volume-customer shape). The aggregate side shrinks to a handful
    of keys after the HAVING filter, so AQE turns the join back to the
    order header into a broadcast. sum_qty is a sum of integral doubles —
    bit-exact cross-engine, so the > 250 boundary is deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return orders.join(big, orders["o_orderkey"] == big["l_orderkey"]).select(
        "o_orderkey", "o_custkey", "o_totalprice", "sum_qty"
    )


SQL_LARGE_ORDERS = """
SELECT o_orderkey, o_custkey, o_totalprice, sum_qty
FROM orders
JOIN (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
) big ON o_orderkey = big.l_orderkey
"""


# --------------------------------------------------------------------------
# hourly_activity_spine — calendar-grain zero-fill (T6's wall-clock twin)
# --------------------------------------------------------------------------

# ~11.4 years of hourly slots; driver data spans ~6 days. See the
# builder docstring — a guard rail against corrupt timestamps, mirrored
# verbatim in the oracle.
_MAX_SPINE_HOURS = 100_000


def q_hourly_activity_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hour x event_type grid with zero-filled counts — the
    calendar-grain twin of the reference's slot-index zero-fill
    (operators/align.py, main.py:686-696): reporting spines must show
    silent hours as 0, not as missing rows. The spine is sequence() over
    the min..max hour (one tiny single-row aggregate), cross-joined with
    the distinct types (both broadcast); the only data-sized work is the
    hourly pre-aggregate the spine left-joins against.

    The span is capped to the TRAILING _MAX_SPINE_HOURS hours: one
    corrupt timestamp (year 9999 / 1900) would otherwise make sequence()
    build a ~71M-element array in one task and kill the job. Guard
    semantics, not a feature — quarantine wild timestamps upstream
    (events_time_gate) for a full-fidelity spine."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    lo = F.greatest(
        F.col("lo"), F.col("hi") - F.expr(f"INTERVAL {_MAX_SPINE_HOURS} HOURS")
    )
    spine = bounds.select(
        F.explode(F.sequence(lo, F.col("hi"), F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    daily = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.crossJoin(F.broadcast(types))
        .join(F.broadcast(daily), ["hour", "event_type"], "left")
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


SQL_HOURLY_SPINE = f"""
WITH b AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
), spine AS (
  -- trailing-window span cap mirrors the builder's _MAX_SPINE_HOURS guard
  SELECT unnest(generate_series(
    greatest(lo, hi - INTERVAL {_MAX_SPINE_HOURS} HOURS), hi,
    INTERVAL 1 HOUR)) AS hour
  FROM b
), types AS (
  SELECT DISTINCT event_type FROM events
), hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT strftime(hour, '%Y-%m-%d %H:00') AS hour, event_type,
       coalesce(n, 0) AS n_events
FROM spine CROSS JOIN types
LEFT JOIN hourly USING (hour, event_type)
"""


# --------------------------------------------------------------------------
# mom_revenue_change — aggregate-then-window composition
# --------------------------------------------------------------------------

def q_mom_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue deltas: aggregate orders to months, then
    lag() over the (tiny) aggregate — the standard two-stage analytic
    composition. The window runs over ~80 month rows, so the
    SinglePartition sort is a non-issue at any scale (the data-sized work
    is the partial-aggregated month rollup).

    NULL order dates are excluded (no date, no month — the corpus-wide
    time rule): a NULL month key in the lag window is ordered NULLS
    FIRST by Spark and — observed — UNSTABLY by DuckDB's parallel
    window sort (NULLS LAST on most runs, FIRST on others within one
    connection), so keeping it makes the oracle comparison flaky."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    monthly = (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w = Window.orderBy("month")
    return (
        monthly.withColumn("prev_rev", F.lag("rev").over(w))
        .filter(F.col("prev_rev").isNotNull())
        .select(
            F.date_format("month", "yyyy-MM").alias("month"),
            F.round("rev", 2).alias("revenue"),
            F.round((F.col("rev") - F.col("prev_rev")) / F.col("prev_rev") * 100, 4)
            .alias("pct_change"),
        )
    )


SQL_MOM_REVENUE = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month, sum(o_totalprice) AS rev
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
), lagged AS (
  SELECT month, rev, lag(rev) OVER (ORDER BY month) AS prev_rev FROM monthly
)
SELECT strftime(month, '%Y-%m') AS month,
       round(rev, 2) AS revenue,
       round((rev - prev_rev) / prev_rev * 100, 4) AS pct_change
FROM lagged WHERE prev_rev IS NOT NULL
"""


# --------------------------------------------------------------------------
# fuzzy_name_pairs — blocked Levenshtein similarity join (entity resolution)
# --------------------------------------------------------------------------

def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical part names via edit distance, blocked on
    (p_type, p_size) so the quadratic comparison runs inside small blocks
    (max ~16 members per block at sf0.01) instead of all 2000^2 pairs —
    the classic entity-resolution blocking strategy; at 100 TB the block
    key is the unit of shuffle and no block is bigger than a task.
    levenshtein() is JVM-side; the p_partkey < ordering dedups mirror
    pairs.

    Scale audit (r13, measured at sf1): 300 blocks of ~667 members,
    66M candidate pairs, 9.9M qualifying (15%%) — the entry is
    OUTPUT-bound, not comparison-bound. A/B at sf1: threshold
    levenshtein (banded O(k*n)) and a length-band second blocking key
    (|len diff| > 4 implies distance > 4, so banding at width 9 with
    adjacent-band emission is semantics-free) both measured within
    noise of the plain form because the synthetic names are
    near-uniform length — kept plain. On real corpora with varied
    name lengths the length-band key is the first lever when block
    membership grows past task size.

    ASCII gate (r7): the cross-checked surface is printable-ASCII names
    only — Spark's levenshtein counts CODEPOINTS while DuckDB's counts
    BYTES ('prö' vs 'pro' is 1 vs 2), so unicode edit distance cannot be
    pinned across engines. Non-ASCII names must be transliterated
    upstream (the engine itself handles them fine; this is the oracle
    contract boundary, found by the degenerate-parts sweep). NULL names
    drop out of the <= 4 filter in both engines already. Anchored with
    \\z, not $: Java's $ matches BEFORE a final line terminator while
    RE2's matches only at end of text, so 'name\\n' would pass the Spark
    gate but fail the oracle's."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_type", "p_size"
    ).filter(F.col("p_name").rlike(r"^[\x20-\x7E]*\z"))
    # r13 (guide §2.5 input skew): the part table is ONE input split
    # locally, and with the block side broadcast the whole quadratic
    # levenshtein loop ran on that single scan task. Spread the stream
    # side only (spread_small_scan is a no-op at real scale, where the
    # scan itself provides the splits); the broadcast side stays the raw
    # scan — no spread shuffle on a table that is about to be collected
    # anyway. Measured min-of-3 at sf0.1: 1.02 -> 0.22 s.
    a = spread_small_scan(part, "p_partkey").select(
        F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"),
        "p_type", "p_size",
    )
    b = part.select(
        F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b"),
        "p_type", "p_size",
    )
    return (
        a.join(F.broadcast(b), ["p_type", "p_size"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("edit_dist") <= 4)
        .select("key_a", "key_b", "edit_dist")
    )


SQL_FUZZY_NAME_PAIRS = """
-- printable-ASCII gate mirrors the Spark side: DuckDB levenshtein is
-- byte-based, Spark's is codepoint-based — unicode names are out of the
-- pinned contract (transliterate upstream)
WITH pt AS (
  SELECT p_partkey, p_name, p_type, p_size FROM part
  WHERE regexp_matches(p_name, '^[\\x20-\\x7E]*\\z')
)
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       levenshtein(a.p_name, b.p_name) AS edit_dist
FROM pt a JOIN pt b
  ON a.p_type = b.p_type AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 4
"""


# --------------------------------------------------------------------------
# rolling_time_window — RANGE-frame window over event time
# --------------------------------------------------------------------------

def q_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity in the preceding hour, per event: a time-based
    RANGE frame (complements rolling_stats' ROWS frames). Both engines
    order the frame by integer epoch seconds (unix_timestamp floor ==
    floor(epoch(ts))), so the 3600-second boundary and peer-row grouping
    are bit-identical despite microsecond timestamps. One hash shuffle on
    user_id; the frame is a running window, never re-aggregated per row.
    NULL-ts events are excluded (no time, no frame position — and a NULL
    window order key is placed UNSTABLY by DuckDB's parallel sort)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 4).alias("sum_1h"),
    )


SQL_ROLLING_TIME_WINDOW = """
SELECT event_id, user_id,
       count(*) OVER w AS n_1h,
       round(sum(value) OVER w, 4) AS sum_1h
FROM events
WHERE ts IS NOT NULL
WINDOW w AS (
  PARTITION BY user_id
  -- trunc, not floor: Spark's unix_timestamp truncates toward zero, so
  -- a PRE-EPOCH fractional second (-0.000001) is key 0 in Spark but
  -- floor would say -1 — the engines diverge on any pre-1970 timestamp
  ORDER BY CAST(trunc(epoch(ts)) AS BIGINT)
  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
)
"""


# --------------------------------------------------------------------------
# event_funnel — ordered-step conversion counts
# --------------------------------------------------------------------------

def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase: per user, the first view,
    the first click strictly after it, the first purchase strictly after
    that; emit per-stage converted-user counts. One user-keyed shuffle:
    the three stage timestamps come from conditional aggregation over a
    single grouped pass (min(ts) FILTER per type, then the ordered
    chaining is two scalar comparisons on the one-row-per-user frame) —
    no self-joins, no window cascade. Counts are exact integers, so the
    oracle matches bit-for-bit. NULL-ts events cannot take part in an
    ordered funnel and are excluded (oracle mirrors)."""
    events = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v_ts")
    )
    # the first click AFTER the first view needs the conditional min keyed
    # on the view time — a second grouped pass joined back would shuffle
    # twice; instead re-aggregate with the view time broadcast via a join
    # on user_id (both sides already hash-partitioned on user_id -> the
    # second exchange is elided by Catalyst's output-partitioning reuse)
    v = per_user.select("user_id", "v_ts")
    c = (
        events.join(v, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("v_ts")))
        .groupBy("user_id").agg(F.min("ts").alias("c_ts"))
    )
    p = (
        events.join(c, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_ts")))
        .groupBy("user_id").agg(F.min("ts").alias("p_ts"))
    )
    stages = per_user.join(c, "user_id", "left").join(p, "user_id", "left")
    # coalesce(.., 0): on an EMPTY relation the global agg emits one row
    # with NULL sums, while the oracle's count(..) emits 0 — the only
    # input where the two differ
    zsum = lambda col, name: F.coalesce(  # noqa: E731
        F.sum(F.col(col).isNotNull().cast("long")), F.lit(0)
    ).alias(name)
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        zsum("v_ts", "viewed"),
        zsum("c_ts", "clicked_after_view"),
        zsum("p_ts", "purchased_after_click"),
    )


SQL_EVENT_FUNNEL = """
WITH ev AS (
  -- no time, no timeline: NULL-ts events take no part in the funnel
  SELECT * FROM events WHERE ts IS NOT NULL
), v AS (
  SELECT user_id, min(ts) AS v_ts FROM ev WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS c_ts
  FROM ev e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.v_ts
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS p_ts
  FROM ev e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
  GROUP BY e.user_id
), u AS (SELECT DISTINCT user_id FROM ev)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST((SELECT count(*) FROM v) AS BIGINT) AS viewed,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS clicked_after_view,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS purchased_after_click
FROM u
"""


# --------------------------------------------------------------------------
# retention_cohorts — first-seen cohort x day-offset matrix
# --------------------------------------------------------------------------

def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity date, counted by
    how many distinct users of each cohort return k days later. Two
    shuffles — the per-user min (user-keyed) and the cohort x offset
    distinct count (cohort-keyed); day offsets capped at 7 to keep the
    matrix narrow."""
    events = load_table(spark, sf_dir, "events")
    first = events.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort")
    )
    acts = events.select("user_id", F.date_trunc("day", "ts").alias("day"))
    j = acts.join(first, "user_id").withColumn(
        "day_offset",
        F.datediff(F.col("day"), F.col("cohort")).cast("long"),
    ).filter(F.col("day_offset") <= 7)
    return (
        j.groupBy(F.date_format("cohort", "yyyy-MM-dd").alias("cohort"), "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


SQL_RETENTION = """
WITH first AS (
  SELECT user_id, date_trunc('day', min(ts)) AS cohort FROM events GROUP BY user_id
), acts AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
)
SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
       CAST(date_diff('day', f.cohort, a.day) AS BIGINT) AS day_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
FROM acts a JOIN first f USING (user_id)
WHERE date_diff('day', f.cohort, a.day) <= 7
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# streaming_left_join — watermarked LEFT OUTER stream-stream join
# --------------------------------------------------------------------------

def q_streaming_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer stream-stream funnel join: every click, matched to the
    purchases that follow within 1 hour for the same user; clicks with no
    purchase emit a null-padded row once the watermark proves no match
    can still arrive. The subtlety the oracle must state: the global
    watermark is the MINIMUM over both sides' watermark nodes, and each
    side computes it from its own post-filter max event time — so a
    click's outer row emits iff click_ts + 1h <= least(max click ts, max
    purchase ts) - 2h, not max(ts) overall. availableNow's final no-data
    microbatch advances the watermark and flushes the evicted state.
    Nulls are coalesced to -1 (with a `matched` flag) so both engines
    hash identically. Inner twin: q_streaming_join."""
    import os
    import shutil
    import tempfile
    import uuid

    events = load_table(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="amag_lojoin_")
    try:
        src = os.path.join(work, "src")
        events.write.parquet(src)

        def side(event_type: str, prefix: str) -> DataFrame:
            return (
                spark.readStream.schema(events.schema).parquet(src)
                .filter(F.col("event_type") == event_type)
                .select(
                    F.col("user_id").alias(f"{prefix}_user"),
                    F.col("event_id").alias(f"{prefix}_id"),
                    F.col("ts").alias(f"{prefix}_ts"),
                )
                .withWatermark(f"{prefix}_ts", "2 hours")
            )

        clicks, buys = side("click", "c"), side("purchase", "p")
        joined = clicks.join(
            buys,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
            "left_outer",
        )
        name = "lojoin_" + uuid.uuid4().hex[:8]
        q = (
            joined.select(
                F.col("c_user").alias("user_id"),
                F.col("c_id").alias("click_id"),
                F.coalesce(F.col("p_id"), F.lit(-1)).alias("purchase_id"),
                F.col("p_id").isNotNull().alias("matched"),
            )
            .writeStream.format("memory").queryName(name).outputMode("append")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        if q.isActive:
            q.stop()
    finally:
        # the memory sink holds the drained rows; the parquet copy and
        # checkpoint are dead weight once the query terminates
        shutil.rmtree(work, ignore_errors=True)
    return spark.table(name)


SQL_STREAMING_LEFT_JOIN = """
WITH c AS (
  SELECT user_id, event_id AS cid, ts AS cts FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, event_id AS pid, ts AS pts FROM events WHERE event_type = 'purchase'
), wm AS (
  -- Spark's watermark tracker advances at millisecond precision, so the
  -- oracle truncates each side's max event time to ms before taking the
  -- min-across-sides global watermark.
  SELECT least((SELECT date_trunc('milliseconds', max(cts)) FROM c),
               (SELECT date_trunc('milliseconds', max(pts)) FROM p))
         - INTERVAL 2 HOUR AS w
)
SELECT c.user_id, c.cid AS click_id, p.pid AS purchase_id, TRUE AS matched
FROM c JOIN p
  ON c.user_id = p.user_id AND p.pts >= c.cts AND p.pts < c.cts + INTERVAL 1 HOUR
UNION ALL
SELECT c.user_id, c.cid, -1, FALSE
FROM c, wm
WHERE c.cts + INTERVAL 1 HOUR <= wm.w
  AND NOT EXISTS (
    SELECT 1 FROM p
    WHERE p.user_id = c.user_id AND p.pts >= c.cts AND p.pts < c.cts + INTERVAL 1 HOUR
  )
"""


# --------------------------------------------------------------------------
# markov_transitions — next-event transition matrix
# --------------------------------------------------------------------------

def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition counts and conditional probabilities over
    each user's time-ordered event sequence ((ts, event_id) is a total
    order, so lag() is deterministic). The result is |types|^2 rows at
    most: the user-keyed window shuffle dominates and the count is
    map-side combinable; prob denominators come from a window over the
    tiny counted frame, not a second pass over events."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    # no time, no timeline: NULL-ts events are excluded (oracle mirrors)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("prob"),
    )


SQL_MARKOV_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events WHERE ts IS NOT NULL
), trans AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       round(n / sum(n) OVER (PARTITION BY prev_type), 6) AS prob
FROM trans
"""


# --------------------------------------------------------------------------
# session_paths — top entry paths (first three events per user)
# --------------------------------------------------------------------------

def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-three-event paths: each user's first three event types in
    (ts, event_id) order, joined with '>' into a path string, counted
    across users. Users with fewer than three events are excluded (their
    truncated paths would conflate with genuine short journeys). The
    rank-3 filter happens before the path shuffle, so the count stage
    sees three rows per user, not the full event history."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    # no time, no timeline: NULL-ts events are excluded (oracle mirrors)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first3 = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
    paths = (
        first3.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.concat_ws(
                ">",
                F.max(F.when(F.col("rn") == 1, F.col("event_type"))),
                F.max(F.when(F.col("rn") == 2, F.col("event_type"))),
                F.max(F.when(F.col("rn") == 3, F.col("event_type"))),
            ).alias("path"),
        )
        .filter(F.col("k") == 3)
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(20)
    )


SQL_SESSION_PATHS = """
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE ts IS NOT NULL
), first3 AS (
  SELECT user_id,
         count(*) AS k,
         max(CASE WHEN rn = 1 THEN event_type END) || '>' ||
         max(CASE WHEN rn = 2 THEN event_type END) || '>' ||
         max(CASE WHEN rn = 3 THEN event_type END) AS path
  FROM ranked WHERE rn <= 3
  GROUP BY user_id
)
SELECT path, count(*) AS n_users
FROM first3 WHERE k = 3
GROUP BY path
ORDER BY n_users DESC, path
LIMIT 20
"""


# --------------------------------------------------------------------------
# ntile_bins — equi-depth histogram per event type
# --------------------------------------------------------------------------

def q_ntile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth quartiles of ``value`` per event type: ntile(4) over the
    total order (value, event_id) — the tiebreak makes bin assignment
    deterministic and identical across engines (both implement SQL ntile's
    floor/remainder split). Per-bin stats are exact except the mean, which
    is rounded to 6 dp to absorb summation-order jitter. NULL values are
    excluded before binning (a quantile of NULL is meaningless, and the
    engines default to opposite NULL placement in ORDER BY — Spark first,
    DuckDB last)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.filter(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
        .withColumn("bin", F.ntile(4).over(w))
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
            F.round(F.avg("value"), 6).alias("mean_value"),
        )
    )


SQL_NTILE_BINS = """
SELECT event_type, bin, count(*) AS n,
       round(min(value), 6) AS lo,
       round(max(value), 6) AS hi,
       round(avg(value), 6) AS mean_value
FROM (
  SELECT event_type, value,
         CAST(ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id)
              AS INT) AS bin
  FROM events WHERE value IS NOT NULL
)
GROUP BY event_type, bin
"""


# --------------------------------------------------------------------------
# copurchase_pairs — item-item co-occurrence graph projection
# --------------------------------------------------------------------------

def _order_part_pairs(li: DataFrame) -> DataFrame:
    """One row per (order, unordered part pair): (p1, p2) with p1 < p2
    for every order containing both parts — the multiset the three
    co-purchase graph queries previously built as
    ``op JOIN op ON l_orderkey`` over the distinct (order, part)
    projection.

    r13 (guide §2.4): the self-join planned as TWO parquet scans + TWO
    distinct-aggregate shuffles of the same projection feeding a
    broadcast/sort-merge join. ``collect_set`` per order is the same
    dedup as ``dropDuplicates`` (l_partkey is non-null in this schema)
    in ONE scan + ONE order-keyed shuffle with map-side partial
    aggregation, and the C(w, 2) pair fan-out happens in-task over the
    sorted set (w <= 7 in TPC-H-shaped data, so the explode is O(1) per
    order). At 100 TB this halves the scans and shuffles AND removes the
    join: the old plan's broadcast side was op itself — order-count
    sized, un-broadcastable at scale, where it would degrade to a
    sort-merge join shuffling the projection a third time."""
    return (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS p1, y AS p2))))"
                )
            ).alias("pr")
        )
        .select("pr.p1", "pr.p2")
    )


def _order_part_pairs_sym(li: DataFrame) -> DataFrame:
    """Both directions of every per-order unordered part pair:
    (src, dst) AND (dst, src) — the symmetric edge multiset pagerank
    and triangle_count previously built as
    ``pairs UNION ALL reversed(pairs)``.

    r14 (guide §2.4): that Union planned the ``_order_part_pairs``
    subtree TWICE — two parquet scans and two order-keyed
    ObjectHashAggregate exchanges feeding the same downstream dedup
    (pagerank job timeline showed the two gathers as back-to-back ~1.5 s
    cache-fill jobs). Emitting struct(x,y) and struct(y,x) from the SAME
    in-task C(w,2) explode produces the identical multiset — each
    unordered pair of each order exactly once per direction — with ONE
    scan and ONE gather shuffle; at 100 TB this halves the heaviest scan
    and shuffle of the graph family."""
    return (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "flatten(transform(slice(ps, i + 2, size(ps)), "
                    "y -> array(struct(x AS src, y AS dst), "
                    "struct(y AS src, x AS dst))))))"
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )


def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part pairs by number of orders containing both: per-order
    distinct-part pair explode (``_order_part_pairs``), then a
    map-side-combinable pair count and a TakeOrdered top-20. Fan-out per
    order is C(width, 2) with width <= 7 in this schema, so pair
    generation stays linear in lineitem count; at 100 TB the order-keyed
    shuffle is the only data movement."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        _order_part_pairs(li)
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("p1"), F.asc("p2"))
        .limit(20)
    )


SQL_COPURCHASE_PAIRS = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
FROM op a JOIN op b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY n_orders DESC, p1, p2
LIMIT 20
"""


# --------------------------------------------------------------------------
# pagerank_copurchase — iterative PageRank over the co-purchase graph
# --------------------------------------------------------------------------

def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three unrolled PageRank iterations (d = 0.85) over the undirected
    part co-purchase graph: nodes are parts, edges connect parts sharing
    an order. Each iteration is the canonical distributed step — join
    ranks onto edges by source node, send rank/degree along each edge,
    sum per destination — i.e. one hash join + one map-side-combinable
    aggregation per iteration, never an adjacency matrix. Ranks are
    rounded to 12 dp at every iteration in BOTH engines so double
    summation-order jitter (~1e-16) can't accumulate across iterations;
    the output is rounded to 6. Dangling nodes don't exist here (an
    undirected edge gives both endpoints degree >= 1). Top-20 by rank
    with node-id tiebreak."""
    d = 0.85
    li = load_table(spark, sf_dir, "lineitem")
    begin_scope("pagerank_copurchase", spark)
    edges = scoped_persist(
        _order_part_pairs_sym(li)
        .repartition("src")
        .dropDuplicates(),
        # (r13: a sortWithinPartitions("src") sorted-persist was measured
        # here and REVERTED — the contribution join plans as a
        # BroadcastHashJoin of the node-sized rank table over the cached
        # edges, so no edge-side sort exists to skip and the build-time
        # sort was pure cost.)
        "pagerank_copurchase",
    )  # symmetric by construction (each unordered pair emitted in both
    # directions before the dedup — identical to the old src != dst
    # self-join's edge set); persisted AND hash-partitioned on src:
    # the cached partitioning is reused by the degree aggregate and by
    # every iteration's contribution join, so each iteration shuffles
    # only the node-sized rank table, never the edge list (measured
    # ~30% faster at sf0.1; at cluster scale this is the difference
    # between shuffling E and shuffling V per iteration).
    # repartition BEFORE dropDuplicates: HashPartitioning(src) satisfies
    # the (src, dst) clustered distribution the dedup aggregate needs
    # (same src => same partition), so the dedup runs on the repartition
    # exchange directly — one edge-list shuffle instead of two.
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("node"), "deg")
    n = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", "deg", "n_nodes",
        F.round(F.lit(1.0) / F.col("n_nodes"), 12).alias("rank"),
    )
    # No rank-table persist (r13, guide §2.4/§5): the seed and every
    # iteration's rank frame have exactly ONE consumer — the next
    # iteration's broadcast build (the final frame: the top-20 sort) —
    # so with a single terminal action nothing is ever recomputed and
    # each scoped_persist only added a cache-fill materialization.
    # Measured (interleaved, deterministic plan metrics): 21 -> 16
    # jobs, 58 -> 43 stages, 1477 -> 1132 tasks, 56.7 -> 53.1 MB
    # shuffle write for the identical result. The 3-deep lineage stays
    # cheap to analyze because the iteration count is FIXED;
    # data-dependent convergence loops (operators/dedup.py label
    # propagation) still need their checkpoint form, and `edges` stays
    # persisted — it has four consumers (deg + three iteration joins).
    #
    # r13 (guide §2.4): the separate rank-UPDATE join is gone. The old
    # step joined contributions back onto the rank table (LeftOuter,
    # V-sized both sides — a Sort+Exchange pair per iteration, and the
    # cached rank table re-shuffled each time). In THIS graph the gather
    # side can rebuild the whole rank row itself: edges are symmetric,
    # so every node has >= 1 incoming edge and appears in the gather
    # (the old left join's NULL branch was dead code), each (src, dst)
    # is distinct so count(*) per dst IS deg(dst), and n_nodes rides
    # the contribution rows. One keyed join + one map-side-combinable
    # aggregation per iteration — nothing else. Identical math, same
    # 12-dp round per iteration (float-sum order inside sum(c) is the
    # same partition-order jitter the round already absorbs).
    # r14 (guide §1/§3.1): an explicit F.broadcast on the rank side was
    # measured and REVERTED. The unhinted plan broadcasts the CACHED
    # EDGE LIST (BuildLeft) — which looks inverted (E = 2.39M rows vs
    # V = 20k at sf0.1) but wins because the identical edge broadcast
    # is built ONCE and reused by all three iterations (ReusedExchange),
    # while a broadcast rank table differs per iteration and forces
    # three sequential non-reusable broadcast builds of the full
    # iteration lineage (measured: 8.3 s -> 10.4 s, 14 -> 17 jobs).
    # At cluster scale the planner's size estimate flips the build side
    # to the V-sized rank table on its own — exactly the case the
    # estimate-driven default handles and a hint would pin wrongly.
    for _ in range(3):
        ranks = (
            edges.join(
                ranks.select(
                    F.col("node").alias("src"),
                    (F.col("rank") / F.col("deg")).alias("c"),
                    "n_nodes",
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.count(F.lit(1)).alias("deg"),
                F.max("n_nodes").alias("n_nodes"),
                F.round(
                    (1.0 - d) / F.max("n_nodes") + d * F.sum("c"), 12
                ).alias("rank"),
            )
        )
    out = (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
    )
    return out


SQL_PAGERANK_COPURCHASE = """
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS MATERIALIZED (
  -- r10: MATERIALIZED — without it DuckDB inlines this DISTINCT
  -- self-join into every iteration's contribution join, rebuilding the
  -- edge list four times over; at sf1 that spilled >70 GB and died
  -- while Spark's persisted-edge plan ran the same graph in 27 s
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), deg AS MATERIALIZED (
  SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1
), n AS (SELECT count(*) AS n_nodes FROM deg),
r0 AS MATERIALIZED (
  SELECT node, deg, n.n_nodes, round(1.0 / n.n_nodes, 12) AS rank
  FROM deg CROSS JOIN n
),
r1 AS MATERIALIZED (
  SELECT r.node, r.deg, r.n_nodes,
         round(0.15 / r.n_nodes + 0.85 * coalesce(i.inbound, 0.0), 12) AS rank
  FROM r0 r LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / r.deg) AS inbound
    FROM edges e JOIN r0 r ON e.src = r.node GROUP BY 1
  ) i USING (node)
),
r2 AS MATERIALIZED (
  SELECT r.node, r.deg, r.n_nodes,
         round(0.15 / r.n_nodes + 0.85 * coalesce(i.inbound, 0.0), 12) AS rank
  FROM r1 r LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / r.deg) AS inbound
    FROM edges e JOIN r1 r ON e.src = r.node GROUP BY 1
  ) i USING (node)
),
r3 AS MATERIALIZED (
  SELECT r.node, r.deg, r.n_nodes,
         round(0.15 / r.n_nodes + 0.85 * coalesce(i.inbound, 0.0), 12) AS rank
  FROM r2 r LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / r.deg) AS inbound
    FROM edges e JOIN r2 r ON e.src = r.node GROUP BY 1
  ) i USING (node)
)
SELECT node, round(rank, 6) AS rank
FROM r3
ORDER BY rank DESC, node
LIMIT 20
"""


# --------------------------------------------------------------------------
# triangle_count — graph-motif census on the co-purchase graph
# --------------------------------------------------------------------------

def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census over the part co-purchase graph with DEGREE-ORIENTED
    edges: each undirected edge points from its lower-degree endpoint to
    the higher-degree one (id tiebreak), then join edges (a,b)+(b,c) and
    verify (a,c) — the standard O(m^1.5) construction (node-iterator++ /
    Cohen's MapReduce form). Orientation counts each triangle exactly
    once; degree orientation bounds every node's out-degree by O(sqrt(m)),
    so a power-law hub of degree d no longer yields O(d^2) wedges — the
    property id-orientation lacks. Fully lazy: the three census counts
    are single-row aggregates combined with broadcast cross-joins, so
    building the DataFrame costs nothing (plan inspection / bench setup
    stay cheap) and the triangle total is orientation-invariant, matching
    the DuckDB oracle's mirrored orientation.

    Bench note: rounds <= 3 ran the census EAGERLY at build time, so
    BENCH_r03's 3.04 s for this entry measured only a 1-row
    createDataFrame — the real cost (~13 s at sf0.1) hid in the
    unbenched build phase. The lazy form surfaces the full cost in the
    bench timer; the adjacency-intersection closure is what brought the
    honest number down from ~19 s (wedge-shuffle form)."""
    li = load_table(spark, sf_dir, "lineitem")
    begin_scope("triangle_count", spark)
    # Symmetric directed edge list: both directions of every unordered
    # pair in ONE scan + gather (_order_part_pairs_sym, r14), deduped on
    # the one src-keyed exchange (repartition BEFORE dropDuplicates:
    # HashPartitioning(src) satisfies the (src, dst) dedup distribution,
    # so dedup AND the adjacency groupBy below run on that single
    # shuffle).
    sym = (
        _order_part_pairs_sym(li)
        .repartition("src")
        .dropDuplicates()
    )
    # r13 (guide §2.4): orientation WITHOUT the two node-table joins.
    # The old plan attached degrees by joining und with deg twice (four
    # exchanges + a separate deg union-aggregate shuffle). Instead, each
    # node's degree is the SIZE of its own neighbor list, and shipping
    # (src, deg_src) along every exploded edge lets the dst side gather
    # every neighbor's degree next to its own — one edge-sized shuffle
    # replaces deg + both joins. Orientation: edge points from the
    # endpoint with the smaller (degree, id) to the larger, exactly the
    # old `d1 <= d2` rule with the p1 < p2 id tiebreak.
    nbr_deg = (
        sym.groupBy("src")
        .agg(F.collect_list("dst").alias("nbrs"))
        .select("src", F.size("nbrs").alias("d"), F.explode("nbrs").alias("dst"))
    )
    out_adj = scoped_persist(
        nbr_deg.repartition("dst")
        .groupBy("dst")
        .agg(
            F.collect_list(F.struct(F.col("d"), F.col("src").alias("n"))).alias("nd")
        )
        .select(
            F.col("dst").alias("node"),
            F.expr(
                "transform(filter(nd, s -> s.d > size(nd) OR "
                "(s.d = size(nd) AND s.n > dst)), s -> s.n)"
            ).alias("out"),
        ),
        "triangle_count",
    )  # barrier: out-adjacency feeds the node/edge counts AND both tri
    # join sides; degree orientation caps |out| at O(sqrt(m)), so a
    # power-law hub never yields O(d^2) wedges.
    # Edge-iterator with adjacency intersection: triangle x≺y≺z (in the
    # (deg, id) order) is counted once at its lowest edge (x,y) as
    # |out(x) ∩ out(y)|; the intersect is one JVM-side expression and
    # the wedge set (49M rows at sf0.1) never materializes through a
    # shuffle.
    #
    # r14: the oriented edge stream stays NARROW (x, y — 16 B/row) and
    # out(x)/out(y) attach via TWO adjacency joins, instead of carrying
    # out(x) along the explode into one join. The carried form's fat
    # side — E rows × the full ox array ≈ the WEDGE byte volume — got
    # picked as the broadcast build side from pre-materialization
    # estimates (BuildLeft in plans/r14/triangle_count_before.txt) and
    # died at sf1 on the 8 GB broadcast cap
    # (cannotBroadcastTableOverMaxTableBytes; driver memory irrelevant).
    # Here both build-side candidates are the V-sized adjacency (total
    # payload = E longs, ~100x smaller than wedge bytes), broadcastable
    # to any realistic V; at cluster scale where even V outgrows the
    # cap, the planner's SMJ fallback shuffles wedge bytes — expensive
    # but feasible, unlike an over-cap broadcast crash.
    tri_cnt = (
        out_adj.select(F.col("node").alias("x"), F.explode("out").alias("y"))
        .join(out_adj.select(F.col("node").alias("x"), F.col("out").alias("ox")), "x")
        .join(out_adj.select(F.col("node").alias("y"), F.col("out").alias("oy")), "y")
        .select(F.size(F.array_intersect("ox", "oy")).alias("t"))
    )
    # node and edge census in ONE aggregate over the cached adjacency
    # (r13, guide §2.4): the old pair of single-row aggregates scanned
    # out_adj twice and chained TWO broadcast cross-joins — one extra
    # sequential broadcast-build job for the identical two numbers.
    n_ne = out_adj.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.coalesce(F.sum(F.size("out")), F.lit(0)).cast("long").alias("n_edges"),
    )
    n_tri = tri_cnt.agg(
        F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("n_triangles")
    )
    return n_ne.crossJoin(F.broadcast(n_tri))


SQL_TRIANGLE_COUNT = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS (
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT p, count(*) AS d FROM (
    SELECT p1 AS p FROM und UNION ALL SELECT p2 FROM und
  ) GROUP BY 1
), edges AS (
  -- degree orientation, id tiebreak (p1 < p2 already)
  SELECT CASE WHEN d1.d <= d2.d THEN u.p1 ELSE u.p2 END AS src,
         CASE WHEN d1.d <= d2.d THEN u.p2 ELSE u.p1 END AS dst
  FROM und u JOIN deg d1 ON u.p1 = d1.p JOIN deg d2 ON u.p2 = d2.p
), tri AS (
  SELECT count(*) AS n_tri
  FROM edges e1
  JOIN edges e2 ON e1.dst = e2.src
  JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM edges) AS n_edges,
       (SELECT n_tri FROM tri) AS n_triangles
"""


# --------------------------------------------------------------------------
# psi_value_drift — population stability index, early vs late half
# --------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_EPS = 1e-6


def _drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared base population of the drift gates (``psi_value_drift`` /
    ``ks_value_drift``): events projected to (event_type, value, us),
    excluding NULL values (no value, no distribution point — floor/least
    NULL-handling also differs across engines) AND NULL timestamps (no
    time, no half — the corpus-wide time-ordered rule). ONE definition
    so the two gates can never drift apart on who is in the population;
    ``_DUCK_DRIFT_EV`` is the oracle twin."""
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("event_type", "value", F.unix_micros(F.col("ts")).alias("us"))
    )


def _drift_is_early(us=None, tmn=None, tmx=None):
    """The midpoint split predicate, shared by both gates."""
    us = us if us is not None else F.col("us")
    tmn = tmn if tmn is not None else F.col("tmn")
    tmx = tmx if tmx is not None else F.col("tmx")
    return us <= (tmn + tmx) / F.lit(2)


_DUCK_DRIFT_EV = """
  SELECT event_type, value, epoch_us(ts) AS us FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL
"""


def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28 — per-event-type PSI (population stability index) of the
    value distribution between the EARLY and LATE halves of that type's
    time range: 10 equi-width bins over the type's global [min, max],
    PSI = sum over bins of (p_early - p_late) * ln((p_early + eps) /
    (p_late + eps)). The standard drift gate (PSI > 0.2 = significant
    shift) run before refreshing a training set.

    Empty bins count with p = 0 (the eps smoothing keeps ln finite), so
    the bin grid is materialized for every (type, segment, bin) cell —
    built from the |types|-row stats frame, not the stream. Determinism:
    bin edges and the midpoint split use exact min/max aggregates; both
    engines run identical IEEE arithmetic on them.
    """
    ev = _drift_events(spark, sf_dir)  # shared population + NULL policy
    stats = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.min("us").alias("tmn"),
        F.max("us").alias("tmx"),
    )
    j = ev.join(F.broadcast(stats), "event_type")
    seg = F.when(_drift_is_early(), F.lit("early")).otherwise(F.lit("late"))
    width = F.col("mx") - F.col("mn")
    bin_ = (
        F.when(
            width > 0,
            F.least(
                F.floor((F.col("value") - F.col("mn")) / width * _PSI_BINS),
                F.lit(_PSI_BINS - 1),
            ),
        )
        .otherwise(F.lit(0))
        .cast("int")
    )
    counts = (
        j.select("event_type", seg.alias("seg"), bin_.alias("bin"))
        .groupBy("event_type", "seg", "bin")
        .agg(F.count("*").alias("c"))
    )
    # full (type, seg, bin) grid so empty bins enter the PSI sum as p = 0
    grid = (
        stats.select("event_type")
        .select(
            "event_type",
            F.explode(F.array(F.lit("early"), F.lit("late"))).alias("seg"),
        )
        .select(
            "event_type", "seg",
            F.explode(F.sequence(F.lit(0), F.lit(_PSI_BINS - 1))).alias("bin"),
        )
    )
    filled = grid.join(counts, ["event_type", "seg", "bin"], "left").select(
        "event_type", "seg", "bin", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    totals = filled.groupBy("event_type", "seg").agg(F.sum("c").alias("tot"))
    p = filled.join(totals, ["event_type", "seg"]).withColumn(
        "p", F.col("c") / F.greatest(F.col("tot"), F.lit(1))
    )
    wide = p.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("seg") == "early", F.col("p")).otherwise(0.0)).alias("p1"),
        F.sum(F.when(F.col("seg") == "late", F.col("p")).otherwise(0.0)).alias("p2"),
        F.sum(F.when(F.col("seg") == "early", F.col("c")).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("seg") == "late", F.col("c")).otherwise(0)).alias("c2"),
    )
    term = (F.col("p1") - F.col("p2")) * F.log(
        (F.col("p1") + _PSI_EPS) / (F.col("p2") + _PSI_EPS)
    )
    return wide.groupBy("event_type").agg(
        F.sum("c1").alias("n_early"),
        F.sum("c2").alias("n_late"),
        F.round(F.sum(term), 6).alias("psi"),
    )


SQL_PSI_VALUE_DRIFT = f"""
WITH ev AS ({_DUCK_DRIFT_EV}),
stats AS (
  SELECT event_type, min(value) AS mn, max(value) AS mx,
         min(us) AS tmn, max(us) AS tmx
  FROM ev GROUP BY 1
),
binned AS (
  SELECT e.event_type,
         CASE WHEN e.us <= (s.tmn + s.tmx) / 2 THEN 'early' ELSE 'late' END AS seg,
         CAST(CASE WHEN s.mx - s.mn > 0
              THEN least(floor((e.value - s.mn) / (s.mx - s.mn) * {_PSI_BINS}), {_PSI_BINS - 1})
              ELSE 0 END AS INT) AS bin
  FROM ev e JOIN stats s USING (event_type)
),
counts AS (
  SELECT event_type, seg, bin, count(*) AS c FROM binned GROUP BY 1, 2, 3
),
grid AS (
  SELECT s.event_type, seg.seg, CAST(b.i AS INT) AS bin
  FROM stats s
  CROSS JOIN (SELECT unnest(['early', 'late']) AS seg) seg
  CROSS JOIN (SELECT unnest(range({_PSI_BINS})) AS i) b
),
filled AS (
  SELECT g.event_type, g.seg, g.bin, coalesce(c.c, 0) AS c
  FROM grid g LEFT JOIN counts c USING (event_type, seg, bin)
),
totals AS (
  SELECT event_type, seg, sum(c) AS tot FROM filled GROUP BY 1, 2
),
p AS (
  SELECT f.event_type, f.seg, f.bin, f.c,
         f.c / greatest(t.tot, 1) AS p
  FROM filled f JOIN totals t USING (event_type, seg)
),
wide AS (
  SELECT event_type, bin,
         sum(CASE WHEN seg = 'early' THEN p ELSE 0.0 END) AS p1,
         sum(CASE WHEN seg = 'late' THEN p ELSE 0.0 END) AS p2,
         sum(CASE WHEN seg = 'early' THEN c ELSE 0 END) AS c1,
         sum(CASE WHEN seg = 'late' THEN c ELSE 0 END) AS c2
  FROM p GROUP BY 1, 2
)
SELECT event_type,
       CAST(sum(c1) AS BIGINT) AS n_early,
       CAST(sum(c2) AS BIGINT) AS n_late,
       round(sum((p1 - p2) * ln((p1 + {_PSI_EPS}) / (p2 + {_PSI_EPS}))), 6) AS psi
FROM wide
GROUP BY 1
"""


# --------------------------------------------------------------------------
# ks_value_drift — exact two-sample Kolmogorov-Smirnov, early vs late half
# --------------------------------------------------------------------------

def q_ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28b — the EXACT two-sample KS statistic per event type between
    the early and late halves of that type's time range (same midpoint
    split as ``psi_value_drift``): D = max over observed values of
    |ECDF_early(v) - ECDF_late(v)|. PSI quantizes into 10 bins and can
    miss a shift that stays within a bin; KS is binless and catches any
    CDF displacement — the pair is the standard drift gate set.

    Exactness/determinism: values group to (type, value, segment) counts
    first (ties collapse exactly), the two cumulative sums run over one
    value-ordered window, and D is a max of |c_e/n_e - c_l/n_l| — pure
    integer counts and one division each, identical IEEE in both
    engines; 6-dp round on output only. Types whose early or late half
    is empty have no two-sample statistic and drop (HAVING in both).

    Scale shape: the stream pre-aggregates map-side to (type, distinct
    value) rows, so the per-type window sorts the DISTINCT-value frame,
    not the events; totals ride a broadcast join. NULL values and NULL
    timestamps are excluded (no value -> no CDF point; no time -> no
    half).
    """
    ev = _drift_events(spark, sf_dir)  # shared population + NULL policy
    tstats = ev.groupBy("event_type").agg(
        F.min("us").alias("tmn"), F.max("us").alias("tmx")
    )
    seg_is_early = _drift_is_early()
    g = (
        ev.join(F.broadcast(tstats), "event_type")
        .groupBy("event_type", "value")
        .agg(
            F.sum(F.when(seg_is_early, 1).otherwise(0)).alias("ce"),
            F.sum(F.when(~seg_is_early, 1).otherwise(0)).alias("cl"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = g.select(
        "event_type",
        F.sum("ce").over(w).alias("cum_e"),
        F.sum("cl").over(w).alias("cum_l"),
    )
    totals = g.groupBy("event_type").agg(
        F.sum("ce").alias("n_early"), F.sum("cl").alias("n_late")
    )
    d = (
        cum.join(F.broadcast(totals), "event_type")
        .filter((F.col("n_early") > 0) & (F.col("n_late") > 0))
        .groupBy("event_type")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_e") / F.col("n_early")
                    - F.col("cum_l") / F.col("n_late")
                )
            ).alias("ks_raw"),
        )
    )
    return d.join(F.broadcast(totals), "event_type").select(
        "event_type", "n_early", "n_late", F.round("ks_raw", 6).alias("ks")
    )


SQL_KS_VALUE_DRIFT = f"""
WITH ev AS ({_DUCK_DRIFT_EV}),
tstats AS (
  SELECT event_type, min(us) AS tmn, max(us) AS tmx FROM ev GROUP BY 1
),
g AS (
  SELECT e.event_type, e.value,
         sum(CASE WHEN e.us <= (t.tmn + t.tmx) / 2 THEN 1 ELSE 0 END) AS ce,
         sum(CASE WHEN e.us <= (t.tmn + t.tmx) / 2 THEN 0 ELSE 1 END) AS cl
  FROM ev e JOIN tstats t USING (event_type)
  GROUP BY 1, 2
),
cum AS (
  SELECT event_type,
         sum(ce) OVER w AS cum_e,
         sum(cl) OVER w AS cum_l
  FROM g
  WINDOW w AS (PARTITION BY event_type ORDER BY value
               ROWS UNBOUNDED PRECEDING)
),
totals AS (
  SELECT event_type, sum(ce) AS n_early, sum(cl) AS n_late
  FROM g GROUP BY 1
  HAVING sum(ce) > 0 AND sum(cl) > 0
)
SELECT c.event_type,
       CAST(t.n_early AS BIGINT) AS n_early,
       CAST(t.n_late AS BIGINT) AS n_late,
       round(max(abs(c.cum_e / t.n_early - c.cum_l / t.n_late)), 6) AS ks
FROM cum c JOIN totals t USING (event_type)
GROUP BY 1, 2, 3
"""


def q_events_time_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time EVENT TIMESTAMP validation gate (round 7), the events
    twin of ``embedding_finite_gate``: classify every event as
    ``null_ts`` / ``pre_epoch`` (before 1970) / ``far_future`` (2100+)
    / ``ok``, with per-class counts. Wild timestamps are a certainty in
    a 100 TB crawl and they do real damage downstream: a year-9999 row
    explodes min..max calendar spines into multi-million-slot grids
    (hourly_activity_spine / interpolate_gaps carry hard span caps as
    guard rails), poisons streaming WATERMARKS (max-event-time − delay
    discards every sane event as late), and pre-epoch fractional seconds
    sit exactly on the engines' trunc-vs-floor epoch disagreement.
    Quarantine first; the time-ordered operators are specified over
    gated (``ok``) events. Map-only scan + 4-group aggregation."""
    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts")
    status = (
        F.when(ts.isNull(), F.lit("null_ts"))
        .when(ts < F.lit("1970-01-01 00:00:00").cast("timestamp"), F.lit("pre_epoch"))
        .when(ts >= F.lit("2100-01-01 00:00:00").cast("timestamp"), F.lit("far_future"))
        .otherwise(F.lit("ok"))
    )
    return (
        ev.select(status.alias("status"), "event_id")
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("event_id").alias("first_event_id"))
    )


SQL_EVENTS_TIME_GATE = """
WITH cls AS (
  SELECT event_id,
         CASE WHEN ts IS NULL THEN 'null_ts'
              WHEN ts < TIMESTAMP '1970-01-01 00:00:00' THEN 'pre_epoch'
              WHEN ts >= TIMESTAMP '2100-01-01 00:00:00' THEN 'far_future'
              ELSE 'ok' END AS status
  FROM events
)
SELECT status, count(*) AS n_events, min(event_id) AS first_event_id
FROM cls GROUP BY status
"""


def q_event_id_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events half of the primary-key gate family (round 7): at-least-once
    delivery makes duplicate ``event_id`` rows routine — exact redelivery
    copies AND same-id rows with mutated payloads. Seven series-pipeline
    entries (align/anomaly/pivot/rolling/collect) silently diverged
    cross-engine on such input (slot aggregations tie-break differently).
    Classify each event_id as ``unique`` / ``dup_identical`` (drop the
    copies) / ``dup_conflict`` (quarantine; upstream must resolve — there
    is no portable winner rule over a float payload). Payload identity is
    the full row struct (ts at MICROsecond identity — the engine's
    timestamp unit — plus user/type/value/props); struct distinctness
    treats NULL fields as equal and NaN as NaN in BOTH engines, which a
    multi-column countDistinct would not (it drops any-NULL rows).
    One hash aggregation, scan-bound at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    payload = F.struct(
        F.unix_micros(F.col("ts")).alias("t"),
        "user_id", "event_type", "value", "props",
    )
    agg = ev.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(payload).alias("n_variants"),
    )
    status = (
        F.when(F.col("n_rows") == 1, F.lit("unique"))
        .when(F.col("n_variants") == 1, F.lit("dup_identical"))
        .otherwise(F.lit("dup_conflict"))
    )
    return agg.select("event_id", "n_rows", "n_variants", status.alias("status"))


SQL_EVENT_ID_DEDUP_GATE = """
WITH agg AS (
  SELECT event_id,
         count(*) AS n_rows,
         count(DISTINCT struct_pack(
             t := epoch_us(ts), u := user_id, e := event_type,
             v := value, p := props)) AS n_variants
  FROM events GROUP BY event_id
)
SELECT event_id, n_rows, n_variants,
       CASE WHEN n_rows = 1 THEN 'unique'
            WHEN n_variants = 1 THEN 'dup_identical'
            ELSE 'dup_conflict' END AS status
FROM agg
"""


def q_events_value_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time EVENT VALUE validation gate (round 7), completing the
    gate family (``embedding_finite_gate`` / ``events_time_gate`` /
    ``event_id_dedup_gate``): classify every event's measurement as
    ``null_value`` / ``non_finite`` (NaN or ±Inf — fp overflow and bad
    sensor encodes are routine at 100 TB) / ``extreme`` (|v| > 1e12 —
    the catalog's strictest value arithmetic is 4-dp int64 fixed-point
    rounding, exact only to ~9.2e14; 1e12 leaves three orders of
    magnitude of summation headroom before any downstream sum can reach
    that cliff) / ``ok``, with per-class counts.

    Why it exists, measured on this catalog: a non-finite probe over the
    51 events-reading entries found one Spark-side job-killer (the
    anomaly magnitude's ANSI ``CAST_OVERFLOW`` on an Inf series max —
    now try_cast, degrading to NULL), six oracle-side int-cast aborts,
    and eleven silent cross-engine divergences (NaN ordering in windows,
    NaN grouping, percentile interpolation). Quarantine first: the
    value-arithmetic operators are specified over gated (``ok`` +
    ``null_value``) events, pinned by the degenerate sweep. NULL values
    stay in-contract — every aggregate already skips them symmetrically.

    Map-only scan + 4-group aggregation; shuffles four rows per task."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    status = (
        F.when(v.isNull(), F.lit("null_value"))
        .when(F.isnan(v) | (F.abs(v) == F.lit(float("inf"))), F.lit("non_finite"))
        .when(F.abs(v) > F.lit(1e12), F.lit("extreme"))
        .otherwise(F.lit("ok"))
    )
    return (
        ev.select(status.alias("status"), "event_id")
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("event_id").alias("first_event_id"))
    )


SQL_EVENTS_VALUE_GATE = """
WITH cls AS (
  SELECT event_id,
         CASE WHEN value IS NULL THEN 'null_value'
              WHEN isnan(value) OR isinf(value) THEN 'non_finite'
              WHEN abs(value) > 1e12 THEN 'extreme'
              ELSE 'ok' END AS status
  FROM events
)
SELECT status, count(*) AS n_events, min(event_id) AS first_event_id
FROM cls GROUP BY status
"""
