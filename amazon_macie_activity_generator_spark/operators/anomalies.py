"""T4 — anomaly injection (main.py:606-641; README.md:45-123).

Reference semantics, per anomaly spec ``{start, end, counts, formula?}``:
clamp [start, end] to the series; draw ``counts`` slots uniformly *with
replacement* (``random.randint`` per count); overwrite each chosen slot
with ``eval(formula)`` (vars ``t``, ``datapoint_max``) or the default
``(datapoint_max + 1) ** 2`` where ``datapoint_max = int(max(datapoints))``
is recomputed INSIDE the per-spec loop (main.py:628), i.e. a later spec's
max DOES see earlier specs' in-place ``(max+1)^2`` overwrites, so
multi-spec magnitudes compound: ``((max+1)^2 + 1)^2``. (Within one spec
the reference's per-draw writes can also feed ``max(datapoints)`` in a
formula mid-spec; like the slot draw itself, that sub-spec ordering is
not reproducible without sequential eval — we freeze stats at spec
entry, the documented deviation alongside stride mode.)

Spark design:
- ``datapoint_max`` = per-series scalar agg over the CURRENT (post-
  previous-spec) frame, broadcast-joined back — one stats join per spec,
  matching main.py:628's in-loop recompute.
- Slot choice has two modes:
  * ``mode='hash'`` (default, scale path): the k draws come from the
    hash-counter RNG — draw j for a series lands on slot
    ``start + hash_int(run, series, spec, j) % width``. With-replacement
    semantics preserved; pure expression; we build the k draws as a tiny
    exploded draw table (k rows per series, k<=counts) and semi-join —
    no Python, no window over the fact table.
  * ``mode='stride'`` (oracle path): deterministic evenly-strided slots —
    first ``counts`` of ``t = start + i*stride`` — expressible identically
    in ANSI SQL for the DuckDB cross-check.
- Formula overwrite: translated SQL expression (never eval), with
  ``max(datapoints)`` -> the broadcast scalar (formula.py).

Dict-vs-list normalization (main.py:617-619) and override-replaces
semantics live in config.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.formula import translate_formula
from amazon_macie_activity_generator_spark.functions.rng import hash_int


def anomaly_value_expr(spec: dict, t_col: str = "t") -> tuple[Column, set[str]]:
    """The injected anomaly value and the per-series stats it needs
    (``attach_series_stats`` adds them before it is evaluated)."""
    formula = spec.get("formula")
    if formula:
        sql, needed = translate_formula(str(formula), t_col=t_col)
        return F.expr(sql), needed
    # default: (datapoint_max + 1) ** 2 with datapoint_max = int(max)
    # (main.py:628,641 — int() truncates toward zero, as CAST AS BIGINT).
    # try_cast, not cast: a NaN/±Inf/>int64 series max is a job-killing
    # CAST_OVERFLOW under Spark 4's default ANSI mode (one wild row kills
    # a 1000-executor stage) — quarantine is events_value_gate's job, but
    # the operator itself must degrade to NULL, never throw. The oracle
    # twin uses TRY_CAST for the same NULL.
    return (
        F.pow(F.col("__datapoints_max__").try_cast("long") + F.lit(1), F.lit(2.0)),
        {"__datapoints_max__"},
    )


def series_stat_aggs(needed: set[str], value_col: str) -> dict[str, Column]:
    """The per-series aggregates behind the ``needed`` formula
    placeholders, by placeholder name (grouped or windowed by the caller).
    The length is a sum of 1.0s, a double count that stays an aggregate
    (``count(...).cast`` would put the cast outside the window)."""
    aggs = {
        "__datapoints_max__": F.max(value_col),
        "__datapoints_min__": F.min(value_col),
        "__datapoints_len__": F.sum(F.lit(1.0)),
        "__datapoints_sum__": F.sum(value_col),
    }
    return {name: agg for name, agg in aggs.items() if name in needed}


def attach_series_stats(
    df: DataFrame,
    needed: set[str],
    value_col: str,
    by: list[str],
) -> DataFrame:
    """Broadcast-join per-series scalar aggregates used by formulas,
    computed from ``df`` itself — the current, post-previous-spec
    series, matching main.py:628's in-loop ``int(np.max(datapoints))``."""
    aggs = [agg.alias(name) for name, agg in series_stat_aggs(needed, value_col).items()]
    if not aggs:
        return df
    stats = df.groupBy(*by).agg(*aggs)
    return df.join(F.broadcast(stats), on=by, how="left")


def anomaly_window(spec: dict, n: int) -> tuple[int, int, int, int, int] | None:
    """``(start, end, width, stride, counts)`` of ``spec`` over ``n``
    slots, or None when it selects nothing (counts <= 0 or an empty
    clamped range). Both ends clamp into [0, n-1]: an unclamped negative
    start would waste hash draws on slots that cannot exist (under-
    injecting) and shift the stride anchor off-grid. ``stride`` =
    max(width // counts, 1) spaces the first ``counts`` slots of stride
    mode evenly."""
    start = max(0, min(int(spec.get("start", 0)), n - 1))
    end = max(0, min(int(spec.get("end", n - 1)), n - 1))
    counts = int(spec.get("counts", 0))
    if counts <= 0 or start > n - 1 or end < start:
        return None
    width = end - start + 1
    return start, end, width, max(width // counts, 1), counts


def anomaly_hit_expr(
    spec: dict,
    n_points: int,
    spec_idx: int,
    t_col: str = "t",
    identity: tuple[str, ...] = ("run_id", "series_id"),
    mode: str = "hash",
) -> Column | None:
    """Predicate: is slot ``t`` an anomaly slot for this spec? None when
    the spec selects nothing (counts<=0 / empty clamped range)."""
    window = anomaly_window(spec, n_points)
    if window is None:
        return None
    start, end, width, stride, counts = window
    t = F.col(t_col)

    if mode == "stride":
        # deterministic: evenly strided, first `counts` slots in range
        return (
            (t >= F.lit(start)) & (t <= F.lit(end))
            & (F.pmod(t - F.lit(start), F.lit(stride)) == 0)
            & (((t - F.lit(start)) / F.lit(stride)).cast("long") < F.lit(counts))
        )
    # with-replacement hash draws: slot t is hit iff any of the k draws
    # lands on it. k is config-scale (<=counts), so an OR chain of k pure
    # predicates stays in codegen via exists(sequence(0,k-1), ...).
    ident_cols = [F.col(c) for c in identity]
    draws = F.sequence(F.lit(0), F.lit(counts - 1))
    hit_fn = lambda j: (  # noqa: E731
        F.lit(start) + hash_int(*ident_cols, F.lit(spec_idx), j, n=width, salt="anom")
    ) == t
    return F.exists(draws, hit_fn)


def apply_anomalies(
    df: DataFrame,
    specs: list[dict],
    n_points: int,
    value_col: str = "value",
    t_col: str = "t",
    by: list[str] | None = None,
    identity: tuple[str, ...] = ("run_id", "series_id"),
    mode: str = "hash",
) -> DataFrame:
    """Overwrite anomaly slots per spec list. See module docstring."""
    if not specs:
        return df
    by = by if by is not None else ["series_id"]

    from amazon_macie_activity_generator_spark.cache import scoped_persist

    # stats come from the CURRENT frame at each spec (main.py:628
    # recomputes int(np.max(datapoints)) inside the per-spec loop, so a
    # later spec's max sees earlier specs' (max+1)^2 overwrites and
    # multi-spec magnitudes compound: ((max+1)^2 + 1)^2)
    applied_any = False
    for spec_idx, spec in enumerate(specs):
        is_hit = anomaly_hit_expr(spec, n_points, spec_idx, t_col, identity, mode)
        if is_hit is None:
            continue
        val_expr, needed = anomaly_value_expr(spec, t_col=t_col)
        if needed and applied_any:
            # checkpoint the post-previous-spec frame before aggregating
            # over it: without the barrier, spec k's stats groupBy replays
            # specs 0..k-1's join+when lineage — O(S^2) plan depth for
            # S-spec blueprints (the bpe_merges round-persist pattern;
            # single-spec configs never persist)
            df = scoped_persist(df, "apply_anomalies", keep=2)
        df = attach_series_stats(df, needed, value_col, by)
        df = df.withColumn(value_col, F.when(is_hit, val_expr.cast("double")).otherwise(F.col(value_col)))
        df = df.drop(*[c for c in needed])
        applied_any = True
    return df


def normalize_anomaly_specs(raw) -> list[dict]:
    """Dict -> one-element list (main.py:617-619)."""
    if raw is None:
        return []
    if isinstance(raw, dict):
        return [raw]
    return list(raw)
