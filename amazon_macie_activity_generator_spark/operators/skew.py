"""Skew-handling toolbox: salted joins, salted aggregation and the
pair former every near-dup and co-occurrence entry builds its candidate
pairs with.

AQE's skew-join splitting (on in `session.py`) handles most sort-merge
skew at runtime; salting is the explicit tool for the cases AQE can't
touch — skewed GROUPed aggregations and broadcast-ineligible joins with a
handful of hot keys (the 'boilerplate document' / 'bot user' shape of
training-data pipelines).

- ``salted_join``: replicate the small side ``salt`` times; spread the
  big side's hot keys across ``salt`` partitions via a deterministic
  hash-derived salt column. Exactly equivalent rows to the plain join.
- ``salted_agg``: two-stage aggregation — partial agg on (key, salt),
  final agg on key. For algebraic aggregates (sum/count/min/max) the
  result is identical; the first stage caps any single reducer's input.
- ``member_pairs``: every ``i < j`` pair of distinct ids in a sorted
  member array, as an in-task C(n, 2) explode — the light path of a bucket gather
  (``sort_array(collect_list(id))`` per key, then ``F.explode``), which
  forms a bucket's pairs with one shuffle and no join.
- ``salted_self_pairs``: the heavy path — for keys whose member list is
  past the caller's size bound, a two-sided salted self-join that splits
  each key into ``PAIR_SALTS`` hash cells, so one hot key's d^2/2 pairs
  spread over PAIR_SALTS^2 join cells instead of landing in one task.
- ``bucket_pairs``: both paths behind one size rule, planned from one
  eager size check — the largest key's member count, from a count per
  key. When no key has more than ``heavy`` members the plan is the plain
  gather and explode alone; otherwise a count window over the key tags
  each row, keys of at most ``heavy`` members gather and explode, and
  the rest are salted. Every LSH bucket table (MinHash, SimHash, SRP)
  forms its candidate pairs with it.

Gathers that are not bucket tables (a capped posting list, a capped
source set, the TPC-H order pairs) bound their own lists and call the
two pair formers directly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# hash cells per key side in salted_self_pairs: a heavy key's pairs form
# in PAIR_SALTS^2 cells
PAIR_SALTS = 8


def _salt_col(cols: list[str | Column], salt: int) -> Column:
    # hash-derived, partition-stable (same RNG discipline as functions/rng.py)
    return F.pmod(F.xxhash64(*cols, F.lit("salt")), F.lit(salt)).cast("int")


def _salt_fan(salt: int) -> Column:
    """One row per salt id 0..salt-1: the replicated side of a salted join."""
    return F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<int>"))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side's key distribution flattened: big rows
    get ``salt_id = hash(row) % salt``; the small side is exploded into
    ``salt`` copies so every (key, salt_id) bucket finds its match. Row
    set identical to ``big.join(small, on, how)`` — PROVIDED every small
    row can match at most via its own salt copy, which holds only for
    joins that preserve the big side: with ``right``/``full``/``semi``/
    ``anti`` an unmatched small key would surface all ``salt`` copies
    (or none), so those hows are rejected."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins only, got {how!r}: "
            "the exploded small side emits one row per salt copy for "
            "small-side-preserving join types"
        )
    big_salted = big.withColumn(
        "__salt", _salt_col([c for c in big.columns], salt)
    )
    small_salted = small.withColumn("__salt", _salt_fan(salt))
    out = big_salted.join(small_salted, on=[on, "__salt"], how=how)
    return out.drop("__salt")


def salted_agg(
    df: DataFrame,
    key: str,
    value_col: str,
    salt: int = 16,
) -> DataFrame:
    """Two-stage skew-safe aggregation: sum/count per (key, salt) then
    per key. Identical result to ``groupBy(key).agg(sum, count)``; the
    hot key's rows split across ``salt`` reducers in stage one."""
    stage1 = (
        df.withColumn("__salt", _salt_col([key, value_col], salt))
        .groupBy(key, "__salt")
        .agg(
            F.sum(value_col).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    return stage1.groupBy(key).agg(
        F.sum("__s").alias(f"sum_{value_col}"),
        F.sum("__n").alias("n_rows"),
    )


def member_pairs(arr: str, id_field: str | None = None) -> Column:
    """``array<struct<a, b>>`` of every ``i < j`` pair of the id-sorted
    array column ``arr`` whose ids differ: ``[x0, x1, x2]`` gives
    ``(x0, x1), (x0, x2), (x1, x2)``. Members are scalar ids, or structs
    whose id is the field ``id_field``; pairs have ``a.id < b.id``, so a
    duplicate id never pairs with itself and a NULL id pairs with nothing
    — the pair set of ``salted_self_pairs``. Callers ``F.explode`` the
    result. A NULL array gives NULL (no rows once exploded).

    Written as SQL text so its lambda variables keep fixed names: a
    Python-lambda higher-order function draws its variable names from a
    per-JVM counter, which would renumber the lambdas of every plan built
    after it in the same session."""
    x, y = ("x", "y") if id_field is None else (f"x.`{id_field}`", f"y.`{id_field}`")
    return F.expr(
        f"flatten(transform(`{arr}`, (x, i) -> transform(filter("
        f"slice(`{arr}`, i + 2, size(`{arr}`)), y -> {y} > {x}), y -> struct(x AS a, y AS b))))"
    )


def salted_self_pairs(rows: DataFrame, keys: list[str], member: str) -> DataFrame:
    """``(keys..., a, b)`` with ``a < b`` for every two members of ``rows``
    that share a key — the pair set of
    ``rows.join(rows, keys).filter(a < b)``, formed per
    (keys, salt_a, salt_b) cell: each side hashes its member id into one
    of ``PAIR_SALTS`` cells and replicates across the other side's cells,
    so every pair meets in exactly one cell. ``member`` names a scalar id
    column or a struct column whose first field is the id; the order and
    the salt read that id."""
    dtype = rows.schema[member].dataType

    def member_id(c: str) -> Column:
        if isinstance(dtype, StructType):
            return F.col(c).getField(dtype.fields[0].name)
        return F.col(c)

    sides = rows.select(*keys, F.col(member).alias("__m"))
    salt = _salt_col([member_id("__m")], PAIR_SALTS)
    fan = _salt_fan(PAIR_SALTS)
    a = sides.select(*keys, F.col("__m").alias("a"), salt.alias("__sa"), fan.alias("__sb"))
    b = sides.select(*keys, F.col("__m").alias("b"), salt.alias("__sb"), fan.alias("__sa"))
    return (
        a.join(b, [*keys, "__sa", "__sb"])
        .filter(member_id("a") < member_id("b"))
        .select(*keys, "a", "b")
    )


def bucket_pairs(rows: DataFrame, keys: list[str], member: str, heavy: int) -> DataFrame:
    """``(keys..., a, b)`` with ``a < b``: one row per key and pair of
    members of ``rows`` that share it — the rows of
    ``rows.join(rows, keys).filter(a < b)``, formed under one size rule:
    keys with at most ``heavy`` members gather
    ``sort_array(collect_list(member))`` and pair in-task with
    ``member_pairs``, larger keys go to ``salted_self_pairs``, and no
    gather buffer holds more than ``heavy`` members. ``member`` is a
    scalar id column or a struct column whose first field is the id;
    NULL keys and NULL ids form no pairs.

    The plan is chosen from one eager size check, the way AQE picks a
    join from runtime sizes. It reads the largest member count of any
    non-NULL key as the top row of a count per key (each task's top row
    merges on the driver). The check is not small: in a band table
    almost every key is a singleton, so the map-side combine barely
    shrinks the rows and the check shuffles about one (key, count) row
    per input row, as many rows as the gather does.

    - Largest key at most ``heavy``: the plain gather and explode, one
      shuffle of the rows by key. No window, no union and no salted
      branch are planned. The check costs less than the sort and window
      it replaces: on a 2M-row band table of singletons (4 cores) the
      build+exec took 1.7-1.9 s against 2.7-2.9 s for the window path.
    - Some key past ``heavy``: a count window over ``keys`` tags each
      row with its key's size; the light keys gather from the window's
      shuffle and the heavy ones are salted. A key's rows meet in one
      task for the count, held in the window's spillable buffer — linear
      in the key's size; its d^2/2 pairs are what the salting spreads.
      Here the check is spent on top of the window path: 3.1-3.3 s
      against 2.8-3.0 s on the same table with one 1,000-member key.

    The check runs Spark jobs at build time, so callers feed a persisted
    frame: the check then fills the cache and the pairs read it, instead
    of computing the rows twice. The cache also keeps the rows the plan
    was chosen for, so the unfiltered gather does not meet a key that
    grew past ``heavy`` on a recomputation."""
    dtype = rows.schema[member].dataType
    id_field = dtype.fields[0].name if isinstance(dtype, StructType) else None
    rows = rows.dropna(subset=keys).select(*keys, member)
    # the top row by count, not a global F.max: the driver merges each
    # task's top row, so the check needs no second exchange (one job less)
    top = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n")).orderBy(F.desc("__n")).first()

    def gather(light: DataFrame) -> DataFrame:
        return (
            light.groupBy(*keys)
            .agg(F.sort_array(F.collect_list(member)).alias("__ms"))
            .select(*keys, F.explode(member_pairs("__ms", id_field)).alias("__pr"))
            .select(*keys, F.col("__pr.a").alias("a"), F.col("__pr.b").alias("b"))
        )

    if top is None or top["__n"] <= heavy:
        return gather(rows)
    size = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    tagged = rows.select(*keys, member, size.alias("__size"))
    heavy_rows = tagged.filter(F.col("__size") > heavy).drop("__size")
    return gather(tagged.filter(F.col("__size") <= heavy)).unionAll(
        salted_self_pairs(heavy_rows, keys, member)
    )
