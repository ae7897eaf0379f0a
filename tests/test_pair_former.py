"""The pair former in ``operators/skew.py``: ``member_pairs`` (the in-task
C(n, 2) explode over a sorted member array), ``salted_self_pairs``
(the salted self-join for keys past a gather's size bound) and
``bucket_pairs`` (both behind one size rule, planned from one size
check), checked against their plain definitions and their executed
plans, plus source guards that keep them the package's only copies of
either construction and ``bucket_pairs`` the only pair former of the LSH
bucket tables; and the one-wave SRP stage of embedding_near_dup."""

from __future__ import annotations

import itertools
import pathlib
import re

from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.operators.skew import (
    bucket_pairs,
    member_pairs,
    salted_self_pairs,
)
from amazon_macie_activity_generator_spark.queries_vectors import q_embedding_near_dup

PKG = "amazon_macie_activity_generator_spark"
ROOT = pathlib.Path(__file__).resolve().parent.parent / PKG

# the explode's inner slice: every later member of the array, from
# index i + 1 (1-based i + 2) on — in Python or in a SQL string
PAIR_EXPLODE = re.compile(r"slice\([^()]*,\s*\w+\s*\+\s*2\s*,")
# the replicated side of a salted join: sequence(0, <salt count> - 1)
SALT_FAN = re.compile(
    r"sequence\(\s*(?:F\.lit\(\s*)?0\s*\)?\s*,\s*(?:F\.lit\(\s*)?[\w.]*salt\w*\s*-\s*1",
    re.IGNORECASE,
)


def pair_former_copies(root: pathlib.Path = ROOT) -> list[str]:
    """Every C(n, 2) pair explode or salt fan in a package module other
    than ``operators/skew.py``, as ``path:line what``."""
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "operators" / "skew.py":
            continue
        text = path.read_text()
        for what, pattern in (("pair explode", PAIR_EXPLODE), ("salt fan", SALT_FAN)):
            for m in pattern.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                hits.append(f"{path.relative_to(root.parent)}:{line} {what}")
    return hits


# the modules whose LSH bucket tables (MinHash, SimHash, SRP) must form
# their pairs through skew.bucket_pairs
LSH_MODULES = ("operators/dedup.py", "operators/similarity.py")
GATHER = re.compile(r"\bcollect_list\(")
PAIR_FORMER_CALL = re.compile(r"\b(member_pairs|salted_self_pairs)\(")


def own_bucket_gathers(root: pathlib.Path = ROOT) -> list[str]:
    """Every LSH module that gathers with its own ``collect_list`` and
    calls a pair former next to it instead of ``bucket_pairs``, as
    ``path: collect_list + <former>``."""
    hits = []
    for rel in LSH_MODULES:
        path = root / rel
        text = path.read_text()
        if GATHER.search(text):
            for former in sorted({m.group(1) for m in PAIR_FORMER_CALL.finditer(text)}):
                hits.append(f"{path.relative_to(root.parent)}: collect_list + {former}")
    return hits


def test_pair_formation_lives_only_in_skew():
    assert pair_former_copies() == []


def test_guard_finds_pasted_copies(tmp_path):
    pkg = tmp_path / PKG
    (pkg / "operators").mkdir(parents=True)
    pasted = (
        'F.expr("flatten(transform(ids, (x, i) -> "\n'
        '       "transform(slice(ids, i + 2, size(ids)), y -> struct(x, y))))")\n'
        "F.transform(arr, lambda x, i: F.slice(\n    arr, i + 2, F.size(arr)))\n"
        "fan = F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))\n"
        "# not a fan: F.sequence(F.lit(0), F.lit(bands - 1)), F.slice(tk, i + 1, k)\n"
    )
    (pkg / "mod.py").write_text(pasted)
    (pkg / "operators" / "skew.py").write_text(pasted)
    assert pair_former_copies(pkg) == [
        f"{PKG}/mod.py:2 pair explode",
        f"{PKG}/mod.py:3 pair explode",
        f"{PKG}/mod.py:5 salt fan",
    ]


def test_lsh_bucket_tables_pair_through_bucket_pairs():
    assert own_bucket_gathers() == []


def test_bucket_guard_finds_own_gathers(tmp_path):
    pkg = tmp_path / PKG
    (pkg / "operators").mkdir(parents=True)
    (pkg / "operators" / "dedup.py").write_text(
        'g = b.groupBy("band", "bh").agg(F.sort_array(F.collect_list("id")).alias("ids"))\n'
        'light = g.select(F.explode(member_pairs("ids")))\n'
        'heavy = salted_self_pairs(rows, ["band", "bh"], "id")\n'
    )
    # a pair former with no gather of its own is not a bucket gather
    (pkg / "operators" / "similarity.py").write_text(
        'pairs = bucket_pairs(members, ["bucket"], "m", 4096)\n'
        'n = F.size(F.collect_set("m"))\n'
    )
    assert own_bucket_gathers(pkg) == [
        f"{PKG}/operators/dedup.py: collect_list + member_pairs",
        f"{PKG}/operators/dedup.py: collect_list + salted_self_pairs",
    ]


def test_member_pairs_matches_combinations(spark):
    arrays = [[], [5], [3, 9], [1, 2, 4, 8, 16, 32, 64], None]
    df = spark.createDataFrame(list(enumerate(arrays)), "k int, arr array<long>")
    got = {r.k: r.pr for r in df.select("k", member_pairs("arr").alias("pr")).collect()}
    for k, arr in enumerate(arrays):
        if arr is None:
            assert got[k] is None
        else:
            assert [(p.a, p.b) for p in got[k]] == list(itertools.combinations(arr, 2))
    exploded = df.select(F.explode(member_pairs("arr")).alias("pr"))
    assert exploded.count() == 0 + 0 + 1 + 21


def test_member_pairs_carries_struct_members(spark):
    df = spark.createDataFrame([([(1, "x"), (4, "y"), (6, "z")],)],
                               "ms array<struct<id: long, tag: string>>")
    pairs = df.select(F.explode(member_pairs("ms", "id")).alias("pr")).select(
        "pr.a.id", "pr.a.tag", "pr.b.id", "pr.b.tag"
    )
    assert [tuple(r) for r in pairs.collect()] == [
        (1, "x", 4, "y"), (1, "x", 6, "z"), (4, "y", 6, "z"),
    ]


def _keyed_rows(spark):
    rows = [(0, 111, i) for i in range(70)]        # one 70-member key
    rows += [(1, 222, 100 + i) for i in range(5)]  # a small key
    rows += [(2, 333, 200)]                        # a singleton
    rows += [(0, 444, 100 + i) for i in range(3)]  # same ids, second key
    return spark.createDataFrame(rows, "band int, bh long, id long")


def test_salted_self_pairs_equals_plain_self_join(spark):
    rows = _keyed_rows(spark)
    plain = (
        rows.withColumnRenamed("id", "a")
        .join(rows.withColumnRenamed("id", "b"), ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
    )
    salted = salted_self_pairs(rows, ["band", "bh"], "id")
    assert salted.columns == ["band", "bh", "a", "b"]
    got = sorted(tuple(r) for r in salted.collect())
    assert got == sorted(tuple(r) for r in plain.select("band", "bh", "a", "b").collect())
    # each pair once: C(70,2) + C(5,2) + C(3,2), none from the singleton
    assert len(got) == 70 * 69 // 2 + 10 + 3


def test_salted_self_pairs_orders_struct_members_by_id(spark):
    rows = _keyed_rows(spark).select(
        "band", "bh", F.struct("id", (-F.col("id")).alias("neg")).alias("m")
    )
    salted = salted_self_pairs(rows, ["band", "bh"], "m").select(
        "band", "bh", "a.id", "a.neg", "b.id", "b.neg"
    )
    got = sorted(tuple(r) for r in salted.collect())
    plain = sorted(
        (band, bh, a, -a, b, -b)
        for (band, bh), ids in (((0, 111), range(70)), ((1, 222), range(100, 105)),
                                ((0, 444), range(100, 103)))
        for a, b in itertools.combinations(ids, 2)
    )
    assert got == plain


def test_light_path_equals_salted_path_on_duplicate_ids(spark):
    # ids 1, 1, 2 in one bucket: the gather-and-explode path and the
    # salted self-join give the same pairs, and 1 never pairs with itself
    rows = spark.createDataFrame(
        [(0, 7, 1, "x"), (0, 7, 1, "y"), (0, 7, 2, "z")], "band int, bh long, id long, tag string"
    )
    gathered = rows.groupBy("band", "bh").agg(
        F.sort_array(F.collect_list("id")).alias("ids"),
        F.sort_array(F.collect_list(F.struct("id", "tag"))).alias("ms"),
    )
    light = gathered.select(F.explode(member_pairs("ids")).alias("pr")).select("pr.a", "pr.b")
    salted = salted_self_pairs(rows, ["band", "bh"], "id").select("a", "b")
    assert sorted(map(tuple, light.collect())) == sorted(map(tuple, salted.collect())) == [
        (1, 2), (1, 2),
    ]
    light_m = gathered.select(F.explode(member_pairs("ms", "id")).alias("pr")).select(
        "pr.a.id", "pr.a.tag", "pr.b.id", "pr.b.tag"
    )
    salted_m = salted_self_pairs(
        rows.select("band", "bh", F.struct("id", "tag").alias("m")), ["band", "bh"], "m"
    ).select("a.id", "a.tag", "b.id", "b.tag")
    assert sorted(map(tuple, light_m.collect())) == sorted(map(tuple, salted_m.collect())) == [
        (1, "x", 2, "z"), (1, "y", 2, "z"),
    ]


HEAVY = 4


def _sized_rows(spark):
    """Keys holding HEAVY - 1, HEAVY and HEAVY + 1 members, with a NULL
    id, a duplicate id, a NULL key and a singleton among them."""
    rows = [(1, i) for i in range(HEAVY - 1)]           # heavy - 1
    rows += [(2, i) for i in (5, 6, 6, 7)]               # heavy, id 6 twice
    rows += [(3, i) for i in (None, 10, 11, 12, 13)]     # heavy + 1, NULL id
    rows += [(None, 20), (None, 21)]                     # NULL key
    rows += [(4, 30)]                                    # singleton
    assert [sum(r[0] == k for r in rows) for k in (1, 2, 3)] == [HEAVY - 1, HEAVY, HEAVY + 1]
    return spark.createDataFrame(
        [(k, i, f"t{i}") for k, i in rows], "k int, id long, tag string"
    )


def _plain_pairs(rows, member_id):
    """The plain self-join: every two members of a key, smaller id first."""
    a = rows.select("k", F.col("m").alias("a"))
    b = rows.select("k", F.col("m").alias("b"))
    return a.join(b, "k").filter(member_id("a") < member_id("b")).select("k", "a", "b")


def test_bucket_pairs_equals_plain_self_join(spark):
    rows = _sized_rows(spark)
    for members, member_id in (
        (rows.select("k", F.col("id").alias("m")), F.col),
        (rows.select("k", F.struct("id", "tag").alias("m")), lambda c: F.col(c)["id"]),
    ):
        got = bucket_pairs(members, ["k"], "m", HEAVY)
        assert got.columns == ["k", "a", "b"]
        got = sorted(map(str, got.collect()))
        plain = sorted(map(str, _plain_pairs(members, member_id).collect()))
        assert got == plain
        # C(3,2) at heavy - 1; C(4,2) - 1 at heavy (the duplicate 6 never
        # pairs with itself); C(4,2) at heavy + 1 (the NULL id pairs with
        # nothing); none from the NULL key or the singleton
        assert len(got) == 3 + 5 + 6


def _subtree(lines: list[str], i: int) -> list[str]:
    """The lines of the tree-string node at line ``i`` and its inputs."""

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-|"))

    end = i + 1
    while end < len(lines) and depth(lines[end]) > depth(lines[i]):
        end += 1
    return lines[i:end]


def _executed_lines(df) -> list[str]:
    """The executed plan of ``df``, collected already, as tree-string lines."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.treeString().splitlines()


def test_bucket_pairs_without_heavy_keys_is_one_gather(spark):
    """Keys of HEAVY - 1 and HEAVY members (no key past the bound): the
    size check plans the plain gather alone — no count window, no salted
    branch, one collect_list — and its rows are the plain self-join's."""
    rows = _sized_rows(spark).filter(F.col("k").isNull() | (F.col("k") != 3))
    for members, member_id in (
        (rows.select("k", F.col("id").alias("m")), F.col),
        (rows.select("k", F.struct("id", "tag").alias("m")), lambda c: F.col(c)["id"]),
    ):
        df = bucket_pairs(members, ["k"], "m", HEAVY)
        assert df.columns == ["k", "a", "b"]
        got = sorted(map(str, df.collect()))
        assert got == sorted(map(str, _plain_pairs(members, member_id).collect()))
        lines = _executed_lines(df)
        plan = "\n".join(lines)
        assert not any(re.match(r"[\s:+|-]*Window\b", ln) for ln in lines), plan
        assert not re.search(r"__(size|salt|sa|sb)\b", plan), plan
        assert sum("partial_collect_list" in ln for ln in lines) == 1, plan
        # C(3,2) at heavy - 1; C(4,2) - 1 at heavy (the duplicate 6 never
        # pairs with itself); none from the NULL key or the singleton
        assert len(got) == 3 + 5


def test_bucket_pairs_gather_reads_only_light_keys(spark):
    """In the executed plan, the rows under the collect_list aggregate
    have passed a filter on the size tag at most ``heavy``: no gather
    buffer can hold a heavy key's members."""
    df = bucket_pairs(_sized_rows(spark), ["k"], "id", HEAVY)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    lines = plan.treeString().splitlines()
    gathers = [i for i, ln in enumerate(lines) if "partial_collect_list" in ln]
    assert gathers
    light_filter = re.compile(rf"Filter .*__size#\d+L? <= {HEAVY}\)")
    for i in gathers:
        below = _subtree(lines, i)
        assert any(light_filter.search(ln) for ln in below), "\n".join(below)
        assert not any(re.search(r"__size#\d+L? > ", ln) for ln in below)


def test_embedding_near_dup_srp_runs_in_one_wave(spark, sf_dir):
    """The perturbed copies join the corpus before it is spread across
    cores, so the SRP Arrow UDF runs in at most ``defaultParallelism``
    tasks (each Python task pays a fixed set-up cost in its worker): the
    partitions of the SRP base, which the build's size check fills."""
    spark.catalog.clearCache()
    q_embedding_near_dup(spark, sf_dir)
    srp = [i for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
           if "ArrowEvalPython" in i.name()]
    assert len(srp) == 1
    assert srp[0].numCachedPartitions() == srp[0].numPartitions()
    assert srp[0].numPartitions() <= spark.sparkContext.defaultParallelism
    spark.catalog.clearCache()
