"""X1-X6 extension operator semantics: dedup recall, ANN recall vs exact,
text heuristics, sessionization properties, multimodal plumbing."""

from __future__ import annotations

import contextlib
import random
import time

import pytest
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash_candidates,
    simhash64,
    simhash_near_pairs,
    word_shingles_expr,
)
from amazon_macie_activity_generator_spark.operators.multimodal import (
    documents_as_media,
    extract_media_features,
)
from amazon_macie_activity_generator_spark.operators.sessionize import sessionize
from amazon_macie_activity_generator_spark.operators.similarity import (
    brute_force_topk,
    cosine_expr,
    lsh_bucket_topk,
)
from amazon_macie_activity_generator_spark.operators.text import (
    lang_id_expr,
    quality_features,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = []
    for i in range(20):
        rows.append((i, f"doc {i} " + base + f" variant {i} " + " ".join(f"w{i}_{j}" for j in range(30))))
    # plant near-dups of docs 0..4 (one token appended)
    for i in range(5):
        rows.append((100 + i, rows[i][1] + " appended"))
    # plant one exact dup
    rows.append((200, rows[0][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_finds_planted_dup(spark, docs):
    out = dedup_exact(docs)
    assert out.count() == 25  # 26 rows, one exact dup collapses
    assert out.filter(F.col("n_copies") == 2).count() == 1


def test_minhash_finds_planted_near_dups(spark, docs):
    pairs = dedup_minhash_candidates(docs, jaccard_threshold=0.5).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    for i in range(5):
        assert (i, 100 + i) in found, f"missed planted near-dup {i}"
    for r in pairs:
        assert r.jaccard >= 0.5


def test_minhash_no_false_high_jaccard(spark, docs):
    # unrelated docs share the base sentence but differ in 30+ unique
    # tokens -> jaccard << 0.5; threshold must exclude them
    pairs = dedup_minhash_candidates(docs, jaccard_threshold=0.5).collect()
    for r in pairs:
        assert r.id_b - r.id_a in (100, 200), f"false positive pair {r}"


def test_simhash_near_dups(spark, docs):
    sig = simhash64(docs)
    assert sig.count() == 26
    pairs = simhash_near_pairs(sig, max_hamming=3).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 200) in found  # exact dup -> hamming 0
    ham = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert ham[(0, 200)] == 0


def test_simhash_md5_near_dups_and_degenerate_docs(spark, docs):
    """The md5 oracle-bridge twin keeps the xxhash64 path's semantics:
    exact dups collide at hamming 0, the vote rule is the SAME strict
    majority (bit set iff 2*ones > n), and empty-token / null-text docs
    fold to signature 0 — exactly like simhash64, and the cross-engine
    contract the oracle's coalesce(sig, 0) mirrors."""
    from amazon_macie_activity_generator_spark.operators.dedup import simhash64_md5

    sig = simhash64_md5(docs)
    assert sig.count() == 26
    pairs = simhash_near_pairs(sig, max_hamming=3).collect()
    ham = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert ham[(0, 200)] == 0  # exact dup
    degen = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None)], "doc_id long, text string"
    )
    vals = {r.id: r.simhash for r in simhash64_md5(degen).collect()}
    assert vals == {1: 0, 2: 0, 3: 0}  # matches simhash64's empty-doc rule
    xx = {r.id: r.simhash for r in simhash64(degen).collect()}
    assert xx == vals


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
    sh = df.select(word_shingles_expr(F.col("text"), 3).alias("s")).first().s
    assert sh == ["only two"]


# ------------------------------------------------------------- similarity

@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from amazon_macie_activity_generator_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "embeddings")


def test_cosine_expr_basic(spark):
    df = spark.createDataFrame([([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])],
                               "a array<float>, b array<float>")
    vals = [r.c for r in df.select(F.round(cosine_expr(F.col("a"), F.col("b")), 6).alias("c")).collect()]
    assert vals == [1.0, 0.0]


def test_lsh_finds_planted_neighbors(spark, emb):
    # queries = slightly-perturbed copies of corpus vectors: the true
    # nearest neighbor (cos ~0.9999) must be retrieved at rank 1. This is
    # the workload LSH exists for; uniformly-random top-5 is its known
    # worst case and is covered by the exact brute-force path instead.
    pert = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("query_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.05)),
            F.slice("embedding", 2, 10000),
        ).alias("embedding"),
    )
    approx = lsh_bucket_topk(emb, pert, k=3, planes=10, tables=4)
    top1 = {r.query_id: r.vec_id for r in approx.filter(F.col("rank") == 1).collect()}
    hits = sum(1 for q, v in top1.items() if q - 1000000 == v)
    assert hits >= 18, f"planted-neighbor recall {hits}/20"


def test_brute_force_topk_exact_k(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5)
    assert all(cnt == 5 for cnt in
               (exact.groupBy("query_id").count().select("count").toPandas()["count"]))


def test_topk_deterministic(spark, emb):
    q = emb.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    a = [(r.vec_id, r.sim) for r in brute_force_topk(emb, q, k=5).orderBy("rank").collect()]
    b = [(r.vec_id, r.sim) for r in brute_force_topk(emb, q, k=5).orderBy("rank").collect()]
    assert a == b


# ------------------------------------------------------------------- text

def test_lang_id_stopword_votes(spark):
    df = spark.createDataFrame([
        (1, "the cat sat on the mat and it is that"),
        (2, "el perro y la casa de los que en un"),
        (3, "der hund und die katze ist ein zu von"),
        (4, "xyzzy plugh qwerty"),
    ], "doc_id long, text string")
    got = {r.doc_id: r.p for r in df.select("doc_id", lang_id_expr(F.col("text")).alias("p")).collect()}
    assert got[1] == "en" and got[2] == "es" and got[3] == "de" and got[4] == "und"


def test_quality_features_ranges(spark):
    df = spark.createDataFrame([
        (1, "the data pipeline processes all of the records in a stream for the test"),
        (2, "!!! ??? ### $$$ %%%"),
        (3, "x"),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in quality_features(df).collect()}
    assert out[1].quality_score > out[2].quality_score
    assert out[1].quality_score > out[3].quality_score
    for r in out.values():
        assert 0.0 <= r.quality_score <= 1.0
        assert 0.0 <= r.punct_ratio <= 1.0


# ------------------------------------------------------------ sessionize

def test_sessionize_gap_semantics(spark):
    rows = [
        (1, 10, "2024-01-01 00:00:00"),
        (2, 10, "2024-01-01 00:10:00"),   # same session (10 min)
        (3, 10, "2024-01-01 01:00:00"),   # new session (50 min gap)
        (4, 11, "2024-01-01 00:00:00"),   # other user
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts_s string").select(
        "event_id", "user_id", F.to_timestamp("ts_s").alias("ts")
    )
    out = sessionize(df, gap_minutes=30)
    got = {(r.user_id, r.session_id): r.n_events for r in out.collect()}
    assert got == {(10, 0): 2, (10, 1): 1, (11, 0): 1}


# ------------------------------------------------------------ multimodal

def test_multimodal_stub_features(spark, sf_dir):
    from amazon_macie_activity_generator_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = documents_as_media(docs, kind="image")
    feats = extract_media_features(media, decode_stub=True)
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert r.n_bytes > 0
        assert len(r.content_hash) == 64
        assert r.width is not None and 1 <= r.width <= 1920  # image kind
        assert r.duration_ms is None


def test_multimodal_real_decode_unrecognized_bytes_yield_nulls(spark, sf_dir):
    """decode_stub=False is a REAL header parser now: text bytes are not
    a recognized media format, so dims/duration come back NULL while
    n_bytes and the content hash stay real — one bad file must not kill
    the task (large-pipeline robustness norm)."""
    from amazon_macie_activity_generator_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(2)
    media = documents_as_media(docs)
    rows = extract_media_features(media, decode_stub=False).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.width is None and r.height is None and r.duration_ms is None
        assert r.n_bytes > 0 and len(r.content_hash) == 64


def _union_find_groups(pairs):
    """Reference components: node -> min id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        # the smaller root wins, so every root is its component's min id
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@contextlib.contextmanager
def _scoped_conf(spark, conf):
    """Set session ``conf`` for the ``with`` body, then restore it."""
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _spread(partitions):
    """Rounds on ``partitions`` shuffle partitions that AQE may not merge:
    the neighbourhoods of one graph land in different tasks."""
    return {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }


@contextlib.contextmanager
def _rounds(df_type):
    """Per contraction round (one ``localCheckpoint`` each): the seconds
    spent planning it and the size of its physical plan in lines."""
    seen = []
    checkpoint = df_type.localCheckpoint

    def timed(self, *args, **kwargs):
        t0 = time.perf_counter()
        plan = self._jdf.queryExecution().executedPlan().toString()
        seen.append((time.perf_counter() - t0, len(plan.splitlines())))
        return checkpoint(self, *args, **kwargs)

    df_type.localCheckpoint = timed
    try:
        yield seen
    finally:
        df_type.localCheckpoint = checkpoint


def test_connected_components_small_graph(spark):
    from amazon_macie_activity_generator_spark.operators.dedup import connected_components

    shuffled = [40, 17, 93, 8, 61, 2, 75, 30, 88, 11, 54]  # min mid-chain
    graphs = {
        # two clusters {1,2,3,9} (chain) and {5,7}, singleton edges only
        "two_clusters": [(1, 2), (2, 3), (3, 9), (5, 7)],
        "shuffled_chain": list(zip(shuffled, shuffled[1:])),
        "cycle": [(10 + i, 10 + (i + 1) % 6) for i in range(6)],
        # the center is not the min: a leaf's id must reach the others
        "star": [(55, leaf) for leaf in range(50, 61) if leaf != 55],
        "dup_and_reversed": [(20, 21), (21, 20), (20, 21), (22, 21), (21, 22)],
        "self_loop": [(30, 30), (31, 31), (31, 32)],
        "empty": [],
    }
    # coalesced (the session default: a small graph is one task), then
    # spread over 1, 4 and 16 tasks per round
    for conf in ({}, _spread(1), _spread(4), _spread(16)):
        with _scoped_conf(spark, conf):
            for name, pairs in graphs.items():
                edges = spark.createDataFrame(pairs, "id_a long, id_b long")
                got = {r.id: r.group_id for r in connected_components(edges).collect()}
                assert got == _union_find_groups(pairs), (name, conf)
    assert _union_find_groups(graphs["two_clusters"]) == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 7: 5}


def test_connected_components_keeps_null_ends_and_id_types(spark):
    # pinned to the pointer-jumping loop's output: a NULL end joins
    # nothing and the NULL id is its own (NULL, NULL) row; int and
    # string ids keep their type, strings order as Spark orders them
    from amazon_macie_activity_generator_spark.operators.dedup import connected_components

    cases = [
        ("long", [(1, None), (None, 2), (2, 3), (None, None), (7, None)],
         [(1, 1), (2, 2), (3, 2), (7, 7), (None, None)]),
        ("int", [(40, 17), (17, 93), (8, 61), (5, None)],
         [(17, 17), (40, 17), (5, 5), (61, 8), (8, 8), (93, 17), (None, None)]),
        ("string", [("b", "a"), ("c", "b"), ("x", "y"), ("B", "b"), ("é", "z"), (None, "q")],
         [("B", "B"), ("a", "B"), ("b", "B"), ("c", "B"), ("q", "q"), ("x", "x"),
          ("y", "x"), ("z", "z"), ("é", "z"), (None, None)]),
    ]
    for conf in ({}, _spread(4)):
        with _scoped_conf(spark, conf):
            for typ, pairs, want in cases:
                got = connected_components(
                    spark.createDataFrame(pairs, f"id_a {typ}, id_b {typ}"))
                assert got.schema.simpleString() == (
                    f"struct<id:{typ},group_id:{typ}>".replace("long", "bigint"))
                assert sorted(map(tuple, got.collect()), key=str) == want, (typ, conf)


def test_connected_components_splits_a_hub(spark):
    # a 2,000-leaf star whose hub is not its min: with a tiny advisory
    # size, rebalance splits the hub's partition by map output, so no
    # task sees the whole neighbourhood; the rounds still resolve it
    from amazon_macie_activity_generator_spark.operators.dedup import connected_components

    star = spark.createDataFrame(
        [(500, leaf) for leaf in range(2000) if leaf != 500], "id_a long, id_b long"
    ).repartition(8)
    with _scoped_conf(spark, {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k"}):
        keyed = star.select(F.explode(F.array("id_a", "id_b")).alias("k"), "id_a", "id_b")
        hub_tasks = (
            keyed.hint("rebalance", "k")
            .select("k", F.spark_partition_id().alias("p"))
            .filter("k = 500")
            .select("p")
            .distinct()
            .count()
        )
        assert hub_tasks > 1
        with _rounds(type(star)) as rounds:
            got = connected_components(star).groupBy("group_id").count().collect()
    assert [(r.group_id, r["count"]) for r in got] == [(0, 2000)]
    assert len(rounds) >= 2


def test_connected_components_log_rounds_on_16_node_chain(spark):
    # the coalesced 16-node chain is one task, so round 1 resolves it
    from amazon_macie_activity_generator_spark.operators.dedup import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(15)], "id_a long, id_b long")
    got = {r.id: r.group_id for r in connected_components(chain, max_iter=1).collect()}
    assert got == {i: 0 for i in range(16)}


@pytest.mark.parametrize("order", ["ascending", "shuffled"])
def test_connected_components_converges_on_10k_node_chain(spark, order):
    # default max_iter=25, default (coalescing) conf: 6 rounds either way
    from amazon_macie_activity_generator_spark.operators.dedup import connected_components

    ids = list(range(10_000))
    if order == "shuffled":
        random.Random(0).shuffle(ids)
    chain = spark.createDataFrame(list(zip(ids, ids[1:])), "id_a long, id_b long")
    got = connected_components(chain).groupBy("group_id").count().collect()
    assert [(r.group_id, r["count"]) for r in got] == [(0, 10_000)]


def test_connected_components_rounds_on_spread_10k_node_chain(spark):
    # 16 tasks per round, none merged: the shuffled chain takes 9 rounds
    # (the pointer-jumping join loop took about 20), and every round after
    # the first plans the same plan in about the same time — no join, so
    # no size estimate compounds round over round
    from amazon_macie_activity_generator_spark.operators.dedup import connected_components

    ids = list(range(10_000))
    random.Random(0).shuffle(ids)
    chain = spark.createDataFrame(list(zip(ids, ids[1:])), "id_a long, id_b long")
    with _scoped_conf(spark, _spread(16)), _rounds(type(chain)) as rounds:
        got = connected_components(chain).groupBy("group_id").count().collect()
    assert [(r.group_id, r["count"]) for r in got] == [(0, 10_000)]
    assert 2 <= len(rounds) <= 9
    plan_s, plan_lines = zip(*rounds[1:])
    assert len(set(plan_lines)) == 1
    assert max(plan_s) < 1.0


def test_connected_components_raises_on_non_convergence(spark):
    # one round over 16 unmerged tasks cannot resolve a 100-node chain:
    # each task holds only part of it, so nodes see more than one centre;
    # returning those labels would split one cluster into many — the
    # operator must fail loud, not cap silently
    import pytest as _pytest

    from amazon_macie_activity_generator_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "id_a long, id_b long"
    )
    with _scoped_conf(spark, _spread(16)), _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1)


def test_salted_join_rejects_small_side_preserving_hows(spark):
    # right/full/semi would emit every unmatched small key `salt` times
    import pytest as _pytest

    from amazon_macie_activity_generator_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "x")], "k long, v string")
    small = spark.createDataFrame([(1, "y")], "k long, w string")
    for how in ("right", "full", "left_semi", "left_anti"):
        with _pytest.raises(ValueError, match="inner/left"):
            salted_join(big, small, on="k", how=how)


def test_salted_join_matches_plain_join(spark, sf_dir):
    from amazon_macie_activity_generator_spark.operators.skew import salted_agg, salted_join
    from amazon_macie_activity_generator_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dims = (
        events.select("user_id").distinct()
        .withColumn("segment", F.pmod(F.col("user_id"), F.lit(3)))
    )
    plain = events.join(dims, on="user_id").orderBy("event_id")
    salted = salted_join(events, dims, on="user_id", salt=4).orderBy("event_id")
    assert [tuple(r) for r in plain.collect()] == [tuple(r) for r in salted.collect()]

    want = events.groupBy("user_id").agg(
        F.sum("value").alias("sum_value"), F.count(F.lit(1)).alias("n_rows")
    )
    got = salted_agg(events, key="user_id", value_col="value", salt=4)
    w = {r.user_id: (round(r.sum_value, 6), r.n_rows) for r in want.collect()}
    g = {r.user_id: (round(r.sum_value, 6), r.n_rows) for r in got.collect()}
    assert w == g


# --------------------------------------------- sampling / quantize / sliding

def test_hash_split_stable_and_proportional(spark):
    from amazon_macie_activity_generator_spark.operators.sampling import hash_split

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    a = hash_split(df, "doc_id", train_fraction=0.8)
    b = hash_split(df.repartition(7), "doc_id", train_fraction=0.8)
    pa = {r["doc_id"]: r["split"] for r in a.collect()}
    pb = {r["doc_id"]: r["split"] for r in b.collect()}
    assert pa == pb  # partitioning-invariant membership
    frac = sum(1 for v in pa.values() if v == "train") / len(pa)
    assert abs(frac - 0.8) < 0.02
    # different salt -> different split
    c = hash_split(df, "doc_id", train_fraction=0.8, salt="other")
    pc = {r["doc_id"]: r["split"] for r in c.collect()}
    assert pa != pc


def test_split_fraction_one_keeps_every_row(spark):
    """fraction=1.0 must keep ALL rows: the naive hex threshold
    format(2^24, '06x') is the 7-char '1000000', which sorts BELOW
    'ffffff' and silently kept only ~6% (buckets starting '0')."""
    from amazon_macie_activity_generator_spark.operators.sampling import (
        hash_split,
        split_threshold_hex,
        stratified_sample,
    )

    assert split_threshold_hex(1.0) == "g"
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = hash_split(df, "doc_id", train_fraction=1.0)
    assert out.filter(F.col("split") == "train").count() == 2000
    strat = df.withColumn("lang", F.lit("en"))
    assert stratified_sample(strat, "doc_id", "lang", {"en": 1.0}).count() == 2000
    # absent strata keep everything too (the 'g' default, not 'ffffff')
    assert stratified_sample(strat, "doc_id", "lang", {"zz": 0.5}).count() == 2000


def test_simhash_pairs_survive_giant_duplicate_cluster(spark):
    """All exact-duplicate docs share one simhash, so every 16-bit chunk
    collides — the giant-bucket case. The salted path must produce the
    exact pair set of a naive all-pairs hamming check."""
    from amazon_macie_activity_generator_spark.operators.dedup import (
        simhash64,
        simhash_near_pairs,
    )

    texts = [(i, "common boilerplate text repeated everywhere") for i in range(30)]
    texts += [(100 + i, f"unique document number {i} with its own words") for i in range(10)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    sigs = simhash64(docs, text_col="text", id_col="doc_id")
    got_df = simhash_near_pairs(sigs, max_hamming=3)
    got = {(r.id_a, r.id_b, r.hamming) for r in got_df.collect()}
    sig_map = {r.id: r.simhash for r in sigs.collect()}
    want = set()
    ids = sorted(sig_map)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            x = sig_map[a] ^ sig_map[b]
            ham = bin(x & 0xFFFFFFFFFFFFFFFF).count("1")
            # candidates only form when some 16-bit chunk matches
            chunk_match = any(
                ((sig_map[a] >> (c * 16)) & 0xFFFF) == ((sig_map[b] >> (c * 16)) & 0xFFFF)
                for c in range(4)
            )
            if ham <= 3 and chunk_match:
                want.add((a, b, ham))
    assert got == want
    assert len(got) >= 30 * 29 // 2  # the duplicate cluster's pairs all present


def test_quantize_int8_roundtrip_bounds(spark):
    from amazon_macie_activity_generator_spark.operators.similarity import (
        dequant_error,
        quantize_int8,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "id long, embedding array<float>",
    )
    qz = quantize_int8(F.col("embedding"))
    rows = df.select(
        "id", qz.alias("qz"), dequant_error(F.col("embedding"), qz).alias("err")
    ).collect()
    by_id = {r["id"]: r for r in rows}
    assert all(-127 <= c <= 127 for c in by_id[1]["qz"]["q"])
    # max-|x| element hits +/-127 exactly
    assert min(by_id[1]["qz"]["q"]) == -127
    # per-element error bounded by scale/2
    assert by_id[1]["err"] <= by_id[1]["qz"]["scale"] / 2 * 4 ** 0.5 + 1e-9
    # zero vector: scale 0, all-zero codes, zero error
    assert by_id[2]["qz"]["scale"] == 0.0
    assert set(by_id[2]["qz"]["q"]) == {0}
    assert by_id[2]["err"] == 0.0


def test_with_quantize_int8_equals_column_form(spark):
    """The hoisted DataFrame form (O(dim) per row) and the captured-
    expression Column form (O(dim^2) — see the PERF note) must produce
    identical structs, including the non-finite and zero-vector guards."""
    from amazon_macie_activity_generator_spark.operators.similarity import (
        quantize_int8,
        with_quantize_int8,
    )

    df = spark.createDataFrame(
        [
            (1, [0.5, -1.0, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [float("nan"), 1.0, 2.0, 3.0]),
            (4, [float("inf"), 1.0, 2.0, 3.0]),
            (5, [1.0, None, 2.0, 3.0]),
            (6, []),
            (7, None),
        ],
        "id long, embedding array<float>",
    )
    col_form = {
        r["id"]: (r["qz"]["scale"], r["qz"]["q"])
        for r in df.select("id", quantize_int8(F.col("embedding")).alias("qz")).collect()
    }
    hoisted = {
        r["id"]: (r["qz"]["scale"], r["qz"]["q"])
        for r in with_quantize_int8(df).select("id", "qz").collect()
    }
    assert col_form == hoisted
    assert hoisted[3] == (None, None) and hoisted[4] == (None, None)
    assert hoisted[5] == (None, None)


def test_sliding_counts_fanout(spark):
    from amazon_macie_activity_generator_spark.operators.sessionize import (
        sliding_counts,
        tumbling_counts,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:30:00", "a", 1.0), (2, "2024-01-01 11:15:00", "a", 2.0)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    slid = sliding_counts(df, window_hours=2, slide_hours=1)
    rows = {(r["win_start"], r["n_events"]) for r in slid.collect()}
    # event@10:30 -> windows starting 09:00, 10:00; event@11:15 -> 10:00, 11:00
    assert rows == {
        ("2024-01-01 09:00:00", 1),
        ("2024-01-01 10:00:00", 2),
        ("2024-01-01 11:00:00", 1),
    }
    # total window-rows = events x (window/slide)
    total = slid.agg(F.sum("n_events")).first()[0]
    assert total == df.count() * 2
    assert tumbling_counts(df).count() == 2


def test_stratified_sample_caps_only_named_strata(spark):
    from amazon_macie_activity_generator_spark.operators.sampling import stratified_sample

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("de").alias("lang"),
    )
    kept = stratified_sample(df, "doc_id", "lang", {"en": 0.3})
    counts = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["de"] == 2000          # unnamed stratum untouched
    assert abs(counts["en"] / 1000 - 0.3) < 0.05
    # deterministic: second run keeps the identical doc set
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(r["doc_id"] for r in stratified_sample(df, "doc_id", "lang", {"en": 0.3}).collect())
    assert a == b


def test_asof_join_tie_and_ordering_semantics(spark):
    from amazon_macie_activity_generator_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 10, "d")],
        "user_id long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0)], "user_id long, ts long, value double"
    )
    out = {r["tag"]: r["asof_value"] for r in
           asof_join(left, right, ts_col="ts", by=["user_id"]).collect()}
    assert out["a"] == 100.0   # equal ts matches (<= semantics)
    assert out["b"] == 150.0   # latest prior, not first
    assert out["c"] is None    # nothing at or before
    assert out["d"] is None    # key isolation: user 2 sees nothing


def test_interval_join_boundaries_and_multi_overlap(spark):
    from amazon_macie_activity_generator_spark.operators.interval import interval_join

    pts = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:30:00"),
         (3, "2024-01-01 11:00:00"), (4, "2024-01-01 12:00:01")],
        "pid long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    iv = spark.createDataFrame(
        [("A", "2024-01-01 10:00:00", "2024-01-01 11:00:00"),
         ("B", "2024-01-01 10:30:00", "2024-01-01 12:00:00")],
        "iid string, start_ts string, end_ts string",
    ).withColumn("start_ts", F.to_timestamp("start_ts")).withColumn("end_ts", F.to_timestamp("end_ts"))
    got = {(r["pid"], r["iid"]) for r in
           interval_join(pts, iv, bucket_minutes=15).select("pid", "iid").collect()}
    # boundaries inclusive both ends; point 2/3 overlap both; 4 outside all
    assert got == {(1, "A"), (2, "A"), (2, "B"), (3, "A"), (3, "B")}


def test_chunk_docs_overlap_and_coverage(spark):
    from amazon_macie_activity_generator_spark.operators.text import chunk_docs

    text = " ".join(f"w{i}" for i in range(95))
    df = spark.createDataFrame([(1, text), (2, "short doc"), (3, "")],
                               "doc_id long, text string")
    rows = chunk_docs(df, chunk_tokens=50, overlap=10).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], []).append(r)
    # 95 tokens, stride 40 -> starts 0, 40, 80 -> sizes 50, 50, 15
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["n_tok"] for r in c1] == [50, 50, 15]
    # consecutive chunks share exactly `overlap` tokens
    a, b = c1[0]["chunk_text"].split(), c1[1]["chunk_text"].split()
    assert a[-10:] == b[:10]
    # every token covered, in order
    merged = a + b[10:] + c1[2]["chunk_text"].split()[10:]
    assert merged == text.split()
    assert [r["n_tok"] for r in by_doc[2]] == [2]
    assert [r["n_tok"] for r in by_doc[3]] == [0]


def test_auto_planes_tracks_corpus_size():
    """auto_planes holds expected bucket occupancy constant: each 2x of
    the corpus adds one plane (doubling the bucket space), bounded by
    the floor (tiny corpora) and cap (astronomically large ones)."""
    from amazon_macie_activity_generator_spark.operators.similarity import auto_planes

    assert auto_planes(256 * 256) == 8
    assert auto_planes(256 * 512) == 9
    assert auto_planes(256 * 1024) == 10
    # floor: a corpus smaller than one target bucket still gets >= 4 planes
    assert auto_planes(10) == 4
    assert auto_planes(0) == 4
    # cap
    assert auto_planes(2**60) == 24


def test_embedding_near_dup_salted_equals_plain(spark):
    """The giant-bucket salted branch must be pair-set AND sim-value
    identical to the plain bucket self-join. A cluster of 12
    near-identical vectors lands in one SRP bucket; heavy_bucket=4
    forces that bucket through the two-sided salted join, while
    heavy_bucket=10^9 keeps everything on the light path."""
    from amazon_macie_activity_generator_spark.operators.similarity import (
        embedding_near_dup,
    )

    rows = []
    for i in range(12):  # near-identical cluster (same bucket, sims ~1)
        rows.append((i, [1.0, 2.0, 3.0 + i * 1e-4, 4.0]))
    for i in range(12, 20):  # scattered others
        rows.append((i, [float(i), float(-i), 1.0, float(i % 3)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    plain = embedding_near_dup(df, threshold=0.9, planes=6, heavy_bucket=10**9)
    salted = embedding_near_dup(df, threshold=0.9, planes=6, heavy_bucket=4)
    p = {(r.id_a, r.id_b): r.sim for r in plain.collect()}
    s = {(r.id_a, r.id_b): r.sim for r in salted.collect()}
    assert p == s
    # the cluster's C(12,2) pairs all survive at sim ~1
    assert sum(1 for (a, b) in p if a < 12 and b < 12) == 66
    spark.catalog.clearCache()


def test_embedding_near_dup_auto_planes_finds_planted_pair(spark):
    """planes='auto' (one driver-side count -> log2-scaled plane count)
    must still find a planted near-duplicate pair."""
    from amazon_macie_activity_generator_spark.operators.similarity import (
        embedding_near_dup,
    )

    rows = [(i, [float(i + 1), float((i * 7) % 5 - 2), 1.0, 0.5]) for i in range(50)]
    rows.append((999, [51.0, (50 * 7) % 5 - 2 + 1e-3, 1.0, 0.5]))  # near-dup of i=50? plant vs i=49
    rows.append((1000, [50.0, float((49 * 7) % 5 - 2), 1.0, 0.5]))  # exact dup of i=49
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {(r.id_a, r.id_b): r.sim for r in
           embedding_near_dup(df, threshold=0.999, planes="auto").collect()}
    assert (49, 1000) in out and out[(49, 1000)] == 1.0
    spark.catalog.clearCache()
