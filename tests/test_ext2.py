"""Semantic invariants for catalog entries (retrieval, clustering, warehouse):
properties the DuckDB hash-oracle can't express — planted-positive recall,
structural guarantees, cross-operator consistency."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.queries import QUERIES


def _run(name, spark, sf_dir):
    fn, _ = QUERIES[name]
    return fn(spark, sf_dir)


def test_contamination_excludes_benchmark_docs(spark, sf_dir):
    rows = _run("contamination_ngram", spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.doc_id % 10 != 0  # benchmark docs never scored
        assert 0.0 <= r.contamination_rate <= 1.0
        assert r.n_contaminated <= r.n_grams


def test_bm25_scores_positive_and_bounded(spark, sf_dir):
    rows = _run("bm25_search", spark, sf_dir).collect()
    assert 0 < len(rows) <= 25
    assert all(r.bm25 > 0 for r in rows)
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_inverted_index_postings_sorted_and_capped(spark, sf_dir):
    for r in _run("inverted_index", spark, sf_dir).collect():
        ids = [int(x) for x in r.postings.split(",") if x]
        assert ids == sorted(ids)
        assert len(ids) == min(r.n_docs, 8)


def test_repetition_ratio_bounds(spark, sf_dir):
    for r in _run("repetition_ratio", spark, sf_dir).collect():
        assert r.n_distinct <= r.n_tokens
        assert 0 < r.distinct_ratio <= 1.0
        assert 0 < r.top_token_share <= 1.0


def test_kmeans_assign_covers_all_vectors(spark, sf_dir):
    df = _run("kmeans_assign", spark, sf_dir)
    emb_n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    rows = df.collect()
    assert len(rows) == emb_n
    assert all(0 <= r.cluster < 8 and r.dist >= 0 for r in rows)


def test_semantic_dedup_finds_all_planted_pairs(spark, sf_dir):
    """Every planted perturbed copy (vec_id % 50 == 0 -> +1000000) must be
    recovered, and nothing else: random 64-dim cosines never reach .999."""
    rows = _run("semantic_dedup", spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planted = emb.filter(F.col("vec_id") % 50 == 0).count()
    assert len(rows) == planted
    for r in rows:
        assert r.id_b == r.id_a + 1000000
        assert r.id_a % 50 == 0
        assert r.cos > 0.999


def test_interpolate_gaps_preserves_observed_and_bounds_gaps(spark, sf_dir):
    df = _run("interpolate_gaps", spark, sf_dir)
    # complete grid per series: contiguous t range, no holes
    agg = df.groupBy("series_id").agg(
        F.count(F.lit(1)).alias("n"),
        (F.max("t") - F.min("t") + 1).alias("span"),
    )
    for r in agg.collect():
        assert r.n == r.span
    # every interpolated value lies within the series' observed range
    stats = df.filter(~F.col("was_gap")).groupBy("series_id").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    joined = df.filter(F.col("was_gap")).join(stats, "series_id")
    out_of_range = joined.filter(
        (F.col("value") < F.col("lo") - 1e-6) | (F.col("value") > F.col("hi") + 1e-6)
    ).count()
    assert out_of_range == 0


def test_robust_outliers_counts_consistent(spark, sf_dir):
    for r in _run("robust_outliers", spark, sf_dir).collect():
        assert 0 <= r.n_outliers <= r.n_events
        assert r.mad >= 0


def test_dedup_latest_event_unique_keys(spark, sf_dir):
    df = _run("dedup_latest_event", spark, sf_dir)
    assert df.count() == df.select("user_id", "event_type").distinct().count()


def test_streaming_join_matches_batch_join(spark, sf_dir):
    """The drained stream-stream join equals the same join run in batch —
    Spark batch vs Spark streaming (the DuckDB oracle covers engine-vs-
    engine; this pins streaming-vs-batch inside Spark itself)."""
    from amazon_macie_activity_generator_spark.sources.tables import load_table

    got = {(r.user_id, r.click_id, r.purchase_id)
           for r in _run("streaming_join", spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("cid"), F.col("ts").alias("cts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"), F.col("ts").alias("pts"))
    batch = c.join(p, (F.col("u") == F.col("pu"))
                   & (F.col("pts") >= F.col("cts"))
                   & (F.col("pts") < F.col("cts") + F.expr("INTERVAL 1 HOUR")))
    want = {(r.u, r.cid, r.pid) for r in batch.collect()}
    assert got == want


def test_unigram_logprob_rare_tokens_score_higher(spark, sf_dir):
    """A doc's mean NLL is a convex combination of per-token NLLs, so it
    must lie within the corpus-wide [min, max] token NLL range."""
    import math

    from amazon_macie_activity_generator_spark.operators.dedup import tokens_expr
    from amazon_macie_activity_generator_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens_expr(F.col("text"))).alias("token"))
    counts = [r.c for r in tok.groupBy("token").agg(F.count(F.lit(1)).alias("c")).collect()]
    total = sum(counts)
    lo, hi = -math.log(max(counts) / total), -math.log(min(counts) / total)
    for r in _run("unigram_logprob", spark, sf_dir).collect():
        assert lo - 1e-6 <= r.mean_nll <= hi + 1e-6


def test_grouping_sets_strata_consistent(spark, sf_dir):
    """Grand total equals the sum of each complete stratum."""
    rows = _run("grouping_sets_parts", spark, sf_dir).collect()
    total = [r for r in rows if r.p_brand is None and r.p_type is None]
    assert len(total) == 1
    by_brand = sum(r.n_items for r in rows if r.p_brand is not None)
    by_type = sum(r.n_items for r in rows if r.p_type is not None)
    assert by_brand == total[0].n_items == by_type


def test_table_profile_matches_table_shape(spark, sf_dir):
    rows = {r.column: r for r in _run("table_profile", spark, sf_dir).collect()}
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert set(rows) == {"event_id", "ts", "user_id", "event_type", "value"}
    for r in rows.values():
        assert r.n_rows == n
        assert r.n_nulls + r.n_distinct <= r.n_rows + 1  # distincts exclude null
    assert rows["event_id"].n_distinct == n  # primary key


def test_scd2_intervals_chain_per_user(spark, sf_dir):
    """Exactly one open interval (valid_to NULL) per user, and interval
    count equals event count."""
    from pyspark.sql import functions as F

    df = _run("scd2_intervals", spark, sf_dir)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert df.count() == n_events
    opens = df.filter(F.col("valid_to").isNull()).groupBy("user_id").count()
    assert opens.filter(F.col("count") != 1).count() == 0


def test_recall_at_5_matches_two_count_formulation(spark):
    """r14: the fused one-join recall tail (recall_at_k) must equal the
    old two-count/left-semi/left-outer formulation on every edge the old
    code handled — including a query with ZERO ann hits (old path:
    left-outer NULL -> coalesce(0))."""
    from amazon_macie_activity_generator_spark.operators.similarity import recall_at_k

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (3, 30)],
        "query_id int, vec_id int",
    )
    # q1: partial overlap; q2: zero hits; q3: full overlap; ann rows
    # outside exact (q1->99) must not count; ann is duplicate-free.
    ann = spark.createDataFrame(
        [(1, 10), (1, 99), (3, 30)], "query_id int, vec_id int"
    )
    got = {r.query_id: r for r in recall_at_k(exact, ann).collect()}

    overlap = exact.join(ann, ["query_id", "vec_id"], "left_semi")
    old = {
        r.query_id: r
        for r in exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(
            overlap.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_overlap")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0)) / F.col("n_exact"), 4
            ).alias("recall_at_k"),
        )
        .collect()
    }
    assert set(got) == set(old) == {1, 2, 3}
    for q in got:
        assert got[q] == old[q]
    assert got[2].n_overlap == 0 and got[2].recall_at_k == 0.0
