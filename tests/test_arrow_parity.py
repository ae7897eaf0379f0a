"""The vectorized Arrow paths must agree bit-for-bit with the
pure-expression paths they accelerate (same hash conventions, same sign
conventions) — these tests pin that contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.operators.dedup import simhash64
from amazon_macie_activity_generator_spark.operators.similarity import srp_planes
from amazon_macie_activity_generator_spark.sources.tables import load_table


def test_simhash_arrow_matches_expression(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(200)
    a = simhash64(docs, use_arrow=True).orderBy("id").toPandas()
    b = simhash64(docs, use_arrow=False).orderBy("id").toPandas()
    assert a.equals(b)
    assert (a.simhash >= 0).all()  # bit 63 unused


def test_srp_planes_deterministic():
    assert srp_planes(16, 4, "x") == srp_planes(16, 4, "x")
    assert srp_planes(16, 4, "x") != srp_planes(16, 4, "y")
    assert all(v in (1.0, -1.0) for row in srp_planes(8, 3, "z") for v in row)


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    from amazon_macie_activity_generator_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = ivf_topk(emb, queries, k=5, nlist=8, nprobe=3).collect()
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low"
    # sims reported by IVF are exact cosines: any overlapping pair agrees
    exact_sim = {(r.query_id, r.vec_id): r.sim for r in exact}
    for r in approx:
        if (r.query_id, r.vec_id) in exact_sim:
            assert abs(exact_sim[(r.query_id, r.vec_id)] - r.sim) < 1e-9


def test_kmeans_deterministic(spark, sf_dir):
    import numpy as np

    from amazon_macie_activity_generator_spark.operators.similarity import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    c1 = kmeans_fit(emb, k=4, max_iter=3)
    c2 = kmeans_fit(emb, k=4, max_iter=3)
    assert np.array_equal(c1, c2)
    assert c1.shape == (4, 64)


def test_pair_dot_arrow_bit_identical_to_expr(spark):
    """The Arrow pair-dot (cumsum fold) must be BIT-identical to the
    sequential left-fold expression — same association order, so
    unrounded float64 results match exactly, not just to 4 dp."""
    import random

    from pyspark.sql import functions as F

    from amazon_macie_activity_generator_spark.operators.similarity import (
        dot_expr,
        pair_dot_arrow,
    )

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-3, 3) for _ in range(64)], [rnd.uniform(-3, 3) for _ in range(64)])
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    out = df.select(
        "id",
        dot_expr(F.col("a"), F.col("b")).alias("d_expr"),
        pair_dot_arrow()(F.col("a"), F.col("b")).alias("d_arrow"),
    ).collect()
    for r in out:
        assert r.d_expr == r.d_arrow, (r.id, r.d_expr, r.d_arrow)
