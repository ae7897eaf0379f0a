"""Vector and similarity catalog entries over the ``embeddings`` table.

Exact and approximate (SRP-LSH, IVF) top-k search with their recall
audits, embedding near-dup and semantic dedup, k-means assignment, kNN
classification, hard-negative mining, int8 quantization and the
ingest-time vector gates.

Same contract as queries.py: name -> (spark_builder, duckdb_sql | None).
The LSH oracles embed the SAME seeded hyperplanes as sign-bit masks
(``_srp_mask_values``) and re-derive buckets, probes, candidates and the
exact-cosine re-rank in DuckDB; every cosine goes through one recipe
(``_DUCK_COS``) so tie-breaks stay cross-engine stable.

Scale notes (local[32] tests, 1000-executor design):
- ``kmeans_assign`` broadcasts the k=8 centroid table at every step;
  per-dim centroid means shuffle k*dim rows only.
- ``knn_classify``: the query side (100 vectors) broadcasts into a single
  corpus scan — the corpus is never shuffled or self-joined. The vote /
  argmax windows run on the neighbors frame (|queries| x k rows), which
  also broadcasts into the label-lookup join. At a 100 TB corpus the
  brute-force scan is the exact baseline; the SRP-LSH bucketed path
  (``knn_classify_lsh``) is the drop-in candidate generator when the
  query side is itself large.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.cache import begin_scope, scoped_persist
from amazon_macie_activity_generator_spark.functions.rounding import round_fixed, sql_round_fixed
from amazon_macie_activity_generator_spark.operators.similarity import (
    NONFINITE_COMPONENT_SQL,
    brute_force_topk,
    embedding_near_dup,
    lsh_bucket_topk,
    nonfinite_component,
    recall_at_k,
    srp_planes,
)
from amazon_macie_activity_generator_spark.sources.tables import load_table


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings, spread across cores: the table arrives as one input
    split locally, and the SRP bucket/cosine projections are CPU-bound
    (at real scale maxPartitionBytes provides the splits)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.repartition(emb.sparkSession.sparkContext.defaultParallelism, "vec_id")


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dups via SRP-LSH buckets. Fully
    oracle-checked: the 8 seeded Rademacher planes are deterministic
    literals, so the oracle embeds them as sign-bit masks and re-derives
    bucket ids, the bucket self-join, and the exact-cosine filter in
    DuckDB. Corpus is augmented with slightly-perturbed copies
    (vec_id+1000000, first component nudged) so near-dup pairs exist to
    find."""
    emb = _emb(spark, sf_dir)
    pert = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.05)),
            F.slice("embedding", 2, 10000),
        ).alias("embedding"),
        "label",
    )
    # dim pinned to the corpus schema (64): the oracle's plane masks are
    # 64-dim literals already, and skipping _infer_dim drops an eager
    # full-corpus aggregation from every build (r14, guide §1.2)
    return embedding_near_dup(emb.unionByName(pert), threshold=0.9, planes=8, dim=64)


def _srp_mask_values(planes: int = 10, tables: int | None = 4, dim: int = 64) -> str:
    """The seeded SRP planes the Spark path uses, as SQL VALUES rows: bit i
    of a mask is set iff plane entry i is +1, so the oracle replays the
    identical projection. ``tables=None`` is embedding_near_dup's single
    table (salt "srp", rows (p, mask)); otherwise rows are (tbl, p, mask)
    over the LSH tables salted "srp0", "srp1", ..."""
    salts = [("srp", "")] if tables is None else [(f"srp{t}", f"{t},") for t in range(tables)]
    return ", ".join(
        f"({prefix}{p},{sum(1 << i for i, s in enumerate(row) if s > 0)})"
        for salt, prefix in salts
        for p, row in enumerate(srp_planes(dim, planes, salt))
    )


SQL_EMBEDDING_NEAR_DUP = f"""
WITH aug AS (
  -- pert flag keeps row identity even if vec_id + 1000000 ever collides
  -- with a native id (the Spark side keeps such rows distinct too)
  SELECT vec_id, 0 AS pert,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
  UNION ALL
  SELECT vec_id + 1000000, 1 AS pert,
         [CAST(embedding[1] AS DOUBLE) + 0.05]
           || list_transform(embedding[2:], x -> CAST(x AS DOUBLE))
  FROM embeddings WHERE vec_id % 20 = 0 AND embedding IS NOT NULL
), planes(p, mask) AS (VALUES {{masks}}),
b AS (
  SELECT a.vec_id, a.pert, any_value(a.v) AS v,
         CAST(sum(CASE WHEN list_sum(list_transform(range(64),
               i -> a.v[i + 1] *
                    (CASE WHEN ((pl.mask >> i) & 1) = 1 THEN 1.0 ELSE -1.0 END)
             )) >= 0 THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT) AS bucket
  FROM aug a CROSS JOIN planes pl
  GROUP BY a.vec_id, a.pert
)
SELECT DISTINCT id_a, id_b, sim FROM (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         round(CASE WHEN sqrt(list_sum(list_transform(l.v, x -> x * x))) *
                         sqrt(list_sum(list_transform(r.v, x -> x * x))) = 0
               THEN 0.0
               ELSE list_sum(list_transform(list_zip(l.v, r.v), z -> z[1] * z[2])) /
                    (sqrt(list_sum(list_transform(l.v, x -> x * x))) *
                     sqrt(list_sum(list_transform(r.v, x -> x * x)))) END, 4) AS sim
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
) WHERE sim >= 0.9
""".format(masks=_srp_mask_values(planes=8, tables=None))


# -------------------------------------------------------------- similarity

def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 — exact cosine top-5 for query vectors vec_id < 5."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries, k=5)


# zero-norm guard mirrors operators/similarity.cosine_expr: Spark maps a
# zero denominator to 0.0 where an unguarded DuckDB division yields NaN
# (which DuckDB then sorts ABOVE every real sim in ORDER BY ... DESC)
_DUCK_COS_DOT = (
    "list_aggregate(list_transform(list_zip(e.embedding, q.qv), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
)
_DUCK_COS_DEN = (
    "(sqrt(list_aggregate(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) * "
    "sqrt(list_aggregate(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))"
)
_DUCK_COS = (
    f"round(CASE WHEN {_DUCK_COS_DEN} = 0 THEN 0.0 "
    f"ELSE {_DUCK_COS_DOT} / {_DUCK_COS_DEN} END, 4)"
)

SQL_TOPK_COSINE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv
  FROM embeddings WHERE vec_id < 5 AND embedding IS NOT NULL
),
scored AS (
  SELECT q.query_id, e.vec_id, {_DUCK_COS} AS sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id AND e.embedding IS NOT NULL
)
SELECT query_id, vec_id, sim, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_topk_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path #2 — IVF-flat ANN top-5: k-means coarse quantizer +
    nprobe inverted-list search + exact re-rank (rows-only: approximate;
    recall vs brute force asserted in tests)."""
    from amazon_macie_activity_generator_spark.operators.similarity import ivf_topk

    # plain loader: the IVF path is Arrow/numpy-vectorized, where extra
    # partitions just multiply per-task Arrow overhead (unlike the
    # expression-bound paths behind _emb)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, nlist=16, nprobe=4, kmeans_iter=3)


def q_topk_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path — SRP-LSH bucketed ANN top-5. Fully oracle-checked:
    the Rademacher hyperplanes are deterministic seeded literals, so the
    oracle SQL embeds the SAME planes (as sign-bit masks) and re-derives
    buckets, Hamming-1 probes, the candidate join, and the exact-cosine
    re-rank in DuckDB."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_bucket_topk(emb, queries, k=5, planes=10, dim=64)


# SRP dot against a ±1 plane encoded as a bitmask: +v[i] where bit i set,
# -v[i] otherwise. Sequential list_sum mirrors Spark's left-fold; the
# numpy matmul on the Spark side differs only in FP summation order,
# which can only matter for a dot exactly at the sign threshold.
_DUCK_SRP_LSH = f"""
planes(tbl, p, mask) AS (VALUES {{masks}}),
bits AS (
  SELECT e.vec_id, pl.tbl,
         CAST(sum(CASE WHEN list_sum(list_transform(range(64),
               i -> CAST(e.embedding[i + 1] AS DOUBLE) *
                    (CASE WHEN ((pl.mask >> i) & 1) = 1 THEN 1.0 ELSE -1.0 END)
             )) >= 0 THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings e CROSS JOIN planes pl
  WHERE e.embedding IS NOT NULL  -- NULL vectors have no geometry
  GROUP BY e.vec_id, pl.tbl
),
qb AS (SELECT vec_id AS query_id, tbl, bucket FROM bits WHERE vec_id < 5),
probes AS (
  SELECT query_id, tbl, bucket FROM qb
  UNION ALL
  SELECT query_id, tbl, xor(bucket, CAST(1 AS BIGINT) << pp.p) AS bucket
  FROM qb CROSS JOIN (SELECT unnest(range(10)) AS p) pp
),
cand AS (
  SELECT DISTINCT pr.query_id, b.vec_id
  FROM probes pr JOIN bits b USING (tbl, bucket)
  WHERE b.vec_id != pr.query_id
),
lsh_scored AS (
  SELECT c.query_id, c.vec_id, {_DUCK_COS} AS sim
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN (SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 5) q ON q.query_id = c.query_id
),
lsh_topk AS (
  SELECT query_id, vec_id, sim, rank FROM (
    SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
    FROM lsh_scored
  ) WHERE rank <= 5
)
"""

SQL_TOPK_COSINE_LSH = (
    "WITH " + _DUCK_SRP_LSH.format(masks=_srp_mask_values())
    + "\nSELECT query_id, vec_id, sim, rank FROM lsh_topk"
)


def q_topk_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement as a first-class query: recall@5 of the
    SRP-LSH top-k against exact brute-force top-k, per query vector.
    Deterministic end-to-end (seeded planes, tie-break on vec_id), so the
    oracle recomputes BOTH pipelines in SQL and must agree exactly."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5).select("query_id", "vec_id")
    ann = lsh_bucket_topk(emb, queries, k=5, planes=10, dim=64).select("query_id", "vec_id")
    return recall_at_k(exact, ann).withColumnRenamed("recall_at_k", "recall_at_5")


SQL_TOPK_RECALL_LSH = (
    "WITH " + _DUCK_SRP_LSH.format(masks=_srp_mask_values())
    + f""",
exact_scored AS (
  SELECT q.query_id, e.vec_id, {_DUCK_COS} AS sim
  FROM embeddings e
  CROSS JOIN (SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 5 AND embedding IS NOT NULL) q
  WHERE e.vec_id != q.query_id AND e.embedding IS NOT NULL
),
exact_topk AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
    FROM exact_scored
  ) WHERE rank <= 5
)
SELECT x.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(l.vec_id) AS BIGINT) AS n_overlap,
       round(count(l.vec_id) / CAST(count(*) AS DOUBLE), 4) AS recall_at_5
FROM exact_topk x
LEFT JOIN lsh_topk l ON l.query_id = x.query_id AND l.vec_id = x.vec_id
GROUP BY x.query_id
"""
)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding int8 quantization (operators/similarity.py
    with_quantize_int8 — the hoisted form; the captured-expression Column
    form re-evaluates the O(dim) scale tree per element, 5.4x slower):
    per-vector scale, integer checksum of the quantized codes (exact
    cross-engine), and L2 reconstruction error (round 4)."""
    from amazon_macie_activity_generator_spark.operators.similarity import (
        dequant_error,
        with_quantize_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = with_quantize_int8(emb).select("vec_id", "qz", "embedding")
    return out.select(
        "vec_id",
        F.round(F.col("qz.scale"), 6).alias("scale6"),
        F.aggregate(F.col("qz.q"), F.lit(0).cast("long"), lambda a, b: a + b).alias("q_sum"),
        F.round(dequant_error(F.col("embedding"), F.col("qz")), 4).alias("err4"),
    )


SQL_EMBEDDING_QUANTIZE = f"""
WITH qz AS (
  SELECT vec_id, embedding,
         -- non-finite component => no quantization (scale NULL cascades
         -- to NULL codes/err below), mirroring quantize_int8's guard
         CASE WHEN len(list_filter(embedding, x -> {NONFINITE_COMPONENT_SQL})) > 0 THEN NULL
              ELSE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
         END AS scale
  FROM embeddings
),
q AS (
  SELECT vec_id, embedding, scale,
         list_transform(embedding,
           x -> CASE WHEN scale = 0 THEN 0
                ELSE CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INT) END) AS codes
  FROM qz
)
SELECT vec_id, round(scale, 6) AS scale6,
       -- empty-list sums are 0, not NULL (Spark's aggregate() has an
       -- explicit 0 init; DuckDB's list_aggregate gives NULL on [])
       CAST(CASE WHEN len(codes) = 0 THEN 0
                 ELSE list_aggregate(codes, 'sum') END AS BIGINT) AS q_sum,
       round(sqrt(CASE WHEN len(codes) = 0 THEN 0.0
                       ELSE list_aggregate(
         list_transform(list_zip(embedding, codes),
           p -> pow(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale, 2.0)),
         'sum') END), 4) AS err4
FROM q
"""


# --------------------------------------------------------------------------
# kmeans_assign — one deterministic Lloyd iteration, cross-engine checkable
# --------------------------------------------------------------------------

_KM_K = 8


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Lloyd iteration over embeddings: seeds are the
    k=8 vectors with vec_id < 8; assign-all -> recompute per-cluster
    means (rounded to 6 dp in BOTH engines to pin down FP summation
    order) -> re-assign; emit (vec_id, cluster, dist). The 8-row centroid
    table is broadcast at each assignment; the mean recompute shuffles
    only k*dim rows (posexplode -> groupBy(cluster, dim)). This is the
    verified kernel under operators/similarity.py:kmeans_fit (iterative,
    rows-only) and the IVF ANN index."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        # NULL vector = no geometry (the finite-gate contract). Without
        # this a NULL row with vec_id < k lands in the SEED set and the
        # engines diverge on NULL-distance placement (Spark's struct-min
        # vs DuckDB's NULLS-LAST row_number) — caught by the dup-key
        # sweep, whose fixture put the NULL at vec_id 1.
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    )
    # single local input split + CPU-bound distance math -> spread first
    # (no-op at real scale where maxPartitionBytes provides the splits)
    emb = emb.repartition(spark.sparkContext.defaultParallelism, "vec_id")
    seeds = emb.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cluster"), F.col("v").alias("c")
    )

    def assign(points: DataFrame, cents: DataFrame) -> DataFrame:
        j = points.crossJoin(F.broadcast(cents)).select(
            "vec_id", "v", "cluster", _sq_dist(F.col("v"), F.col("c")).alias("dist")
        )
        best = j.groupBy("vec_id", "v").agg(
            F.min(F.struct("dist", "cluster")).alias("best")
        )
        return best.select("vec_id", "v", F.col("best.cluster").alias("cluster"),
                           F.col("best.dist").alias("dist"))

    a0 = assign(emb, seeds)
    cent1 = (
        a0.select("cluster", F.posexplode("v").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
            ).alias("c")
        )
    )
    a1 = assign(emb, cent1)
    return a1.select("vec_id", "cluster", F.round("dist", 4).alias("dist"))


SQL_KMEANS_ASSIGN = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
), seeds AS (
  SELECT vec_id AS cluster, v AS c FROM emb WHERE vec_id < {_KM_K}
), d0 AS (
  SELECT e.vec_id, e.v, s.cluster,
         list_sum(list_transform(range(1, len(e.v) + 1),
                                 i -> (e.v[i] - s.c[i]) * (e.v[i] - s.c[i]))) AS dist
  FROM emb e CROSS JOIN seeds s
), a0 AS (
  SELECT vec_id, v, cluster, dist FROM d0
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
), cent1 AS (
  SELECT cluster, list(m ORDER BY dim) AS c FROM (
    SELECT cluster, dim, round(avg(x), 6) AS m
    FROM (SELECT cluster, unnest(v) AS x, generate_subscripts(v, 1) AS dim FROM a0)
    GROUP BY cluster, dim
  ) GROUP BY cluster
), d1 AS (
  SELECT e.vec_id, c1.cluster,
         list_sum(list_transform(range(1, len(e.v) + 1),
                                 i -> (e.v[i] - c1.c[i]) * (e.v[i] - c1.c[i]))) AS dist
  FROM emb e CROSS JOIN cent1 c1
)
SELECT vec_id, cluster, round(dist, 4) AS dist FROM d1
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
"""


# --------------------------------------------------------------------------
# topk_recall_ivf — IVF ANN quality, fully oracle-checked
# --------------------------------------------------------------------------

_IVF_NLIST = 16
_IVF_NPROBE = 4


def q_topk_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of an IVF-flat ANN search against exact brute force, per
    query vector — the driver-gated twin of the rows-only
    ``topk_cosine_ivf`` (whose numpy k-means quantizer is FP-order
    dependent). This variant is deterministic end to end so BOTH
    pipelines replay in SQL: coarse quantizer = seed vectors vec_id < 16
    refined by ONE Lloyd step with means rounded to 6 dp (the
    kmeans_assign kernel), queries probe their nprobe=4 nearest
    centroids, candidates re-rank by exact cosine. Scale shape is the
    IVF one: corpus assigned once (16-row broadcast centroid table),
    candidate join keyed on the cluster id, never all-pairs."""
    from amazon_macie_activity_generator_spark.operators.similarity import dot_expr, norm_expr

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())  # NULL vec: no geometry
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    )
    emb = emb.repartition(spark.sparkContext.defaultParallelism, "vec_id")
    seeds = emb.filter(F.col("vec_id") < _IVF_NLIST).select(
        F.col("vec_id").alias("cluster"), F.col("v").alias("c")
    )

    def assign(points: DataFrame, cents: DataFrame, n: int) -> DataFrame:
        j = points.crossJoin(F.broadcast(cents)).select(
            "vec_id", "v", "cluster", _sq_dist(F.col("v"), F.col("c")).alias("dist")
        )
        w = Window.partitionBy("vec_id").orderBy("dist", "cluster")
        return (
            j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
            .drop("rn", "dist")
        )

    a0 = assign(emb, seeds, 1)
    cent1 = (
        a0.select("cluster", F.posexplode("v").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
            ).alias("c")
        )
    )
    begin_scope("topk_recall_ivf", spark)
    cent1 = scoped_persist(cent1, "topk_recall_ivf")
    # k rows — the "write the IVF index once" barrier: both the
    # corpus assignment and the query probes read the cache, not its
    # lineage (lazy: per-partition cache locking prevents double compute)
    corpus = assign(emb, cent1, 1)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    probes = assign(
        queries.select(F.col("query_id").alias("vec_id"), F.col("qv").alias("v")),
        cent1, _IVF_NPROBE,
    ).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cluster")

    # norms hoisted to once-per-row columns (r12): same folds, same
    # denominator product as cosine_expr, so 4-dp rounds and the oracle
    # hash are unchanged — but the candidate stream folds O(dim) once
    # per pair instead of three times
    cand = corpus.withColumn("__cn", norm_expr(F.col("v"))).join(
        F.broadcast(probes.withColumn("__qn", norm_expr(F.col("qv")))),
        "cluster",
    ).filter(F.col("query_id") != F.col("vec_id"))
    denom = F.col("__cn") * F.col("__qn")
    scored = cand.select(
        "query_id", "vec_id",
        F.round(
            F.when(denom == 0, F.lit(0.0)).otherwise(
                dot_expr(F.col("v"), F.col("qv")) / denom),
            4,
        ).alias("sim"),
    ).dropDuplicates(["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("vec_id"))
    ann = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id")
    )

    emb_raw = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(
        emb_raw,
        emb_raw.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=5,
    ).select("query_id", "vec_id")
    return recall_at_k(exact, ann).withColumnRenamed("recall_at_k", "recall_at_5")


SQL_TOPK_RECALL_IVF = f"""
WITH emb AS (
  SELECT vec_id, embedding, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
), seeds AS (
  SELECT vec_id AS cluster, v AS c FROM emb WHERE vec_id < {_IVF_NLIST}
), d0 AS (
  SELECT e.vec_id, e.v, s.cluster,
         list_sum(list_transform(range(1, len(e.v) + 1),
                                 i -> (e.v[i] - s.c[i]) * (e.v[i] - s.c[i]))) AS dist
  FROM emb e CROSS JOIN seeds s
), a0 AS (
  SELECT vec_id, v, cluster FROM d0
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
), cent1 AS (
  SELECT cluster, list(m ORDER BY dim) AS c FROM (
    SELECT cluster, dim, round(avg(x), 6) AS m
    FROM (SELECT cluster, unnest(v) AS x, generate_subscripts(v, 1) AS dim FROM a0)
    GROUP BY cluster, dim
  ) GROUP BY cluster
), d1 AS (
  SELECT e.vec_id, e.v, c1.cluster,
         list_sum(list_transform(range(1, len(e.v) + 1),
                                 i -> (e.v[i] - c1.c[i]) * (e.v[i] - c1.c[i]))) AS dist
  FROM emb e CROSS JOIN cent1 c1
), corpus AS (
  SELECT vec_id, cluster FROM d1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
), probes AS (
  SELECT vec_id AS query_id, cluster FROM d1 WHERE vec_id < 5
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) <= {_IVF_NPROBE}
), cand AS (
  SELECT DISTINCT p.query_id, c.vec_id
  FROM probes p JOIN corpus c USING (cluster)
  WHERE c.vec_id != p.query_id
), ivf_scored AS (
  SELECT cd.query_id, cd.vec_id, {_DUCK_COS} AS sim
  FROM cand cd
  JOIN embeddings e ON e.vec_id = cd.vec_id
  JOIN (SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 5 AND embedding IS NOT NULL) q
    ON q.query_id = cd.query_id
), ivf_topk AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
    FROM ivf_scored
  ) WHERE rank <= 5
), exact_scored AS (
  -- embedding IS NOT NULL both sides: mirrors brute_force_topk (this was
  -- the one exact-scored CTE missing it — a NULL row at vec_id < 5
  -- produced a ghost query with recall 0 here while Spark dropped it)
  SELECT q.query_id, e.vec_id, {_DUCK_COS} AS sim
  FROM embeddings e
  CROSS JOIN (SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 5 AND embedding IS NOT NULL) q
  WHERE e.vec_id != q.query_id AND e.embedding IS NOT NULL
), exact_topk AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
    FROM exact_scored
  ) WHERE rank <= 5
)
SELECT x.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(i.vec_id) AS BIGINT) AS n_overlap,
       round(count(i.vec_id) / CAST(count(*) AS DOUBLE), 4) AS recall_at_5
FROM exact_topk x
LEFT JOIN ivf_topk i ON i.query_id = x.query_id AND i.vec_id = x.vec_id
GROUP BY x.query_id
"""


# --------------------------------------------------------------------------
# semantic_dedup — cluster-prefiltered embedding near-dup (the scale path)
# --------------------------------------------------------------------------

_SEM_THRESH = 0.999


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, scale path: assign every embedding to its nearest
    seed centroid (vec_id < 8), then search for near-duplicate pairs ONLY
    within a cluster — O(sum k_i^2) instead of the O(n^2) all-pairs join
    (at 100 TB, k ~ sqrt(n) clusters makes each bucket self-join small and
    the shuffle key is the cluster id). Planted positives: every 50th
    vector reappears with a deterministic per-dimension perturbation; the
    pair filter is cosine >= 0.999, far above random 64-dim cosines
    (~N(0, 1/8)) and below the planted ~0.999999, so FP drift can't flip
    membership. Fully oracle-checked — same augmentation, same seeds,
    same arithmetic in DuckDB."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        # NULL vector = no geometry; a NULL row among the seed ids would
        # otherwise split the engines on NULL-distance placement (see
        # q_kmeans_assign)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    )
    emb = emb.repartition(spark.sparkContext.defaultParallelism, "vec_id")
    pert = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "v",
            lambda x, i: x * (F.lit(1.0) + F.lit(0.0005) * (((i + 1) % 7) - F.lit(3.0))),
        ).alias("v"),
    )
    aug = emb.unionByName(pert)
    seeds = emb.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cluster"), F.col("v").alias("c")
    )
    d = aug.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "v", "cluster", _sq_dist(F.col("v"), F.col("c")).alias("dist")
    )
    assigned = (
        d.groupBy("vec_id", "v")
        .agg(F.min(F.struct("dist", "cluster")).alias("best"))
        .select("vec_id", "v", F.col("best.cluster").alias("cluster"))
    )
    # norms precompute per ROW before the pair join — computing them per
    # PAIR (the naive form) does O(pairs * dim) redundant work inside the
    # join, the dominant cost of a bucket self-join at scale
    norm = F.sqrt(
        F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    sides = assigned.withColumn("nrm", norm)
    a = sides.select("cluster", F.col("vec_id").alias("id_a"),
                     F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = sides.select("cluster", F.col("vec_id").alias("id_b"),
                     F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    # zero-norm guard (same contract as operators.similarity.cosine_expr):
    # a zero vector has cosine 0 to everything, not a divide-by-zero abort
    denom = F.col("na") * F.col("nb")
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.when(denom == 0, F.lit(0.0)).otherwise(dot / denom))
        .filter(F.col("cos") >= _SEM_THRESH)
    )
    return pairs.select("cluster", "id_a", "id_b", F.round("cos", 6).alias("cos"))


SQL_SEMANTIC_DEDUP = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
), aug AS (
  SELECT vec_id, v FROM emb
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(range(1, len(v) + 1),
                        i -> v[i] * (1.0 + 0.0005 * ((i % 7) - 3.0))) AS v
  FROM emb WHERE vec_id % 50 = 0
), seeds AS (
  SELECT vec_id AS cluster, v AS c FROM emb WHERE vec_id < {_KM_K}
), assigned AS (
  SELECT vec_id, v, cluster FROM (
    SELECT a.vec_id, a.v, s.cluster,
           list_sum(list_transform(range(1, len(a.v) + 1),
                                   i -> (a.v[i] - s.c[i]) * (a.v[i] - s.c[i]))) AS dist
    FROM aug a CROSS JOIN seeds s
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
)
SELECT cluster, id_a, id_b, round(cos, 6) AS cos FROM (
  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
         CASE WHEN sqrt(list_sum(list_transform(a.v, x -> x * x)))
                   * sqrt(list_sum(list_transform(b.v, x -> x * x))) = 0
              THEN 0.0
              ELSE list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
                   / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(b.v, x -> x * x)))) END AS cos
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
) WHERE cos >= {_SEM_THRESH}
"""


# --------------------------------------------------------------------------
# knn_classify — leave-one-out 5-NN majority-vote accuracy per label
# --------------------------------------------------------------------------

def _knn_vote_accuracy(emb: DataFrame, nbrs: DataFrame, cutoff: int = 100) -> DataFrame:
    """Shared kNN tail for both neighbor generators (exact
    ``brute_force_topk`` and SRP-LSH): label lookup with the
    |queries| x k neighbor frame broadcast into the corpus scan,
    majority vote with the (count desc, label asc) argmax tie-break,
    and the per-label accuracy table. One tie-break rule, one place —
    mirrored once in ``_DUCK_KNN_TAIL``."""
    labeled = emb.select("vec_id", "label").join(
        F.broadcast(nbrs.select("query_id", "vec_id")), "vec_id"
    )
    votes = labeled.groupBy("query_id", "label").agg(F.count("*").alias("c"))
    w = Window.partitionBy("query_id").orderBy(F.desc("c"), F.col("label"))
    pred = (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("query_id", F.col("label").alias("pred_label"))
    )
    truth = emb.filter(F.col("vec_id") < cutoff).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    correct = F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    return (
        pred.join(F.broadcast(truth), "query_id")
        .withColumn("correct", correct)
        .groupBy("true_label")
        .agg(
            F.count("*").alias("n"),
            F.sum("correct").alias("n_correct"),
            F.round(F.avg(F.col("correct").cast("double")), 6).alias("accuracy"),
        )
    )


# vote -> argmax -> accuracy, shared by both kNN oracles; {scored} is the
# CTE holding (query_id, vec_id, sim) from whichever neighbor generator
_DUCK_KNN_TAIL = """
nbrs AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
    FROM {scored}
  ) WHERE rnk <= 5
),
votes AS (
  SELECT n.query_id, e.label, count(*) AS c
  FROM nbrs n JOIN embeddings e USING (vec_id)
  GROUP BY 1, 2
),
pred AS (
  SELECT query_id, label AS pred_label FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, label) AS r
    FROM votes
  ) WHERE r = 1
),
truth AS (
  SELECT vec_id AS query_id, label AS true_label
  FROM embeddings WHERE vec_id < 100
)
SELECT truth.true_label,
       count(*) AS n,
       CAST(sum(CASE WHEN p.pred_label = truth.true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(avg(CASE WHEN p.pred_label = truth.true_label THEN 1.0 ELSE 0.0 END), 6) AS accuracy
FROM pred p JOIN truth USING (query_id)
GROUP BY 1
"""


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X27 — per-label accuracy of a leave-one-out 5-NN majority-vote
    classifier over ``embeddings`` (query set: vec_id < 100).

    Determinism: neighbor rank breaks ties on (rounded sim desc, vec_id
    asc) inside brute_force_topk; the vote argmax breaks count ties on
    the smaller label. Both rules are mirrored in the oracle.

    r13: the corpus side arrives via ``_emb`` (spread across cores) —
    the |corpus| x |queries| cosine fold previously ran on the parquet
    scan's single input split.
    """

    emb_raw = load_table(spark, sf_dir, "embeddings")
    queries = emb_raw.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )  # broadcast side: built from the raw scan, no spread shuffle
    nbrs = brute_force_topk(_emb(spark, sf_dir), queries, k=5)
    return _knn_vote_accuracy(emb_raw, nbrs)


SQL_KNN_CLASSIFY = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv
  FROM embeddings WHERE vec_id < 100 AND embedding IS NOT NULL
),
scored AS (
  SELECT q.query_id, e.vec_id, {_DUCK_COS} AS sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id AND e.embedding IS NOT NULL
),
""" + _DUCK_KNN_TAIL.format(scored="scored")


def q_knn_classify_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X27 scale path — the same leave-one-out 5-NN vote, but neighbors
    come from the SRP-LSH candidate generator (4 tables x 10 sign bits,
    Hamming-1 multi-probe) instead of the exact corpus scan: the shape
    that holds when the query side is itself large (candidates form via
    the (table, bucket)-keyed join, never a full cross product).

    Fully oracle-checked like ``topk_cosine_lsh``: the seeded planes are
    embedded in the SQL as sign-bit masks and the whole bucket ->
    probe -> candidate -> re-rank -> vote pipeline is re-derived in
    DuckDB. Queries with zero LSH candidates drop out of the accuracy
    table in both engines (same inner joins).
    """

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    nbrs = lsh_bucket_topk(emb, queries, k=5, planes=10, dim=64)
    return _knn_vote_accuracy(emb, nbrs)


def _sql_knn_classify_lsh() -> str:
    """Oracle: the SRP pipeline of SQL_TOPK_COSINE_LSH with
    the query cutoff at 100 plus the vote/argmax/accuracy tail."""

    cos = _DUCK_COS.replace("q.qv", "q2.qv")
    return f"""
WITH planes(tbl, p, mask) AS (VALUES {_srp_mask_values()}),
bits AS (
  SELECT e.vec_id, pl.tbl,
         CAST(sum(CASE WHEN list_sum(list_transform(range(64),
               i -> CAST(e.embedding[i + 1] AS DOUBLE) *
                    (CASE WHEN ((pl.mask >> i) & 1) = 1 THEN 1.0 ELSE -1.0 END)
             )) >= 0 THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings e CROSS JOIN planes pl
  WHERE e.embedding IS NOT NULL  -- NULL vectors have no geometry
  GROUP BY e.vec_id, pl.tbl
),
qb AS (SELECT vec_id AS query_id, tbl, bucket FROM bits WHERE vec_id < 100),
probes AS (
  SELECT query_id, tbl, bucket FROM qb
  UNION ALL
  SELECT query_id, tbl, xor(bucket, CAST(1 AS BIGINT) << pp.p) AS bucket
  FROM qb CROSS JOIN (SELECT unnest(range(10)) AS p) pp
),
cand AS (
  SELECT DISTINCT pr.query_id, b.vec_id
  FROM probes pr JOIN bits b USING (tbl, bucket)
  WHERE b.vec_id != pr.query_id
),
lsh_scored AS (
  SELECT c.query_id, e.vec_id, {cos} AS sim
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN (SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 100 AND embedding IS NOT NULL) q2 ON q2.query_id = c.query_id
),
""" + _DUCK_KNN_TAIL.format(scored="lsh_scored")


SQL_KNN_CLASSIFY_LSH = _sql_knn_classify_lsh()


# --------------------------------------------------------------------------
# hard_negatives — triplet mining for embedding training
# --------------------------------------------------------------------------

def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X33 — hard positive/negative mining, the triplet-selection step of
    contrastive embedding training: for each anchor (vec_id < 100), the
    most-similar vector sharing its label (hardest positive) and the
    most-similar vector with a DIFFERENT label (hardest negative), plus
    the margin between them — anchors with a negative margin are the
    pairs a triplet loss actually learns from.

    Scale shape: the anchor set broadcasts into ONE corpus scan, and the
    per-(anchor, side) argmax is a struct-max aggregation — map-side
    combinable, so the |corpus| x |anchors| scored stream reduces to two
    rows per anchor inside each task before any shuffle (no window over
    the scored frame). Both norms are hoisted to once-per-ROW columns
    below the join (r12 — the scored stream previously re-folded BOTH
    vector norms per PAIR, 3x the O(dim) work; same fold expressions,
    same denominator product, so every 4-dp round and the oracle hash
    are unchanged). The brute-force scan is the exact baseline;
    ``hard_negatives_lsh`` is the same miner over the SRP-LSH candidate
    generator — the proven swap when the corpus or anchor side grows.
    Ties break on (sim desc, vec_id
    asc) via the struct's (sim, -vec_id) ordering, mirrored in the
    oracle's row_number.
    """
    from amazon_macie_activity_generator_spark.operators.similarity import (
        dot_expr,
        norm_expr,
    )

    # NULL vectors out on both sides (brute_force_topk's rule): a NULL
    # sim inside the struct-max would resolve by engine NULL semantics.
    # _emb spreads the one-input-split table across cores (r13): the
    # |corpus| x |anchors| fold below is the CPU cost, and unspread it
    # ran on the scan's single task.
    emb = _emb(spark, sf_dir).filter(
        F.col("embedding").isNotNull()
    ).withColumn("nrm", norm_expr(F.col("embedding")))
    anchors = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.col("vec_id") < 100))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("q_label"),
            norm_expr(F.col("embedding")).alias("qn"),
        )
    )  # broadcast side: built from the raw scan, no spread shuffle
    denom = F.col("nrm") * F.col("qn")
    sim = F.round(
        F.when(denom == 0, F.lit(0.0)).otherwise(
            dot_expr(F.col("embedding"), F.col("qv")) / denom),
        4,
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "q_label",
            (F.col("label") == F.col("q_label")).alias("is_pos"),
            F.struct(
                sim.alias("sim"),
                (-F.col("vec_id")).alias("nv"),
                F.col("vec_id").alias("vid"),
            ).alias("cand"),
        )
    )
    best = scored.groupBy("query_id", "q_label", "is_pos").agg(F.max("cand").alias("b"))
    pos = best.filter(F.col("is_pos")).select(
        "query_id", F.col("q_label").alias("label"),
        F.col("b.vid").alias("pos_id"), F.col("b.sim").alias("pos_sim"),
    )
    neg = best.filter(~F.col("is_pos")).select(
        "query_id", F.col("b.vid").alias("neg_id"), F.col("b.sim").alias("neg_sim"),
    )
    return pos.join(neg, "query_id").select(
        "query_id", "label", "pos_id", "pos_sim", "neg_id", "neg_sim",
        F.round(F.col("pos_sim") - F.col("neg_sim"), 4).alias("margin"),
    )


SQL_HARD_NEGATIVES = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS q_label
  FROM embeddings WHERE vec_id < 100 AND embedding IS NOT NULL
),
scored AS (
  SELECT q.query_id, q.q_label, e.vec_id, e.label, {cos} AS sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id AND e.embedding IS NOT NULL
),
best AS (
  SELECT query_id, q_label, (label = q_label) AS is_pos, vec_id, sim,
         row_number() OVER (PARTITION BY query_id, (label = q_label)
                            ORDER BY sim DESC, vec_id) AS r
  FROM scored
)
SELECT p.query_id, p.q_label AS label,
       p.vec_id AS pos_id, p.sim AS pos_sim,
       n.vec_id AS neg_id, n.sim AS neg_sim,
       round(p.sim - n.sim, 4) AS margin
FROM best p JOIN best n ON n.query_id = p.query_id
WHERE p.is_pos AND p.r = 1 AND (NOT n.is_pos) AND n.r = 1
""".format(cos=_DUCK_COS)


def q_hard_negatives_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X33 scale path — the same triplet mining, but candidates come from
    the SRP-LSH generator (4 tables x 10 sign bits, Hamming-1
    multi-probe) instead of the exact |corpus| x |anchors| scan: the
    swap ``q_hard_negatives`` names as its scale path, proven end-to-end.
    The candidate label rides the corpus scan (``corpus_carry``), so the
    per-(anchor, side) struct-max argmax runs directly on the
    (table, bucket)-keyed candidate stream — still map-side combinable,
    still no window, and no second corpus join for labels. Anchors whose
    candidate set lacks a positive or a negative drop out via the final
    inner join, in both engines.

    "Hard" under LSH means hardest IN-BUCKET candidate — for negatives
    that is exactly the semi-hard mining regime used at scale (near-
    collisions are the informative negatives); agreement with the exact
    miner is pinned in tests/test_ext5_lsh.py rather than by hash (the
    candidate sets legitimately differ).
    """
    from amazon_macie_activity_generator_spark.operators.similarity import (
        lsh_scored_candidates,
    )

    emb = _emb(spark, sf_dir)
    anchors = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"),
        "embedding",
        F.col("label").alias("q_label"),
    )
    scored = lsh_scored_candidates(
        emb,
        anchors.select("query_id", "embedding"),
        planes=10,
        dim=64,
        corpus_carry=("label",),
    )
    cand = scored.join(
        F.broadcast(anchors.select("query_id", "q_label")), "query_id"
    ).select(
        "query_id", "q_label",
        (F.col("label") == F.col("q_label")).alias("is_pos"),
        F.struct(
            F.col("sim").alias("sim"),
            (-F.col("vec_id")).alias("nv"),
            F.col("vec_id").alias("vid"),
        ).alias("cand"),
    )
    best = cand.groupBy("query_id", "q_label", "is_pos").agg(F.max("cand").alias("b"))
    pos = best.filter(F.col("is_pos")).select(
        "query_id", F.col("q_label").alias("label"),
        F.col("b.vid").alias("pos_id"), F.col("b.sim").alias("pos_sim"),
    )
    neg = best.filter(~F.col("is_pos")).select(
        "query_id", F.col("b.vid").alias("neg_id"), F.col("b.sim").alias("neg_sim"),
    )
    return pos.join(neg, "query_id").select(
        "query_id", "label", "pos_id", "pos_sim", "neg_id", "neg_sim",
        F.round(F.col("pos_sim") - F.col("neg_sim"), 4).alias("margin"),
    )


def _sql_hard_negatives_lsh() -> str:
    """Oracle: the SRP bucket -> probe -> candidate pipeline of
    ``_sql_knn_classify_lsh`` (same seeded planes as sign-bit masks,
    query cutoff 100) feeding the hard-negatives argmax tail of
    ``SQL_HARD_NEGATIVES``."""

    cos = _DUCK_COS.replace("q.qv", "q2.qv")
    return f"""
WITH planes(tbl, p, mask) AS (VALUES {_srp_mask_values()}),
bits AS (
  SELECT e.vec_id, pl.tbl,
         CAST(sum(CASE WHEN list_sum(list_transform(range(64),
               i -> CAST(e.embedding[i + 1] AS DOUBLE) *
                    (CASE WHEN ((pl.mask >> i) & 1) = 1 THEN 1.0 ELSE -1.0 END)
             )) >= 0 THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings e CROSS JOIN planes pl
  WHERE e.embedding IS NOT NULL  -- NULL vectors have no geometry
  GROUP BY e.vec_id, pl.tbl
),
qb AS (SELECT vec_id AS query_id, tbl, bucket FROM bits WHERE vec_id < 100),
probes AS (
  SELECT query_id, tbl, bucket FROM qb
  UNION ALL
  SELECT query_id, tbl, xor(bucket, CAST(1 AS BIGINT) << pp.p) AS bucket
  FROM qb CROSS JOIN (SELECT unnest(range(10)) AS p) pp
),
cand AS (
  SELECT DISTINCT pr.query_id, b.vec_id
  FROM probes pr JOIN bits b USING (tbl, bucket)
  WHERE b.vec_id != pr.query_id
),
scored AS (
  SELECT c.query_id, q2.q_label, e.vec_id, e.label, {cos} AS sim
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN (SELECT vec_id AS query_id, embedding AS qv, label AS q_label
        FROM embeddings WHERE vec_id < 100 AND embedding IS NOT NULL) q2 ON q2.query_id = c.query_id
),
best AS (
  SELECT query_id, q_label, (label = q_label) AS is_pos, vec_id, sim,
         row_number() OVER (PARTITION BY query_id, (label = q_label)
                            ORDER BY sim DESC, vec_id) AS r
  FROM scored
)
SELECT p.query_id, p.q_label AS label,
       p.vec_id AS pos_id, p.sim AS pos_sim,
       n.vec_id AS neg_id, n.sim AS neg_sim,
       round(p.sim - n.sim, 4) AS margin
FROM best p JOIN best n ON n.query_id = p.query_id
WHERE p.is_pos AND p.r = 1 AND (NOT n.is_pos) AND n.r = 1
"""


SQL_HARD_NEGATIVES_LSH = _sql_hard_negatives_lsh()


def q_embedding_finite_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2d-g — ingest-time embedding validation gate (round 7): classify
    every vector as ``null`` / ``empty`` / ``non_finite`` (any component
    that is NULL, NaN, or ±Inf — fp overflow happens at crawl scale) /
    ``wrong_dim`` (length differs from the corpus's MODAL length —
    ragged encodes are routine in a 100 TB re-ingest, have no geometry
    against the corpus, and crashed every numpy kernel path before the
    zero-fill guards) / ``zero_norm`` / ``ok``, with per-class counts.
    The quarantine step the similarity geometry assumes ran: downstream
    cosine/LSH/IVF operators are specified over gated (``ok``) vectors,
    and ``quantize_int8`` additionally hard-guards because a cast of
    round(NaN) to int is a job-killing CAST_OVERFLOW under ANSI mode.
    The component predicate is `similarity.nonfinite_component` — ONE
    definition shared with the quantizer and both SQL twins.

    Map-only single pass (one exists() + one aggregate() per vector)
    plus a count-per-length aggregate folded to a broadcast one-row
    modal frame, then a 6-group aggregation — at 100 TB this is
    scan-bound, shuffles a handful of rows per task. The zero_norm fold
    runs AFTER the non_finite branch, so it only ever sees fully-finite
    components (a NULL element would make the fold NULL and SQL's
    NULL-skipping sum 0 — divergent). Modal tie-break: larger count,
    then SMALLER length — mirrored in the oracle's ORDER BY."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    # modal length as a LAZY one-row broadcast (max over (count, -len)
    # structs == largest count, smallest len; NULL struct on an
    # all-NULL/empty corpus, in which case no row reaches wrong_dim)
    modal = (
        emb.where(e.isNotNull())
        .groupBy(F.size(e).alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max(F.struct(F.col("c"), (-F.col("d")).alias("nd"))).alias("m"))
        .select((-F.col("m.nd")).alias("_modal_dim"))
    )
    sumsq = F.aggregate(
        e, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    status = (
        F.when(e.isNull(), F.lit("null"))
        .when(F.size(e) == 0, F.lit("empty"))
        .when(F.exists(e, nonfinite_component), F.lit("non_finite"))
        .when(F.size(e) != F.col("_modal_dim"), F.lit("wrong_dim"))
        .when(sumsq == 0, F.lit("zero_norm"))
        .otherwise(F.lit("ok"))
    )
    return (
        emb.crossJoin(F.broadcast(modal))
        .select(status.alias("status"), "vec_id")
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("first_vec_id"))
    )


SQL_EMBEDDING_FINITE_GATE = f"""
WITH dims AS (
  SELECT len(embedding) AS d, count(*) AS c FROM embeddings
  WHERE embedding IS NOT NULL GROUP BY 1
), modal AS (
  -- largest count, then SMALLER length (mirrors the Spark struct-max)
  SELECT d FROM dims ORDER BY c DESC, d ASC LIMIT 1
), cls AS (
  SELECT vec_id,
         CASE WHEN embedding IS NULL THEN 'null'
              WHEN len(embedding) = 0 THEN 'empty'
              WHEN len(list_filter(embedding, x -> {NONFINITE_COMPONENT_SQL})) > 0 THEN 'non_finite'
              WHEN len(embedding) <> (SELECT d FROM modal) THEN 'wrong_dim'
              WHEN list_aggregate(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') = 0 THEN 'zero_norm'
              ELSE 'ok' END AS status
  FROM embeddings
)
SELECT status, count(*) AS n_vectors, min(vec_id) AS first_vec_id
FROM cls GROUP BY status
"""


def q_vec_id_unique_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings half of the primary-key gate: duplicate ``vec_id`` rows
    (re-encoded shards landing twice) made kNN/LSH/kmeans entries diverge
    in the same probe. Unlike documents there is no portable content hash
    for a float vector (string formatting of floats differs per engine),
    so this half DETECTS — per-id row count and whether the duplicate
    rows are at least norm-identical after 6-dp rounding — and the
    contract requires upstream resolution; downstream similarity
    operators are specified over unique-id corpora. Scan + one hash agg,
    scale-safe."""
    emb = load_table(spark, sf_dir, "embeddings")
    # empty vector -> NULL norm explicitly: Spark's aggregate() seed sums
    # [] to 0.0 where DuckDB's list_aggregate([],'sum') is NULL (the
    # pinned empty-sum trap) — countDistinct skips NULL in both engines
    # round_fixed, not native round(): the norm fingerprint is exactly the
    # derived-value class whose half boundaries diverge cross-engine
    norm6 = F.when(
        F.size("embedding") > 0,
        round_fixed(
            F.sqrt(
                F.aggregate(
                    F.col("embedding"),
                    F.lit(0.0),
                    lambda a, x: a + x.cast("double") * x.cast("double"),
                )
            ),
            6,
        ),
    )
    agg = emb.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(norm6).alias("n_norms"),
    )
    status = (
        F.when(F.col("n_rows") == 1, F.lit("unique"))
        .when(F.col("n_norms") == 1, F.lit("dup_same_norm"))
        .otherwise(F.lit("dup_conflict"))
    )
    return agg.select("vec_id", "n_rows", status.alias("status"))


SQL_VEC_ID_UNIQUE_AUDIT = f"""
WITH agg AS (
  SELECT vec_id,
         count(*) AS n_rows,
         count(DISTINCT {sql_round_fixed(
             "sqrt(list_aggregate(list_transform(embedding, "
             "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))", 6)}) AS n_norms
  FROM embeddings GROUP BY vec_id
)
SELECT vec_id, n_rows,
       CASE WHEN n_rows = 1 THEN 'unique'
            WHEN n_norms = 1 THEN 'dup_same_norm'
            ELSE 'dup_conflict' END AS status
FROM agg
"""
