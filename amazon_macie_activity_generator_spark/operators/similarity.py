"""X3 — similarity search over embedding columns (array<float>).

Two paths:
- ``brute_force_topk``: exact cosine top-k. Query side broadcast, cosine
  as a pure zip_with/aggregate expression (JVM codegen), per-query top-k
  via a window over the query key — the window partitions by query id,
  so no global sort. The right baseline, and exact.
- ``lsh_bucket_topk``: scale path 1 — random-hyperplane LSH (Charikar
  '02 SRP): seeded deterministic Rademacher planes, bucket id = sign-bit
  string (one numpy matmul in an Arrow UDF, ``srp_buckets_arrow``;
  the DuckDB oracles re-derive the same buckets from the planes as
  sign-bit masks), candidates = bucket collisions under multi-probe (all
  Hamming-1 neighbors), exact cosine re-rank within candidates. At
  100 TB: corpus bucketing is one narrow pass; queries join only their
  probe buckets instead of the full corpus.
- ``ivf_topk``: scale path 2 — IVF-flat: k-means coarse quantizer
  (centroids on the driver, broadcast into the assignment UDF),
  inverted lists keyed by cluster, nprobe probing, exact re-rank.

``embedding_near_dup`` finds near-duplicate pairs with the same SRP
buckets: pairs form per bucket through ``skew.bucket_pairs`` (the one
size rule of every LSH bucket table), then an exact cosine filter.

Cosine accumulates in float64 in deterministic index order (matters for
cross-engine oracle parity).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from amazon_macie_activity_generator_spark.cache import scoped_persist
from amazon_macie_activity_generator_spark.operators.skew import bucket_pairs


def _dvec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double."""
    return F.aggregate(
        F.zip_with(_dvec(a), _dvec(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(_dvec(a), F.lit(0.0), lambda acc, x: acc + x * x))


def pair_dot_arrow():
    """Arrow-vectorized pair dot product, bit-identical to ``dot_expr``:
    elementwise multiply then a row-wise float64 CUMSUM — cumsum
    accumulates strictly left-to-right, the same association as the
    sequential left fold, so values (and 4-dp rounds, and oracle
    hashes) are unchanged.

    Tradeoff (measured, scripts/scale_probe.py on an 8x corpus):
    at dim=64 the JVM left-fold WON 4.0 s vs 9.6 s end-to-end — the
    Arrow path must materialize both pair vectors into an
    ArrowEvalPython stage (~1 KB/pair of transfer) while the fold
    streams inside the join's output projection.  This primitive pays
    off only when per-pair compute dominates per-pair transfer (much
    larger dim, or reuse of the moved batch for several measures);
    otherwise prefer ``dot_expr``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.vstack([np.asarray(v, dtype=np.float64) for v in a])
        B = np.vstack([np.asarray(v, dtype=np.float64) for v in b])
        return pd.Series((A * B).cumsum(axis=1, dtype=np.float64)[:, -1])

    return pair_dot


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine of ``a`` and ``b`` given their norms — the form every scored
    join uses with norms hoisted to once-per-row columns. Zero-norm guard:
    a zero vector has cosine 0 to everything, not a divide-by-zero."""
    denom = na * nb
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot_expr(a, b) / denom)


def cosine_expr(a: Column, b: Column) -> Column:
    return cosine_from_norms(a, b, norm_expr(a), norm_expr(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k: (query_id, vec_id, sim) — k rows per query.

    Ties broken by rounded sim desc then vec_id asc, so results are
    fully deterministic (and cross-engine stable).

    Norms are hoisted to per-ROW columns on both sides before the join
    (same move as embedding_near_dup / semantic_dedup): computing them
    per PAIR does O(pairs * dim) redundant work inside the join — the
    dominant cost once |queries| grows. Bit-identical to cosine_expr
    (same ops, same zero-norm contract), so oracle hashes are unchanged.

    NULL vectors are excluded on both sides (no geometry — and a NULL
    sim in the rank window would depend on engine NULL placement, which
    DuckDB's parallel sort applies UNSTABLY; mirrored as
    embedding IS NOT NULL in every exact-scored oracle CTE)."""
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    queries = queries.filter(F.col(vec_col).isNotNull())
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        norm_expr(F.col(vec_col)).alias("__qn"),
    )
    corpus_n = corpus.select(
        F.col(id_col), F.col(vec_col), norm_expr(F.col(vec_col)).alias("__cn")
    )
    joined = corpus_n.crossJoin(F.broadcast(q)).filter(
        F.col(query_id_col) != F.col(id_col)
    )
    sim = F.round(
        cosine_from_norms(F.col(vec_col), F.col("__qvec"), F.col("__cn"), F.col("__qn")),
        4,
    )
    scored = joined.select(query_id_col, id_col, sim.alias("sim"))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


# ------------------------------------------------------------- LSH / ANN

def nonfinite_component(x: Column) -> Column:
    """A vector component with no finite value: NULL (ragged/partial
    encode), NaN, or ±Inf (fp overflow). ONE predicate shared by the
    ingest gate and quantize_int8's guard, with `NONFINITE_COMPONENT_SQL`
    as its DuckDB twin — the four call sites must never drift. NULL is
    checked explicitly so exists() gets a definite TRUE, not three-valued
    NULL (isnan(NULL)|.. would be NULL, silently diverging from the SQL
    list_filter, which treats a NULL predicate as no-match)."""
    return x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf")))


# DuckDB twin of nonfinite_component (the lambda body, variable `x`)
NONFINITE_COMPONENT_SQL = "x IS NULL OR isnan(x) OR isinf(x)"


def srp_planes(dim: int, planes: int, salt: str = "srp") -> list[list[float]]:
    """Deterministic Rademacher (±1) hyperplanes, seeded by (salt, planes,
    dim) — identical on every executor and across runs by construction."""
    import random

    rnd = random.Random(f"{salt}:{planes}:{dim}")
    return [[1.0 if rnd.random() < 0.5 else -1.0 for _ in range(dim)] for _ in range(planes)]


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """MODAL vector length over the FULL corpus, not the first row's and
    not a sample's: one ragged row at the head would size the plane
    matrix wrong and zero-bucket every well-formed vector (collapsing
    LSH into one quadratic bucket), and a limit() sample is
    nondeterministic AND loses to a ragged re-encoded shard that fills
    the first partitions read — exactly the input this guard exists for.
    Must also match embedding_finite_gate's full-corpus modal, or the
    fit could drop every gate-'ok' vector. Cost: one map-side-combinable
    (length, count) aggregation — a single narrow extra pass next to the
    many corpus scans the fit/bucketing work already does."""
    row = (
        df.where(F.col(vec_col).isNotNull())
        .groupBy(F.size(F.col(vec_col)).alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("d"))
        .first()
    )
    # empty corpus: the plane matrix is never applied to a row, any
    # positive dim keeps construction (and the downstream plan) valid
    return row["d"] if row is not None and row["d"] else 1


def srp_buckets_arrow(mats: list[list[list[float]]]):
    """All tables' bucket ids in ONE vectorized pass: a pandas UDF whose
    body is a single (batch x dim) @ (dim x tables*planes) matmul + sign
    bit-pack. Higher-order-function lambdas evaluate interpreted at ~1us
    per element — a 4-table expression form measured 11s on 2k vectors
    where this takes milliseconds. Bit p is set iff the dot with plane p
    is >= 0; the LSH entries' DuckDB oracles re-derive the same buckets.

    NULL- and RAGGED-safe: a NULL vector row, or one whose length is not
    the plane dim (ragged encodes happen at crawl scale), buckets as the
    zero vector (every dot is 0, so >= 0 sets every bit) instead of
    killing the whole job with an inhomogeneous-batch numpy error — at
    100 TB one malformed row must not fail the stage. Callers that want
    such vectors OUT of the candidate space (every catalog LSH entry
    does) filter before bucketing; this fallback is only the
    defense-in-depth for direct users."""
    from pyspark.sql.functions import pandas_udf

    W = np.asarray(mats, dtype=np.float64)  # (tables, planes, dim)
    n_tables, n_planes, _dim = W.shape
    Wf = W.reshape(n_tables * n_planes, _dim)
    pows = 1 << np.arange(n_planes, dtype=np.int64)
    zero = np.zeros(_dim, dtype=np.float64)

    @pandas_udf("array<long>")
    def buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        V = np.asarray([
            zero if v is None or len(v) != _dim
            else np.asarray(v, dtype=np.float64)
            for v in vs
        ])
        S = V @ Wf.T  # (n, tables*planes)
        bits = (S >= 0).astype(np.int64).reshape(len(V), n_tables, n_planes)
        out = (bits * pows).sum(axis=2)  # (n, tables)
        return pd.Series(list(out))

    return buckets


def lsh_scored_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    planes: int = 12,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
    corpus_carry: tuple[str, ...] = (),
) -> DataFrame:
    """The SRP-LSH candidate generator shared by ``lsh_bucket_topk`` and
    the triplet miner: ``tables`` independent hash tables of ``planes``
    sign bits each (AND within a table, OR across tables), plus
    Hamming-1 multi-probe on the query side, exact-cosine scoring of the
    distinct (query, candidate) pairs. Returns (query_id, id,
    *corpus_carry, sim) — ``corpus_carry`` columns (e.g. a label) ride
    the corpus scan so consumers need no second corpus join.

    The corpus pass is one narrow projection (id, vec, carry, table,
    bucket); the join key (table, bucket) shuffles candidates only. Both
    the cast vector and each table's bucket are bound as lambda
    arguments — the naive form re-evaluated the 12-plane projection once
    per probe entry (13x per table)."""
    dim = dim if dim is not None else _infer_dim(corpus, vec_col)
    mats = [srp_planes(dim, planes, salt=f"srp{t}") for t in range(tables)]
    pow2 = F.array(*[F.lit(1 << p).cast("long") for p in range(planes)])
    budf = srp_buckets_arrow(mats)

    # NULL vectors have no geometry: excluded from both sides (mirrored
    # as WHERE embedding IS NOT NULL in every LSH oracle). Wrong-dim
    # vectors have no geometry either — unfiltered they would zero-fill
    # to the all-bits bucket in EVERY table and surface as NULL-sim rows
    # in the top-k (the LSH oracle twins are fixed-dim plane models, so
    # gated corpora never contain them; this keeps raw corpora sane too)
    corpus = corpus.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    )
    queries = queries.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    )

    # (id, vec, norm, carry, tbl, bucket): posexplode of the per-table
    # buckets. Norms are hoisted to once-per-ROW columns here (r12) —
    # scoring previously re-folded BOTH vector norms per candidate PAIR;
    # same fold expressions and same denominator product, so every 4-dp
    # round (and every LSH oracle hash) is unchanged.
    c = corpus.select(
        F.col(id_col), F.col(vec_col), *[F.col(cc) for cc in corpus_carry],
        norm_expr(F.col(vec_col)).alias("__cnrm"),
        F.posexplode(budf(F.col(vec_col))).alias("tbl", "bucket"),
    )
    # query side: exact bucket + all Hamming-1 probes, XOR'd from the
    # already-materialized bucket value (cheap long ops, no re-projection)
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec"),
        norm_expr(F.col(vec_col)).alias("__qnrm"),
        F.posexplode(budf(F.col(vec_col))).alias("tbl", "b0"),
    ).select(
        query_id_col, "__qvec", "__qnrm", "tbl",
        F.explode(
            F.concat(
                F.array(F.col("b0")),
                F.transform(pow2, lambda pw: F.col("b0").bitwiseXOR(pw)),
            )
        ).alias("bucket"),
    )

    cand = c.join(q, on=["tbl", "bucket"]).filter(F.col(query_id_col) != F.col(id_col))
    sim = F.round(
        cosine_from_norms(F.col(vec_col), F.col("__qvec"), F.col("__cnrm"), F.col("__qnrm")),
        4,
    )
    # repartition BEFORE dropDuplicates (r13, guide §2.4):
    # HashPartitioning(query_id) satisfies the (query_id, id) dedup
    # clustering AND every consumer's downstream distribution — the
    # top-k window and the vote/argmax aggregates all key on query_id —
    # so the pipeline runs on ONE candidate shuffle instead of a
    # (query_id, id) dedup exchange followed by a query_id re-shuffle.
    return (
        cand.select(query_id_col, id_col, *corpus_carry, sim.alias("sim"))
        .repartition(query_id_col)
        .dropDuplicates([query_id_col, id_col])
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 12,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k over the SRP-LSH candidate generator (see
    ``lsh_scored_candidates``): exact-cosine re-rank of candidates,
    (sim desc, id asc) tie-break. Recall/cost tunes with (planes,
    tables): fewer planes or more tables = bigger candidate sets =
    higher recall."""
    scored = lsh_scored_candidates(
        corpus, queries, planes, tables, id_col, vec_col, query_id_col, dim
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


# ------------------------------------------------------------- IVF / ANN

def _assign_udf(centroids: np.ndarray, n_nearest: int = 1):
    """pandas UDF: indexes of the n nearest centroids (L2) per vector —
    one matmul per Arrow batch, centroids broadcast in the closure.
    NULL- and ragged-safe like ``srp_buckets_arrow``: a NULL or
    wrong-dim vector assigns as the zero vector rather than crashing
    the batch."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)          # (k, dim)
    c_sq = (C * C).sum(axis=1)                            # (k,)
    _dim = C.shape[1]
    zero = np.zeros(_dim, dtype=np.float64)

    @pandas_udf("array<int>")
    def assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        V = np.asarray([
            zero if v is None or len(v) != _dim
            else np.asarray(v, dtype=np.float64)
            for v in vs
        ])
        d = c_sq[None, :] - 2.0 * (V @ C.T)               # + |v|^2, constant per row
        idx = np.argsort(d, axis=1)[:, :n_nearest].astype(np.int32)
        return pd.Series(list(idx))

    return assign


def kmeans_fit(
    df: DataFrame,
    k: int = 16,
    max_iter: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Lloyd's k-means for the IVF coarse quantizer, Spark-shaped:
    centroids live on the driver (k x dim — tiny) and broadcast into an
    Arrow-batched assignment UDF each round; the update is one
    posexplode + groupBy(cluster, pos) avg. Deterministic init: the k
    lowest-id vectors (stable across partitionings). This is the same
    structure MLlib uses — per-iteration work is a single keyed shuffle
    of (cluster, pos, value), never vectors to the driver.

    Fit is over MODAL-dim vectors only: a ragged vector among the k
    lowest ids would crash the init asarray, and its posexplode
    positions past the centroid dim would index out of bounds in the
    update — no geometry at the wrong dim."""
    dim = _infer_dim(df, vec_col)
    df = (
        df.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim))
        .persist()
    )
    init = (
        df.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    if not init:  # empty corpus -> no clusters; callers assign nothing
        df.unpersist()
        return np.zeros((1, 1), dtype=np.float64)
    centroids = np.asarray([list(r[0]) for r in init], dtype=np.float64)
    for _ in range(max_iter):
        assign = _assign_udf(centroids, 1)
        assigned = df.select(
            F.element_at(assign(F.col(vec_col)), 1).alias("cluster"),
            F.col(vec_col).alias("v"),
        )
        means = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new_c = centroids.copy()
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r.cluster, {})[r.pos] = r.m
        for c, posmap in by_cluster.items():
            for p, m in posmap.items():
                new_c[c, p] = m
        if np.allclose(new_c, centroids, atol=1e-9):
            break
        centroids = new_c
    df.unpersist()
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    kmeans_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-flat ANN: k-means coarse quantizer -> inverted lists keyed by
    cluster -> queries probe their ``nprobe`` nearest lists -> exact
    cosine re-rank. The 100 TB shape: the index pass writes the corpus
    bucketed/partitioned by cluster once; each query batch joins only
    its probed clusters (partition pruning on the cluster key) instead
    of scanning the corpus."""
    # NULL vectors have no geometry: excluded from index and queries
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    queries = queries.filter(F.col(vec_col).isNotNull())
    centroids = kmeans_fit(corpus, k=nlist, max_iter=kmeans_iter, vec_col=vec_col, id_col=id_col)
    # ragged vectors have no geometry either: keep them out of the index
    # and the probe set (the fit dim is the corpus's modal dim; this
    # filter is free — no extra action, just the centroid shape)
    dim_fit = centroids.shape[1]
    corpus = corpus.filter(F.size(F.col(vec_col)) == dim_fit)
    queries = queries.filter(F.size(F.col(vec_col)) == dim_fit)
    c = corpus.select(
        F.col(id_col), F.col(vec_col),
        # norm hoisted to once per row (r12): same fold, same product,
        # same 4-dp rounds as the old per-pair cosine_expr
        norm_expr(F.col(vec_col)).alias("__cnrm"),
        F.element_at(_assign_udf(centroids, 1)(F.col(vec_col)), 1).alias("cluster"),
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec"),
        norm_expr(F.col(vec_col)).alias("__qnrm"),
        F.explode(_assign_udf(centroids, nprobe)(F.col(vec_col))).alias("cluster"),
    )
    cand = c.join(F.broadcast(q), on="cluster").filter(F.col(query_id_col) != F.col(id_col))
    sim = F.round(
        cosine_from_norms(F.col(vec_col), F.col("__qvec"), F.col("__cnrm"), F.col("__qnrm")),
        4,
    )
    scored = cand.select(query_id_col, id_col, sim.alias("sim")).dropDuplicates(
        [query_id_col, id_col]
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


def recall_at_k(exact: DataFrame, ann: DataFrame) -> DataFrame:
    """Per-query recall of ``ann`` against ``exact``, both top-k
    ``(query_id, vec_id)`` frames: ``(query_id, n_exact, n_overlap,
    recall_at_k)``.

    ``ann`` must be duplicate-free on (query_id, vec_id), or the left
    join fans out and inflates both counts. The catalog's producers
    guarantee it upstream: ``lsh_scored_candidates`` and ``ivf_topk``
    each ``dropDuplicates`` their candidate pairs before ranking (the
    ``row_number`` cut alone would not dedupe).

    ONE left join + ONE aggregation: the left join preserves every exact
    row once (n_exact = count(*)) and marks the matched ones
    (n_overlap = count(match)); a query with zero ANN hits gets
    n_overlap = 0. Counting exact and overlap separately and joining
    the counts would consume the exact top-k subtree twice."""
    marked = ann.select("query_id", "vec_id", F.lit(1).alias("__m"))
    return (
        exact.join(marked, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"), F.count("__m").alias("n_overlap"))
        .select(
            "query_id",
            "n_exact",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_exact"), 4).alias("recall_at_k"),
        )
    )


def auto_planes(n: int, target_bucket: int = 256, floor: int = 4, cap: int = 24) -> int:
    """Plane count that keeps expected SRP bucket occupancy near
    ``target_bucket`` as the corpus grows: planes = ceil(log2(n /
    target_bucket)).  A FIXED plane count is the quadratic-scale trap —
    2^planes buckets means occupancy grows linearly with n and the
    bucket self-join grows ~n^2/2^planes (measured: exponent 2.05 on a
    1x->4x corpus probe with planes=8).  Scaling planes with log2(n)
    holds occupancy — and thus candidate pairs per input row — constant,
    which is what makes the self-join linear at 100 TB."""
    import math

    return min(cap, max(floor, math.ceil(math.log2(max(n / max(target_bucket, 1), 2.0)))))


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    planes: int | str = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    heavy_bucket: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via SRP bucketing (in-task
    pair explode for normal buckets, salted self-join for giant ones) +
    exact cosine filter. Returns (id_a, id_b, sim).

    Scale controls:

    - ``planes="auto"`` sizes the bucket space to the corpus
      (``auto_planes``: one driver-side count, then ceil(log2(n/256))
      planes), keeping expected occupancy — and candidate pairs per row
      — constant as n grows.  A fixed plane count is only appropriate
      when an oracle needs the exact bucket ids pinned (the catalog
      entry pins 8 for its DuckDB twin).
    - Buckets larger than ``heavy_bucket`` (near-identical embedding
      clusters, or an under-planed corpus) go through the two-sided
      salted self-join of ``operators/skew.bucket_pairs`` — pairs form
      per (bucket, salt_a, salt_b) cell, so one popular bucket cannot pin
      its d^2/2 pair formation to a single task, and no gather holds
      more than ``heavy_bucket`` members.  Pair set is identical to the
      plain join.  ``bucket_pairs``' size check (the largest bucket's
      member count, one eager aggregation) reads the persisted SRP base
      and fills its cache, so the SRP Arrow UDF runs once, at build, and
      a corpus whose buckets all fit ``heavy_bucket`` is paired by one
      plain gather with no count window or salted branch."""
    # NULL vectors have no geometry: excluded up front (mirrored as
    # WHERE embedding IS NOT NULL in the oracle). NULL ids are excluded
    # too — pair-set-equivalent to the old l.id < r.id join condition,
    # which silently dropped every NULL-id pair.
    df = df.filter(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull())
    if planes == "auto":
        planes = auto_planes(df.count())
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    budf = srp_buckets_arrow([srp_planes(dim, planes, "srp")])
    # norm per ROW here, not per pair inside the pair explode — computing
    # it per PAIR would do O(pairs * dim) redundant work
    base = scoped_persist(
        df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
            norm_expr(F.col(vec_col)).alias("nrm"),
            F.element_at(budf(F.col(vec_col)), 1).alias("bucket"),
        ),
        "embedding_near_dup",
        keep=2,
    )
    # pairs form per SRP bucket under skew.bucket_pairs' size rule (its
    # size check fills the base's cache before any pair is formed); the
    # member struct carries each side's vector and norm to the verify
    # stage, so the pairs need no join back to the base
    members = base.select("bucket", F.struct("id", "v", "nrm").alias("m"))
    pairs = bucket_pairs(members, ["bucket"], "m", heavy_bucket).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), F.col("a.v").alias("va"),
        F.col("b.v").alias("vb"), F.col("a.nrm").alias("na"), F.col("b.nrm").alias("nb"),
    )
    # Verify stage: JVM-side left-fold dot. Measured against the Arrow
    # pair-dot alternative (pair_dot_arrow) on an 8x corpus probe: the
    # expression form won 4.0 s vs 9.6 s end-to-end — at dim=64 moving
    # 2 vectors/pair into Python costs more than the interpreted fold,
    # and the fold stays inside the join's streamed output instead of
    # forcing a materialized ArrowEvalPython stage.
    sim = F.round(
        cosine_from_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 4
    )
    return (
        pairs.select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


# ------------------------------------------------------- int8 quantization

def quantize_int8(emb: Column) -> Column:
    """Per-vector symmetric int8 quantization: scale = max(|x|)/127,
    q_i = round(x_i / scale) in [-127, 127]. The standard compression for
    ANN serving (4x smaller vectors, SIMD int8 dot products downstream).

    Pure column expression over array<float> -> struct<scale double,
    q array<int>>; zero shuffles — at 100 TB this is a map-only rewrite
    of the embedding column. Elements cast to double BEFORE any math so
    the arithmetic (and an oracle twin doing the same) is engine-stable.

    A vector with a non-finite component (NULL, NaN, ±Inf — fp overflow
    and ragged encodes happen at crawl scale) has no meaningful
    quantization, and letting NaN through crashes the job under ANSI
    mode (round(NaN) cast to int is a CAST_OVERFLOW): such vectors yield
    scale = NULL, q = NULL — the NULL-vector "no geometry" contract
    extended component-wise. The ``embedding_finite_gate`` catalog entry
    is the ingest-time quarantine; this guard is defense for ungated
    input.

    PERF: inside a higher-order-function lambda, Spark re-evaluates any
    captured outer subexpression PER ELEMENT (HOFs are interpreted; no
    loop-invariant hoisting), so referencing the O(dim) ``absmax`` tree
    inside the transform makes this O(dim^2) per row — measured 5.4x
    slower at dim=64. Use :func:`with_quantize_int8` in hot paths: it
    hoists absmax/scale into real projection columns evaluated once per
    row and the lambda only touches cheap attribute references. This
    Column form is kept for expression contexts where a single column is
    required and dim is small.
    """
    finite = ~F.exists(emb, nonfinite_component)
    absmax = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    scale = F.when(finite, absmax / F.lit(127.0))
    q = F.when(
        finite,
        F.transform(
            emb,
            lambda x: F.when(absmax == 0, F.lit(0))
            .otherwise(F.round(x.cast("double") / scale, 0).cast("int")),
        ),
    )
    return F.struct(scale.alias("scale"), q.alias("q"))


def with_quantize_int8(df: DataFrame, emb_col: str = "embedding",
                       out_col: str = "qz") -> DataFrame:
    """:func:`quantize_int8` as a DataFrame stage with the per-row work
    hoisted: absmax / finite / scale are computed ONCE per row in their
    own projection columns, and the per-element lambda references only
    those attributes — O(dim) per row where the captured-expression
    Column form is O(dim^2) (see quantize_int8's PERF note; 5.4x measured
    at dim=64). Same struct<scale, q> result, same non-finite guard."""
    fin, amax, sc = f"__{out_col}_finite", f"__{out_col}_absmax", f"__{out_col}_scale"
    return (
        df
        .withColumn(fin, ~F.exists(emb_col, nonfinite_component))
        .withColumn(amax, F.when(F.col(fin), F.array_max(
            F.transform(emb_col, lambda x: F.abs(x.cast("double"))))))
        .withColumn(sc, F.col(amax) / F.lit(127.0))
        .withColumn(out_col, F.struct(
            F.col(sc).alias("scale"),
            F.when(F.col(fin), F.transform(
                emb_col,
                lambda x: F.when(F.col(amax) == 0, F.lit(0))
                .otherwise(F.round(x.cast("double") / F.col(sc), 0).cast("int")),
            )).alias("q"),
        ))
        .drop(fin, amax, sc)
    )


def dequant_error(emb: Column, quant: Column) -> Column:
    """L2 reconstruction error ||x - q*scale||_2 of a quantize_int8
    result — the quality metric for the compression tradeoff."""
    diffs = F.zip_with(
        emb, quant["q"],
        lambda x, qi: F.pow(x.cast("double") - qi.cast("double") * quant["scale"], F.lit(2.0)),
    )
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, d: acc + d))
