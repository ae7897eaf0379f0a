"""X1/X2 — deduplication operators for large-scale training-data pipelines.

Four tiers, cheapest-first, all shuffle-disciplined for 100 TB:

- exact: hash-groupBy on the full text (one shuffle on a hashed key;
  canonical doc = min id, map-side combinable).
- MinHash + LSH: shingle -> per-shingle hashes -> column-expression
  minhash signature -> banded bucket join. Candidate generation never
  compares all pairs: the only shuffle is groupBy(band, band_hash), and
  within-bucket pairs are verified with exact Jaccard.
- SimHash: 64-bit signature as a zero-shuffle map-side projection
  (JVM token hashing + vectorized Arrow bit-vote fold); near-dup =
  small Hamming distance, banded by 16-bit chunks (pigeonhole:
  distance<=3 guarantees one of 4 chunks matches exactly).
- n-gram Jaccard: exact set similarity on word n-grams, as an
  inverted-index join keyed on the gram (the verifier for the LSH
  tiers, or standalone with blocking).

Everything is built from JVM-side expressions (transform/aggregate/
xxhash64) — no Python in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


# Java regex \s is [ \t\n\x0B\f\r]; RE2 (DuckDB's regex engine) \s
# OMITS \x0B (vertical tab), so the engine defaults silently diverge on
# VT input. Every tokenizing regex — Spark side AND the DuckDB oracle
# twins — interpolates this explicit class instead; pinned to the Java
# set so existing Spark results are bit-identical.
JAVA_WS = r" \t\n\x0B\f\r"


def tokens_expr(text: Column) -> Column:
    """Whitespace tokens of lowercased text (empty-safe). Whitespace =
    the explicit JAVA_WS class (see above), identical in both engines."""
    return F.filter(F.split(F.lower(F.trim(text)), rf"[{JAVA_WS}]+"), lambda t: t != "")


# DuckDB twin of tokens_expr, co-located so a tokenizer change edits the
# Spark expression and its oracle fragment in the SAME file. Oracles
# import this — never re-declare it (r7 review: the JAVA_WS fix had to
# touch four identical copies).
DUCK_TOKS_SQL = (
    rf"list_filter(string_split_regex(lower(trim(text)), '[{JAVA_WS}]+'),"
    rf" x -> x <> '')"
)


def word_shingles_expr(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles as strings; docs shorter than k words
    contribute the whole doc as one shingle.

    The token array is bound as a lambda argument (``transform(array(toks),
    tk -> ...)``) so it is evaluated ONCE per row: non-lambda subexpressions
    inside a higher-order-function body are re-evaluated per element, which
    made the naive form O(tokens^2) per document."""
    toks = tokens_expr(text)
    return F.element_at(
        F.transform(
            F.array(toks),
            lambda tk: F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size(tk) - k, F.lit(0))),
                    lambda i: F.concat_ws(" ", F.slice(tk, i + 1, k)),
                )
            ),
        ),
        1,
    )


# ------------------------------------------------------------------ exact

def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """X1 — canonical row per distinct text: (canonical id, copy count).
    One shuffle; partial aggregation does the heavy lifting map-side.
    At 100 TB, group on xxhash64(text) first and only compare full text
    within hash groups — same plan shape, smaller shuffle payload."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ---------------------------------------------------------------- MinHash

_MERSENNE31 = (1 << 31) - 1


def _affine_family(num_hashes: int, seed: int = 0x5EED) -> tuple[list[int], list[int]]:
    """Carter-Wegman affine hash family constants: h_j(x) = (a_j*x + b_j) mod p."""
    import random

    rnd = random.Random(seed)
    return (
        [rnd.randrange(1, _MERSENNE31) for _ in range(num_hashes)],
        [rnd.randrange(0, _MERSENNE31) for _ in range(num_hashes)],
    )


def minhash_signature(text: Column, num_hashes: int = 64, shingle_k: int = 3) -> Column:
    """MinHash signature as array<long>: sig[j] = min over shingles s of
    (a_j * xxhash64(s) + b_j) mod p  (Broder '97 via a Carter-Wegman affine
    family, p = 2^31-1 so a*x+b < 2^62 never overflows long under ANSI).

    Each shingle string is hashed ONCE; the 64 family members are cheap
    integer transforms of that base hash. The base-hash array is bound as
    a lambda argument (``transform(array(hs), h_arr -> ...)``) so Catalyst's
    CollapseProject cannot inline the shingle build + string hashing into
    every family member — without the binding the whole pipeline under the
    signature re-evaluates 64x per row (measured 25s -> <1s on 505 docs).
    """
    a_consts, b_consts = _affine_family(num_hashes)
    A = F.array(*[F.lit(a) for a in a_consts])
    B = F.array(*[F.lit(b) for b in b_consts])
    sh = word_shingles_expr(text, shingle_k)
    hs = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE31)))
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    sig = F.transform(
        F.array(hs),
        lambda h_arr: F.transform(
            seeds,
            lambda j: F.array_min(
                F.transform(
                    h_arr,
                    lambda h: F.pmod(
                        h * F.element_at(A, (j + 1).cast("int"))
                        + F.element_at(B, (j + 1).cast("int")),
                        F.lit(_MERSENNE31),
                    ),
                )
            ),
        ),
    )
    return F.element_at(sig, 1)


def minhash_bands(sig: Column, bands: int, rows: int) -> Column:
    """array<struct<band:int, bh:long>> — one hash per band of `rows`
    signature entries (Leskovec et al., MMDS ch.3 banding)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.xxhash64(F.slice(sig, b * rows + 1, rows), b).alias("bh"),
        ),
    )


def _banded_self_pairs(
    banded: DataFrame,
    heavy_bucket: int = 512,
    n_salt: int = 8,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) from an (id, band, bh) bucket table,
    with the giant-bucket skew guard the LSH join needs at scale.

    r13 (guide §2.4): bucket membership is gathered with ONE
    (band, bh)-keyed aggregation — ``sort_array(collect_list(id))`` —
    and pairs explode in-task over the sorted list (the
    ``_order_part_pairs`` construction, queries_warehouse.py). The previous
    form tagged bucket sizes with a partitioned window and SELF-JOINED
    the banded table on (band, bh): one shuffle for the window plus a
    re-shuffle of each join side. This form shuffles the banded table
    once, with map-side partial aggregation, and forms the same pairs
    with no join at all. In-task fan-out is bounded by
    C(``heavy_bucket``, 2) (~131k pairs at the 512 default, trivially
    fine); buckets larger than ``heavy_bucket`` (boilerplate /
    exact-duplicate docs — a bucket of d identical docs forms d^2/2
    pairs) are re-exploded to rows and go through the two-sided salted
    join, splitting each such bucket into ``n_salt`` hash cells so pairs
    form per (band, bh, salt_a, salt_b) cell. Pair set identical to the
    plain self-join (pinned by tests/test_ext3.py::
    test_banded_self_pairs_salted_branch_equivalence)."""
    from amazon_macie_activity_generator_spark.cache import scoped_persist

    # Persist barrier: the grouped bucket table feeds the light pair
    # explode and both salted heavy sides (uncached, each consumer would
    # recompute banded and the aggregation). Lifecycle: tracked in
    # cache.py's registry, newest 4 kept; release_all()/clearCache()
    # drops the rest in a long-lived service.
    grouped = scoped_persist(
        banded.groupBy("band", "bh").agg(
            F.sort_array(F.collect_list("id")).alias("ids")
        ),
        "_banded_self_pairs",
        keep=4,
    )
    light_pairs = (
        grouped.filter(F.size("ids") <= heavy_bucket)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("pr")
        )
        .select("pr.id_a", "pr.id_b")
    )
    heavy = grouped.filter(F.size("ids") > heavy_bucket).select(
        "band", "bh", F.explode("ids").alias("id")
    )

    def _salt(c):
        return F.pmod(F.xxhash64(c, F.lit("lsh-bucket-salt")), F.lit(n_salt)).cast("int")

    fan = F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ha = (
        heavy.select(F.col("id").alias("id_a"), "band", "bh")
        .withColumn("sa", _salt(F.col("id_a")))
        .withColumn("sb", fan)
    )
    hb = (
        heavy.select(F.col("id").alias("id_b"), "band", "bh")
        .withColumn("sb", _salt(F.col("id_b")))
        .withColumn("sa", fan)
    )
    heavy_pairs = (
        ha.join(hb, ["band", "bh", "sa", "sb"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return light_pairs.unionAll(heavy_pairs).dropDuplicates(["id_a", "id_b"])


def dedup_minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """X2 — candidate near-dup pairs via LSH banding, verified with exact
    shingle Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Scale: the self-join is on (band, bh) buckets — skew from giant
    buckets (boilerplate / exact-duplicate docs) is the known hazard;
    buckets above 512 docs go through the two-sided salted join in
    ``_banded_self_pairs`` (pair-set-preserving), and AQE skew-join
    covers residual sort-merge skew.
    """
    rows = num_hashes // bands
    # Materialize (id, shingles, sig) ONCE. Without this barrier Catalyst's
    # CollapseProject inlines the 64-hash signature expression into every
    # band slice on both join sides — a ~100x recomputation blowup
    # (measured: 424s -> ~2s at sf0.1). At cluster scale this table is the
    # thing you'd write to storage between passes anyway.
    from amazon_macie_activity_generator_spark.cache import scoped_persist

    base = scoped_persist(
        df.select(
            F.col(id_col).alias("id"),
            word_shingles_expr(F.col(text_col), shingle_k).alias("shingles"),
            minhash_signature(F.col(text_col), num_hashes, shingle_k).alias("sig"),
        ),
        "dedup_minhash_candidates",
        keep=2,
    )
    # Lazy persist: the InMemoryRelation is a plan barrier whether or not
    # it is materialized, so CollapseProject still can't inline the
    # signature into the join sides, and BlockManager's per-partition
    # locking keeps concurrent branches from double-computing a cached
    # partition. Keeping the build action-free means the bench timer sees
    # the real cost (an eager count() here hid ~3 s at sf0.1 in the
    # unbenched build phase).

    # narrow banded table: (id, band, bh) — nothing fat crosses the shuffle
    banded = base.select(
        "id", F.explode(minhash_bands(F.col("sig"), bands, rows)).alias("b")
    ).select("id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))

    pairs = _banded_self_pairs(banded)

    # exact-Jaccard verification only for candidates (small set)
    sh = base.select("id", "shingles")
    verified = (
        pairs.join(sh.withColumnsRenamed({"id": "id_a", "shingles": "sh_a"}), on="id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "shingles": "sh_b"}), on="id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        verified.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------- MinHash, oracle bridge

def minhash_signature_md5(text: Column, num_hashes: int = 16, shingle_k: int = 3) -> Column:
    """MinHash signature as array<string>: sig[j] = lexicographic min over
    shingles s of md5(j || ':' || s).

    The ORACLE BRIDGE variant: md5 hex digests are byte-identical across
    engines, so the whole LSH pipeline (signature -> bands -> candidate
    pairs) value-hash-matches a DuckDB twin — unlike xxhash64, which only
    Spark ships. Hashing each shingle ``num_hashes`` times costs more than
    the affine-family path in ``minhash_signature``; keep this for
    correctness anchoring and modest num_hashes, the xxhash64 family for
    production scale. Same min-over-independent-hashes estimator
    (Broder '97). Shingle array bound via the array-wrap lambda (see
    word_shingles_expr) so it is built once, not per hash."""
    sh = word_shingles_expr(text, shingle_k)
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    sig = F.transform(
        F.array(sh),
        lambda sh_arr: F.transform(
            seeds,
            lambda j: F.array_min(
                F.transform(
                    sh_arr,
                    lambda s: F.md5(F.concat(j.cast("string"), F.lit(":"), s)),
                )
            ),
        ),
    )
    return F.element_at(sig, 1)


def _md5_base_and_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared md5-LSH front end: (persisted base with shingles + signature,
    exploded band-bucket table). The lazy persist is the plan barrier —
    every caller reads the base from at least two branches (banded join +
    shingle verify), and the InMemoryRelation keeps CollapseProject from
    inlining the md5x16 signature into each; per-partition cache locking
    keeps concurrent branches from double-computing it at runtime."""
    rows = num_hashes // bands
    from amazon_macie_activity_generator_spark.cache import scoped_persist

    # (r13: an Arrow/hashlib twin of the md5 signature was measured here
    # and REVERTED — the JVM md5 expression chain runs 0.64 vs 0.72 s on
    # the isolated stage at sf0.1; unlike the simhash nibble-parse fold,
    # the minhash expression's cost IS the md5 calls, which codegen runs
    # as fast as hashlib without the Arrow serialization.)
    base = scoped_persist(
        df.select(
            F.col(id_col).alias("id"),
            word_shingles_expr(F.col(text_col), shingle_k).alias("shingles"),
            minhash_signature_md5(F.col(text_col), num_hashes, shingle_k).alias("sig"),
        ),
        "_md5_base_and_bands",
        keep=4,  # incremental dedup holds corpus + batch bases in one plan
    )
    band_structs = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.md5(F.concat_ws("|", F.slice(F.col("sig"), b * rows + 1, rows))).alias("bh"),
        ),
    )
    banded = base.select("id", F.explode(band_structs).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    return base, banded


def dedup_minhash_md5_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """X2 oracle-bridge: LSH candidate pairs from the md5 signature,
    verified with exact shingle Jaccard. Same plan shape as
    ``dedup_minhash_candidates`` (narrow banded shuffle, skew hazards and
    AQE handling identical); returns (id_a, id_b, jaccard), id_a < id_b."""
    base, banded = _md5_base_and_bands(df, text_col, id_col, num_hashes, bands, shingle_k)
    pairs = _banded_self_pairs(banded)
    sh = base.select("id", "shingles")
    verified = (
        pairs.join(sh.withColumnsRenamed({"id": "id_a", "shingles": "sh_a"}), on="id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "shingles": "sh_b"}), on="id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        verified.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_incremental_md5(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Incremental near-dup: a NEW batch checked against an EXISTING
    corpus with NO corpus self-join — the shape of a continuously
    ingesting pipeline, where only the delta is deduped and the corpus
    acts as an index. One row per batch doc: (doc_id, dup_of, jaccard,
    is_new) where dup_of is the best-matching corpus doc (highest
    verified Jaccard, min id tie-break) or -1 when the doc is new.

    Scale shape: the corpus side stays map-side throughout — banded
    signatures are a projection, the bucket join broadcasts the (small)
    batch bands, and verification broadcasts the candidate list back
    onto the corpus; the corpus is never shuffled on a content key. In
    production the corpus band index is a stored table amortized across
    batches; rebuilding it here per call keeps the same plan shape."""
    c_base, c_bands = _md5_base_and_bands(
        corpus, text_col, id_col, num_hashes, bands, shingle_k
    )
    b_base, b_bands = _md5_base_and_bands(
        batch, text_col, id_col, num_hashes, bands, shingle_k
    )
    cand = (
        c_bands.alias("c")
        .join(
            F.broadcast(b_bands.alias("b")),
            on=[F.col("c.band") == F.col("b.band"), F.col("c.bh") == F.col("b.bh")],
        )
        .select(F.col("b.id").alias("bid"), F.col("c.id").alias("cid"))
        .dropDuplicates(["bid", "cid"])
    )
    with_bsh = cand.join(
        F.broadcast(b_base.select(F.col("id").alias("bid"), F.col("shingles").alias("sh_b"))),
        on="bid",
    )
    ver = c_base.select(F.col("id").alias("cid"), F.col("shingles").alias("sh_c")).join(
        F.broadcast(with_bsh), on="cid"
    )
    inter = F.size(F.array_intersect("sh_b", "sh_c"))
    union = F.size(F.array_union("sh_b", "sh_c"))
    jac = F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 4)
    best = (
        ver.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .groupBy("bid")
        .agg(F.min(F.struct((-F.col("jaccard")).alias("nj"), F.col("cid").alias("c"))).alias("m"))
        .select("bid", F.col("m.c").alias("dup_of"), (-F.col("m.nj")).alias("jaccard"))
    )
    return (
        batch.select(F.col(id_col).alias("doc_id"))
        .join(F.broadcast(best.withColumnRenamed("bid", "doc_id")), on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("dup_of", F.lit(-1)).alias("dup_of"),
            F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
            F.col("dup_of").isNull().alias("is_new"),
        )
    )


# ---------------------------------------------------------------- SimHash

def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", use_arrow: bool = True
) -> DataFrame:
    """64-bit SimHash (Charikar '02), ZERO-SHUFFLE: a map-side projection,
    no explode, no groupBy. At 100 TB that removes the full-corpus shuffle
    the explode+agg formulation would pay. Returns (id, simhash long);
    bit 63 (sign) unused.

    Token hashing stays JVM-side (xxhash64). The 63-bit vote fold is the
    one genuinely compute-bound inner loop in the engine (63 x n_tokens
    per doc); ``use_arrow=True`` runs it as a vectorized Arrow-batched
    pandas UDF over the hash arrays (numpy bit-unpack, ~10x the
    interpreted higher-order-function fold — measured 3.1s -> 0.3s on 5k
    docs); ``use_arrow=False`` keeps the pure-expression fold (same
    results bit-for-bit, asserted in tests)."""
    if use_arrow:
        return _simhash64_arrow(df, text_col, id_col)
    return _simhash64_expr(df, text_col, id_col)


def _simhash64_arrow(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def vote_fold(hashes: pd.Series) -> pd.Series:
        # Whole-batch vectorized fold: flatten every doc's hash array into
        # one contiguous vector and segment-sum the bit counts with
        # np.add.reduceat — no per-row Python loop, and the per-bit pass
        # keeps peak memory at one int64 vector of total-token length
        # (vs. an N x 63 matrix). Measured ~5x over the row-loop numpy
        # form on the sf0.1 corpus.
        out = np.zeros(len(hashes), dtype=np.int64)
        lens = np.fromiter(
            (0 if h is None else len(h) for h in hashes), dtype=np.int64, count=len(hashes)
        )
        nz = lens > 0
        if nz.any():
            flat = np.concatenate(
                [np.asarray(h, dtype=np.int64) for h, n in zip(hashes, lens) if n]
            ).astype(np.uint64)
            seg_lens = lens[nz]
            offsets = np.zeros(len(seg_lens), dtype=np.int64)
            np.cumsum(seg_lens[:-1], out=offsets[1:])
            sig = np.zeros(len(seg_lens), dtype=np.uint64)
            for b in range(63):
                ones = np.add.reduceat(
                    (flat >> np.uint64(b)) & np.uint64(1), offsets
                ).astype(np.int64)
                # votes = ones - zeros = 2*ones - n; bit set iff votes > 0
                sig |= (2 * ones > seg_lens).astype(np.uint64) << np.uint64(b)
            out[nz] = sig.astype(np.int64)
        return pd.Series(out)

    hs = F.transform(tokens_expr(F.col(text_col)), lambda tk: F.xxhash64(tk))
    return df.select(F.col(id_col).alias("id"), vote_fold(hs).alias("simhash"))


def _simhash64_expr(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Pure-expression vote fold (hash array bound once via the array-wrap
    lambda, see word_shingles_expr)."""
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(63)])
    toks = tokens_expr(F.col(text_col))
    hs = F.transform(toks, lambda tk: F.xxhash64(tk))
    sig = F.element_at(
        F.transform(
            F.array(hs),
            lambda h_arr: F.aggregate(
                pow2,
                F.lit(0).cast("long"),
                lambda acc, bit: acc
                + F.when(
                    F.aggregate(
                        h_arr,
                        F.lit(0).cast("long"),
                        lambda v, h: v
                        + F.when(h.bitwiseAND(bit) != 0, F.lit(1)).otherwise(F.lit(-1)),
                    )
                    > 0,
                    bit,
                ).otherwise(F.lit(0).cast("long")),
            ),
        ),
        1,
    )
    return df.select(F.col(id_col).alias("id"), sig.alias("simhash"))


def simhash64_md5(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """63-bit SimHash from md5 token digests — the ORACLE BRIDGE twin of
    ``simhash64`` (same Charikar vote fold, same 63-bit layout, so
    ``simhash_near_pairs`` consumes it unchanged): md5 hex digests are
    byte-identical across engines, so signature, bands, candidate pairs
    and Hamming distances all value-hash-match a DuckDB twin — unlike
    xxhash64, which only Spark ships. Hashing costs ~an md5 per token vs
    one xxhash64; keep this for correctness anchoring, ``simhash64`` for
    production scale (the ``minhash_signature_md5`` convention).

    The digests come from Python hashlib (byte-identical to JVM md5) and
    the vote fold runs as the same vectorized Arrow batch kernel as
    ``_simhash64_arrow``. The ``dedup_simhash_md5`` oracle re-derives the
    signatures in DuckDB, and tests/test_extensions.py pins the
    degenerate ones.

    Bit b of a token's vote vector is bit b of its md5 digest (MSB-first),
    which the oracle SQL parses nibble-by-nibble with ``// [8,4,2,1] % 2``
    arithmetic. Tie rule matches the production fold exactly: bit set iff
    votes STRICTLY > 0 (= strict majority of ones, ``2*ones > n``), so
    empty-token AND null-text docs fold to signature 0 in both engines
    (the null coalesce below and the oracle's ``coalesce(sig, 0)`` pin
    the null case)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def md5_vote_fold(tok_lists: pd.Series) -> pd.Series:
        import hashlib

        # Whole-batch vectorized fold (the _simhash64_arrow structure):
        # md5-digest every token of the batch into ONE (T, 16) byte
        # matrix, unpack to bits, and segment-sum per doc with
        # np.add.reduceat. Hex-nibble bit order == np.unpackbits order:
        # vote bit b is bit (3 - b%4) of hex nibble b//4, which IS
        # MSB-first bit b of the digest bytes, so bits[:, :63] maps
        # 1:1 onto the oracle's [8,4,2,1]-divisor parse.
        out = np.zeros(len(tok_lists), dtype=np.int64)
        lens = np.fromiter(
            (0 if t is None else len(t) for t in tok_lists),
            dtype=np.int64, count=len(tok_lists),
        )
        nz = lens > 0
        if nz.any():
            digests = b"".join(
                hashlib.md5(tok.encode("utf-8")).digest()
                for toks, n in zip(tok_lists, lens) if n
                for tok in toks
            )
            bits = np.unpackbits(
                np.frombuffer(digests, dtype=np.uint8).reshape(-1, 16), axis=1
            )[:, :63]
            seg_lens = lens[nz]
            offsets = np.zeros(len(seg_lens), dtype=np.int64)
            np.cumsum(seg_lens[:-1], out=offsets[1:])
            ones = np.add.reduceat(bits, offsets, axis=0).astype(np.int64)
            # votes = ones - zeros = 2*ones - n; bit set iff votes > 0
            sig = (
                (2 * ones > seg_lens[:, None]).astype(np.uint64)
                << np.arange(63, dtype=np.uint64)[None, :]
            ).sum(axis=1)
            out[nz] = sig.astype(np.int64)
        return pd.Series(out)

    toks = F.coalesce(tokens_expr(F.col(text_col)), F.array())
    return df.select(F.col(id_col).alias("id"), md5_vote_fold(toks).alias("simhash"))


def simhash_near_pairs(sig_df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming distance <= max_hamming, banded into 4
    16-bit chunks (pigeonhole guarantees a matching chunk for d<=3).
    Returns (id_a, id_b, hamming).

    Candidate formation goes through ``_banded_self_pairs`` — the same
    giant-bucket salted-join guard as the MinHash path. This matters MORE
    for simhash: every exact-duplicate (and every empty) document has the
    identical signature, so all four chunks collide and a d-sized
    boilerplate cluster would otherwise build d^2/2 pairs in one task."""
    chunks = F.array(*[
        F.struct(
            F.lit(c).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("bh"),
        )
        for c in range(4)
    ])
    banded = sig_df.select("id", F.explode(chunks).alias("c")).select(
        "id", F.col("c.band").alias("band"), F.col("c.bh").alias("bh")
    )
    pairs = _banded_self_pairs(banded)
    sg = sig_df.select("id", "simhash")
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        pairs.join(sg.withColumnsRenamed({"id": "id_a", "simhash": "sa"}), "id_a")
        .join(sg.withColumnsRenamed({"id": "id_b", "simhash": "sb"}), "id_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------- connected components

def _without_size_estimate(df: DataFrame) -> DataFrame:
    """``df`` over the same rows, planned with Spark's default size
    estimate instead of one derived from its plan. A checkpoint keeps
    its plan's estimate and a join estimates the product of its inputs,
    so a loop that joins its previous checkpoint squares the estimate
    every round; past about 18 rounds the planner spends seconds, then
    minutes, then the whole heap multiplying integers of millions of
    digits. The rows go through the JVM's public ``createDataFrame(
    JavaRDD[Row], schema)`` — no Python, no extra job."""
    spark = df.sparkSession
    return DataFrame(
        spark._jsparkSession.createDataFrame(df._jdf.javaRDD(), df._jdf.schema()), spark
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve near-dup pairs into duplicate GROUPS: (id, group_id) where
    group_id = min doc id reachable in the pair graph — the canonical
    document. The step that turns candidate pairs into actual dedup
    decisions (keep group_id, drop the rest).

    Min-label propagation with pointer jumping and hooking, so the
    rounds grow with log(diameter), not with the diameter (measured on
    chains below; no bound is proven for every id order). Every node
    starts labeled with itself. A
    round gives each node the min of its own label, its neighbors'
    labels and its label's label (the jump), and gives each node's
    label the labels of the node's neighbors (the hook). A chain whose
    ids ascend from its minimum converges in ceil(log2 diameter) + 2
    rounds, the last (unchanged) one included: 6 for 16 nodes, 16 for
    10,000; ``max_iter`` rounds resolve such a chain up to diameter
    2^(max_iter-2). Without the hook, other id orders fall back toward
    one round per hop (a shuffled 1,000-node chain: 250-730 rounds);
    with it a shuffled 10,000-node chain takes about 20.

    Per round: two joins against the label table — the edge join, then
    ONE label lookup that serves the edge, hook and jump rows — and one
    groupBy on the node id, all shuffled on node ids. Each node's own
    row alone carries its old label into that groupBy, so the round's
    change count is an observed metric of the round's checkpoint — no
    second join, no extra count job. ``localCheckpoint`` cuts lineage
    so plans don't grow per iteration."""
    # both directions from ONE evaluation of the (possibly expensive)
    # edge pipeline: explode a 2-element array instead of a self-union
    bidir = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
                    F.struct(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint()
    )
    labels = (
        bidir.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    null_label = F.lit(None).cast(labels.schema["label"].dataType)
    # Every Column of a round is built here, once: a Column is an
    # unresolved expression, so the rounds reuse them and only the
    # DataFrame calls repeat — the same plans, without rebuilding each
    # expression tree over py4j every round.
    # A request looks up label(key) and sends its value — val, else
    # label(key) — to node and to label(key). Edge (s, d) requests with
    # key d and val label(s): d gets its neighbor's label and label(d)
    # is hooked to it. Node v requests with key label(v) and no val: v
    # gets label(label(v)), the jump (its second row hands
    # label(label(v)) to itself, a no-op).
    edge_on = F.col("src") == F.col("lab.id")
    edge_requests = [
        F.col("dst").alias("key"), F.col("dst").alias("node"), F.col("lab.label").alias("val")
    ]
    jump_requests = [
        F.col("label").alias("key"), F.col("id").alias("node"), null_label.alias("val")
    ]
    key_on = F.col("key") == F.col("lab.id")
    sent = F.coalesce("val", "lab.label")
    deliver = F.explode(
        F.array(
            F.struct(F.col("node").alias("id"), sent.alias("label")),
            F.struct(F.col("lab.label").alias("id"), sent.alias("label")),
        )
    ).alias("r")
    delivered = [F.col("r.id"), F.col("r.label"), null_label.alias("old")]
    own = [F.col("id"), F.col("label"), F.col("label").alias("old")]
    node_id = F.col("id")
    merge = [F.min("label").alias("label"), F.max("old").alias("old")]
    changed_count = F.count_if(F.col("label") != F.col("old")).alias("changed")
    id_label = [F.col("id"), F.col("label")]
    changed = 0
    for _ in range(max_iter):
        lab = labels.alias("lab")
        requests = (
            bidir.join(lab, edge_on)
            .select(*edge_requests)
            .unionByName(labels.select(*jump_requests))
        )
        received = requests.join(lab, key_on).select(deliver).select(*delivered)
        merged = (
            labels.select(*own).unionByName(received).groupBy(node_id).agg(*merge)
        )
        obs = Observation()
        labels = (
            _without_size_estimate(merged)
            .observe(obs, changed_count)
            .select(*id_label)
            .localCheckpoint()
        )
        changed = obs.get["changed"]
        if changed == 0:
            break
    if changed != 0:
        # no silent caps: returning intermediate labels would split one
        # duplicate cluster into many groups and downstream keep-one
        # dedup would silently retain duplicates
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing): it needs O(log diameter) "
            f"rounds, and max_iter={max_iter} bounds the diameter at about "
            f"2^{max_iter - 2} — raise max_iter"
        )
    return labels.select(F.col("id"), F.col("label").alias("group_id"))


# ----------------------------------------------------------- n-gram Jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    block_on: Column | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard pairs within a block: (id_a, id_b,
    jaccard) with id_a < id_b and jaccard (rounded to 4 places) >=
    ``threshold``. Without ``block_on`` every document is in one block.

    Inverted-index set-similarity join (the ``q_dedup_ngram_jaccard``
    construction, oracle-checked against DuckDB): explode each
    document's distinct grams, equi-join on (block, gram) with
    l.id < r.id, count the shared grams per pair, then
    |A ∪ B| = |A| + |B| - |A ∩ B|. The join is keyed on the gram, so
    work grows with the pairs that share a gram, not quadratically per
    block, and no per-pair set operation runs. Only pairs that share a
    gram are formed, so ``threshold`` must be positive (a zero-overlap
    pair is the quadratic product this form exists to avoid).

    Grams follow ``word_shingles_expr``: a document shorter than ``n``
    words is one gram, and NULL or empty text is the gram '' (so such
    documents pair with each other at Jaccard 1.0). Ids must be unique;
    NULL ids and NULL blocks form no pairs.

    Known limit: a very common gram (boilerplate, or the '' gram of
    many empty documents) is a hot join key whose d documents form
    d^2/2 rows in one task. Prefix filtering (PPJoin), which would skip
    such grams for pairs that cannot reach the threshold, is not done."""
    if threshold <= 0:
        raise ValueError(
            f"ngram_jaccard_pairs needs threshold > 0, got {threshold}: the "
            "inverted-index join only forms pairs that share a gram"
        )
    grams = df.select(
        F.col(id_col).alias("id"),
        (block_on if block_on is not None else F.lit(0)).alias("blk"),
        word_shingles_expr(F.col(text_col), n).alias("grams"),
    ).withColumn("n_grams", F.size("grams"))
    # explode_outer, as in q_dedup_ngram_jaccard: a plain explode infers
    # a filter on the gram array below the Generate, and pushdown then
    # inlines the shingle expression into it (tokenizing twice). The
    # outer form drops no rows; grams are never empty, and a NULL gram
    # would not equi-join anyway.
    ex = grams.select("id", "blk", "n_grams", F.explode_outer("grams").alias("gram"))
    shared = (
        ex.withColumnsRenamed({"id": "id_a", "n_grams": "n_a"})
        .join(ex.withColumnsRenamed({"id": "id_b", "n_grams": "n_b"}), on=["blk", "gram"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 4)
    return shared.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )
