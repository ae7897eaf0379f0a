"""X1/X2 — deduplication operators for large-scale training-data pipelines.

Four tiers, cheapest-first, all shuffle-disciplined for 100 TB:

- exact: hash-groupBy on the full text (one shuffle on a hashed key;
  canonical doc = min id, map-side combinable).
- MinHash + LSH: shingle -> per-shingle hashes -> column-expression
  minhash signature -> banded bucket table. Both hash families (xxhash64
  and the md5 oracle bridge) share one front end,
  ``_minhash_base_and_bands``. Candidate generation never compares all
  pairs: bucket pairs form through ``skew.bucket_pairs`` (members
  counted per (band, band_hash), buckets up to 512 gathered and
  exploded in-task, larger ones salted), and candidates are verified
  with exact shingle Jaccard (``_verified_jaccard``).
- SimHash: 64-bit signature as a zero-shuffle map-side projection
  (JVM token hashing + vectorized Arrow bit-vote fold); near-dup =
  small Hamming distance, banded by 16-bit chunks (pigeonhole:
  distance<=3 guarantees one of 4 chunks matches exactly); candidates
  form through the same bucket pairs as MinHash.
- n-gram Jaccard: exact set similarity on word n-grams, as an
  inverted-index join keyed on the gram (the verifier for the LSH
  tiers, or standalone with blocking).

Pairs are built from JVM-side expressions (transform/aggregate/
xxhash64); Python runs only as vectorised Arrow batch kernels (the
simhash vote fold, connected components' per-task union-find).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from amazon_macie_activity_generator_spark.cache import scoped_persist
from amazon_macie_activity_generator_spark.operators.skew import bucket_pairs

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


def _banded_self_pairs(banded: DataFrame, heavy_bucket: int = 512) -> DataFrame:
    """Candidate pairs (id_a < id_b), each once, from an (id, band, bh)
    bucket table: ``skew.bucket_pairs`` keyed on (band, bh), so buckets
    past ``heavy_bucket`` members (boilerplate or exact-duplicate docs,
    d^2/2 pairs each) take the salted self-join and no gather holds more
    than ``heavy_bucket`` ids. Pair set identical to the plain self-join
    (pinned by tests/test_ext3.py::
    test_banded_self_pairs_salted_branch_equivalence)."""
    pairs = bucket_pairs(banded, ["band", "bh"], "id", heavy_bucket)
    return pairs.select(F.col("a").alias("id_a"), F.col("b").alias("id_b")).dropDuplicates(
        ["id_a", "id_b"]
    )


def _jaccard(a: str, b: str) -> Column:
    """Exact set Jaccard of two shingle arrays, rounded to 4 dp; 0.0 when
    both are empty."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 4)


def _verified_jaccard(
    pairs: DataFrame, base: DataFrame, jaccard_threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard) for the candidate ``pairs`` whose exact
    shingle Jaccard, rounded to 4 dp, reaches the threshold: each side's
    shingle array joins on from ``base`` (id, shingles)."""
    sh = base.select("id", "shingles")
    verified = (
        pairs.join(sh.withColumnsRenamed({"id": "id_a", "shingles": "sh_a"}), on="id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "shingles": "sh_b"}), on="id_b")
    )
    return (
        verified.withColumn("jaccard", _jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _minhash_base_and_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    sig: Column,
    bands: int,
    rows: int,
    band_hash: Callable[[Column, Column], Column],
) -> tuple[DataFrame, DataFrame]:
    """The MinHash front end of both families: the persisted base
    (id, shingles, sig), ``sig`` being the family's signature over
    ``text_col``, and the narrow banded table (id, band, bh), ``bh`` =
    ``band_hash(rows signature entries, band)`` for each of ``bands``
    bands (Leskovec et al., MMDS ch. 3 banding).

    The lazy persist is the plan barrier: every caller reads the base
    from at least two branches (the bucket pairs and the shingle
    verify), and without the InMemoryRelation Catalyst's CollapseProject
    inlines the signature into every band slice — a ~100x recomputation
    (measured 424 s -> ~2 s at sf0.1). Per-partition cache locking keeps
    concurrent branches from computing a partition twice. The base is
    filled at build time, by ``bucket_pairs``' size check over the
    banded table: the signature runs once there and the pairs and the
    verify read the cache."""
    base = scoped_persist(
        df.select(
            F.col(id_col).alias("id"),
            word_shingles_expr(F.col(text_col), shingle_k).alias("shingles"),
            sig.alias("sig"),
        ),
        "minhash_base",
        keep=4,  # incremental dedup holds corpus + batch bases in one plan
    )
    band_structs = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            band_hash(F.slice(F.col("sig"), b * rows + 1, rows), b).alias("bh"),
        ),
    )
    banded = base.select("id", F.explode(band_structs).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    return base, banded


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

    Scale: candidates form per (band, bh) bucket — skew from giant
    buckets (boilerplate / exact-duplicate docs) is the known hazard;
    buckets above 512 docs go through the salted self-join in
    ``_banded_self_pairs`` (pair-set-preserving)."""
    base, banded = _minhash_base_and_bands(
        df, text_col, id_col, shingle_k,
        minhash_signature(F.col(text_col), num_hashes, shingle_k),
        bands, num_hashes // bands, F.xxhash64,
    )
    return _verified_jaccard(_banded_self_pairs(banded), base, jaccard_threshold)


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
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, bands: int, shingle_k: int
) -> tuple[DataFrame, DataFrame]:
    """The MinHash front end with the md5 family: band hash = md5 of the
    band's digests joined by '|'. (r13: an Arrow/hashlib twin of the md5
    signature was measured and reverted — the JVM md5 expression chain
    runs 0.64 vs 0.72 s on the isolated stage at sf0.1; the signature's
    cost IS the md5 calls, which codegen runs as fast as hashlib without
    the Arrow serialization.)"""
    return _minhash_base_and_bands(
        df, text_col, id_col, shingle_k,
        minhash_signature_md5(F.col(text_col), num_hashes, shingle_k),
        bands, num_hashes // bands, lambda part, _b: F.md5(F.concat_ws("|", part)),
    )


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
    return _verified_jaccard(_banded_self_pairs(banded), base, jaccard_threshold)


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
    best = (
        ver.withColumn("jaccard", _jaccard("sh_b", "sh_c"))
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


def _vote_fold(md5_tokens: bool):
    """The 63-bit Charikar vote fold as one vectorised Arrow kernel (a
    pandas UDF over one array column). Each row is a document's xxhash64
    token hashes or, with ``md5_tokens``, its tokens, digested here with
    hashlib (byte-identical to JVM md5): the digest's first 64 bits,
    MSB-first, become a little-endian uint64, so vote bit b is MSB-first
    bit b of the digest — the oracle's ``// [8,4,2,1] % 2`` nibble parse.

    Whole-batch fold: every document's hashes are flattened into one
    contiguous uint64 vector and each bit's ones are segment-summed with
    ``np.add.reduceat`` — no per-row Python loop, and the per-bit pass
    keeps peak memory at one vector of total-token length (an N x 63 bit
    matrix reduced along its rows measured 6x slower). Bit set iff votes
    = 2*ones - n are STRICTLY > 0, so empty and NULL rows fold to 0."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def vote_fold(rows: pd.Series) -> pd.Series:
        import hashlib

        out = np.zeros(len(rows), dtype=np.int64)
        lens = np.fromiter(
            (0 if r is None else len(r) for r in rows), dtype=np.int64, count=len(rows)
        )
        nz = lens > 0
        if nz.any():
            if md5_tokens:
                digests = np.frombuffer(
                    b"".join(
                        hashlib.md5(tok.encode("utf-8")).digest()
                        for r, n in zip(rows, lens) if n
                        for tok in r
                    ),
                    dtype=np.uint8,
                ).reshape(-1, 16)
                flat = np.packbits(
                    np.unpackbits(digests[:, :8], axis=1), axis=1, bitorder="little"
                ).view("<u8").ravel()
            else:
                flat = np.concatenate(
                    [np.asarray(r, dtype=np.int64) for r, n in zip(rows, lens) if n]
                ).astype(np.uint64)
            seg_lens = lens[nz]
            offsets = np.zeros(len(seg_lens), dtype=np.int64)
            np.cumsum(seg_lens[:-1], out=offsets[1:])
            sig = np.zeros(len(seg_lens), dtype=np.uint64)
            for b in range(63):
                ones = np.add.reduceat(
                    (flat >> np.uint64(b)) & np.uint64(1), offsets
                ).astype(np.int64)
                sig |= (2 * ones > seg_lens).astype(np.uint64) << np.uint64(b)
            out[nz] = sig.astype(np.int64)
        return pd.Series(out)

    return vote_fold


def _simhash64_arrow(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    hs = F.transform(tokens_expr(F.col(text_col)), lambda tk: F.xxhash64(tk))
    return df.select(F.col(id_col).alias("id"), _vote_fold(False)(hs).alias("simhash"))


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
    the vote fold is ``_vote_fold``, the Arrow batch kernel
    ``_simhash64_arrow`` runs. The ``dedup_simhash_md5`` oracle re-derives the
    signatures in DuckDB, and tests/test_extensions.py pins the
    degenerate ones.

    Bit b of a token's vote vector is bit b of its md5 digest (MSB-first),
    which the oracle SQL parses nibble-by-nibble with ``// [8,4,2,1] % 2``
    arithmetic. Tie rule matches the production fold exactly: bit set iff
    votes STRICTLY > 0 (= strict majority of ones, ``2*ones > n``), so
    empty-token AND null-text docs fold to signature 0 in both engines
    (the null coalesce below and the oracle's ``coalesce(sig, 0)`` pin
    the null case)."""
    toks = F.coalesce(tokens_expr(F.col(text_col)), F.array())
    return df.select(F.col(id_col).alias("id"), _vote_fold(True)(toks).alias("simhash"))


def simhash_near_pairs(sig_df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming distance <= max_hamming, banded into 4
    16-bit chunks (pigeonhole guarantees a matching chunk for d<=3).
    Returns (id_a, id_b, hamming).

    Candidate formation goes through ``_banded_self_pairs`` — the same
    giant-bucket salted-join guard as the MinHash path. This matters MORE
    for simhash: every exact-duplicate (and every empty) document has the
    identical signature, so all four chunks collide and a d-sized
    boilerplate cluster would otherwise build d^2/2 pairs in one task.

    Feed a persisted ``sig_df``, as ``q_dedup_simhash`` does.
    ``bucket_pairs`` runs a size check over the chunk table before it
    plans the pairs, so an unpersisted frame computes its signatures
    twice, once for the check and once for the pairs; and a frame whose
    recomputation can differ may then put more than the bound's 512 ids
    into a gather that the check planned from the first computation."""
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

    Local contraction (Łącki et al., "Connected Components at Scale via
    Local Contractions", 2018). A round sends each edge ``(a, b)`` to the
    tasks of both its ends (``explode(array(a, b))``, then ``rebalance``
    on that key), so a node's whole neighbourhood meets in one task. Each
    task solves its subgraph in one Arrow pass (a numpy union-find) and
    emits ``(v, m)``, ``m`` the min id of ``v``'s component there. A
    ``groupBy(v)`` gathers each node's sorted centres ``ms``; the round's
    ``localCheckpoint`` observes how many nodes have more than one. With
    none, the result is ``(v, ms[0])``: each edge's ends then share their
    one label, so it is constant on a component, whose min labels itself.
    Otherwise the next edges are ``(v, ms[0])`` (``(v, v)`` included, so
    no node is lost) and ``(c, ms[0])`` for each other centre ``c`` of
    ``v``: each new edge stays inside a component, and each old edge's
    ends stay joined through the centre they shared.

    Progress: a node's smallest centre never grows (its edge to it lands
    in some task), and a node that is no centre keeps a single edge, to a
    smaller node, so it is never a centre again: the contracted graph of
    centres only shrinks. A graph that AQE coalesces into one task
    resolves in one round. No bound is proven for every partitioning; a
    shuffled 10,000-node chain over 16 unmerged tasks takes 9 rounds.

    Per-task memory: a task holds its partition's edges plus a few int64
    arrays per edge and node. ``rebalance`` lets AQE split a skewed
    partition (a hub's edges) into advisory-size pieces, which bounds a
    Python worker's input; a split neighbourhood can cost a round, never
    correctness. A round has no join, so its plan stays the same size.

    ``max_iter`` bounds the rounds: if nodes still see more than one
    centre after it, the operator raises ``RuntimeError`` ("did not
    converge in N rounds") rather than return a split group."""

    def local_minima(batches):
        # The mapInArrow body: (v, m) for every node v of the task's edges
        # (a, b), m the min id of v's component in the task's subgraph.
        # Ids are ranked by Arrow's sort, which orders longs, ints and
        # strings as Spark does, and a vectorised union-find runs on the
        # ranks: each edge whose ends have different roots hooks the
        # larger root to the smaller, then pointer jumping flattens the
        # forest, until every edge joins one root. Parents only point to
        # smaller ranks, so a component's min is its root. An edge with a
        # NULL end joins nothing; a NULL end is the node (NULL, NULL).
        # Nested, so it pickles by value: workers need not import this
        # package.
        batches = list(batches)
        if not batches:
            return
        table = pa.Table.from_batches(batches)
        a, b = table.column("a").combine_chunks(), table.column("b").combine_chunks()
        ends = pa.concat_arrays([a, b])
        nodes = pc.unique(ends.drop_null())
        nodes = nodes.take(pc.sort_indices(nodes))
        joined = pc.and_(a.is_valid(), b.is_valid())
        u, w = (
            pc.index_in(x.filter(joined), value_set=nodes).to_numpy().astype(np.int64)
            for x in (a, b)
        )
        parent = np.arange(len(nodes))
        while True:
            ru, rw = parent[u], parent[w]
            lo, hi = np.minimum(ru, rw), np.maximum(ru, rw)
            split = lo != hi
            if not split.any():
                break
            np.minimum.at(parent, hi[split], lo[split])
            while not np.array_equal(jumped := parent[parent], parent):
                parent = jumped
        v, m = nodes, nodes.take(parent)
        if ends.null_count:
            v, m = (pa.concat_arrays([x, pa.nulls(1, x.type)]) for x in (v, m))
        yield pa.RecordBatch.from_arrays([v, m], names=["v", "m"])

    id_type = edges.select(F.array(src_col, dst_col)).schema[0].dataType.elementType
    local_min = StructType([StructField("v", id_type), StructField("m", id_type)])
    round_edges = edges.select(
        F.col(src_col).cast(id_type).alias("a"), F.col(dst_col).cast(id_type).alias("b")
    )
    conflicts = 0
    for _ in range(max_iter):
        obs = Observation()
        centres = (
            round_edges.select(F.explode(F.array("a", "b")).alias("k"), "a", "b")
            .hint("rebalance", "k")
            .select("a", "b")
            .mapInArrow(local_minima, local_min)
            .groupBy("v")
            .agg(F.sort_array(F.collect_set("m")).alias("ms"))
            .observe(obs, F.count_if(F.size("ms") > 1).alias("conflicts"))
            .localCheckpoint()
        )
        conflicts = obs.get["conflicts"]
        if conflicts == 0:
            return centres.select(F.col("v").alias("id"), F.get("ms", 0).alias("group_id"))
        round_edges = centres.select(
            F.explode(F.concat(F.array("v"), F.slice("ms", 2, F.size("ms")))).alias("a"),
            F.get("ms", 0).alias("b"),
        )
    # no silent caps: returning intermediate labels would split one
    # duplicate cluster into many groups and downstream keep-one dedup
    # would silently retain duplicates
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        f"({conflicts} nodes still see more than one centre) — raise max_iter"
    )


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
