"""Deterministic, partition-stable randomness as pure column expressions.

The reference draws from Python's global ``random`` (noise draws
``main.py:588-604``, anomaly slots ``main.py:630-633``, distribution
sampling ``main.py:531-573``) — unseeded and irreproducible. Spark's own
``F.rand(seed)`` is only deterministic under a fixed partitioning, which
does not survive repartition/AQE at 100 TB.

We instead derive every random quantity from ``xxhash64`` over the row's
*identity* (series_id, t, salt): a pure, JVM-side, whole-stage-codegen
column expression. Same identity => same draw, on any cluster, any
partitioning, any retry. This is the "counter-based RNG" discipline
(Salmon et al., SC'11 — Philox/Threefry) expressed with Spark built-ins.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^53 — largest power of two with exact double representation of all ints.
_UNIT_DENOM = float(1 << 53)


def hash_unit(*identity: Column | str, salt: int | str = 0) -> Column:
    """Uniform draw in [0, 1) derived from xxhash64(identity..., salt).

    Pure column expression — deterministic per identity regardless of
    partitioning, task retries, or cluster size.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in identity]
    h = F.xxhash64(*cols, F.lit(str(salt)))
    # xxhash64 is a signed 64-bit value; fold to [0, 2^53) then scale.
    return F.pmod(h, F.lit(1 << 53)).cast("double") / F.lit(_UNIT_DENOM)


def hash_long(*identity: Column | str, salt: int | str = 0) -> Column:
    """Raw signed 64-bit hash of (identity..., salt)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in identity]
    return F.xxhash64(*cols, F.lit(str(salt)))


def hash_int(*identity: Column | str, n: int | Column, salt: int | str = 0) -> Column:
    """Uniform integer draw in [0, n) from the same hash stream."""
    n_col = F.lit(n) if isinstance(n, int) else n
    return F.pmod(hash_long(*identity, salt=salt), n_col)


def hash_gauss(*identity: Column | str, salt: int | str = 0) -> Column:
    """Standard-normal draw via Box–Muller over two hash_unit streams.

    z = sqrt(-2 ln u1) * cos(2*pi*u2); u1 nudged off 0 to keep ln finite.
    Replaces the reference's ``np.random.normal(0, 1, n)`` noise vector
    (main.py:597) with a reproducible pure expression.
    """
    u1 = hash_unit(*identity, salt=f"{salt}:g1")
    u2 = hash_unit(*identity, salt=f"{salt}:g2")
    u1 = F.greatest(u1, F.lit(1e-16))
    return F.sqrt(F.lit(-2.0) * F.log(u1)) * F.cos(F.lit(2.0 * math.pi) * u2)


# ---------------------------------------------------- cross-engine counter RNG
#
# The xxhash64-derived streams above are the engine default, but no other
# SQL engine ships Spark's xxhash64 — so G4 draws can only be rows-only
# checked. This second family is a counter-based generator built ONLY from
# arithmetic every engine shares (*, %, xor, >>), with all intermediates
# < 2^48 so ANSI 64-bit math never overflows in Spark OR DuckDB: Lehmer /
# MINSTD multiplicative rounds mod the Mersenne prime 2^31-1 (Park-Miller,
# CACM'88) interleaved with xorshift mixing (Marsaglia '03). Same
# counter-based-RNG discipline, weaker mixing than xxhash64 — use for
# oracle-checkable draws, keep the hash family for production noise.

_MINSTD_M = (1 << 31) - 1  # 2^31-1, Mersenne prime
_MINSTD_A = 48271          # Park-Miller multiplier
_MINSTD_A2 = 69621         # alternative MINSTD multiplier (2nd round)


def counter_int31(counter: Column) -> Column:
    """Scrambled 31-bit value in [0, 2^31-1) from an integer counter.

    Three multiplicative rounds mod 2^31-1 with two xorshift mixes;
    max intermediate = (2^31-1) * 69621 < 2^48. Bit-identical in any
    engine with 64-bit integer %, *, xor, >> (see oracle SQL twins).
    """
    x = F.pmod(counter, F.lit(_MINSTD_M - 1)) + 1          # [1, m-1]
    x = F.pmod(x * F.lit(_MINSTD_A), F.lit(_MINSTD_M))
    x = x.bitwiseXOR(F.shiftright(x, 15))
    x = F.pmod(x * F.lit(_MINSTD_A2), F.lit(_MINSTD_M))
    x = x.bitwiseXOR(F.shiftright(x, 13))
    x = F.pmod(x * F.lit(_MINSTD_A), F.lit(_MINSTD_M))
    return x


def counter_unit(counter: Column) -> Column:
    """Uniform double in [0, 1) from a counter — cross-engine exact:
    the dividend is an exactly-representable 31-bit integer and the
    division is a single IEEE op, so Spark and DuckDB agree bitwise."""
    return counter_int31(counter).cast("double") / F.lit(float(_MINSTD_M))


def counter_offset(*identity: str) -> int:
    """Stream offset for a (run_id, series_id, salt, ...) identity:
    crc32 of the joined identity. Python-side constant so oracle SQL can
    embed the same literal; distinct streams get distinct counter ranges
    (overlap across streams is possible but harmless for test series)."""
    import zlib

    return zlib.crc32("|".join(identity).encode())


def counter_gauss(counter: Column, spread: int = 1 << 20) -> Column:
    """Standard normal via Box-Muller over two counter streams (the
    second offset by ``spread`` counters). Same construction as
    hash_gauss; libm sqrt/log/cos mean cross-engine use needs rounding."""
    u1 = F.greatest(counter_unit(counter), F.lit(1e-16))
    u2 = counter_unit(counter + F.lit(spread))
    return F.sqrt(F.lit(-2.0) * F.log(u1)) * F.cos(F.lit(2.0 * math.pi) * u2)
