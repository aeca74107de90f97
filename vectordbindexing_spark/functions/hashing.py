"""Deterministic cross-engine hashing primitives.

Everything here must produce *identical* values in Spark and DuckDB so the
driver's oracle hash-compare works: the base string hash is the first 8 hex
chars of md5 (both engines agree on md5), and all derived hashes (MinHash
affine family, LCG hyperplanes for SimHash) are plain integer arithmetic on
top of it. No engine-native hash() (murmur vs wyhash mismatch).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: keeps affine-hash products inside int64.
MERSENNE31 = 2_147_483_647
# Deterministic affine coefficients (a_i, b_i) = f(i) — same formula usable
# in SQL on the oracle side.
_A_MUL = 1_103_515_245
_A_ADD = 12_345
_B_MUL = 69_069
_B_ADD = 1


def det_hash64(s: Column | str) -> Column:
    """First 8 md5 hex chars → BIGINT in [0, 2^32). DuckDB equivalent:
    ``('0x' || substr(md5(s), 1, 8))::BIGINT``."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


DET_HASH64_SQL = "(('0x' || substr(md5({s}), 1, 8))::BIGINT)"


def det_hash60(s: Column | str) -> Column:
    """First 15 md5 hex chars → BIGINT in [0, 2^60) — the wide variant
    for corpus-scale window hashing where 32-bit birthday collisions
    (≈ n²/2³³) would mis-mark spans. DuckDB equivalent:
    ``('0x' || substr(md5(s), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


DET_HASH60_SQL = "(('0x' || substr(md5({s}), 1, 15))::BIGINT)"


def det_hash60_py(s: str) -> int:
    """Python twin of :func:`det_hash60`."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def minhash_signature_sql(grams_sql: str, num_hashes: int) -> str:
    """DuckDB SQL mirroring :func:`minhash_signature_np` exactly."""
    return f"""
    list_transform(range(0, {num_hashes}), i ->
      coalesce(
        list_min(list_transform({grams_sql}, g ->
          ((((i+1)*{_A_MUL} + {_A_ADD}) % {MERSENNE31})
            * ((('0x' || substr(md5(g), 1, 8))::BIGINT) % {MERSENNE31})
           + (i+1)*{_B_MUL} + {_B_ADD}) % {MERSENNE31})),
        {MERSENNE31}))
    """


def det_hash64_py(s: str) -> int:
    """Python twin of :func:`det_hash64` (first 8 md5 hex chars of the
    UTF-8 bytes → int)."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def minhash_signature_np(hashes, num_hashes: int):
    """MinHash signature of one set of pre-hashed shingles: (n_grams,)
    int64 :func:`det_hash64_py` values → (num_hashes,) int64 signature.

    h_i(s) = (a_i * det_hash64(s) + b_i) mod (2^31-1), with
    a_i = (i+1)*_A_MUL + _A_ADD, b_i = (i+1)*_B_MUL + _B_ADD. Empty input
    → all-MERSENNE31 sentinels. Identical int64 arithmetic to
    :func:`minhash_signature_sql`."""
    import numpy as np

    if len(hashes) == 0:
        return np.full(num_hashes, MERSENNE31, dtype=np.int64)
    h = np.asarray(hashes, dtype=np.int64) % MERSENNE31
    i = np.arange(1, num_hashes + 1, dtype=np.int64)[:, None]
    a = (i * _A_MUL + _A_ADD) % MERSENNE31
    b = i * _B_MUL + _B_ADD
    return ((a * h[None, :] + b) % MERSENNE31).min(axis=1)


def lcg_planes_np(num_bits: int, dim: int, table: int = 0):
    """(num_bits, dim) float64 hyperplane matrix, entries in [-0.5, 0.5)
    from (bit, dim) — a tiny LCG, reproducible bit-for-bit in SQL
    (:func:`simhash_bits_sql`). SimHash hyperplanes; replaces the
    reference's np.random.randn planes, simple_sim_hash.py:7-9."""
    import numpy as np

    j = np.arange(num_bits, dtype=np.int64)[:, None] + table * num_bits
    i = np.arange(dim, dtype=np.int64)[None, :]
    seed = (j * 73_856_093 + i * 19_349_663 + 83_492_791) % MERSENNE31
    mixed = (seed * _A_MUL + _A_ADD) % MERSENNE31
    return mixed.astype("float64") / float(MERSENNE31) - 0.5


def simhash_bits_np(V, num_bits: int = 16, table: int = 0):
    """Vectorized SimHash over a (n, d) matrix → (n,) int64 buckets: bit
    j = (v · plane_j) >= 0, bit-packed (reference semantics
    simple_sim_hash.py:12-18, hyperplanes from :func:`lcg_planes_np`).
    ``table`` offsets the plane family for multi-table LSH. Matches
    :func:`simhash_bits_sql` (the f64 matmul vs sequential-sum difference
    only matters when a projection magnitude is ≲1e-15 — negligible for
    real data)."""
    import numpy as np

    P = lcg_planes_np(num_bits, V.shape[1], table)
    proj = V.astype(np.float64) @ P.T
    weights = (1 << np.arange(num_bits, dtype=np.int64))
    return ((proj >= 0) @ weights).astype(np.int64)


def simhash_bits_sql(vec_sql: str, num_bits: int = 16, table: int = 0) -> str:
    """DuckDB SQL mirroring :func:`simhash_bits_np` (1-based list indexing)."""
    plane = (
        f"(((((bit + {table * num_bits})*73856093 + (i-1)*19349663 + 83492791)"
        " % 2147483647)"
        " * 1103515245 + 12345) % 2147483647)::DOUBLE / 2147483647.0 - 0.5"
    )
    return f"""
    list_sum(list_transform(range(0, {num_bits}), bit ->
      CASE WHEN list_sum(list_transform({vec_sql}, (x, i) ->
                  x::DOUBLE * ({plane}))) >= 0
           THEN (1::BIGINT << bit) ELSE 0 END))::BIGINT
    """


# ------------------------------------------------------------- xxhash64 twin
#
# Spark partitions every streaming artifact by pmod(xxhash64(key), B).
# The maintainers already hold each micro-batch's keys driver-side (the
# r12 bounded-collect classification), so computing the same bucket
# values in Python removes whole fixed-latency Spark jobs per batch
# (the _bkts distinct+collect probe, the delta-footprint aggregate).
# This is the xxHash64 single-LONG specialization exactly as Spark
# evaluates a one-column xxhash64(bigint) with its default seed 42
# (Catalyst XxHash64 → XXH64.hashLong); pinned bit-for-bit against
# F.xxhash64 in tests/test_partitioning_hash.py.

_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1


def xxhash64_long_py(value: int, seed: int = 42) -> int:
    """Python twin of Spark ``F.xxhash64(col)`` over ONE non-null
    BIGINT column (seed 42 — Spark's default). Returns the signed
    64-bit value Spark returns."""
    v = value & _U64  # two's-complement view of the long
    h = (seed + _XXP5 + 8) & _U64
    h ^= ((((v * _XXP2) & _U64) << 31 | ((v * _XXP2) & _U64) >> 33)
          & _U64) * _XXP1 & _U64
    h = ((((h << 27) | (h >> 37)) & _U64) * _XXP1 + _XXP4) & _U64
    h ^= h >> 33
    h = (h * _XXP2) & _U64
    h ^= h >> 29
    h = (h * _XXP3) & _U64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of_py(value: int, n_buckets: int) -> int:
    """Python twin of the maintainers' ``pmod(xxhash64(key), B)``
    bucket expression (streaming.deltalog.bucket over one id column):
    Python's ``%`` on a positive modulus already equals Spark's pmod."""
    return xxhash64_long_py(int(value)) % n_buckets
