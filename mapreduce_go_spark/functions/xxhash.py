"""Pure-Python XXH64 twin of Spark's `xxhash64` for BIGINT columns.

Spark's deterministic-sampling predicate
``pmod(xxhash64(vec_id), M) < frac * M`` (kmeans.kmeans_centroids'
sampled training) is cheap JVM-side but has no DuckDB analog, so the
Spark-free trainer (kmeans.embedding_sample) that must reproduce the
SAMPLE — not just the downstream math — needs a twin of the hash
itself. XXH64
is a public, fully-specified algorithm (Yann Collet,
https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md);
Spark hashes a LongType column as the 8-byte little-endian value with
seed 42 (sql/catalyst XxHash64 / XXH64.hashLong). Parity with Spark
is pinned bit-for-bit in tests/test_xxhash.py over fixture vec_ids
and adversarial constants.

Only the len==8 path (one 8-byte lane, no 32-byte stripe loop) is
needed for longs; implementing exactly that keeps the twin small and
auditable. All arithmetic is modulo 2**64 (``_M``) like the C
reference's uint64.
"""

from __future__ import annotations

_M = (1 << 64) - 1

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42  # Spark's fixed xxhash64 seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxh64_long(value: int, seed: int = SPARK_SEED) -> int:
    """XXH64 of one 8-byte little-endian long == Spark
    ``xxhash64(CAST(value AS BIGINT))``. Returns the SIGNED 64-bit
    result (Spark's LongType), so ``% m`` on the return value equals
    Spark ``pmod(xxhash64(col), m)`` for positive m (Python % is
    already floor-mod)."""
    lane = value & _M  # two's-complement image of the signed long
    acc = (seed + _P5 + 8) & _M
    k = _rotl((lane * _P2) & _M, 31) * _P1 & _M
    acc ^= k
    acc = ((_rotl(acc, 27) * _P1) + _P4) & _M
    # avalanche
    acc ^= acc >> 33
    acc = (acc * _P2) & _M
    acc ^= acc >> 29
    acc = (acc * _P3) & _M
    acc ^= acc >> 32
    return acc - (1 << 64) if acc >= (1 << 63) else acc


def sample_mask(ids, frac: float, mod: int) -> list[bool]:
    """The kmeans sampling predicate, Spark-free: True iff
    ``pmod(xxhash64(id), mod) < round(frac * mod)`` — keep in lockstep
    with kmeans.kmeans_centroids."""
    cut = int(round(float(frac) * mod))
    return [xxh64_long(int(i)) % mod < cut for i in ids]
