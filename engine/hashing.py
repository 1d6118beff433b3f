"""Pure-Python XXH64 matching Spark's `xxhash64` expression (seed 42).

Spark's XxHash64 expression hashes a string column's UTF-8 bytes with the
public XXH64 algorithm (Cyan4973's spec) and the fixed seed 42. Having the
same hash driver-side lets the query engine compute a term's storage
bucket without launching a Spark job (one fewer job per query); equality
with the Spark expression is asserted in tests over the whole synthetic
vocabulary plus adversarial lengths.
"""

from __future__ import annotations

MASK = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & MASK


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * P2) & MASK
    return (_rotl(acc, 31) * P1) & MASK


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * P1 + P4) & MASK


def xxh64(data: bytes, seed: int = SPARK_SEED) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & MASK
        v2 = (seed + P2) & MASK
        v3 = seed & MASK
        v4 = (seed - P1) & MASK
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & MASK
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + P5) & MASK
    h = (h + n) & MASK
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * P1 + P4) & MASK
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * P1) & MASK
        h = (_rotl(h, 23) * P2 + P3) & MASK
        i += 4
    while i < n:
        h ^= (data[i] * P5) & MASK
        h = (_rotl(h, 11) * P1) & MASK
        i += 1
    h ^= h >> 33
    h = (h * P2) & MASK
    h ^= h >> 29
    h = (h * P3) & MASK
    h ^= h >> 32
    return h


def xxh64_signed(data: bytes, seed: int = SPARK_SEED) -> int:
    """Spark's LongType view of the hash (two's-complement int64)."""
    h = xxh64(data, seed)
    return h - (1 << 64) if h >= (1 << 63) else h


def term_bucket(term: str, n_buckets: int, seed: int = SPARK_SEED) -> int:
    """pmod(xxhash64(term), n_buckets) exactly as the build computes it."""
    return xxh64_signed(term.encode("utf-8"), seed) % n_buckets


def doc_shard(url: str, n_shards: int) -> int:
    """pmod(xxhash64(url), n_shards): the doc shard the build assigned
    (index_build.assign_doc_ids). The signed hash matters whenever
    n_shards is not a power of two."""
    return xxh64_signed(url.encode("utf-8")) % n_shards
