"""Pure-Python replication of Spark's ``xxhash64``.

XXH64 is a public algorithm (Yann Collet's xxHash, BSD — the same spec
Spark's ``org.apache.spark.sql.catalyst.expressions.XxHash64`` implements).
Spark folds a multi-column call left-to-right: the running hash seeds the
next column, starting from the expression's seed (42 for ``F.xxhash64``).
A ``StringType`` input hashes its UTF-8 bytes, an ``IntegerType`` input its
4 little-endian bytes and a ``LongType`` input its 8.

Why this exists: the engine's hash-based operators (MinHash, SimHash, the
verified-pair token hashes, the hyperplane-LSH planes) run Spark's
``xxhash64`` on executors.  DuckDB cannot evaluate it, so the oracle check
(tools/check_oracle.py) registers :func:`spark_xxhash64` as a DuckDB UDF and
the hyperplane oracles embed :func:`xxhash64_planes` as literals.  A pytest
cross-checks this module against Spark's own ``F.xxhash64`` over a value
grid.
"""

from __future__ import annotations

from typing import List, Sequence, Union

_PRIME64_1 = 0x9E3779B185EBCA87
_PRIME64_2 = 0xC2B2AE3D27D4EB4F
_PRIME64_3 = 0x165667B19E3779F9
_PRIME64_4 = 0x85EBCA77C2B2AE63
_PRIME64_5 = 0x27D4EB2F165667C5
_MASK64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _PRIME64_2) & _MASK64
    return _rotl(acc, 31) * _PRIME64_1 & _MASK64


def _merge(acc: int, v: int) -> int:
    acc ^= _round(0, v)
    return (acc * _PRIME64_1 + _PRIME64_4) & _MASK64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _PRIME64_2) & _MASK64
    h ^= h >> 29
    h = (h * _PRIME64_3) & _MASK64
    h ^= h >> 32
    return h


def xxh64_bytes(data: bytes, seed: int) -> int:
    """Standard XXH64 of ``data`` (unsigned result)."""
    seed &= _MASK64
    n, p = len(data), 0
    if n >= 32:
        v = [
            (seed + _PRIME64_1 + _PRIME64_2) & _MASK64,
            (seed + _PRIME64_2) & _MASK64,
            seed,
            (seed - _PRIME64_1) & _MASK64,
        ]
        while p + 32 <= n:
            for i in range(4):
                lane = int.from_bytes(data[p + 8 * i: p + 8 * i + 8], "little")
                v[i] = _round(v[i], lane)
            p += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _MASK64
        for lane in v:
            h = _merge(h, lane)
    else:
        h = (seed + _PRIME64_5) & _MASK64
    h = (h + n) & _MASK64
    while p + 8 <= n:
        h ^= _round(0, int.from_bytes(data[p: p + 8], "little"))
        h = (_rotl(h, 27) * _PRIME64_1 + _PRIME64_4) & _MASK64
        p += 8
    if p + 4 <= n:
        h ^= int.from_bytes(data[p: p + 4], "little") * _PRIME64_1 & _MASK64
        h = (_rotl(h, 23) * _PRIME64_2 + _PRIME64_3) & _MASK64
        p += 4
    while p < n:
        h ^= data[p] * _PRIME64_5 & _MASK64
        h = _rotl(h, 11) * _PRIME64_1 & _MASK64
        p += 1
    return _fmix(h)


def _signed(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def spark_xxhash64(values: Sequence[Union[str, int]], seed: int = 42) -> int:
    """``F.xxhash64(c0, c1, ...)`` — signed 64-bit, exactly Spark's result.

    A ``str`` is a StringType value (UTF-8 bytes); an ``int`` is an
    IntegerType value such as ``F.lit(7)``."""
    h = seed
    for v in values:
        if isinstance(v, str):
            data = v.encode("utf-8")
        else:
            data = (v & 0xFFFFFFFF).to_bytes(4, "little")
        h = xxh64_bytes(data, h)
    return _signed(h)


def xxhash64_planes(
    n_planes: int, dim: int, seed: int = 42
) -> List[List[float]]:
    """The ±1 hyperplane components similarity.bucket_expr computes on
    executors (xxhash64(seed, p, j) & 1), as driver-side literals."""
    return [
        [
            1.0 if spark_xxhash64([seed, p, j]) & 1 == 1 else -1.0
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]
