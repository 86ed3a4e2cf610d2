"""Driver-side replica of the bucket transform.

Every table buckets its rows by ``pmod(xxhash64(key), N)``
(``lake.table.bucket_column``). ``xxh64`` is a pure-Python XXH64 that
matches Spark's ``xxhash64`` byte for byte, and ``bucket_of`` turns it
into the bucket of one key, so a point lookup prunes to that bucket
without running a Spark job.
"""

from __future__ import annotations

# XXH64 per its public spec; seed 42 is Spark's xxhash64 seed. Checked
# byte for byte against F.xxhash64 in tests/test_operators.py.

_P1x = 0x9E3779B185EBCA87
_P2x = 0xC2B2AE3D27D4EB4F
_P3x = 0x165667B19E3779F9
_P4x = 0x85EBCA77C2B2AE63
_P5x = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_round(acc: int, inp: int) -> int:
    return (_rotl64((acc + inp * _P2x) & _M64, 31) * _P1x) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` — equals Spark's ``F.xxhash64(string_col)`` on
    the column's UTF-8 bytes (unsigned; subtract 2^64 when >= 2^63 to
    get Spark's signed long)."""
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _P1x + _P2x) & _M64
        v2 = (seed + _P2x) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1x) & _M64
        while i + 32 <= n:
            v1 = _xx_round(v1, int.from_bytes(data[i:i + 8], "little")); i += 8
            v2 = _xx_round(v2, int.from_bytes(data[i:i + 8], "little")); i += 8
            v3 = _xx_round(v3, int.from_bytes(data[i:i + 8], "little")); i += 8
            v4 = _xx_round(v4, int.from_bytes(data[i:i + 8], "little")); i += 8
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12)
             + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _xx_round(0, v)) * _P1x + _P4x) & _M64
    else:
        h = (seed + _P5x) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = _xx_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = ((_rotl64(h ^ k, 27) * _P1x) + _P4x) & _M64
        i += 8
    if i + 4 <= n:
        h = ((_rotl64(h ^ ((int.from_bytes(data[i:i + 4], "little") * _P1x)
                           & _M64), 23) * _P2x) + _P3x) & _M64
        i += 4
    while i < n:
        h = (_rotl64(h ^ ((data[i] * _P5x) & _M64), 11) * _P1x) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2x) & _M64
    h ^= h >> 29
    h = (h * _P3x) & _M64
    h ^= h >> 32
    return h


def bucket_of(key, num_buckets: int) -> int:
    """Driver-side ``pmod(xxhash64(key), num_buckets)`` for a string or
    bytes key — the exact bucket LakeTable's layout assigns the key, so
    point reads prune to one bucket without any Spark job."""
    data = key.encode("utf-8") if isinstance(key, str) else bytes(key)
    h = xxh64(data)
    signed = h - (1 << 64) if h >= (1 << 63) else h
    return ((signed % num_buckets) + num_buckets) % num_buckets
