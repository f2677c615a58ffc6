"""Driver-side replica of Spark's bucket routing for string keys.

A bucketed store places a row at ``pmod(xxhash64(key), n)`` (see
``BucketedMaterializedView.bucket_expr``).  For a single STRING bucket
key that value depends only on the key's UTF-8 bytes, so the driver can
route a point lookup without a Spark job: :func:`xxh64` is the XXH64
algorithm Spark's ``XxHash64Function`` runs (little-endian word reads,
default seed 42), returned as a signed 64-bit value like Spark's
``long``, and :func:`pmod` is Spark's positive modulus over it.

:func:`cast_to_string` renders a Python value exactly as Spark's
``CAST(x AS STRING)`` does, for the column types whose rendering is
proven here (integral, string, boolean); every other type returns None
and the caller keeps the Spark path.  The property tests in
``tests/test_spark_hash.py`` pin both against Spark.
"""

from __future__ import annotations

from pyspark.sql import types as T

SPARK_SEED = 42  # XxHash64's default seed in Spark SQL

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int = SPARK_SEED) -> int:
    """XXH64 of ``data`` as a SIGNED 64-bit int (Spark's ``long``)."""
    n = len(data)
    seed &= _M64
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def pmod(a: int, n: int) -> int:
    """Spark's ``pmod`` for a positive divisor.  Python's ``%`` already
    takes the divisor's sign, which is exactly pmod's result."""
    return a % n


def bucket_of(key: str, n: int) -> int:
    """``pmod(xxhash64(key), n)`` for one string key."""
    return pmod(xxh64(key.encode("utf-8")), n)


_INTEGRAL_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32,
                  T.LongType: 64}


def cast_to_string(value, dtype: T.DataType) -> str | None:
    """``CAST(value AS STRING)`` as Spark renders a ``dtype`` column, or
    None when this module does not prove the rendering for that value.

    A value is proven only when Spark would accept it for ``dtype``
    unchanged: an ``int`` (not a ``bool``) inside the integral type's
    range, a ``bool`` for booleans, and a ``str`` that encodes to UTF-8.
    Anything else returns None, so the caller's Spark path raises or
    converts exactly as it always did."""
    bits = _INTEGRAL_BITS.get(type(dtype))
    if bits is not None:
        lim = 1 << (bits - 1)
        ok = type(value) is int and -lim <= value < lim
        return str(value) if ok else None
    if isinstance(dtype, T.BooleanType):
        return ("true" if value else "false") if type(value) is bool else None
    # default (binary) collation only: a collated column's cast and hash
    # are collation-aware
    if dtype == T.StringType() and type(value) is str:
        try:
            value.encode("utf-8")
        except UnicodeEncodeError:
            return None
        return value
    return None
