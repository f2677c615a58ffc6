"""functions/spark_hash — the driver-side bucket routing must equal
Spark's ``pmod(xxhash64(CAST(x AS STRING)), n)`` bit for bit, or a
driver-routed lookup reads the wrong bucket and silently misses rows."""

import random

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ydb_cdc_processor_spark.functions.spark_hash import (
    bucket_of, cast_to_string, xxh64)
from ydb_cdc_processor_spark.operators.ivm_feed import NULL_KEY

NS = (1, 7, 16, 64, 1024)

# code points of every UTF-8 width (1-4 bytes), NUL and a combining mark
_POINTS = ([chr(c) for c in range(32, 127)]
           + ["\x00", "\u00e9", "\u00df", "\u0301", "\u4e2d", "\u20ac",
              "\uffff", "\U0001f600", "\U0010fffd"])


def _string_of_bytes(rng: random.Random, n: int) -> str:
    """A random string whose UTF-8 encoding is exactly ``n`` bytes."""
    out, used = [], 0
    while used < n:
        c = rng.choice(_POINTS)
        w = len(c.encode("utf-8"))
        if used + w <= n:
            out.append(c)
            used += w
    return "".join(out)


def test_xxh64_pmod_matches_spark_on_unicode_strings(spark):
    """Every UTF-8 byte length 0-100 — so each side of the 4-, 8- and
    32-byte stripe boundaries — eight random strings each, plus the
    NULL key image, routed for every bucket count in NS."""
    rng = random.Random(20261017)
    keys = [_string_of_bytes(rng, n) for n in range(101) for _ in range(8)]
    keys.append(NULL_KEY)
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = df.select(
        "k", F.xxhash64("k").alias("h"),
        *[F.pmod(F.xxhash64("k"), F.lit(n)).cast("int").alias(f"b{n}")
          for n in NS]).collect()
    assert len(got) == len(keys)
    bad = [(r.k, n) for r in got for n in NS
           if bucket_of(r.k, n) != r[f"b{n}"]]
    assert not bad, bad[:5]
    assert all(xxh64(r.k.encode("utf-8")) == r.h for r in got)


_INTEGRALS = {
    "l": (T.LongType(), [-(1 << 63), -(1 << 63) + 1, -1, 0, 1, 42,
                         -987654321012, (1 << 63) - 1]),
    "i": (T.IntegerType(), [-(1 << 31), -7, 0, 9, (1 << 31) - 1]),
    "s": (T.ShortType(), [-(1 << 15), -300, 0, (1 << 15) - 1]),
    "b": (T.ByteType(), [-128, -1, 0, 127]),
    "f": (T.BooleanType(), [True, False]),
}


def test_integral_and_boolean_rendering_matches_spark_cast(spark):
    """CAST(x AS STRING) and its bucket for integral extremes, negative
    values and booleans, one column per type."""
    width = max(len(v) for _, v in _INTEGRALS.values())
    cols = list(_INTEGRALS)
    rows = [tuple(_INTEGRALS[c][1][i] if i < len(_INTEGRALS[c][1])
                  else None for c in cols) for i in range(width)]
    schema = T.StructType([T.StructField(c, _INTEGRALS[c][0])
                           for c in cols])
    df = spark.createDataFrame(rows, schema)
    sel = []
    for c in cols:
        s = F.col(c).cast("string")
        sel.append(s.alias(f"{c}_s"))
        sel += [F.pmod(F.xxhash64(s), F.lit(n)).cast("int")
                .alias(f"{c}_{n}") for n in NS]
    got = df.select(*sel).collect()
    for i, r in enumerate(got):
        for c in cols:
            vals = _INTEGRALS[c][1]
            if i >= len(vals):
                continue
            rendered = cast_to_string(vals[i], _INTEGRALS[c][0])
            assert rendered == r[f"{c}_s"], (c, vals[i])
            for n in NS:
                assert bucket_of(rendered, n) == r[f"{c}_{n}"], \
                    (c, vals[i], n)


def test_unproven_renderings_fall_back():
    """A value Spark would reject or convert, or a type whose cast is
    not pinned here, renders as None (the caller keeps the Spark path)."""
    assert cast_to_string(True, T.LongType()) is None
    assert cast_to_string(1 << 63, T.LongType()) is None
    assert cast_to_string(128, T.ByteType()) is None
    assert cast_to_string("5", T.LongType()) is None
    assert cast_to_string(1, T.BooleanType()) is None
    assert cast_to_string(1.5, T.DoubleType()) is None
    assert cast_to_string(5, T.DoubleType()) is None
    assert cast_to_string("x", T.StringType("UTF8_LCASE")) is None
    assert cast_to_string("\ud800", T.StringType()) is None
    assert cast_to_string(-5, T.LongType()) == "-5"
    assert cast_to_string("x", T.StringType()) == "x"

