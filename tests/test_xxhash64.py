"""Bit-parity of the pure-Python XXH64 against Spark's ``xxhash64``.

This parity is LOAD-BEARING: the Python DataSource plans bloom file
skipping in a worker process with no SparkSession, using
``sources/xxhash64.py`` to hash lookup literals natively. A silent
divergence would turn into wrongly-skipped files, so the contract is
pinned here over adversarial inputs (every tail length 0..40, unicode,
32+-byte accumulator paths, negative and extreme longs) instead of
trusted."""

import random
import string

import pytest
from pyspark.sql import functions as F

from music_recommendation_service_spark.sources.xxhash64 import (
    _to_signed,
    bloom_positions,
    hash_long,
    spark_xxhash64_long_then_string,
)


def test_string_chain_parity(spark):
    random.seed(11)
    vals = [
        "", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
        "x" * 31, "y" * 32, "z" * 33, "w" * 63, "q" * 64, "r" * 65,
        "√ünïçødé-ﬆríng", "日本語テキスト", "-123", "3.14", "\x00\x01\x02",
    ]
    vals += ["".join(random.choices(string.printable, k=n)) for n in range(0, 41)]
    vals += [
        "".join(random.choices(string.printable, k=random.randint(41, 300)))
        for _ in range(30)
    ]
    rows = [(i % 5, v) for i, v in enumerate(vals)]
    got = (
        spark.createDataFrame(rows, "i long, s string")
        .select("i", "s", F.xxhash64(F.col("i"), F.col("s")).alias("h"))
        .collect()
    )
    for r in got:
        assert spark_xxhash64_long_then_string(r["i"], r["s"]) == r["h"]


def test_long_parity(spark):
    vals = [0, 1, -1, 42, 2**62, -(2**62), 2**63 - 1, -(2**63)]
    got = (
        spark.createDataFrame([(v,) for v in vals], "v long")
        .select("v", F.xxhash64("v").alias("h"))
        .collect()
    )
    for r in got:
        assert _to_signed(hash_long(r["v"], 42)) == r["h"]


def test_bloom_positions_match_jvm_path(spark):
    """The native positions equal what the write path's JVM expression
    (``snapshots._bloom_pos_expr``) computes for the same value in a
    1-row frame, for the value types the bloom index actually sees."""
    from music_recommendation_service_spark.sources.snapshots import (
        _BLOOM_K,
        _BLOOM_M_MAX,
        _bloom_pos_expr,
    )

    import datetime as dt

    vals = [
        7, -7, 0, 123456789012345, "alpha", "", "日本語", "O",
        # naive datetimes index TIMESTAMP_NTZ columns (wall clock, so the
        # host's zone does not matter). Spark's CAST(ts AS STRING) trims
        # trailing fractional zeros ('.500000' -> '.5'); the native form
        # must match or a JVM-built bloom probed natively reports a false
        # "absent"
        dt.datetime(2024, 1, 1, 0, 0, 0),
        dt.datetime(2024, 1, 1, 0, 0, 0, 500000),
        dt.datetime(2024, 1, 1, 12, 34, 56, 123000),
        dt.datetime(2023, 6, 30, 23, 59, 59, 999999),
        dt.date(2024, 3, 5),
    ]
    for v in vals:
        if isinstance(v, dt.datetime):
            frame = spark.createDataFrame([(v,)], "_v timestamp_ntz")
        else:
            frame = spark.range(1).select(F.lit(v).alias("_v"))
        row = frame.select(
            *[_bloom_pos_expr("_v", i).alias(f"_p{i}") for i in range(_BLOOM_K)]
        ).first()
        jvm = [row[f"_p{i}"] for i in range(_BLOOM_K)]
        nat = bloom_positions(v, _BLOOM_M_MAX, _BLOOM_K)
        assert nat == jvm, v


def test_unsupported_types_conservative():
    assert bloom_positions(None, 1 << 17, 3) is None
    assert bloom_positions(True, 1 << 17, 3) is None
    assert bloom_positions(3.14, 1 << 17, 3) is None
    assert bloom_positions(b"bytes", 1 << 17, 3) is None
