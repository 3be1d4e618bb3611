"""Pure-Python XXH64 matching Spark's ``xxhash64`` expression bit-for-bit.

Why this exists: the snapshot protocol builds its per-file Bloom filters
with Spark's ``xxhash64`` (``snapshots._bloom_pos_expr``), and every lookup
literal is hashed here, natively: ``snapshot_scan``, ``snapshot_scan_in``
and MERGE's key pruning on the driver, and the Python DataSource
integration (``sources/datasource.py``) inside a Spark *Python worker
process* where no SparkSession exists. No lookup runs a Spark job to hash
its literals. This module reimplements the exact algorithm of
``org.apache.spark.sql.catalyst.expressions.XXH64`` (the standard xxHash64
of Cyan4973/xxHash, which Spark follows for 8-byte-aligned and tail inputs
alike) in pure Python, and ``tests/test_xxhash64.py`` pins bit-parity
against ``F.xxhash64`` over adversarial lengths/values — if Spark's
implementation ever diverged, the test (not a silently wrong file skip)
catches it. Degradation rule stays the same as everywhere else in the
protocol: a caller that cannot hash a value must treat the file as
"may contain".

Reference lineage (public): xxHash spec (Yann Collet, BSD-2) and Spark's
``XXH64.java``; reimplemented from the spec, no code copied.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1

SPARK_DEFAULT_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def hash_long(value: int, seed: int) -> int:
    """xxHash64 of one 8-byte little-endian long — Spark's
    ``XXH64.hashLong`` (used for LongType children of ``xxhash64``)."""
    value &= _M64
    h = (seed + _P5 + 8) & _M64
    h ^= (_rotl((value * _P2) & _M64, 31) * _P1) & _M64
    h = ((_rotl(h, 27) * _P1) + _P4) & _M64
    return _fmix(h)


def hash_int(value: int, seed: int) -> int:
    """xxHash64 of one 4-byte value — Spark's ``XXH64.hashInt`` (IntegerType
    / DateType children)."""
    value &= 0xFFFFFFFF
    h = (seed + _P5 + 4) & _M64
    h ^= (value * _P1) & _M64
    h = ((_rotl(h, 23) * _P2) + _P3) & _M64
    return _fmix(h)


def hash_bytes(data: bytes, seed: int) -> int:
    """Standard xxHash64 over a byte string — Spark's
    ``XXH64.hashUnsafeBytes`` (StringType children hash their UTF-8
    bytes)."""
    length = len(data)
    end = length
    off = 0
    if length >= 32:
        limit = end - 32
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while off <= limit:
            v1 = (_rotl((v1 + int.from_bytes(data[off:off + 8], "little") * _P2) & _M64, 31) * _P1) & _M64
            v2 = (_rotl((v2 + int.from_bytes(data[off + 8:off + 16], "little") * _P2) & _M64, 31) * _P1) & _M64
            v3 = (_rotl((v3 + int.from_bytes(data[off + 16:off + 24], "little") * _P2) & _M64, 31) * _P1) & _M64
            v4 = (_rotl((v4 + int.from_bytes(data[off + 24:off + 32], "little") * _P2) & _M64, 31) * _P1) & _M64
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
            h = ((h * _P1) + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + length) & _M64
    while off + 8 <= end:
        k1 = int.from_bytes(data[off:off + 8], "little")
        h ^= (_rotl((k1 * _P2) & _M64, 31) * _P1) & _M64
        h = ((_rotl(h, 27) * _P1) + _P4) & _M64
        off += 8
    if off + 4 <= end:
        h ^= (int.from_bytes(data[off:off + 4], "little") * _P1) & _M64
        h = ((_rotl(h, 23) * _P2) + _P3) & _M64
        off += 4
    while off < end:
        h ^= (data[off] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        off += 1
    return _fmix(h)


def _to_signed(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def spark_xxhash64_long_then_string(i: int, s: str, seed: int = SPARK_DEFAULT_SEED) -> int:
    """``F.xxhash64(longCol, stringCol)`` for a non-null string: Spark
    chains children left-to-right, each child's hash seeding the next
    (nulls leave the running hash unchanged). Returns the SIGNED 64-bit
    value Spark's LongType carries."""
    h = hash_long(i, seed)
    return _to_signed(hash_bytes(s.encode("utf-8"), h))


def spark_xxhash64_int_then_string(i: int, s: str, seed: int = SPARK_DEFAULT_SEED) -> int:
    """``F.xxhash64(F.lit(i), col.cast("string"))`` where ``i`` is a small
    Python int — ``F.lit`` types those as IntegerType, which Spark hashes
    through ``hashInt`` (4 bytes), not ``hashLong``. This is the exact
    chain of ``snapshots._bloom_pos_expr``."""
    h = hash_int(i, seed)
    return _to_signed(hash_bytes(s.encode("utf-8"), h))


def bloom_positions(value, m_max: int, k: int) -> list[int] | None:
    """The k max-modulus bloom bit positions of a lookup literal, equal to
    what ``snapshots._bloom_pos_expr`` computes for the same value in a
    column. Values are canonicalized to their Spark ``cast("string")``
    form; a value whose string form is not reproducible here (None, bools,
    floats, decimals, bytes, zoned timestamps) returns None and the caller
    must treat every file as "may contain"."""
    s = spark_string_form(value)
    if s is None:
        return None
    return [
        spark_xxhash64_int_then_string(i, s) % m_max
        for i in range(k)
    ]


def spark_string_form(value) -> str | None:
    """``CAST(value AS STRING)`` for the literal types the bloom write path
    indexes (int/str; floats and dates via their canonical forms). Returns
    None for anything whose Spark string form we will not guarantee —
    conservative, like missing stats."""
    import datetime as _dt

    if value is None or isinstance(value, bool):
        return None
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        return value
    if isinstance(value, _dt.datetime):
        # A naive datetime hashes as its wall clock, which is what Spark
        # renders for a TIMESTAMP_NTZ value. A TIMESTAMP (local time zone)
        # renders in the session zone, so callers must not probe its
        # blooms with a naive datetime read in the process's zone.
        if value.tzinfo is not None:
            return None
        s = value.isoformat(sep=" ")
        # Spark's CAST(ts AS STRING) trims trailing fractional zeros
        # ('00:00:00.500000' -> '00:00:00.5', '.000000' drops entirely);
        # isoformat keeps them. Hash the SAME string or a bloom built on
        # the JVM path probed here returns a false "definitely absent".
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s
    if isinstance(value, _dt.date):
        return value.isoformat()
    return None
