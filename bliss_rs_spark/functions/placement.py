"""Placement: the one hash behind every store's on-disk layout.

Postings are bucketed by ``term_bucket``, trigram postings by
``gram_bucket`` and every packed frame by doc ``shard``; all three are
``cast(pmod(xxhash64(x, 42), n) as int)``.  This module is the only place
that spells it:

- ``hash_bucket(col, n)`` / ``doc_shard(n)``: the Column forms, used by the
  builders, packers and servers.  Their plan text is exactly the inline
  ``F.pmod(F.xxhash64(..), F.lit(n)).cast("int")`` they replace, so stored
  layouts and captured plans are unchanged.
- ``buckets_of(values, n)``: the driver twin for query planning.  A pure
  Python XXH64 (seed 42) over the UTF-8 bytes of each value reproduces
  Spark's ``XXH64.hashUnsafeBytes``, so pruning a query to its buckets runs
  no Spark job and needs no cache: microseconds per value, where a
  createDataFrame+collect probe costs one scheduled job (~0.5 s at
  local[4]).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SEED = 42  # Spark's default xxhash64 seed

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def hash_bucket(col: str | Column, n: int) -> Column:
    """``pmod(xxhash64(col), n)`` as int: the term/gram bucket of a value."""
    return F.pmod(F.xxhash64(col), F.lit(int(n))).cast("int")


def doc_shard(n: int) -> Column:
    """The doc placement of every packed frame: the shard of ``doc_id``."""
    return hash_bucket("doc_id", n)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _xxh64(data: bytes) -> int:
    """Spark's XXH64 of a byte string, as a signed 64-bit int."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (SEED + _P1 + _P2) & _M
        v2 = (SEED + _P2) & _M
        v3 = SEED
        v4 = (SEED - _P1) & _M
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
    else:
        h = SEED + _P5
    h = (h + n) & _M
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def buckets_of(values, n: int) -> list[int]:
    """Sorted distinct ``pmod(xxhash64(v), n)`` over string ``values``,
    computed on the driver (Python's ``%`` by a positive ``n`` is pmod)."""
    return sorted({_xxh64(v.encode("utf-8")) % int(n) for v in set(values)})
