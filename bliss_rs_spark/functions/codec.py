"""Delta + varbyte posting-list codec (NumPy-vectorized, no per-element Python).

Spark has no built-in posting codec (SURVEY.md §4.3); this one is the classic
VByte: little-endian 7-bit groups, MSB = continuation.  doc_ids are
delta-encoded (first absolute, then gaps) before VByte; tf/dl go through
VByte directly.  Everything operates on uint64 NumPy arrays; both encode and
decode are O(total bytes) with a bounded (<=10) number of vector passes —
no Python loop over elements.

Used inside pandas UDFs only: encoded blocks are stored as BinaryType columns
in the packed index (one row per (shard, term), blocks of
IndexConfig.block_size postings with per-block max-score metadata for
block-max WAND pruning; Ding & Suel, SIGIR 2011 — public literature).
"""

from __future__ import annotations

import numpy as np

_MASK7 = np.uint64(0x7F)
_SEVEN = np.uint64(7)


def varbyte_encode(values: np.ndarray) -> bytes:
    """VByte-encode a uint64 array."""
    a = np.ascontiguousarray(values, dtype=np.uint64)
    n = a.size
    if n == 0:
        return b""
    # byte length per value (1..10): count 7-bit groups
    lens = np.ones(n, dtype=np.int64)
    tmp = a >> _SEVEN
    while tmp.any():
        lens += (tmp > 0).astype(np.int64)
        tmp = tmp >> _SEVEN
    total = int(lens.sum())
    out = np.zeros(total, dtype=np.uint8)
    # end offset of each value's byte run
    ends = np.cumsum(lens)
    starts = ends - lens
    max_len = int(lens.max())
    for k in range(max_len):
        sel = lens > k
        pos = starts[sel] + k
        byte = ((a[sel] >> np.uint64(7 * k)) & _MASK7).astype(np.uint8)
        cont = (lens[sel] - 1 > k).astype(np.uint8) << 7
        out[pos] = byte | cont
    return out.tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Decode a VByte buffer back to uint64."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_start = np.empty(b.size, dtype=bool)
    is_start[0] = True
    is_start[1:] = b[:-1] < 128  # previous byte was terminal
    idx = np.arange(b.size, dtype=np.int64)
    group_start = np.maximum.accumulate(np.where(is_start, idx, 0))
    pos = (idx - group_start).astype(np.uint64)
    shifted = (b.astype(np.uint64) & _MASK7) << (pos * _SEVEN)
    starts = np.flatnonzero(is_start)
    return np.add.reduceat(shifted, starts)


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing uint64 ids -> first absolute + positive gaps."""
    a = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    out[1:] = a[1:] - a[:-1]
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    a = np.ascontiguousarray(deltas, dtype=np.uint64)
    return np.cumsum(a, dtype=np.uint64)


def zigzag_encode(values: np.ndarray) -> np.ndarray:
    """int64 -> uint64 zigzag (hashed doc_ids are signed)."""
    a = np.ascontiguousarray(values, dtype=np.int64)
    return ((a << 1) ^ (a >> 63)).astype(np.uint64)


def zigzag_decode(values: np.ndarray) -> np.ndarray:
    a = np.ascontiguousarray(values, dtype=np.uint64)
    return ((a >> np.uint64(1)).astype(np.int64)) ^ -(a & np.uint64(1)).astype(np.int64)


def encode_doc_ids(sorted_doc_ids: np.ndarray) -> bytes:
    """Signed sorted doc_ids -> zigzag(first) + varbyte(gaps).

    Gaps of a sorted int64 sequence are non-negative and fit uint64 even when
    ids span the full signed range, so only the first value needs zigzag.
    """
    a = np.ascontiguousarray(sorted_doc_ids, dtype=np.int64)
    if a.size == 0:
        return b""
    u = np.empty(a.size, dtype=np.uint64)
    u[0] = zigzag_encode(a[:1])[0]
    u[1:] = (a[1:] - a[:-1]).astype(np.uint64)
    return varbyte_encode(u)


def decode_doc_ids(buf: bytes) -> np.ndarray:
    u = varbyte_decode(buf)
    if u.size == 0:
        return np.empty(0, dtype=np.int64)
    out = np.empty(u.size, dtype=np.int64)
    out[0] = zigzag_decode(u[:1])[0]
    np.cumsum(u[1:].view(np.int64), out=out[1:])
    out[1:] += out[0]
    return out
