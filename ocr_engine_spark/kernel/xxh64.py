"""Spark's XXH64 over whole batches of byte ranges, in numpy uint64.

Bit-identical to ``org.apache.spark.sql.catalyst.expressions.XXH64``: the
value ``F.xxhash64(s)`` gives a string ``s`` is ``hash_ranges`` over its UTF-8
bytes, and ``F.xxhash64(h, j)`` for a long ``h`` and an int ``j`` chains the
seed through the columns: ``hash_int(j, hash_long(h))``.  Spark's fixed seed
``SEED`` = 42 starts every chain.

Every function hashes a whole array at once.  The per-range byte loop of the
reference algorithm becomes a loop over stripe/word/byte *positions*, each
step one masked numpy operation over all ranges still that long, so the
Python-level iteration count is bounded by the longest range, not the number
of ranges.  Arithmetic wraps mod 2**64 as Java's ``long`` does; results are
uint64 (``.view(np.int64)`` gives Spark's signed value).
"""

from __future__ import annotations

import numpy as np

SEED = 42
_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
P1, P2, P3, P4, P5 = (np.uint64(p) for p in (_P1, _P2, _P3, _P4, _P5))
_ZERO = np.uint64(0)


def _u(x: int) -> np.uint64:
    return np.uint64(x & _M)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * P2, 31) * P1


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * P2
    h = h ^ (h >> np.uint64(29))
    h = h * P3
    return h ^ (h >> np.uint64(32))


def _unaligned(buf: np.ndarray, dtype: str) -> np.ndarray:
    """Little-endian words starting at EVERY byte offset of ``buf``."""
    size = np.dtype(dtype).itemsize
    return np.ndarray((max(len(buf) - size + 1, 0),), dtype=dtype, buffer=buf,
                      strides=(1,))


def hash_ranges(buf: np.ndarray, start: np.ndarray,
                length: np.ndarray) -> np.ndarray:
    """XXH64 of each byte range ``buf[start[i] : start[i] + length[i]]``
    (Spark's ``XXH64.hashUnsafeBytes`` with ``SEED``), as uint64."""
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    w64 = _unaligned(buf, "<u8")
    w32 = _unaligned(buf, "<u4")
    start = np.asarray(start, dtype=np.int64)
    length = np.asarray(length, dtype=np.int64)
    with np.errstate(over="ignore"):
        h = np.full(len(start), _u(SEED + _P5), dtype=np.uint64)
        stripes = length >> 5
        big = np.flatnonzero(stripes)
        if big.size:
            v = [np.full(big.size, _u(SEED + _P1 + _P2), dtype=np.uint64),
                 np.full(big.size, _u(SEED + _P2), dtype=np.uint64),
                 np.full(big.size, _u(SEED), dtype=np.uint64),
                 np.full(big.size, _u(SEED - _P1), dtype=np.uint64)]
            pos = start[big].copy()
            left = stripes[big].copy()
            live = np.arange(big.size)
            while live.size:
                p = pos[live]
                for lane in range(4):
                    v[lane][live] = _round(v[lane][live], w64[p + 8 * lane])
                pos[live] += 32
                left[live] -= 1
                live = live[left[live] > 0]
            acc = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) \
                + _rotl(v[3], 18)
            for lane in v:
                acc = (acc ^ _round(_ZERO, lane)) * P1 + P4
            h[big] = acc
        h += length.astype(np.uint64)
        off = start + (stripes << 5)
        words = (length & 31) >> 3
        for w in range(1, 4):
            sel = np.flatnonzero(words >= w)
            hs = h[sel] ^ _round(_ZERO, w64[off[sel]])
            h[sel] = _rotl(hs, 27) * P1 + P4
            off[sel] += 8
        sel = np.flatnonzero(length & 4)
        hs = h[sel] ^ (w32[off[sel]].astype(np.uint64) * P1)
        h[sel] = _rotl(hs, 23) * P2 + P3
        off[sel] += 4
        tail = length & 3
        for b in range(1, 4):
            sel = np.flatnonzero(tail >= b)
            hs = h[sel] ^ (buf[off[sel]].astype(np.uint64) * P5)
            h[sel] = _rotl(hs, 11) * P1
            off[sel] += 1
        return _fmix(h)


def hash_long(x: np.ndarray) -> np.ndarray:
    """Spark's ``XXH64.hashLong`` of each int64/uint64 value with ``SEED``."""
    x = np.asarray(x)
    x = x.view(np.uint64) if x.dtype == np.int64 else x.astype(np.uint64)
    with np.errstate(over="ignore"):
        h = np.full(len(x), _u(SEED + _P5 + 8), dtype=np.uint64)
        h ^= _round(_ZERO, x)
        return _fmix(_rotl(h, 27) * P1 + P4)


def hash_int(j: int, seed: np.ndarray) -> np.ndarray:
    """Spark's ``XXH64.hashInt(j, seed)`` for one int ``j`` and a uint64 seed
    array: the second step of ``xxhash64(long_col, int_col)``."""
    with np.errstate(over="ignore"):
        h = seed + _u(_P5 + 4)
        h = h ^ (_u(j & 0xFFFFFFFF) * P1)
        return _fmix(_rotl(h, 23) * P2 + P3)
