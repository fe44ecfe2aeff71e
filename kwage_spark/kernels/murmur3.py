"""Vectorized MurmurHash3-32 kernels (numpy, no Spark).

Re-creates the reference's scalar hash (`hash.cpp:114-170`) and its 8-lane
multi-seed SIMD variant (`hash.cpp:239-332`) as numpy array programs: one
call hashes *all* k-gram windows of a byte string for *all* seeds at once.
Seed convention follows the reference / BIGSI-python: seed h = h for
h in [0, num_hash) (`hash.cpp:252-254`, `kwage.cpp:408-409`).

All arithmetic is modular uint32 (numpy unsigned wrap-around), matching the
C implementation bit-for-bit; golden vectors in tests/test_murmur3.py.
"""

from __future__ import annotations

import numpy as np

from . import _native

_C1 = np.uint32(0xCC9E2D51)
_C2 = np.uint32(0x1B873593)
_M5 = np.uint32(5)
_N = np.uint32(0xE6546B64)
_F1 = np.uint32(0x85EBCA6B)
_F2 = np.uint32(0xC2B2AE35)

# numpy warns on uint32 overflow in some builds; modular wrap is intended.
_err = np.errstate(over="ignore")


def _rotl32(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Scalar murmur3_32 — reference implementation for goldens/tests."""
    out = murmur3_32_multiseed(np.frombuffer(data, dtype=np.uint8)[None, :], np.asarray([seed], dtype=np.uint32))
    return int(out[0, 0])


def murmur3_32_multiseed(windows: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """Hash each row of ``windows`` (shape (n, L) uint8) with each seed.

    Returns uint32 array of shape (n, num_seeds). This is the vectorized
    equivalent of the reference's AVX2 8-lane hash (`hash.cpp:239-332`):
    the lane dimension here is (n × seeds) instead of 8 fixed seeds.
    """
    windows = np.ascontiguousarray(windows, dtype=np.uint8)
    n, length = windows.shape
    seeds = np.asarray(seeds, dtype=np.uint32)
    if _native.HAVE_NATIVE and n:
        return _native.rows_multiseed(windows, seeds)
    nblocks = length // 4

    with _err:
        # h1: (n, s)
        h1 = np.broadcast_to(seeds[None, :], (n, seeds.shape[0])).copy()

        if nblocks:
            # little-endian 4-byte blocks -> uint32, shape (n, nblocks)
            blocks = (
                windows[:, : nblocks * 4]
                .reshape(n, nblocks, 4)
                .astype(np.uint32)
            )
            k1s = (
                blocks[:, :, 0]
                | (blocks[:, :, 1] << np.uint32(8))
                | (blocks[:, :, 2] << np.uint32(16))
                | (blocks[:, :, 3] << np.uint32(24))
            )
            for b in range(nblocks):
                k1 = k1s[:, b : b + 1] * _C1
                k1 = _rotl32(k1, 15)
                k1 = k1 * _C2
                h1 ^= k1
                h1 = _rotl32(h1, 13)
                h1 = h1 * _M5 + _N

        tail = length & 3
        if tail:
            t = windows[:, nblocks * 4 :].astype(np.uint32)
            k1 = t[:, 0:1].copy()
            if tail >= 2:
                k1 |= t[:, 1:2] << np.uint32(8)
            if tail == 3:
                k1 |= t[:, 2:3] << np.uint32(16)
            k1 = k1 * _C1
            k1 = _rotl32(k1, 15)
            k1 = k1 * _C2
            h1 ^= k1

        h1 ^= np.uint32(length)
        h1 ^= h1 >> np.uint32(16)
        h1 = h1 * _F1
        h1 ^= h1 >> np.uint32(13)
        h1 = h1 * _F2
        h1 ^= h1 >> np.uint32(16)
    return h1


def murmur3_32_sliding(buf: np.ndarray, k: int, seeds: np.ndarray) -> np.ndarray:
    """murmur3_32 of every k-byte sliding window of ``buf`` for every seed,
    WITHOUT materializing the (n, k) window matrix: each 4-byte block is
    assembled from four shifted views of the buffer. Bit-identical to
    ``murmur3_32_multiseed(sliding_window_view(buf, k), seeds)`` (tested),
    but with O(buf) instead of O(buf * k) memory traffic — the ingest
    hot path at 100 TB is bandwidth-bound, not compute-bound.
    """
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    n = buf.shape[0] - k + 1
    seeds = np.asarray(seeds, dtype=np.uint32)
    if n <= 0:
        return np.empty((0, seeds.shape[0]), dtype=np.uint32)
    if _native.HAVE_NATIVE:
        return _native.sliding_multiseed(buf, k, seeds)
    nblocks = k // 4
    b32 = buf.astype(np.uint32)
    with _err:
        h1 = np.broadcast_to(seeds[None, :], (n, seeds.shape[0])).copy()
        for b in range(nblocks):
            o = 4 * b
            k1 = (b32[o:o + n]
                  | (b32[o + 1:o + 1 + n] << np.uint32(8))
                  | (b32[o + 2:o + 2 + n] << np.uint32(16))
                  | (b32[o + 3:o + 3 + n] << np.uint32(24)))
            k1 = k1 * _C1
            k1 = _rotl32(k1, 15)
            k1 = k1 * _C2
            h1 ^= k1[:, None]
            h1 = _rotl32(h1, 13)
            h1 = h1 * _M5 + _N
        tail = k & 3
        if tail:
            o = 4 * nblocks
            k1 = b32[o:o + n].copy()
            if tail >= 2:
                k1 |= b32[o + 1:o + 1 + n] << np.uint32(8)
            if tail == 3:
                k1 |= b32[o + 2:o + 2 + n] << np.uint32(16)
            k1 = k1 * _C1
            k1 = _rotl32(k1, 15)
            k1 = k1 * _C2
            h1 ^= k1[:, None]
        h1 ^= np.uint32(k)
        h1 ^= h1 >> np.uint32(16)
        h1 = h1 * _F1
        h1 ^= h1 >> np.uint32(13)
        h1 = h1 * _F2
        h1 ^= h1 >> np.uint32(16)
    return h1


def murmur3_64(windows: np.ndarray, seed_hi: int = 0xA5, seed_lo: int = 0x5A) -> np.ndarray:
    """Composed 64-bit hash from two independent 32-bit lanes.

    Used where 32 bits risks birthday collisions (HLL register input,
    dedup fingerprints). Returns uint64 of shape (n,).
    """
    pair = murmur3_32_multiseed(windows, np.asarray([seed_hi, seed_lo], dtype=np.uint32))
    return (pair[:, 0].astype(np.uint64) << np.uint64(32)) | pair[:, 1].astype(np.uint64)
