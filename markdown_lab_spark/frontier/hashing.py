"""From-scratch murmur3, NumPy-vectorized over variable-length byte strings.

The north rule requires a from-scratch murmur3-hashed URL-seen set (no mmh3
dependency in this environment anyway). ``url_hash64_vec`` hashes an
Arrow batch of encoded URLs without per-row Python: rows are padded into a
2D uint8 matrix and the x86_32 algorithm runs block-column-wise across all
rows at once. Scalar reference implementation included for cross-checking
against published test vectors.
"""

from __future__ import annotations

from typing import Iterable, List, Tuple

import numpy as np

_C1 = np.uint32(0xCC9E2D51)
_C2 = np.uint32(0x1B873593)


def _rotl32(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _pack_batch(items: List[bytes]) -> Tuple[np.ndarray, np.ndarray]:
    """(padded uint8 matrix, lengths) for a batch of byte strings.

    Fully vectorized scatter: one C-level join + one fancy-indexed
    assignment, no per-row Python (the old per-row loop was the dominant
    cost of the whole hash)."""
    n = len(items)
    lengths = np.fromiter((len(b) for b in items), dtype=np.int64, count=n)
    max_len = int(lengths.max()) if n else 0
    width = ((max_len + 3) // 4) * 4 or 4
    buf = np.zeros((n, width), dtype=np.uint8)
    total = int(lengths.sum())
    if total:
        flat = np.frombuffer(b"".join(items), dtype=np.uint8)
        ends = np.cumsum(lengths)
        pos_in_row = np.arange(total, dtype=np.int64) - np.repeat(
            ends - lengths, lengths
        )
        rows = np.repeat(np.arange(n, dtype=np.int64), lengths)
        buf.reshape(-1)[rows * width + pos_in_row] = flat
    return buf, lengths


def _murmur3_32_packed(
    buf: np.ndarray, lengths: np.ndarray, seed: int = 0
) -> np.ndarray:
    n, width = buf.shape
    blocks = buf.view("<u4")  # (n, width//4) little-endian 32-bit blocks
    nblocks = (lengths // 4).astype(np.int64)
    tail_len = (lengths % 4).astype(np.int64)

    old = np.seterr(over="ignore")
    try:
        h1 = np.full(n, np.uint32(seed), dtype=np.uint32)
        for j in range(blocks.shape[1]):
            mask = nblocks > j
            if not mask.any():
                break
            k1 = blocks[:, j].copy()
            k1 *= _C1
            k1 = _rotl32(k1, 15)
            k1 *= _C2
            h1x = h1 ^ k1
            h1x = _rotl32(h1x, 13)
            h1x = h1x * np.uint32(5) + np.uint32(0xE6546B64)
            h1 = np.where(mask, h1x, h1)

        # tail (0-3 bytes at offset nblocks*4)
        has_tail = tail_len > 0
        if has_tail.any():
            off = nblocks * 4
            idx = np.arange(n)
            k1 = np.zeros(n, dtype=np.uint32)
            b0 = buf[idx, np.minimum(off, width - 1)].astype(np.uint32)
            b1 = buf[idx, np.minimum(off + 1, width - 1)].astype(np.uint32)
            b2 = buf[idx, np.minimum(off + 2, width - 1)].astype(np.uint32)
            k1 = np.where(tail_len >= 3, k1 ^ (b2 << np.uint32(16)), k1)
            k1 = np.where(tail_len >= 2, k1 ^ (b1 << np.uint32(8)), k1)
            k1 = np.where(tail_len >= 1, k1 ^ b0, k1)
            k1 *= _C1
            k1 = _rotl32(k1, 15)
            k1 *= _C2
            h1 = np.where(has_tail, h1 ^ k1, h1)

        # finalization
        h1 ^= lengths.astype(np.uint32)
        h1 ^= h1 >> np.uint32(16)
        h1 *= np.uint32(0x85EBCA6B)
        h1 ^= h1 >> np.uint32(13)
        h1 *= np.uint32(0xC2B2AE35)
        h1 ^= h1 >> np.uint32(16)
    finally:
        np.seterr(**old)
    return h1


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Scalar reference murmurhash3_x86_32 (for test vectors)."""
    length = len(data)
    nblocks = length // 4
    h1 = seed & 0xFFFFFFFF
    c1, c2 = 0xCC9E2D51, 0x1B873593

    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 4 : i * 4 + 4], "little")
        k1 = (k1 * c1) & 0xFFFFFFFF
        k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
        k1 = (k1 * c2) & 0xFFFFFFFF
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
        h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF

    k1 = 0
    tail = data[nblocks * 4 :]
    if len(tail) >= 3:
        k1 ^= tail[2] << 16
    if len(tail) >= 2:
        k1 ^= tail[1] << 8
    if len(tail) >= 1:
        k1 ^= tail[0]
        k1 = (k1 * c1) & 0xFFFFFFFF
        k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
        k1 = (k1 * c2) & 0xFFFFFFFF
        h1 ^= k1

    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1


def url_hash64_vec(urls: Iterable[str]) -> np.ndarray:
    """64-bit URL key: two independent murmur3_32 lanes (seeds 0x9747b28c,
    0x85ebca6b) packed high|low. Stable across workers/runs by construction.
    The padded batch matrix is built ONCE and shared by both lanes."""
    encoded = [u.encode("utf-8") for u in urls]
    if not encoded:
        return np.empty(0, dtype=np.uint64)
    buf, lengths = _pack_batch(encoded)
    hi = _murmur3_32_packed(buf, lengths, seed=0x9747B28C).astype(np.uint64)
    lo = _murmur3_32_packed(buf, lengths, seed=0x85EBCA6B).astype(np.uint64)
    return (hi << np.uint64(32)) | lo


def bloom_probes(
    keys: np.ndarray, k: int, m_bits: int
) -> Tuple[np.ndarray, np.ndarray]:
    """Kirsch-Mitzenmacher double hashing: probe_i = (h1 + i*h2) mod m.

    ``keys`` is the uint64 output of url_hash64_vec; h1/h2 are its lanes.
    Returns (n, k) matrix of bit positions.
    """
    h1 = (keys >> np.uint64(32)).astype(np.uint64)
    h2 = (keys & np.uint64(0xFFFFFFFF)).astype(np.uint64) | np.uint64(1)  # odd
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)), h2
