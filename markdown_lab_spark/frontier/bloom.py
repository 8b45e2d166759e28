"""From-scratch sharded Bloom filter over murmur3 URL keys.

Design for the 10^10-URL frontier (SURVEY.md §4):

- 10^10 keys at 1% FPR need m ≈ 9.585 bits/key ≈ 96 Gbit ≈ 12 GB — too big
  to broadcast whole. The filter is therefore SHARDED by host-hash bucket:
  shard_id = url_hash64(host) % num_shards. Each executor working a
  host-partition loads only its shard (~190 MB at 64 shards / 10^10 keys);
  shard assignment rides the same key as the frontier's host partitioning,
  so the bloom probe is map-side with no extra shuffle.
- Bloom is a PREFILTER only: false positives are re-checked by an exact
  left_anti join against the seen-set table, so a FP costs a join probe and
  never drops a URL (north_rule requires the exact URL-seen set).
- Built distributively: each partition produces partial bitsets
  (``partial_bitsets_from_keys``), OR-merged on the driver (numpy OR) —
  the mapInPandas/treeAggregate pattern at cluster scale.

At sandbox scale (≤10^6 keys) a single broadcast works; the sharded path is
exercised with the same code at small m.
"""

from __future__ import annotations

import math
from typing import Dict, Iterable, List, Optional

import numpy as np

from .hashing import bloom_probes, url_hash64_vec


def optimal_m_k(capacity: int, fpr: float) -> tuple[int, int]:
    """Standard sizing: m = -n ln p / (ln 2)^2, k = m/n ln 2."""
    m = max(64, int(math.ceil(-capacity * math.log(fpr) / (math.log(2) ** 2))))
    k = max(1, int(round(m / capacity * math.log(2))))
    return m, k


class BloomFilter:
    """One shard: a uint64 bitset probed with double hashing."""

    def __init__(self, capacity: int, fpr: float = 0.01):
        self.capacity = capacity
        self.fpr = fpr
        self.m_bits, self.k = optimal_m_k(capacity, fpr)
        self.bits = np.zeros((self.m_bits + 63) // 64, dtype=np.uint64)

    # -- key-level API (keys = url_hash64_vec output) -----------------------
    def add_keys(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        probes, _ = bloom_probes(keys.astype(np.uint64), self.k, self.m_bits)
        flat = probes.reshape(-1)
        words, offs = flat // 64, flat % 64
        np.bitwise_or.at(self.bits, words, np.uint64(1) << offs)

    def contains_keys(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        probes, _ = bloom_probes(keys.astype(np.uint64), self.k, self.m_bits)
        words, offs = probes // 64, probes % 64
        hit = (self.bits[words] >> offs) & np.uint64(1)
        return hit.all(axis=1)

    # -- string-level convenience -------------------------------------------
    def add(self, urls: Iterable[str]) -> None:
        self.add_keys(url_hash64_vec(list(urls)))

    def contains(self, urls: Iterable[str]) -> np.ndarray:
        return self.contains_keys(url_hash64_vec(list(urls)))

    # -- distribution ---------------------------------------------------------
    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(
        cls, raw: bytes, capacity: int, fpr: float = 0.01
    ) -> "BloomFilter":
        bf = cls(capacity, fpr)
        bf.bits = np.frombuffer(raw, dtype=np.uint64).copy()
        return bf


class ShardedBloom:
    """Host-hash-sharded Bloom: shard i holds URLs whose host hashes to i.

    Executors co-partitioned by host load only their shard; here all shards
    live in one process but the code path (shard select -> probe) is the
    cluster one.
    """

    def __init__(self, num_shards: int, capacity_per_shard: int, fpr: float = 0.01):
        self.num_shards = num_shards
        self.shards: List[BloomFilter] = [
            BloomFilter(capacity_per_shard, fpr) for _ in range(num_shards)
        ]

    @staticmethod
    def shard_of(hosts: Iterable[str], num_shards: int) -> np.ndarray:
        return (url_hash64_vec(list(hosts)) % np.uint64(num_shards)).astype(np.int64)

    def add(self, urls: List[str], hosts: List[str]) -> None:
        keys = url_hash64_vec(urls)
        shard_ids = self.shard_of(hosts, self.num_shards)
        for s in np.unique(shard_ids):
            self.shards[int(s)].add_keys(keys[shard_ids == s])

    def contains(self, urls: List[str], hosts: List[str]) -> np.ndarray:
        keys = url_hash64_vec(urls)
        shard_ids = self.shard_of(hosts, self.num_shards)
        out = np.zeros(len(urls), dtype=bool)
        for s in np.unique(shard_ids):
            mask = shard_ids == s
            out[mask] = self.shards[int(s)].contains_keys(keys[mask])
        return out


def partial_bitsets_from_keys(
    keys: np.ndarray, shard_ids: np.ndarray, num_shards: int, capacity: int, fpr: float
) -> Dict[int, bytes]:
    """Per-partition partial build (runs inside mapInPandas at scale)."""
    out: Dict[int, bytes] = {}
    for s in np.unique(shard_ids):
        bf = BloomFilter(capacity, fpr)
        bf.add_keys(keys[shard_ids == s])
        out[int(s)] = bf.to_bytes()
    return out
