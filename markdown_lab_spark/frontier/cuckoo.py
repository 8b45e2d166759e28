"""From-scratch cuckoo filter (bloom fallback with deletion support).

Used when the URL-seen set needs TTL/windowed semantics (re-crawl after
expiry): a bloom can't delete, a cuckoo filter can. 4-slot buckets,
16-bit fingerprints (~12 bits/key effective at 95% load), partial-key
cuckoo hashing: i2 = i1 XOR hash(fp), so either bucket is derivable from
the other plus the fingerprint.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np

from .hashing import murmur3_32, url_hash64_vec

_SLOTS = 4
_MAX_KICKS = 500


class CuckooFilter:
    @staticmethod
    def nbuckets_for(capacity: int) -> int:
        nbuckets = 1
        while nbuckets * _SLOTS < capacity:
            nbuckets <<= 1  # power of two so XOR indexing stays in range
        return nbuckets << 1  # headroom -> ~50% load at stated capacity

    def __init__(self, capacity: int):
        nbuckets = self.nbuckets_for(capacity)
        self.nbuckets = nbuckets
        self.mask = np.uint64(nbuckets - 1)
        self.table = np.zeros((nbuckets, _SLOTS), dtype=np.uint16)
        self.count = 0
        self._rng = np.random.default_rng(42)  # deterministic eviction choice
        # (i1, fp) pairs that could NOT be inserted (table full after
        # MAX_KICKS). Tracked so delete() never removes another key's
        # colliding fingerprint on behalf of a key that was never stored —
        # that would create a false negative in the prefilter. Empty at the
        # configured 50% load headroom; grows only past ~95% load.
        self.failed: set = set()

    # -- helpers -------------------------------------------------------------
    def _fingerprint(self, keys: np.ndarray) -> np.ndarray:
        fp = ((keys >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        return np.where(fp == 0, np.uint16(1), fp)  # 0 means empty slot

    def _index1(self, keys: np.ndarray) -> np.ndarray:
        return (keys & self.mask).astype(np.uint64)

    def _alt_index(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        # i2 = i1 ^ murmur3(fp); vectorized via the low 32 bits of a cheap mix
        fph = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(0xFFFFFFFF)
        return (idx ^ fph) & self.mask

    # -- single-key ops --------------------------------------------------------
    def _insert_one(self, idx: int, fp: int) -> bool:
        for i in (idx, int(self._alt_index(np.uint64(idx), np.uint16(fp)))):
            row = self.table[i]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                self.count += 1
                return True
        # evict loop
        cur = idx
        for _ in range(_MAX_KICKS):
            slot = int(self._rng.integers(_SLOTS))
            fp, self.table[cur, slot] = int(self.table[cur, slot]), fp
            cur = int(self._alt_index(np.uint64(cur), np.uint16(fp)))
            row = self.table[cur]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                self.count += 1
                return True
        return False  # table full

    # -- pair-based ops: fingerprints + buckets are computed EXECUTOR-side
    # (pairs_for_keys inside mapInPandas) so the driver only ever merges
    # 10-byte (idx, fp) pairs, never raw URL strings -----------------------
    @staticmethod
    def pairs_for_keys(keys: np.ndarray, nbuckets: int):
        """(index1 uint64, fingerprint uint16) for 64-bit url hashes.

        Static + table-free so executors can call it knowing only
        ``nbuckets`` (broadcast as an int), mirroring the bloom path's
        ``partial_bitsets_from_keys``."""
        mask = np.uint64(nbuckets - 1)
        fp = ((keys >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)
        return (keys & mask).astype(np.uint64), fp

    def add_pairs(self, idxs: np.ndarray, fps: np.ndarray) -> int:
        """Bulk insert, vectorized for the overwhelmingly common case.

        Alternating rounds try each pending key's primary then alternate
        bucket; within a round at most one key per DISTINCT bucket is
        placed (np.unique), so the scatter write is race-free. Keys left
        after two consecutive no-progress rounds (both buckets full) fall
        back to the scalar eviction loop — at the configured 50% load
        headroom that is a handful of keys, not the batch."""
        idxs = np.ascontiguousarray(idxs, dtype=np.uint64)
        fps = np.ascontiguousarray(fps, dtype=np.uint16)
        ok = 0
        pend_i, pend_f = idxs, fps
        stall = 0
        phase = 0
        while len(pend_i) and stall < 2:
            use_alt = phase % 2 == 1
            buckets = (
                self._alt_index(pend_i, pend_f) if use_alt else pend_i
            ).astype(np.int64)
            _, first = np.unique(buckets, return_index=True)
            sel_b = buckets[first]
            rows = self.table[sel_b]  # (m, 4)
            free = rows == 0
            has_free = free.any(axis=1)
            slots = free.argmax(axis=1)
            put_b = sel_b[has_free]
            self.table[put_b, slots[has_free]] = pend_f[first[has_free]]
            n_put = int(has_free.sum())
            self.count += n_put
            ok += n_put
            stall = stall + 1 if n_put == 0 else 0
            placed = np.zeros(len(pend_i), dtype=bool)
            placed[first[has_free]] = True
            pend_i, pend_f = pend_i[~placed], pend_f[~placed]
            phase += 1
        failed = 0
        for idx, fp in zip(pend_i, pend_f):  # eviction path (rare)
            if self._insert_one(int(idx), int(fp)):
                ok += 1
            else:
                self.failed.add((int(idx), int(fp)))
                failed += 1
        if failed:
            import warnings  # noqa: PLC0415

            warnings.warn(
                f"cuckoo filter full: {failed} keys not inserted at load "
                f"{self.load_factor():.2f} — raise cuckoo_capacity; the keys "
                "are tracked so deletes stay safe, and the exact anti-join "
                "still guarantees no re-fetch of fresh URLs",
                stacklevel=2,
            )
        return ok

    def delete_pairs(self, idxs: np.ndarray, fps: np.ndarray) -> int:
        """Bulk delete, vectorized like add_pairs: alternating primary /
        alternate-bucket rounds, one key per distinct bucket per round so
        duplicate fingerprints in one bucket are removed one slot per
        occurrence (multiset semantics). Keys tracked in ``failed`` were
        never stored and are consumed without touching the table."""
        idxs = np.ascontiguousarray(idxs, dtype=np.uint64)
        fps = np.ascontiguousarray(fps, dtype=np.uint16)
        if self.failed and len(idxs):
            keep = np.ones(len(idxs), dtype=bool)
            for j, (i1, fp) in enumerate(zip(idxs, fps)):
                pair = (int(i1), int(fp))
                if pair in self.failed:
                    # the key was never stored — removing its fingerprint
                    # would strip a colliding still-fresh key
                    self.failed.discard(pair)
                    keep[j] = False
            idxs, fps = idxs[keep], fps[keep]
        removed = 0
        pend_i, pend_f = idxs, fps
        stall = 0
        phase = 0
        while len(pend_i) and stall < 2:
            use_alt = phase % 2 == 1
            buckets = (
                self._alt_index(pend_i, pend_f) if use_alt else pend_i
            ).astype(np.int64)
            _, first = np.unique(buckets, return_index=True)
            sel_b = buckets[first]
            sel_f = pend_f[first]
            rows = self.table[sel_b]  # (m, 4)
            hit = rows == sel_f[:, None]
            has_hit = hit.any(axis=1)
            slots = hit.argmax(axis=1)
            zap_b = sel_b[has_hit]
            self.table[zap_b, slots[has_hit]] = 0
            n_zap = int(has_hit.sum())
            self.count -= n_zap
            removed += n_zap
            stall = stall + 1 if n_zap == 0 else 0
            done = np.zeros(len(pend_i), dtype=bool)
            done[first[has_hit]] = True
            # keys whose primary bucket held no copy stay pending for the
            # alternate-bucket round; keys absent from BOTH buckets drop
            # out after two consecutive no-progress rounds
            pend_i, pend_f = pend_i[~done], pend_f[~done]
            phase += 1
        # residue: keys not found in two stall rounds may still be present
        # when duplicates raced for the same bucket slot pattern — finish
        # scalar (rare; zero at normal loads)
        for key_i1, fp in zip(pend_i, pend_f):
            for i in (int(key_i1), int(self._alt_index(key_i1, fp))):
                row = self.table[i]
                hits = np.nonzero(row == fp)[0]
                if len(hits):
                    row[hits[0]] = 0
                    self.count -= 1
                    removed += 1
                    break
        return removed

    def add(self, urls: Iterable[str]) -> int:
        keys = url_hash64_vec(list(urls))
        idxs, fps = self.pairs_for_keys(keys, self.nbuckets)
        return self.add_pairs(idxs, fps)

    def contains(self, urls: Iterable[str]) -> np.ndarray:
        keys = url_hash64_vec(list(urls))
        fps = self._fingerprint(keys)
        i1 = self._index1(keys)
        i2 = self._alt_index(i1, fps)
        in1 = (self.table[i1.astype(np.int64)] == fps[:, None]).any(axis=1)
        in2 = (self.table[i2.astype(np.int64)] == fps[:, None]).any(axis=1)
        return in1 | in2

    def delete(self, urls: Iterable[str]) -> int:
        keys = url_hash64_vec(list(urls))
        idxs, fps = self.pairs_for_keys(keys, self.nbuckets)
        return self.delete_pairs(idxs, fps)

    def load_factor(self) -> float:
        return self.count / (self.nbuckets * _SLOTS)


class ShardedCuckoo:
    """Key-hash-sharded cuckoo filter (the ShardedBloom pattern applied
    to the deletable seen-set).

    Why shard: one 10^10-key table is ~40 GB and its maintenance (insert
    the wave's seen-delta, delete the expired wave) is a single serial
    pass — the last driver-side term in the scaling model. Shards are
    fully independent tables, so (a) per-wave maintenance parallelizes
    across a thread pool (numpy's scatter/gather kernels release the GIL;
    the 10^6-key drill in tests/test_ttl_recrawl.py checks the threaded
    insert), (b) each shard is small enough to stay cache-resident, and
    (c) at cluster scale shards map 1:1 onto host-partitioned executors
    (the same placement the politeness scheduler already uses).

    Shard id comes from key bits 32..47 — disjoint from both the bucket
    index (low bits) and the fingerprint (bits 48..63), so sharding does
    not correlate with either and every shard behaves like an
    independent filter at the same load factor.
    """

    def __init__(self, num_shards: int, capacity_per_shard: int):
        self.num_shards = num_shards
        self.shards = [CuckooFilter(capacity_per_shard) for _ in range(num_shards)]
        self.nbuckets = self.shards[0].nbuckets  # uniform across shards

    # -- executor-side statics (mirror CuckooFilter.pairs_for_keys) ---------
    @staticmethod
    def shard_of_keys(keys: np.ndarray, num_shards: int) -> np.ndarray:
        # mask to the 32..47 field BEFORE the modulus: without it a
        # non-power-of-two num_shards folds bits 48..63 (the fingerprint)
        # into the shard id, correlating shard choice with fingerprint
        return (
            ((keys >> np.uint64(32)) & np.uint64(0xFFFF)) % np.uint64(num_shards)
        ).astype(np.int64)

    @staticmethod
    def sharded_pairs_for_keys(keys: np.ndarray, num_shards: int, nbuckets: int):
        """(shard_id int64, index1 uint64, fingerprint uint16) triples —
        computable on executors knowing only (num_shards, nbuckets)."""
        sid = ShardedCuckoo.shard_of_keys(keys, num_shards)
        idx, fp = CuckooFilter.pairs_for_keys(keys, nbuckets)
        return sid, idx, fp

    # -- driver-side maintenance --------------------------------------------
    def _by_shard(self, sid: np.ndarray, idxs: np.ndarray, fps: np.ndarray):
        order = np.argsort(sid, kind="stable")
        sid, idxs, fps = sid[order], idxs[order], fps[order]
        bounds = np.searchsorted(sid, np.arange(self.num_shards + 1))
        for s in range(self.num_shards):
            lo, hi = bounds[s], bounds[s + 1]
            if hi > lo:
                yield s, idxs[lo:hi], fps[lo:hi]

    def add_sharded_pairs(
        self, sid: np.ndarray, idxs: np.ndarray, fps: np.ndarray,
        max_workers: int | None = None,
    ) -> int:
        """Parallel bulk insert: one task per shard (independent tables,
        race-free by construction)."""
        from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

        parts = list(self._by_shard(sid, idxs, fps))
        if not parts:
            return 0
        workers = max_workers or min(self.num_shards, len(parts))
        if workers <= 1 or len(parts) == 1:
            return sum(self.shards[s].add_pairs(i, f) for s, i, f in parts)
        with ThreadPoolExecutor(workers) as ex:
            return sum(
                ex.map(lambda p: self.shards[p[0]].add_pairs(p[1], p[2]), parts)
            )

    def delete_sharded_pairs(
        self, sid: np.ndarray, idxs: np.ndarray, fps: np.ndarray,
        max_workers: int | None = None,
    ) -> int:
        from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

        parts = list(self._by_shard(sid, idxs, fps))
        if not parts:
            return 0
        workers = max_workers or min(self.num_shards, len(parts))
        if workers <= 1 or len(parts) == 1:
            return sum(self.shards[s].delete_pairs(i, f) for s, i, f in parts)
        with ThreadPoolExecutor(workers) as ex:
            return sum(
                ex.map(lambda p: self.shards[p[0]].delete_pairs(p[1], p[2]), parts)
            )

    def contains_keys(self, keys: np.ndarray) -> np.ndarray:
        sid = self.shard_of_keys(keys, self.num_shards)
        out = np.zeros(len(keys), dtype=bool)
        for s in np.unique(sid):
            mask = sid == s
            sh = self.shards[int(s)]
            i, f = CuckooFilter.pairs_for_keys(keys[mask], sh.nbuckets)
            i2 = sh._alt_index(i, f)
            hit1 = (sh.table[i.astype(np.int64)] == f[:, None]).any(axis=1)
            hit2 = (sh.table[i2.astype(np.int64)] == f[:, None]).any(axis=1)
            out[mask] = hit1 | hit2
        return out

    # -- string conveniences (tests/drills) ---------------------------------
    def add(self, urls: Iterable[str]) -> int:
        keys = url_hash64_vec(list(urls))
        return self.add_sharded_pairs(
            *self.sharded_pairs_for_keys(keys, self.num_shards, self.nbuckets)
        )

    def contains(self, urls: Iterable[str]) -> np.ndarray:
        return self.contains_keys(url_hash64_vec(list(urls)))

    def delete(self, urls: Iterable[str]) -> int:
        keys = url_hash64_vec(list(urls))
        return self.delete_sharded_pairs(
            *self.sharded_pairs_for_keys(keys, self.num_shards, self.nbuckets)
        )

    def load_factor(self) -> float:
        total = sum(sh.count for sh in self.shards)
        return total / (self.num_shards * self.nbuckets * _SLOTS)

    @property
    def count(self) -> int:
        return sum(sh.count for sh in self.shards)

    def to_broadcast(self) -> tuple:
        """(num_shards, nbuckets, [table bytes per shard]) — the compact
        driver->executor shape for the TTL anti-join prefilter."""
        return (
            self.num_shards,
            self.nbuckets,
            [sh.table.tobytes() for sh in self.shards],
        )

    @staticmethod
    def from_broadcast(payload: tuple) -> "ShardedCuckoo":
        num_shards, nbuckets, raws = payload
        sc = ShardedCuckoo.__new__(ShardedCuckoo)
        sc.num_shards = num_shards
        sc.nbuckets = nbuckets
        sc.shards = []
        for raw in raws:
            sh = CuckooFilter.__new__(CuckooFilter)
            sh.nbuckets = nbuckets
            sh.mask = np.uint64(nbuckets - 1)
            sh.table = np.frombuffer(raw, dtype=np.uint16).reshape(nbuckets, -1)
            sh.count = int((sh.table != 0).sum())
            sh.failed = set()
            sc.shards.append(sh)
        return sc
