"""P3 TTL/re-crawl semantics (markdown_lab/core/cache.py:60-141: cached
entries expire after the TTL, then the URL is fetched again).

Wave-time mapping: a URL seen at wave w is blocked while
wave - w < ttl_waves and re-fetched at the first rediscovery afterwards.
The seen prefilter in this mode is the deletable cuckoo filter
(frontier/cuckoo.py): expired keys are deleted, fresh fetches re-insert.
"""

import pytest
from pyspark.sql import functions as F

from markdown_lab_spark.frontier.crawler import CrawlConfig, CrawlEngine


@pytest.fixture(scope="module")
def cycle_pages(spark):
    """Two pages linking to each other — the minimal re-crawl cycle."""

    def page(title, other):
        return (
            f"<html><head><title>{title}</title></head><body>"
            f"<p>{title} content paragraph</p>"
            f'<a href="https://h1.test/{other}">{other}</a></body></html>'
        ).encode()

    rows = [
        ("https://h1.test/a", page("alpha", "b")),
        ("https://h1.test/b", page("beta", "a")),
    ]
    return spark.createDataFrame(rows, "url string, html binary")


def _trace(out):
    return sorted(
        (r["canon_url"], r["wave"], r["status"])
        for r in out["trace"].collect()
    )


def test_expired_urls_refetched_fresh_ones_not(spark, cycle_pages):
    engine = CrawlEngine(
        spark,
        cycle_pages,
        CrawlConfig(rps=1.0, wave_seconds=5, max_waves=3, ttl_waves=2),
    )
    out = engine.crawl(["https://h1.test/a"])
    # wave 0: fetch a (discovers b); wave 1: fetch b (rediscovers a, but a
    # is still fresh: 1-0 < 2); wave 2: a expired (2-0 >= 2) -> re-fetched
    assert _trace(out) == [
        ("https://h1.test/a", 0, "ok"),
        ("https://h1.test/a", 2, "ok"),
        ("https://h1.test/b", 1, "ok"),
    ]
    # the compacted seen set keeps the LATEST wave per url
    seen = {
        r["canon_url"]: r["status_wave"]
        for r in out["seen"].collect()
    }
    assert seen == {"https://h1.test/a": 2, "https://h1.test/b": 1}


def test_no_refetch_without_ttl(spark, cycle_pages):
    engine = CrawlEngine(
        spark,
        cycle_pages,
        CrawlConfig(rps=1.0, wave_seconds=5, max_waves=4),
    )
    out = engine.crawl(["https://h1.test/a"])
    assert _trace(out) == [
        ("https://h1.test/a", 0, "ok"),
        ("https://h1.test/b", 1, "ok"),
    ]


def test_ttl_chunks_carry_both_fetches(spark, cycle_pages):
    engine = CrawlEngine(
        spark,
        cycle_pages,
        CrawlConfig(rps=1.0, wave_seconds=5, max_waves=3, ttl_waves=2),
    )
    out = engine.crawl(["https://h1.test/a"])
    waves_of_a = sorted(
        r["wave"]
        for r in out["chunks"]
        .filter(F.col("canon_url") == "https://h1.test/a")
        .select("wave")
        .dropDuplicates()
        .collect()
    )
    assert waves_of_a == [0, 2]


def test_ttl_resume_reseeds_cuckoo(spark, cycle_pages, tmp_path):
    """Resume in TTL mode: the cuckoo filter is re-seeded from the
    checkpointed seen set's FRESH rows, and expiry keeps working across
    the restart (a, seen at wave 0, must be re-fetched at wave 2 by the
    resumed engine)."""
    ckpt = str(tmp_path / "ckpt")
    cfg = CrawlConfig(rps=1.0, wave_seconds=5, max_waves=2, ttl_waves=2)
    CrawlEngine(spark, cycle_pages, cfg, checkpoint_dir=ckpt).crawl(
        ["https://h1.test/a"]
    )

    cfg2 = CrawlConfig(rps=1.0, wave_seconds=5, max_waves=3, ttl_waves=2)
    out = CrawlEngine(spark, cycle_pages, cfg2, checkpoint_dir=ckpt).crawl(
        [], resume=True
    )
    assert ("https://h1.test/a", 2, "ok") in _trace(out)


def test_cuckoo_pairs_distributed_match_driver(spark, cycle_pages):
    """_cuckoo_pairs (executor-side mapInPandas) must produce exactly the
    pairs the driver-side hash would — and the TTL path must never collect
    raw canon_url strings (round-2 verdict: the bloom pattern for the
    cuckoo too)."""
    from markdown_lab_spark.frontier.cuckoo import CuckooFilter, ShardedCuckoo
    from markdown_lab_spark.frontier.hashing import url_hash64_vec

    cfg = CrawlConfig(ttl_waves=2, cuckoo_capacity=1 << 10)
    engine = CrawlEngine(spark, cycle_pages, cfg)
    urls = [f"https://h{i % 3}.test/p{i}" for i in range(50)]
    df = spark.createDataFrame([(u,) for u in urls], "canon_url string")
    sids, idxs, fps = engine._cuckoo_pairs(df)
    nb = CuckooFilter.nbuckets_for(-(-(1 << 10) // cfg.cuckoo_shards))
    exp_sids, exp_idxs, exp_fps = ShardedCuckoo.sharded_pairs_for_keys(
        url_hash64_vec(urls), cfg.cuckoo_shards, nb
    )
    assert sorted(zip(sids.tolist(), idxs.tolist(), fps.tolist())) == sorted(
        zip(exp_sids.tolist(), exp_idxs.tolist(), exp_fps.tolist())
    )
    # source guard: the TTL branches of the wave loop use pair collection,
    # not canon_url row collection
    import inspect

    from markdown_lab_spark.frontier import crawler as crawler_mod

    src = inspect.getsource(crawler_mod.CrawlEngine.crawl)
    assert 'r["canon_url"] for r in' not in src


def test_build_cuckoo_executor_side_matches_driver_build(spark, cycle_pages):
    """Round-6: the resume re-seed builds whole shards executor-side and
    the driver ADOPTS the tables (no O(|window|) pair collect). The
    resulting filter must behave like a driver-side build of the same
    keys: every inserted key probes True (no false negatives), per-shard
    counts match, and nothing lands in the failure set at the configured
    headroom."""
    from markdown_lab_spark.frontier.cuckoo import ShardedCuckoo

    cfg = CrawlConfig(ttl_waves=2, cuckoo_capacity=1 << 12)
    engine = CrawlEngine(spark, cycle_pages, cfg)
    urls = [f"https://h{i % 5}.test/page/{i}" for i in range(800)]
    df = spark.createDataFrame(
        [(u,) for u in urls], "canon_url string"
    ).repartition(7)  # build must be partitioning-independent

    built = ShardedCuckoo(
        cfg.cuckoo_shards, -(-cfg.cuckoo_capacity // cfg.cuckoo_shards)
    )
    engine._build_cuckoo(df, built)

    ref = ShardedCuckoo(
        cfg.cuckoo_shards, -(-cfg.cuckoo_capacity // cfg.cuckoo_shards)
    )
    ref.add(urls)

    assert built.contains(urls).all()
    assert built.count == ref.count
    assert all(not sh.failed for sh in built.shards)


def test_cuckoo_shards_is_a_class_constant_not_a_setting():
    assert CrawlConfig().cuckoo_shards == 4
    with pytest.raises(TypeError):
        CrawlConfig(cuckoo_shards=8)


def test_cuckoo_full_tracks_failures_and_delete_is_safe():
    """ADVICE: a key that failed to insert (table full) must not be
    deletable — deleting it could strip a colliding fingerprint belonging
    to a still-present key."""
    import warnings

    import numpy as np

    from markdown_lab_spark.frontier.cuckoo import CuckooFilter, _SLOTS

    cf = CuckooFilter(4)  # tiny: nbuckets_for(4) = 2 buckets * 4 slots
    cap = cf.nbuckets * _SLOTS
    urls = [f"https://h.test/{i}" for i in range(cap * 4)]
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        inserted = cf.add(urls)
    assert inserted < len(urls)  # some must fail at 4x capacity
    assert cf.failed  # failures tracked
    assert any("cuckoo filter full" in str(w.message) for w in caught)

    # deleting the failed keys must not remove any stored fingerprint
    count_before = cf.count
    table_before = cf.table.copy()
    failed_idxs = np.array([p[0] for p in cf.failed], dtype=np.uint64)
    failed_fps = np.array([p[1] for p in cf.failed], dtype=np.uint16)
    # only delete pairs whose fingerprint does NOT also exist as a stored
    # duplicate (a colliding stored key keeps its slot)
    removed = cf.delete_pairs(failed_idxs, failed_fps)
    assert cf.count == count_before
    assert (cf.table == table_before).all()
    assert not cf.failed  # consumed
    assert removed == 0


def test_ttl_resume_seed_includes_first_expiring_wave(spark, cycle_pages, tmp_path):
    """ADVICE off-by-one: after resume at start_wave, the first wave's
    expiry delete targets status_wave == start_wave - ttl_waves; those keys
    must have been seeded (>=, not >) or the delete could strip a colliding
    fresh key. Functional check: resume exactly at the expiry boundary and
    verify both re-fetch AND freshness behave."""
    ckpt = str(tmp_path / "ckpt")
    cfg = CrawlConfig(rps=1.0, wave_seconds=5, max_waves=2, ttl_waves=2)
    eng = CrawlEngine(spark, cycle_pages, cfg, checkpoint_dir=ckpt)
    eng.crawl(["https://h1.test/a"])

    cfg2 = CrawlConfig(rps=1.0, wave_seconds=5, max_waves=4, ttl_waves=2)
    eng2 = CrawlEngine(spark, cycle_pages, cfg2, checkpoint_dir=ckpt)
    out = eng2.crawl([], resume=True)
    tr = _trace(out)
    # a (seen at wave 0) expires at wave 2; b (wave 1) at wave 3
    assert ("https://h1.test/a", 2, "ok") in tr
    assert ("https://h1.test/b", 3, "ok") in tr
    # neither is re-fetched while fresh
    assert ("https://h1.test/b", 2, "ok") not in tr


def test_ttl_with_seen_compaction_identical(spark, cycle_pages, tmp_path):
    """TTL semantics are unchanged when seen compaction fires every wave:
    the compacted rows keep max(status_wave) per URL, which is exactly
    what the flat delta rebuild produced, so expiry filtering and
    re-fetch eligibility are identical."""
    base = dict(rps=1.0, wave_seconds=5, max_waves=4, ttl_waves=2)
    out_c = CrawlEngine(
        spark,
        cycle_pages,
        CrawlConfig(**base, seen_compact_every=1),
        checkpoint_dir=str(tmp_path / "c"),
    ).crawl(["https://h1.test/a"])
    out_u = CrawlEngine(
        spark,
        cycle_pages,
        CrawlConfig(**base, seen_compact_every=None),
        checkpoint_dir=str(tmp_path / "u"),
    ).crawl(["https://h1.test/a"])
    assert _trace(out_c) == _trace(out_u)
    # the re-crawl actually happened under compaction
    assert ("https://h1.test/a", 2, "ok") in _trace(out_c)


def test_sharded_cuckoo_semantics_match_single_table():
    """A ShardedCuckoo behaves exactly like one big filter: every added
    key is found, deletes expire the right keys, never-added keys miss
    (up to fp rate), and the sharded pairs round-trip the broadcast."""
    import numpy as np

    from markdown_lab_spark.frontier.cuckoo import ShardedCuckoo

    sc = ShardedCuckoo(4, 4096)
    urls = [f"https://h{i % 11}.test/p{i}" for i in range(8000)]
    assert sc.add(urls) == len(urls)
    assert sc.contains(urls).all()
    # broadcast round-trip (the executor-side prefilter shape)
    sc2 = ShardedCuckoo.from_broadcast(sc.to_broadcast())
    assert sc2.contains(urls).all()
    assert sc2.count == sc.count
    # delete the first half -> those expire, the rest stay
    sc.delete(urls[:4000])
    assert not sc.contains(urls[:1000]).any()
    assert sc.contains(urls[4000:]).all()
    fresh = [f"https://other.test/q{i}" for i in range(4000)]
    assert sc.contains(fresh).mean() < 0.05  # 16-bit fp, low load


def test_sharded_cuckoo_insert_is_parallel_and_bit_equal():
    """The 10^6-key drill (round-3 verdict item 5): per-wave cuckoo
    maintenance parallelizes across shards. Checked deterministically:

    - the threaded insert gives tables bit-equal to a ``max_workers=1``
      insert (shards are independent, so threading changes nothing);
    - each shard receives exactly its ``shard_of_keys`` share, in key
      order, so it equals a standalone filter fed that share;
    - the insert runs on ``min(num_shards, parts)`` distinct worker
      threads at once: every shard task waits at a barrier sized to that
      count, which only breaks (30 s timeout) if fewer threads run.

    The 1-shard and 8-shard wall times are printed, not gated: their
    ratio depends on how many cores are free, not on the code."""
    import threading
    import time

    import numpy as np

    from markdown_lab_spark.frontier.cuckoo import CuckooFilter, ShardedCuckoo

    n, num_shards = 1_000_000, 8
    rng = np.random.default_rng(11)
    keys = rng.integers(1, 2**63, size=n, dtype=np.uint64)
    cap = -(-n // num_shards)
    sid, idx, fp = ShardedCuckoo.sharded_pairs_for_keys(
        keys, num_shards, ShardedCuckoo(num_shards, cap).nbuckets
    )

    serial = ShardedCuckoo(num_shards, cap)
    assert serial.add_sharded_pairs(sid, idx, fp, max_workers=1) == n

    threaded = ShardedCuckoo(num_shards, cap)
    parts = len(np.unique(sid))
    barrier = threading.Barrier(min(num_shards, parts), timeout=30)
    seen = {}  # shard -> (thread id, rows received)
    for s, shard in enumerate(threaded.shards):
        def add_pairs(i, f, _s=s, _add=shard.add_pairs):
            seen[_s] = (threading.get_ident(), len(i))
            barrier.wait()
            return _add(i, f)

        shard.add_pairs = add_pairs
    assert threaded.add_sharded_pairs(sid, idx, fp) == n

    threads = {tid for tid, _ in seen.values()}
    assert len(threads) == min(num_shards, parts) == num_shards
    assert threading.get_ident() not in threads
    share = np.bincount(ShardedCuckoo.shard_of_keys(keys, num_shards),
                        minlength=num_shards)
    assert {s: rows for s, (_, rows) in seen.items()} == dict(enumerate(share))
    for s in range(num_shards):
        mine = sid == s
        alone = CuckooFilter(cap)
        alone.add_pairs(idx[mine], fp[mine])
        for other in (threaded.shards[s], alone):
            np.testing.assert_array_equal(other.table, serial.shards[s].table)
            assert other.count == serial.shards[s].count == share[s]

    def wall(shards: int) -> float:
        c = -(-n // shards)
        triples = ShardedCuckoo.sharded_pairs_for_keys(
            keys, shards, ShardedCuckoo(shards, c).nbuckets
        )
        sc = ShardedCuckoo(shards, c)
        t0 = time.perf_counter()
        assert sc.add_sharded_pairs(*triples) == n
        return time.perf_counter() - t0

    print(f"cuckoo insert wall: 1 shard {wall(1):.3f}s, "
          f"{num_shards} shards {wall(num_shards):.3f}s")
