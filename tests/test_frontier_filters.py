"""Bloom/cuckoo/murmur3 correctness: from-scratch hashing per north_rule."""

import numpy as np

from markdown_lab_spark.frontier.bloom import (
    BloomFilter,
    ShardedBloom,
    partial_bitsets_from_keys,
)
from markdown_lab_spark.frontier.cuckoo import CuckooFilter
from markdown_lab_spark.frontier.hashing import (
    _murmur3_32_packed,
    _pack_batch,
    murmur3_32,
    url_hash64_vec,
)


# published murmur3_x86_32 test vectors
VECTORS = [
    (b"", 0, 0x00000000),
    (b"", 1, 0x514E28B7),
    (b"hello", 0, 0x248BFA47),
    (b"hello, world", 0, 0x149BBB7F),
    (b"The quick brown fox jumps over the lazy dog", 0, 0x2E4FF723),
    (b"abc", 0, 0xB3DD93FA),
    (b"abcd", 0, 0x43ED676A),
]


def test_murmur3_scalar_vectors():
    for data, seed, expected in VECTORS:
        assert murmur3_32(data, seed) == expected, (data, seed)


def test_murmur3_vectorized_matches_scalar():
    inputs = [d for d, _, _ in VECTORS] + [
        b"x" * n for n in range(0, 67)
    ] + ["https://example.com/path?q=1".encode(), "你好世界".encode()]
    packed = _pack_batch(inputs)
    got = _murmur3_32_packed(*packed, seed=0)
    want = np.array([murmur3_32(b, 0) for b in inputs], dtype=np.uint32)
    assert (got == want).all()
    got42 = _murmur3_32_packed(*packed, seed=42)
    want42 = np.array([murmur3_32(b, 42) for b in inputs], dtype=np.uint32)
    assert (got42 == want42).all()


def test_url_hash64_stable_and_distinct():
    urls = [f"https://h{i % 7}.com/p{i}" for i in range(10_000)]
    k1 = url_hash64_vec(urls)
    k2 = url_hash64_vec(urls)
    assert (k1 == k2).all()  # stable across calls (and hence workers)
    assert len(np.unique(k1)) == len(urls)  # no collisions at this scale


def test_bloom_no_false_negatives_and_low_fpr():
    n = 50_000
    added = [f"https://a.com/page/{i}" for i in range(n)]
    probed = [f"https://b.com/other/{i}" for i in range(n)]
    bf = BloomFilter(capacity=n, fpr=0.01)
    bf.add(added)
    assert bf.contains(added).all()  # NO false negatives, ever
    fpr = bf.contains(probed).mean()
    assert fpr < 0.02, fpr  # ~1% target


def test_sharded_bloom_and_partial_merge():
    urls = [f"https://h{i % 13}.example/p{i}" for i in range(20_000)]
    hosts = [f"h{i % 13}.example" for i in range(20_000)]
    sb = ShardedBloom(num_shards=8, capacity_per_shard=5000)
    sb.add(urls, hosts)
    assert sb.contains(urls, hosts).all()

    # distributed build: two "partitions" -> partials -> driver OR-merge
    keys = url_hash64_vec(urls)
    sid = ShardedBloom.shard_of(hosts, 8)
    p1 = partial_bitsets_from_keys(keys[:10_000], sid[:10_000], 8, 5000, 0.01)
    p2 = partial_bitsets_from_keys(keys[10_000:], sid[10_000:], 8, 5000, 0.01)
    merged = ShardedBloom(num_shards=8, capacity_per_shard=5000)
    for partial in (p1, p2):
        for s, raw in partial.items():
            merged.shards[s].bits |= np.frombuffer(raw, dtype=np.uint64)
    assert merged.contains(urls, hosts).all()


def test_bloom_roundtrip_bytes():
    bf = BloomFilter(1000, 0.01)
    bf.add(["https://x.com/1", "https://x.com/2"])
    clone = BloomFilter.from_bytes(bf.to_bytes(), 1000, 0.01)
    assert clone.contains(["https://x.com/1"]).all()
    assert not clone.contains(["https://x.com/999"]).any()


def test_cuckoo_insert_contains_delete():
    n = 10_000
    urls = [f"https://c.com/{i}" for i in range(n)]
    cf = CuckooFilter(capacity=2 * n)
    assert cf.add(urls) == n
    assert cf.contains(urls).all()
    others = [f"https://d.com/{i}" for i in range(n)]
    assert cf.contains(others).mean() < 0.01  # 16-bit fp -> tiny FPR

    # deletion support is the reason cuckoo exists here
    assert cf.delete(urls[:100]) == 100
    assert not cf.contains(urls[:100]).mean() > 0.02
    assert cf.contains(urls[100:]).all()


def test_robots_filter_wildcard_jvm_matches_oracle(spark):
    """RFC 9309 wildcard rules: the JVM regexp_like path and the Python
    oracle must agree rule-for-rule on adversarial paths (same compiled
    regex string, two engines)."""
    from pyspark.sql import functions as F

    from markdown_lab_spark.frontier.crawler import (
        host_rules_from_dict,
        robots_filter,
    )
    from markdown_lab_spark.oracle.sitemap import parse_robots

    body = (
        "User-agent: *\n"
        "Disallow: /*.php\n"
        "Allow: /shared*.php\n"
        "Disallow: /fish*.asc$\n"
        "Disallow: /exact$\n"
        "Disallow: /a$b\n"
        "Disallow: /m.n(o)+\n"
        "Allow: /\n"
    )
    rr = parse_robots(body)
    paths = [
        "/index.php", "/a/b/deep.php", "/shared-lib.php", "/sharedx.php",
        "/fishery/x.asc", "/fishery/x.asc.txt", "/exact", "/exact/sub",
        "/a$b/c", "/ab/c", "/m.n(o)+x", "/mXn(o)+x", "/", "/plain/page",
        "/sharedphp", "/shared.php",
    ]
    host = "w.example"
    hr = host_rules_from_dict(spark, {host: rr})
    df = spark.createDataFrame(
        [(host, f"https://{host}{p}") for p in paths],
        "host string, canon_url string",
    )
    allowed, denied = robots_filter(df, hr)
    got_allowed = {
        r["canon_url"].split(host, 1)[1] for r in allowed.collect()
    }
    want_allowed = {p for p in paths if rr.is_allowed(p)}
    assert got_allowed == want_allowed
    assert {r["canon_url"].split(host, 1)[1] for r in denied.collect()} == (
        set(paths) - want_allowed
    )
