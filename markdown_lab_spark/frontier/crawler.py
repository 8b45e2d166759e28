"""The wave-loop crawl engine: frontier -> fetch(join) -> convert -> expand.

Spark-first design (SURVEY.md §3.2/§4):

- The "fetch" is a broadcast hash join of the tiny per-wave schedule against
  the huge pages corpus (the corpus stands in for the network per the north
  rule) — the schedule is at most hosts*budget rows, so broadcasting it
  keeps the corpus scan shuffle-free.
- URL-seen = sharded from-scratch bloom PREFILTER (no false negatives ->
  bloom-miss rows skip the join entirely) + exact ``left_anti`` join for
  bloom hits, so a false positive costs a probe, never a dropped URL.
- Politeness = salted host-partitioned priority queues (politeness.py).
- Robots allow/deny parsed from the corpus's robots.txt rows, broadcast.
- Canonicalization in the hot path is a pure JVM expression
  (normalize_url_col) — Python only runs inside the Arrow-batched convert
  UDF.
- Each wave checkpoints frontier/seen-delta/docs/chunks/metrics as parquet
  under ``ckpt/wave=N`` — five concurrent write jobs, all joined before the
  wave's MANIFEST.json is written last; ``resume_state`` restarts from the
  last manifested wave with per-partition lineage metrics preserved.
"""

from __future__ import annotations

import functools
import json
import os
from dataclasses import dataclass
from typing import Callable, ClassVar, Dict, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.udfs import (
    chunk_markdown_udf,
    convert_markdown_udf,
    normalize_url_col,
    domain_col,
)
from ..oracle.sitemap import RobotsRules
from .bloom import ShardedBloom
from .politeness import (
    cap_schedule_by_delay,
    politeness_budget,
    schedule_counted,
    schedule_wave,  # noqa: F401 - perfbench/layers.py traces crawler.schedule_wave
    with_host_counts,
)


import time as _time


def _tick(label: str, t0: float) -> float:
    """Wave-step wall-time telemetry, enabled with MLS_TIMING=1."""
    if os.environ.get("MLS_TIMING"):
        print(f"[mls-timing] {label:28s} {_time.time() - t0:7.2f}s", flush=True)
    return _time.time()


FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("canon_url", T.StringType(), False),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("attempt", T.IntegerType()),
    ]
)

# seen_delta / seen_compact checkpoint rows: the latest wave a URL was
# fetched or denied in (status_wave). Checkpoint read-backs pass their
# declared schema (this or FRONTIER_SCHEMA), so no read runs a parquet
# schema-inference job; tests/test_wave_commit.py pins each written
# schema to its declaration.
SEEN_SCHEMA = T.StructType(
    [
        T.StructField("canon_url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("status_wave", T.IntegerType()),
    ]
)


def _run_together(actions: List[Callable[[], object]]) -> list:
    """Call each action on its own ``InheritableThread`` and return the
    results in order. The threads inherit the caller's local properties,
    so their Spark jobs carry its job group (and are cancelled with it).
    Every thread is joined before the first error, if any, is re-raised:
    no job started here is still running when this returns or raises."""
    from pyspark import InheritableThread  # noqa: PLC0415

    results: list = [None] * len(actions)
    errors: List[Optional[BaseException]] = [None] * len(actions)

    def run(i: int) -> None:
        try:
            results[i] = actions[i]()
        except BaseException as exc:  # noqa: BLE001 - re-raised below
            errors[i] = exc

    threads = [InheritableThread(target=run, args=(i,)) for i in range(len(actions))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for exc in errors:
        if exc is not None:
            raise exc
    return results


@dataclass
class CrawlConfig:
    rps: float = 1.0
    wave_seconds: int = 10
    max_waves: int = 100
    bloom_shards: int = 8
    bloom_capacity_per_shard: int = 1 << 17
    bloom_fpr: float = 0.01
    salt_n: int = 16
    # P2 retry semantics (markdown_lab/core/client.py:160-217): a failed
    # fetch re-enters the next wave with attempt+1 instead of sleeping
    # 2**attempt — wave cadence IS the backoff. attempts = max_retries + 1
    # like the client (the errors.py helper's off-by-one is not replicated).
    max_retries: int = 0
    # P3 TTL/re-crawl (markdown_lab/core/cache.py:60-141: entries expire
    # after ttl seconds, mtime-based): a URL seen at wave w blocks
    # re-fetch while wave - w < ttl_waves, then becomes eligible again.
    # The seen prefilter switches from bloom (append-only) to the cuckoo
    # filter, whose deletion support exists precisely for this mode.
    ttl_waves: Optional[int] = None
    cuckoo_capacity: int = 1 << 18
    # independent per-key-hash cuckoo shards (the ShardedBloom pattern):
    # per-wave maintenance (delta insert, expiry delete) runs one thread
    # per shard — numpy's kernels release the GIL, the 10^6-key drill in
    # test_ttl_recrawl shows near-linear wall scaling — and each shard
    # stays cache-resident. At cluster scale shards map onto the same
    # host-hash partitioning the politeness scheduler uses. A class
    # constant, not a setting: no caller ever chose another count.
    cuckoo_shards: ClassVar[int] = 4
    # oversized documents (reference max_file_size, core/config.py:44) are
    # excluded AT THE SCAN — never shipped through Arrow to the convert
    # UDF — and surface as fetch misses in the trace
    max_file_size: int = 10_000_000
    # seen-delta compaction cadence (default checkpoint mode): the flat
    # per-wave rebuild reads every seen_delta dir, which is O(W) dirs per
    # wave and O(W^2) over a long crawl. Every ``seen_compact_every``
    # waves the compacted seen is ALSO written (an additive snapshot —
    # deltas are kept, so time travel to any wave still works) and
    # rebuilds read latest-compact + later deltas: <= compact_every + 1
    # dirs per wave. None disables. (At warehouse scale this is the
    # Iceberg MERGE/compaction maintenance job.)
    seen_compact_every: Optional[int] = 8
    # OPTIONAL global per-wave fetch cap (None = reference behavior:
    # every politeness-scheduled URL fetches). When set, the wave fetches
    # only the top-``wave_fetch_cap`` scheduled URLs globally by
    # (priority DESC, depth ASC, canon_url ASC) — the mechanism that
    # makes cross-host priorities (e.g. host PageRank) load-bearing:
    # under a cluster-wide fetch budget, high-rank hosts win slots and
    # the rest defer to the next wave. orderBy().limit() compiles to
    # TakeOrderedAndProject (distributed partial top-k, no global sort).
    wave_fetch_cap: Optional[int] = None
    # honor robots.txt Crawl-delay (de-facto standard; Bing/Yandex honor
    # it) as a per-host wave budget cap b_h = clamp(floor(wave_seconds /
    # delay), 1, budget) — exact prefix cut AFTER schedule_wave, so the
    # window only ever partitions the bounded schedule. Default off: the
    # reference fetches with a global throttle only (throttle.py), and
    # every pinned trace/gate hash predates this knob.
    honor_crawl_delay: bool = False
    # deep-frontier mode: keep the standing DEFERRED tail out of the wave
    # plan. At a 4:1 frontier:budget ratio the default path sends the
    # whole tail through the seen anti-join, robots filter, route
    # localCheckpoint, rediscovery groupBy, and the frontier_next write
    # EVERY wave even though only the scheduled head changes. With
    # lazy_deferred the wave routes only (new candidates + each host's
    # head rows): per-host ``top-B(tail ∪ new) == top-B(top-B(tail) ∪
    # new)`` — a row outside the tail's head has ≥ B tail rows above it,
    # so it can never be scheduled. The tail is a rank-materialized
    # component set (frontier/tail.py, which has the exactness proof):
    # rows carry a sharded per-host queue rank in a sorted parquet
    # layout, deletes are wave-scoped tombstones, inserts are ranked
    # delta appends, and a compaction every tail_compact_every waves
    # absorbs both — so the per-wave tail cost is a row-group-pruned
    # heads read plus two small appends, O(hosts*budget + new
    # candidates), independent of how deep the standing tail is. Output
    # (trace/seen/chunks) is EXACTLY the default path's. With a
    # checkpoint_dir the components are persisted per wave (resume
    # restores them); without one they live in localCheckpoints.
    lazy_deferred: bool = False
    # 0 disables in-band compaction (run it as a maintenance job — at
    # 10^10 tail rows the rewrite does not belong on the wave critical
    # path; see the 16x deep-tail drill in BENCH.md)
    tail_compact_every: int = 4

    @property
    def budget(self) -> int:
        return politeness_budget(self.rps, self.wave_seconds)


ROBOTS_RULES_SCHEMA = (
    "host string, prefix string, is_allow boolean, rule_len int, rx string"
)


def robots_rules_df(pages: DataFrame) -> DataFrame:
    """(host, prefix, is_allow, rule_len) parsed DISTRIBUTIVELY.

    Round-1 verdict: collecting every robots.txt body to the driver is an
    OOM at 10^8 hosts. Here each executor parses its own partition's
    robots pages (Arrow-batched mapInPandas over oracle.sitemap's
    reference-faithful parser) and only the exploded rule rows flow on.
    """
    robots_pages = pages.filter(F.col("url").endswith("/robots.txt")).select(
        "url", F.col("html").cast("string").alias("body")
    )

    def parse_batches(iterator):
        from ..oracle.sitemap import (  # noqa: PLC0415
            parse_robots as _parse,
            robots_pattern_regex as _rx,
        )

        for pdf in iterator:
            hosts: List[str] = []
            prefixes: List[str] = []
            allows: List[bool] = []
            lens_: List[int] = []
            rxs: List[Optional[str]] = []
            for url, body in zip(pdf["url"], pdf["body"]):
                host = (url or "").split("://", 1)[-1].split("/", 1)[0]
                for prefix, is_allow in _parse(body or "").rules:
                    hosts.append(host)
                    prefixes.append(prefix)
                    allows.append(is_allow)
                    lens_.append(len(prefix))
                    rxs.append(_rx(prefix))
            if hosts:
                yield pd.DataFrame(
                    {
                        "host": hosts,
                        "prefix": prefixes,
                        "is_allow": allows,
                        "rule_len": lens_,
                        "rx": rxs,
                    }
                )

    return robots_pages.mapInPandas(parse_batches, ROBOTS_RULES_SCHEMA)


def robots_crawl_delays(pages: DataFrame) -> DataFrame:
    """(host, crawl_delay) for every host whose robots.txt declares a
    ``Crawl-delay`` in the ``*`` group — parsed distributively like
    robots_rules_df (executor-side, Arrow-batched), only the tiny
    per-host scalar rows flow on."""
    robots_pages = pages.filter(F.col("url").endswith("/robots.txt")).select(
        "url", F.col("html").cast("string").alias("body")
    )

    def parse_batches(iterator):
        from ..oracle.sitemap import parse_robots as _parse  # noqa: PLC0415

        for pdf in iterator:
            hosts: List[str] = []
            delays: List[float] = []
            for url, body in zip(pdf["url"], pdf["body"]):
                rr = _parse(body or "")
                if rr.crawl_delay is not None:
                    hosts.append(
                        (url or "").split("://", 1)[-1].split("/", 1)[0]
                    )
                    delays.append(rr.crawl_delay)
            if hosts:
                yield pd.DataFrame({"host": hosts, "crawl_delay": delays})

    return robots_pages.mapInPandas(
        parse_batches, "host string, crawl_delay double"
    )


def robots_host_rules(rules: DataFrame) -> DataFrame:
    """One row per host with its rules as an array (bounded: a robots.txt
    has dozens of rules, not millions) — lets the frontier filter be a
    plain equi-join + JVM array expression with NO post-join aggregation."""
    # rx LAST in the struct: array_max compares fields in order, so the
    # best-match pick stays (rule_len, is_allow, prefix) — RFC 9309
    # longest-pattern-wins, Allow wins length ties
    return rules.groupBy("host").agg(
        F.collect_list(
            F.struct("rule_len", "is_allow", "prefix", "rx")
        ).alias("_rules")
    )


def host_rules_from_dict(
    spark: SparkSession, robots: Dict[str, RobotsRules]
) -> DataFrame:
    """Seed-scale path: a driver-side dict (e.g. from hand-parsed fixtures)
    lifted to the same (host, _rules) shape."""
    from ..oracle.sitemap import robots_pattern_regex  # noqa: PLC0415

    rule_rows = [
        (host, prefix, is_allow, len(prefix), robots_pattern_regex(prefix))
        for host, rr in robots.items()
        for prefix, is_allow in rr.rules
    ]
    rules = spark.createDataFrame(
        rule_rows or spark.sparkContext.emptyRDD(), ROBOTS_RULES_SCHEMA
    )
    return robots_host_rules(rules)


def robots_filter(
    df: DataFrame, host_rules: DataFrame
) -> Tuple[DataFrame, DataFrame]:
    """Split (allowed, denied) by ``robots_verdict``."""
    flagged = robots_verdict(df, host_rules)
    allowed = flagged.filter(F.col("_allowed")).drop("_allowed")
    denied = flagged.filter(~F.col("_allowed")).drop("_allowed")
    return allowed, denied


def robots_verdict(df: DataFrame, host_rules: DataFrame) -> DataFrame:
    """``df`` plus ``_allowed``: equi-join per-host rule arrays, then pick
    the longest matching prefix (Allow wins ties) as a pure JVM array
    expression — one join, zero shuffles beyond it (AQE broadcasts the
    rules side when it is small; at 10^8 hosts it stays a shuffle join
    keyed on host, which is the right plan). No rule => allowed
    (markdown_lab has no fetch-time robots check; north_rule adds it)."""
    path = F.regexp_extract(F.col("canon_url"), r"^[a-z]+://[^/]*(/.*)?$", 1)
    # plain prefixes keep the startswith fast path; wildcard/$ patterns
    # (RFC 9309) carry a precompiled anchored regex in rx
    best = F.array_max(
        F.filter(
            F.col("_rules"),
            lambda r: F.when(
                r["rx"].isNull(), F.col("_path").startswith(r["prefix"])
            ).otherwise(F.regexp_like(F.col("_path"), r["rx"])),
        )
    )
    return (
        df.withColumn("_path", F.coalesce(path, F.lit("/")))
        .join(host_rules, on="host", how="left")
        .withColumn("_allowed", F.coalesce(best["is_allow"], F.lit(True)))
        .drop("_path", "_rules")
    )


# Above this many whole-filter bytes the bloom prefilter switches to the
# per-shard probe (SURVEY §4: at 10^10 URLs the filter is ~12 GB — each
# executor must load only the shards its candidates hash to, never the
# whole thing). Local-scale filters stay on the single-broadcast path.
BLOOM_BROADCAST_MAX_BYTES = 256 << 20


def bloom_antijoin(
    candidates: DataFrame,
    seen: Optional[DataFrame],
    bloom: Optional[ShardedBloom],
    spark: SparkSession,
    per_shard: Optional[bool] = None,
    broadcasts: Optional[list] = None,
) -> DataFrame:
    """candidates minus seen: bloom prefilter + exact left_anti for hits.

    ``broadcasts``, when given, receives every broadcast the probe
    registers; the caller destroys them once the result is materialized.

    ``per_shard`` (default: auto by total filter size vs
    ``BLOOM_BROADCAST_MAX_BYTES``) selects the probe layout:

    - whole-filter broadcast (small filters): one broadcast holds every
      shard's bitset; any task probes any row.
    - per-shard probe (round-5 verdict item 2, the 10^10 design):
      candidates are repartitioned by ``shard_of(host)`` and each shard's
      bitset ships as its OWN broadcast — Spark fetches broadcasts
      lazily on first ``.value`` access, so a task materializes exactly
      the shards its rows hash to (one, absent partition-hash
      collisions). The exactness guard is unchanged either way: the
      bloom only prunes, the exact left_anti decides.
    """
    if seen is None:
        return candidates
    if bloom is None:
        return candidates.join(seen, on="canon_url", how="left_anti")

    num_shards = bloom.num_shards
    shard_payloads = [(bf.m_bits, bf.k, bf.to_bytes()) for bf in bloom.shards]
    if per_shard is None:
        per_shard = (
            sum(len(p[2]) for p in shard_payloads) > BLOOM_BROADCAST_MAX_BYTES
        )

    from pyspark.sql.pandas.functions import pandas_udf  # noqa: PLC0415

    if not per_shard:
        bc = spark.sparkContext.broadcast(shard_payloads)
        created = [bc]

        @pandas_udf(T.BooleanType())
        def maybe_seen(url: pd.Series, host: pd.Series) -> pd.Series:
            import numpy as np  # noqa: PLC0415

            from .bloom import BloomFilter  # noqa: PLC0415
            from .hashing import url_hash64_vec  # noqa: PLC0415

            shards = []
            for m_bits, k, raw in bc.value:
                bf = BloomFilter.__new__(BloomFilter)
                bf.m_bits, bf.k = m_bits, k
                bf.bits = np.frombuffer(raw, dtype=np.uint64)
                shards.append(bf)
            urls = url.fillna("").tolist()
            hosts = host.fillna("").tolist()
            keys = url_hash64_vec(urls)
            sid = ShardedBloom.shard_of(hosts, num_shards)
            out = np.zeros(len(urls), dtype=bool)
            for s in np.unique(sid):
                mask = sid == s
                out[mask] = shards[int(s)].contains_keys(keys[mask])
            return pd.Series(out)

        flagged = candidates.withColumn(
            "_maybe", maybe_seen("canon_url", "host")
        )
    else:
        # one broadcast PER shard: executors fetch lazily, so a task
        # holds only the bitsets of the shard ids present in its rows
        shard_bcs = [spark.sparkContext.broadcast(p) for p in shard_payloads]
        created = shard_bcs

        @pandas_udf(T.IntegerType())
        def sid_of(host: pd.Series) -> pd.Series:
            return pd.Series(
                ShardedBloom.shard_of(host.fillna("").tolist(), num_shards)
            )

        @pandas_udf(T.BooleanType())
        def maybe_seen_ps(
            url: pd.Series, sid_col: pd.Series
        ) -> pd.Series:
            import numpy as np  # noqa: PLC0415

            from .bloom import BloomFilter  # noqa: PLC0415
            from .hashing import url_hash64_vec  # noqa: PLC0415

            keys = url_hash64_vec(url.fillna("").tolist())
            sid = sid_col.to_numpy()
            out = np.zeros(len(keys), dtype=bool)
            for s in np.unique(sid):
                m_bits, k, raw = shard_bcs[int(s)].value  # lazy fetch
                bf = BloomFilter.__new__(BloomFilter)
                bf.m_bits, bf.k = m_bits, k
                bf.bits = np.frombuffer(raw, dtype=np.uint64)
                mask = sid == s
                out[mask] = bf.contains_keys(keys[mask])
            return pd.Series(out)

        flagged = (
            candidates.withColumn("_sid", sid_of("host"))
            .repartition(F.col("_sid"))
            .withColumn("_maybe", maybe_seen_ps("canon_url", F.col("_sid")))
            .drop("_sid")
        )

    if broadcasts is not None:
        broadcasts.extend(created)
    definite_new = flagged.filter(~F.col("_maybe")).drop("_maybe")
    needs_check = flagged.filter(F.col("_maybe")).drop("_maybe")
    verified_new = needs_check.join(seen, on="canon_url", how="left_anti")
    return definite_new.unionByName(verified_new)


def cuckoo_antijoin(
    candidates: DataFrame,
    fresh_seen: Optional[DataFrame],
    cuckoo,
    spark: SparkSession,
    broadcasts: Optional[list] = None,
) -> DataFrame:
    """TTL-mode twin of bloom_antijoin: the prefilter is the deletable
    cuckoo filter (expired keys are removed, so they read as new without
    a rebuild). Same exactness guard: the cuckoo only prunes; the exact
    ``left_anti`` against the FRESH seen rows decides. ``broadcasts`` as
    in bloom_antijoin."""
    if fresh_seen is None:
        return candidates
    if cuckoo is None or cuckoo.count == 0:
        return candidates.join(fresh_seen, on="canon_url", how="left_anti")

    bc = spark.sparkContext.broadcast(cuckoo.to_broadcast())
    if broadcasts is not None:
        broadcasts.append(bc)

    from pyspark.sql.pandas.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf(T.BooleanType())
    def maybe_seen(url: pd.Series) -> pd.Series:
        from .cuckoo import ShardedCuckoo  # noqa: PLC0415

        sc = ShardedCuckoo.from_broadcast(bc.value)
        return pd.Series(sc.contains(url.fillna("").tolist()))

    flagged = candidates.withColumn("_maybe", maybe_seen("canon_url"))
    definite_new = flagged.filter(~F.col("_maybe")).drop("_maybe")
    needs_check = flagged.filter(F.col("_maybe")).drop("_maybe")
    verified_new = needs_check.join(fresh_seen, on="canon_url", how="left_anti")
    return definite_new.unionByName(verified_new)


def _compact_seen(df: DataFrame) -> DataFrame:
    """One row per canon_url keeping the LATEST status_wave (re-crawl
    refreshes the TTL clock) — deterministic, unlike dropDuplicates."""
    return df.groupBy("canon_url").agg(
        F.max("host").alias("host"),
        F.min("depth").alias("depth"),
        F.max("status_wave").alias("status_wave"),
    )


def checkpoint_sizes(checkpoint_dir: str) -> Dict[int, int]:
    """A4 (disk-cache size, markdown_lab/core/cache.py:196-204) mapped to
    the engine's state layer: bytes per complete wave checkpoint."""
    sizes: Dict[int, int] = {}
    if not os.path.isdir(checkpoint_dir):
        return sizes
    for d in os.listdir(checkpoint_dir):
        if not d.startswith("wave="):
            continue
        try:
            wave = int(d.split("=", 1)[1])
        except ValueError:  # stray non-numeric dir (round-3 ADVICE)
            continue
        total = 0
        for root, _dirs, files in os.walk(os.path.join(checkpoint_dir, d)):
            for fn in files:
                total += os.path.getsize(os.path.join(root, fn))
        sizes[wave] = total
    return sizes


_EVICTABLE = ("docs", "chunks")  # bulk artifacts; state stays resumable


def evict_checkpoints(checkpoint_dir: str, max_bytes: int) -> List[int]:
    """A5 (oldest-first cache eviction, markdown_lab/core/cache.py:206-239)
    mapped to the state layer: evict the BULK artifacts (docs/chunks
    parquet) of the oldest waves until the checkpoint dir fits
    ``max_bytes``. frontier_next / seen_delta / metrics / MANIFEST are
    never touched, so exact resume (and snapshot time travel) keeps
    working from every wave; only archived page content is dropped,
    exactly like the reference evicting cached bodies while the URL
    stays re-fetchable. Returns the waves whose bulk was evicted."""
    import shutil  # noqa: PLC0415

    sizes = checkpoint_sizes(checkpoint_dir)
    total = sum(sizes.values())
    evicted: List[int] = []
    for wave in sorted(sizes):  # oldest first
        if total <= max_bytes:
            break
        removed_any = False
        for name in _EVICTABLE:
            p = os.path.join(checkpoint_dir, f"wave={wave}", name)
            if os.path.isdir(p):
                freed = 0
                for root, _dirs, files in os.walk(p):
                    for fn in files:
                        freed += os.path.getsize(os.path.join(root, fn))
                shutil.rmtree(p)
                total -= freed
                removed_any = True
        if removed_any:  # don't re-report already-evicted waves
            evicted.append(wave)
    return evicted


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        config: Optional[CrawlConfig] = None,
        checkpoint_dir: Optional[str] = None,
    ):
        self.spark = spark
        self.config = config or CrawlConfig()
        self.checkpoint_dir = checkpoint_dir
        # canonicalize the corpus once; keep html out of any shuffle by
        # projecting it only at the join
        self.pages = pages.withColumn("canon_url", normalize_url_col(F.col("url")))
        # static across waves; cached AND filled eagerly, so no wave job
        # pays the corpus scan for robots bodies
        self.host_rules = robots_host_rules(robots_rules_df(pages)).cache()
        self.host_rules.count()
        self.host_delays: Optional[DataFrame] = None
        if self.config.honor_crawl_delay:
            self.host_delays = robots_crawl_delays(pages).cache()
            self.host_delays.count()

    # -- state ----------------------------------------------------------------
    def _frontier_from_seeds(self, seeds) -> DataFrame:
        """seeds: list[str] or a DataFrame with a ``url`` column (the
        DataFrame form avoids a driver round-trip for huge seed sets)."""
        if isinstance(seeds, DataFrame):
            df = seeds.select("url")
        else:
            df = self.spark.createDataFrame([(s,) for s in seeds], "url string")
        return (
            df.withColumn("canon_url", normalize_url_col(F.col("url")))
            .withColumn("host", domain_col(F.col("canon_url")))
            .withColumn("depth", F.lit(0))
            .withColumn("priority", F.lit(1.0))
            .withColumn("attempt", F.lit(0))
            .select("canon_url", "host", "depth", "priority", "attempt")
            .dropDuplicates(["canon_url"])
        )

    def _ckpt_path(self, wave: int, name: str) -> str:
        assert self.checkpoint_dir is not None
        return os.path.join(self.checkpoint_dir, f"wave={wave}", name)

    def _write_wave(
        self,
        wave: int,
        frontier_next: DataFrame,
        seen_delta: DataFrame,
        docs: DataFrame,
        chunks: DataFrame,
        metrics: DataFrame,
        delta_keys: DataFrame,
    ) -> list:
        """Commit wave ``wave`` and return the collected ``delta_keys``
        rows (the seen delta's prefilter keys).

        The five parquet writes and the ``delta_keys`` collect are
        independent Spark jobs, so they are submitted together, one
        ``_run_together`` thread each, and all of them are joined before
        MANIFEST.json is written. The manifest stays the wave's commit
        point: it is written last and only when every write succeeded, so
        a crash or a failed write leaves the wave without one and resume
        replays it from the previous wave's state."""
        actions: List[Callable[[], object]] = [delta_keys.collect]
        if self.checkpoint_dir is not None:
            outputs = {
                "frontier_next": frontier_next,
                "seen_delta": seen_delta,
                "docs": docs,
                "chunks": chunks,
                "metrics": metrics,
            }
            actions += [
                functools.partial(
                    df.write.mode("overwrite").parquet, self._ckpt_path(wave, name)
                )
                for name, df in outputs.items()
            ]
        results = _run_together(actions)
        if self.checkpoint_dir is not None:
            with open(
                os.path.join(self.checkpoint_dir, f"wave={wave}", "MANIFEST.json"),
                "w",
            ) as f:
                json.dump({"wave": wave}, f)
        return results[0]

    def _seen_sources(self, upto_wave: int) -> List[str]:
        """Parquet dirs whose union compacts to the seen set as of
        ``upto_wave`` (inclusive): the latest seen_compact at or before
        it, plus every seen_delta after that compact. Bounds the per-wave
        rebuild at compact_every + 1 dirs instead of one per wave."""
        waves = [w for w in self.complete_waves() if w <= upto_wave]
        base = None
        for w in reversed(waves):
            # require the parquet _SUCCESS commit marker, not just the
            # directory: the compact snapshot is written AFTER the wave's
            # MANIFEST, so a crash mid-compact leaves a partial dir that
            # a bare isdir() would trust as the seen base while skipping
            # all earlier deltas — already-crawled URLs would silently
            # re-fetch (round-3 ADVICE)
            cdir = self._ckpt_path(w, "seen_compact")
            if os.path.exists(os.path.join(cdir, "_SUCCESS")):
                base = w
                break
        paths: List[str] = []
        if base is not None:
            paths.append(self._ckpt_path(base, "seen_compact"))
        paths += [
            self._ckpt_path(w, "seen_delta")
            for w in waves
            if base is None or w > base
        ]
        return paths

    def complete_waves(self) -> List[int]:
        """Snapshot list: waves with a complete (manifested) checkpoint."""
        if self.checkpoint_dir is None or not os.path.isdir(self.checkpoint_dir):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(self.checkpoint_dir)
            if d.startswith("wave=")
            and os.path.exists(os.path.join(self.checkpoint_dir, d, "MANIFEST.json"))
        )

    def resume_state(
        self, from_wave: Optional[int] = None
    ) -> Tuple[Optional[DataFrame], Optional[DataFrame], int]:
        """(frontier, seen, next_wave) from a checkpoint snapshot.

        ``from_wave=None`` resumes after the LAST complete wave; an
        explicit wave is snapshot time travel — the crawl restarts as if
        wave ``from_wave`` had just finished (the Iceberg-snapshot
        analogue: each wave dir is an immutable snapshot, seen is the
        union of deltas up to it)."""
        waves = self.complete_waves()
        if from_wave is not None:
            if from_wave not in waves:
                raise ValueError(
                    f"wave {from_wave} has no complete checkpoint; have {waves}"
                )
            waves = [w for w in waves if w <= from_wave]
        if not waves:
            return None, None, 0
        last = waves[-1]
        frontier = self.spark.read.schema(FRONTIER_SCHEMA).parquet(
            self._ckpt_path(last, "frontier_next")
        )
        seen = _compact_seen(
            self.spark.read.schema(SEEN_SCHEMA).parquet(*self._seen_sources(last))
        )
        return frontier, seen, last + 1

    # -- the loop ---------------------------------------------------------------
    def crawl(
        self,
        seeds,
        resume: bool = False,
        from_wave: Optional[int] = None,
        host_priorities: Optional[DataFrame] = None,
    ) -> Dict[str, DataFrame]:
        """``host_priorities``: optional (host, priority) table — e.g.
        ``rank.host_pagerank_priorities`` over a previous crawl's link
        graph — consumed at link discovery so newly found URLs enter the
        frontier with their host's score instead of the flat 0.5 (the
        politeness queues order by priority DESC within a depth). Tiny
        table (one row per host): AQE broadcasts the join."""
        cfg = self.config
        frontier: Optional[DataFrame]
        seen: Optional[DataFrame]
        start_wave = 0
        # tail.py imports this module's FRONTIER_SCHEMA
        from .tail import RankedTail  # noqa: PLC0415

        # standing deferred tail (lazy_deferred mode)
        ranked_tail: Optional[RankedTail] = None
        if cfg.lazy_deferred:
            ranked_tail = RankedTail(
                self.spark,
                cfg.budget,
                salt_n=cfg.salt_n,
                compact_every=cfg.tail_compact_every,
                checkpoint_dir=self.checkpoint_dir,
            )
        if resume:
            frontier, seen, start_wave = self.resume_state(from_wave)
            if start_wave > 0:
                if os.path.exists(
                    os.path.join(
                        self._ckpt_path(start_wave - 1, "deferred"), "_SUCCESS"
                    )
                ):
                    # nothing reads the flat per-wave tail snapshot any
                    # more: resuming past it would drop its URLs silently
                    raise ValueError(
                        f"wave={start_wave - 1} holds a flat 'deferred' tail "
                        "snapshot, a checkpoint layout this engine no longer "
                        "reads; resume it with the version that wrote it"
                    )
                # restore the resumed wave's ranked tail components. A
                # mode-switch resume stays correct in either direction:
                # the tail set is rebuilt and folded into whatever
                # representation THIS config uses (default mode folds it
                # back into the frontier, where it re-routes once and
                # rides the default path). Always fold to rows and
                # re-seed rather than adopting the components: stored
                # ranks bound the superset via the budget/salt/compact
                # config in effect WHEN WRITTEN, which a resume can
                # change (e.g. a smaller budget would make
                # _rk <= B*(age+1) under-read). One re-rank pass per
                # resume event buys config-proof exactness (tail.py
                # "Crash safety").
                restored = RankedTail.restore(
                    self.spark,
                    self.checkpoint_dir,
                    [w for w in self.complete_waves() if w < start_wave],
                    cfg.budget,
                    salt_n=cfg.salt_n,
                    compact_every=cfg.tail_compact_every,
                )
                tail_rows = restored.all_rows()
                if tail_rows is not None:
                    if ranked_tail is not None:
                        ranked_tail.seed(start_wave - 1, tail_rows)
                    elif frontier is not None:
                        frontier = frontier.unionByName(tail_rows)
        else:
            frontier, seen = None, None
        if frontier is None:
            # materialize: wave 0's isEmpty check and candidates job
            # would each re-run the seeds lineage (normalize +
            # dropDuplicates shuffle) otherwise
            frontier = self._frontier_from_seeds(seeds).localCheckpoint(eager=True)
            seen = None

        use_ttl = cfg.ttl_waves is not None
        bloom: Optional[ShardedBloom] = None
        cuckoo = None
        if use_ttl:
            from .cuckoo import ShardedCuckoo  # noqa: PLC0415

            cuckoo = ShardedCuckoo(
                cfg.cuckoo_shards,
                -(-cfg.cuckoo_capacity // cfg.cuckoo_shards),
            )
            if seen is not None:
                # resume: re-seed still-fresh keys PLUS the wave that
                # expires first (>=, not >): the resumed wave's expiry
                # delete targets status_wave == start_wave - ttl_waves,
                # and deleting a never-inserted key could strip a
                # colliding fingerprint of a still-fresh URL (false
                # negative in the prefilter)
                fresh = seen.filter(
                    F.col("status_wave") >= start_wave - cfg.ttl_waves
                )
                # executor-side shard build (round-5 verdict item 3):
                # the window re-seed previously collected O(|window|)
                # (idx, fp) pairs and replayed them through the serial
                # driver insert loop; now each task builds whole shards
                # and the driver adopts num_shards fixed-size tables
                self._build_cuckoo(fresh, cuckoo)
        elif seen is not None:
            # full build only on resume
            bloom = self._build_bloom(self._bloom_partials(seen).collect())

        all_records: List[DataFrame] = []
        all_chunks: List[DataFrame] = []
        # slim projection, NOT cached: since round 2 the corpus is probed
        # exactly once per wave (the broadcast fetch join; misses anti-join
        # the fetched set), so caching would pay a 500 MB materialization
        # in wave 0 to save one pruned parquet scan per later wave. At
        # warehouse scale canon_url is a real column of the Iceberg pages
        # table (computed once at ingest) and the scan is partition-pruned.
        pages_slim = self.pages.select("canon_url", "url", "html")

        for wave in range(start_wave, cfg.max_waves):
            _t = _time.time()
            tail_live = ranked_tail is not None and not ranked_tail.is_empty()
            if frontier.isEmpty() and not tail_live:
                break
            _t = _tick(f"w{wave} isEmpty", _t)

            probe_bcs: list = []
            # 1. seen anti-join (bloom prefilter + exact); in TTL mode the
            # deletable cuckoo prefilter + anti-join against FRESH rows only.
            if use_ttl:
                fresh_seen = None
                if seen is not None:
                    if wave - cfg.ttl_waves >= 0 and cuckoo is not None:
                        expiring = seen.filter(
                            F.col("status_wave") == wave - cfg.ttl_waves
                        )
                        cuckoo.delete_sharded_pairs(*self._cuckoo_pairs(expiring))
                    fresh_seen = seen.filter(
                        F.col("status_wave") > wave - cfg.ttl_waves
                    )
                candidates = cuckoo_antijoin(
                    frontier, fresh_seen, cuckoo, self.spark, broadcasts=probe_bcs
                )
            else:
                candidates = bloom_antijoin(
                    frontier, seen, bloom, self.spark, broadcasts=probe_bcs
                )

            # Materialize the anti-join output once, tagged with its
            # robots verdict: the routing below fans out into ~8 branch
            # scans (robots allow/deny, politeness under/over/deferred,
            # denied) and without this each branch re-runs the probe UDF
            # + exact anti-join over the full state checkpoint and the
            # robots join — measured 0.5-0.9 s CPU x 8 stages per wave at
            # sf0.1, the dominant wave-1 fixed cost. One materialization
            # makes every branch a cheap filter over local blocks; the
            # candidate set is the wave's working set (an Iceberg-based
            # orchestration would land it per wave too).
            candidates = robots_verdict(
                candidates, self.host_rules
            ).localCheckpoint(eager=True)
            # the probe ran inside that job and nothing reads its lineage
            # again: free this wave's filter copies (held by every executor
            # and by this process) now, or memory grows with every wave
            for bc in probe_bcs:
                bc.destroy()
            _t = _tick(f"w{wave} candidates lc", _t)

            # 2+3. robots allow/deny (the verdict the candidates carry) +
            # politeness budget, routed in ONE materialized pass: round 1
            # cached four branch DataFrames and filled them with three
            # sequential count() jobs; tagging every candidate with its
            # route and localCheckpointing once gives the same
            # recompute-safety for a single job's fixed cost.
            sched_in = candidates
            if ranked_tail is not None:
                # route only (new candidates + per-host tail heads): the
                # tail never re-enters the anti-join/robots/route plan.
                # Tail rows passed robots when first routed and host_rules
                # is fixed for the crawl; they are never in seen (only
                # fetched/denied URLs are), so skipping both is exact.
                sched_in = sched_in.withColumn("_src", F.lit("new"))
                # rank-pruned heads superset: a row-group-pruned filter
                # read, no tail window (frontier/tail.py)
                heads = ranked_tail.heads_superset(wave)
                if heads is not None:
                    sched_in = sched_in.unionByName(
                        heads.withColumn("_allowed", F.lit(True)).withColumn(
                            "_src", F.lit("head")
                        )
                    )
            # each host's allowed count, materialized once: the
            # under-budget, over-budget and deferred branches below
            # push different filters into the count aggregate, so
            # Spark would recompute it (and its join) per branch
            tags = with_host_counts(
                sched_in, where=F.col("_allowed")
            ).localCheckpoint(eager=True)
            denied = tags.filter(~F.col("_allowed")).drop("_allowed", "_host_n")
            scheduled, deferred = schedule_counted(
                tags.filter(F.col("_allowed")).drop("_allowed"),
                cfg.budget,
                cfg.salt_n,
            )
            if self.host_delays is not None:
                scheduled, cut = cap_schedule_by_delay(
                    scheduled, self.host_delays, cfg.wave_seconds, cfg.budget
                )
                deferred = deferred.unionByName(cut)
            if cfg.wave_fetch_cap is not None:
                kept = scheduled.orderBy(
                    F.col("priority").desc(),
                    F.col("depth").asc(),
                    F.col("canon_url").asc(),
                ).limit(cfg.wave_fetch_cap)
                over_cap = scheduled.join(
                    kept.select("canon_url"), on="canon_url", how="left_anti"
                )
                scheduled = kept
                deferred = deferred.unionByName(over_cap)
            routed = (
                scheduled.withColumn("_route", F.lit("scheduled"))
                .unionByName(deferred.withColumn("_route", F.lit("deferred")))
                .unionByName(denied.withColumn("_route", F.lit("denied")))
            ).localCheckpoint(eager=True)
            _t = _tick(f"w{wave} route lc", _t)
            scheduled = routed.filter(F.col("_route") == "scheduled").drop("_route")
            deferred = routed.filter(F.col("_route") == "deferred").drop("_route")
            denied = routed.filter(F.col("_route") == "denied").drop("_route")
            if ranked_tail is not None:
                # tail commit: tombstone the scheduled rows drawn FROM the
                # tail, insert the unscheduled new ones. Unscheduled head-
                # superset rows are simply dropped — they stay live in the
                # tail components untouched.
                ranked_tail.apply_wave(
                    wave,
                    scheduled.filter(F.col("_src") == "head"),
                    deferred.filter(F.col("_src") == "new").drop("_src"),
                )
                scheduled = scheduled.drop("_src")
                denied = denied.drop("_src")
                # downstream rediscovery anti-join sees the live tail
                tail_all = ranked_tail.all_rows()
                deferred = (
                    tail_all
                    if tail_all is not None
                    else self.spark.createDataFrame([], FRONTIER_SCHEMA)
                )
                _t = _tick(f"w{wave} deferred merge", _t)

            # 4. fetch = broadcast join against the corpus (stream side =
            # corpus, build side = the small schedule: the corpus is never
            # shuffled). Oversized pages (reference max_file_size,
            # core/config.py:44) are a TERMINAL skip, not a retryable miss:
            # they stay in the join tagged _too_large so they reach the
            # seen set with status 'too_large' instead of burning
            # politeness-budget slots as retries — but their bytes never
            # cross Arrow (the convert UDF sees null html for them).
            fetched = pages_slim.join(
                F.broadcast(scheduled), on="canon_url", how="inner"
            ).withColumn("_too_large", F.length("html") > cfg.max_file_size)

            # 5. convert + chunk (Arrow-vectorized)
            docs = (
                fetched.withColumn(
                    # markdown-only variant: the crawl consumes markdown +
                    # links; json/xml serialization is skipped in this path
                    "doc",
                    convert_markdown_udf(
                        F.when(~F.col("_too_large"), F.col("html")),
                        F.col("url"),
                    ),
                )
                .select(
                    "canon_url",
                    "url",
                    "host",
                    "depth",
                    F.lit(wave).alias("wave"),
                    F.col("doc.title").alias("title"),
                    F.col("doc.markdown").alias("markdown"),
                    F.col("doc.links").alias("links"),
                    F.when(F.col("_too_large"), F.lit("too_large"))
                    .otherwise(F.col("doc.status"))
                    .alias("status"),
                    F.col("doc.error").alias("error"),
                )
                # the wave's ONE heavy job: fetch join + convert UDF,
                # materialized here so chunks/records/links/metrics all
                # derive lazily without re-running the UDF (round 1 paid
                # two extra jobs checkpointing records and chunks)
                .localCheckpoint(eager=True)
            )
            _t = _tick(f"w{wave} docs lc", _t)

            # fetch misses: anti-join the schedule against the (small,
            # just-materialized) fetched set — NOT against the corpus,
            # which a left_anti would shuffle wholesale at 100 TB
            missed = scheduled.join(
                docs.select("canon_url"), on="canon_url", how="left_anti"
            )
            # P2 retry split: a miss with attempts left re-enters the next
            # wave (attempt+1); an exhausted miss is final (seen)
            retry = missed.filter(F.col("attempt") < cfg.max_retries)
            missed_final = missed.filter(F.col("attempt") >= cfg.max_retries)

            chunks = docs.filter(F.col("status") == "ok").select(
                "canon_url",
                "wave",
                F.posexplode(chunk_markdown_udf(F.col("markdown"))).alias(
                    "pos", "content"
                ),
            )

            # 6. discover next frontier: explode links, canonicalize (JVM),
            #    filter http(s), exclude sitemap/robots rows' pseudo-links
            discovered = (
                docs.filter(~F.col("canon_url").rlike(r"/(robots\.txt|sitemap\.xml)$"))
                .select(
                    F.col("depth").alias("parent_depth"),
                    F.explode("links").alias("link"),
                )
                .filter(F.col("link").rlike(r"^https?://[^/\s]+"))
                .withColumn("canon_url", normalize_url_col(F.col("link")))
                .withColumn("host", domain_col(F.col("canon_url")))
                .groupBy("canon_url", "host")
                .agg(
                    (F.min("parent_depth") + 1).alias("depth"),
                    F.lit(0.5).alias("priority"),
                    F.lit(0).alias("attempt"),
                )
            )
            if host_priorities is not None:
                hp = host_priorities.select(
                    "host", F.col("priority").alias("_host_prio")
                )
                discovered = (
                    discovered.join(hp, on="host", how="left")
                    .withColumn(
                        "priority",
                        F.coalesce(F.col("_host_prio"), F.col("priority")),
                    )
                    .drop("_host_prio")
                )

            # 7. bookkeeping — retrying rows are NOT seen yet. Materialized:
            # the commit writes it, collects its prefilter keys and
            # anti-joins the rediscovered links against it, three
            # concurrent jobs that would each recompute its joins and
            # dedup shuffle
            seen_delta = (
                scheduled.join(retry, on="canon_url", how="left_anti")
                .select("canon_url", "host", "depth")
                .withColumn("status_wave", F.lit(wave))
                .unionByName(
                    denied.select("canon_url", "host", "depth").withColumn(
                        "status_wave", F.lit(wave)
                    )
                )
                .dropDuplicates(["canon_url"])
                .localCheckpoint(eager=True)
            )
            records = (
                docs.select(
                    "canon_url", "host", "depth", "wave",
                    F.col("status").alias("status"),
                )
                .unionByName(
                    missed_final.select("canon_url", "host", "depth")
                    .withColumn("wave", F.lit(wave))
                    .withColumn("status", F.lit("fetch_miss"))
                )
                .unionByName(
                    retry.select("canon_url", "host", "depth")
                    .withColumn("wave", F.lit(wave))
                    .withColumn("status", F.lit("retry"))
                )
                .unionByName(
                    denied.select("canon_url", "host", "depth")
                    .withColumn("wave", F.lit(wave))
                    .withColumn("status", F.lit("robots_denied"))
                )
            )
            # records/chunks stay LAZY: their lineage roots at the routed
            # and docs local checkpoints, so consuming them later replays
            # cheap filters/unions, never the convert UDF or corpus scan
            all_records.append(records)
            all_chunks.append(chunks)

            # per-partition lineage metrics
            metrics = (
                docs.groupBy(F.spark_partition_id().alias("partition_id"), "status")
                .agg(F.count("*").alias("rows"))
                .withColumn("wave", F.lit(wave))
            )

            # next-wave state (materialize BEFORE mutating seen)
            seen_next = _compact_seen(
                seen.unionByName(seen_delta.select(seen.columns))
                if seen is not None
                else seen_delta
            )
            # frontier-bloat guard: drop rediscovered URLs that will STILL
            # be fresh when the next wave runs (TTL mode re-admits expired)
            dedup_seen = (
                seen_next.filter(
                    F.col("status_wave") > (wave + 1) - cfg.ttl_waves
                )
                if use_ttl
                else seen_next
            )

            requeued = retry.select(
                "canon_url", "host", "depth", "priority",
                (F.col("attempt") + 1).alias("attempt"),
            )
            # a URL that is both deferred (or requeued) and rediscovered
            # keeps its DEFERRED values (simulator parity: deferred wins
            # over rediscovery), hence the anti-joins — cheap in default
            # mode (both right sides wave-bounded, AQE broadcasts them)
            disc_new = discovered.join(
                dedup_seen, on="canon_url", how="left_anti"
            )
            if cfg.lazy_deferred:
                # lazy mode: the tail side of the rediscovery dedup is
                # the FULL standing tail — a direct left_anti would
                # shuffle it every wave. Invert: stream the tail once
                # through an inner join against this wave's (small)
                # discovered key set — AQE broadcasts the keys, the
                # tail is scanned but never exchanged — then anti-join
                # the (tiny) hit set. Exact: hits = discovered ∩ tail.
                # At warehouse scale the scan itself prunes via parquet
                # bloom/column stats on canon_url.
                tail_hits = deferred.select("canon_url").join(
                    disc_new.select("canon_url").distinct(),
                    on="canon_url",
                    how="inner",
                )
                disc_new = disc_new.join(
                    tail_hits, on="canon_url", how="left_anti"
                )
            else:
                disc_new = disc_new.join(
                    deferred, on="canon_url", how="left_anti"
                )
            fresh_discovered = disc_new.join(
                requeued, on="canon_url", how="left_anti"
            ).select("canon_url", "host", "depth", "priority", "attempt")
            new_frontier = requeued.unionByName(fresh_discovered)
            if not cfg.lazy_deferred:
                # default mode: the tail rides the frontier itself
                new_frontier = deferred.select(
                    "canon_url", "host", "depth", "priority", "attempt"
                ).unionByName(new_frontier)
            new_frontier = new_frontier.groupBy("canon_url", "host").agg(
                F.min("depth").alias("depth"),
                F.max("priority").alias("priority"),
                F.max("attempt").alias("attempt"),
            )

            # incremental prefilter update: only this wave's delta goes
            # into the filter (a full-seen rebuild would rescan 10^10 keys
            # every wave) — bloom mode ORs its partial bitsets into the
            # shards, TTL mode inserts its keys into the cuckoo (one
            # wave's schedule, bounded by hosts*budget; windowed state is
            # bounded by ttl_waves * budget regardless). The keys are
            # collected by the wave commit, beside the checkpoint writes;
            # the filter itself is updated after it, on this thread.
            if use_ttl:
                delta_keys = self._cuckoo_keys(seen_delta)
            else:
                delta_keys = self._bloom_partials(seen_delta)

            _t = _tick(f"w{wave} plan build", _t)
            delta_rows = self._write_wave(
                wave, new_frontier, seen_delta, docs, chunks, metrics, delta_keys
            )
            _t = _tick(f"w{wave} write_wave", _t)

            if self.checkpoint_dir is not None:
                # cut lineage: reload state from the checkpoint we just
                # wrote. seen is rebuilt FLAT from every delta file (one
                # union + one groupBy) rather than chaining a groupBy per
                # wave — the chained form recomputes the whole history
                # through W nested aggregations at wave W (O(W^2) over a
                # crawl); the flat form is O(W) cheap delta scans with
                # constant plan depth. (At warehouse scale seen is an
                # Iceberg table MERGEd per wave.)
                frontier = self.spark.read.schema(FRONTIER_SCHEMA).parquet(
                    self._ckpt_path(wave, "frontier_next")
                )
                seen = _compact_seen(
                    self.spark.read.schema(SEEN_SCHEMA).parquet(
                        *self._seen_sources(wave)
                    )
                )
                if (
                    cfg.seen_compact_every is not None
                    and (wave + 1) % cfg.seen_compact_every == 0
                ):
                    # additive compaction snapshot: future rebuilds read
                    # this + later deltas (<= compact_every + 1 dirs)
                    # instead of every delta since wave 0
                    cpath = self._ckpt_path(wave, "seen_compact")
                    seen.write.mode("overwrite").parquet(cpath)
                    seen = self.spark.read.schema(SEEN_SCHEMA).parquet(cpath)
            else:
                # fuse next-wave frontier + seen into ONE materialization:
                # harmonize schemas, tag, localCheckpoint once, split back
                state = (
                    new_frontier.withColumn(
                        "status_wave", F.lit(None).cast("int")
                    ).withColumn("_tag", F.lit("f"))
                ).unionByName(
                    seen_next.withColumn("priority", F.lit(None).cast("double"))
                    .withColumn("attempt", F.lit(None).cast("int"))
                    .withColumn("_tag", F.lit("s"))
                ).localCheckpoint(eager=True)
                _t = _tick(f"w{wave} state lc", _t)
                frontier = state.filter(F.col("_tag") == "f").select(
                    "canon_url", "host", "depth", "priority", "attempt"
                )
                seen = state.filter(F.col("_tag") == "s").select(
                    "canon_url", "host", "depth", "status_wave"
                )

            if use_ttl:
                cuckoo.add_sharded_pairs(*_unpack_cuckoo_pairs(delta_rows))
            else:
                bloom = self._build_bloom(delta_rows, into=bloom)
            _t = _tick(f"w{wave} bloom build", _t)

        if all_records:
            trace = all_records[0]
            for r in all_records[1:]:
                trace = trace.unionByName(r)
            chunks_all = all_chunks[0]
            for c in all_chunks[1:]:
                chunks_all = chunks_all.unionByName(c)
        else:
            trace = self.spark.createDataFrame(
                [], "canon_url string, host string, depth int, wave int, status string"
            )
            chunks_all = self.spark.createDataFrame(
                [], "canon_url string, wave int, pos int, content string"
            )
        return {"trace": trace, "seen": seen, "chunks": chunks_all}

    def _build_cuckoo(self, df: DataFrame, cuckoo) -> None:
        """Resume-path re-seed, executor-side (round-5 verdict item 3):
        the still-fresh seen window is repartitioned by cuckoo shard id,
        each task builds its shards' WHOLE tables with the same bulk
        insert the driver uses, and the driver ADOPTS the returned
        tables — so the driver receives num_shards fixed-size arrays
        (the `_build_bloom` shape) instead of O(|window|) 10-byte pairs
        plus a serial ~133k keys/s insert replay. Per-wave delta
        inserts/deletes stay pair-based (bounded by hosts*budget)."""
        cfg = self.config
        nshards = cuckoo.num_shards
        nb = cuckoo.nbuckets
        cap = -(-cfg.cuckoo_capacity // cfg.cuckoo_shards)

        @pandas_udf("long")
        def _sid_of(urls: pd.Series) -> pd.Series:
            from .cuckoo import ShardedCuckoo  # noqa: PLC0415
            from .hashing import url_hash64_vec  # noqa: PLC0415

            keys = url_hash64_vec(urls.fillna("").tolist())
            return pd.Series(ShardedCuckoo.shard_of_keys(keys, nshards))

        def build(iterator):
            import numpy as np  # noqa: PLC0415

            from .cuckoo import CuckooFilter, ShardedCuckoo  # noqa: PLC0415
            from .hashing import url_hash64_vec  # noqa: PLC0415

            tables: dict = {}
            for pdf in iterator:
                if len(pdf) == 0:
                    continue
                keys = url_hash64_vec(pdf["canon_url"].fillna("").tolist())
                sid = ShardedCuckoo.shard_of_keys(keys, nshards)
                idx, fp = CuckooFilter.pairs_for_keys(keys, nb)
                for s in np.unique(sid):
                    t = tables.get(int(s))
                    if t is None:
                        t = tables[int(s)] = CuckooFilter(cap)
                        if t.nbuckets != nb:  # config drift would make
                            # the adopted table mis-indexed (silent
                            # false negatives); fail loudly, -O-proof
                            raise ValueError(
                                "cuckoo shard geometry drift: "
                                f"{t.nbuckets} != {nb}"
                            )
                    m = sid == s
                    t.add_pairs(idx[m], fp[m])
            rows = []
            for s, t in tables.items():
                fail = np.array(sorted(t.failed), dtype=np.uint64)
                rows.append(
                    {
                        "shard": s,
                        "tbl": t.table.tobytes(),
                        "cnt": t.count,
                        "failed": fail.tobytes(),
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

        rows = (
            df.select("canon_url")
            .withColumn("_sid", _sid_of(F.col("canon_url")))
            .repartition(nshards, "_sid")
            .mapInPandas(build, "shard int, tbl binary, cnt long, failed binary")
            .collect()
        )
        import numpy as np

        for row in rows:
            sh = cuckoo.shards[int(row["shard"])]
            # adoption, not merge: cuckoo tables don't OR — valid only
            # into a fresh filter (the resume path always is); a loud
            # -O-proof check, since overwriting a live shard would
            # silently drop its keys (false negatives in the prefilter)
            if sh.count != 0:
                raise ValueError(
                    "executor cuckoo build into non-empty shard"
                )
            sh.table = np.frombuffer(row["tbl"], dtype=np.uint16).reshape(
                sh.nbuckets, -1
            ).copy()
            sh.count = int(row["cnt"])
            flat = np.frombuffer(row["failed"], dtype=np.uint64)
            sh.failed = {
                (int(flat[i]), int(flat[i + 1])) for i in range(0, len(flat), 2)
            }

    def _cuckoo_pairs(self, df: DataFrame):
        """(shard, index1, fingerprint) arrays for df.canon_url."""
        return _unpack_cuckoo_pairs(self._cuckoo_keys(df).collect())

    def _cuckoo_keys(self, df: DataFrame) -> DataFrame:
        """Plan of the packed (shard, index1, fingerprint) rows, computed
        EXECUTOR-side (the bloom pattern, round-2 verdict item): each
        partition hashes its own URLs via mapInPandas and ships one packed
        binary row — 10 bytes/key — so no raw URL string ever crosses to
        the driver. At 10^10-frontier scale the per-wave delta is
        hosts*budget keys; 10 bytes each keeps the driver merge trivial
        (the cuckoo itself shards like ShardedBloom when one table won't
        fit — see BENCH.md shard math)."""
        from .cuckoo import CuckooFilter as _CF  # noqa: PLC0415

        nshards = self.config.cuckoo_shards
        nb = _CF.nbuckets_for(-(-self.config.cuckoo_capacity // nshards))

        def pack(iterator):
            import numpy as np  # noqa: PLC0415

            from .cuckoo import ShardedCuckoo  # noqa: PLC0415
            from .hashing import url_hash64_vec  # noqa: PLC0415

            for pdf in iterator:
                if len(pdf) == 0:
                    continue
                keys = url_hash64_vec(pdf["canon_url"].fillna("").tolist())
                sid, idxs, fps = ShardedCuckoo.sharded_pairs_for_keys(
                    keys, nshards, nb
                )
                yield pd.DataFrame(
                    {
                        "sids": [sid.astype(np.int16).tobytes()],
                        "idxs": [idxs.tobytes()],
                        "fps": [fps.tobytes()],
                    }
                )

        return df.select("canon_url").mapInPandas(
            pack, "sids binary, idxs binary, fps binary"
        )

    def _bloom_partials(self, seen: DataFrame) -> DataFrame:
        """Plan of a distributed-style build: per-partition partial
        bitsets, one (shard, bits) row each, for ``_build_bloom`` to merge.

        Uses mapInPandas so each partition hashes its own rows (the cluster
        pattern); the driver only ORs num_shards small bitsets. With
        ``into``, ``_build_bloom`` ORs them into an existing filter
        (incremental per-wave update).
        """
        cfg = self.config
        num_shards = cfg.bloom_shards
        cap, fpr = cfg.bloom_capacity_per_shard, cfg.bloom_fpr

        def build_partial(iterator):
            from .bloom import partial_bitsets_from_keys  # noqa: PLC0415
            from .bloom import ShardedBloom as SB  # noqa: PLC0415
            from .hashing import url_hash64_vec  # noqa: PLC0415

            for pdf in iterator:
                if len(pdf) == 0:
                    continue
                keys = url_hash64_vec(pdf["canon_url"].fillna("").tolist())
                sid = SB.shard_of(pdf["host"].fillna("").tolist(), num_shards)
                partial = partial_bitsets_from_keys(keys, sid, num_shards, cap, fpr)
                yield pd.DataFrame(
                    {
                        "shard": list(partial.keys()),
                        "bits": list(partial.values()),
                    }
                )

        # coalesce first: partial bitsets are num_shards * m_bits/8 bytes PER
        # INPUT PARTITION; collecting 64 partitions x 8 shards x 160 KB would
        # ship ~80 MB to the driver each wave for no benefit
        return (
            seen.select("canon_url", "host")
            .coalesce(num_shards)
            .mapInPandas(build_partial, "shard int, bits binary")
        )

    def _build_bloom(
        self, partials: list, into: Optional[ShardedBloom] = None
    ) -> ShardedBloom:
        """OR the collected ``_bloom_partials`` rows into a new filter, or
        into ``into`` (incremental per-wave update)."""
        import numpy as np

        cfg = self.config
        sb = into
        if sb is None:
            sb = ShardedBloom(
                cfg.bloom_shards, cfg.bloom_capacity_per_shard, cfg.bloom_fpr
            )
        for row in partials:
            sb.shards[row["shard"]].bits |= np.frombuffer(
                row["bits"], dtype=np.uint64
            )
        return sb


def _unpack_cuckoo_pairs(rows: list):
    """(shard, index1, fingerprint) arrays from collected
    ``CrawlEngine._cuckoo_keys`` rows."""
    import numpy as np

    if not rows:
        return (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.uint64),
            np.empty(0, dtype=np.uint16),
        )
    sids = np.concatenate(
        [np.frombuffer(r["sids"], dtype=np.int16) for r in rows]
    ).astype(np.int64)
    idxs = np.concatenate([np.frombuffer(r["idxs"], dtype=np.uint64) for r in rows])
    fps = np.concatenate([np.frombuffer(r["fps"], dtype=np.uint16) for r in rows])
    return sids, idxs, fps
