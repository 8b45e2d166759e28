"""The checkpointed wave commit and the per-wave prefilter broadcasts.

A wave's five checkpoint writes and its prefilter delta-key collect run
as concurrent Spark jobs from commit threads; MANIFEST.json is written
only after all of them have finished and succeeded. These tests pin that
protocol (a failed write leaves no manifest, raises only once every job
has ended, and resume replays the wave), the commit threads' job group,
the schemas the state read-backs declare, and the release of each wave's
prefilter broadcasts.
"""

import os
import threading
import time

import pytest
from pyspark import SparkContext
from pyspark.broadcast import Broadcast
from pyspark.sql.readwriter import DataFrameWriter

from markdown_lab_spark.corpus.generator import CorpusSpec, generate_corpus
from markdown_lab_spark.frontier import crawler
from markdown_lab_spark.frontier.crawler import (
    FRONTIER_SCHEMA,
    SEEN_SCHEMA,
    CrawlConfig,
    CrawlEngine,
)
from markdown_lab_spark.frontier.tail import RANKED_SCHEMA, TOMBS_SCHEMA


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(CorpusSpec(hosts=4, pages_per_host=25, hot_fraction=0.4))


@pytest.fixture(scope="module")
def pages_df(spark, corpus, tmp_path_factory):
    from markdown_lab_spark.corpus.generator import write_corpus_parquet

    path = str(tmp_path_factory.mktemp("corpus") / "pages.parquet")
    write_corpus_parquet(corpus, path)
    return spark.read.parquet(path)


def _cfg(**kw):
    return CrawlConfig(**{"rps": 1.0, "wave_seconds": 5, "max_waves": 4, **kw})


def _trace(out):
    return {
        (r["canon_url"], r["wave"], r["depth"], r["status"])
        for r in out["trace"].collect()
    }


def _seen(out):
    return {r["canon_url"] for r in out["seen"].select("canon_url").collect()}


def _patch_write(monkeypatch, suffix=None, action=None):
    """Record (path, group, start, end) of every checkpoint write; the
    write whose path ends with ``suffix`` calls ``action`` instead."""
    orig = DataFrameWriter.parquet
    calls = []

    def parquet(self, path, *args, **kwargs):
        sc = SparkContext.getOrCreate()
        rec = [path, sc.getLocalProperty("spark.jobGroup.id"), time.monotonic(), None]
        calls.append(rec)
        try:
            if suffix is not None and path.endswith(suffix):
                return action()
            return orig(self, path, *args, **kwargs)
        finally:
            rec[3] = time.monotonic()

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return calls


def _active_jobs(spark):
    """Active job ids once every scheduler event so far has reached the
    status store (it is updated asynchronously)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark.sparkContext.statusTracker().getActiveJobsIds()


def _clear_job_group(sc):
    for key in ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def test_failed_commit_write_leaves_no_manifest_and_resume_replays(
    spark, corpus, pages_df, tmp_path, monkeypatch
):
    cfg = _cfg(ttl_waves=2)
    full = CrawlEngine(
        spark, pages_df, cfg, checkpoint_dir=str(tmp_path / "full")
    ).crawl(corpus.seeds)
    full_trace, full_seen = _trace(full), _seen(full)

    boom = RuntimeError("chunks write failed")

    def fail():
        raise boom

    # fails at once, while the wave's other commit jobs are still running
    calls = _patch_write(monkeypatch, os.path.join("wave=1", "chunks"), fail)
    part = str(tmp_path / "part")
    with pytest.raises(RuntimeError) as info:
        CrawlEngine(spark, pages_df, cfg, checkpoint_dir=part).crawl(corpus.seeds)
    raised_at = time.monotonic()
    assert info.value is boom
    # raised only after every commit job ended, and those jobs completed
    assert _active_jobs(spark) == []
    wave1 = [c for c in calls if f"{os.sep}wave=1{os.sep}" in c[0]]
    assert len(wave1) == 5
    assert all(end is not None and end <= raised_at for _p, _g, _s, end in wave1)
    for name in ("frontier_next", "seen_delta", "docs", "metrics"):
        assert os.path.exists(os.path.join(part, "wave=1", name, "_SUCCESS"))
    assert not os.path.exists(os.path.join(part, "wave=1", "MANIFEST.json"))
    monkeypatch.undo()

    engine = CrawlEngine(spark, pages_df, cfg, checkpoint_dir=part)
    assert engine.complete_waves() == [0]
    resumed = engine.crawl(corpus.seeds, resume=True)
    assert {t for t in full_trace if t[1] < 1} | _trace(resumed) == full_trace
    assert _seen(resumed) == full_seen


def test_commit_jobs_carry_the_callers_job_group(
    spark, corpus, pages_df, tmp_path, monkeypatch
):
    """perfbench's crawl.jobs_per_wave counts the jobs of one job group,
    so the commit threads' jobs must land in the caller's group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    calls = _patch_write(monkeypatch)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("commit-group", "wave commit")
    try:
        CrawlEngine(
            spark, pages_df, _cfg(max_waves=2), checkpoint_dir=str(tmp_path / "g")
        ).crawl(corpus.seeds)
    finally:
        _clear_job_group(sc)
    # five writes per wave, each on a commit thread that inherited the group
    assert len(calls) == 10
    assert all(c[1] == "commit-group" for c in calls)
    # every job of the crawl, the commit threads' writes included, is in it
    _active_jobs(spark)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert tracker.getJobIdsForGroup("commit-group")


def test_cancel_job_group_reaches_commit_threads(
    spark, corpus, pages_df, tmp_path, monkeypatch
):
    sc = spark.sparkContext
    marker = str(tmp_path / "slow-task-running")

    def slow_task(x):
        open(marker, "w").close()
        time.sleep(120)
        return x

    def slow_write():  # a Spark job started from a commit thread
        sc.parallelize(range(2), 2).map(slow_task).count()

    _patch_write(monkeypatch, os.path.join("wave=1", "docs"), slow_write)

    def cancel():
        deadline = time.time() + 120
        while not os.path.exists(marker) and time.time() < deadline:
            time.sleep(0.1)
        sc.cancelJobGroup("cancel-group")

    canceller = threading.Thread(target=cancel)
    canceller.start()
    ckpt = str(tmp_path / "c")
    sc.setJobGroup("cancel-group", "cancelled commit")
    t0 = time.time()
    try:
        with pytest.raises(Exception, match="(?i)cancel"):
            CrawlEngine(spark, pages_df, _cfg(), checkpoint_dir=ckpt).crawl(
                corpus.seeds
            )
    finally:
        _clear_job_group(sc)
        canceller.join(timeout=180)
    assert not canceller.is_alive()
    assert os.path.exists(marker)
    assert time.time() - t0 < 110  # the 120 s tasks did not run to the end
    assert _active_jobs(spark) == []
    assert not os.path.exists(os.path.join(ckpt, "wave=1", "MANIFEST.json"))


def test_written_state_schemas_match_declared(spark, corpus, pages_df, tmp_path):
    """Each checkpoint output the engine reads back with a declared schema
    is written with exactly that schema, so a renamed or retyped column
    fails here instead of reading back as nulls."""
    ckpt = str(tmp_path / "s")
    CrawlEngine(
        spark,
        pages_df,
        _cfg(
            lazy_deferred=True,
            seen_compact_every=1,
            tail_compact_every=1,  # writes a tail_base within 4 waves
        ),
        checkpoint_dir=ckpt,
    ).crawl(corpus.seeds)
    base_wave = min(
        w
        for w in range(4)
        if os.path.exists(os.path.join(ckpt, f"wave={w}", "tail_base"))
    )
    declared = {
        "frontier_next": (1, FRONTIER_SCHEMA),
        "seen_delta": (1, SEEN_SCHEMA),
        "seen_compact": (1, SEEN_SCHEMA),
        # the compacting wave's delta and tombstones hold rows
        "tail_delta": (base_wave, RANKED_SCHEMA),
        "tail_tombs": (base_wave, TOMBS_SCHEMA),
        "tail_base": (base_wave, RANKED_SCHEMA),
    }
    for name, (wave, schema) in declared.items():
        path = os.path.join(ckpt, f"wave={wave}", name)
        written = spark.read.parquet(path).schema
        assert [(f.name, f.dataType) for f in written] == [
            (f.name, f.dataType) for f in schema
        ], name


def _count_probe_broadcasts(monkeypatch, probe):
    """(created, live_at_probe): broadcasts registered inside
    ``crawler.<probe>``, and how many of them were not yet destroyed when
    each later probe call started."""
    created, released, live_at_probe = [], set(), []
    orig_probe = getattr(crawler, probe)
    orig_broadcast = SparkContext.broadcast
    orig_destroy = Broadcast.destroy

    def recording_broadcast(self, value):
        bc = orig_broadcast(self, value)
        created.append(bc)
        return bc

    def traced_probe(*args, **kwargs):
        live_at_probe.append(sum(id(b) not in released for b in created))
        monkeypatch.setattr(SparkContext, "broadcast", recording_broadcast)
        try:
            return orig_probe(*args, **kwargs)
        finally:
            monkeypatch.setattr(SparkContext, "broadcast", orig_broadcast)

    def recording_destroy(self, blocking=False):
        released.add(id(self))
        return orig_destroy(self, blocking)

    monkeypatch.setattr(crawler, probe, traced_probe)
    monkeypatch.setattr(Broadcast, "destroy", recording_destroy)
    return created, released, live_at_probe


@pytest.mark.parametrize(
    "probe,ttl_waves,bloom_max_bytes,per_wave",
    [
        ("cuckoo_antijoin", 2, None, 1),
        ("bloom_antijoin", None, None, 1),
        ("bloom_antijoin", None, 0, 8),  # one broadcast per shard
    ],
    ids=["ttl", "bloom", "bloom-per-shard"],
)
def test_prefilter_broadcasts_released_every_wave(
    spark, corpus, pages_df, monkeypatch, probe, ttl_waves, bloom_max_bytes,
    per_wave,
):
    if bloom_max_bytes is not None:
        monkeypatch.setattr(crawler, "BLOOM_BROADCAST_MAX_BYTES", bloom_max_bytes)
    created, released, live_at_probe = _count_probe_broadcasts(monkeypatch, probe)
    out = CrawlEngine(spark, pages_df, _cfg(ttl_waves=ttl_waves)).crawl(
        corpus.seeds
    )
    assert {t[1] for t in _trace(out)} == {0, 1, 2, 3}
    # waves 1-3 probe a seen set; no wave's copies outlive it
    assert len(created) == 3 * per_wave
    assert live_at_probe == [0, 0, 0, 0]
    assert {id(b) for b in created} <= released
