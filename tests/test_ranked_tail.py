"""lazy_deferred mode (frontier/tail.py): the standing deferred tail
leaves the per-wave route/state plans as a rank-materialized component
set — per-wave cost is a row-group-pruned heads read plus two small
appends (tombstones + ranked delta), never a full-tail window or
rewrite. Output must stay EXACTLY equal to the
default path: heads_superset returns a superset of the tail's true
per-host top-B, which schedule_wave then reduces exactly — including
under a global wave_fetch_cap and across checkpoint resume / mode
switches.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from markdown_lab_spark.frontier.crawler import CrawlConfig, CrawlEngine
from markdown_lab_spark.frontier.politeness import order_cols
from markdown_lab_spark.frontier.tail import RankedTail


def _page(title, links):
    anchors = "".join(f'<a href="{u}">{u}</a>' for u in links)
    return (
        f"<html><head><title>{title}</title></head><body>"
        f"<p>{title} body text</p>{anchors}</body></html>"
    ).encode()


@pytest.fixture(scope="module")
def deep_pages(spark):
    """A corpus whose frontier is much deeper than the per-wave budget:
    one mega host with a 60-page hub fanout (budget will be 2), two
    small hosts, and cross links so discovery keeps feeding the tail."""
    rows = {}
    hub_links = [f"https://mega.test/p{i}" for i in range(60)]
    rows["https://mega.test/hub"] = _page("hub", hub_links)
    for i in range(60):
        nxt = [f"https://mega.test/p{(i + 7) % 60}",
               f"https://small{i % 2}.test/s{i % 5}"]
        rows[f"https://mega.test/p{i}"] = _page(f"p{i}", nxt)
    for h in range(2):
        for s in range(5):
            rows[f"https://small{h}.test/s{s}"] = _page(
                f"s{h}-{s}", [f"https://small{h}.test/s{(s + 1) % 5}"]
            )
    return spark.createDataFrame(
        [(u, b) for u, b in rows.items()], "url string, html binary"
    )


SEEDS = ["https://mega.test/hub", "https://small0.test/s0"]


def _trace_set(out):
    return sorted(
        (r["canon_url"], r["wave"], r["depth"], r["status"])
        for r in out["trace"].collect()
    )


def _crawl(spark, pages, ckpt=None, **kw):
    cfg = CrawlConfig(rps=0.4, wave_seconds=5, max_waves=6, **kw)
    return CrawlEngine(spark, pages, cfg, checkpoint_dir=ckpt).crawl(SEEDS)


@pytest.fixture(scope="module")
def base_trace(spark, deep_pages):
    """One default-mode crawl shared by the equivalence tests."""
    return _trace_set(_crawl(spark, deep_pages))


# ---------------------------------------------------------------- unit


def _frontier_df(spark, rows):
    return spark.createDataFrame(
        rows, "canon_url string, host string, depth int, "
        "priority double, attempt int"
    )


def _true_heads(df, budget):
    """The naive exact per-host top-budget (the oracle)."""
    w = Window.partitionBy("host").orderBy(*order_cols())
    return (
        df.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= budget)
        .drop("_r")
    )


def _keys(df):
    return sorted(r["canon_url"] for r in df.select("canon_url").collect())


def test_ranked_tail_unit_invariants(spark, tmp_path):
    """heads_superset ⊇ true top-B at every wave; tombstoned rows leave
    all_rows; live_rows bookkeeping is exact; compaction and restore
    preserve the live set."""
    B = 2
    rows = [
        (f"https://m.test/p{i}", "m.test", (i * 3) % 5, float(i % 4), 0)
        for i in range(40)
    ] + [
        (f"https://s.test/q{i}", "s.test", i % 3, 1.0, 0) for i in range(5)
    ]
    tail0 = _frontier_df(spark, rows)
    rt = RankedTail(
        spark, B, salt_n=4, compact_every=3,
        checkpoint_dir=str(tmp_path / "rt"),
    )
    rt.seed(0, tail0)
    assert rt.live_rows == 45 and not rt.is_empty()

    live_oracle = tail0
    for wave in range(1, 6):
        heads = rt.heads_superset(wave)
        true = _true_heads(live_oracle, B)
        sup, exact = set(_keys(heads)), set(_keys(true))
        assert exact <= sup, f"wave {wave}: heads superset violated"
        # schedule the TRUE heads (what schedule_wave would reduce to)
        sched = true
        inserts = _frontier_df(
            spark,
            [(f"https://m.test/n{wave}-{j}", "m.test", 0, 9.0, 0)
             for j in range(3)],
        )
        before = rt.live_rows
        rt.apply_wave(wave, sched, inserts)
        assert rt.live_rows == before - sched.count() + 3
        live_oracle = (
            live_oracle.join(
                sched.select("canon_url"), on="canon_url", how="left_anti"
            ).unionByName(inserts)
        ).localCheckpoint(eager=True)
        assert sorted(_keys(rt.all_rows())) == sorted(_keys(live_oracle))

    # a compaction ran (compact_every=3); force another and recheck
    rt.compact(6)
    assert rt.deltas == [] and rt.tombs == []
    assert sorted(_keys(rt.all_rows())) == sorted(_keys(live_oracle))

    # restore from the parquet components alone
    restored = RankedTail.restore(
        spark, str(tmp_path / "rt"), list(range(0, 7)), B, salt_n=4
    )
    assert restored.live_rows == rt.live_rows
    assert sorted(_keys(restored.all_rows())) == sorted(_keys(live_oracle))


def test_ranked_tail_reinsert_after_tombstone(spark):
    """Wave-scoped tombstones: a URL scheduled at wave w then
    re-inserted at wave w stays live (TTL re-crawl / retry shape)."""
    rt = RankedTail(spark, 2, salt_n=2)
    base = _frontier_df(
        spark, [(f"https://h.test/a{i}", "h.test", 0, 0.0, 0)
                for i in range(4)]
    )
    rt.seed(0, base)
    victim = base.filter(F.col("canon_url") == "https://h.test/a0")
    rt.apply_wave(1, victim, victim.withColumn("attempt", F.lit(1)))
    live = {r["canon_url"]: r["attempt"] for r in rt.all_rows().collect()}
    assert live["https://h.test/a0"] == 1  # the re-insert survived
    assert rt.live_rows == 4


def test_ranked_tail_heads_read_pushes_rank_filter(spark, tmp_path):
    """Scale evidence: the heads read is `_rk <= bound` over the sorted
    parquet components, and the bound REACHES the scan as a pushed
    filter — at 10^10 tail rows the read prunes row groups by min/max
    stats instead of scanning the tail. The full-tail window is gone."""
    from markdown_lab_spark.plans.checks import formatted_plan

    rt = RankedTail(spark, 2, salt_n=4, checkpoint_dir=str(tmp_path / "pp"))
    rt.seed(
        0,
        _frontier_df(
            spark,
            [(f"https://h.test/p{i}", "h.test", i % 4, 0.0, 0)
             for i in range(50)],
        ),
    )
    plan = formatted_plan(rt.heads_superset(3))
    assert "PushedFilters: [IsNotNull(_rk), LessThanOrEqual(_rk," in plan
    assert "Window" not in plan


# -------------------------------------------------------------- engine


def test_ranked_tail_trace_equals_default(spark, deep_pages, base_trace, tmp_path):
    out = _crawl(
        spark, deep_pages, ckpt=str(tmp_path / "rk"),
        lazy_deferred=True,
    )
    assert _trace_set(out) == base_trace


def test_ranked_tail_compact_every_wave(spark, deep_pages, base_trace):
    """compact_every=1 exercises the rewrite path each wave (and the
    no-checkpoint localCheckpoint storage); output unchanged."""
    out = _crawl(
        spark, deep_pages,
        lazy_deferred=True, tail_compact_every=1,
    )
    assert _trace_set(out) == base_trace


def test_ranked_tail_with_wave_fetch_cap(spark, deep_pages, tmp_path):
    base = _crawl(spark, deep_pages, wave_fetch_cap=3)
    out = _crawl(
        spark, deep_pages, ckpt=str(tmp_path / "rkc"),
        lazy_deferred=True, wave_fetch_cap=3,
    )
    assert _trace_set(out) == _trace_set(base)


def _split_crawl(spark, pages, ckpt, first, then):
    """Crawl waves 0-2 under config ``first``, then resume the same
    checkpoint for waves 3-5 under config ``then``; returns the resumed
    crawl's output."""
    CrawlEngine(
        spark, pages,
        CrawlConfig(rps=0.4, wave_seconds=5, max_waves=3, **first),
        checkpoint_dir=ckpt,
    ).crawl(SEEDS)
    return CrawlEngine(
        spark, pages,
        CrawlConfig(rps=0.4, wave_seconds=5, max_waves=6, **then),
        checkpoint_dir=ckpt,
    ).crawl(SEEDS, resume=True)


def _stitched(full_trace, resumed):
    """The uninterrupted crawl's waves 0-2 plus the resumed waves."""
    return sorted([t for t in full_trace if t[1] < 3] + _trace_set(resumed))


def test_ranked_tail_resume_identical(spark, deep_pages, tmp_path):
    full = _crawl(
        spark, deep_pages, ckpt=str(tmp_path / "rf"),
        lazy_deferred=True,
    )
    full_trace = _trace_set(full)
    lazy = {"lazy_deferred": True}
    resumed = _split_crawl(spark, deep_pages, str(tmp_path / "rp"), lazy, lazy)
    assert _stitched(full_trace, resumed) == full_trace


@pytest.mark.parametrize(
    "first, then",
    [({"lazy_deferred": True}, {}), ({}, {"lazy_deferred": True})],
    ids=["ranked_to_default", "default_to_ranked"],
)
def test_mode_switch_resume(spark, deep_pages, base_trace, tmp_path, first, then):
    """Resuming under the other mode equals the uninterrupted crawl.
    ranked→default folds the tail components back into the frontier
    (RankedTail.restore → all_rows); default→ranked re-routes the tail
    riding frontier_next once, and its unscheduled rows become ranked
    inserts."""
    resumed = _split_crawl(spark, deep_pages, str(tmp_path / "sw"), first, then)
    assert _stitched(base_trace, resumed) == base_trace


def test_lazy_frontier_checkpoint_excludes_tail(spark, deep_pages, tmp_path):
    """The win being claimed: frontier_next holds only NEW candidates;
    the ranked tail components hold the rest, and they are disjoint."""
    ck = str(tmp_path / "lzf")
    cfg = CrawlConfig(rps=0.4, wave_seconds=5, max_waves=2, lazy_deferred=True)
    CrawlEngine(spark, deep_pages, cfg, checkpoint_dir=ck).crawl(SEEDS)
    fr = spark.read.parquet(f"{ck}/wave=1/frontier_next")
    tail = RankedTail.restore(spark, ck, [0, 1], cfg.budget).all_rows()
    assert tail is not None and tail.count() > 0, (
        "deep corpus must produce a standing tail"
    )
    assert fr.join(tail, on="canon_url", how="inner").count() == 0
    # deep frontier: the routed checkpoint's frontier is much smaller
    # than the tail it no longer carries
    assert fr.count() < tail.count()


def test_resume_refuses_flat_deferred_snapshot(spark, deep_pages, tmp_path):
    """A checkpoint whose last manifested wave holds the old flat
    ``deferred`` tail snapshot must not resume with that tail dropped."""
    ck = str(tmp_path / "old")
    cfg = CrawlConfig(rps=0.4, wave_seconds=5, max_waves=2, lazy_deferred=True)
    eng = CrawlEngine(spark, deep_pages, cfg, checkpoint_dir=ck)
    eng.crawl(SEEDS)
    last = eng.complete_waves()[-1]
    spark.read.parquet(f"{ck}/wave={last}/frontier_next").write.parquet(
        f"{ck}/wave={last}/deferred"
    )
    with pytest.raises(ValueError, match="'deferred' tail snapshot"):
        CrawlEngine(spark, deep_pages, cfg, checkpoint_dir=ck).crawl(
            SEEDS, resume=True
        )


def test_ranked_tail_crash_resume_ignores_unmanifested_wave(
    spark, deep_pages, tmp_path
):
    """Crash drill: tail components written by a wave that died before
    its MANIFEST commit are ignored on resume (restore consults only
    manifested waves) and overwritten on replay — resume output equals
    the uninterrupted crawl."""
    import os
    import shutil

    full = _crawl(
        spark, deep_pages, ckpt=str(tmp_path / "cf"),
        lazy_deferred=True,
    )
    full_trace = _trace_set(full)

    part = str(tmp_path / "cp")
    cfg_short = CrawlConfig(
        rps=0.4, wave_seconds=5, max_waves=3,
        lazy_deferred=True,
    )
    CrawlEngine(spark, deep_pages, cfg_short, checkpoint_dir=part).crawl(SEEDS)

    # simulate a crash mid-wave-3: tail artifacts landed, MANIFEST didn't
    crash = os.path.join(part, "wave=3")
    os.makedirs(crash, exist_ok=True)
    poison = _frontier_df(
        spark, [("https://poison.test/x", "poison.test", 0, 99.0, 0)]
    )
    from markdown_lab_spark.frontier.tail import _ranked

    for name in ("tail_delta", "tail_tombs"):
        df = poison.select("canon_url") if name == "tail_tombs" else _ranked(
            poison, 2
        )
        df.write.mode("overwrite").parquet(os.path.join(crash, name))
    assert not os.path.exists(os.path.join(crash, "MANIFEST.json"))

    eng = CrawlEngine(
        spark, deep_pages,
        CrawlConfig(
            rps=0.4, wave_seconds=5, max_waves=6,
            lazy_deferred=True,
        ),
        checkpoint_dir=part,
    )
    resumed = eng.crawl(SEEDS, resume=True)
    trace = _trace_set(resumed)
    early = [t for t in full_trace if t[1] < 3]
    assert sorted(early + trace) == full_trace
    assert not any("poison" in t[0] for t in trace)
    shutil.rmtree(part, ignore_errors=True)


def test_ranked_tail_with_ttl_recrawl(spark, deep_pages, tmp_path):
    """TTL re-crawl composes with the ranked tail: an expired URL is
    never IN the tail (only unfetched rows are), so re-admission rides
    the normal new-candidate route; wave-scoped tombstones keep any
    re-insert of a previously-scheduled URL live. Trace equality vs
    default-mode TTL."""
    base = _crawl(spark, deep_pages, ttl_waves=3)
    out = _crawl(
        spark, deep_pages, ckpt=str(tmp_path / "rt_ttl"),
        lazy_deferred=True, ttl_waves=3,
    )
    assert _trace_set(out) == _trace_set(base)


def test_ranked_tail_with_priorities(spark, deep_pages, tmp_path):
    """A PageRank-style host priority table composes with the ranked
    tail: priorities are applied to discovered rows BEFORE insert, so
    the stored per-host queue ranks order by the final priority. Trace
    equality vs default mode under the same priorities + fetch cap."""
    hp = spark.createDataFrame(
        [("mega.test", 0.9), ("small0.test", 0.95), ("small1.test", 0.6)],
        "host string, priority double",
    )

    def run(ckpt=None, **kw):
        cfg = CrawlConfig(
            rps=0.4, wave_seconds=5, max_waves=6, wave_fetch_cap=4, **kw
        )
        eng = CrawlEngine(spark, deep_pages, cfg, checkpoint_dir=ckpt)
        return eng.crawl(SEEDS, host_priorities=hp)

    base = run()
    out = run(
        ckpt=str(tmp_path / "rp2"), lazy_deferred=True
    )
    assert _trace_set(out) == _trace_set(base)


def test_ranked_tail_offline_compaction_then_resume(spark, deep_pages, tmp_path):
    """Maintenance-job compaction (run_crawl --compact-tail posture):
    crawl with in-band compaction disabled, fold the accumulated
    components offline via compact_checkpoint, resume — output equals
    the uninterrupted crawl."""
    full = _crawl(
        spark, deep_pages, ckpt=str(tmp_path / "mf"),
        lazy_deferred=True, tail_compact_every=0,
    )
    full_trace = _trace_set(full)

    part = str(tmp_path / "mp")
    CrawlEngine(
        spark, deep_pages,
        CrawlConfig(
            rps=0.4, wave_seconds=5, max_waves=3,
            lazy_deferred=True, tail_compact_every=0,
        ),
        checkpoint_dir=part,
    ).crawl(SEEDS)

    eng = CrawlEngine(
        spark, deep_pages,
        CrawlConfig(
            rps=0.4, wave_seconds=5, max_waves=6,
            lazy_deferred=True, tail_compact_every=0,
        ),
        checkpoint_dir=part,
    )
    waves = eng.complete_waves()
    n = RankedTail.compact_checkpoint(spark, part, waves, 2)
    assert n > 0, "deep corpus must have a standing tail to compact"
    # post-compaction restore reads ONE base and no later components
    restored = RankedTail.restore(spark, part, waves, 2)
    assert restored.base is not None and restored.base.wave == waves[-1]
    assert restored.deltas == [] and restored.tombs == []
    assert restored.live_rows == n

    resumed = eng.crawl(SEEDS, resume=True)
    early = [t for t in full_trace if t[1] < 3]
    assert sorted(early + _trace_set(resumed)) == full_trace
