"""Plan pin for a real crawl wave's routing (beside test_plan_guards.py).

Default-mode routing splits a wave's candidates into denied, scheduled
and deferred branches. Those branches push different filters into the
robots join and the per-host count aggregate, so Spark shares neither
between them: unless both are materialized once, each branch recomputes
them, one Spark job per exchange. Across everything a wave materializes,
each must appear once.
"""

import re

import pytest

from markdown_lab_spark.corpus.generator import CorpusSpec, generate_corpus
from markdown_lab_spark.frontier.crawler import CrawlConfig, CrawlEngine
from markdown_lab_spark.plans.checks import formatted_plan


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(CorpusSpec(hosts=4, pages_per_host=25, hot_fraction=0.4))


@pytest.fixture(scope="module")
def pages_df(spark, corpus, tmp_path_factory):
    from markdown_lab_spark.corpus.generator import write_corpus_parquet

    path = str(tmp_path_factory.mktemp("corpus") / "pages.parquet")
    write_corpus_parquet(corpus, path)
    return spark.read.parquet(path)


# node headers of the formatted plan's detail section
ROBOTS_SCAN = re.compile(r"^\(\d+\) InMemoryTableScan", re.M)  # cached host_rules
HOST_COUNT = re.compile(r"^Functions \[1\]: \[count\(1\)\]$", re.M)  # final count


@pytest.mark.parametrize("ttl_waves", [None, 2], ids=["bloom", "ttl"])
def test_wave_routing_runs_robots_join_and_host_count_once(
    spark, corpus, pages_df, monkeypatch, ttl_waves
):
    frame_cls = type(spark.range(1))
    orig = frame_cls.localCheckpoint
    plans = []

    def recording(self, eager=True):
        plans.append(formatted_plan(self))
        return orig(self, eager)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    out = CrawlEngine(
        spark,
        pages_df,
        CrawlConfig(rps=1.0, wave_seconds=5, max_waves=2, ttl_waves=ttl_waves),
    ).crawl(corpus.seeds)
    assert {r["wave"] for r in out["trace"].select("wave").collect()} == {0, 1}
    robots = sum(len(ROBOTS_SCAN.findall(p)) for p in plans)
    counts = sum(len(HOST_COUNT.findall(p)) for p in plans)
    assert (robots, counts) == (2, 2), "\n\n".join(plans)
