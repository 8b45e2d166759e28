"""Plan pins for a real crawl wave's routing and fetch join (beside
test_plan_guards.py).

Routing splits a wave's candidates into denied, scheduled and deferred
branches. Those branches push different filters into the robots join and
the per-host count aggregate, so Spark shares neither between them:
unless both are materialized once, each branch recomputes them, one
Spark job per exchange. Across everything a wave materializes, each must
appear once, with either deferred tail (the ranked tail routes new
candidates plus tail heads through the same block).

The fetch is a broadcast hash join of the routed schedule against the
pages scan: the corpus streams through the join and is never shuffled.
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
EXCHANGE = re.compile(r"^\(\d+\) (\w*Exchange)\b", re.M)


def _crawl_plans(spark, corpus, pages_df, monkeypatch, **cfg):
    """Formatted plan of every DataFrame a two-wave crawl materializes."""
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
        CrawlConfig(rps=1.0, wave_seconds=5, max_waves=2, **cfg),
    ).crawl(corpus.seeds)
    assert {r["wave"] for r in out["trace"].select("wave").collect()} == {0, 1}
    return plans


@pytest.mark.parametrize(
    "ttl_waves, lazy_deferred",
    [(None, False), (2, False), (None, True), (2, True)],
    ids=["bloom", "ttl", "bloom-ranked", "ttl-ranked"],
)
def test_wave_routing_runs_robots_join_and_host_count_once(
    spark, corpus, pages_df, monkeypatch, ttl_waves, lazy_deferred
):
    plans = _crawl_plans(
        spark, corpus, pages_df, monkeypatch,
        ttl_waves=ttl_waves, lazy_deferred=lazy_deferred,
    )
    robots = sum(len(ROBOTS_SCAN.findall(p)) for p in plans)
    counts = sum(len(HOST_COUNT.findall(p)) for p in plans)
    assert (robots, counts) == (2, 2), "\n\n".join(plans)


@pytest.mark.parametrize("ttl_waves", [None, 2], ids=["bloom", "ttl"])
def test_wave_fetch_is_broadcast_join_streaming_pages_scan(
    spark, corpus, pages_df, monkeypatch, ttl_waves
):
    plans = _crawl_plans(spark, corpus, pages_df, monkeypatch, ttl_waves=ttl_waves)
    # the docs checkpoint: fetch join + convert UDF, one per wave
    docs = [p for p in plans if "convert_udf(" in p]
    assert len(docs) == 2, "\n\n".join(plans)
    for plan in docs:
        assert EXCHANGE.findall(plan) == ["BroadcastExchange"], plan
        tree = plan.split("\n\n", 1)[0].splitlines()
        (j,) = [
            i for i, line in enumerate(tree)
            if "BroadcastHashJoin Inner BuildRight" in line
        ]
        col = tree[j].index("+-") + 3
        build = next(
            i for i in range(j + 1, len(tree)) if tree[i][col:].startswith("+- ")
        )
        assert tree[j + 1][col:].startswith(":- "), plan
        stream = "\n".join(tree[j + 1 : build])
        assert "Scan parquet" in stream and "Exchange" not in stream, plan
        # build side: the routed schedule, read back from its checkpoint
        assert "BroadcastExchange" in tree[build], plan
        assert "Scan ExistingRDD" in "\n".join(tree[build:]), plan
