"""Sources (seed discovery), sinks, streaming ingest, and physical-plan
assertions."""

import json
import os

import pytest
from pyspark.sql import functions as F

from markdown_lab_spark.corpus.generator import (
    CorpusSpec,
    generate_corpus,
    write_corpus_parquet,
)


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(CorpusSpec(hosts=3, pages_per_host=20))


@pytest.fixture(scope="module")
def pages_df(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("c2") / "pages.parquet")
    write_corpus_parquet(corpus, path)
    return spark.read.parquet(path)


# --- S4-S8 sources ----------------------------------------------------------
def test_links_file_source(spark, tmp_path):
    from markdown_lab_spark.sources.seeds import read_links_file

    p = tmp_path / "links.txt"
    p.write_text("# comment\n\nhttps://a.com/1\n  https://b.com/2  \n#x\n")
    assert read_links_file(spark, str(p)) == ["https://a.com/1", "https://b.com/2"]


def test_sitemap_seed_discovery(spark, pages_df):
    from markdown_lab_spark.sources.seeds import discover_sitemap_seeds

    seeds = discover_sitemap_seeds(pages_df, "https://hot.example")
    assert seeds, "sitemap.xml row must yield seeds"
    # corpus sitemaps list the first 10 pages with descending priority
    assert seeds[0].loc == "https://hot.example/blog/page-0"
    assert seeds[0].priority == 1.0
    filtered = discover_sitemap_seeds(
        pages_df, "https://hot.example", min_priority=0.9
    )
    assert len(filtered) < len(seeds)
    limited = discover_sitemap_seeds(pages_df, "https://hot.example", limit=3)
    assert len(limited) == 3


# --- K1-K3 sinks -------------------------------------------------------------
def test_export_content_files(spark, tmp_path):
    from markdown_lab_spark.sinks import export_content_files

    docs = spark.createDataFrame(
        [("https://h.com/a/b", "# md content")], "url string, markdown string"
    )
    n = export_content_files(docs, str(tmp_path / "out"))
    assert n == 1
    assert (tmp_path / "out" / "h.com_a_b.md").read_text() == "# md content"


def test_chunks_jsonl_sink(spark, tmp_path):
    from markdown_lab_spark.sinks import write_chunks_jsonl

    chunks = spark.createDataFrame(
        [("https://h.com/a", 0, "chunk text")], "url string, pos int, content string"
    )
    out = str(tmp_path / "chunks")
    write_chunks_jsonl(chunks, out)
    lines = []
    for fn in os.listdir(out):
        if fn.endswith(".json"):
            lines += open(os.path.join(out, fn)).read().splitlines()
    assert json.loads(lines[0])["content"] == "chunk text"


# --- streaming ingest ---------------------------------------------------------------
def test_streaming_convert_pipeline(spark, corpus, tmp_path):
    from markdown_lab_spark.streaming.ingest import (
        convert_stream,
        read_pages_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    write_corpus_parquet(corpus, str(in_dir / "batch1.parquet"))
    out_dir = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            convert_stream(read_pages_stream(spark, str(in_dir)))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return q

    q = drain()
    assert q.lastProgress is not None
    got = spark.read.parquet(out_dir)
    assert got.count() == len(corpus.rows)
    assert got.filter("status = 'ok'").count() == len(corpus.rows)
    # exactly-once: draining again with same checkpoint adds nothing
    drain()
    assert spark.read.parquet(out_dir).count() == len(corpus.rows)


# --- physical-plan assertions ----------------------------------------------------------
def test_pushdown_and_pruning(spark, pages_df, tmp_path):
    from markdown_lab_spark.plans.checks import (
        assert_broadcast_join,
        assert_pushed_filters,
        scan_read_schema,
    )

    filtered = pages_df.filter(F.col("lang") == "en").select("url", "lang")
    assert_pushed_filters(filtered)  # predicate reaches the parquet reader
    schema = scan_read_schema(filtered)
    assert "html" not in schema  # column pruning: binary blob NOT read

    small = spark.createDataFrame([("https://x",)], "url string")
    joined = pages_df.join(F.broadcast(small), "url")
    assert_broadcast_join(joined)


def test_crawl_fetch_join_is_broadcast(spark, pages_df):
    """The wave fetch must stay a broadcast join of the tiny schedule."""
    from markdown_lab_spark.frontier.crawler import CrawlConfig, CrawlEngine
    from markdown_lab_spark.functions.udfs import normalize_url_col
    from markdown_lab_spark.plans.checks import assert_in_plan

    engine = CrawlEngine(spark, pages_df, CrawlConfig(max_waves=1))
    sched = engine._frontier_from_seeds(["https://hot.example/blog/page-0"])
    fetched = engine.pages.select("canon_url", "url", "html").join(
        F.broadcast(sched), on="canon_url", how="inner"
    )
    assert_in_plan(fetched, "BroadcastHashJoin")


def test_stateful_first_seen_filter(spark, tmp_path):
    """applyInPandasWithState: streaming per-host URL-seen dedup keeps
    state across micro-batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from markdown_lab_spark.streaming.stateful import first_seen_filter

    in_dir = tmp_path / "stream_in"
    in_dir.mkdir()

    def write_batch(name, rows):
        table = pa.table(
            {"host": [r[0] for r in rows], "canon_url": [r[1] for r in rows]}
        )
        pq.write_table(table, str(in_dir / name))

    write_batch("b1.parquet", [("h1", "u1"), ("h1", "u2"), ("h2", "u1")])
    write_batch("b2.parquet", [("h1", "u1"), ("h1", "u3"), ("h2", "u1")])

    schema = "host string, canon_url string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        first_seen_filter(stream)
        .writeStream.format("memory")
        .queryName("first_seen")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["host"], r["canon_url"])
        for r in spark.sql("select * from first_seen").collect()
    }
    # u1 emitted once per host despite appearing in both batches
    assert rows == {("h1", "u1"), ("h1", "u2"), ("h1", "u3"), ("h2", "u1")}
