#!/usr/bin/env python
"""Crawl driver for spark-submit.

  spark-submit --py-files dist/markdown_lab_spark.zip scripts/run_crawl.py \
      --pages /path/pages.parquet --seeds https://hot.example/blog/page-0 \
      --checkpoint /path/ckpt --max-waves 10 --rps 1.0 --wave-seconds 10

Resumable: rerun with the same --checkpoint and --resume to continue from
the last complete wave. With --generate-corpus N_HOSTSxPAGES the synthetic
corpus is generated first (smoke/demo mode).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="pages parquet path (url, warc_ts, html, text, lang)")
    ap.add_argument("--pages-warc", help="WARC archive glob (.warc/.warc.gz, "
                    "Common-Crawl layout) used as the pages corpus instead "
                    "of --pages")
    ap.add_argument("--seeds", nargs="*", default=[], help="seed URLs")
    ap.add_argument("--seeds-file", help="links file (blank/# lines skipped)")
    ap.add_argument("--checkpoint", help="checkpoint directory")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--max-waves", type=int, default=10)
    ap.add_argument("--rps", type=float, default=1.0)
    ap.add_argument("--wave-seconds", type=int, default=10)
    ap.add_argument("--max-retries", type=int, default=0)
    ap.add_argument("--ttl-waves", type=int, default=None,
                    help="re-crawl URLs after N waves (cuckoo seen-filter)")
    ap.add_argument("--follow-meta-refresh", action="store_true",
                    help="resolve <meta http-equiv=refresh> chains corpus-"
                         "side before crawling (effective-pages view)")
    ap.add_argument("--honor-crawl-delay", action="store_true",
                    help="honor robots.txt Crawl-delay as a per-host "
                         "wave budget cap (exact post-schedule prefix cut)")
    ap.add_argument("--wave-fetch-cap", type=int, default=None,
                    help="global per-wave fetch budget (priority DESC wins)")
    ap.add_argument("--lazy-deferred", action="store_true",
                    help="keep the standing deferred tail out of the wave "
                    "plan as a rank-materialized component set; route only "
                    "new candidates + per-host heads each wave (deep "
                    "frontiers; per-wave tail cost independent of tail depth)")
    ap.add_argument("--tail-compact-every", type=int, default=4,
                    help="ranked-tail compaction cadence in waves; 0 keeps "
                    "compaction off the wave critical path (run it as a "
                    "maintenance job)")
    ap.add_argument("--compact-tail", action="store_true",
                    help="maintenance mode: fold the checkpoint's ranked-"
                    "tail components into one fresh base, then exit "
                    "(run between crawls; pairs with --tail-compact-every 0)")
    ap.add_argument("--generate-corpus", help="HOSTSxPAGES, e.g. 4x100 (demo mode)")
    ap.add_argument(
        "--priorities",
        help="(host, priority) parquet joined at link discovery "
        "(e.g. a previous run of --rank-checkpoint)",
    )
    ap.add_argument(
        "--rank-checkpoint",
        help="compute host-PageRank priorities from an existing crawl "
        "checkpoint's docs and write them to --priorities, then exit",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("markdown_lab_spark-crawl")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from markdown_lab_spark.frontier.crawler import CrawlConfig, CrawlEngine

    seeds = list(args.seeds)
    if args.seeds_file:
        # S4 links-file source (markdown_lab/core/scraper.py:474-498)
        raw = spark.read.text(args.seeds_file)
        seeds += [
            r["value"].strip()
            for r in raw.collect()
            if r["value"].strip() and not r["value"].strip().startswith("#")
        ]

    if args.generate_corpus:
        import tempfile

        from markdown_lab_spark.corpus.generator import (
            CorpusSpec,
            generate_corpus,
            write_corpus_parquet,
        )

        hosts, pages_n = (int(x) for x in args.generate_corpus.split("x"))
        corpus = generate_corpus(CorpusSpec(hosts=hosts, pages_per_host=pages_n))
        path = tempfile.mktemp(suffix=".parquet")
        write_corpus_parquet(corpus, path)
        args.pages = path
        if not seeds:
            seeds = corpus.seeds

    if args.compact_tail:
        from markdown_lab_spark.frontier.politeness import politeness_budget
        from markdown_lab_spark.frontier.tail import RankedTail

        if not args.checkpoint:
            print("--compact-tail needs --checkpoint", file=sys.stderr)
            return 2
        eng = CrawlEngine(
            spark,
            spark.createDataFrame([], "url string, html binary"),
            CrawlConfig(),
            checkpoint_dir=args.checkpoint,
        )
        n = RankedTail.compact_checkpoint(
            spark,
            args.checkpoint,
            eng.complete_waves(),
            politeness_budget(args.rps, args.wave_seconds),
        )
        print(f"compacted tail: {n} live rows")
        return 0

    if args.rank_checkpoint:
        # offline priority computation: previous crawl's checkpointed
        # docs -> host link graph -> PageRank -> (host, priority) parquet
        from markdown_lab_spark.frontier.rank import (
            host_edges_from_docs,
            host_pagerank_priorities,
        )

        if not args.priorities:
            print("--rank-checkpoint needs --priorities OUT_PATH", file=sys.stderr)
            return 2
        docs = spark.read.parquet(f"{args.rank_checkpoint}/wave=*/docs")
        hp = host_pagerank_priorities(host_edges_from_docs(docs))
        hp.write.mode("overwrite").parquet(args.priorities)
        print(f"wrote {hp.count()} host priorities to {args.priorities}")
        return 0

    if not (args.pages or args.pages_warc) or not seeds:
        print("need --pages or --pages-warc, and seeds", file=sys.stderr)
        return 2

    if args.pages_warc:
        from markdown_lab_spark.sources.warc import warc_pages_table

        pages = warc_pages_table(spark, args.pages_warc).select("url", "html")
    else:
        pages = spark.read.parquet(args.pages)
    if args.follow_meta_refresh:
        from markdown_lab_spark.frontier.redirects import effective_pages

        pages = effective_pages(pages)
    cfg = CrawlConfig(
        rps=args.rps,
        wave_seconds=args.wave_seconds,
        max_waves=args.max_waves,
        max_retries=args.max_retries,
        ttl_waves=args.ttl_waves,
        wave_fetch_cap=args.wave_fetch_cap,
        honor_crawl_delay=args.honor_crawl_delay,
        lazy_deferred=args.lazy_deferred,
        tail_compact_every=args.tail_compact_every,
    )
    engine = CrawlEngine(spark, pages, cfg, checkpoint_dir=args.checkpoint)
    host_priorities = (
        spark.read.parquet(args.priorities) if args.priorities else None
    )
    out = engine.crawl(
        seeds, resume=args.resume, host_priorities=host_priorities
    )
    trace = out["trace"]
    print("crawl trace by (wave, status):")
    trace.groupBy("wave", "status").count().orderBy("wave", "status").show(100)
    print("total URLs seen:", out["seen"].count())
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
