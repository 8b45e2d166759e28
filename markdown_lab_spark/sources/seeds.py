"""Seed discovery sources (SURVEY.md §2.1 S4-S8).

- links-file source: read seed URLs, skip blanks/# comments
  (markdown_lab/core/scraper.py:474-498).
- sitemap discovery: robots.txt -> declared sitemaps -> candidate
  locations -> recursive index walk, all against the pages CORPUS (the
  corpus stands in for the network), then F6-F8 filtering. Discovery is
  driver-side (sitemaps are few); the frontier it feeds is distributed.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle.sitemap import SitemapURL, filter_urls, parse_sitemap


def read_links_file(spark: SparkSession, path: str) -> List[str]:
    """S4: seed URLs from a text file; blank/comment lines skipped."""
    rows = spark.read.text(path).collect()
    out = []
    for r in rows:
        line = r["value"].strip()
        if line and not line.startswith("#"):
            out.append(line)
    return out


def corpus_fetcher(pages: DataFrame, hosts: Optional[List[str]] = None):
    """url -> body fetcher backed by the corpus's robots/sitemap rows.

    Collects only the small robots/sitemap subset (optionally restricted to
    the seed hosts) — never the corpus itself.
    """
    subset = pages.filter(
        F.col("url").rlike(r"/(robots\.txt|sitemap[^/]*\.xml|sitemaps?/[^/]+\.xml)$")
    )
    if hosts:
        subset = subset.filter(
            F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]*)", 1).isin(hosts)
        )
    lookup: Dict[str, str] = {
        r["url"]: bytes(r["html"]).decode("utf-8", errors="replace")
        for r in subset.select("url", "html").collect()
    }
    return lookup.get


def discover_sitemap_seeds(
    pages: DataFrame,
    base_url: str,
    min_priority: Optional[float] = None,
    include_patterns: Optional[List[str]] = None,
    exclude_patterns: Optional[List[str]] = None,
    limit: Optional[int] = None,
) -> List[SitemapURL]:
    """S5-S8 + F6-F8: sitemap-driven seed list in discovery order."""
    host = base_url.split("://", 1)[-1].split("/", 1)[0]
    fetcher = corpus_fetcher(pages, hosts=[host])
    urls = parse_sitemap(base_url, fetcher)
    return filter_urls(urls, min_priority, include_patterns, exclude_patterns, limit)
