"""Seeded inputs, timed jobs and output checks of the benchmark workloads.

Every input comes from ``corpus.generator.CorpusSpec(seed=...)``; the
program receives only those generated inputs and default ``CrawlConfig``
modes (``ttl_waves`` is what defines ``ttl_recrawl``). The URL graph of the
generator is seed-independent, so a seed changes page text and HTML but not
how much work a job does.

A workload object has three phases:

- ``prepare``: generate and write the inputs; with one run of
  ``warmup().job`` this is the set-up;
- ``job``: the timed region, returning the outputs it materialized;
- ``check``: compare those outputs to the pure-Python references, outside
  the timed region; returns a list of failure messages.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time
from dataclasses import dataclass
from typing import Dict, List, Tuple

HOSTS = 8
HOT_FRACTION = 0.4  # the hot host's share of pages, as in bench.py
SAMPLE_URLS = 24  # seeded sample of crawled URLs checked against the oracle


def _corpus(seed: int, pages_per_host: int):
    from markdown_lab_spark.corpus.generator import CorpusSpec, generate_corpus

    return generate_corpus(
        CorpusSpec(
            hosts=HOSTS,
            pages_per_host=pages_per_host,
            hot_fraction=HOT_FRACTION,
            seed=seed,
        )
    )


def _is_page(url: str) -> bool:
    return not url.endswith(("/robots.txt", "/sitemap.xml"))


def _oracle_chunks(html: bytes, url: str) -> Tuple[str, List[str]]:
    """Markdown and chunks exactly as the reference computes them."""
    from markdown_lab_spark.oracle.chunker import create_semantic_chunks
    from markdown_lab_spark.oracle.markdown_converter import convert_to_markdown

    md = convert_to_markdown(html.decode("utf-8"), url)
    return md, create_semantic_chunks(md, 1000, 200)


def _chunks_by_url(chunks_df, urls: List[str]) -> Dict[str, List[str]]:
    from pyspark.sql import functions as F

    rows = (
        chunks_df.filter(F.col("canon_url").isin(urls))
        .select("canon_url", "wave", "pos", "content")
        .collect()
    )
    out: Dict[str, List[Tuple[int, int, str]]] = {}
    for r in rows:
        out.setdefault(r["canon_url"], []).append((r["wave"], r["pos"], r["content"]))
    # a URL fetched in two waves (TTL re-crawl) carries one chunk list per
    # fetch; the check compares the first fetch's list
    result = {}
    for url, items in out.items():
        first = min(w for w, _, _ in items)
        result[url] = [c for w, _, c in sorted(items) if w == first]
    return result


def _check_sample_chunks(
    rows_by_url: Dict[str, Tuple[bytes, str]],
    ok_urls: List[str],
    chunks_df,
    seed: int,
) -> List[str]:
    rng = random.Random(seed)
    sample = rng.sample(sorted(ok_urls), min(SAMPLE_URLS, len(ok_urls)))
    got = _chunks_by_url(chunks_df, sample)
    failures = []
    for url in sample:
        html, page_url = rows_by_url[url]
        _md, want = _oracle_chunks(html, page_url)
        if got.get(url, []) != want:
            failures.append(f"chunks differ from the oracle for {url}")
    return failures


@dataclass
class CrawlInputs:
    corpus: object
    pages: object  # pyspark DataFrame of the corpus parquet
    rows_by_canon: Dict[str, Tuple[bytes, str]]  # canon_url -> (html, url)


class TtlRecrawl:
    """One seed per host, a politeness budget per host per wave, a
    checkpoint directory and ``ttl_waves=2``; a second engine resumes the
    checkpoint for one more wave. The only workload on the cuckoo filter
    (insert, expiry delete, TTL anti-join) and on the checkpoint
    write/resume read path."""

    name = "ttl_recrawl"
    why = "one seed per host, budget 25/host/wave, ttl_waves=2, checkpointed, resumed for a third wave: cuckoo filter and per-wave fixed costs"
    kind = "crawl"
    pages_per_host = 40
    budget = 25
    ttl_waves = 2
    resume_waves = 1

    def __init__(self, waves: int = 2):
        self.waves = waves  # the first leg; wave 2 is the first with expiry

    def warmup(self) -> "TtlRecrawl":
        """The same crawl cut to one wave before the resume: it runs every
        plan shape of the job (first leg, resume read, cuckoo rebuild,
        resumed wave) at two thirds of the cold cost."""
        return TtlRecrawl(waves=1)

    def config(self, waves: int):
        from markdown_lab_spark.frontier.crawler import CrawlConfig

        return CrawlConfig(
            rps=float(self.budget), wave_seconds=1, max_waves=waves,
            ttl_waves=self.ttl_waves,
        )

    def prepare(self, spark, seed: int, workdir: str) -> CrawlInputs:
        from markdown_lab_spark.corpus.generator import write_corpus_parquet
        from markdown_lab_spark.oracle.url_utils import normalize_url

        corpus = _corpus(seed, self.pages_per_host)
        path = os.path.join(workdir, f"pages-{seed}.parquet")
        write_corpus_parquet(corpus, path)
        rows = {normalize_url(u): (h, u) for u, _ts, h, _t, _l in corpus.rows}
        return CrawlInputs(corpus, spark.read.parquet(path), rows)

    def job(self, spark, inp: CrawlInputs, workdir: str) -> dict:
        from markdown_lab_spark.frontier.crawler import CrawlEngine

        ckpt = os.path.join(workdir, "ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        t_start = time.time()
        t0 = time.perf_counter()
        first = CrawlEngine(spark, inp.pages, self.config(self.waves), checkpoint_dir=ckpt)
        out1 = first.crawl(inp.corpus.seeds)
        n = out1["trace"].count()
        out1["chunks"].count()
        t_resume = time.time()
        engine = CrawlEngine(
            spark, inp.pages, self.config(self.waves + self.resume_waves),
            checkpoint_dir=ckpt,
        )
        out2 = engine.crawl(inp.corpus.seeds, resume=True)
        n += out2["trace"].count()
        out2["chunks"].count()
        job_s = time.perf_counter() - t0
        manifests = manifest_times(ckpt)
        return {
            "job_s": job_s,
            "items": n,
            "trace": [out1["trace"], out2["trace"]],
            "chunks": [out1["chunks"], out2["chunks"]],
            "seen": out2["seen"],
            "seen_first_leg": out1["seen"],
            "engine": engine,
            "ckpt": ckpt,
            "first_wave_s": manifests[0] - t_start,
            "wave_gaps": [b - a for a, b in zip(manifests, manifests[1:self.waves])],
            "resume_s": manifests[self.waves] - t_resume,
        }

    def check(self, spark, inp: CrawlInputs, res: dict, seed: int) -> List[str]:
        from markdown_lab_spark.frontier.simulator import simulate_crawl

        failures = []
        trace = _trace_rows(res)
        # before the first expiry a TTL crawl is a plain crawl, so its
        # waves < ttl_waves must reproduce the reference crawl order
        sim = simulate_crawl(
            inp.corpus.pages_dict(), inp.corpus.seeds, rps=float(self.budget),
            wave_seconds=1, max_waves=self.ttl_waves,
        )
        early = {t for t in trace if t[1] < self.ttl_waves}
        if early != sim.trace():
            failures.append(
                f"waves < {self.ttl_waves} differ from simulate_crawl: "
                f"{len(early ^ sim.trace())} rows"
            )
        seen = {r[0] for r in res["seen_first_leg"].select("canon_url").collect()}
        if seen != sim.seen:
            failures.append(
                f"seen set after wave {self.ttl_waves - 1} differs from "
                f"simulate_crawl: {len(seen ^ sim.seen)} URLs"
            )
        fetched: Dict[str, List[int]] = {}
        for url, wave, _d, status in trace:
            if status == "ok":
                fetched.setdefault(url, []).append(wave)
        for url, ws in fetched.items():
            ws.sort()
            if any(b - a < self.ttl_waves for a, b in zip(ws, ws[1:])):
                failures.append(f"{url} fetched twice inside ttl_waves: waves {ws}")
        # the docs checkpoint holds the Markdown itself: compare it byte for
        # byte, then the chunks
        docs = spark.read.parquet(os.path.join(res["ckpt"], "wave=*", "docs"))
        ok = sorted(u for u in fetched if _is_page(u))
        sample = random.Random(seed).sample(ok, min(SAMPLE_URLS, len(ok)))
        got: Dict[str, Tuple[int, str]] = {}
        for r in docs.filter(docs.canon_url.isin(sample)).collect():
            if r["canon_url"] not in got or r["wave"] < got[r["canon_url"]][0]:
                got[r["canon_url"]] = (r["wave"], r["markdown"])
        for url in sample:
            html, page_url = inp.rows_by_canon[url]
            md, _ = _oracle_chunks(html, page_url)
            if got.get(url, (0, None))[1] != md:
                failures.append(f"markdown differs from the oracle for {url}")
        chunks = res["chunks"][0].unionByName(res["chunks"][1])
        failures += _check_sample_chunks(inp.rows_by_canon, ok, chunks, seed)
        return failures


def _trace_rows(res: dict) -> set:
    rows = set()
    for t in res["trace"]:
        rows |= {
            (r["canon_url"], r["wave"], r["depth"], r["status"])
            for r in t.select("canon_url", "wave", "depth", "status").collect()
        }
    return rows


def manifest_times(ckpt: str) -> List[float]:
    """MANIFEST.json mtimes in wave order: each marks a durable wave."""
    paths = glob.glob(os.path.join(ckpt, "wave=*", "MANIFEST.json"))
    by_wave = {}
    for p in paths:
        with open(p) as f:
            by_wave[json.load(f)["wave"]] = os.path.getmtime(p)
    return [by_wave[w] for w in sorted(by_wave)]


@dataclass
class DedupInputs:
    docs: object  # pyspark DataFrame (doc_id, text)
    groups: List[List[int]]  # injected duplicate groups (doc ids)
    exact: List[List[int]]  # members of each group whose text is identical
    n_docs: int


class NearDedup:
    """Curation only, no frontier and no converter: the seeded corpus text
    plus injected groups of near-duplicates (and exact copies) goes through
    ``exact_dedup``, ``near_dedup_keep`` and ``ngram_jaccard_pairs``."""

    name = "near_dedup"
    why = "seeded corpus text with injected near-duplicate groups through exact_dedup, near_dedup_keep and ngram_jaccard_pairs: the only home of functions.dedup"
    kind = "curate"
    pages_per_host = 40
    group_share = 0.1  # share of base docs that get a duplicate group
    min_words = 100  # group bases this long keep member Jaccard >= 0.98

    def warmup(self) -> "NearDedup":
        return self

    def prepare(self, spark, seed: int, workdir: str) -> DedupInputs:
        import pyarrow as pa
        import pyarrow.parquet as pq

        corpus = _corpus(seed, self.pages_per_host)
        texts = [t for u, _ts, _h, t, _l in corpus.rows if _is_page(u)]
        rng = random.Random(seed)
        long_ids = [i for i, t in enumerate(texts) if len(t.split()) >= self.min_words]
        bases = rng.sample(long_ids, max(1, int(len(texts) * self.group_share)))
        docs = list(texts)
        groups_idx: List[List[int]] = []
        exact_idx: List[List[int]] = []
        words = sorted(set(" ".join(texts[:50]).split()))
        for b in bases:
            members = [b]
            copies = [b]
            # distinct appended words, so two near copies are never identical
            extra = rng.sample(words, 3)
            for j in range(rng.randint(1, 3)):
                if rng.random() < 0.3:
                    docs.append(texts[b])  # exact copy
                    copies.append(len(docs) - 1)
                else:  # one appended word: one extra shingle
                    docs.append(texts[b] + " " + extra[j])
                members.append(len(docs) - 1)
            groups_idx.append(members)
            if len(copies) > 1:
                exact_idx.append(copies)
        # ids are a seeded permutation, so a group's min id is not its base
        ids = list(range(len(docs)))
        rng.shuffle(ids)
        path = os.path.join(workdir, f"docs-{seed}.parquet")
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": docs}),
            path, row_group_size=512,
        )
        return DedupInputs(
            docs=spark.read.parquet(path),
            groups=[[ids[i] for i in g] for g in groups_idx],
            exact=[[ids[i] for i in g] for g in exact_idx],
            n_docs=len(docs),
        )

    def job(self, spark, inp: DedupInputs, workdir: str) -> dict:
        from markdown_lab_spark.functions.dedup import (
            exact_dedup,
            near_dedup_keep,
            ngram_jaccard_pairs,
        )

        t0 = time.perf_counter()
        exact = exact_dedup(inp.docs, "doc_id", "text").filter("dup_count > 1").collect()
        kept = near_dedup_keep(inp.docs, "doc_id", "text").select("doc_id").collect()
        pairs = ngram_jaccard_pairs(inp.docs, "doc_id", "text").select("id_a", "id_b").collect()
        return {
            "job_s": time.perf_counter() - t0,
            "items": inp.n_docs,
            "exact": [(r["keep_id"], r["dup_count"]) for r in exact],
            "kept": [r["doc_id"] for r in kept],
            "pairs": [(r["id_a"], r["id_b"]) for r in pairs],
        }

    def check(self, spark, inp: DedupInputs, res: dict, seed: int) -> List[str]:
        failures = []
        want_exact = sorted((min(g), len(g)) for g in inp.exact)
        if sorted(res["exact"]) != want_exact:
            failures.append("exact_dedup groups differ from the injected exact copies")
        dropped = {i for g in inp.groups for i in g if i != min(g)}
        kept = set(res["kept"])
        if len(res["kept"]) != len(kept) or kept != set(range(inp.n_docs)) - dropped:
            failures.append(
                "near_dedup_keep did not collapse every injected group to its min id"
            )
        want_pairs = {
            (a, b) for g in inp.groups for a in g for b in g if a < b
        }
        if set(res["pairs"]) != want_pairs:
            failures.append(
                f"ngram_jaccard_pairs differs from the injected pairs: "
                f"{len(set(res['pairs']) ^ want_pairs)} pairs"
            )
        return failures


WORKLOADS = {w.name: w for w in (TtlRecrawl(), NearDedup())}
