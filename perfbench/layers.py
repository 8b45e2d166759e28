"""The traced run: spans around the calls into each layer, and per-layer
metrics measured at the layer boundaries.

Spans are recorded from the benchmark's side only. ``Tracer.install``
wraps the public functions of each layer module (and the engine methods
that run eagerly) for the duration of one job; each call becomes a span
``(id, name, start, end, parent)`` kept in memory and written once, at the
end of the run, to ``perfbench/out/spans-<workload>-<seed>.json``.

Spark is lazy, so a span around a plan-building call (``bloom_antijoin``,
``schedule_wave``, ...) times only the plan build. The time a layer costs
is therefore measured two further ways:

- the crawl steps, from the engine's own ``MLS_TIMING=1`` step lines;
- each layer on its own, materialized, on the workload's inputs and
  outputs (``measure.*`` spans).

Every per-layer metric is printed on every workload; a layer the workload
does not run reads 0.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import statistics
import time
from typing import Callable, Dict, List

HERE = os.path.dirname(os.path.abspath(__file__))

# (name, unit, better) of every per-layer metric, in report order
PER_LAYER = [
    # functions.udfs and oracle
    ("udfs.convert_ms_per_doc", "ms", "lower"),
    ("udfs.convert_html_mb_per_s", "MB/s", "higher"),
    ("udfs.chunk_ms_per_doc", "ms", "lower"),
    ("udfs.chunks_per_doc", "count", "higher"),
    ("oracle.convert_ms_per_doc", "ms", "lower"),
    ("udfs.arrow_overhead_ratio", "ratio", "lower"),
    # frontier.politeness
    ("politeness.schedule_s", "s", "lower"),
    ("politeness.rows_per_s", "1/s", "higher"),
    ("politeness.host_skew", "ratio", "lower"),
    # frontier.crawler
    ("robots.filter_s", "s", "lower"),
    ("robots.denied_ratio", "ratio", "higher"),
    ("bloom.antijoin_s", "s", "lower"),
    ("bloom.pass_ratio", "ratio", "higher"),
    ("cuckoo.antijoin_s", "s", "lower"),
    ("cuckoo.observed_fpr", "ratio", "lower"),
    ("state.resume_state_s", "s", "lower"),
    ("checkpoint.bytes_per_wave", "bytes", "lower"),
    ("checkpoint.bytes_per_url", "bytes", "lower"),
    ("crawl.jobs_per_wave", "count", "lower"),
    ("crawl.stages_per_wave", "count", "lower"),
    ("crawl.partition_skew", "ratio", "lower"),
    ("crawl.status.ok", "count", "higher"),
    ("crawl.status.fetch_miss", "count", "lower"),
    ("crawl.status.robots_denied", "count", "lower"),
    ("crawl.step.route_s", "s", "lower"),
    ("crawl.step.candidates_s", "s", "lower"),
    ("crawl.step.docs_s", "s", "lower"),
    ("crawl.step.state_s", "s", "lower"),
    ("crawl.step.filter_build_s", "s", "lower"),
    ("waves.first_s", "s", "lower"),
    ("waves.gap_s", "s", "lower"),
    ("waves.resume_s", "s", "lower"),
    # frontier.bloom
    ("bloom.build_keys_per_s", "1/s", "higher"),
    ("bloom.probe_keys_per_s", "1/s", "higher"),
    # frontier.cuckoo
    ("cuckoo.insert_keys_per_s", "1/s", "higher"),
    ("cuckoo.delete_keys_per_s", "1/s", "higher"),
    ("cuckoo.insert_failures", "count", "lower"),
    # functions.dedup
    ("dedup.exact_s", "s", "lower"),
    ("dedup.minhash_s", "s", "lower"),
    ("dedup.lsh_candidates", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.lsh_precision", "ratio", "higher"),
    ("dedup.jaccard_pairs_s", "s", "lower"),
    ("dedup.jaccard_join_rows", "count", "lower"),
    ("dedup.cc_s", "s", "lower"),
    ("dedup.cc_jobs", "count", "lower"),
    # process memory of the whole run
    ("memory.jvm_peak_mb", "MB", "lower"),
    ("memory.python_peak_mb", "MB", "lower"),
    # the tracing itself
    ("trace.overhead_s", "s", "lower"),
    ("trace.spans", "count", "lower"),
]

# MLS_TIMING step label (without the wave prefix) -> crawl step
STEP_OF_LABEL = {
    "isEmpty": "candidates",
    "candidates lc": "candidates",
    "route lc": "route",
    "deferred merge": "route",
    "docs lc": "docs",
    "plan build": "state",
    "write_wave": "state",
    "state lc": "state",
    "bloom build": "filter_build",
}
_TIMING_LINE = re.compile(r"^\[mls-timing\] w\d+ (.+?)\s+(-?[\d.]+)s$")

def _traced_calls() -> list:
    """(layer, owner, attribute names) of every call the tracer wraps: the
    public functions of each layer module as the engine looks them up, and
    the engine and filter methods that run Spark jobs or bulk updates
    eagerly."""
    from markdown_lab_spark.frontier import crawler, cuckoo
    from markdown_lab_spark.functions import dedup

    return [
        ("frontier.crawler", crawler,
         ["bloom_antijoin", "cuckoo_antijoin", "robots_filter", "robots_rules_df",
          "robots_host_rules", "checkpoint_sizes"]),
        ("frontier.politeness", crawler, ["schedule_wave", "cap_schedule_by_delay"]),
        ("functions.udfs", crawler, ["convert_markdown_udf", "chunk_markdown_udf"]),
        ("functions.dedup", dedup,
         ["exact_dedup", "minhash_signatures", "minhash_lsh_pairs",
          "ngram_jaccard_pairs", "connected_components",
          "dedup_near_duplicates", "near_dedup_keep"]),
        ("frontier.crawler", crawler.CrawlEngine,
         ["crawl", "resume_state", "_write_wave", "_build_bloom", "_build_cuckoo"]),
        ("frontier.cuckoo", cuckoo.ShardedCuckoo,
         ["add_sharded_pairs", "delete_sharded_pairs"]),
    ]


class Tracer:
    """Spans kept in memory; one stack, since every traced call happens on
    the driver's main thread."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._patched: List[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def _wrap(self, name: str, fn: Callable) -> Callable:
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for layer, owner, names in _traced_calls():
            for attr in names:
                orig = getattr(owner, attr)
                self._patched.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(f"{layer}.{attr}", orig))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def _timed(fn: Callable[[], object], min_s: float = 0.2) -> float:
    """Seconds per call of a cheap driver-side call, repeated until
    ``min_s`` has passed so a sub-millisecond kernel is not read off the
    clock's resolution."""
    calls, t0 = 0, time.perf_counter()
    while True:
        fn()
        calls += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return dt / calls


def _jobs_and_stages(spark, group: str) -> tuple:
    tracker = spark.sparkContext.statusTracker()
    ids = tracker.getJobIdsForGroup(group)
    stages = 0
    for jid in ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages += len(info.stageIds)
    return len(ids), stages


def _steps(lines: str) -> Dict[str, float]:
    out = {s: 0.0 for s in set(STEP_OF_LABEL.values())}
    for line in lines.splitlines():
        m = _TIMING_LINE.match(line.strip())
        if m and m.group(1) in STEP_OF_LABEL:
            out[STEP_OF_LABEL[m.group(1)]] += float(m.group(2))
    return out


def traced_metrics(spark, wl, inputs, workdir: str, seed: int,
                   job_s: float) -> Dict[str, dict]:
    """Run the job once traced, measure each layer on that job's inputs and
    outputs, write the spans and return every per-layer metric. ``job_s``
    is the untraced median of the same run."""
    values = {name: 0.0 for name, _u, _b in PER_LAYER}
    tracer = Tracer()
    group = "perfbench-traced-job"
    out = io.StringIO()
    os.environ["MLS_TIMING"] = "1"
    tracer.install()
    try:
        spark.sparkContext.setJobGroup(group, group)
        with contextlib.redirect_stdout(out), tracer.span(f"job.{wl.name}"):
            traced = wl.job(spark, inputs, workdir)
    finally:
        tracer.uninstall()
        os.environ.pop("MLS_TIMING", None)
        spark.sparkContext.setJobGroup("", "")
    values["trace.overhead_s"] = traced["job_s"] - job_s

    if wl.kind == "crawl":
        waves = wl.waves + wl.resume_waves
        jobs, stages = _jobs_and_stages(spark, group)
        values["crawl.jobs_per_wave"] = jobs / waves
        values["crawl.stages_per_wave"] = stages / waves
        for step, secs in _steps(out.getvalue()).items():
            values[f"crawl.step.{step}_s"] = secs
        _crawl_layers(spark, wl, inputs, traced, tracer, values)
    else:
        _dedup_layers(spark, inputs, tracer, values)

    from run import peak_rss_mb

    peak = peak_rss_mb()
    values["memory.jvm_peak_mb"] = peak["jvm"]
    values["memory.python_peak_mb"] = peak["python"]
    values["trace.spans"] = len(tracer.spans)
    tracer.write(os.path.join(HERE, "out", f"spans-{wl.name}-{seed}.json"))
    return {name: {"value": values[name], "unit": unit} for name, unit, _b in PER_LAYER}


def _page_frontier(spark, pages):
    from pyspark.sql import functions as F

    from markdown_lab_spark.functions.udfs import domain_col, normalize_url_col

    return (
        pages.filter(~F.col("url").rlike(r"/(robots\.txt|sitemap\.xml)$"))
        .select(normalize_url_col(F.col("url")).alias("canon_url"))
        .withColumn("host", domain_col(F.col("canon_url")))
        .withColumn("depth", F.lit(0))
        .withColumn("priority", F.lit(1.0))
        .withColumn("attempt", F.lit(0))
        .localCheckpoint(eager=True)
    )


def _crawl_layers(spark, wl, inputs, res: dict, tracer: Tracer,
                  values: Dict[str, float]) -> None:
    from pyspark.sql import functions as F

    from markdown_lab_spark.frontier.crawler import robots_filter
    from markdown_lab_spark.frontier.politeness import schedule_wave
    from markdown_lab_spark.functions.udfs import (
        chunk_markdown_udf,
        convert_markdown_udf,
    )
    from markdown_lab_spark.oracle.markdown_converter import convert_to_markdown

    from run import cores

    statuses = {}
    for t in res["trace"]:
        for r in t.groupBy("status").count().collect():
            statuses[r["status"]] = statuses.get(r["status"], 0) + r["count"]
    for s in ("ok", "fetch_miss", "robots_denied"):
        values[f"crawl.status.{s}"] = statuses.get(s, 0)

    # functions.udfs: the convert and chunk UDFs over every page
    page_rows = [(u, h) for u, _ts, h, _t, _l in inputs.corpus.rows
                 if not u.endswith(("/robots.txt", "/sitemap.xml"))]
    pages = inputs.pages.filter(~F.col("url").rlike(r"/(robots\.txt|sitemap\.xml)$"))
    with tracer.span("measure.udfs.convert"):
        t = time.perf_counter()
        md = pages.select(
            convert_markdown_udf(F.col("html"), F.col("url")).alias("doc")
        ).select(F.col("doc.markdown").alias("markdown")).localCheckpoint(eager=True)
        convert_s = time.perf_counter() - t
    n_docs = len(page_rows)
    with tracer.span("measure.udfs.chunk"):
        t = time.perf_counter()
        n_chunks = md.select(F.size(chunk_markdown_udf(F.col("markdown"))).alias("n")) \
            .agg(F.sum("n")).collect()[0][0]
        chunk_s = time.perf_counter() - t
    values["udfs.convert_ms_per_doc"] = 1000 * convert_s / n_docs
    values["udfs.convert_html_mb_per_s"] = sum(len(h) for _u, h in page_rows) / convert_s / 1e6
    values["udfs.chunk_ms_per_doc"] = 1000 * chunk_s / n_docs
    values["udfs.chunks_per_doc"] = n_chunks / n_docs

    # oracle: the single-thread driver converter on the same pages
    sample = page_rows[:200]
    with tracer.span("measure.oracle.convert"):
        t = time.perf_counter()
        for u, h in sample:
            convert_to_markdown(h.decode("utf-8"), u)
        oracle_ms = 1000 * (time.perf_counter() - t) / len(sample)
    values["oracle.convert_ms_per_doc"] = oracle_ms
    values["udfs.arrow_overhead_ratio"] = values["udfs.convert_ms_per_doc"] * cores() / oracle_ms

    # frontier.politeness and the robots filter, on every page URL
    frontier = _page_frontier(spark, inputs.pages)
    n_front = frontier.count()
    cfg = wl.config(wl.waves)
    with tracer.span("measure.politeness.schedule_wave"):
        t = time.perf_counter()
        scheduled, deferred = schedule_wave(frontier, cfg.budget, salt_n=cfg.salt_n)
        per_host = [r["count"] for r in scheduled.groupBy("host").count().collect()]
        deferred.count()
        values["politeness.schedule_s"] = time.perf_counter() - t
    values["politeness.rows_per_s"] = n_front / values["politeness.schedule_s"]
    values["politeness.host_skew"] = max(per_host) / statistics.median(per_host)
    with tracer.span("measure.robots.filter"):
        t = time.perf_counter()
        allowed, denied = robots_filter(frontier, res["engine"].host_rules)
        n_allowed, n_denied = allowed.count(), denied.count()
        values["robots.filter_s"] = time.perf_counter() - t
    values["robots.denied_ratio"] = n_denied / (n_allowed + n_denied)

    seen = res["seen"].select("canon_url", "host").localCheckpoint(eager=True)
    seen_rows = seen.collect()
    urls = [r["canon_url"] for r in seen_rows]
    hosts = [r["host"] for r in seen_rows]
    # candidates: every seen URL plus as many never-seen URLs on the same hosts
    probe_urls = urls + [u + "?perfbench-unseen" for u in urls]
    probe_hosts = hosts + hosts
    candidates = spark.createDataFrame(
        list(zip(probe_urls, probe_hosts)), "canon_url string, host string"
    ).localCheckpoint(eager=True)
    # the crawl itself runs the cuckoo path (TTL mode); the bloom path of
    # a plain crawl is measured on the same keys
    _bloom_layers(spark, cfg, seen, urls, hosts, probe_urls, probe_hosts,
                  candidates, tracer, values)
    _cuckoo_layers(spark, cfg, urls, probe_urls, candidates, seen, tracer, values)
    _state_layers(spark, wl, inputs, res, tracer, values)


def _bloom_layers(spark, cfg, seen, urls, hosts, probe_urls, probe_hosts,
                  candidates, tracer, values) -> None:
    import numpy as np

    from markdown_lab_spark.frontier.bloom import ShardedBloom
    from markdown_lab_spark.frontier.crawler import bloom_antijoin

    def build():
        b = ShardedBloom(cfg.bloom_shards, cfg.bloom_capacity_per_shard, cfg.bloom_fpr)
        b.add(urls, hosts)
        return b

    with tracer.span("measure.bloom.build"):
        values["bloom.build_keys_per_s"] = len(urls) / _timed(build)
    bloom = build()
    with tracer.span("measure.bloom.probe"):
        per_call = _timed(lambda: bloom.contains(probe_urls, probe_hosts))
    values["bloom.probe_keys_per_s"] = len(probe_urls) / per_call
    hits = bloom.contains(probe_urls, probe_hosts)
    is_seen = np.arange(len(probe_urls)) < len(urls)
    values["bloom.pass_ratio"] = float((hits & is_seen).sum() / max(1, hits.sum()))
    with tracer.span("measure.bloom.antijoin"):
        t = time.perf_counter()
        bloom_antijoin(candidates, seen, bloom, spark).count()
        values["bloom.antijoin_s"] = time.perf_counter() - t


def _cuckoo_layers(spark, cfg, urls, probe_urls, candidates, seen, tracer,
                   values) -> None:
    from markdown_lab_spark.frontier.crawler import cuckoo_antijoin
    from markdown_lab_spark.frontier.cuckoo import ShardedCuckoo

    def fresh():
        return ShardedCuckoo(cfg.cuckoo_shards, -(-cfg.cuckoo_capacity // cfg.cuckoo_shards))

    inserted = {}

    def insert():
        c = fresh()
        inserted["n"] = c.add(urls)
        return c

    with tracer.span("measure.cuckoo.insert"):
        values["cuckoo.insert_keys_per_s"] = len(urls) / _timed(insert)
    values["cuckoo.insert_failures"] = len(urls) - inserted["n"]
    filled = [insert() for _ in range(32)]  # a delete needs a full filter
    with tracer.span("measure.cuckoo.delete"):
        t = time.perf_counter()
        for c in filled:
            c.delete(urls)
        delete_s = time.perf_counter() - t
    values["cuckoo.delete_keys_per_s"] = len(urls) * len(filled) / delete_s
    cuckoo = insert()
    unseen = probe_urls[len(urls):]
    values["cuckoo.observed_fpr"] = float(cuckoo.contains(unseen).mean())
    with tracer.span("measure.cuckoo.antijoin"):
        t = time.perf_counter()
        cuckoo_antijoin(candidates, seen, cuckoo, spark).count()
        values["cuckoo.antijoin_s"] = time.perf_counter() - t


def _state_layers(spark, wl, inputs, res, tracer, values) -> None:
    """Resume read, checkpoint bytes, partition skew and wave timings."""
    from markdown_lab_spark.frontier.crawler import CrawlEngine, checkpoint_sizes

    engine = CrawlEngine(spark, inputs.pages, wl.config(wl.waves + wl.resume_waves),
                         checkpoint_dir=res["ckpt"])
    with tracer.span("measure.state.resume_state"):
        t = time.perf_counter()
        frontier, seen_state, _next = engine.resume_state()
        frontier.count()
        seen_state.count()
        values["state.resume_state_s"] = time.perf_counter() - t
    sizes = checkpoint_sizes(res["ckpt"])
    values["checkpoint.bytes_per_wave"] = sum(sizes.values()) / len(sizes)
    values["checkpoint.bytes_per_url"] = sum(sizes.values()) / res["items"]
    metrics = spark.read.parquet(os.path.join(res["ckpt"], "wave=*", "metrics"))
    per_part: Dict[int, List[int]] = {}
    for r in metrics.groupBy("wave", "partition_id").sum("rows").collect():
        per_part.setdefault(r["wave"], []).append(r["sum(rows)"])
    values["crawl.partition_skew"] = statistics.median(
        max(rows) / statistics.median(rows) for rows in per_part.values()
    )
    values["waves.first_s"] = res["first_wave_s"]
    values["waves.gap_s"] = statistics.median(res["wave_gaps"])
    values["waves.resume_s"] = res["resume_s"]


def _dedup_layers(spark, inputs, tracer: Tracer, values: Dict[str, float]) -> None:
    from pyspark.sql import functions as F

    from markdown_lab_spark.functions.dedup import (
        connected_components,
        exact_dedup,
        minhash_lsh_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        shingles,
    )

    docs = inputs.docs
    with tracer.span("measure.dedup.exact"):
        t = time.perf_counter()
        exact_dedup(docs, "doc_id", "text").filter("dup_count > 1").collect()
        values["dedup.exact_s"] = time.perf_counter() - t
    with tracer.span("measure.dedup.minhash"):
        t = time.perf_counter()
        sigs = minhash_signatures(docs, "doc_id", "text").localCheckpoint(eager=True)
        values["dedup.minhash_s"] = time.perf_counter() - t
    with tracer.span("measure.dedup.lsh"):
        cand = minhash_lsh_pairs(sigs, "doc_id", min_est_jaccard=0.0) \
            .select("id_a", "id_b").localCheckpoint(eager=True)
        values["dedup.lsh_candidates"] = cand.count()
    with tracer.span("measure.dedup.jaccard"):
        t = time.perf_counter()
        pairs = ngram_jaccard_pairs(docs, "doc_id", "text") \
            .select("id_a", "id_b").localCheckpoint(eager=True)
        values["dedup.jaccard_pairs_s"] = time.perf_counter() - t
    verified = cand.join(pairs, ["id_a", "id_b"]).localCheckpoint(eager=True)
    values["dedup.verified_pairs"] = verified.count()
    values["dedup.lsh_precision"] = (
        values["dedup.verified_pairs"] / values["dedup.lsh_candidates"]
        if values["dedup.lsh_candidates"] else 0.0
    )
    df = (
        docs.select("doc_id", F.explode(shingles(F.col("text"), 3)).alias("sh"))
        .dropDuplicates(["doc_id", "sh"])
        .groupBy("sh").count()
    )
    values["dedup.jaccard_join_rows"] = df.select(
        F.sum(F.col("count") * (F.col("count") - 1) / 2)
    ).collect()[0][0]
    group = "perfbench-cc"
    spark.sparkContext.setJobGroup(group, group)
    try:
        with tracer.span("measure.dedup.connected_components"):
            t = time.perf_counter()
            connected_components(verified).count()
            values["dedup.cc_s"] = time.perf_counter() - t
    finally:
        spark.sparkContext.setJobGroup("", "")
    values["dedup.cc_jobs"], _ = _jobs_and_stages(spark, group)
