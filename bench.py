#!/usr/bin/env python
"""Benchmark harness.

Headline: URLs processed/sec through frontier + fetch(corpus join) +
convert + chunk on a deterministic synthetic Common-Crawl-style corpus
sized to the scale factor, plus per-query timings of the contract queries
at ``$SPARK_GRAFT_SF_DIR``.

Prints ONE JSON line:
  {"metric": "...", "value": <headline seconds>, "unit": "sec",
   "queries": {...}, "sf": ..., "urls_per_sec": ..., "scaling": {...}}

``--scaling`` additionally runs the identical crawl at local[N/4] and
local[N] and reports throughput at both plus efficiency (T_N/T_{N/4})/4
(the sandbox proxy for the north rule's N vs 4N executors), appending the
table to BENCH.md.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS  (default 32).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# crawl corpus size scales with the sf directory's lineitem scale
# (hosts, pages_per_host) — sf0.1 = 200k pages so UDF compute dominates
# Spark's fixed per-job overhead and the scaling signal is real
_CORPUS_SIZE = {"sf0.001": (4, 250), "sf0.01": (6, 2500), "sf0.1": (8, 25000)}
BENCH_QUERIES = [
    "q60_dedup_clusters",
    "q15_text_chunks",
    "q18_dedup_exact",
    "q20_minhash_lsh_pairs",
    "q23_cosine_topk",
    "q25_lang_quality",
    "q27_tokens_fingerprint",
    "q30_agg_parity",
    "q31_convert_markdown",
    "q32_chunk_markdown",
    "q35_embedding_neardup_lsh",
    "q37_simhash_hamming",  # carries the folded-in q36 fp leg (round 5)
    "q38_ivf_ann",
    "q33_chunk_semantic",  # carries the folded-in q39 sections leg
    "q40_corpus_curation",
    "q41_multimodal_features",
    "q08_limit_ordered",
    "q63_substring_dedup",
    "q44_events_latest_per_user",
    "q47_png_decode",
    "q48_jpeg_decode",
    "q49_wav_decode",
    "q50_gopher_signals_keep",
    "q52_paragraph_dedup",
    "q53_c4_filter",
    "q54_image_resize",
    "q56_pii_redaction",
    "q57_url_quality_filter",
    "q58_decontaminate",
    "q59_cap_per_group",
    # round-5 continuation promotions (q47 carries the folded-in q55 GIF leg)
    "q64_crawl_delay_cap",
    "q65_canonical_dedup",
    "q66_near_dedup_keep",
    "q67_pack_sequences",
]


def make_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"markdown_lab_spark-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8000")
        # fine scan granularity: ~4x tasks per core so row-group lumpiness
        # can't quantize the stage into a handful of straggler tasks
        .config("spark.sql.files.maxPartitionBytes", str(2 << 20))
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _crawl_leg_subprocess(
    cpus: int, corpus_path: str, attempts: int = 1
) -> tuple[float, int]:
    """Run one crawl leg in a fresh subprocess pinned to ``cpus`` cores.

    Models an n-core machine: the JVM and every python worker it forks
    inherit the taskset mask, so the low-parallelism leg can't borrow idle
    cores for JVM scan/arrow threads (which would inflate its throughput
    and understate scaling efficiency).
    """
    import subprocess

    cmd = [
        "taskset", "-c", f"0-{cpus - 1}",
        sys.executable, os.path.abspath(__file__), "--crawl-leg", corpus_path,
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    best: tuple[float, int] | None = None
    for _attempt in range(attempts):  # best-of-N: local runs are noisy
        out = subprocess.run(
            cmd, env=env, capture_output=True, text=True, timeout=3000
        )
        for line in out.stdout.splitlines():
            if line.startswith("{"):
                leg = json.loads(line)
                if best is None or leg["sec"] < best[0]:
                    best = (leg["sec"], leg["urls"])
                break
        else:
            raise RuntimeError(f"crawl leg failed: {out.stderr[-2000:]}")
    assert best is not None
    return best


def corpus_parquet(tag: str) -> str:
    """Generate (once) the bench corpus parquet; cached in a temp dir."""
    from markdown_lab_spark.corpus.generator import (
        CorpusSpec,
        generate_corpus,
        write_corpus_parquet,
    )

    hosts, per_host = _CORPUS_SIZE.get(tag, (6, 2000))
    path = os.path.join(
        tempfile.gettempdir(), f"mls_bench_corpus_{tag}_{hosts}x{per_host}.parquet"
    )
    if not os.path.exists(path):
        corpus = generate_corpus(
            CorpusSpec(hosts=hosts, pages_per_host=per_host, hot_fraction=0.4)
        )
        write_corpus_parquet(corpus, path)
    return path


def crawl_run(spark, corpus_path: str, waves: int = 2) -> tuple[float, int]:
    """Steady-state crawl throughput: the frontier is seeded with every
    page URL (a deep frontier mid-crawl), so wave 0 drives the full
    anti-join -> robots -> politeness -> fetch-join -> convert -> chunk ->
    link-expansion pipeline over the whole corpus; wave 1 handles the
    leftovers. Returns (seconds, urls_processed)."""
    from pyspark.sql import functions as F

    from markdown_lab_spark.frontier.crawler import CrawlConfig, CrawlEngine

    pages = spark.read.parquet(corpus_path)
    seeds = pages.select("url").filter(
        ~F.col("url").rlike(r"/(robots\.txt|sitemap\.xml)$")
    )
    cfg = CrawlConfig(
        rps=10000.0, wave_seconds=10, max_waves=waves, salt_n=16,
        # deep-frontier A/B knobs (BENCH.md round-5: the 16x dip;
        # MLS_TAIL_RANK implies lazy_deferred — frontier/tail.py)
        lazy_deferred=os.environ.get("MLS_LAZY_DEFERRED") == "1"
        or os.environ.get("MLS_TAIL_RANK") == "1",
    )
    engine = CrawlEngine(spark, pages, cfg)
    t0 = time.time()
    out = engine.crawl(seeds)
    n = out["trace"].count()
    # chunks are lazy since the round-2 wave fusion — consuming them here
    # keeps the Rust-semantics chunker inside the measured headline
    out["chunks"].count()
    dt = time.time() - t0
    return dt, n


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    times: dict[str, float] = {}
    for name in BENCH_QUERIES:
        if name not in qs:
            continue
        # min-of-2: same tenancy-noise rationale as the headline legs
        best = None
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        times[name] = round(best, 3)
    return times


def input_scaling_run() -> None:
    """Round-3 verdict item: measure the 8->32-core efficiency at 1x AND
    4x input on the SAME job, testing the fixed-cost model's prediction
    (BENCH.md: T(c) = F + P*k(c)/c, F ~ 29 s driver-side) that efficiency
    rises toward the 0.62 single-bus hardware ceiling as input grows.
    Appends the measured table + model comparison to BENCH.md."""
    from markdown_lab_spark.corpus.generator import (
        CorpusSpec,
        generate_corpus,
        write_corpus_parquet,
    )

    legs = {}
    # round-4: added the 8x leg (verdict item 8) to confirm the two-point
    # asymptote (~0.49 on this box) empirically; fewer attempts at 8x
    # because each run is ~8 min and the longer wall itself averages noise
    # round-5: added the 16x leg (verdict item 8) to extend the monotone
    # efficiency curve toward the fitted asymptote
    for label, per_host, attempts in (
        ("1x", 25000, 3),
        ("4x", 100000, 3),
        ("8x", 200000, 2),
        ("16x", 400000, 2),
    ):
        path = os.path.join(
            tempfile.gettempdir(), f"mls_bench_corpus_scale_{label}_8x{per_host}.parquet"
        )
        if not os.path.exists(path):
            corpus = generate_corpus(
                CorpusSpec(hosts=8, pages_per_host=per_host, hot_fraction=0.4)
            )
            write_corpus_parquet(corpus, path)
        for cpus in (8, 32):
            sec, urls = _crawl_leg_subprocess(cpus, path, attempts=attempts)
            legs[(label, cpus)] = (sec, urls)
            print(
                json.dumps(
                    {
                        "leg": label,
                        "cpus": cpus,
                        "sec": round(sec, 3),
                        "urls": urls,
                        "urls_per_sec": round(urls / sec, 1),
                    }
                ),
                flush=True,
            )

    lines = [
        "",
        f"## Input-scaling run — {time.strftime('%Y-%m-%d %H:%M')} "
        "(identical job, 1x vs 4x corpus, taskset-pinned best-of-3)",
        "",
        "| corpus | URLs | local[8] URLs/s | local[32] URLs/s | efficiency |",
        "|---|---|---|---|---|",
    ]
    effs = {}
    for label in ("1x", "4x", "8x", "16x"):
        s8, u8 = legs[(label, 8)]
        s32, u32 = legs[(label, 32)]
        eff = (u32 / s32) / (u8 / s8) / 4
        effs[label] = eff
        lines.append(
            f"| {label} | {u32} | {u8 / s8:.1f} | {u32 / s32:.1f} "
            f"| **{eff:.3f}** |"
        )
    lines += [
        "",
        f"Measured efficiency moved {effs['1x']:.3f} (1x) -> "
        f"{effs['4x']:.3f} (4x) -> {effs['8x']:.3f} (8x) -> "
        f"{effs['16x']:.3f} (16x input). The fixed-cost model "
        "(T(c) = F + P*k/c, F ~ 14-24 s) predicts the curve approaches "
        "~0.54 asymptotically on this single-memory-bus box (hardware "
        "control ceiling 0.62 from the plain-multiprocessing drill).",
    ]
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.md"), "a"
    ) as f:
        f.write("\n".join(lines) + "\n")
    summary = {"input_scaling": {k[0] + "_" + str(k[1]): v for k, v in {
        (label, cpus): round(legs[(label, cpus)][1] / legs[(label, cpus)][0], 1)
        for label in effs for cpus in (8, 32)
    }.items()}}
    for label, eff in effs.items():
        summary[f"efficiency_{label}"] = round(eff, 3)
    print(json.dumps(summary))


def main() -> None:
    if "--input-scaling" in sys.argv:
        input_scaling_run()
        return
    if "--crawl-leg" in sys.argv:
        corpus_path = sys.argv[sys.argv.index("--crawl-leg") + 1]
        spark = make_spark(CPUS)
        sec, urls = crawl_run(spark, corpus_path)
        spark.stop()
        print(json.dumps({"sec": sec, "urls": urls}))
        return

    scaling_mode = "--scaling" in sys.argv
    tag = os.path.basename(SF_DIR.rstrip("/"))
    corpus_path = corpus_parquet(tag)

    result: dict = {
        "metric": "crawl+convert+chunk pipeline wall sec (headline) and per-query sec",
        "unit": "sec",
        "sf": tag,
        "cpus": CPUS,
    }

    # best-of-N: this shared VM shows 2-3x run-to-run noise from outside
    # tenants (loadavg 6-9 with no local processes) — the minimum is the
    # only statistic that approximates an idle machine. In scaling mode
    # the hi/low legs are INTERLEAVED (32,8,32,8,...) so slow tenancy
    # drift biases both legs equally instead of whichever ran later.
    if scaling_mode:
        low = max(1, CPUS // 4)
        best_hi: tuple | None = None
        best_lo: tuple | None = None
        for _ in range(3):
            hi = _crawl_leg_subprocess(CPUS, corpus_path, attempts=1)
            lo = _crawl_leg_subprocess(low, corpus_path, attempts=1)
            if best_hi is None or hi[0] < best_hi[0]:
                best_hi = hi
            if best_lo is None or lo[0] < best_lo[0]:
                best_lo = lo
        crawl_sec, n_urls = best_hi
        crawl_low_sec, n_low = best_lo
    else:
        # best-of-3 for the recorded headline too: a single attempt on
        # this shared VM is a tenancy lottery (same binary measured
        # 35.8-90.6 s across four runs), and the per-round BENCH_r{N}
        # comparison is only meaningful against the machine's capability
        crawl_sec, n_urls = _crawl_leg_subprocess(CPUS, corpus_path, attempts=3)

    spark = make_spark(CPUS)
    qtimes = run_queries(spark, SF_DIR)
    spark.stop()

    result["value"] = round(crawl_sec, 3)
    result["urls_processed"] = n_urls
    result["urls_per_sec"] = round(n_urls / crawl_sec, 1)
    result["queries"] = qtimes

    if scaling_mode:
        tput_hi = n_urls / crawl_sec
        tput_lo = n_low / crawl_low_sec
        eff = (tput_hi / tput_lo) / (CPUS / low)
        result["scaling"] = {
            f"local[{low}]_urls_per_sec": round(tput_lo, 1),
            f"local[{CPUS}]_urls_per_sec": round(tput_hi, 1),
            "parallelism_ratio": CPUS / low,
            "efficiency": round(eff, 3),
        }
        _append_bench_md(result, low)

    print(json.dumps(result))


def _append_bench_md(result: dict, low: int) -> None:
    s = result["scaling"]
    cpus = result["cpus"]
    tput_lo = s[f"local[{low}]_urls_per_sec"]
    tput_hi = s[f"local[{cpus}]_urls_per_sec"]
    lines = [
        "",
        f"## Scaling run — {time.strftime('%Y-%m-%d %H:%M')} (sf={result['sf']})",
        "",
        "| parallelism | URLs/sec |",
        "|---|---|",
        f"| local[{low}] | {tput_lo} |",
        f"| local[{cpus}] | {tput_hi} |",
        "",
        f"Scaling efficiency (T_{cpus}/T_{low})/{cpus // low}"
        f" = **{s['efficiency']}** (north-rule target >= 0.8 from N to 4N).",
        f"Headline crawl: {result['urls_processed']} URLs in {result['value']}s"
        f" = {result['urls_per_sec']} URLs/sec at local[{cpus}].",
    ]
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.md"), "a") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
