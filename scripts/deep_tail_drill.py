#!/usr/bin/env python
"""Deep-tail wave-cost drill: per-wave wall time vs standing-tail depth.

The claim under test (BENCH.md round-5, frontier/tail.py): with
``lazy_deferred`` (the ranked tail) the per-wave frontier cost is
O(hosts*budget + new candidates) — independent of how deep the standing
tail is — while the default mode re-routes the entire tail through
anti-join/robots/politeness every wave.

Setup: seed the frontier with EVERY page of an 8-host corpus, then give
politeness a budget far below the per-host frontier depth, so a deep
standing tail (~hundreds of k rows) persists across all waves while
each wave fetches only hosts*budget pages. The fetch/convert/chunk work
per wave is identical across modes (same scheduled set — trace equality
is pinned by tests/test_ranked_tail.py), so any per-wave wall
difference IS the tail term.

Usage:
  python scripts/deep_tail_drill.py [corpus.parquet]          # all modes
  python scripts/deep_tail_drill.py --leg MODE corpus.parquet # one leg

Each leg runs in a taskset-pinned subprocess (fresh JVM) and reports
per-wave wall seconds parsed from the engine's MLS_TIMING telemetry.
Appends the comparison table to BENCH.md.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MODES = ("default", "rank", "rank0")
RPS = 250.0  # budget = 2500/host/wave vs ~100k/host standing tail
WAVE_SECONDS = 10
MAX_WAVES = 6
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_corpus() -> str:
    from markdown_lab_spark.corpus.generator import (
        CorpusSpec,
        generate_corpus,
        write_corpus_parquet,
    )

    path = os.path.join(
        tempfile.gettempdir(), "mls_bench_corpus_scale_4x_8x100000.parquet"
    )
    if not os.path.exists(path):
        corpus = generate_corpus(
            CorpusSpec(hosts=8, pages_per_host=100000, hot_fraction=0.4)
        )
        write_corpus_parquet(corpus, path)
    return path


def run_leg(mode: str, corpus_path: str) -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from markdown_lab_spark.frontier.crawler import CrawlConfig, CrawlEngine

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(f"mls-deep-tail-{mode}")
        .config("spark.sql.shuffle.partitions", str(2 * CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(2 << 20))
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    pages = spark.read.parquet(corpus_path)
    seeds = pages.select("url").filter(
        ~F.col("url").rlike(r"/(robots\.txt|sitemap\.xml)$")
    )
    cfg = CrawlConfig(
        rps=RPS, wave_seconds=WAVE_SECONDS, max_waves=MAX_WAVES, salt_n=16,
        lazy_deferred=mode != "default",
        # "rank0": compaction off the wave critical path (maintenance-
        # job posture) — the steady-state per-wave cost
        tail_compact_every=0 if mode == "rank0" else 4,
    )
    engine = CrawlEngine(spark, pages, cfg)
    t0 = time.time()
    out = engine.crawl(seeds)
    n = out["trace"].count()
    out["chunks"].count()
    print(json.dumps({"mode": mode, "sec": time.time() - t0, "urls": n}))
    spark.stop()


def drive(corpus_path: str, modes: tuple[str, ...] = MODES) -> None:
    per_wave: dict[str, dict[int, float]] = {}
    totals: dict[str, tuple[float, int]] = {}
    for mode in modes:
        cmd = [
            "taskset", "-c", f"0-{CPUS - 1}",
            sys.executable, os.path.abspath(__file__), "--leg", mode,
            corpus_path,
        ]
        env = dict(os.environ, MLS_TIMING="1")
        out = subprocess.run(
            cmd, env=env, capture_output=True, text=True, timeout=3600
        )
        waves: dict[int, float] = {}
        for line in out.stdout.splitlines():
            m = re.match(r"\[mls-timing\] w(\d+) \S.*?([\d.]+)s\s*$", line)
            if m:
                waves[int(m.group(1))] = waves.get(int(m.group(1)), 0.0) + float(
                    m.group(2)
                )
            elif line.startswith("{"):
                leg = json.loads(line)
                totals[mode] = (leg["sec"], leg["urls"])
        if mode not in totals:
            raise RuntimeError(
                f"{mode} leg failed: {out.stderr[-2000:]}"
            )
        per_wave[mode] = waves
        print(
            json.dumps(
                {
                    "mode": mode,
                    "sec": round(totals[mode][0], 1),
                    "urls": totals[mode][1],
                    "per_wave": {str(w): round(s, 1) for w, s in sorted(waves.items())},
                }
            ),
            flush=True,
        )

    n_waves = max(len(w) for w in per_wave.values())
    name = os.path.basename(corpus_path)
    lines = [
        "",
        f"## Deep-tail wave-cost drill — {time.strftime('%Y-%m-%d %H:%M')} "
        f"({name}, budget {int(RPS * WAVE_SECONDS)}/host/wave, "
        f"taskset local[{CPUS}])",
        "",
        "Same scheduled set per wave in every mode (trace equality "
        "pinned by tests/test_ranked_tail.py); the per-wave delta IS the "
        "tail term.",
        "",
        "| wave | " + " | ".join(f"{m} s" for m in modes) + " |",
        "|---|" + "---|" * len(modes),
    ]
    for w in range(n_waves):
        lines.append(
            f"| {w} | "
            + " | ".join(
                f"{per_wave[m].get(w, float('nan')):.1f}" for m in modes
            )
            + " |"
        )
    lines.append(
        "| **total** | "
        + " | ".join(f"**{totals[m][0]:.1f}**" for m in modes)
        + " |"
    )
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps({m: round(totals[m][0], 1) for m in modes}))


if __name__ == "__main__":
    if "--leg" in sys.argv:
        i = sys.argv.index("--leg")
        run_leg(sys.argv[i + 1], sys.argv[i + 2])
    else:
        argv = list(sys.argv[1:])
        modes = MODES
        if "--modes" in argv:
            j = argv.index("--modes")
            modes = tuple(argv[j + 1].split(","))
            del argv[j:j + 2]
        drive(argv[0] if argv else default_corpus(), modes)
