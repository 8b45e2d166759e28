"""The benchmark's own tests. Run from the repository root with::

    python3 -m pytest perfbench/selftest.py -q

They pin the metric names and units that ``BENCHMARK.json`` declares to
the ones the code emits, check the tracer, and run each workload briefly
to confirm its output checks pass (a few minutes: each run starts Spark).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_code(bench):
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    assert [(w["name"], w["why"]) for w in bench["workloads"]] == [
        (w.name, w.why) for w in workloads.WORKLOADS.values()
    ]
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(m) for m in layers.PER_LAYER
    ]


def test_benchmark_json_limits(bench):
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer")
             for m in bench[key]]
    assert len(names) == len(set(names))


def test_tracer_nests_spans_and_restores_functions():
    import markdown_lab_spark.frontier.crawler as crawler
    import markdown_lab_spark.functions.dedup as dedup

    before = (crawler.bloom_antijoin, crawler.CrawlEngine.__dict__["crawl"],
              dedup.near_dedup_keep)
    tracer = layers.Tracer()
    tracer.install()
    try:
        assert crawler.bloom_antijoin is not before[0]
        with tracer.span("outer"):
            crawler.checkpoint_sizes("/nonexistent-perfbench-dir")
    finally:
        tracer.uninstall()
    assert (crawler.bloom_antijoin, crawler.CrawlEngine.__dict__["crawl"],
            dedup.near_dedup_keep) == before
    outer, inner = tracer.spans
    assert inner["name"] == "frontier.crawler.checkpoint_sizes"
    assert inner["parent"] == outer["id"]
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_step_lines_are_named_by_step():
    lines = (
        "[mls-timing] w0 isEmpty                         0.10s\n"
        "[mls-timing] w0 route lc                        1.50s\n"
        "[mls-timing] w1 route lc                        0.50s\n"
        "[mls-timing] w1 bloom build                     0.25s\n"
        "unrelated output\n"
    )
    steps = layers._steps(lines)
    assert steps["route"] == pytest.approx(2.0)
    assert steps["candidates"] == pytest.approx(0.1)
    assert steps["filter_build"] == pytest.approx(0.25)
    assert set(steps) == {"route", "candidates", "docs", "state", "filter_build"}


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "0", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_short_run_passes_its_checks(workload):
    proc = _run(workload, trace=0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(run.END_TO_END)
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_emits_every_layer_metric():
    proc = _run("near_dedup", trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    units = {k: v["unit"] for k, v in result["metrics"].items()}
    assert units == {name: unit for name, unit, _b in layers.PER_LAYER}
    values = {k: v["value"] for k, v in result["metrics"].items()}
    # the curation workload never touches the frontier or the converter
    assert values["dedup.verified_pairs"] > 0 and values["dedup.cc_s"] > 0
    assert values["udfs.convert_ms_per_doc"] == 0 and values["cuckoo.antijoin_s"] == 0
    with open(os.path.join(HERE, "out", "spans-near_dedup-5.json")) as f:
        spans = json.load(f)["spans"]
    assert any(s["name"] == "functions.dedup.near_dedup_keep" for s in spans)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    proc = _run("near_dedup", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
