"""End-to-end curation pipeline (scripts/run_curation.py): stage order,
survivor accounting, and the stage interactions a real corpus hits."""

from __future__ import annotations

import json
import sys

import pytest
from pyspark.sql import functions as F


_TEMPLATES = [
    "Researchers at site {s} reported that the new tool improves results.",
    "However the team near region {s} found another way to measure it.",
    "Many people in town {s} believe the old method was quite reliable.",
    "Data from survey {s} shows a clear trend over several busy years.",
    "The council of district {s} agreed to publish all figures soon.",
    "Critics argue that project {s} still needs better documentation today.",
]


def _sentences(seed: int, n: int = 6) -> str:
    # line-varied prose: within-doc duplicate n-gram fraction stays low
    # (gopher_keep is a real gate here, not a rubber stamp)
    return "\n".join(
        _TEMPLATES[i % len(_TEMPLATES)].format(s=seed * 100 + i) for i in range(n)
    )


@pytest.fixture()
def corpus(spark, tmp_path):
    rows = []
    # 40 clean unique docs
    for i in range(40):
        rows.append((i, _sentences(i)))
    # exact duplicates of docs 0..4 (ids 100..104)
    for i in range(5):
        rows.append((100 + i, _sentences(i)))
    # a near-dup chain of doc 10 (ids 200, 201): successive number edits
    base = _sentences(10)
    rows.append((200, base.replace("1000", "7770")))
    rows.append((201, base.replace("1000", "7770").replace("1001", "7771")))
    # C4 page-drop: lorem ipsum marker
    rows.append((300, _sentences(77) + "\nlorem ipsum dolor sit amet here."))
    # quality drop: word soup
    rows.append((301, "zzz qqq kkk " * 30))
    # contaminated: contains the benchmark passage verbatim
    bench_text = (
        "the held out evaluation passage that must never appear in the "
        "training corpus because it is part of the benchmark suite itself"
    )
    rows.append((302, _sentences(88) + "\n" + bench_text + " and more."))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    bench = spark.createDataFrame([(bench_text,)], ["text"])
    bpath = str(tmp_path / "bench.parquet")
    bench.write.parquet(bpath)
    return inp, bpath


def _run(monkeypatch, capsys, argv):
    import run_curation  # noqa: PLC0415  (scripts/ on path via conftest-less insert)

    monkeypatch.setattr(sys, "argv", ["run_curation.py", *argv])
    assert run_curation.main() == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out)["curation"]


def test_pipeline_stages_and_accounting(spark, corpus, tmp_path, monkeypatch, capsys):
    import os
    import sys as _sys

    scripts_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    )
    _sys.path.insert(0, scripts_dir)
    inp, bench = corpus
    outdir = str(tmp_path / "out")
    counts = _run(
        monkeypatch,
        capsys,
        [
            "--input", inp, "--output", outdir, "--bench", bench,
            "--min-jaccard", "0.7", "--target-len", "256", "--pack-buckets", "1",
        ],
    )
    # monotone survivor counts through the gate stages
    order = [k for k in (
        "input", "lang_quality", "c4", "gopher", "exact_dedup",
        "fuzzy_dedup", "decontaminated",
    ) if k in counts]
    vals = [counts[k] for k in order]
    assert vals == sorted(vals, reverse=True)
    assert counts["input"] == 50
    assert counts["lang_quality"] <= 49  # word soup out
    assert counts["c4"] <= counts["lang_quality"] - 1  # lorem ipsum out
    # exact dedup removes the five verbatim copies
    assert counts["exact_dedup"] == counts["gopher"] - 5
    # fuzzy dedup collapses the near-dup chain {10's variants}
    assert counts["fuzzy_dedup"] <= counts["exact_dedup"] - 2
    # decontamination removes the benchmark-overlap doc
    assert counts["decontaminated"] == counts["fuzzy_dedup"] - 1
    # outputs exist and are consistent
    final = spark.read.parquet(f"{outdir}/documents.parquet")
    ids = {r["doc_id"] for r in final.select("doc_id").collect()}
    assert counts["decontaminated"] == len(ids)
    assert 302 not in ids and 301 not in ids and 300 not in ids
    assert {100, 101, 102, 103, 104} & ids == set()  # exact dups gone
    assert 200 not in ids and 201 not in ids  # chain collapsed to doc 10
    assert 10 in ids
    packing = spark.read.parquet(f"{outdir}/packing.parquet")
    assert packing.count() == len(ids)
    assert counts["packs"] >= 1 and counts["mean_fill"] > 0.5


def test_pipeline_perplexity_stage(spark, corpus, tmp_path, monkeypatch, capsys):
    """--lm-ref enables the CCNet-style cut: an LM trained on the clean
    template prose ranks a planted gibberish doc in the worst tercile."""
    import os
    import sys as _sys

    scripts_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    )
    _sys.path.insert(0, scripts_dir)
    inp, _bench = corpus
    # trusted reference = the same template distribution (fresh seeds)
    ref = spark.createDataFrame(
        [(1000 + i, _sentences(1000 + i)) for i in range(30)], ["doc_id", "text"]
    )
    refp = str(tmp_path / "ref.parquet")
    ref.select("text").write.parquet(refp)
    # input: clean docs + one high-perplexity scrambled doc that passes
    # the earlier gates (real words, varied lines)
    # reversed word order (destroys the n-gram structure) but lines still
    # end in terminal punctuation so the C4 line rule keeps them
    scramble = "\n".join(
        " ".join(reversed(_TEMPLATES[i % 6].format(s=i).rstrip(".").split()))
        + " anyway."
        for i in range(8)
    )
    docs = spark.createDataFrame(
        [(i, _sentences(i)) for i in range(20)] + [(900, scramble)],
        ["doc_id", "text"],
    )
    inp2 = str(tmp_path / "docs2.parquet")
    docs.write.parquet(inp2)
    outdir = str(tmp_path / "out_lm")
    counts = _run(
        monkeypatch,
        capsys,
        [
            "--input", inp2, "--output", outdir, "--lm-ref", refp,
            "--no-fuzzy-dedup", "--target-len", "0",
        ],
    )
    assert counts["perplexity"] < counts["exact_dedup"]
    ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{outdir}/documents.parquet").collect()
    }
    assert 900 not in ids  # the scrambled doc fell in the kept-out tercile


def test_pipeline_stage_flags_disable(spark, corpus, tmp_path, monkeypatch, capsys):
    import os
    import sys as _sys

    scripts_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    )
    _sys.path.insert(0, scripts_dir)
    inp, _bench = corpus
    outdir = str(tmp_path / "out2")
    counts = _run(
        monkeypatch,
        capsys,
        [
            "--input", inp, "--output", outdir, "--no-c4", "--no-gopher",
            "--no-exact-dedup", "--no-fuzzy-dedup", "--lang", "",
            "--min-quality", "0", "--sample", "0.5", "--target-len", "0",
        ],
    )
    assert "c4" not in counts and "packs" not in counts
    assert 0 < counts["sampled"] < counts["input"]


def test_pipeline_substr_dedup_and_wet_out(
    spark, corpus, tmp_path, monkeypatch, capsys
):
    import os
    import sys as _sys

    scripts_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    )
    if scripts_dir not in _sys.path:
        _sys.path.insert(0, scripts_dir)
    inp, _bpath = corpus
    out = str(tmp_path / "out_substr")
    wet = str(tmp_path / "wet_out")
    counts = _run(
        monkeypatch,
        capsys,
        [
            "--input", inp, "--output", out, "--wet-out", wet,
            "--substr-dedup-len", "8", "--no-fuzzy-dedup",
            "--target-len", "0", "--lang", "", "--min-quality", "0.0",
            "--no-c4", "--no-gopher", "--no-exact-dedup",
        ],
    )
    # the exact-dup family (ids 0..4 vs 100..104) consists of whole-doc
    # duplicated spans: substring dedup guts BOTH copies below the
    # 10-token floor, so all 10 rows drop; near-dup chain keeps its
    # unique-number remainder or drops — accounting must reflect a cut
    assert counts["substr_dedup"] < counts["input"]
    assert counts["wet_records"] == counts["substr_dedup"]
    assert counts["wet_files"] >= 1

    from markdown_lab_spark.sources.warc import read_warc

    back = read_warc(spark, wet).filter("warc_type = 'conversion'")
    assert back.count() == counts["substr_dedup"]
    assert back.filter(back.url.startswith("urn:mls:doc:")).count() == back.count()

    # the surviving corpus has no cross-doc duplicated 8-token span
    from markdown_lab_spark.functions.dedup import duplicate_window_starts

    survivors = spark.read.parquet(os.path.join(out, "documents.parquet"))
    assert duplicate_window_starts(survivors, "doc_id", "text", 8).count() == 0


def test_pipeline_classifier_stage(spark, tmp_path, monkeypatch, capsys):
    """--classifier-ref enables the GPT-3-appendix-A-shaped model filter:
    positives = trusted reference prose, negatives = the corpus itself;
    spam-vocabulary docs score below threshold and drop, the prose docs
    survive. Runs both the closed-form NB path and the logreg-refined
    path."""
    import os
    import sys as _sys

    scripts_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    )
    if scripts_dir not in _sys.path:
        _sys.path.insert(0, scripts_dir)
    ref = spark.createDataFrame(
        [(2000 + i, _sentences(2000 + i)) for i in range(20)],
        ["doc_id", "text"],
    )
    refp = str(tmp_path / "clf_ref.parquet")
    ref.select("text").write.parquet(refp)
    spam = [
        "the casino bonus is free and you can win cheap pills now {i}.",
        "click here for the free offer and buy cheap followers today {i}.",
        "win the jackpot now with free spins at the casino site {i}.",
    ]
    docs = spark.createDataFrame(
        [(i, _sentences(i)) for i in range(10)]
        + [
            (800 + i, "\n".join(s.format(i=j) for j, s in enumerate(spam)))
            for i in range(3)
        ],
        ["doc_id", "text"],
    )
    inp = str(tmp_path / "clf_docs.parquet")
    docs.write.parquet(inp)
    for extra, tag in ([], "nb"), (["--classifier-iters", "3"], "lr"):
        outdir = str(tmp_path / f"out_clf_{tag}")
        counts = _run(
            monkeypatch,
            capsys,
            [
                "--input", inp, "--output", outdir,
                "--classifier-ref", refp, "--classifier-neg-sample", "1.0",
                "--classifier-min-df", "2",
                "--no-c4", "--no-gopher", "--no-exact-dedup",
                "--no-fuzzy-dedup", "--lang", "", "--min-quality", "0",
                "--target-len", "0", *extra,
            ],
        )
        ids = {
            r["doc_id"]
            for r in spark.read.parquet(f"{outdir}/documents.parquet").collect()
        }
        assert counts["classifier"] < counts["input"], tag
        assert not {800, 801, 802} & ids, tag  # spam dropped
        assert len(ids & set(range(10))) >= 8, tag  # prose survives


def test_pipeline_mix_and_unigram_tokenizer(spark, tmp_path, monkeypatch, capsys):
    """--mix-alpha flattens the source mix (big source down-sampled,
    small kept whole); --unigram-vocab packs by Unigram token counts."""
    import os
    import sys as _sys

    scripts_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    )
    if scripts_dir not in _sys.path:
        _sys.path.insert(0, scripts_dir)
    docs = spark.createDataFrame(
        [(i, _sentences(i), "crawl") for i in range(60)]
        + [(1000 + i, _sentences(1000 + i), "books") for i in range(6)],
        ["doc_id", "text", "source"],
    )
    inp = str(tmp_path / "mix_docs.parquet")
    docs.write.parquet(inp)
    outdir = str(tmp_path / "out_mix")
    counts = _run(
        monkeypatch,
        capsys,
        [
            "--input", inp, "--output", outdir,
            "--mix-alpha", "0.0",
            "--no-c4", "--no-gopher", "--no-exact-dedup",
            "--no-fuzzy-dedup", "--lang", "", "--min-quality", "0",
            "--unigram-vocab", "80", "--target-len", "256",
        ],
    )
    assert counts["mixed"] < counts["input"]
    assert counts["unigram_pieces"] >= 80  # chars + learned pieces
    assert counts["packs"] >= 1
    out = spark.read.parquet(f"{outdir}/documents.parquet")
    by = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by.get("books", 0) == 6          # small source kept whole
    assert by.get("crawl", 0) < 60          # big source flattened down


def test_pipeline_dsir_stage(spark, corpus, tmp_path, monkeypatch, capsys):
    """--dsir-ref selects exactly k docs, biased toward the target's
    hashed-n-gram distribution: a planted off-distribution vocabulary
    block loses to template prose at every selection margin."""
    import os
    import sys as _sys

    scripts_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    )
    if scripts_dir not in _sys.path:
        _sys.path.insert(0, scripts_dir)
    # target = template prose (fresh seeds)
    ref = spark.createDataFrame(
        [(2000 + i, _sentences(2000 + i)) for i in range(20)], ["doc_id", "text"]
    )
    refp = str(tmp_path / "dsir_ref.parquet")
    ref.select("text").write.parquet(refp)
    # raw = 20 template docs + 10 finance-vocabulary docs (valid prose,
    # pass the gates, but off the target distribution)
    off = [
        (800 + i,
         "\n".join(
             f"Quarterly earnings for ticker {800 + i}{j} beat forecast "
             "estimates while bond yields dropped again." for j in range(6)
         ))
        for i in range(10)
    ]
    docs = spark.createDataFrame(
        [(i, _sentences(i)) for i in range(20)] + off, ["doc_id", "text"]
    )
    inp = str(tmp_path / "docs_dsir.parquet")
    docs.write.parquet(inp)
    outdir = str(tmp_path / "out_dsir")
    counts = _run(
        monkeypatch,
        capsys,
        [
            "--input", inp, "--output", outdir, "--dsir-ref", refp,
            "--dsir-k", "12", "--dsir-buckets", "256",
            "--no-fuzzy-dedup", "--target-len", "0",
        ],
    )
    assert counts["dsir"] == 12
    ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{outdir}/documents.parquet").collect()
    }
    assert len(ids) == 12
    # the majority of selections are target-like (importance-weighted,
    # not uniform: 12 of 30 uniform picks would average 4 off-docs)
    assert len([i for i in ids if i < 800]) >= 10


def test_pipeline_semdedup_stage(spark, tmp_path, monkeypatch, capsys):
    """--semdedup-threshold removes within-cell semantic near-dups over
    the input's embedding column, keeping one member per group."""
    import os
    import sys as _sys

    scripts_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    )
    if scripts_dir not in _sys.path:
        _sys.path.insert(0, scripts_dir)
    # 12 docs in 3 embedding directions; first direction holds a
    # 3-member duplicate family (near-identical vectors)
    def v(d, eps):
        base = [0.0, 0.0, 0.0]
        base[d] = 1.0
        base[(d + 1) % 3] = eps
        return base

    rows = [
        (i, _sentences(i), v(i % 3, 0.001 * (i // 3)) if i < 3 else v(i % 3, 0.3 + 0.01 * i))
        for i in range(12)
    ]
    # ids 0,1,2 are spread across directions; make the dup family explicit:
    rows = [(0, _sentences(0), v(0, 0.0)), (1, _sentences(1), v(0, 0.002)),
            (2, _sentences(2), v(0, 0.004))] + [
        (3 + i, _sentences(3 + i), v((3 + i) % 3, 0.25 + 0.05 * i)) for i in range(9)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, embedding array<float>")
    inp = str(tmp_path / "docs_sem.parquet")
    docs.write.parquet(inp)
    outdir = str(tmp_path / "out_sem")
    counts = _run(
        monkeypatch,
        capsys,
        [
            "--input", inp, "--output", outdir,
            "--semdedup-threshold", "0.999", "--semdedup-k", "3",
            "--no-fuzzy-dedup", "--target-len", "0",
        ],
    )
    assert counts["semdedup"] <= counts["exact_dedup"] - 2
    ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{outdir}/documents.parquet").collect()
    }
    assert len(ids & {0, 1, 2}) == 1  # the family collapsed to one member
