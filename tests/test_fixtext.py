"""fix_text: mojibake repair gates (repairs real corruption, never
touches legitimate accented text), double-encoding, normalization,
control stripping, Spark column integration."""

import pytest

from markdown_lab_spark.functions.fixtext import (
    fix_text_str,
    fix_text_udf,
    repair_mojibake_str,
)


def _mojibake(s, rounds=1):
    for _ in range(rounds):
        s = s.encode("utf-8").decode("cp1252")
    return s


def test_repairs_classic_mojibake():
    assert repair_mojibake_str(_mojibake("café")) == "café"
    assert repair_mojibake_str(_mojibake("São Paulo")) == "São Paulo"
    assert repair_mojibake_str(_mojibake("naïve — résumé")) == "naïve — résumé"
    assert repair_mojibake_str(_mojibake("日本語")) == "日本語"
    # the euro sign exercises cp1252's 0x80 block
    assert repair_mojibake_str(_mojibake("price: 5€")) == "price: 5€"


def test_repairs_double_encoding():
    assert repair_mojibake_str(_mojibake("café", rounds=2)) == "café"


def test_never_touches_legitimate_text():
    for s in [
        "plain ascii only",
        "São Paulo",  # legit Portuguese
        "MAÇÃO",  # uppercase accents: strict-utf8 gate rejects repair
        "naïve — résumé",
        "français: être, déjà, garçon",
        "Übermut tut selten gut",
        "ÃŸ?",  # telltale present but decodes to nothing new...
    ]:
        got = repair_mojibake_str(s)
        # either unchanged, or (for the contrived last case) a valid
        # repair — never an exception; the named legit phrases exact
        if s != "ÃŸ?":
            assert got == s, s


def test_latin1_gap_chars():
    # mojibake through latin-1 (not cp1252): 0x81/0x8D-range bytes
    s = "ườ".encode("utf-8").decode("latin-1")
    assert repair_mojibake_str(s) == "ườ"


def test_fix_text_str_normalize_and_controls():
    # NFC: e + combining acute -> é; control chars stripped
    assert fix_text_str("café ok\x00\x01") == "café ok"
    assert fix_text_str("a\tb\nc") == "a\tb\nc"  # tab/newline survive
    assert fix_text_str(None) is None
    # NFKC folds compatibility forms when asked
    assert fix_text_str("ﬁle ②", form="NFKC") == "file 2"


def test_spark_column(spark):
    rows = [
        (1, _mojibake("Motörhead — live")),
        (2, "clean São Paulo"),
        (3, "ctrl\x07here"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {
        r["id"]: r["fixed"]
        for r in df.withColumn("fixed", fix_text_udf()("text")).collect()
    }
    assert out[1] == "Motörhead — live"
    assert out[2] == "clean São Paulo"
    assert out[3] == "ctrlhere"
    assert out[4] is None


def test_pipeline_fix_text_stage(spark, tmp_path, monkeypatch, capsys):
    import json
    import os
    import sys as _sys

    scripts_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    )
    if scripts_dir not in _sys.path:
        _sys.path.insert(0, scripts_dir)
    import run_curation  # noqa: PLC0415

    text = (
        "The committee published its annual report on Tuesday in "
        + _mojibake("São Paulo")
        + ". The findings describe a steady improvement in water quality."
    )
    inp = str(tmp_path / "docs.parquet")
    spark.createDataFrame([(1, text)], ["doc_id", "text"]).write.parquet(inp)
    out = str(tmp_path / "out")
    monkeypatch.setattr(
        _sys, "argv",
        ["run_curation.py", "--input", inp, "--output", out, "--fix-text",
         "--no-fuzzy-dedup", "--no-c4", "--no-gopher", "--target-len", "0",
         "--min-quality", "0.0", "--lang", ""],
    )
    assert run_curation.main() == 0
    got = spark.read.parquet(os.path.join(out, "documents.parquet")).collect()
    assert len(got) == 1 and "São Paulo" in got[0]["text"]
    assert "SÃ£o" not in got[0]["text"]
