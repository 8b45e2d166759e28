"""Config surface, error taxonomy, and CLI (VERDICT missing items 4-5).

Mirrors the reference's contracts: validated knobs
(markdown_lab/core/config.py:76-117), env overrides (119-151), typed
errors with stable codes (core/errors.py:15-70), and the mlab
convert/sitemap/batch verbs (cli.py:118-225) re-expressed as Spark jobs.
"""

import json
import os

import pytest

from markdown_lab_spark.config import EngineConfig
from markdown_lab_spark.errors import (
    ConfigurationError,
    ConversionError,
    normalize_error,
)


def test_defaults_valid():
    cfg = EngineConfig()
    assert cfg.rps == 1.0 and cfg.max_retries == 3


@pytest.mark.parametrize(
    "kw",
    [
        {"rps": 0},
        {"rps": -1.0},
        {"max_retries": -1},
        {"bloom_fpr": 1.5},
        {"ttl_waves": 0},
    ],
    ids=[
        "rps_zero",
        "rps_negative",
        "max_retries_negative",
        "bloom_fpr_above_one",
        "ttl_waves_zero",
    ],
)
def test_validation_rejects(kw):
    with pytest.raises(ConfigurationError) as e:
        EngineConfig(**kw)
    assert e.value.error_code == "CONFIG_INVALID"


def test_env_overrides(monkeypatch):
    monkeypatch.setenv("MARKDOWN_LAB_SPARK_RPS", "2.5")
    monkeypatch.setenv("MARKDOWN_LAB_SPARK_MAX_RETRIES", "5")
    monkeypatch.setenv("MARKDOWN_LAB_SPARK_CHECKPOINT_DIR", "/ckpt")
    cfg = EngineConfig()
    assert cfg.rps == 2.5 and cfg.max_retries == 5
    assert cfg.checkpoint_dir == "/ckpt"


def test_env_override_invalid(monkeypatch):
    monkeypatch.setenv("MARKDOWN_LAB_SPARK_TIMEOUT_NOPE", "x")  # unknown: ignored
    monkeypatch.setenv("MARKDOWN_LAB_SPARK_MAX_WAVES", "not-an-int")
    with pytest.raises(ConfigurationError):
        EngineConfig()


def test_from_dict_rejects_unknown():
    with pytest.raises(ConfigurationError):
        EngineConfig.from_dict({"no_such_knob": 1})


def test_from_dict_rejects_unread_chunk_size():
    # chunking is fixed at 1000/200 by the crawl's chunk UDF; a chunk_size
    # setting would be silently ignored, so it is refused instead
    with pytest.raises(ConfigurationError) as e:
        EngineConfig.from_dict({"chunk_size": 512})
    assert e.value.error_code == "CONFIG_INVALID"


@pytest.mark.parametrize("key", ["bucketed_state", "state_buckets"])
def test_from_dict_rejects_deleted_bucketed_keys(key):
    # the flat per-wave checkpoint is the only state layout
    with pytest.raises(ConfigurationError) as e:
        EngineConfig.from_dict({key: 1})
    assert e.value.error_code == "CONFIG_INVALID"


def test_to_crawl_config_roundtrip():
    cc = EngineConfig(rps=3.0, ttl_waves=2, max_file_size=123).to_crawl_config()
    assert cc.rps == 3.0 and cc.ttl_waves == 2 and cc.max_file_size == 123


def test_error_codes_and_dict():
    e = ConversionError("boom", details={"url": "https://x"})
    assert str(e) == "[CONVERSIONERROR] boom"
    d = e.to_dict()
    assert d["error_code"] == "CONVERSIONERROR" and d["details"]["url"] == "https://x"


def test_normalize_error_buckets():
    assert normalize_error(ValueError("v")).startswith("[PARSING_FAILED]")
    assert normalize_error(MemoryError()).startswith("[MEMORY_LIMIT_EXCEEDED]")
    assert normalize_error(RuntimeError("r")).startswith("[UNEXPECTED_ERROR]")
    assert normalize_error(ConversionError("c")) == "[CONVERSIONERROR] c"


# ---- CLI end-to-end over a tiny corpus --------------------------------------
@pytest.fixture(scope="module")
def tiny_corpus(spark, tmp_path_factory):
    rows = [
        (
            "https://h1.test/a",
            b"<html><head><title>A</title></head><body><p>alpha text</p>"
            b'<a href="/b">b</a></body></html>',
        ),
        (
            "https://h1.test/b",
            b"<html><head><title>B</title></head><body><p>beta text</p></body></html>",
        ),
    ]
    path = str(tmp_path_factory.mktemp("clipages") / "pages.parquet")
    spark.createDataFrame(rows, "url string, html binary").write.parquet(path)
    return path


def test_cli_convert(spark, tiny_corpus, tmp_path, capsys):
    from markdown_lab_spark.cli import main

    out = str(tmp_path / "out")
    rc = main(
        ["convert", "https://h1.test/a", "--pages", tiny_corpus, "-o", out]
    )
    assert rc == 0
    files = os.listdir(out)
    assert files == ["h1.test_a.md"]
    body = open(os.path.join(out, files[0])).read()
    assert "# A" in body and "alpha text" in body
    assert json.loads(capsys.readouterr().out)["converted"] == 1


def test_cli_batch(spark, tiny_corpus, tmp_path, capsys):
    from markdown_lab_spark.cli import main

    links = tmp_path / "links.txt"
    links.write_text("# comment\nhttps://h1.test/a\n\nhttps://h1.test/b\n")
    out = str(tmp_path / "out")
    rc = main(["batch", str(links), "--pages", tiny_corpus, "-o", out])
    assert rc == 0
    assert sorted(os.listdir(out)) == ["h1.test_a.md", "h1.test_b.md"]
    assert json.loads(capsys.readouterr().out) == {"requested": 2, "converted": 2}


def test_cli_config_flag(spark, tiny_corpus, tmp_path):
    from markdown_lab_spark.cli import main

    with pytest.raises(SystemExit):
        main(["--config", "not json", "convert", "x", "--pages", tiny_corpus])
    # valid JSON but bad value -> ConfigurationError
    with pytest.raises(ConfigurationError):
        main(
            ["--config", '{"rps": -1}', "convert", "https://h1.test/a",
             "--pages", tiny_corpus, "-o", str(tmp_path / "o")]
        )


def test_cli_sitemap(spark, tmp_path, capsys):
    """sitemap verb: robots -> sitemap discovery -> priority filter ->
    convert, against the generator corpus (which ships robots/sitemap
    rows per host)."""
    from markdown_lab_spark.cli import main
    from markdown_lab_spark.corpus.generator import (
        CorpusSpec,
        generate_corpus,
        write_corpus_parquet,
    )

    pages = str(tmp_path / "pages.parquet")
    write_corpus_parquet(
        generate_corpus(CorpusSpec(hosts=2, pages_per_host=15)), pages
    )
    host = (
        spark.read.parquet(pages)
        .selectExpr("regexp_extract(url, '^https://([^/]*)', 1) AS h")
        .first()["h"]
    )
    out = str(tmp_path / "site_out")
    rc = main(
        ["sitemap", f"https://{host}/", "--pages", pages, "-o", out,
         "--min-priority", "0.5", "--limit", "5"]
    )
    assert rc == 0
    stats = json.loads(capsys.readouterr().out)
    assert 0 < stats["converted"] <= 5
    assert len(os.listdir(out)) == stats["converted"]
