"""Spark-layer function tests: UDFs equal the oracle row-wise; dedup /
similarity / text / multimodal operators behave as specified."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from markdown_lab_spark.functions import dedup as D
from markdown_lab_spark.functions import similarity as S
from markdown_lab_spark.functions import text as X
from markdown_lab_spark.functions.udfs import (
    convert_html_udf,
    chunk_markdown_udf,
    domain_col,
    extract_base_url_col,
    normalize_url_col,
)
from markdown_lab_spark.oracle import convert_to_markdown, normalize_url
from markdown_lab_spark.oracle.url_utils import get_domain_from_url
from markdown_lab_spark.oracle.chunker import create_semantic_chunks


@pytest.fixture(scope="module")
def pages(spark):
    rows = [
        (
            f"https://h{i % 3}.example/docs/p{i}",
            f"<html><head><title>T{i}</title></head><body><h1>H{i}</h1>"
            f'<p>para {i} content</p><a href="/l{i}">go</a></body></html>'.encode(),
        )
        for i in range(50)
    ]
    return spark.createDataFrame(rows, "url string, html binary")


def test_convert_udf_matches_oracle(spark, pages):
    out = pages.withColumn("d", convert_html_udf("html", "url")).select(
        "url", "html", "d.markdown", "d.status"
    )
    for row in out.collect():
        assert row["status"] == "ok"
        expected = convert_to_markdown(bytes(row["html"]).decode(), row["url"])
        assert row["markdown"] == expected  # byte identity through Arrow


def test_convert_udf_error_capture(spark):
    df = spark.createDataFrame(
        [("https://x.com/a", None), (None, b"<p>x</p>")],
        "url string, html binary",
    )
    rows = (
        df.withColumn("d", convert_html_udf("html", "url"))
        .select("d.status")
        .collect()
    )
    statuses = {r["status"] for r in rows}
    assert "fetch_miss" in statuses  # null html -> miss, no crash


def test_chunk_udf_matches_oracle(spark):
    md = "# T\n\n" + "\n".join(f"line {i} with words here" for i in range(60))
    df = spark.createDataFrame([(md,)], "markdown string")
    got = df.select(chunk_markdown_udf("markdown").alias("c")).collect()[0]["c"]
    assert got == create_semantic_chunks(md, 1000, 200)


def test_jvm_url_cols_agree_with_oracle(spark):
    urls = [
        "https://example.com/path/",
        "https://example.com/path#frag",
        "https://example.com/",
        "https://example.com",
        "https://example.com/a/b?q=1&r=2#x",
        "http://sub.host.example:8080/x/",
        "https://example.com//double//",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        "url",
        normalize_url_col(F.col("url")).alias("jvm_canon"),
        domain_col(F.col("url")).alias("jvm_host"),
        extract_base_url_col(F.col("url")).alias("jvm_base"),
    ).collect()
    for r in rows:
        assert r["jvm_canon"] == normalize_url(r["url"])  # JVM == oracle
        assert r["jvm_host"] == get_domain_from_url(r["url"])


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string",
    )
    rows = {r["keep_id"]: r["dup_count"] for r in D.exact_dedup(df, "doc_id", "text").collect()}
    assert rows == {1: 2, 3: 1}


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 10
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + "tail variation"),
            (3, "completely different content about spark shuffles and joins " * 8),
        ],
        "doc_id long, text string",
    )
    sigs = D.minhash_signatures(df, "doc_id", "text", k=16)
    pairs = D.minhash_lsh_pairs(sigs, "doc_id", k=16, bands=4, min_est_jaccard=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert all(3 not in p for p in found)


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "x y z w v u t s")],
        "doc_id long, text string",
    )
    rows = D.ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.8).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]


def test_text_analysis_columns(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in the house that was warm"),
            (2, "der hund und die katze ist nicht mit der maus"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            X.ws_token_count(F.col("text")).alias("toks"),
            X.predicted_lang(F.col("text")).alias("lang"),
            X.quality_score(F.col("text")).alias("q"),
            X.bpe_ish_token_count(F.col("text")).alias("bpe"),
        ).collect()
    }
    assert out[1]["lang"] == "en"
    assert out[2]["lang"] == "de"
    assert out[3]["lang"] == "und"
    assert out[3]["toks"] == 0
    assert 0.0 <= out[1]["q"] <= 1.0


def test_multimodal_stub_pipeline(spark):
    from markdown_lab_spark.functions.multimodal import (
        decode_image_stub,
        extract_image_features,
        frame_sample_plan,
    )

    rows = [
        (1, "image", b"\x89PNGfake1", "image/png", {}),
        (2, "image", b"\x89PNGfake22", "image/png", {}),
        (3, "video", b"vid", "video/mp4", {"duration_s": "12"}),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, mime string, meta map<string,string>"
    )
    feats = {r["media_id"]: r for r in extract_image_features(df).collect()}
    assert set(feats) == {1, 2}
    assert feats[1]["n_bytes"] == 9
    assert len(feats[1]["feature"]) == 8
    # deterministic fake
    assert feats[1]["width"] == decode_image_stub(b"\x89PNGfake1")[0]

    frames = frame_sample_plan(df, every_n_seconds=5).collect()
    assert [r["frame_ts"] for r in frames] == [0, 5, 10]

    with pytest.raises(NotImplementedError):
        decode_image_stub(b"x", strict=True)


def test_gopher_signals_handcrafted(spark):
    """Each Gopher rule pinned on a text engineered to trip exactly it."""
    from pyspark.sql import functions as F

    from markdown_lab_spark.functions import text as X

    good = (
        "the quick brown fox jumps over the lazy dog and it was good for "
        "everyone involved in that long afternoon because nobody expected "
        "such a calm ending to the day when storms had threatened since "
        "morning and the village children kept asking whether it would be "
        "safe to walk home along the river path before sunset arrived"
    )
    texts = {
        "good": good,
        "dup_lines": "\n".join(["same line here"] * 9 + ["x"]),
        "bullets": "\n".join(["- item"] * 19 + ["x"]),
        "ellipses": "\n".join(["wait..."] * 5 + ["x"] * 5),
        "symbols": "# " * 30 + good,
        "short": "too few words",
        "no_stopwords": "lorem ipsum dolor sit amet " * 20,
    }
    df = spark.createDataFrame(list(texts.items()), "name string, t string")
    rows = {
        r["name"]: r
        for r in df.select(
            "name",
            X.dup_line_frac(F.col("t")).alias("dl"),
            X.bullet_line_frac(F.col("t")).alias("bf"),
            X.ellipsis_line_frac(F.col("t")).alias("ef"),
            X.symbol_word_ratio(F.col("t")).alias("sw"),
            X.dup_ngram_frac(F.col("t"), 3).alias("dg"),
            X.gopher_keep(F.col("t")).alias("keep"),
        ).collect()
    }
    assert rows["good"]["keep"] is True
    assert rows["dup_lines"]["dl"] == 0.8 and rows["dup_lines"]["keep"] is False
    assert rows["bullets"]["bf"] == 0.95 and rows["bullets"]["keep"] is False
    assert rows["ellipses"]["ef"] == 0.5 and rows["ellipses"]["keep"] is False
    assert rows["symbols"]["sw"] > 0.1 and rows["symbols"]["keep"] is False
    assert rows["short"]["keep"] is False
    assert rows["no_stopwords"]["keep"] is False
    assert rows["good"]["dg"] <= 0.18  # varied prose stays under the bar


def test_paragraph_dedup_and_c4(spark):
    from pyspark.sql import functions as F

    from markdown_lab_spark.functions import text as X

    docs = spark.createDataFrame(
        [
            (1, "unique one\n\nshared boilerplate para\n\nunique two"),
            (2, "shared boilerplate para\n\nother content here"),
            (3, "only original stuff\n\n\n\nafter blank runs"),
        ],
        "doc_id long, text string",
    )
    rows = X.paragraph_dedup(docs, "doc_id", "text").collect()
    by_key = {(r["doc_id"], r["para_pos"]): r["keep"] for r in rows}
    assert by_key[(1, 1)] is True  # first occurrence of the shared para
    assert by_key[(2, 0)] is False  # repeat flagged
    assert by_key[(3, 0)] and by_key[(3, 1)]  # \n\n\n\n still splits

    c4 = spark.createDataFrame(
        [
            (
                1,
                "A good long sentence that definitely qualifies here.\n"
                "short\n"
                "Please enable JavaScript to continue browsing now.\n"
                "Second proper sentence is also long enough to stay!\n"
                "Third proper sentence keeps the page over the bar.",
            ),
            (2, "Contains lorem ipsum filler and {braces} everywhere."),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in c4.select(
            "doc_id",
            X.c4_clean_text(F.col("text")).alias("cleaned"),
            X.c4_page_keep(F.col("text")).alias("keep"),
        ).collect()
    }
    assert "short" not in out[1]["cleaned"]
    assert "JavaScript" not in out[1]["cleaned"]
    assert out[1]["cleaned"].count("\n") == 2  # three surviving lines
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False  # lorem ipsum + braces


def test_pii_redaction_and_url_filter(spark):
    from pyspark.sql import functions as F

    from markdown_lab_spark.functions import text as X

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@corp.example.co.uk or call +44 20 7946 0958 ok"),
            (2, "server 192.168.1.254 and 8.8.8.8 are up"),
            (3, "version 1.2.3.4.5 is not an address and 999.1.1.1 is invalid"),
            (4, "clean text with no contact details at all"),
        ],
        "doc_id long, t string",
    )
    out = {
        r["doc_id"]: r["red"]
        for r in df.select(
            "doc_id", X.redact_pii(F.col("t")).alias("red")
        ).collect()
    }
    assert "<EMAIL>" in out[1] and "jane" not in out[1]
    assert "<PHONE>" in out[1]
    assert out[2].count("<IP>") == 2
    # lookaround guards: a 5-part dotted run is NOT an IPv4
    assert "<IP>" not in out[3]
    assert out[4] == "clean text with no contact details at all"

    urls = spark.createDataFrame(
        [
            (1, "https://a.example/docs/page-1"),
            (2, "https://a.example/p?phpsessid=zz"),
            (3, "https://a.example/assets/logo.png"),
            (4, "https://a.example/" + "/".join("d" * 14)),
            (5, "https://a.example/id/1234567890123456789012345678901234567890"),
        ],
        "doc_id long, url string",
    )
    keep = {
        r["doc_id"]: r["k"]
        for r in urls.select(
            "doc_id", X.url_quality_keep(F.col("url")).alias("k")
        ).collect()
    }
    assert keep == {1: True, 2: False, 3: False, 4: False, 5: False}


def test_decontaminate_benchmark_overlap(spark):
    """Train/eval decontamination (GPT-3 appendix C / PaLM shape):
    13-gram membership against the benchmark, case/whitespace
    normalized; the membership join must broadcast the benchmark side."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank today ok"),
            (2, "completely unrelated text about spark partitions and shuffle behavior at scale"),
            (3, "THE  Quick   brown fox JUMPS over the lazy dog near the river bank today ok extra"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog near the river bank today",)],
        "q string",
    )
    bn = D.benchmark_ngrams(bench, "q", n=13)
    out = D.decontaminate(corpus, "doc_id", "text", bn, n=13)
    rows = {r["doc_id"]: (r["contam_hits"], r["keep"]) for r in out.collect()}
    assert rows[1][0] > 0 and not rows[1][1]  # verbatim overlap flagged
    assert rows[2] == (0, True)  # clean doc kept with zero hits
    assert rows[3][0] > 0 and not rows[3][1]  # normalization catches it
    assert rows[4] == (0, True)  # empty doc survives
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # benchmark side broadcast, corpus never shuffled for membership


def test_kmeans_trains_separating_centroids(spark):
    """Distributed Lloyd's k-means (the IVF training step): on three
    well-separated synthetic clusters the trained centroids must assign
    each cluster to exactly one distinct cell, deterministically. Plan:
    broadcast-assignment + per-(cell,dim) mean — no window, two small
    shuffles per iteration."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    centers = [np.eye(8)[0] * 10, np.eye(8)[3] * 10, np.eye(8)[6] * 10]
    for c, center in enumerate(centers):
        for i in range(40):
            v = center + rng.normal(0, 0.3, 8)
            rows.append((c * 40 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = S.kmeans_train_centroids(df, k=3, iters=4)
    assert "Window" not in cents._jdf.queryExecution().executedPlan().toString()
    out = S.ivf_assign(df, cents).collect()
    cells = {}
    for r in out:
        cells.setdefault(r["vec_id"] // 40, set()).add(r["cell"])
    assert all(len(v) == 1 for v in cells.values())  # cluster -> one cell
    assert len(set.union(*cells.values())) == 3  # cells distinct
    # determinism: retraining yields identical centroids
    again = S.kmeans_train_centroids(df, k=3, iters=4)
    a = sorted((r["cid"], tuple(r["cvec"])) for r in cents.collect())
    b = sorted((r["cid"], tuple(r["cvec"])) for r in again.collect())
    assert a == b


def test_cap_per_group_exact_and_skew_safe(spark):
    """Per-domain quota (FineWeb-style): exact cap with deterministic
    survivors, small groups bypass the window entirely, and the result
    matches the naive single-window formulation."""
    from pyspark.sql import Window

    from markdown_lab_spark.functions.topk import cap_per_group

    rows = [("big.com", i, float(i % 7)) for i in range(500)]
    rows += [("small.org", i, float(i)) for i in range(3)]
    rows += [("tiny.net", 0, 9.9)]
    df = spark.createDataFrame(rows, "domain string, doc_id long, quality double")
    order = [F.col("quality").desc(), F.col("doc_id").asc()]
    got = cap_per_group(df, "domain", 10, order, salt_col="doc_id", salt_n=8)
    naive = (
        df.withColumn(
            "_rn", F.row_number().over(Window.partitionBy("domain").orderBy(*order))
        )
        .filter(F.col("_rn") <= 10)
        .drop("_rn")
    )
    a = sorted((r["domain"], r["doc_id"]) for r in got.collect())
    b = sorted((r["domain"], r["doc_id"]) for r in naive.collect())
    assert a == b
    per = {}
    for d, _i in a:
        per[d] = per.get(d, 0) + 1
    assert per == {"big.com": 10, "small.org": 3, "tiny.net": 1}


def test_paragraph_dedup_matches_python_reference_on_random_docs(spark):
    """Property batch: the skew-safe agg+join formulation must equal the
    obvious sequential first-occurrence algorithm on random multi-
    paragraph docs (shared boilerplate, blank-line noise, empties)."""
    import hashlib
    import random

    rng = random.Random(13)
    boiler = ["SUBSCRIBE NOW", "all rights reserved", "cookie notice"]
    rows = []
    for doc_id in range(60):
        paras = []
        for _ in range(rng.randint(0, 6)):
            if rng.random() < 0.4:
                paras.append(rng.choice(boiler))
            else:
                paras.append(f"unique {doc_id} {rng.randint(0, 9)} text")
        sep = rng.choice(["\n\n", "\n \n", "\n\n\n"])
        rows.append((doc_id, sep.join(paras)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["doc_id"], r["para_pos"]): (r["para_hash"], r["keep"])
        for r in X.paragraph_dedup(df, "doc_id", "text").collect()
    }

    # sequential reference: explode in (doc_id, pos) order, first
    # occurrence of each trimmed paragraph keeps
    import re

    seen = set()
    expect = {}
    for doc_id, text in sorted(rows):
        pos = 0
        for para in re.split(r"\n\s*\n", text):
            para = para.strip()
            if not para:
                continue
            h = hashlib.md5(para.encode()).hexdigest()
            expect[(doc_id, pos)] = (h, h not in seen)
            seen.add(h)
            pos += 1
    assert got == expect


def test_decontaminate_matches_duckdb_oracle(spark):
    """Independent cross-check: the Spark decontamination counts equal a
    DuckDB SQL formulation of the same 13-gram membership on randomized
    corpus/benchmark pairs."""
    import random

    import duckdb

    rng = random.Random(21)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    bench_rows = [
        (" ".join(rng.choice(vocab) for _ in range(rng.randint(13, 30))),)
        for _ in range(5)
    ]
    # a sub-13-word benchmark row: strict 13-gram membership emits NO
    # n-grams for it (both engines), so the identical short corpus doc
    # below must NOT be flagged — pins the strict= behavior of shingles()
    bench_rows.append(("alpha beta",))
    corpus_rows = []
    for doc_id in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(5, 40))]
        if rng.random() < 0.3:  # plant a verbatim benchmark span
            src = rng.choice(bench_rows[:5])[0].split()
            k = rng.randint(13, min(20, len(src)))
            words[:k] = src[:k]
        corpus_rows.append((doc_id, " ".join(words)))
    corpus_rows.append((40, "alpha beta"))  # == the short benchmark row
    corpus_rows.append((41, "alpha beta " * 7))  # 14 words, real 13-grams

    bench = spark.createDataFrame(bench_rows, "q string")
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["contam_hits"], r["keep"])
        for r in D.decontaminate(
            corpus, "doc_id", "text", D.benchmark_ngrams(bench, "q", 13), 13
        ).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE bench(q VARCHAR)")
    con.executemany("INSERT INTO bench VALUES (?)", bench_rows)
    con.execute("CREATE TABLE corpus(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO corpus VALUES (?, ?)", corpus_rows)
    sql = """
    WITH bw AS (
      SELECT string_split(lower(regexp_replace(q, '\\s+', ' ', 'g')), ' ') AS w
      FROM bench
    ),
    bn AS (
      SELECT DISTINCT array_to_string(w[i:i+12], ' ') AS ngram
      FROM bw, UNNEST(generate_series(1, greatest(len(w) - 12, 0))) AS t(i)
    ),
    cw AS (
      SELECT doc_id,
             string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS w
      FROM corpus
    ),
    cn AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+12], ' ') AS ngram
      FROM cw, UNNEST(generate_series(1, greatest(len(w) - 12, 0))) AS t(i)
    )
    SELECT c.doc_id, count(b.ngram) AS hits
    FROM (SELECT DISTINCT doc_id FROM corpus) c
    LEFT JOIN cn ON cn.doc_id = c.doc_id
    LEFT JOIN bn b ON b.ngram = cn.ngram AND cn.ngram IS NOT NULL
    GROUP BY c.doc_id
    """
    expect = {int(d): int(h) for d, h in con.execute(sql).fetchall()}
    assert {k: v[0] for k, v in got.items()} == expect
    assert all((v[0] == 0) == v[1] for v in got.values())
    assert any(v[0] > 0 for v in got.values())  # planted spans detected
