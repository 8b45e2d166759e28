"""Stupid-backoff n-gram LM: exact agreement with a pure-Python
reference, a DuckDB join-formulation cross-oracle, separation on a
planted corpus, and JVM-only plan guards."""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pytest
from pyspark.sql import functions as F

from markdown_lab_spark.functions.lm import (
    BOS,
    EOS,
    NGramLM,
    perplexity_buckets,
    score_docs,
    train_ngram_lm,
)

TRAIN = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown cat sleeps on the warm mat"),
    (2, "a quick brown fox runs past the lazy dog"),
    (3, "the lazy dog sleeps on the mat"),
]
SCORE = [
    (10, "the quick brown fox"),
    (11, "the lazy dog sleeps"),
    (12, "zebra xylophone quark"),  # OOV everywhere
    (13, ""),  # empty: scores the lone EOS
]


# ---- pure-Python reference ------------------------------------------------
def _ref_counts(texts, order):
    counts = {k: Counter() for k in range(1, order + 1)}
    for t in texts:
        toks = [BOS] * (order - 1) + t.lower().split() + [EOS]
        for k in range(1, order + 1):
            for i in range(len(toks) - k + 1):
                counts[k][" ".join(toks[i : i + k])] += 1
    total = sum(counts[1].values())
    return counts, total


def _ref_score(text, counts, total, order, alpha=0.4):
    toks = [BOS] * (order - 1) + text.lower().split() + [EOS]
    lps = []
    for i in range(order - 1, len(toks)):
        w = toks[i]

        def backoff(k):
            if k == 1:
                return max(counts[1].get(w, 0), 1) / max(total, 1)
            gram = " ".join(toks[i - k + 1 : i + 1])
            ctx = " ".join(toks[i - k + 1 : i])
            if counts[k].get(gram, 0) > 0:
                return counts[k][gram] / counts[k - 1][ctx]
            return alpha * backoff(k - 1)

        lps.append(math.log10(backoff(order)))
    return len(lps), sum(lps) / len(lps)


@pytest.fixture(scope="module", params=[2, 3])
def order(request):
    return request.param


@pytest.fixture(scope="module")
def lm(spark, order):
    docs = spark.createDataFrame(TRAIN, ["doc_id", "text"])
    return train_ngram_lm(docs, "text", order)


def test_counts_match_reference(spark, lm, order):
    ref_counts, ref_total = _ref_counts([t for _, t in TRAIN], order)
    assert lm.total == ref_total
    for k in range(1, order + 1):
        got = {r["gram"]: r["cnt"] for r in lm.counts[k].collect()}
        assert got == dict(ref_counts[k])


def test_scores_match_reference_exactly(spark, lm, order):
    ref_counts, ref_total = _ref_counts([t for _, t in TRAIN], order)
    sdf = spark.createDataFrame(SCORE, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in score_docs(sdf, lm).collect()}
    for doc_id, text in SCORE:
        n, lp = _ref_score(text, ref_counts, ref_total, order)
        assert got[doc_id]["n_scored"] == n
        assert got[doc_id]["logprob_per_token"] == pytest.approx(lp, rel=1e-12)
        assert got[doc_id]["perplexity"] == pytest.approx(10 ** -lp, rel=1e-9)


def test_bigram_scoring_matches_duckdb_join_oracle(spark):
    """The scoring pipeline is pure joins + arithmetic, so DuckDB can
    recompute it from the same count tables — engine-portability proof
    for the backoff expression itself (order=2, alpha=0.4)."""
    docs = spark.createDataFrame(TRAIN, ["doc_id", "text"])
    lm2 = train_ngram_lm(docs, "text", 2)
    sdf = spark.createDataFrame(SCORE, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["logprob_per_token"] for r in score_docs(sdf, lm2).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE uni AS SELECT * FROM (VALUES (NULL::VARCHAR, NULL::BIGINT)) t(gram, cnt) WHERE 1=0")
    for r in lm2.counts[1].collect():
        con.execute("INSERT INTO uni VALUES (?, ?)", [r["gram"], r["cnt"]])
    con.execute("CREATE TABLE bi AS SELECT * FROM uni WHERE 1=0")
    for r in lm2.counts[2].collect():
        con.execute("INSERT INTO bi VALUES (?, ?)", [r["gram"], r["cnt"]])
    con.execute(
        "CREATE TABLE docs(doc_id BIGINT, text VARCHAR);"
    )
    for doc_id, text in SCORE:
        con.execute("INSERT INTO docs VALUES (?, ?)", [doc_id, text])
    oracle = dict(
        con.execute(
            f"""
            WITH toks AS (
              SELECT doc_id,
                list_concat(['{BOS}'],
                  list_concat(
                    COALESCE(regexp_split_to_array(NULLIF(trim(lower(text)), ''), '\\s+'), []),
                    ['{EOS}'])) AS t
              FROM docs
            ), pos AS (
              SELECT doc_id, t[i] AS w, t[i-1] AS ctx
              FROM toks, unnest(range(2, len(t) + 1)) AS u(i)
            ), joined AS (
              SELECT p.doc_id,
                CASE WHEN b.cnt IS NOT NULL
                     THEN b.cnt::DOUBLE / cu.cnt::DOUBLE
                     ELSE 0.4 * (COALESCE(u.cnt, 1)::DOUBLE / {lm2.total})
                END AS s
              FROM pos p
              LEFT JOIN bi b ON b.gram = p.ctx || ' ' || p.w
              LEFT JOIN uni cu ON cu.gram = p.ctx
              LEFT JOIN uni u ON u.gram = p.w
            )
            SELECT doc_id, avg(log10(s)) FROM joined GROUP BY doc_id
            """
        ).fetchall()
    )
    for doc_id in got:
        assert got[doc_id] == pytest.approx(oracle[doc_id], rel=1e-12)


def test_planted_separation_and_filter(spark):
    """Docs drawn from the training distribution score far lower
    perplexity than shuffled-vocab gibberish; the filter keeps exactly
    the in-distribution side and buckets split head/tail."""
    import random

    rng = random.Random(42)
    vocab = "the quick brown fox jumps over lazy dog cat sleeps mat warm".split()
    train = [
        (i, " ".join(rng.choice(TRAIN)[1] for _ in range(2))) for i in range(40)
    ]
    docs = spark.createDataFrame(train, ["doc_id", "text"])
    lm = train_ngram_lm(docs, "text", 3)

    indist = [(i, TRAIN[i % 4][1]) for i in range(8)]
    gibber = [
        (100 + i, " ".join(rng.sample(vocab, 8)[::-1]) + " xq zv")
        for i in range(8)
    ]
    sdf = spark.createDataFrame(indist + gibber, ["doc_id", "text"])
    scores = score_docs(sdf, lm)
    rows = {r["doc_id"]: r["perplexity"] for r in scores.collect()}
    worst_in = max(v for k, v in rows.items() if k < 100)
    best_gib = min(v for k, v in rows.items() if k >= 100)
    assert worst_in < best_gib, (worst_in, best_gib)

    b = perplexity_buckets(scores, n_buckets=2)
    by_bucket = {
        r["doc_id"]: r["bucket"] for r in b.collect()
    }
    assert all(by_bucket[i] == 0 for i, _ in indist)
    assert all(by_bucket[100 + i] == 1 for i in range(8))


def test_scoring_plan_is_jvm_only(spark, lm):
    sdf = spark.createDataFrame(SCORE, ["doc_id", "text"])
    plan = score_docs(sdf, lm)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_save_load_roundtrip(spark, lm, order, tmp_path):
    path = str(tmp_path / "lm")
    lm.save(path)
    back = NGramLM.load(spark, path)
    assert back.order == order and back.total == lm.total
    sdf = spark.createDataFrame(SCORE, ["doc_id", "text"])
    a = {r["doc_id"]: r["logprob_per_token"] for r in score_docs(sdf, lm).collect()}
    b = {r["doc_id"]: r["logprob_per_token"] for r in score_docs(sdf, back).collect()}
    assert a == b
