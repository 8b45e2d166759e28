"""Deterministic hash sampling: portability, stability, and split laws."""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from markdown_lab_spark.functions.sampling import (
    deterministic_sample,
    hash_uniform,
    stratified_sample,
)


def _py_uniform(salt: str, ident) -> float:
    h = hashlib.md5(f"{salt}:{ident}".encode()).hexdigest()[:8]
    return int(h, 16) / 2**32


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, ["web", "wiki", "code"][i % 3], f"doc {i}") for i in range(900)],
        ["doc_id", "source", "text"],
    )


def test_matches_python_reference_and_duckdb(spark, docs):
    kept = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 0.3, "s1").collect()}
    expect = {i for i in range(900) if _py_uniform("s1", i) < 0.3}
    assert kept == expect
    # DuckDB twin: hex -> int via strpos arithmetic (the oracle_sql
    # formulation), proving engine portability of the construction
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT unnest(range(900)) AS doc_id")
    charv = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    val = " + ".join(f"{charv.format(i=i + 1)} * {16 ** (7 - i)}" for i in range(8))
    oracle = {
        r[0]
        for r in con.execute(
            f"""
            SELECT doc_id FROM (
              SELECT doc_id, md5('s1:' || doc_id) AS h FROM t
            ) WHERE ({val}) / 4294967296.0 < 0.3
            """
        ).fetchall()
    }
    assert kept == oracle


def test_stable_under_repartitioning(spark, docs):
    a = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 0.25).collect()}
    b = {
        r["doc_id"]
        for r in deterministic_sample(docs.repartition(17, "text"), "doc_id", 0.25).collect()
    }
    assert a == b  # df.sample would NOT give you this


def test_nested_and_independent_samples(spark, docs):
    s10 = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 0.1, "s").collect()}
    s20 = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 0.2, "s").collect()}
    assert s10 <= s20  # same salt: nested
    other = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 0.2, "t").collect()}
    assert other != s20  # different salt: a different (independent) draw
    # fractions land near their targets (binomial 3-sigma at n=900)
    assert abs(len(s20) - 180) < 3 * (900 * 0.2 * 0.8) ** 0.5 + 1


def test_stratified_fractions_per_source(spark, docs):
    out = stratified_sample(
        docs, "doc_id", "source", {"web": 0.1, "wiki": 1.0}, salt="mix"
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_src.get("wiki", ())) == 300  # fraction 1.0 keeps all
    assert "code" not in by_src  # default_fraction 0.0 drops the rest
    expect_web = {
        i for i in range(900) if i % 3 == 0 and _py_uniform("mix", i) < 0.1
    }
    assert by_src.get("web", set()) == expect_web


def test_plan_is_scan_local(spark, docs):
    plan = deterministic_sample(docs, "doc_id", 0.5)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure filter: no shuffle anywhere


def test_validation(spark, docs):
    with pytest.raises(ValueError):
        deterministic_sample(docs, "doc_id", 1.5)
    with pytest.raises(ValueError):
        stratified_sample(docs, "doc_id", "source", {"web": -0.1})


def test_temperature_mix_fractions(spark):
    """p_i ∝ n_i^alpha: alpha=1 keeps everything (f_i = 1), alpha=0
    equalizes target shares, intermediate alpha down-samples only the
    large sources; realized share tracks the closed form."""
    from markdown_lab_spark.functions.sampling import (
        stratified_sample,
        temperature_mix_fractions,
    )

    rows = (
        [(i, "crawl") for i in range(900)]
        + [(10_000 + i, "books") for i in range(90)]
        + [(20_000 + i, "wiki") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")

    f1 = temperature_mix_fractions(df, "source", alpha=1.0)
    assert f1 == {"crawl": 1.0, "books": 1.0, "wiki": 1.0}

    f0 = temperature_mix_fractions(df, "source", alpha=0.0, target_rows=30)
    # equal target shares: 10 rows from each source
    assert f0["wiki"] == pytest.approx(1.0)  # capped at 1
    assert f0["books"] == pytest.approx(10 / 90)
    assert f0["crawl"] == pytest.approx(10 / 900)

    fa = temperature_mix_fractions(df, "source", alpha=0.5)
    # closed form: z = 30 + ~9.487 + ~3.162; p_crawl*1000/900 etc.
    z = 900 ** 0.5 + 90 ** 0.5 + 10 ** 0.5
    assert fa["crawl"] == pytest.approx(min(1.0, (900 ** 0.5 / z) * 1000 / 900))
    assert fa["wiki"] == pytest.approx(1.0)  # small source kept whole

    kept = stratified_sample(df, "doc_id", "source", fa, salt="mix")
    by = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by["wiki"] == 10  # fraction 1.0 keeps all
    # Bernoulli realization within a loose band of the target
    assert abs(by["crawl"] - fa["crawl"] * 900) < 90


def test_temperature_mix_by_token_weight(spark):
    from markdown_lab_spark.functions.sampling import temperature_mix_fractions

    df = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 100), (3, "b", 800)],
        "doc_id long, source string, n_tokens long",
    )
    f = temperature_mix_fractions(
        df, "source", alpha=0.0, weight_col="n_tokens", target_rows=400
    )
    # masses: a=200, b=800; equal target shares of 400 -> 200 each
    assert f["a"] == pytest.approx(1.0)
    assert f["b"] == pytest.approx(200 / 800)
