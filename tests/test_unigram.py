"""Unigram-LM tokenizer (functions/unigram.py): Viterbi segmentation
laws, distributed EM training behavior, determinism across
partitionings, the token-count pipeline, packing integration."""

import math

import pytest
from pyspark.sql import functions as F

from markdown_lab_spark.functions.unigram import (
    encode_text,
    train_unigram,
    unigram_token_count,
    viterbi_segment,
)


# ---- Viterbi unit laws -------------------------------------------------------
def test_viterbi_prefers_higher_probability_segmentation():
    logp = {"a": -3.0, "b": -3.0, "ab": -1.0, "abc": -10.0, "c": -3.0}
    assert viterbi_segment("abc", logp) == ["ab", "c"]
    logp["abc"] = -0.5
    assert viterbi_segment("abc", logp) == ["abc"]


def test_viterbi_tie_prefers_fewer_pieces_then_lexicographic():
    # "aa" as one piece vs two singles at the same total score
    logp = {"a": -1.0, "aa": -2.0}
    assert viterbi_segment("aa", logp) == ["aa"]  # fewer pieces wins tie
    # equal score, equal piece count: lexicographically smaller sequence
    logp2 = {"ab": -1.0, "a": -0.5, "b": -0.5, "cd": -1.0, "c": -0.5, "d": -0.5}
    seg = viterbi_segment("abcd", logp2)
    assert sum(logp2[p] for p in seg) == pytest.approx(-2.0)


def test_viterbi_out_of_alphabet_falls_back_to_chars():
    assert viterbi_segment("xyz", {"a": -1.0}) == ["x", "y", "z"]
    assert viterbi_segment("", {"a": -1.0}) == []


def test_encode_text_uses_pretokenizer_and_memo():
    logp = {"hello": -1.0, "h": -5.0, "e": -5.0, "l": -5.0, "o": -5.0,
            "w": -5.0, "r": -5.0, "d": -5.0, "world": -1.0}
    memo = {}
    out = encode_text("Hello, world! hello", logp, memo)
    assert out == ["hello", ",", "world", "!", "hello"]
    assert "hello" in memo


# ---- training ----------------------------------------------------------------
CORPUS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown cat sleeps near the warm fire",
    "quick brown animals jump over lazy dogs daily",
    "the lazy dog sleeps while the quick fox jumps",
] * 5


@pytest.fixture(scope="module")
def model(spark):
    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    return train_unigram(docs, vocab_size=60, seed_multiplier=4)


def test_train_includes_all_chars_and_respects_vocab(spark, model):
    pieces = {p for p, _ in model}
    corpus_chars = {c for t in CORPUS for c in t if not c.isspace()}
    assert corpus_chars <= pieces
    n_multi = sum(1 for p in pieces if len(p) > 1)
    assert n_multi <= 60
    assert n_multi > 0  # learned something beyond characters
    # frequent whole words should win pieces
    assert any(p in ("the", "quick", "brown") for p in pieces)
    # log-probs normalized-ish: all negative, finite
    assert all(lp < 0 and math.isfinite(lp) for _, lp in model)


def test_train_deterministic_across_partitionings(spark, model):
    docs = spark.createDataFrame(
        [(t,) for t in CORPUS], "text string"
    ).repartition(7)
    model2 = train_unigram(docs, vocab_size=60, seed_multiplier=4)
    assert model == model2


def test_segmentation_compresses_frequent_words(spark, model):
    logp = dict(model)
    seg = viterbi_segment("quick", logp)
    assert len(seg) < 5  # not character-exploded


# ---- Spark encode / count -----------------------------------------------------
def test_unigram_token_count_matches_driver_encode(spark, model):
    docs = spark.createDataFrame(
        [(1, "The quick fox"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    cnt = {
        r["doc_id"]: r["n_tokens"]
        for r in unigram_token_count(docs, model).collect()
    }
    pieces = encode_text("The quick fox", dict(model), {})
    assert pieces and cnt[1] == len(pieces)
    assert cnt[2] == 0 and cnt[3] == 0


def test_counts_feed_packing(spark, model):
    from markdown_lab_spark.functions.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, CORPUS[i % len(CORPUS)]) for i in range(20)],
        "doc_id long, text string",
    )
    counted = unigram_token_count(docs, model)
    assign = pack_sequences(counted, "doc_id", "n_tokens", 64, n_buckets=4)
    got = assign.groupBy("pack_id").agg(F.sum("n_tokens").alias("s")).collect()
    assert all(r["s"] <= 64 for r in got)
    assert assign.count() == 20
