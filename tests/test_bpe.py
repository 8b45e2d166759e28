"""BPE tokenizer: the classic Sennrich example, JVM/Python pre-token
agreement, distributed-vs-driver token-count equality, determinism, and the
packing integration."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from markdown_lab_spark.functions.bpe import (
    EOW,
    bpe_token_count,
    encode_text,
    encode_word,
    pretokenize,
    train_bpe,
    train_bpe_from_frequencies,
    word_frequencies,
    _ranks,
)


def test_sennrich_classic_example():
    """The ACL-2016 paper's worked vocabulary: low/lower/newest/widest.
    'es' (9) then 'est' (9) then 'est</w>' (9) then 'lo' (7) then
    'low' (7) are the published first merges."""
    wf = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = train_bpe_from_frequencies(wf, 5)
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    assert merges[2] == ("est", EOW)
    assert merges[3] == ("l", "o")
    assert merges[4] == ("lo", "w")
    ranks = _ranks(merges)
    assert encode_word("lowest", ranks) == ["low", "est</w>"]
    assert encode_word("newest", ranks) == ["n", "e", "w", "est</w>"]


def test_tie_break_is_lexicographic_and_stop_when_nothing_repeats():
    # all pairs occur once -> no merge happens at all
    assert train_bpe_from_frequencies([("abc", 1), ("xyz", 1)], 10) == []
    # two pairs tied at 2: ('a','b') < ('x','y')
    merges = train_bpe_from_frequencies([("ab", 2), ("xy", 2)], 1)
    assert merges == [("a", "b")]


def test_pretokenizer_python_jvm_agreement(spark):
    texts = [
        "Hello, world! 42 times",
        "naïve café — déjà-vu 3.14",
        "under_scored   spaces\ttabs\nnewlines",
        "",
        "UPPER lower MiXeD 999",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    jvm = (
        df.select(
            "doc_id",
            F.expr(
                "regexp_extract_all(lower(text), "
                r"'[\\p{L}\\p{M}]+|\\d+|[^\\p{L}\\p{M}\\d\\s_]', 0)"
            ).alias("toks"),
        )
        .orderBy("doc_id")
        .collect()
    )
    for r, t in zip(jvm, texts):
        assert list(r["toks"]) == pretokenize(t), t


def test_distributed_encode_matches_driver_reference(spark):
    corpus = [
        (i, f"the lowest newest widest token stream number {i} flows lower")
        for i in range(30)
    ]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    merges = train_bpe(df, n_merges=40)
    ranks = _ranks(merges)
    cnt = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_count(df, merges).collect()
    }
    assert cnt == {i: len(encode_text(text, ranks, {})) for i, text in corpus}


def test_roundtrip_and_compression(spark):
    text = "compression ratio check on repeated repeated repeated words words"
    df = spark.createDataFrame([(0, text)] * 1 + [(1, text)], ["doc_id", "text"])
    merges = train_bpe(df, n_merges=60)
    ranks = _ranks(merges)
    toks = encode_text(text, ranks, {})
    assert "".join(toks).replace(EOW, " ").strip() == text
    n_words = len(pretokenize(text))
    assert n_words <= len(toks) <= len(text) + n_words  # chars+EOW upper bound
    # merges actually compress below the char-level start
    assert len(toks) < len(text.replace(" ", "")) + n_words


def test_training_deterministic_under_repartition_and_sampling(spark):
    rows = [(i, f"alpha beta gamma delta {i % 7} epsilon zeta") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    m1 = train_bpe(df, n_merges=25, sample_fraction=0.6)
    m2 = train_bpe(df.repartition(13, "text"), n_merges=25, sample_fraction=0.6)
    assert m1 == m2
    # max_words cut is deterministic too
    wf1 = word_frequencies(df, max_words=5)
    wf2 = word_frequencies(df.repartition(7), max_words=5)
    assert wf1 == wf2


def test_packing_on_bpe_counts(spark):
    from markdown_lab_spark.functions.packing import pack_sequences

    rows = [(i, "pack these tokens tightly " * (1 + i % 4)) for i in range(24)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = train_bpe(df, n_merges=30)
    counted = bpe_token_count(df, merges)
    assign = pack_sequences(counted, "doc_id", "n_bpe_tokens", 64, n_buckets=2)
    got = assign.collect()
    assert len(got) == 24
    by_pack: dict = {}
    for r in got:
        by_pack.setdefault(r["pack_id"], []).append(r)
    for members in by_pack.values():
        if not any(m["overflow"] for m in members):
            assert sum(m["n_tokens"] for m in members) <= 64
