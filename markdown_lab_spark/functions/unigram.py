"""Unigram-LM tokenizer (Kudo 2018, the SentencePiece ``unigram``
model) — the second mainstream subword family next to BPE
(``functions/bpe.py``), with a trainer whose per-iteration work is
GENUINELY DISTRIBUTED.

Where BPE's merge loop is inherently sequential (every merge depends
on the previous one, so production BPE trainers run on a bounded
sample), Unigram training is EM over an independent-per-word
likelihood — exactly the shape Spark distributes:

- the (distinct word, count) table is built once (one explode + one
  partial-agg groupBy; the Zipf head combines map-side) and CACHED —
  it is the E-step's input every iteration and is tiny relative to the
  corpus (distinct words, not tokens);
- each EM iteration broadcasts the model (piece -> log-prob, model-
  sized by construction) into an Arrow-batched ``mapInPandas`` that
  Viterbi-segments every word, emits (piece, freq-weighted count)
  rows, and ONE partial-agg groupBy sums them; only the vocab-bounded
  count table reaches the driver (the k-means/pagerank
  bounded-model-collect pattern);
- pruning keeps the top pieces by expected count (all single
  characters are kept unconditionally so segmentation always closes),
  shrinking toward ``vocab_size`` by a fixed factor per round — the
  count-based simplification of SentencePiece's loss-delta prune,
  documented and deterministic.

Hard-EM note: the E-step uses Viterbi (best segmentation) counts
rather than full forward-backward expectations — the standard
"Viterbi-EM" simplification; monotone in practice and deterministic
(ties prefer FEWER pieces, then lexicographically smaller segmentation),
which the tests pin.

Encoding/counting is the at-scale leg: Arrow-batched pandas UDFs with
a per-executor word -> pieces memo (Zipf hit rates make the per-word
Viterbi amortize), sharing ``bpe.pretokenize``'s convention so token
counts feed ``packing.pack_sequences`` unchanged. Characters outside
the trained alphabet fall back to single-char pieces at a floor
log-prob (full coverage, no <unk> explosions).

Determinism: all probabilities derive from integer counts; no RNG, no
partition state; same (corpus sample, vocab_size) -> same model on any
partitioning or cluster size.
"""

from __future__ import annotations

import math
from typing import Dict, Iterable, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bpe import _PRETOKEN_JVM, pretokenize

_FLOOR_LOGP = -30.0  # out-of-alphabet single-char fallback
_MAX_PIECE_LEN = 8


# ---------------------------------------------------------------------------
# Viterbi segmentation (shared by trainer E-step and encoder)
# ---------------------------------------------------------------------------


def viterbi_segment(word: str, logp: Dict[str, float]) -> List[str]:
    """Best segmentation of ``word`` under piece log-probs. Ties prefer
    fewer pieces, then the lexicographically smaller piece sequence
    (deterministic across runs and dict orders). Characters absent from
    the model segment as themselves at the floor log-prob."""
    n = len(word)
    # best[i] = (score, n_pieces, pieces tuple) for word[:i]
    best: List[Tuple[float, int, tuple]] = [(0.0, 0, ())] + [
        (-math.inf, 0, ())
    ] * n
    for i in range(1, n + 1):
        cand = best[i]
        for j in range(max(0, i - _MAX_PIECE_LEN), i):
            if best[j][0] == -math.inf:
                continue
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if i - j == 1:
                    lp = _FLOOR_LOGP
                else:
                    continue
            score = best[j][0] + lp
            pieces = best[j][2] + (piece,)
            key = (score, -(best[j][1] + 1))
            ckey = (cand[0], -cand[1])
            if key > ckey or (key == ckey and pieces < cand[2]):
                cand = (score, best[j][1] + 1, pieces)
        best[i] = cand
    return list(best[n][2])


# ---------------------------------------------------------------------------
# trainer
# ---------------------------------------------------------------------------


def _word_table(docs: DataFrame, text_col: str) -> DataFrame:
    return (
        docs.select(
            F.explode(
                F.expr(
                    "regexp_extract_all(lower("
                    + text_col
                    + "), '"
                    + _PRETOKEN_JVM
                    + "', 0)"
                )
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )


def _seed_pieces(words: DataFrame, seed_size: int) -> Dict[str, float]:
    """Seed vocabulary: the ``seed_size`` highest-mass substrings (mass
    = occurrences weighted by word frequency) plus every single
    character. One mapInPandas explode + one partial-agg groupBy +
    a bounded TakeOrdered collect."""

    def gen(batches):
        for pdf in batches:
            counts: Dict[str, int] = {}
            for w, c in zip(pdf["w"], pdf["cnt"]):
                c = int(c)
                n = len(w)
                for i in range(n):
                    for l in range(1, min(_MAX_PIECE_LEN, n - i) + 1):
                        s = w[i : i + l]
                        counts[s] = counts.get(s, 0) + c
            yield pd.DataFrame(
                {"piece": list(counts.keys()), "mass": list(counts.values())}
            )

    sub = (
        words.mapInPandas(gen, "piece string, mass long")
        .groupBy("piece")
        .agg(F.sum("mass").alias("mass"))
    )
    chars = sub.filter(F.length("piece") == 1)
    multi = (
        sub.filter(F.length("piece") > 1)
        .orderBy(F.col("mass").desc(), F.col("piece").asc())
        .limit(int(seed_size))
    )
    rows = chars.unionByName(multi).collect()
    total = sum(int(r["mass"]) for r in rows) or 1
    return {
        r["piece"]: math.log(int(r["mass"]) / total) for r in rows
    }


def _e_step(words: DataFrame, logp: Dict[str, float]) -> Dict[str, float]:
    """Distributed Viterbi-EM expectation: segment every distinct word
    under the broadcast model, sum freq-weighted piece counts with one
    partial-agg groupBy, collect the vocab-bounded count table."""
    spark = words.sparkSession
    blogp = spark.sparkContext.broadcast(logp)

    def gen(batches):
        model = blogp.value
        for pdf in batches:
            counts: Dict[str, float] = {}
            for w, c in zip(pdf["w"], pdf["cnt"]):
                for piece in viterbi_segment(w, model):
                    counts[piece] = counts.get(piece, 0.0) + float(c)
            yield pd.DataFrame(
                {"piece": list(counts.keys()), "c": list(counts.values())}
            )

    rows = (
        words.mapInPandas(gen, "piece string, c double")
        .groupBy("piece")
        .agg(F.sum("c").alias("c"))
        .collect()
    )
    return {r["piece"]: float(r["c"]) for r in rows}


def train_unigram(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 4000,
    seed_multiplier: int = 4,
    em_iters_per_round: int = 2,
    shrink: float = 0.75,
    sample_fraction: float = 1.0,
    salt: str = "unigram",
) -> List[Tuple[str, float]]:
    """Train a Unigram-LM tokenizer; returns the model as a sorted
    ``[(piece, logp), ...]`` list (single characters always included).
    ``sample_fraction`` draws the engine's deterministic hash sample
    (reproducible across partitionings) before the word table."""
    if sample_fraction < 1.0:
        # hash the TEXT itself (not a monotonic id, which is
        # partitioning-dependent) so the sample is reproducible across
        # runs, partitionings, and retries — sampling.hash_uniform's
        # construction keyed on content
        docs = docs.filter(
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(salt), F.col(text_col))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                / F.lit(4294967296.0)
            )
            < sample_fraction
        )
    words = _word_table(docs, text_col).localCheckpoint()
    logp = _seed_pieces(words, seed_size=vocab_size * seed_multiplier)
    chars = {p for p in logp if len(p) == 1}

    def renorm(counts: Dict[str, float]) -> Dict[str, float]:
        total = sum(counts.values()) or 1.0
        floor = min(counts.values()) / total / 100.0 if counts else 1e-9
        out = {}
        for p in set(counts) | chars:
            c = counts.get(p, 0.0)
            out[p] = math.log(c / total) if c > 0 else math.log(floor)
        return out

    while True:
        for _ in range(em_iters_per_round):
            counts = _e_step(words, logp)
            logp = renorm(counts)
        n_multi = sum(1 for p in logp if len(p) > 1)
        target_multi = max(0, vocab_size - len(chars))
        if n_multi <= target_multi:
            break
        keep = max(target_multi, int(n_multi * shrink))
        # prune lowest-expected-count multi-char pieces (chars immortal)
        ranked = sorted(
            ((p, lp) for p, lp in logp.items() if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )
        kept = dict(ranked[:keep])
        kept.update({p: logp[p] for p in chars})
        logp = kept
    return sorted(logp.items())


# ---------------------------------------------------------------------------
# distributed encode / count
# ---------------------------------------------------------------------------


def _model_dict(model: Iterable[Tuple[str, float]]) -> Dict[str, float]:
    return dict(model)


def encode_text(
    text: str, logp: Dict[str, float], memo: dict
) -> List[str]:
    out: List[str] = []
    for w in pretokenize(text):
        pieces = memo.get(w)
        if pieces is None:
            pieces = viterbi_segment(w, logp)
            memo[w] = pieces
        out.extend(pieces)
    return out


def unigram_token_count(
    docs: DataFrame,
    model: List[Tuple[str, float]],
    text_col: str = "text",
    out_col: str = "n_tokens",
) -> DataFrame:
    spark = docs.sparkSession
    bm = spark.sparkContext.broadcast(_model_dict(model))

    def gen(batches):
        logp = bm.value
        memo: dict = {}
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [
                len(encode_text(t or "", logp, memo)) for t in pdf[text_col]
            ]
            yield pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    )
    return docs.mapInPandas(gen, f"{schema}, {out_col} long")
