"""Byte-pair-encoding tokenizer: sample-bounded distributed training and
fully-distributed encoding/counting (the part that actually touches
100 TB).

Training follows Sennrich, Haddow, Birch (ACL 2016): start from
characters with an end-of-word marker, repeatedly merge the most
frequent adjacent symbol pair. Production tokenizers train on a
BOUNDED SAMPLE of the corpus (HF tokenizers, GPT-2: the merge loop is
inherently sequential, so no engine distributes it) — here the sample
is the engine's deterministic hash sample (reproducible across runs and
partitionings), the word-frequency table is computed DISTRIBUTED (one
partial-agg groupBy — the Zipf head combines map-side) and only the
(distinct-word, count) table reaches the driver, capped by
``max_words`` (most-frequent first; ties broken lexicographically so
the cut is order-independent).

Encoding is where the scale is: ``bpe_token_count`` runs as an
Arrow-batched pandas UDF with a per-executor word -> tokens
memo (Zipf again: the hit rate on real text is high, so the per-word
merge loop amortizes away). Token counts feed ``packing.pack_sequences``
directly, replacing the whitespace proxy with real tokenizer lengths.

Determinism: merges depend only on (word frequencies, n_merges);
equal-count pairs merge in lexicographic order; encoding depends only
on the merge list. No RNG, no partition state anywhere.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Dict, Iterable, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EOW = "</w>"  # end-of-word marker (Sennrich 2016)

# pre-tokenization: letter runs, digit runs, single other-non-space
# chars. Simpler than GPT-2's contraction-aware pattern but the same
# shape (documented engine convention; swap the regex to retune). The
# distributed word count uses the JVM regexp twin below — agreement is
# pinned by tests.
_PRETOKEN_RE = re.compile(r"[^\W\d_]+|\d+|[^\w\s]", re.UNICODE)
_PRETOKEN_JVM = r"[\\p{L}\\p{M}]+|\\d+|[^\\p{L}\\p{M}\\d\\s_]"


def pretokenize(text: str) -> List[str]:
    return [w for w in _PRETOKEN_RE.findall(text.lower()) if w != "_"]


def word_frequencies(
    docs: DataFrame, text_col: str = "text", max_words: int = 50_000
) -> List[Tuple[str, int]]:
    """(word, count) for the ``max_words`` most frequent pre-tokens —
    one explode + one partial-agg groupBy + a bounded TakeOrdered
    collect. Ordering (count desc, word asc) makes the cut
    deterministic."""
    wf = (
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
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(max_words)
    )
    return [(r["w"], int(r["cnt"])) for r in wf.collect()]


def _merge_word(symbols: Tuple[str, ...], pair: Tuple[str, str]) -> Tuple[str, ...]:
    out: List[str] = []
    i = 0
    n = len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == pair[0] and symbols[i + 1] == pair[1]:
            out.append(pair[0] + pair[1])
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return tuple(out)


def train_bpe_from_frequencies(
    word_freqs: Iterable[Tuple[str, int]], n_merges: int
) -> List[Tuple[str, str]]:
    """The sequential Sennrich merge loop over a (word, count) table.
    Returns the ordered merge list: most-frequent pair first; ties
    break to the lexicographically smallest pair; stops early when no
    pair occurs twice (nothing left compresses)."""
    vocab: Dict[Tuple[str, ...], int] = {}
    for w, c in word_freqs:
        if w:
            key = tuple(list(w) + [EOW])
            vocab[key] = vocab.get(key, 0) + int(c)
    merges: List[Tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, cnt in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        top = max(pairs.values())
        if top < 2:
            break
        best_pair = min(p for p, c in pairs.items() if c == top)
        merges.append(best_pair)
        vocab = {
            _merge_word(syms, best_pair): cnt for syms, cnt in vocab.items()
        }
    return merges


def train_bpe(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 1000,
    max_words: int = 50_000,
    sample_fraction: float = 1.0,
    id_col: str = "doc_id",
    salt: str = "bpe",
) -> List[Tuple[str, str]]:
    """End-to-end training: deterministic hash sample (bounds the corpus
    the word count scans), distributed word-frequency table, driver-side
    merge loop over the bounded (word, count) list."""
    if sample_fraction < 1.0:
        from .sampling import deterministic_sample  # noqa: PLC0415

        docs = deterministic_sample(docs, id_col, sample_fraction, salt)
    return train_bpe_from_frequencies(
        word_frequencies(docs, text_col, max_words), n_merges
    )


# ---------------------------------------------------------------------------
# encoding (the distributed leg)
# ---------------------------------------------------------------------------
def encode_word(word: str, ranks: Dict[Tuple[str, str], int]) -> List[str]:
    """Apply merges to one word in rank order (greedy lowest-rank-first,
    the standard BPE inference): start from chars + EOW, repeatedly
    merge the present pair with the smallest training rank."""
    syms: List[str] = list(word) + [EOW]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def encode_text(text: str, ranks: Dict[Tuple[str, str], int], memo: dict) -> List[str]:
    out: List[str] = []
    for w in pretokenize(text):
        hit = memo.get(w)
        if hit is None:
            hit = encode_word(w, ranks)
            memo[w] = hit
        out.extend(hit)
    return out


def _ranks(merges: List[Tuple[str, str]]) -> Dict[Tuple[str, str], int]:
    return {tuple(p): i for i, p in enumerate(merges)}


def bpe_token_count(
    docs: DataFrame,
    merges: List[Tuple[str, str]],
    text_col: str = "text",
    out_col: str = "n_bpe_tokens",
) -> DataFrame:
    """Adds ``out_col: long`` — the BPE token count (the packing input).
    Arrow-batched pandas UDF with a per-executor word->tokens memo; the
    merge list rides to executors inside the UDF closure (small: it is
    the tokenizer, not the corpus). No token arrays are materialized or
    shuffled."""
    ranks = _ranks(merges)
    memo: dict = {}

    @F.pandas_udf("long")
    def cnt(col: pd.Series) -> pd.Series:
        return col.map(lambda t: len(encode_text(t or "", ranks, memo)))

    return docs.withColumn(out_col, cnt(F.col(text_col)))
