"""Distributed n-gram language-model perplexity scoring (the CCNet-style
quality stage: score web docs against an LM trained on a trusted corpus,
keep the low-perplexity head/middle).

Method: **stupid backoff** (Brants, Popat, Xu, Och, Dean — "Large
Language Models in Machine Translation", EMNLP 2007), the scheme built
for MapReduce-scale LMs: no discounting or normalization pass, score
``S(w | ctx_k) = count(ctx_k . w) / count(ctx_k)`` when the k-gram was
seen, else ``alpha * S(w | ctx_{k-1})``, bottoming out at the unigram
relative frequency (OOV words take an add-one count floor so every
token scores finitely). Because scores need only raw counts, BOTH
training and scoring stay fully distributed and fully JVM-side:

- ``train_ngram_lm``: one groupBy per order over exploded gram strings
  (partial map-side aggregation absorbs Zipfian token skew — the hot
  grams combine before the exchange).
- ``score_docs``: explode scored positions once, then one left join per
  order against the count tables (gram and context lanes) and a single
  per-doc re-aggregation. No Python UDF anywhere — the whole pipeline
  is whole-stage-codegen expressions, and Catalyst broadcasts the count
  tables when they fit (at 100 TB the count tables are themselves
  distributed and the joins shuffle-hash on the gram key, which is the
  published MapReduce-LM serving layout).

Tokenization is the engine's whitespace convention (``ws_token_count``
in text.py): lowercase, split on runs of whitespace. Documents are
padded with ``order-1`` BOS markers and one EOS marker, so every real
token (and the end decision) scores against a full-length context; a
k-gram's context (k-1)-gram always has count >= the k-gram's, so the
in-gram lane never divides by null.

Perplexity here is the stupid-backoff proxy ``10 ** (-mean log10 S)`` —
scores are not a normalized distribution (the published trade-off), so
values are comparable BETWEEN docs scored against the same LM, which is
exactly what threshold/tercile filtering needs.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BOS = "<s>"
EOS = "</s>"


def _tokens(text_col: Column) -> Column:
    toks = F.split(F.lower(F.trim(text_col)), r"\s+")
    return F.filter(toks, lambda t: t != "")


def _padded(text_col: Column, order: int) -> Column:
    bos = F.array(*[F.lit(BOS) for _ in range(order - 1)])
    return F.concat(bos, _tokens(text_col), F.array(F.lit(EOS)))


class NGramLM:
    """Count tables per order (gram string -> count) + the unigram total.
    ``counts[k]`` has columns (gram string, cnt long); gram strings are
    space-joined lowercase tokens. Persist with ``save``/``load`` as
    plain parquet dirs (at warehouse scale: bucket by gram)."""

    def __init__(self, order: int, counts: Dict[int, DataFrame], total: int):
        if order < 1:
            raise ValueError("order must be >= 1")
        self.order = order
        self.counts = counts
        self.total = total

    def save(self, path: str) -> None:
        for k, df in self.counts.items():
            df.write.mode("overwrite").parquet(f"{path}/order={k}")
        spark = self.counts[1].sparkSession
        spark.createDataFrame(
            [(self.order, self.total)], "order int, total long"
        ).write.mode("overwrite").parquet(f"{path}/meta")

    @classmethod
    def load(cls, spark, path: str) -> "NGramLM":
        meta = spark.read.parquet(f"{path}/meta").collect()[0]
        counts = {
            k: spark.read.parquet(f"{path}/order={k}")
            for k in range(1, meta["order"] + 1)
        }
        return cls(meta["order"], counts, meta["total"])


def train_ngram_lm(
    docs: DataFrame, text_col: str = "text", order: int = 3
) -> NGramLM:
    """Count k-grams for k = 1..order over the BOS/EOS-padded token
    stream. Each order is one explode + one hash-aggregate (map-side
    partial combine first); nothing collects to the driver except the
    scalar unigram total."""
    padded = docs.select(_padded(F.col(text_col), order).alias("toks"))
    counts: Dict[int, DataFrame] = {}
    for k in range(1, order + 1):
        # k-grams at every padded position where one fits; enumerating
        # every order over the SAME padded stream keeps the invariant
        # count(context of a seen k-gram) > 0 used by score_docs
        grams = padded.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - F.lit(k)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, k)),
                )
            ).alias("gram")
        )
        counts[k] = grams.groupBy("gram").agg(F.count("*").alias("cnt"))
    total = counts[1].agg(F.sum("cnt")).collect()[0][0] or 0
    return NGramLM(order, counts, int(total))


def score_docs(
    docs: DataFrame,
    lm: NGramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """(id, n_scored, logprob_per_token, perplexity) per doc — stupid
    backoff against ``lm``, pure JVM. ``n_scored`` counts real tokens
    plus the EOS decision. Empty docs score the lone EOS.

    Plan shape: one posexplode of scored positions, ``2*order - 1``
    left joins keyed by gram string (Catalyst broadcasts small count
    tables; at scale they shuffle-hash on the gram key), one final
    per-doc aggregation."""
    order = lm.order
    padded = docs.select(
        F.col(id_col).alias("_doc"), _padded(F.col(text_col), order).alias("toks")
    )
    # scored positions: every index holding a real token or EOS
    pos = padded.select(
        "_doc",
        F.posexplode(F.slice("toks", order, F.size("toks") - order + 1)).alias(
            "_i", "w"
        ),
        F.col("toks"),
    )
    # suffix contexts ctx_k = the k tokens before w (padded index of w
    # is _i + order - 1, 0-based; slice() is 1-based)
    sel = [F.col("_doc"), F.col("w")]
    for k in range(1, order):
        ctx = F.concat_ws(" ", F.slice("toks", F.col("_i") + order - k, k))
        sel.append(ctx.alias(f"ctx_{k}"))
    pos = pos.select(*sel)
    # gram_k = ctx_{k-1} + w (gram_1 = w)
    grams = [F.col("w").alias("gram_1")]
    for k in range(2, order + 1):
        grams.append(
            F.concat_ws(" ", F.col(f"ctx_{k - 1}"), F.col("w")).alias(f"gram_{k}")
        )
    pos = pos.select("_doc", *[F.col(f"ctx_{k}") for k in range(1, order)], *grams)

    # join the count tables: gram lane (k = 1..order), context lane
    # (k = 1..order-1); all left joins on the gram string
    for k in range(1, order + 1):
        pos = pos.join(
            lm.counts[k].select(
                F.col("gram").alias(f"gram_{k}"), F.col("cnt").alias(f"c_{k}")
            ),
            on=f"gram_{k}",
            how="left",
        )
    for k in range(1, order):
        pos = pos.join(
            lm.counts[k].select(
                F.col("gram").alias(f"ctx_{k}"), F.col("cnt").alias(f"cc_{k}")
            ),
            on=f"ctx_{k}",
            how="left",
        )

    # stupid backoff, innermost-out: base = unigram relative frequency
    # with an add-one OOV floor
    score = F.coalesce(F.col("c_1"), F.lit(1)).cast("double") / F.lit(
        float(max(lm.total, 1))
    )
    for k in range(2, order + 1):
        hit = F.col(f"c_{k}").cast("double") / F.col(f"cc_{k - 1}").cast("double")
        score = F.when(F.col(f"c_{k}").isNotNull(), hit).otherwise(
            F.lit(alpha) * score
        )
    scored = pos.select("_doc", F.log10(score).alias("lp"))
    out = scored.groupBy("_doc").agg(
        F.count("*").alias("n_scored"),
        F.avg("lp").alias("logprob_per_token"),
    )
    return out.select(
        F.col("_doc").alias(id_col),
        "n_scored",
        "logprob_per_token",
        F.pow(F.lit(10.0), -F.col("logprob_per_token")).alias("perplexity"),
    )


def perplexity_buckets(
    scores: DataFrame, n_buckets: int = 3, col: str = "perplexity"
) -> DataFrame:
    """CCNet's head/middle/tail split: bucket by EXACT perplexity
    quantiles (one small agg on the scores table — deterministic,
    unlike approxQuantile). Returns scores + ``bucket`` in
    [0, n_buckets) where 0 is the lowest-perplexity head."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    row = scores.agg(
        F.expr(
            f"percentile({col}, array({', '.join(str(q) for q in qs)}))"
        ).alias("qs")
    ).collect()[0]
    edges = list(row["qs"])
    # bucket = number of quantile edges the value exceeds
    bucket = sum((F.col(col) > F.lit(float(e))).cast("int") for e in edges)
    return scores.withColumn("bucket", bucket)
