"""Deduplication operators for training-data pipelines.

All operators are DataFrame compositions (shuffle-conscious; per-doc
hashing runs in Arrow-batched UDFs). Hash functions are md5-based so
every operator has an exact DuckDB oracle twin (portable across
engines; lexicographic min of fixed-width hex == numeric min, which
makes min-hashing expressible in both).

Scale notes:
- exact dedup: one shuffle on the content hash (map-side partial distinct
  via AQE); at 100 TB prefer a two-level hash (cheap 64-bit prefilter,
  md5 verify) and bucketed output.
- MinHash LSH: one Arrow pass computes all k signature lanes inside each
  doc's row from its shingle set (no shuffle), bands -> self-join only within band buckets,
  so candidate pairs ~ O(true dups), not O(n^2).
- n-gram Jaccard: each doc's shingle set is one sorted array row; the
  self-join runs on each set's prefix only, under a length filter, and
  the survivors are verified by array_intersect against broadcast
  candidates -> |A∩B| / (|A|+|B|-|A∩B|).
- connected components: star-contraction rounds while the edge set is
  large; once it has at most ``_LOCAL_EDGES`` edges it is collected
  through Arrow and finished by a driver-side union-find, so the driver
  never holds more than that many edges.
"""

from __future__ import annotations

import itertools
from typing import List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shingles(text_col, n: int = 3, strict: bool = False):
    """Word n-gram shingles as an array column (distinct, order-free).

    Texts shorter than ``n`` words emit the whole text as one pseudo
    n-gram by default — the permissive behavior the similarity operators
    (MinHash/Jaccard) want so short docs still hash SOMEWHERE. With
    ``strict=True`` such texts emit NO shingles (empty array): the
    decontamination operators use this so membership means a true
    n-gram match, matching a strict SQL n-gram oracle."""
    words = F.split(F.trim(text_col), r"\s+")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )
    )
    if strict:
        return F.when(F.size(words) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )
    return grams


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per exact content (md5) group."""
    return (
        df.withColumn("content_hash", F.md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, sh, n_sh): each doc's distinct word n-gram set as one sorted
    ``array<string>`` plus its size, from ONE Arrow pass over ``spread(df)``.

    ``sh`` equals the ``shingles(text, n)`` set: Java's default ``\\s``
    split after a 0x20-only trim ('' pseudo-tokens kept), a text under
    ``n`` words is one whole-text gram, and a null text is ``[""]``. It
    is sorted by ``(md5(shingle), shingle)``, a global total order that
    needs no global pass (``ngram_jaccard_pairs``' prefix filter)."""
    from .partitioning import spread  # noqa: PLC0415

    @F.pandas_udf("array<string>")
    def _sets(texts: pd.Series) -> pd.Series:
        import hashlib  # noqa: PLC0415
        import re  # noqa: PLC0415

        split = re.compile("[ \t\n\x0b\f\r]+").split
        md5 = hashlib.md5
        out = []
        for text in texts:
            # a null text is one '' word, as concat_ws over its null slice
            words = [""] if text is None else split(text.strip(" "))
            grams = {" ".join(words[i : i + n]) for i in range(max(len(words) - n, 0) + 1)}
            out.append(sorted(grams, key=lambda g: (md5(g.encode("utf-8")).digest(), g)))
        return pd.Series(out)

    sets = spread(df).select(F.col(id_col), _sets(F.col(text_col)).alias("sh"))
    return sets.withColumn("n_sh", F.size("sh"))


def _with_minhash(sets: DataFrame, k: int) -> DataFrame:
    """``sets`` plus ``_mh``: the k MinHash lanes of each ``shingle_sets``
    row, lane i = min(md5(shingle || ':' || i)) (the min digest is the min
    lowercase hex). Chained onto ``shingle_sets``' UDF in one Arrow pass."""

    @F.pandas_udf("array<string>")
    def _lanes(sets_col: pd.Series) -> pd.Series:
        import hashlib  # noqa: PLC0415

        md5 = hashlib.md5
        suffixes = [f":{i}".encode() for i in range(k)]
        out = []
        for grams in sets_col:
            enc = [g.encode("utf-8") for g in grams]
            out.append([min(md5(g + suf).digest() for g in enc).hex() for suf in suffixes])
        return pd.Series(out)

    return sets.withColumn("_mh", _lanes(F.col("sh")))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """k-lane MinHash signature per doc: lane i = min(md5(shingle || ':' || i)).

    The lanes are computed from ``shingle_sets`` inside each doc's row, so
    there is no explode + k-lane groupBy shuffle (guide §2.4/§4.2). The
    DuckDB oracle computes the same lanes as an explode + groupBy.
    """
    sigs = _with_minhash(shingle_sets(df, id_col, text_col, shingle_n), k)
    return sigs.select(F.col(id_col), *[F.col("_mh")[i].alias(f"mh_{i}") for i in range(k)])


def minhash_lsh_pairs(
    sigs: DataFrame,
    id_col: str,
    k: int = 16,
    bands: int = 4,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs;
    estimated Jaccard = fraction of equal signature lanes. Returns
    (id_a, id_b, est_jaccard) with id_a < id_b."""
    # materialize the signatures once: Spark does not reuse one side of
    # the banded self-join for the other, so each side would recompute
    # every lane; pair-finding then reads fingerprints, never the corpus
    sigs = sigs.localCheckpoint(eager=True)
    rows_per_band = k // bands
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    with_bands = sigs.select(F.col(id_col), *band_cols, *[f"mh_{i}" for i in range(k)])

    banded = with_bands.select(
        id_col,
        *[f"mh_{i}" for i in range(k)],
        F.explode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias("bucket"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            *[
                (F.col(f"l.mh_{i}") == F.col(f"r.mh_{i}")).cast("int").alias(f"eq_{i}")
                for i in range(k)
            ],
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = sum(F.col(f"eq_{i}") for i in range(k)) / F.lit(float(k))
    return (
        pairs.withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("id_a", "id_b", "est_jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """(id_a, id_b, jaccard) with id_a < id_b and jaccard =
    round(|A∩B| / |A∪B|, 6) >= ``threshold``, over pairs sharing a shingle.

    Exact prefix and length filters (TokenJoin, VLDB 2022; LCJoin, ICDE
    2019) over the once-materialized ``shingle_sets``: in their shared
    order a pair with J >= t' shares a token among each set's first
    |x| - ceil(t'|x|) + 1, and t'|x| <= |y| <= |x|/t'. Rounding admits J
    down to t - 5e-7, so t' is that (less 1e-12, so a product one ulp
    high cannot shorten a prefix); t' <= 0 joins every shingle unfiltered.
    The distinct survivors are verified by ``_intersections``."""
    sets = shingle_sets(df, id_col, text_col, shingle_n).localCheckpoint(eager=True)
    tp = threshold - 5e-7 - 1e-12
    n = F.col("n_sh")
    prefix = F.slice("sh", 1, n - F.ceil(n * tp).cast("int") + 1) if tp > 0 else F.col("sh")
    toks = sets.select(F.col(id_col).alias("_id"), n, F.explode(prefix).alias("_tok"))
    a, b = toks.alias("a"), toks.alias("b")
    on = (F.col("a._tok") == F.col("b._tok")) & (F.col("a._id") < F.col("b._id"))
    if tp > 0:
        on &= (F.col("b.n_sh") >= F.col("a.n_sh") * tp) & (
            F.col("a.n_sh") >= F.col("b.n_sh") * tp
        )
    cand = a.join(b, on).select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
    cand = cand.distinct()
    return (
        _intersections(sets, cand, id_col)
        .withColumn("jaccard", F.round(F.col("n_inter") / F.col("n_union"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _intersections(sets: DataFrame, cand: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b, n_inter, n_union) of each candidate pair by
    ``size(array_intersect)`` of its two ``shingle_sets`` rows. Both joins
    broadcast the candidate side, so the sets are never shuffled."""
    s = sets.select(F.col(id_col).alias("_sid"), "sh", "n_sh")
    a = s.join(F.broadcast(cand), F.col("_sid") == F.col("id_a"))
    a = a.select("id_a", "id_b", F.col("sh").alias("_sa"), F.col("n_sh").alias("_na"))
    ab = s.join(F.broadcast(a), F.col("_sid") == F.col("id_b")).select(
        "id_a", "id_b", "_na", "n_sh", F.size(F.array_intersect("_sa", "sh")).alias("n_inter")
    )
    n_union = F.col("_na") + F.col("n_sh") - F.col("n_inter")
    return ab.select("id_a", "id_b", "n_inter", n_union.alias("n_union"))


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash.

    Bit d of md5(token) = bit (3 - d%4) of hex digit d//4 (big-endian bit
    order of the digest's first 8 bytes); per-doc vote sum per bit (token
    frequency = weight), fingerprint bit = sign. Emitted as a 64-char
    '0'/'1' string — portable to the DuckDB oracle and splittable into
    two 32-bit halves for JVM-side Hamming (bit_count of xor).

    ONE Arrow-batched pandas UDF: tokens never leave their doc's row, so
    there is no explode + 64-lane groupBy shuffle (guide §2.4/§4.2), and
    the per-token work is hashlib's C md5 + one vectorized numpy
    unpackbits/sum per doc instead of 16 conv() calls and 64 conditional
    aggregate lanes (measured ~5x less per-token CPU at sf0.1). Vote
    comparison is integer-exact: v_d = 2*ones_d - n. Null-text docs are
    dropped, as the oracle's explode of a null token array drops them.
    """

    @F.pandas_udf("string")
    def _sim(texts: pd.Series) -> pd.Series:
        import hashlib  # noqa: PLC0415
        import re  # noqa: PLC0415

        # Java default \s (no UNICODE_CHARACTER_CLASS) and Spark trim
        # (0x20 only), so tokens match F.split(F.trim(col), r"\s+")
        # byte-for-byte, including leading/trailing '' pseudo-tokens
        split = re.compile("[ \t\n\x0b\f\r]+").split
        out = []
        for text in texts:
            if text is None:
                out.append(None)
                continue
            toks = split(text.strip(" "))
            dig = b"".join(
                hashlib.md5(t.encode("utf-8")).digest()[:8] for t in toks
            )
            bits = np.unpackbits(
                np.frombuffer(dig, dtype=np.uint8).reshape(-1, 8), axis=1
            )
            ones = bits.sum(axis=0, dtype=np.int64)
            v = 2 * ones - len(toks)
            out.append("".join("1" if x > 0 else "0" for x in v))
        return pd.Series(out, dtype=object)

    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), _sim(F.col(text_col)).alias("simhash")
    )


def simhash_hamming_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bands: int = 8,
    max_hamming: int = 7,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= ``max_hamming``.

    Banded candidate generation is EXACT here by pigeonhole: a pair with
    <= max_hamming differing bits differs in at most max_hamming bands, so
    with bands >= max_hamming + 1 it shares at least one identical band
    and is guaranteed to surface. Random pairs collide on an 8-bit band
    w.p. ~1/256 per band, so candidates stay ~O(true near-dups) instead of
    O(n^2) — the same banding economics as MinHash LSH. Hamming itself is
    JVM-side: bit_count(xor) over the fingerprint's two 32-bit halves.
    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    nbits, rb = 64, 64 // bands
    assert bands >= max_hamming + 1, "banding not exhaustive for this radius"
    # same rationale as minhash_lsh_pairs: the self-join would run the
    # 64-lane vote aggregate twice without materializing the fingerprints
    fps = fps.localCheckpoint(eager=True)
    banded = fps.select(
        F.col(id_col),
        F.col(sim_col),
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}:"), F.substring(F.col(sim_col), b * rb + 1, rb)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )

    def _half(c, start):
        return F.conv(F.substring(c, start, 32), 2, 10).cast("long")

    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col(f"l.{sim_col}").alias("_sa"),
            F.col(f"r.{sim_col}").alias("_sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming",
            (
                F.bit_count(_half(F.col("_sa"), 1).bitwiseXOR(_half(F.col("_sb"), 1)))
                + F.bit_count(
                    _half(F.col("_sa"), 33).bitwiseXOR(_half(F.col("_sb"), 33))
                )
            ).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def rademacher_hyperplanes(nbits: int, dim: int) -> List[List[int]]:
    """Deterministic +-1 hyperplanes: w[p][j] = +1 iff md5(f"{p}:{j}")
    starts with a hex digit >= '8'. Data-independent and reproducible in
    any engine (the DuckDB oracle bakes the same literals), unlike
    axis-aligned sign buckets whose balance depends on the embedding
    distribution being zero-centered per dimension."""
    import hashlib  # noqa: PLC0415

    return [
        [
            1 if hashlib.md5(f"{p}:{j}".encode()).hexdigest()[0] >= "8" else -1
            for j in range(dim)
        ]
        for p in range(nbits)
    ]


def rademacher_signature_col(vec_col, planes: List[List[int]]):
    """The ``nbits``-char '0'/'1' sign-bit signature of ``vec_col`` under
    Rademacher hyperplanes ``planes``.

    One Arrow-batched pandas UDF whose numpy accumulation adds the ±x_j
    terms in the same left-to-right order as the DuckDB oracle's unrolled
    ``0.0 + x0 - x1 ...`` sum, so every dot product — and therefore every
    sign bit — is IEEE-identical to it. Plan size is O(1): an expression
    form's tree is O(nbits*dim) interpreted higher-order-function nodes
    which, duplicated across both sides of the LSH self-join, costs
    seconds of driver analysis/codegen per run (measured: q35 6.4 s ->
    the join itself is milliseconds at oracle scale).
    """
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    W = np.asarray(planes, dtype=np.float64)  # nbits x dim

    @pandas_udf("string")
    def _sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        n, nbits, dim = X.shape[0], W.shape[0], W.shape[1]
        bits = np.empty((nbits, n), dtype=bool)
        for p in range(nbits):
            # sequential ±adds reproduce the fold's rounding exactly
            # (x * ±1.0 == ±x and acc + (-x) == acc - x in IEEE 754)
            acc = np.zeros(n, dtype=np.float64)
            for j in range(dim):
                if W[p, j] > 0:
                    acc += X[:, j]
                else:
                    acc -= X[:, j]
            bits[p] = acc >= 0
        chars = np.where(bits, "1", "0")
        return pd.Series(["".join(col) for col in chars.T])

    return _sig(vec_col)


def embedding_neardup_pairs_banded(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    nbits: int = 16,
    bands: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Scale-safe embedding near-dup: random-hyperplane LSH with banding.

    Round-1's 8-bit axis-aligned bucket leaves ~10^8 vectors per bucket at
    10^10 rows (quadratic within-bucket join). Here each of ``nbits``
    Rademacher hyperplanes contributes one unbiased sign bit regardless of
    the embedding distribution, and banding (``bands`` bands of
    nbits/bands bits) turns the self-join into per-(band, bits) buckets:
    expected bucket size n / 2^(nbits/bands) per band — tune nbits/bands
    up (e.g. 64/8) to bound candidates at corpus scale, while
    near-identical vectors still agree on every bit and meet in all
    bands. Exact cosine >= threshold verifies candidates.

    Signatures come from :func:`rademacher_signature_col` (Arrow-batched
    numpy; see its docstring for the plan-size rationale).
    Returns (id_a, id_b, cos_sim) with id_a < id_b, cos rounded to 4dp.
    """
    from .similarity import cosine_similarity_col  # noqa: PLC0415

    planes = rademacher_hyperplanes(nbits, dim)
    rb = nbits // bands

    sig = rademacher_signature_col(F.col(vec_col), planes)
    # materialized once: the self-join's two sides would otherwise run
    # the signature UDF (and the upstream lineage) twice
    sigd = embeddings.select(
        F.col(id_col), F.col(vec_col), sig.alias("_sig")
    ).localCheckpoint(eager=True)
    b = sigd.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{band}:"),
                        F.substring(F.col("_sig"), band * rb + 1, rb),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bucket"),
    )
    left, right = b.alias("l"), b.alias("r")
    return (
        left.join(
            right,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.round(
                cosine_similarity_col(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")),
                4,
            ).alias("cos_sim"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (train/test overlap removal)
# ---------------------------------------------------------------------------


def benchmark_ngrams(bench: DataFrame, text_col: str, n: int = 13) -> DataFrame:
    """Distinct word n-grams of an eval benchmark, lowercased +
    whitespace-normalized (the GPT-3 appendix-C / PaLM decontamination
    shape: 13-gram membership against the eval sets). One narrow
    transform + explode + distinct — the result is small (benchmarks are
    MBs) and is meant to be broadcast."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return (
        bench.select(F.explode(shingles(norm, n, strict=True)).alias("ngram"))
        .filter(F.col("ngram") != "")
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    bench_ngrams: DataFrame,
    n: int = 13,
    max_hits: int = 0,
) -> DataFrame:
    """Flag training docs that collide with benchmark n-grams.

    Membership is STRICT n-gram (shingles(strict=True)): texts shorter
    than ``n`` words contribute no n-grams on either side, matching the
    SQL oracle exactly (a short text can never "be" a pseudo-13-gram).

    Plan shape at 10^10 docs: corpus side is one narrow
    normalize+shingle+explode (no shuffle), the membership test is a
    BROADCAST semi-join against the distinct benchmark n-grams (small by
    construction), and the per-doc tally is one groupBy(id) with partial
    aggregation. Docs with zero hits never survive the inner join, so
    the final left join restores them with hits=0. Returns
    (id, contam_hits, keep) where keep = hits <= max_hits.
    """
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    grams = corpus.select(
        F.col(id_col), F.explode(shingles(norm, n, strict=True)).alias("ngram")
    ).filter(F.col("ngram") != "")
    hits = (
        grams.join(F.broadcast(bench_ngrams), on="ngram", how="inner")
        .groupBy(id_col)
        .agg(F.count("*").alias("contam_hits"))
    )
    return (
        corpus.select(id_col)
        .join(hits, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("contam_hits"), F.lit(0))
            .cast("long")
            .alias("contam_hits"),
            (
                F.coalesce(F.col("contam_hits"), F.lit(0)) <= max_hits
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (pairs -> connected components -> keep set)
# ---------------------------------------------------------------------------


def _symmetrize(e: DataFrame) -> DataFrame:
    return e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(e: DataFrame) -> DataFrame:
    # for every node u: attach each STRICTLY LARGER neighbor v to
    # m(u) = min(neighborhood(u) + {u}).
    # No trailing distinct: duplicates ((v, m) emitted once per (u, v)
    # edge with the same m) are bounded by the symmetrized edge count and
    # collapse for free in the consumer — _small_star's min-agg ignores
    # multiplicity and its trailing distinct restores set semantics — so
    # the dedup exchange this operator used to pay per half-round is
    # dropped (guide §2.4: remove shuffles outright).
    sym = _symmetrize(e)
    mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
    mins = mins.select("u", F.least(F.col("u"), F.col("_mn")).alias("m"))
    return (
        sym.join(mins, on="u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    # for every node u: attach each SMALLER neighbor (and u itself) to
    # m(u) = min of the smaller neighbors
    sm = _symmetrize(e).where(F.col("v") < F.col("u"))
    mins = sm.groupBy("u").agg(F.min("v").alias("m"))
    out_nbrs = (
        sm.join(mins, on="u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    out_self = mins.select("u", F.col("m").alias("v"))
    return (
        out_nbrs.unionByName(out_self)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


# Edge sets at or under this size skip the rest of the star-contraction
# loop: one Arrow collect plus a driver-side union-find is cheaper than a
# single Spark round (~6 AQE stage-jobs) up to here, and the driver holds
# only the edge list and one parent map. Measured at 200k clique-shaped
# edges on local[4]: finish 0.46 s vs one round 0.72 s (long ids), 0.66 s
# vs 1.36 s (md5-hex ids); driver Python peak 23 MB / 54 MB.
_LOCAL_EDGES = 200_000


def _union_find_labels(u: List, v: List) -> tuple:
    """(nodes, components) of an edge list by union-find: union by min
    root (the root IS the member minimum) and path halving."""
    parent = {x: x for x in itertools.chain(u, v)}

    def find(x):
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]
        return x

    for a, b in zip(u, v):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    nodes = list(parent)
    return nodes, [find(x) for x in nodes]


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """(node, component) labels over an undirected pair list — the
    cluster-resolution step every near-dedup pipeline needs after its
    pair generators (MinHash-LSH / SimHash / Jaccard / embedding bands):
    duplicate similarity is transitive through chains the pair lists
    never state directly, so "keep one per pair" under-deletes.

    Algorithm: the alternating large-star / small-star method of
    Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    "Connected Components in MapReduce and Beyond" (SoCC 2014) —
    the standard shuffle-native formulation:

    - large-star: every node points its strictly-larger neighbors at
      the minimum of its closed neighborhood;
    - small-star: every node and its smaller neighbors re-attach to
      the minimum of the smaller neighborhood;
    - alternate until the edge set reaches a fixpoint, at which point
      the edges form stars rooted at each component's minimum id.

    The loop has a second exit: once the edge set fits one driver pass
    (``_LOCAL_EDGES``), it is collected through Arrow and labelled by a
    union-find, the finish-locally step of Łącki, Mirrokni, Włodarczyk,
    "Connected Components at Scale via Local Contractions" (2018). The
    check runs after every signature, the initial one included: edge
    count never grows and a k-doc duplicate clique of k(k-1)/2 pairs is
    a (k-1)-edge star after one round, so a graph that starts above the
    constant usually fits after a round. Both exits give the same rows
    and schema.

    Scale: per half-round the work is one partial-aggregated
    groupBy(min), one join on the node id, and one distinct — edge
    count never grows (each input edge yields at most one output
    edge), components collapse in O(log^2 n) rounds (O(log n)
    observed), and high-degree hubs are absorbed by map-side partial
    min-aggregation + AQE skew splits. Each round is localCheckpoint-ed
    (the iterative-lineage discipline pagerank()/kmeans use) and the
    fixpoint test is a count+hash signature over the materialized
    round; the driver only ever holds an edge set at or under
    ``_LOCAL_EDGES``. Session conf is never touched.

    Ids may be any orderable type (long doc ids, md5 strings);
    the component label is the member minimum. Nodes that appear in
    no pair are absent from the output (isolated singletons are their
    own components — left-join and coalesce(component, id) to label a
    full corpus). Raises if ``max_rounds`` is exhausted before the
    fixpoint or the fit (pathological only: rounds needed grow with log
    of the longest chain, so 25 covers ~2^25-long chains).
    """
    e = (
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("u"),
            F.least(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
        .distinct()
        # lazy: the signature aggregation below is the materializing
        # action, so every round costs ONE job instead of the former two
        # (eager checkpoint + separate signature collect) — guide §1/§5:
        # the driver cadence, not the shuffles, dominated this operator's
        # wall time at bench scale (round-5 verdict item 4)
        .localCheckpoint(eager=False)
    )

    def _sig(df: DataFrame):
        # bit_xor, not sum: order-free, collision-negligible, and cannot
        # overflow under ANSI mode (rows are distinct so nothing cancels).
        # Doubles as the materializing action for the lazy checkpoint:
        # the full scan computes and pins every partition in one job.
        row = df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    def _labels(df: DataFrame) -> DataFrame:
        # fixpoint edges are stars (member, component_min)
        stars = df.select(F.col("u").alias("node"), F.col("v").alias("component"))
        roots = (
            df.select(F.col("v").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("component"))
        )
        return stars.unionByName(roots)

    prev = _sig(e)
    rounds = 0
    while prev[0] > _LOCAL_EDGES:
        if rounds == max_rounds:
            raise RuntimeError(
                f"connected_components did not converge in {max_rounds} rounds"
            )
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        rounds += 1
        cur = _sig(e)
        if cur == prev:
            return _labels(e)
        prev = cur
    edges = e.toArrow()
    nodes, comps = _union_find_labels(
        edges.column("u").to_pylist(), edges.column("v").to_pylist()
    )
    return pairs.sparkSession.createDataFrame(
        pd.DataFrame({"node": nodes, "component": comps}),
        schema=_labels(e).schema,
    )


def dedup_near_duplicates(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """Drop every row that is a NON-representative member of a duplicate
    cluster (the member with the minimum id is kept), where clusters are
    the connected components of the pair list. One left_anti join
    against the (small) non-representative id set — rows outside every
    pair pass through untouched."""
    cc = connected_components(pairs, a_col, b_col, max_rounds)
    drop = cc.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")


def near_dedup_keep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.8,
    max_rounds: int = 25,
) -> DataFrame:
    """The full FineWeb-shaped fuzzy-dedup pipeline as one composition:

    1. ``shingle_sets`` and the MinHash lanes computed from them,
       materialized once,
    2. LSH banding -> candidate pairs (banded self-join, ~O(true dups)),
    3. exact n-gram Jaccard VERIFY of the candidates only, by
       ``_intersections`` over the same sets (kills LSH false positives
       before they chain clusters together),
    4. connected components over the verified pairs (similarity is
       transitive through chains the pair list never states),
    5. keep the min-id representative per cluster.

    Returns ``df`` filtered to the keep set, schema unchanged. Every
    stage is the already-gated operator (q19/q20/q21/q60); this is the
    composition a user runs. Verification restricted to candidate pairs
    keeps step 3 linear in true-duplicate volume — the two O(n^2) traps
    (all-pairs Jaccard, all-pairs components) never appear."""
    sets = _with_minhash(shingle_sets(df, id_col, text_col, shingle_n), k)
    sets = sets.localCheckpoint(eager=True)
    sigs = sets.select(F.col(id_col), *[F.col("_mh")[i].alias(f"mh_{i}") for i in range(k)])
    cand = minhash_lsh_pairs(sigs, id_col, k=k, bands=bands, min_est_jaccard=0.0)
    cand = cand.select("id_a", "id_b")
    verified = (
        _intersections(sets, cand, id_col)
        .filter(F.col("n_inter") / F.col("n_union") >= min_jaccard)
        .select("id_a", "id_b")
    )
    return dedup_near_duplicates(
        df, id_col, verified, "id_a", "id_b", max_rounds=max_rounds
    )


# ---------------------------------------------------------------------------
# exact substring deduplication (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr variant): any token
# span of length >= L that occurs more than once ACROSS THE CORPUS is
# removed from every document that contains it. The published tool builds
# a single-machine suffix array; the Spark-native equivalent below is the
# fixed-width windowed formulation (hash every length-L token window,
# count, remove covered positions), which detects exactly the duplicated
# spans of length >= L: a span of length m >= L duplicated across docs
# duplicates all m-L+1 of its windows, and the union of those windows is
# the span itself.
# ---------------------------------------------------------------------------


def _ws_tokens(text_col):
    """Whitespace tokens, empties dropped (split on leading/trailing
    whitespace emits '' both here and in the DuckDB oracle's
    regexp_split_to_array — filter them identically)."""
    return F.filter(
        F.split(F.trim(text_col), r"\s+"), lambda t: t != F.lit("")
    )


def token_windows(
    df: DataFrame, id_col: str, text_col: str, length: int = 50
) -> DataFrame:
    """(id, s, whash) for every length-L token window: whash is the md5
    of the 0x1F-joined window tokens, so a DuckDB oracle reproduces it
    byte-for-byte (md5(array_to_string(toks[s+1:s+L], chr(31)))).

    Scale: output is one row per token (corpus-sized) but stays narrow
    (id, int, 32-char hex); the downstream count is a partial-agg
    groupBy, so a boilerplate window duplicated 10^6 times collapses
    map-side before the exchange. The O(L) slice copy per window is the
    price of the oracle-exact hash."""
    toks = _ws_tokens(F.col(text_col))
    return (
        df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
        .where(F.size("_toks") >= length)
        .select(
            "id",
            "_toks",
            F.explode(
                F.sequence(F.lit(0), F.size("_toks") - F.lit(length))
            ).alias("s"),
        )
        .select(
            "id",
            "s",
            F.md5(
                F.concat_ws(
                    "\x1f", F.slice("_toks", F.col("s") + 1, length)
                )
            ).alias("whash"),
        )
    )


def duplicate_window_starts(
    df: DataFrame, id_col: str, text_col: str, length: int = 50
) -> DataFrame:
    """(id, s) of every window whose hash occurs >1 times corpus-wide.

    Plan: windows -> groupBy(whash).count (ONE corpus-sized shuffle,
    partial agg absorbs boilerplate skew) -> inner join back on whash
    (the duplicated-hash set is usually tiny relative to the corpus;
    AQE broadcasts it when it fits, shuffle-hash otherwise — either
    way no sort). md5 gives 128 bits, so cross-doc collisions are
    negligible at any realistic corpus size (~n^2 / 2^128)."""
    w = token_windows(df, id_col, text_col, length)
    dup = (
        w.groupBy("whash")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > 1)
        .select("whash")
    )
    return w.join(dup, "whash").select("id", "s")


def _merge_starts(starts_col, length: int):
    """Fold a SORTED array of window starts into disjoint [b, e)
    intervals (each start covers [s, s+L)), so the per-token coverage
    test is O(intervals), not O(starts) — heavily duplicated docs have
    few merged intervals even when they have thousands of dup windows."""
    empty = F.expr("CAST(array() AS array<struct<b:int,e:int>>)")
    return F.aggregate(
        starts_col,
        empty,
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= F.element_at(acc, -1).getField("e")),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1).getField("b").alias("b"),
                        (s + F.lit(length)).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(s.alias("b"), (s + F.lit(length)).alias("e"))
                ),
            )
        ),
    )


def dedup_substrings(
    df: DataFrame, id_col: str, text_col: str, length: int = 50
) -> DataFrame:
    """Remove every duplicated (corpus-wide, length >= L) token span
    from every document. Returns one row per input row:
    (id, total_tokens, removed_tokens, kept_text) — kept_text is the
    space-joined surviving tokens in original order (the published
    behavior: duplicated spans are CUT, the remainder is re-joined).

    Plan: duplicate_window_starts (one shuffle) -> groupBy(id) to a
    sorted start array (second shuffle, bounded by doc length) -> left
    join back to the corpus -> pure-JVM interval merge + coverage
    filter (no Python, no window function, no per-token shuffle). Docs
    with no duplicated window never enter the starts table and pass
    through the left join with zero removals."""
    L = length
    starts = (
        duplicate_window_starts(df, id_col, text_col, L)
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("s")).alias("_starts"))
    )
    toks = _ws_tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
    j = base.join(starts, "id", "left").withColumn(
        "_iv",
        _merge_starts(
            F.coalesce(
                F.col("_starts"), F.expr("CAST(array() AS array<int>)")
            ),
            L,
        ),
    )
    idx = F.when(
        F.size("_toks") > 0,
        F.sequence(F.lit(0), F.size("_toks") - 1),
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    kept_idx = F.filter(
        idx,
        lambda i: ~F.exists(
            F.col("_iv"),
            lambda iv: (iv.getField("b") <= i) & (i < iv.getField("e")),
        ),
    )
    return j.select(
        "id",
        F.size("_toks").cast("long").alias("total_tokens"),
        (F.size("_toks") - F.size(kept_idx)).cast("long").alias(
            "removed_tokens"
        ),
        F.concat_ws(
            " ",
            F.transform(kept_idx, lambda i: F.element_at("_toks", i + 1)),
        ).alias("kept_text"),
    )


# ---------------------------------------------------------------------------
# rel=canonical deduplication — the declared-duplicate signal every
# production crawl applies before content dedup: pages naming the same
# <link rel=canonical> target are duplicates BY DECLARATION (print views,
# tracking-parameter variants, mirrors), no similarity computation needed.
# ---------------------------------------------------------------------------


def canonical_targets(
    df: DataFrame, url_col: str, html_col: str
) -> DataFrame:
    """Append ``canonical_target``: the first <link rel=canonical href>
    resolved absolute (oracle/html_parser.extract_canonical), falling
    back to the page's own URL when absent. Arrow-batched pandas UDF,
    scan-local — fuses into whatever stage reads the html."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("string")
    def _canon(url: pd.Series, html: pd.Series) -> pd.Series:
        from ..oracle.html_parser import extract_canonical  # noqa: PLC0415

        out = []
        for u, h in zip(url, html):
            if h is None or u is None:
                out.append(u)
                continue
            try:
                out.append(extract_canonical(h, u) or u)
            except Exception:  # noqa: BLE001 — decoder-boundary contract
                out.append(u)
        return pd.Series(out)

    return df.withColumn(
        "canonical_target", _canon(F.col(url_col), F.col(html_col))
    )


def canonical_dedup(df: DataFrame, url_col: str, html_col: str) -> DataFrame:
    """Keep ONE row per canonical target: the target page itself when it
    is in the corpus (url == canonical_target), else the min-url member
    (deterministic). Rows that declare no canonical form their own
    group (target falls back to self), so undeclared pages always pass
    through.

    Plan: one partial-agg groupBy on canonical_target picking
    min(struct(is_not_self, url)) + a join back on the kept row's URL —
    the same skew-safe shape as paragraph_dedup: a mega-group (a site
    canonicalizing a million variants to one URL) collapses map-side,
    never pins one task in a window.

    PRECONDITION: ``url_col`` is the corpus row key (the crawl
    invariant: one row per canonical URL). A duplicate url would
    cross-multiply through the keep join, so the plan raises on one: a
    narrow groupBy(url) over (url, target) with ``raise_error`` ahead of
    the target grouping, inside the same query (no separate action).
    That lets the keep set re-attach by URL alone, so
    the html-parsing UDF runs in ONE narrow pass (url + html only cross
    Arrow) inside the keep computation — the previous semi-join on
    (target, url) consumed the un-materialized UDF column on BOTH sides
    and parsed the whole corpus twice (guide §4.1: control how many
    columns cross, and how many times)."""
    dup = F.raise_error(
        F.concat(F.lit(f"canonical_dedup: {url_col} is not unique: "), F.col(url_col))
    )
    narrow = (
        canonical_targets(df.select(url_col, html_col), url_col, html_col)
        .groupBy(url_col)
        .agg(F.count("*").alias("_n"), F.min("canonical_target").alias("_t0"))
        .select(
            url_col,
            F.when((F.col("_n") > 1) & F.col(url_col).isNotNull(), dup)
            .otherwise(F.col("_t0"))
            .alias("canonical_target"),
        )
    )
    keep = (
        narrow.groupBy("canonical_target")
        .agg(
            F.min(
                F.struct(
                    (F.col(url_col) != F.col("canonical_target"))
                    .cast("int")
                    .alias("_not_self"),
                    F.col(url_col).alias("_u"),
                )
            ).alias("_k")
        )
        .select(
            F.col("canonical_target").alias("_t"), F.col("_k._u").alias("_u")
        )
    )
    return (
        df.join(keep, F.col(url_col) == F.col("_u"), "inner")
        .withColumn("canonical_target", F.col("_t"))
        .drop("_t", "_u")
    )
