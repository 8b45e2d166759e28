"""Scale drills for the banded near-dup operators (round-2 additions).

Two properties matter at 10^10 rows:
1. exactness — banded candidate generation must not lose true pairs
   (pigeonhole guarantee for SimHash-Hamming; empirical-complete for
   hyperplane-LSH at the 0.99 cosine bar);
2. pruning — candidates must stay far below n^2/2, otherwise the
   within-bucket join is the round-1 scale-killer the verdict flagged.
"""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from markdown_lab_spark.functions import dedup as D
from markdown_lab_spark.functions.similarity import cosine_similarity_col

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)


def _synth_neardups(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    leaders = emb.select(
        F.col("vec_id").alias("lid"), F.col("embedding").alias("lvec")
    )
    return (
        emb.withColumn("lid", F.col("vec_id") - (F.col("vec_id") % 7))
        .join(leaders, on="lid", how="left")
        .select(
            "vec_id",
            F.when((F.col("vec_id") % 7) < 2, F.col("lvec"))
            .otherwise(F.col("embedding"))
            .alias("embedding"),
        )
    )


def _brute_force_pairs(df, threshold):
    left, right = df.alias("l"), df.alias("r")
    return (
        left.join(right, F.col("l.vec_id") < F.col("r.vec_id"))
        .select(
            F.col("l.vec_id").alias("id_a"),
            F.col("r.vec_id").alias("id_b"),
            F.round(
                cosine_similarity_col(F.col("l.embedding"), F.col("r.embedding")), 4
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def test_banded_embedding_neardup_complete_vs_bruteforce(spark):
    synth = _synth_neardups(spark).cache()
    banded = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_neardup_pairs_banded(
            synth, threshold=0.99, nbits=16, bands=4, dim=64
        ).collect()
    }
    brute = {
        (r["id_a"], r["id_b"])
        for r in _brute_force_pairs(synth, 0.99).collect()
    }
    synth.unpersist()
    assert banded == brute
    assert banded, "drill corpus must contain near-dup pairs"


def test_banded_candidates_prune_quadratic(spark):
    """Candidate pairs (pre-cosine) << n^2/2 — the whole point of banding."""
    synth = _synth_neardups(spark)
    n = synth.count()
    cand = D.embedding_neardup_pairs_banded(
        synth, threshold=-1.0, nbits=16, bands=4, dim=64
    ).count()  # threshold=-1 keeps every candidate pair
    all_pairs = n * (n - 1) // 2
    # 4 bands of 4 unbiased bits: expected collision rate ~4/16 = 25%
    # plus the injected duplicate groups; anything close to all_pairs
    # means the hyperplanes degenerated (round-1's axis-bucket failure)
    assert cand < 0.5 * all_pairs, (cand, all_pairs)


def test_simhash_hamming_banding_is_exhaustive(spark):
    """Pigeonhole: bands=8 must find EVERY pair at hamming <= 7."""
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter((F.col("doc_id") % 10) < 3)
        .limit(60)
        .withColumn(
            "content",
            F.concat(
                F.lit("shared block "),
                F.floor(F.col("doc_id") / 30).cast("string"),
                F.lit(" lorem ipsum dolor sit amet consectetur adipiscing tok"),
                (F.col("doc_id") % 3).cast("string"),
            ),
        )
    )
    fps = D.simhash64(docs, "doc_id", "content").cache()
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_hamming_pairs(fps, bands=8, max_hamming=7).collect()
    }
    left, right = fps.alias("l"), fps.alias("r")

    def _half(c, start):
        return F.conv(F.substring(c, start, 32), 2, 10).cast("long")

    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in (
            left.join(right, F.col("l.doc_id") < F.col("r.doc_id"))
            .select(
                F.col("l.doc_id").alias("id_a"),
                F.col("r.doc_id").alias("id_b"),
                (
                    F.bit_count(
                        _half(F.col("l.simhash"), 1).bitwiseXOR(
                            _half(F.col("r.simhash"), 1)
                        )
                    )
                    + F.bit_count(
                        _half(F.col("l.simhash"), 33).bitwiseXOR(
                            _half(F.col("r.simhash"), 33)
                        )
                    )
                ).cast("long").alias("hamming"),
            )
            .filter(F.col("hamming") <= 7)
        ).collect()
    }
    fps.unpersist()
    assert banded == brute
    assert banded, "drill corpus must contain close fingerprints"


def _planted_neardup_docs(spark, n):
    """n docs, every doc_id%5==0 has a near-dup at doc_id+1 (one word
    swapped out of ~40 — Jaccard ~0.9 at 3-shingles); deterministic."""
    from pyspark.sql import functions as F

    def stream(owner):
        # per-doc disjoint vocabulary: cross-doc shingle overlap is exactly
        # zero except for the planted near-dups
        return F.transform(
            F.sequence(F.lit(0), F.lit(39)),
            lambda i: F.concat(
                F.lit("w"), owner.cast("string"), F.lit("_"), i.cast("string")
            ),
        )

    base = spark.range(n).select(F.col("id").cast("int").alias("doc_id"))
    text = F.concat_ws(" ", stream(F.col("doc_id")))
    # near-dups: doc_id%5==1 copies doc_id-1's word stream (doc_id-1 is
    # %5==0), then swaps one word
    prev_words = stream(F.col("doc_id") - 1)
    near = F.concat_ws(
        " ", F.slice(prev_words, 1, 20), F.lit("SWAPPED"), F.slice(prev_words, 22, 19)
    )
    return base.select(
        "doc_id",
        F.when((F.col("doc_id") % 5) == 1, near).otherwise(text).alias("text"),
    )


def test_minhash_production_width_drill(spark):
    """k=128 / bands=32 (the width real pipelines run): every planted
    near-dup pair is found, and the CANDIDATE count (pre-threshold) grows
    ~linearly with corpus size — the banding economics that make the
    self-join O(true dups), not O(n^2)."""
    from markdown_lab_spark.functions.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    counts = {}
    for n in (200, 400):
        docs = _planted_neardup_docs(spark, n)
        sigs = minhash_signatures(docs, "doc_id", "text", k=128)
        # min_est_jaccard=0 -> ALL banding candidates, none filtered
        cands = minhash_lsh_pairs(
            sigs, "doc_id", k=128, bands=32, min_est_jaccard=0.0
        )
        rows = cands.collect()
        counts[n] = len(rows)
        planted = {
            (i, i + 1) for i in range(0, n - 1, 5)
        }
        found = {(r["id_a"], r["id_b"]) for r in rows}
        missing = planted - found
        assert not missing, f"n={n}: planted pairs missed: {sorted(missing)[:5]}"
        # planted pairs estimate high jaccard (1 word of 40 swapped)
        est = {
            (r["id_a"], r["id_b"]): r["est_jaccard"] for r in rows
        }
        assert all(est[p] >= 0.5 for p in planted)

    # linear-ish candidate growth: 2x corpus -> ~2x candidates. A
    # quadratic self-join would be ~4x. Allow generous noise margin.
    assert counts[400] <= 3 * counts[200], counts
    # and candidates stay O(true dups): planted pairs dominate
    assert counts[400] <= 4 * (400 // 5), counts


def _rows_digest(rows):
    return hashlib.md5(repr(sorted(map(tuple, rows))).encode()).hexdigest()


def _corpus(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").orderBy("doc_id").limit(300)


def test_minhash_signatures_pinned_edge_cases(spark):
    """minhash_signatures against the shingle definition the DuckDB
    oracle mirrors: lane i = min md5(gram || ':' || i) over the doc's
    word 3-grams. A null text KEEPS the empty-string pseudo-gram, texts
    below the shingle width are one whole-text gram, and words split on
    the ASCII whitespace class after a 0x20-only trim. The corpus digest
    was computed by the former explode + groupBy expression form."""
    grams = {
        1: ["hello world foo", "world foo bar", "foo bar baz"],
        2: [""],
        3: ["a b"],
        4: ["one"],
        5: [""],
        6: ["unicode café über", "café über tökens", "über tökens x"],
        7: ["t t t"],
        8: ["tab sep nl", "sep nl vt", "nl vt fd", "vt fd cr", "fd cr end"],
    }
    rows = [
        (1, "hello world foo bar baz"),
        (2, ""),
        (3, "a b"),
        (4, "one"),
        (5, None),
        (6, "unicode café über tökens x"),
        (7, "t " * 300),
        (8, "tab\tsep\nnl\x0bvt\ffd\rcr end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r[0]: list(r[1:])
        for r in D.minhash_signatures(df, "doc_id", "text", k=8).collect()
    }
    assert got == {
        doc: [
            min(hashlib.md5(f"{g}:{i}".encode()).hexdigest() for g in gs)
            for i in range(8)
        ]
        for doc, gs in grams.items()
    }
    corpus = D.minhash_signatures(_corpus(spark), "doc_id", "text", k=8).collect()
    assert len(corpus) == 300
    assert _rows_digest(corpus) == "c4ecd2e0f3fdf5ec8339f7e92eec6572"


def test_simhash64_pinned_edge_cases(spark):
    """simhash64 fingerprints computed by the former expression form the
    DuckDB oracle mirrors, including the whitespace-class edge cases:
    Spark trim strips 0x20 only, Java \\s+ is the ASCII class, and
    leading/trailing separators emit '' pseudo-tokens that vote like any
    other token (so "" and " " share a fingerprint). Null-text docs are
    dropped."""
    rows = [
        (1, "hello world hello"),
        (2, ""),
        (3, "  \t leading"),
        (4, "trailing \n "),
        (5, None),
        (6, "unicode café über tökens"),
        (7, "a" * 5000 + " b c"),
        (8, "tab\tsep\nnewline\x0bvtab\ffeed\rcr"),
        (9, " "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dict(map(tuple, D.simhash64(df, "doc_id", "text").collect()))
    empty = "1101010000011101100011001101100110001111000000001011001000000100"
    assert got == {
        1: "0101110101000001010000000010101010111100010010110010101001110110",
        2: empty,
        3: "0100010000001100000000001001000010000100000000000011001000000000",
        4: "1101000000010001000010000000100000000100000000001001000000000100",
        6: "1000011000010001001010010010010000100001011011110000000101100010",
        7: "0101101010101010010111011111110011110100101111111010011111111110",
        8: "0000000100100100000000100000000000000111000001011010001101100000",
        9: empty,
    }
    corpus = D.simhash64(_corpus(spark), "doc_id", "text").collect()
    assert len(corpus) == 300
    assert _rows_digest(corpus) == "c398d7988f3e129aef216741cd8da44a"


def test_rademacher_signature_pinned(spark):
    """The Arrow-batched numpy signature over the sf0.001 embeddings,
    pinned to the signatures the pure-expression fold (zip_with +
    aggregate, the form the DuckDB oracle unrolls) computed: the numpy
    path adds the ±x_j terms in the same left-to-right order, so every
    sign bit agrees even for dot products within one ulp of zero."""
    planes = D.rademacher_hyperplanes(32, 64)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = emb.select(
        "vec_id", D.rademacher_signature_col(F.col("embedding"), planes)
    ).collect()
    assert len(rows) == 500
    assert _rows_digest(rows) == "27fb4efe8f3ad4dd88ffd319ad475440"


def test_rademacher_signature_agreement_adversarial(spark):
    """Vectors engineered so many hyperplane dots land within a few ulp of
    zero — the only place the numpy path could diverge from the oracle's
    left-to-right fold if its summation order differed. Mixed magnitudes
    force catastrophic cancellation; the signatures are pinned to the
    ones the pure-expression fold computed, bit for bit."""
    import math
    import random

    rng = random.Random(20260816)
    rows = []
    for i in range(200):
        if i % 4 == 0:
            # cancellation pairs: +v, -v interleaved, tiny residue
            v = [rng.uniform(-1, 1) for _ in range(32)]
            vec = [x for pair in zip(v, [-x for x in v]) for x in pair]
            vec[-1] += rng.choice([0.0, 1e-17, -1e-17])
        elif i % 4 == 1:
            # mixed magnitudes across 12 decades
            vec = [
                rng.uniform(-1, 1) * (10.0 ** rng.randint(-6, 6))
                for _ in range(64)
            ]
        elif i % 4 == 2:
            # subnormal-scale values
            vec = [rng.uniform(-1, 1) * 1e-310 for _ in range(64)]
        else:
            vec = [rng.uniform(-1e3, 1e3) for _ in range(64)]
        rows.append((i, [float(x) for x in vec]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = D.rademacher_hyperplanes(64, 64)
    got = df.select(
        "vec_id", D.rademacher_signature_col(F.col("embedding"), planes)
    ).collect()
    # one vector of each kind: cancellation, 12 decades, subnormal, plain
    sigs = dict(map(tuple, got))
    assert {i: sigs[i] for i in range(4)} == {
        0: "0010011010111101000101110110111111001100111111101101000110110000",
        1: "1110101000110111101011010001101000111100000010111111111101111111",
        2: "1011100100100100110000010100000001100011111110000010111011010111",
        3: "1110001001001000101110000001010111001100000000100010111100000110",
    }
    assert _rows_digest(got) == "f72c0d9ab8feaa239b4a7a4f4a841967"
    assert all(math.isfinite(x) for r in rows for x in r[1])


# ---------------------------------------------------------------------------
# shingle_sets and the filtered exact Jaccard join
# ---------------------------------------------------------------------------

_EDGE_TEXTS = [
    None,
    "",
    " ",
    "\tleading tab then words",
    "double  space  inside here",
    "unicode café über tökens x",
    "nbsp\u00a0is a word char",
    "vt\x0bsplits like space here",
    "one",
    "two words",
    "  padded  ",
    "a b c a b c a b c",
]


def _md5_order(grams):
    return sorted(grams, key=lambda g: (hashlib.md5(g.encode()).hexdigest(), g))


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_shingle_sets_equal_sorted_shingles(spark, n):
    """shingle_sets is element-for-element the JVM shingles() set, sorted
    by (md5(shingle), shingle): null text, '', leading tab, double space,
    accents, NBSP (not \\s in Java), \\x0b (\\s in Java) and texts shorter
    than n words."""
    df = spark.createDataFrame(
        list(enumerate(_EDGE_TEXTS)), "doc_id long, text string"
    )
    jvm = {
        r[0]: r[1]
        for r in df.select("doc_id", D.shingles(F.col("text"), n)).collect()
    }
    got = {
        r["doc_id"]: (list(r["sh"]), r["n_sh"])
        for r in D.shingle_sets(df, "doc_id", "text", n).collect()
    }
    assert got == {i: (_md5_order(jvm[i]), len(jvm[i])) for i in jvm}
    assert got[0][0] == [""]  # a null text keeps the '' pseudo-gram
    assert "nbsp\u00a0is" in " ".join(got[6][0])


def _pairs(df, t, n=3):
    return sorted(
        map(tuple, D.ngram_jaccard_pairs(df, "doc_id", "text", n, t).collect())
    )


def test_jaccard_pair_that_rounds_up_is_emitted(spark):
    """J = 2/3 rounds to 0.666667: at t = 0.666667 the length filter must
    use t - 5e-7 (|A| = 2 >= t * |B| = 2.000001 fails), or the pair that
    only rounding admits is lost."""
    df = spark.createDataFrame(
        [(1, "x y"), (2, "x y z"), (3, "x q r s")], "doc_id long, text string"
    )
    assert _pairs(df, 0.666667, n=1) == [(1, 2, 0.666667)]
    assert _pairs(df, 0.666668, n=1) == []


@pytest.mark.parametrize("t", [0.0, -1.0])
def test_jaccard_nonpositive_threshold_joins_every_shared_shingle(spark, t):
    """t <= 0: no prefix and no length filter; every pair sharing at least
    one shingle is emitted, however small its Jaccard, and pairs sharing
    none are not."""
    df = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "a b c x y z u v w q r s"),
            (3, "k l m"),
            (4, "k l m"),
        ],
        "doc_id long, text string",
    )
    assert _pairs(df, t) == [(1, 2, 0.1), (3, 4, 1.0)]


def _brute_jaccard(rows, n, t):
    """All-pairs exact Jaccard in pure Python: split on Java's \\s class
    after a 0x20-only trim, round half-up at 6 decimals like Spark."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    def grams(text):
        w = re.split("[ \t\n\x0b\f\r]+", text.strip(" "))
        return {" ".join(w[i : i + n]) for i in range(max(len(w) - n, 0) + 1)}

    sets = {i: grams(x) for i, x in rows}
    out = []
    ids = sorted(sets)
    for ai, a in enumerate(ids):
        for b in ids[ai + 1 :]:
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            j = inter / len(sets[a] | sets[b])
            j = float(Decimal(repr(j)).quantize(Decimal("1e-6"), ROUND_HALF_UP))
            if j >= t:
                out.append((a, b, j))
    return sorted(out)


def _seeded_corpus(seed=7, n_docs=200):
    """~200 docs over a small vocabulary, a third of them edited copies
    of an earlier doc (one to three words replaced, dropped or appended),
    plus short texts below the shingle width."""
    import random

    rng = random.Random(seed)
    vocab = [f"v{i}" for i in range(120)]
    rows = []
    for i in range(n_docs):
        if rows and rng.random() < 0.35:
            words = rng.choice(rows)[1].split(" ")
            for _ in range(rng.randint(1, 3)):
                op = rng.random()
                pos = rng.randrange(len(words))
                if op < 0.4:
                    words[pos] = rng.choice(vocab)
                elif op < 0.7 and len(words) > 1:
                    del words[pos]
                else:
                    words.append(rng.choice(vocab))
        else:
            words = [rng.choice(vocab) for _ in range(rng.randint(1, 80))]
        rows.append((i, " ".join(words)))
    return rows + [(n_docs, "v1 v2"), (n_docs + 1, "v1 v2"), (n_docs + 2, "v1")]


@pytest.mark.parametrize("t", [0.5, 0.8, 0.9])
def test_ngram_jaccard_pairs_match_bruteforce(spark, t):
    """Prefix + length filters lose nothing: the operator equals an
    all-pairs pure-Python Jaccard on a seeded corpus with planted
    near-duplicates."""
    rows = _seeded_corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = _brute_jaccard(rows, 3, t)
    assert len(want) >= 10, "corpus must plant pairs above the threshold"
    assert _pairs(df, t) == want


def _plan_nodes(plan):
    """Every node of an executed plan, through adaptive and query-stage
    wrappers."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(plan.executedPlan())
        return
    yield plan
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(plan.plan())
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _verify_joins(df):
    """The verify joins of an executed pair frame: the hash joins keyed
    on the shingle-set id ``_sid``."""
    df.collect()
    return [
        p for p in _plan_nodes(df._jdf.queryExecution().executedPlan())
        if "HashJoinExec" in p.getClass().getSimpleName()
        and "_sid" in p.leftKeys().toString()
    ]


def _assert_candidate_build_side(joins):
    assert len(joins) == 2
    for j in joins:
        assert j.getClass().getSimpleName() == "BroadcastHashJoinExec"
        assert j.buildSide().toString() == "BuildRight"
        build = j.right().output().toString()
        assert "id_a" in build and "id_b" in build
        # the stream side is the materialized sets, never shuffled
        stream = [p.getClass().getSimpleName() for p in _plan_nodes(j.left())]
        assert not any("Exchange" in s for s in stream), stream


def test_verify_joins_broadcast_candidates(spark, monkeypatch):
    """ngram_jaccard_pairs and near_dedup_keep verify candidates with two
    BroadcastHashJoins whose build side is the candidate pairs, so the
    shingle sets stream and are never shuffled."""
    df = spark.createDataFrame(_seeded_corpus(n_docs=60), "doc_id long, text string")
    _assert_candidate_build_side(
        _verify_joins(D.ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.5))
    )
    seen = []
    orig = D.dedup_near_duplicates

    def capture(df_, id_col, pairs, *args, **kwargs):
        seen.append(pairs)
        return orig(df_, id_col, pairs, *args, **kwargs)

    monkeypatch.setattr(D, "dedup_near_duplicates", capture)
    D.near_dedup_keep(df, "doc_id", "text", k=16, bands=8, min_jaccard=0.5).collect()
    _assert_candidate_build_side(_verify_joins(seen[0]))
