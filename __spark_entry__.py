"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship pages->convert->chunks pipeline on sf0.001.
``queries`` exposes one entry per implemented operator from SURVEY.md §2
plus the training-pipeline operators (dedup / similarity / text analysis);
``oracle_sql`` gives each a DuckDB twin over the same parquet views.

Column-name + type discipline: every computed column is aliased
identically on both sides; computed integers are cast to BIGINT, floats
rounded and cast to DOUBLE, so the driver's schema + value-hash compare is
well-defined.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from markdown_lab_spark.functions import classifier as C
from markdown_lab_spark.functions import dedup as D
from markdown_lab_spark.functions import multimodal as M
from markdown_lab_spark.functions import similarity as S
from markdown_lab_spark.functions import text as X
from markdown_lab_spark.functions.topk import cap_per_group, ranked_topk
from markdown_lab_spark.functions.udfs import (
    chunk_semantic_udf,
    convert_html_udf,
    domain_col,
    extract_base_url_col,
    make_chunk_markdown_udf,
    make_filename_udf,
    normalize_url_col,
    valid_url_col,
)

SF_DEFAULT = "/root/testdata/sf0.001"


import weakref

# session -> {(dir, name): DataFrame}; weak on the session so a stopped
# session's handles don't pin its JVM references for process lifetime
_TABLE_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table handle, cached per (session, dir, name). Caches only the
    DataFrame DEFINITION (the resolved scan + schema): every execution
    still reads the parquet files. Without this each ``spark.read
    .parquet`` costs a driver job (~0.1 s) re-reading the same footer —
    q47 builds six legs over the same table, and the gate queries read
    ``documents`` again and again in one session, so uncached handles
    repeat that metadata re-resolution per read (guide §6: file-listing/
    metadata work is driver-side and repeats per read)."""
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    df = per_session.get(key)
    if df is None:
        df = per_session[key] = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return df


def _spread(df: DataFrame) -> DataFrame:
    """Match partitioning to cluster parallelism ahead of a compute-bound
    stage (functions/partitioning.spread — shared with the operators
    since round 6). Applied ONLY where the per-row work dwarfs the
    exchange (measured A/B at sf0.1: conversion+chunking ~1.9x, PNG
    codec ~2.1x; the cheaper gates lose more to the exchange than they
    gain and stay unspread)."""
    from markdown_lab_spark.functions.partitioning import spread

    return spread(df)


# --------------------------------------------------------------------------
# shared synthesized web-doc columns (documents table -> crawl-shaped rows)
# --------------------------------------------------------------------------
def _url_col():
    return F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/doc-"),
        F.col("doc_id").cast("string"),
    )


_URL_SQL = "'https://' || source || '.example.com/docs/doc-' || CAST(doc_id AS VARCHAR)"


def _webdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + synthesized url/html columns (deterministic)."""
    return (
        _spread(_t(spark, sf_dir, "documents"))
        .withColumn("url", _url_col())
        .withColumn(
            "html",
            F.concat(
                F.lit("<html><head><title>Doc "),
                F.col("doc_id").cast("string"),
                F.lit("</title></head><body><h2>Part "),
                (F.col("doc_id") % 5).cast("string"),
                F.lit("</h2><p>"),
                F.col("text"),
                F.lit('</p><a href="/next/doc-'),
                (F.col("doc_id") + 1).cast("string"),
                F.lit('">next doc</a></body></html>'),
            ),
        )
    )


_SIM_FILLER = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
    "eiusmod tempor incididunt ut labore et dolore magna aliqua"
)

_MD_SQL = (
    "'# Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) || "
    "'## Part ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) || chr(10) || "
    "trim(text) || chr(10) || chr(10) || "
    "'[next doc](https://' || source || '.example.com/next/doc-' || "
    "CAST(doc_id + 1 AS VARCHAR) || ')'"
)


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesized pages -> convert UDF -> Rust-semantics chunks."""
    docs = _webdocs(spark, SF_DEFAULT)
    chunker = make_chunk_markdown_udf(chunk_size=200, chunk_overlap=40)
    converted = docs.withColumn(
        "doc", convert_html_udf(F.col("html"), F.col("url"))
    ).select(
        "doc_id",
        "url",
        F.col("doc.title").alias("title"),
        F.col("doc.markdown").alias("markdown"),
        F.col("doc.status").alias("status"),
    )
    return converted.filter(F.col("status") == "ok").select(
        "doc_id",
        "url",
        "title",
        F.posexplode(chunker(F.col("markdown"))).alias("pos", "content"),
    )


# --------------------------------------------------------------------------
# queries + oracles
# --------------------------------------------------------------------------
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- S/F/X: url handling ------------------------------------------------
    def q01_validate_urls(spark, sf):
        df = _t(spark, sf, "documents").withColumn(
            "url",
            F.when((F.col("doc_id") % 7) == 0, F.lit("not-a-url")).otherwise(
                _url_col()
            ),
        )
        return df.filter(valid_url_col(F.col("url"))).select("doc_id", "url")

    q["q01_validate_urls"] = q01_validate_urls

    def q03_url_parts(spark, sf):
        # K4 filename derivation + X2/X3 base/domain extraction + X1
        # normalize_url in one gate (q03+q04 merged round 3; q02's
        # normalize assertion folded in round 5 to free a slot under the
        # driver's 50-query cap — canon_url keeps q02's exact raw_url
        # suffix variants: trailing slash / fragment / query)
        fn = make_filename_udf("markdown")
        df = (
            _t(spark, sf, "documents")
            .withColumn("url", _url_col())
            .withColumn(
                "raw_url",
                F.concat(
                    F.col("url"),
                    F.when((F.col("doc_id") % 3) == 0, F.lit("/"))
                    .when((F.col("doc_id") % 3) == 1, F.lit("#frag"))
                    .otherwise(F.lit("?q=1")),
                ),
            )
        )
        return df.select(
            "doc_id",
            fn(F.col("url")).alias("out_name"),
            extract_base_url_col(F.col("url")).alias("base_url"),
            domain_col(F.col("url")).alias("host"),
            normalize_url_col(F.col("raw_url")).alias("canon_url"),
        )

    q["q03_url_parts"] = q03_url_parts

    # (round-5 note: the X6 md5-chunk-id demo gate q05 was retired — its
    # exact expression md5(url || ':text:0') is the start_idx=0 row of
    # EVERY q15_text_chunks doc, so the merged gate q15 value-hashes the
    # same assertion for all doc_ids; the slot funds q63_substring_dedup)

    # ---- F6/F7/F8: sitemap-style filters -----------------------------------
    def q06_sitemap_filters(spark, sf):
        # F6 priority filter + F7 include/exclude regex applied jointly
        # (merged from round-3 q06+q07 for the driver's 50-query cap);
        # both predicates reach the scan as pushed filters
        df = _t(spark, sf, "documents").withColumn(
            "priority",
            F.when((F.col("doc_id") % 5) == 0, F.lit(None).cast("double")).otherwise(
                (F.col("doc_id") % 10) / F.lit(10.0)
            ),
        )
        return df.filter(
            (F.col("priority").isNull() | (F.col("priority") >= 0.5))
            & F.col("text").rlike("spark|join")
            & ~F.col("text").rlike("slow")
        ).select("doc_id", "priority")

    q["q06_sitemap_filters"] = q06_sitemap_filters

    def q08_limit_ordered(spark, sf):
        # distributed top-k (TakeOrderedAndProject) + window-free rank —
        # no partition-less WindowExec (functions/topk.py). Two legs
        # union-aligned under one gate (q43_revenue_topk folded in,
        # round-5 continuation, to free a slot for q62): the documents
        # top-100 and the TPC-H-Q10-shaped customer-revenue top-10
        # (customer broadcast, lineitem never broadcast; revenue summed
        # as decimal so the agg is order-independent / hash-stable).
        docs_leg = ranked_topk(
            _t(spark, sf, "documents").select("doc_id", "n_chars"),
            100,
            [(F.col("n_chars"), True), (F.col("doc_id"), False)],
            rank_col="rn",
        ).select(
            F.lit("docs").alias("leg"),
            F.col("doc_id").cast("long").alias("key"),
            F.lit("").alias("label"),
            F.col("n_chars").cast("double").alias("val"),
            F.col("rn").cast("int").alias("rn"),
        )
        cust = _t(spark, sf, "customer")
        orders = _t(spark, sf, "orders").filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-07-01"))
        )
        li = _t(spark, sf, "lineitem")
        rev = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("c_custkey", "c_name")
            .agg(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                )
                .cast("double")
                .alias("revenue")
            )
        )
        rev_leg = ranked_topk(
            rev, 10, [(F.col("revenue"), True), (F.col("c_custkey"), False)]
        ).select(
            F.lit("rev").alias("leg"),
            F.col("c_custkey").cast("long").alias("key"),
            F.col("c_name").alias("label"),
            F.round("revenue", 4).alias("val"),
            F.col("rank").cast("int").alias("rn"),
        )
        return docs_leg.unionByName(rev_leg)

    q["q08_limit_ordered"] = q08_limit_ordered

    # ---- A3: status tallies --------------------------------------------------
    def q09_status_counts(spark, sf):
        return (
            _t(spark, sf, "events")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )

    q["q09_status_counts"] = q09_status_counts

    # ---- W2/P1: politeness scheduler ----------------------------------------
    def q10_politeness_budget(spark, sf):
        w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
        return (
            _t(spark, sf, "documents")
            .withColumn("rn", F.row_number().over(w).cast("long"))
            .filter(F.col("rn") <= 20)
            .select("source", "doc_id", "rn")
        )

    q["q10_politeness_budget"] = q10_politeness_budget

    # ---- J2/O3: seen anti-join -----------------------------------------------
    def q11_seen_antijoin(spark, sf):
        docs = _t(spark, sf, "documents")
        seen = docs.filter((F.col("doc_id") % 3) == 0).select("doc_id")
        return docs.join(seen, on="doc_id", how="left_anti").select("doc_id")

    q["q11_seen_antijoin"] = q11_seen_antijoin

    # ---- O1: link sort+dedup ---------------------------------------------------
    def q12_link_sort_dedup(spark, sf):
        words = F.split(F.trim(F.col("text")), r"\s+")
        links = F.array_sort(F.array_distinct(F.slice(words, 1, 8)))
        return (
            _t(spark, sf, "documents")
            .select("doc_id", F.explode(links).alias("link"))
        )

    q["q12_link_sort_dedup"] = q12_link_sort_dedup

    # ---- frontier wave expansion (BFS step as SQL) ----------------------------
    def q13_wave_expand(spark, sf):
        docs = _t(spark, sf, "documents")
        n = docs.agg(F.count("*").alias("n"))
        links = (
            docs.crossJoin(n)
            .select(
                "doc_id",
                F.explode(
                    F.array(
                        (F.col("doc_id") * 2 + 1) % F.col("n"),
                        (F.col("doc_id") * 3 + 7) % F.col("n"),
                    )
                ).alias("target"),
            )
        )
        seeds = docs.filter(F.col("doc_id") < 10).select("doc_id")
        wave1 = (
            links.join(seeds, on="doc_id")
            .select(F.col("target").alias("doc_id"))
            .dropDuplicates()
            .join(seeds, on="doc_id", how="left_anti")
        )
        return wave1.select(F.col("doc_id").cast("long").alias("doc_id"))

    q["q13_wave_expand"] = q13_wave_expand

    # (round-5 note: the A1 word/char-count gate q14 was folded into
    # q27_tokens_fingerprint to free a slot under the driver's 50-query
    # cap — q27's ws_tokens IS q14's word_count expression, and q14's
    # char_count column now rides in q27; every assertion is preserved.)

    # ---- C4: plain-text word-window chunker (reference Python semantics) ------
    def q15_text_chunks(spark, sf):
        # words_per_chunk = 1000//5 = 200, overlap = 200//5 = 40, step = 160
        df = _t(spark, sf, "documents").withColumn("url", _url_col())
        words = F.split(F.trim(F.col("text")), r"\s+")
        starts = F.sequence(
            F.lit(0), F.greatest(F.size(words) - 1, F.lit(0)), F.lit(160)
        )
        return (
            df.select("doc_id", "url", words.alias("w"), F.explode(starts).alias("i"))
            .select(
                "doc_id",
                F.col("i").cast("long").alias("start_idx"),
                F.md5(
                    F.concat(F.col("url"), F.lit(":text:"), F.col("i").cast("string"))
                ).alias("chunk_id"),
                F.concat_ws(" ", F.slice(F.col("w"), F.col("i") + 1, 200)).alias(
                    "content"
                ),
            )
        )

    q["q15_text_chunks"] = q15_text_chunks

    # ---- X8: markdown-ness routing ----------------------------------------------
    def q16_markdownness(spark, sf):
        df = _t(spark, sf, "documents").withColumn(
            "content",
            F.when(
                (F.col("doc_id") % 4) == 0, F.concat(F.lit("# Heading\n"), F.col("text"))
            ).otherwise(F.col("text")),
        )
        return df.select(
            "doc_id",
            F.col("content").rlike("(?m)^#+ ").alias("is_markdown"),
        )

    q["q16_markdownness"] = q16_markdownness

    # ---- robots allow/deny (prefix rules) -----------------------------------------
    def q17_robots_deny(spark, sf):
        df = _t(spark, sf, "documents").withColumn(
            "path",
            F.when(
                (F.col("doc_id") % 10) == 9,
                F.concat(F.lit("/private/doc-"), F.col("doc_id").cast("string")),
            ).otherwise(F.concat(F.lit("/docs/doc-"), F.col("doc_id").cast("string"))),
        )
        return df.select(
            "doc_id",
            "path",
            (~F.col("path").startswith("/private/")).alias("allowed"),
        )

    q["q17_robots_deny"] = q17_robots_deny

    # ---- training-pipeline: dedup family -------------------------------------------
    def _dupdocs(spark, sf):
        # inject duplicate groups: 3 of every 10 docs share a group text
        return _t(spark, sf, "documents").withColumn(
            "content",
            F.when(
                (F.col("doc_id") % 10) < 3,
                F.concat(
                    F.lit("shared dedup block number "),
                    F.floor(F.col("doc_id") / 30).cast("string"),
                    F.lit(" lorem ipsum dolor sit amet consectetur"),
                ),
            ).otherwise(F.col("text")),
        )

    def _simdocs(spark, sf):
        # near-dup groups for SimHash: docs in a group share a long token
        # block and differ in exactly one trailing token (within-group
        # Hamming small but nonzero); the group tag token is REPEATED so
        # cross-group fingerprints differ in many weighted positions and
        # land far outside the Hamming radius — candidates stay
        # O(true near-dups), the banding economics the operator exists for
        g = F.concat(F.lit("grp"), F.floor(F.col("doc_id") / 30).cast("string"))
        gtag = F.concat_ws(" ", *([g] * 10))
        return (
            _t(spark, sf, "documents")
            .filter((F.col("doc_id") % 10) < 3)
            .withColumn(
                "content",
                F.concat(
                    gtag,
                    F.lit(" " + _SIM_FILLER + " tok"),
                    (F.col("doc_id") % 3).cast("string"),
                ),
            )
        )

    def q18_dedup_exact(spark, sf):
        return D.exact_dedup(_dupdocs(spark, sf), "doc_id", "content")

    q["q18_dedup_exact"] = q18_dedup_exact

    def q20_minhash_lsh_pairs(spark, sf):
        # two legs union-aligned under one gate (q19_minhash_signatures
        # folded in, round-5 continuation, to free a slot for the
        # curation-op promotions): 'sig' rows pin every doc's 8-lane
        # MinHash signature (folded to one md5 so the schema aligns),
        # 'pair' rows the banded-LSH candidates with estimated Jaccard.
        docs = _dupdocs(spark, sf).filter((F.col("doc_id") % 5) == 0)
        sigs = D.minhash_signatures(docs, "doc_id", "content", k=8)
        sig_leg = sigs.select(
            F.lit("sig").alias("leg"),
            F.col("doc_id").cast("long").alias("id_a"),
            F.lit(None).cast("long").alias("id_b"),
            F.md5(
                F.concat_ws("|", *[F.col(f"mh_{i}") for i in range(8)])
            ).alias("sig"),
            F.lit(None).cast("double").alias("est_jaccard"),
        )
        pair_leg = D.minhash_lsh_pairs(
            sigs, "doc_id", k=8, bands=4, min_est_jaccard=0.5
        ).select(
            F.lit("pair").alias("leg"),
            F.col("id_a").cast("long"),
            F.col("id_b").cast("long"),
            F.lit(None).cast("string").alias("sig"),
            F.col("est_jaccard").cast("double"),
        )
        return sig_leg.unionByName(pair_leg)

    q["q20_minhash_lsh_pairs"] = q20_minhash_lsh_pairs

    def q21_ngram_jaccard(spark, sf):
        docs = _dupdocs(spark, sf).filter((F.col("doc_id") % 5) == 0)
        return D.ngram_jaccard_pairs(docs, "doc_id", "content", 3, 0.8)

    q["q21_ngram_jaccard"] = q21_ngram_jaccard

    # (round-4 note: the 16-bit SimHash demo gate q22 was retired — q36's
    # 64-bit production cut supersedes it, so the 50-query cap fits
    # every operator family)

    def q37_simhash_hamming(spark, sf):
        # two legs union-aligned under one gate (q36_simhash64 folded
        # in, round-5 continuation, to free a slot): 'fp' rows pin the
        # 64-bit fingerprints themselves (over the plain documents
        # corpus q36 used), 'ham' rows the pigeonhole-banded Hamming
        # pairs over the grouped synthetic corpus.
        plain = _t(spark, sf, "documents").filter((F.col("doc_id") % 10) == 0)
        fp_leg = D.simhash64(plain, "doc_id", "text").select(
            F.lit("fp").alias("leg"),
            F.col("doc_id").cast("long").alias("id_a"),
            F.lit(None).cast("long").alias("id_b"),
            F.col("simhash"),
            F.lit(None).cast("long").alias("hamming"),
        )
        fps = D.simhash64(_simdocs(spark, sf), "doc_id", "content")
        ham_leg = D.simhash_hamming_pairs(
            fps, id_col="doc_id", bands=8, max_hamming=7
        ).select(
            F.lit("ham").alias("leg"),
            F.col("id_a").cast("long"),
            F.col("id_b").cast("long"),
            F.lit(None).cast("string").alias("simhash"),
            F.col("hamming").cast("long"),
        )
        return fp_leg.unionByName(ham_leg)

    q["q37_simhash_hamming"] = q37_simhash_hamming

    # ---- training-pipeline: similarity search ----------------------------------------
    def q23_cosine_topk(spark, sf):
        emb = _t(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qv")
        )
        scored = emb.crossJoin(F.broadcast(qv)).select(
            "vec_id",
            F.round(
                S.cosine_similarity_col(F.col("embedding"), F.col("qv")), 4
            ).alias("cos_sim"),
        )
        return ranked_topk(
            scored.filter(F.col("vec_id") != 0),
            10,
            [(F.col("cos_sim"), True), (F.col("vec_id"), False)],
        )

    q["q23_cosine_topk"] = q23_cosine_topk

    def q24_lsh_ann(spark, sf):
        emb = _t(spark, sf, "embeddings").withColumn(
            "bucket", S.sign_bucket_col(F.col("embedding"), 8)
        )
        qb = emb.filter(F.col("vec_id") == 0).select(
            F.col("bucket").alias("qbucket"), F.col("embedding").alias("qv")
        )
        cands = emb.crossJoin(F.broadcast(qb)).filter(
            (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != 0)
        )
        return ranked_topk(
            cands.select(
                "vec_id",
                F.round(
                    S.cosine_similarity_col(F.col("embedding"), F.col("qv")), 4
                ).alias("cos_sim"),
            ),
            5,
            [(F.col("cos_sim"), True), (F.col("vec_id"), False)],
        )

    q["q24_lsh_ann"] = q24_lsh_ann

    def q38_ivf_ann(spark, sf):
        # IVF over deterministic seed centroids (vec_id < 8), nprobe=2;
        # vec_id 0 is both a centroid and the query (excluded from results)
        emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
        cents = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
        )
        query = emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qv")
        )
        return S.ivf_topk(
            emb.filter(F.col("vec_id") != 0), cents, query, nprobe=2, k=10
        )

    q["q38_ivf_ann"] = q38_ivf_ann

    # ---- training-pipeline: text analysis ----------------------------------------------
    # (round-4 note: the unbanded embedding-neardup baseline gate q34 was
    # retired from the driver list — q35's banded cut is the scale path
    # with the same contract; the baseline-vs-banded agreement is pinned
    # by tests/test_neardup_scale.py instead)

    def _synth_neardup_embeddings(spark, sf):
        emb = _t(spark, sf, "embeddings")
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

    def q35_embedding_neardup_lsh(spark, sf):
        # scale-safe variant: Rademacher hyperplanes + banding. 32 bits /
        # 4 bands = 8-bit band keys (~1/256 random collision per band) —
        # candidates stay O(true dups); 64/8 is the same plan at corpus
        # scale, the oracle reproduces the identical 32 sign bits in SQL
        return D.embedding_neardup_pairs_banded(
            _synth_neardup_embeddings(spark, sf),
            "vec_id",
            "embedding",
            threshold=0.99,
            nbits=32,
            bands=4,
            dim=64,
        )

    q["q35_embedding_neardup_lsh"] = q35_embedding_neardup_lsh

    def q25_lang_quality(spark, sf):
        # language-ID + quality scoring in one gate (merged from round-3
        # q25+q26 for the driver's 50-query cap) — one scan, all-JVM
        return _t(spark, sf, "documents").select(
            "doc_id",
            X.predicted_lang(F.col("text")).alias("pred_lang"),
            X.quality_score(F.col("text")).cast("double").alias("quality"),
        )

    q["q25_lang_quality"] = q25_lang_quality

    def q27_tokens_fingerprint(spark, sf):
        # token counting + rolling-hash document fingerprint in one gate
        # (merged from round-3 q27+q28 for the driver's 50-query cap;
        # round 5 folded in q14's A1 counts — ws_tokens is exactly q14's
        # word_count expr, char_count is its second column)
        return _t(spark, sf, "documents").select(
            "doc_id",
            X.ws_token_count(F.col("text")).cast("long").alias("ws_tokens"),
            X.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
            F.length("text").cast("long").alias("char_count"),
            X.doc_fingerprint_expr("text").alias("fingerprint"),
        )

    q["q27_tokens_fingerprint"] = q27_tokens_fingerprint

    # ---- general aggregation parity (events + lineitem, one merged gate:
    # both are plain partial-agg shapes, so they share a driver row under
    # the 50-row cap; every original assertion is preserved — the events
    # leg keeps its decimal-sum/min/max, the lineitem leg its filtered
    # grouped sums, both min/max-extended to a common schema) -----------------
    def q30_agg_parity(spark, sf):
        ev = (
            _t(spark, sf, "events")
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_v"),
                F.min("value").cast("double").alias("min_v"),
                F.max("value").cast("double").alias("max_v"),
            )
            .select(
                F.lit("events").alias("src"),
                F.col("event_type").alias("k1"),
                F.lit("").alias("k2"),
                "n",
                "sum_v",
                "min_v",
                "max_v",
            )
        )
        li = (
            _t(spark, sf, "lineitem")
            .filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.count("*").alias("n"),
                F.sum("l_quantity").cast("double").alias("sum_v"),
                F.min("l_quantity").cast("double").alias("min_v"),
                F.max("l_quantity").cast("double").alias("max_v"),
            )
            .select(
                F.lit("lineitem").alias("src"),
                F.col("l_returnflag").alias("k1"),
                F.col("l_linestatus").alias("k2"),
                "n",
                "sum_v",
                "min_v",
                "max_v",
            )
        )
        return ev.unionByName(li)

    q["q30_agg_parity"] = q30_agg_parity

    # ---- conversion + chunking through the real UDFs ---------------------------------------
    def q31_convert_markdown(spark, sf):
        docs = _webdocs(spark, sf)
        return docs.withColumn(
            "doc", convert_html_udf(F.col("html"), F.col("url"))
        ).select("doc_id", F.col("doc.title").alias("title"), F.col("doc.markdown").alias("markdown"))

    q["q31_convert_markdown"] = q31_convert_markdown

    def q32_chunk_markdown(spark, sf):
        docs = _webdocs(spark, sf)
        chunker = make_chunk_markdown_udf(chunk_size=200, chunk_overlap=40)
        converted = docs.withColumn(
            "doc", convert_html_udf(F.col("html"), F.col("url"))
        )
        return converted.select(
            "doc_id",
            F.posexplode(chunker(F.col("doc.markdown"))).alias("pos", "content"),
        ).withColumn("pos", F.col("pos").cast("long"))

    q["q32_chunk_markdown"] = q32_chunk_markdown

    def q40_corpus_curation(spark, sf):
        # composite training-data curation: language == en AND quality >=
        # 0.5 AND canonical representative of its exact-dup group — the
        # keep-list a 100 TB pipeline computes before tokenization
        docs = _dupdocs(spark, sf)
        scored = docs.select(
            "doc_id",
            "content",
            X.predicted_lang(F.col("content")).alias("pred_lang"),
            X.quality_score(F.col("content")).cast("double").alias("quality"),
        )
        keepers = D.exact_dedup(docs, "doc_id", "content").select(
            F.col("keep_id").alias("doc_id")
        )
        return (
            scored.join(keepers, on="doc_id", how="inner")
            .filter((F.col("pred_lang") == "en") & (F.col("quality") >= 0.5))
            .select("doc_id", F.round("quality", 6).alias("quality"))
        )

    q["q40_corpus_curation"] = q40_corpus_curation

    # ---- multimodal columns (decode is the declared deterministic stub —
    # md5-derived, hence DuckDB-expressible; the Spark-side machinery is
    # the real mapInPandas/byte-aware-batching path) --------------------------
    def _media(spark, sf):
        docs = _t(spark, sf, "documents")
        kind = (
            F.when((F.col("doc_id") % 3) == 0, "image")
            .when((F.col("doc_id") % 3) == 1, "video")
            .otherwise("audio")
        )
        return docs.select(
            F.col("doc_id").alias("media_id"),
            kind.alias("kind"),
            F.col("text").cast("binary").alias("payload"),
            F.lit("application/octet-stream").alias("mime"),
            F.create_map(
                F.lit("duration_s"), (F.col("doc_id") % 30).cast("string")
            ).alias("meta"),
        )

    def q41_multimodal_features(spark, sf):
        # one merged multimodal gate (image feature extraction + the video
        # frame-sample plan share a driver row under the 50-row cap; both
        # legs keep their full original assertions, distinguished by
        # `kind`, absent measures as typed sentinels).
        # feature is array<float>; the driver's canonicalizer sorts raw
        # pandas columns and cannot hash list values, so project it as a
        # deterministic CSV scalar (fixed decimal(10,6) rendering on both
        # the Spark and DuckDB sides).
        media = _media(spark, sf)
        feats = M.extract_image_features(media).select(
            "media_id",
            F.lit("image").alias("kind"),
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.col("n_bytes").cast("long").alias("n_bytes"),
            "checksum",
            F.concat_ws(
                ",",
                F.transform(
                    F.col("feature"),
                    lambda x: x.cast("decimal(10,6)").cast("string"),
                ),
            ).alias("feature_csv"),
            F.lit(-1).cast("long").alias("frame_ts"),
        )
        frames = M.frame_sample_plan(media, every_n_seconds=5).select(
            "media_id",
            F.lit("video").alias("kind"),
            F.lit(-1).cast("long").alias("width"),
            F.lit(-1).cast("long").alias("height"),
            F.lit(-1).cast("long").alias("n_bytes"),
            F.lit("").alias("checksum"),
            F.lit("").alias("feature_csv"),
            F.col("frame_ts").cast("long").alias("frame_ts"),
        )
        return feats.unionByName(frames)

    q["q41_multimodal_features"] = q41_multimodal_features

    # ---- general analytics parity: joins + partitioned windows ---------------

    def q44_events_latest_per_user(spark, sf):
        # partitioned window (the legal kind): per-user 3 most recent
        # events — partitionBy(user_id) spreads across tasks, no global
        # sort anywhere
        ev = _t(spark, sf, "events").filter(F.col("user_id") < 50)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select(
                "user_id",
                "event_id",
                "event_type",
                F.col("rn").cast("long").alias("rn"),
            )
        )

    q["q44_events_latest_per_user"] = q44_events_latest_per_user

    def q33_chunk_semantic(spark, sf):
        # two legs union-aligned under one gate
        # (q39_chunk_semantic_sections folded in, round-5 continuation,
        # to free a slot): 'html' chunks the converted web corpus;
        # 'sections' the synthetic multi-section markdown — '# Doc' +
        # first '## Intro' fold into one section (seen_h2_under_h1,
        # chunk_utils.py:70-79), '## Details' starts its own, sized to
        # exercise BOTH the small 'section' chunk and the large-section
        # word-window paths.
        def _chunks(with_md, leg):
            return with_md.select(
                F.lit(leg).alias("leg"),
                "doc_id",
                F.explode(
                    chunk_semantic_udf(F.col("md"), F.col("url"))
                ).alias("c"),
            ).select(
                "leg",
                "doc_id",
                F.col("c.id").alias("chunk_id"),
                F.col("c.content").alias("content"),
                F.col("c.chunk_type").alias("chunk_type"),
                F.col("c.word_count").cast("long").alias("word_count"),
                F.col("c.char_count").cast("long").alias("char_count"),
            )

        html_leg = _chunks(
            _webdocs(spark, sf)
            .withColumn("doc", convert_html_udf(F.col("html"), F.col("url")))
            .withColumn("md", F.col("doc.markdown")),
            "html",
        )
        md = F.concat(
            F.lit("# Doc "), F.col("doc_id").cast("string"),
            F.lit("\n\n## Intro\n\n"), F.col("text"),
            F.lit("\n\n## Details\n\n"),
            F.concat_ws(" ", F.col("text"), F.col("text"), F.col("text")),
        )
        sect_leg = _chunks(
            _t(spark, sf, "documents")
            .withColumn("url", _url_col())
            .withColumn("md", md),
            "sections",
        )
        return html_leg.unionByName(sect_leg)

    q["q33_chunk_semantic"] = q33_chunk_semantic

    def q45_streaming_convert(spark, sf):
        # Structured Streaming under the hash gate: the SAME pages flow
        # through readStream -> convert_stream (file source, availableNow,
        # checkpointed exactly-once file tracking, memory sink); output is
        # deterministic, so the oracle is q31's markdown reconstruction.
        # streaming/ingest.py; reference conversion semantics
        # src/markdown_converter.rs (byte-identity contract).
        import os  # noqa: PLC0415
        import tempfile  # noqa: PLC0415

        from markdown_lab_spark.streaming.ingest import (  # noqa: PLC0415
            convert_stream,
            read_pages_stream,
        )

        tmp = tempfile.mkdtemp(prefix="mls_q45_")
        indir = os.path.join(tmp, "in")
        ckpt = os.path.join(tmp, "ckpt")
        (
            _webdocs(spark, sf)
            .select(
                "url",
                F.lit(None).cast("timestamp").alias("warc_ts"),
                F.encode(F.col("html"), "UTF-8").alias("html"),
                F.col("text"),
                F.lit("en").alias("lang"),
            )
            .write.mode("overwrite")
            .parquet(indir)
        )
        name = "mls_q45_" + os.path.basename(tmp).rsplit("_", 1)[-1]
        sq = (
            convert_stream(read_pages_stream(spark, indir))
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
        return spark.table(name).select(
            F.regexp_extract("url", r"doc-(\d+)$", 1)
            .cast("bigint")
            .alias("doc_id"),
            "title",
            "markdown",
        )

    q["q45_streaming_convert"] = q45_streaming_convert

    def q46_stateful_first_seen(spark, sf):
        # applyInPandasWithState under the hash gate: the EXACT per-host
        # first-seen dedup (streaming/stateful.py) over a page stream with
        # injected duplicates. First-seen emits each (host, canon_url)
        # exactly once across all microbatches (checkpointed GroupState),
        # so the output set equals DISTINCT — deterministic, SQL-expressible.
        import os  # noqa: PLC0415
        import tempfile  # noqa: PLC0415

        from pyspark.sql import types as T  # noqa: PLC0415

        from markdown_lab_spark.streaming.stateful import (  # noqa: PLC0415
            first_seen_filter,
        )

        tmp = tempfile.mkdtemp(prefix="mls_q46_")
        indir = os.path.join(tmp, "in")
        ckpt = os.path.join(tmp, "ckpt")
        base = _webdocs(spark, sf).select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
            F.col("url").alias("canon_url"),
        )
        dupes = base.filter(
            F.regexp_extract("canon_url", r"doc-(\d+)$", 1).cast("bigint") % 3
            == 0
        )
        # two files so the duplicates arrive across microbatches and the
        # dedup exercises persisted state, not just in-batch memory
        base.write.mode("overwrite").parquet(indir)
        dupes.write.mode("append").parquet(indir)
        schema = T.StructType(
            [
                T.StructField("host", T.StringType()),
                T.StructField("canon_url", T.StringType()),
            ]
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(indir)
        )
        name = "mls_q46_" + os.path.basename(tmp).rsplit("_", 1)[-1]
        sq = (
            first_seen_filter(stream)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
        return spark.table(name).select("host", "canon_url")

    q["q46_stateful_first_seen"] = q46_stateful_first_seen

    def q47_png_decode(spark, sf):
        # REAL image decode under the hash gate: deterministic gradient
        # PNGs (pixel (y,x,c) = (y*7 + x*3 + c*31) % 256) are encoded
        # executor-side cycling through ALL FIVE spec filters (doc_id % 5),
        # decoded by the pure-stdlib codec (functions/codecs.py), and
        # compared on integer-exact facts: IHDR dims + the full pixel sum.
        # A wrong un-filter, stride, or channel layout changes pixel_sum;
        # the oracle reconstructs it in closed form.
        docs = (
            _t(spark, sf, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < 200)
        )

        def gen_decode(batches):
            import numpy as np  # noqa: PLC0415
            import pandas as pd  # noqa: PLC0415

            from markdown_lab_spark.functions import codecs  # noqa: PLC0415

            for pdf in batches:
                rows = []
                for i in pdf["doc_id"]:
                    i = int(i)
                    w, h = 16 + i % 17, 16 + i % 13
                    y = np.arange(h, dtype=np.int32)[:, None, None]
                    x = np.arange(w, dtype=np.int32)[None, :, None]
                    c = np.arange(3, dtype=np.int32)[None, None, :]
                    arr = ((y * 7 + x * 3 + c * 31) % 256).astype(np.uint8)
                    payload = codecs.encode_png(arr, filter_type=i % 5)
                    dw, dh, dch, px = codecs.decode_png(payload)
                    rows.append(
                        {
                            "media_id": i,
                            "width": dw,
                            "height": dh,
                            "pixel_sum": int(px.astype(np.int64).sum()),
                        }
                    )
                yield pd.DataFrame(rows)

        png_leg = _spread(docs).mapInPandas(
            gen_decode, "media_id long, width int, height int, pixel_sum long"
        ).select(F.lit("png").alias("codec"), "*")

        # GIF leg (q55_gif_decode folded in, round-5 continuation, to
        # free a slot): index (y,x) = (y*7 + x*3 + media_id) % 256
        # through palette p[i] = ((i*5)%256, (i*7)%256, (i*11)%256),
        # encoded INTERLACED (odd media_id) or sequential — LZW, the
        # width-bump boundary, and the four interlace passes all sit on
        # the verified path; the oracle folds the palette into a
        # closed-form pixel sum.
        gif_docs = (
            _t(spark, sf, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < 120)
        )

        def gif_decode(batches):
            import numpy as np  # noqa: PLC0415
            import pandas as pd  # noqa: PLC0415

            from markdown_lab_spark.functions import codecs  # noqa: PLC0415

            i256 = np.arange(256)
            pal = np.stack(
                [(i256 * 5) % 256, (i256 * 7) % 256, (i256 * 11) % 256], axis=1
            ).astype(np.uint8)
            for pdf in batches:
                rows = []
                for i in pdf["doc_id"]:
                    i = int(i)
                    w, h = 16 + i % 17, 16 + i % 13
                    idx = (
                        (np.arange(h)[:, None] * 7 + np.arange(w)[None, :] * 3 + i)
                        % 256
                    ).astype(np.uint8)
                    payload = codecs.encode_gif(idx, pal, interlace=bool(i % 2))
                    dw, dh, _c, px = codecs.decode_gif(payload)
                    rows.append(
                        {
                            "media_id": i,
                            "width": dw,
                            "height": dh,
                            "pixel_sum": int(px.astype(np.int64).sum()),
                        }
                    )
                yield pd.DataFrame(rows)

        gif_leg = gif_docs.mapInPandas(
            gif_decode, "media_id long, width int, height int, pixel_sum long"
        ).select(F.lit("gif").alias("codec"), "*")

        # WAV leg (q49_wav_decode folded in, round-5 continuation, to free
        # a slot for q68): 16-bit PCM stereo sawtooth (sample k of media i
        # = ((i*37 + k*11) % 2001) - 1000, right = negated left), decoded
        # by the stdlib-wave codec. Union alignment preserves EVERY q49
        # assertion: codec = 'wav' || n_channels (channel count), width =
        # sample_rate, height = n_samples, pixel_sum = left-channel sum.
        wav_docs = (
            _t(spark, sf, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < 100)
        )

        def wav_decode(batches):
            import numpy as np  # noqa: PLC0415
            import pandas as pd  # noqa: PLC0415

            from markdown_lab_spark.functions import codecs  # noqa: PLC0415

            for pdf in batches:
                rows = []
                for i in pdf["doc_id"]:
                    i = int(i)
                    n = 500 + (i % 7) * 100
                    k = np.arange(n, dtype=np.int64)
                    left = ((i * 37 + k * 11) % 2001) - 1000
                    stereo = np.stack([left, -left], axis=1).astype(np.int16)
                    payload = codecs.encode_wav(stereo, rate=8000)
                    rate, nch, samples = codecs.decode_wav(payload)
                    rows.append(
                        {
                            "codec": f"wav{nch}",
                            "media_id": i,
                            "width": rate,
                            "height": int(samples.shape[0]),
                            "pixel_sum": int(
                                samples[:, 0].astype(np.int64).sum()
                            ),
                        }
                    )
                yield pd.DataFrame(rows)

        wav_leg = wav_docs.mapInPandas(
            wav_decode,
            "codec string, media_id long, width int, height int, "
            "pixel_sum long",
        ).select("codec", "media_id", "width", "height", "pixel_sum")

        # PDF leg (round-5 continuation): REAL PDF text extraction under
        # the hash gate. Deterministic multi-page documents (page p line
        # l of doc i = "Doc i page p line l") built executor-side by the
        # encoder twin cycling the full variant grid — filters
        # flate/LZW/A85/flate+A85, classic vs xref-stream vs ObjStm
        # layouts, WinAnsi vs ToUnicode vs CID(2-byte) text encodings —
        # and re-extracted by the full parser (sources/pdf.py). width =
        # n_pages, height = extracted-text length, pixel_sum = the
        # md5-prefix of the extracted text as a bigint, so the oracle's
        # closed-form reconstruction pins the text byte-for-byte.
        pdf_docs = (
            _t(spark, sf, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < 60)
        )

        def pdf_extract(batches):
            import hashlib  # noqa: PLC0415

            import pandas as pd  # noqa: PLC0415

            from markdown_lab_spark.sources import pdf as pdfmod  # noqa: PLC0415

            filts = ["flate", "lzw", "a85", "flate+a85"]
            encs = ["winansi", "tounicode", "cid"]
            for pdf in batches:
                rows = []
                for i in pdf["doc_id"]:
                    i = int(i)
                    np_, lp = 1 + i % 3, 2 + i % 2
                    pages = [
                        [f"Doc {i} page {p} line {l}" for l in range(lp)]
                        for p in range(np_)
                    ]
                    payload = pdfmod.encode_pdf(
                        pages,
                        filt=filts[i % 4],
                        encoding=encs[i % 3],
                        xref_stream=(i % 2 == 1),
                        object_streams=(i % 4 == 2),
                    )
                    txt = pdfmod.extract_pdf_text(payload)
                    h = int(
                        hashlib.md5(txt.encode("utf-8")).hexdigest()[:15], 16
                    )
                    rows.append(
                        {
                            "codec": "pdf",
                            "media_id": i,
                            "width": np_,
                            "height": len(txt),
                            "pixel_sum": h,
                        }
                    )
                yield pd.DataFrame(rows)

        pdf_leg = pdf_docs.mapInPandas(
            pdf_extract,
            "codec string, media_id long, width int, height int, "
            "pixel_sum long",
        ).select("codec", "media_id", "width", "height", "pixel_sum")

        # FLAC leg (round-5 continuation): REAL lossless audio decode
        # under the hash gate (functions/flac.py — frame headers with
        # UTF-8 numbers + CRC-8, CONSTANT/FIXED/LPC/VERBATIM subframes,
        # partitioned Rice incl. the 5-bit method and verbatim escape,
        # all four stereo modes, CRC-16, STREAMINFO MD5). The input is
        # the same stereo sawtooth family as the wav leg (right =
        # -left), the encoder twin cycles the full variant grid by
        # media id, and losslessness makes the oracle the identical
        # closed-form left-channel sum. Union alignment: codec =
        # 'flac' || n_channels, width = sample_rate, height =
        # n_samples, pixel_sum = left-channel sum.
        flac_docs = (
            _t(spark, sf, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < 80)
        )

        def flac_decode(batches):
            import numpy as np  # noqa: PLC0415
            import pandas as pd  # noqa: PLC0415

            from markdown_lab_spark.functions import flac as flacmod  # noqa: PLC0415

            modes = ["ms", "ls", "rs", "indep"]
            kinds = ["auto", "lpc", "fixed", "verbatim", "auto"]
            blocks = [192, 256, 576]
            for pdf in batches:
                rows = []
                for i in pdf["doc_id"]:
                    i = int(i)
                    n = 500 + (i % 7) * 100
                    k = np.arange(n, dtype=np.int64)
                    left = ((i * 37 + k * 11) % 2001) - 1000
                    stereo = np.stack([left, -left], axis=1).astype(np.int16)
                    payload = flacmod.encode_flac(
                        stereo,
                        rate=16000,
                        channel_mode=modes[i % 4],
                        subframe=kinds[i % 5],
                        partition_order=i % 3,
                        rice_method=i % 2,
                        block_size=blocks[i % 3],
                        escape_bits=20 if i % 7 == 0 else None,
                    )
                    rate, nch, samples = flacmod.decode_flac(payload)
                    rows.append(
                        {
                            "codec": f"flac{nch}",
                            "media_id": i,
                            "width": rate,
                            "height": int(samples.shape[0]),
                            "pixel_sum": int(
                                samples[:, 0].astype(np.int64).sum()
                            ),
                        }
                    )
                yield pd.DataFrame(rows)

        # spread: ~7.5 ms/row of encoder+decoder work — the longest
        # single-task leg of the union (0.6 s serial) without it
        flac_leg = _spread(flac_docs).mapInPandas(
            flac_decode,
            "codec string, media_id long, width int, height int, "
            "pixel_sum long",
        ).select("codec", "media_id", "width", "height", "pixel_sum")

        # zstd leg: the from-scratch RFC 8878 decoder against REAL
        # compressor output on the hash-verified path. Each media id
        # builds a deterministic word-sequence text, compresses it with
        # pyarrow's genuine zstd (level cycling 1/3/6/9/19 — raw,
        # RLE-literal, huffman, FSE and long-match shapes all occur),
        # decodes it with functions/zstd_codec.py, and emits the
        # decoded byte sum — which losslessness pins to the closed-form
        # plaintext sum the DuckDB oracle computes. Union alignment:
        # width = compression level, height = decoded byte length.
        zstd_docs = (
            _t(spark, sf, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < 60)
        )

        def zstd_decode(batches):
            import pandas as pd  # noqa: PLC0415
            import pyarrow as pa  # noqa: PLC0415

            from markdown_lab_spark.functions.zstd_codec import (  # noqa: PLC0415
                decode_zstd,
            )

            words = ["the", "crawl", "frontier", "spark", "zstd",
                     "markdown", "chunk", "robots", "wave", "http"]
            levels = [1, 3, 6, 9, 19]
            for pdf in batches:
                rows = []
                for i in pdf["doc_id"]:
                    i = int(i)
                    n = 500 + (i % 7) * 100
                    text = " ".join(
                        words[(i * 31 + k * 7) % 10] for k in range(n)
                    ).encode()
                    level = levels[i % 5]
                    payload = pa.Codec(
                        "zstd", compression_level=level
                    ).compress(text, asbytes=True)
                    decoded = decode_zstd(payload)
                    rows.append(
                        {
                            "codec": "zstd",
                            "media_id": i,
                            "width": level,
                            "height": len(decoded),
                            "pixel_sum": sum(decoded),
                        }
                    )
                yield pd.DataFrame(rows)

        zstd_leg = zstd_docs.mapInPandas(
            zstd_decode,
            "codec string, media_id long, width int, height int, "
            "pixel_sum long",
        ).select("codec", "media_id", "width", "height", "pixel_sum")

        return (
            png_leg.unionByName(gif_leg)
            .unionByName(wav_leg)
            .unionByName(pdf_leg)
            .unionByName(flac_leg)
            .unionByName(zstd_leg)
        )

    q["q47_png_decode"] = q47_png_decode

    def q48_jpeg_decode(spark, sf):
        # REAL baseline-JPEG decode under the hash gate: block-constant
        # grayscale images (8x8 block (by,bx) = (media_id*31 + by*17 +
        # bx*7) % 256) survive DCT quantization EXACTLY — a constant
        # block has only a DC coefficient, and both quantization and the
        # final pixel rounding are half-up — so the decoded value is the
        # closed form clip(2*floor((v-128)/2 + 0.5) + 128, 0, 255) with
        # the Annex-K q00=16 (functions/jpeg.py; huffman, marker parsing,
        # DC differentials, and the IDCT all sit on the verified path).
        docs = (
            _t(spark, sf, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < 150)
        )

        def gen_decode(batches):
            import numpy as np  # noqa: PLC0415
            import pandas as pd  # noqa: PLC0415

            from markdown_lab_spark.functions import jpeg  # noqa: PLC0415

            for pdf in batches:
                rows = []
                for i in pdf["doc_id"]:
                    i = int(i)
                    bw, bh = 2 + i % 3, 1 + i % 2  # blocks across / down
                    arr = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
                    for by in range(bh):
                        for bx in range(bw):
                            arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                                i * 31 + by * 17 + bx * 7
                            ) % 256
                    payload = jpeg.encode_jpeg(arr)
                    dw, dh, _ch, px = jpeg.decode_jpeg(payload)
                    rows.append(
                        {
                            "media_id": i,
                            "width": dw,
                            "height": dh,
                            "pixel_sum": int(px.astype(np.int64).sum()),
                        }
                    )
                yield pd.DataFrame(rows)

        return docs.mapInPandas(
            gen_decode, "media_id long, width int, height int, pixel_sum long"
        )

    q["q48_jpeg_decode"] = q48_jpeg_decode

    def q68_quality_classifier(spark, sf):
        # DCLM / FineWeb-Edu-style MODEL-BASED quality filter with the
        # closed-form NBSVM weighting (Wang & Manning 2012 log-count
        # ratios): train NB log-odds weights on the even-doc_id half
        # (label: lang == 'en' — the classifier genuinely separates, the
        # English n-grams earn positive weights), score the odd half with
        # the pure-JVM join scorer. Being closed-form, the WHOLE
        # train+score pipeline is one declarative query the DuckDB oracle
        # replays — functions/classifier.py (the iterative logreg refiner
        # is pytest-gated, like k-means). Plan: one distinct-presence
        # agg + one term agg for training, broadcast weights join + one
        # per-doc agg for scoring.
        d = _t(spark, sf, "documents")
        train = d.filter((F.col("doc_id") % 2) == 0).select(
            "doc_id", "text", (F.col("lang") == "en").alias("y")
        )
        w = C.nb_logodds_weights(train, "doc_id", "text", "y", min_df=3)
        hold = d.filter((F.col("doc_id") % 2) == 1)
        scored = C.score_docs(hold, w, "doc_id", "text")
        return scored.select(
            "doc_id",
            F.round("score", 4).alias("score"),
            (F.round("score", 4) >= 0.5).alias("keep"),
        )

    q["q68_quality_classifier"] = q68_quality_classifier

    def _gopher_synth_text(spark, sf):
        # deterministic multi-line doc per row (the corpus text is
        # single-line, which would leave the line-shape signals trivially
        # zero): a title, the text body, a duplicated body line for
        # doc_id%3==0, a bullet line for %2==0, an ellipsis line for %4==0
        d = _t(spark, sf, "documents")
        body = F.substring(F.col("text"), 1, 600)
        return d.select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.concat(F.lit("Title "), F.col("doc_id").cast("string")),
                body,
                F.when((F.col("doc_id") % 3) == 0, body),
                F.when(
                    (F.col("doc_id") % 2) == 1,
                    F.lit("the fox and the dog went to it for a while"),
                ),
                F.when(
                    (F.col("doc_id") % 2) == 0,
                    F.concat(
                        F.lit("- item "), (F.col("doc_id") % 5).cast("string")
                    ),
                ),
                F.when((F.col("doc_id") % 4) == 0, F.lit("to be continued...")),
            ).alias("synth"),
        )

    def q50_gopher_signals_keep(spark, sf):
        # Gopher-style repetition/shape signals (Rae et al. 2021) AND the
        # composite keep decision in one gate (merged from round-3
        # q50+q51 for the driver's 50-query cap) — one scan, pure JVM
        s = _gopher_synth_text(spark, sf)
        return s.select(
            "doc_id",
            X.dup_line_frac(F.col("synth")).alias("dup_line_frac"),
            X.dup_ngram_frac(F.col("synth"), 3).alias("dup_3gram_frac"),
            X.bullet_line_frac(F.col("synth")).alias("bullet_frac"),
            X.ellipsis_line_frac(F.col("synth")).alias("ellipsis_frac"),
            X.symbol_word_ratio(F.col("synth")).alias("symbol_word_ratio"),
            X.gopher_keep(F.col("synth")).alias("keep"),
        )

    q["q50_gopher_signals_keep"] = q50_gopher_signals_keep

    def q52_paragraph_dedup(spark, sf):
        # corpus-wide paragraph-level exact dedup (CCNet/RefinedWeb-style):
        # synthesize multi-paragraph docs where doc_id%4==0 docs share a
        # common boilerplate paragraph; first occurrence keeps, repeats
        # flagged — functions/text.py paragraph_dedup
        d = _t(spark, sf, "documents")
        synth = d.select(
            "doc_id",
            F.concat_ws(
                "\n\n",
                F.concat(F.lit("Intro for doc "), F.col("doc_id").cast("string")),
                F.substring(F.col("text"), 1, 200),
                F.when(
                    (F.col("doc_id") % 4) == 0,
                    F.lit("Subscribe to our newsletter for updates."),
                ),
            ).alias("text"),
        )
        return X.paragraph_dedup(synth, "doc_id", "text").withColumn(
            "para_pos", F.col("para_pos").cast("long")
        )

    q["q52_paragraph_dedup"] = q52_paragraph_dedup

    def q53_c4_filter(spark, sf):
        # the C4 cleaning rules (Raffel et al. 2020): per-line terminal-
        # punctuation/length/javascript filter + page-level sentence /
        # lorem-ipsum / curly-brace rules, over synthesized pages that
        # exercise every rule
        d = _t(spark, sf, "documents")
        synth = d.select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.lit("This is a proper first sentence with enough words."),
                F.lit("Too short."),
                F.when(
                    (F.col("doc_id") % 3) == 0,
                    F.lit("Enable javascript to view this site properly."),
                ),
                F.when(
                    (F.col("doc_id") % 5) == 0,
                    F.concat(
                        F.lit("The config used {braces} in doc "),
                        F.col("doc_id").cast("string"),
                        F.lit("."),
                    ),
                ),
                F.when(
                    (F.col("doc_id") % 7) == 0,
                    F.lit("Generated from a Lorem Ipsum placeholder template."),
                ),
                F.lit("Another complete sentence follows right here today!"),
                F.lit("Does this line also count as a real sentence?"),
                F.substring(F.col("text"), 1, 80),
            ).alias("text"),
        )
        return synth.select(
            "doc_id",
            X.c4_clean_text(F.col("text")).alias("cleaned"),
            X.c4_page_keep(F.col("text")).alias("keep"),
        )

    q["q53_c4_filter"] = q53_c4_filter

    def q54_image_resize(spark, sf):
        # the multimodal RESIZE operator, end-to-end under the hash gate:
        # gradient PNG -> resize_images (decode, nearest-neighbor resize,
        # re-encode PNG) -> decode the OUTPUT payload -> integer pixel
        # sum. Nearest-neighbor src index = floor(dst*src/dst_total) is
        # closed-form, so the oracle reconstructs the resized sum exactly.
        docs = (
            _t(spark, sf, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < 120)
        )

        def gen(batches):
            import numpy as np  # noqa: PLC0415
            import pandas as pd  # noqa: PLC0415

            from markdown_lab_spark.functions import codecs  # noqa: PLC0415

            for pdf in batches:
                rows = []
                for i in pdf["doc_id"]:
                    i = int(i)
                    w, h = 16 + i % 17, 16 + i % 13
                    y = np.arange(h, dtype=np.int32)[:, None, None]
                    x = np.arange(w, dtype=np.int32)[None, :, None]
                    c = np.arange(3, dtype=np.int32)[None, None, :]
                    arr = ((y * 7 + x * 3 + c * 31) % 256).astype(np.uint8)
                    rows.append(
                        {
                            "media_id": i,
                            "kind": "image",
                            "payload": codecs.encode_png(arr, filter_type=i % 5),
                            "mime": "image/png",
                            "meta": {},
                        }
                    )
                yield pd.DataFrame(
                    rows,
                    columns=["media_id", "kind", "payload", "mime", "meta"],
                )

        # NOT spread: A/B at sf0.1 shows parity (1.17 vs 1.13 s min) —
        # the floor here is the three chained Python-stage round trips,
        # not per-row compute, and the exchange buys nothing
        media = docs.mapInPandas(
            gen,
            "media_id long, kind string, payload binary, mime string, "
            "meta map<string,string>",
        )
        resized = M.resize_images(media, out_w=12, out_h=10)

        def decode_sum(batches):
            import numpy as np  # noqa: PLC0415
            import pandas as pd  # noqa: PLC0415

            from markdown_lab_spark.functions import codecs  # noqa: PLC0415

            for pdf in batches:
                rows = []
                for media_id, w, h, raw in zip(
                    pdf["media_id"], pdf["width"], pdf["height"], pdf["payload"]
                ):
                    _w, _h, _c, px = codecs.decode_png(bytes(raw))
                    rows.append(
                        {
                            "media_id": media_id,
                            "width": int(w),
                            "height": int(h),
                            "pixel_sum": int(px.astype(np.int64).sum()),
                        }
                    )
                yield pd.DataFrame(
                    rows, columns=["media_id", "width", "height", "pixel_sum"]
                )

        return resized.mapInPandas(
            decode_sum, "media_id long, width int, height int, pixel_sum long"
        )

    q["q54_image_resize"] = q54_image_resize

    def q56_pii_redaction(spark, sf):
        # BigScience/ROOTS-style PII scrub (emails -> <EMAIL>, IPv4 ->
        # <IP>, phones -> <PHONE>) over docs with injected PII. The Spark
        # patterns carry lookaround guards RE2 (DuckDB) cannot express;
        # the fixtures keep PII clear of adjacent digits/dots, where both
        # pattern families provably agree — functions/text.py redact_pii.
        d = _t(spark, sf, "documents")
        synth = d.select(
            "doc_id",
            F.concat_ws(
                " ",
                F.substring(F.col("text"), 1, 60),
                F.when(
                    (F.col("doc_id") % 2) == 0,
                    F.concat(
                        F.lit("contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example-site.org now"),
                    ),
                ),
                F.when(
                    (F.col("doc_id") % 3) == 0,
                    F.concat(
                        F.lit("server at 10.0."),
                        (F.col("doc_id") % 200).cast("string"),
                        F.lit(".17 responded"),
                    ),
                ),
                F.when(
                    (F.col("doc_id") % 5) == 0,
                    F.lit("call +1 555-123-4567 today"),
                ),
                F.substring(F.col("text"), 61, 40),
            ).alias("text"),
        )
        return synth.select(
            "doc_id",
            X.redact_pii(F.col("text")).alias("redacted"),
            X.pii_counts(F.col("text"))["emails"].alias("n_emails"),
            X.pii_counts(F.col("text"))["ips"].alias("n_ips"),
        )

    q["q56_pii_redaction"] = q56_pii_redaction

    def q57_url_quality_filter(spark, sf):
        # FineWeb-style pre-fetch URL cut: session/tracking params, digit-
        # heavy paths, binary-asset extensions, absurd depth/length —
        # functions/text.py url_quality_keep
        d = _t(spark, sf, "documents")
        url = F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/"),
            F.when((F.col("doc_id") % 4) == 0, F.lit("a/b/c/d/e/f/g/h/i/j/k/l/m/"))
            .otherwise(F.lit("docs/")),
            F.when(
                (F.col("doc_id") % 5) == 0,
                F.concat(F.lit("img-"), F.col("doc_id").cast("string"), F.lit(".png")),
            )
            .when(
                (F.col("doc_id") % 7) == 0,
                F.concat(
                    F.lit("page-"),
                    F.col("doc_id").cast("string"),
                    F.lit("?phpsessid=abc123"),
                ),
            )
            .otherwise(F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))),
        )
        return d.select(
            "doc_id",
            url.alias("url"),
            X.url_quality_keep(url).alias("keep"),
        )

    q["q57_url_quality_filter"] = q57_url_quality_filter

    def q58_decontaminate(spark, sf):
        # benchmark decontamination (GPT-3 appendix C / PaLM shape):
        # strict 13-gram membership of the corpus against an eval set,
        # case/whitespace-normalized. The "benchmark" is a deterministic
        # slice of the corpus itself (doc_id % 17 == 0), so verbatim
        # contamination exists by construction. Plan: corpus-side narrow
        # shingle+explode, BROADCAST membership join, one partial-agg
        # groupBy (functions/dedup.py decontaminate).
        docs = _t(spark, sf, "documents")
        bench = docs.filter((F.col("doc_id") % 17) == 0).select(
            F.col("text").alias("q")
        )
        bn = D.benchmark_ngrams(bench, "q", n=13)
        return D.decontaminate(docs, "doc_id", "text", bn, n=13)

    q["q58_decontaminate"] = q58_decontaminate

    def q59_cap_per_group(spark, sf):
        # FineWeb-style per-domain quota, skew-safe (functions/topk.py
        # cap_per_group): groups within quota bypass the window entirely;
        # the one synthetic mega-group (every 4th doc) exceeds it and
        # exercises the salted two-phase top-N. Deterministic order:
        # (n_chars DESC, doc_id ASC).
        docs = _t(spark, sf, "documents").select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.when((F.col("doc_id") % 4) == 0, F.lit("mega"))
            .otherwise(F.col("source"))
            .alias("grp"),
        )
        capped = cap_per_group(
            docs,
            "grp",
            20,
            [F.col("n_chars").desc(), F.col("doc_id").asc()],
            salt_col="doc_id",
            salt_n=8,
        )
        return capped.select("grp", "doc_id", "n_chars")

    q["q59_cap_per_group"] = q59_cap_per_group

    def q60_dedup_clusters(spark, sf):
        # transitive duplicate-cluster resolution: the near-dedup pair
        # generators only state pairwise similarity; clusters are the
        # connected components of the pair graph (alternating
        # large-star/small-star — functions/dedup.py). Pair sources:
        # q21's n-gram Jaccard pairs (content signal, clique-shaped per
        # duplicate group) unioned with an independent id-bridge signal
        # (emulating e.g. a canonical-URL match) that chains consecutive
        # groups — so components span BOTH signals transitively and the
        # fixpoint needs real multi-round star contraction.
        docs = _dupdocs(spark, sf).filter((F.col("doc_id") % 5) == 0)
        jp = D.ngram_jaccard_pairs(docs, "doc_id", "content", 3, 0.8).select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
        )
        ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
        bridge = (
            ids.filter(F.col("doc_id") % 30 == 0)
            .select(
                F.col("doc_id").alias("id_a"),
                (F.col("doc_id") + 30).alias("id_b"),
            )
            .join(
                ids.withColumnRenamed("doc_id", "id_b"),
                on="id_b",
                how="left_semi",
            )
            .select("id_a", "id_b")
        )
        return D.connected_components(
            jp.unionByName(bridge), "id_a", "id_b"
        ).select(
            F.col("node").cast("long").alias("node"),
            F.col("component").cast("long").alias("component"),
        )

    q["q60_dedup_clusters"] = q60_dedup_clusters

    def q61_sample_split(spark, sf):
        # deterministic hash sampling (functions/sampling.py): stratified
        # source-mix weighting (per-source keep fractions incl. a
        # default-fraction stratum) composed with a disjoint-salt
        # train/holdout split label. Reproducible across partitionings,
        # retries, and engines — the DuckDB oracle recomputes the exact
        # md5-hex uniform variate, so the hash construction itself is
        # value-gated, not just the row counts.
        from markdown_lab_spark.functions.sampling import (
            hash_uniform,
            stratified_sample,
        )

        # second leg, union-aligned (round-5 DSIR promotion): importance
        # resampling toward a target sub-corpus (docs with doc_id%7==0)
        # — hashed-n-gram target/raw models, Gumbel-top-k of the log
        # importance weights. The selected SET is the value gate (the
        # noise is the deterministic md5 uniform, so the set is
        # engine-exact); the weight itself is pinned to 1e-9 by the
        # pytest DuckDB cross-oracle (tests/test_dsir.py).
        from markdown_lab_spark.functions.dsir import dsir_resample

        docs = _t(spark, sf, "documents")
        kept = stratified_sample(
            docs,
            "doc_id",
            "source",
            {"src0": 0.9, "src1": 0.5, "src2": 0.0},
            salt="mix",
            default_fraction=0.3,
        )
        leg_a = kept.select(
            "doc_id",
            "source",
            F.when(
                hash_uniform(F.col("doc_id"), "eval") < F.lit(0.1),
                F.lit("holdout"),
            )
            .otherwise(F.lit("train"))
            .alias("split"),
        )
        target = docs.filter(F.col("doc_id") % 7 == 0)
        leg_b = dsir_resample(
            docs.select("doc_id", F.col("text")),
            "doc_id",
            "text",
            target,
            k=120,
            buckets=512,
            salt="dsir",
        ).select(
            "doc_id",
            F.lit("dsir").alias("source"),
            F.lit("selected").alias("split"),
        )
        return leg_a.unionByName(leg_b)

    q["q61_sample_split"] = q61_sample_split

    def q62_lm_logprob(spark, sf):
        # CCNet-style LM perplexity scoring (functions/lm.py): a
        # stupid-backoff bigram LM trained on 3/4 of the corpus scores
        # every doc — training is a partial-agg groupBy per order,
        # scoring is posexplode + left joins on gram strings + one
        # per-doc agg, 100% JVM. Gate emits logprob_per_token (bounded
        # magnitude, hash-stable at the harness's 1e-6 float rounding)
        # rather than perplexity (10^-x amplifies summation-order noise).
        from markdown_lab_spark.functions.lm import score_docs, train_ngram_lm

        docs = _t(spark, sf, "documents")
        lm = train_ngram_lm(docs.filter((F.col("doc_id") % 4) < 3), "text", 2)
        return score_docs(docs, lm).select(
            "doc_id", "n_scored", F.col("logprob_per_token")
        )

    q["q62_lm_logprob"] = q62_lm_logprob

    def q63_substring_dedup(spark, sf):
        # ExactSubstr-style corpus-wide duplicated-span removal (L=15
        # tokens; Lee et al. 2021, windowed formulation): one partial-agg
        # shuffle on the window hash, join back, pure-JVM interval merge
        # + coverage splice (functions/dedup.py:dedup_substrings).
        # Duplicates planted deterministically so the span structure is
        # rich at every SF: doc_id%3==0 appends a shared 20-token
        # boilerplate, doc_id%5==1 prepends an 18-token one (doc_id%15==6
        # gets both); windows straddling a plant boundary mix doc-unique
        # context, so removal must be EXACTLY the planted span.
        from markdown_lab_spark.functions.dedup import dedup_substrings

        b1 = (
            "scan filter join agg sort table query data line fast slow "
            "big key column index merge group order limit page"
        )
        b2 = (
            "crawl fetch parse chunk convert embed dedup rank score clean "
            "split token shard batch cache store emit flush"
        )
        docs = _t(spark, sf, "documents").select(
            "doc_id",
            F.concat(
                F.when((F.col("doc_id") % 5) == 1, F.lit(b2 + " ")).otherwise(
                    F.lit("")
                ),
                F.col("text"),
                F.when((F.col("doc_id") % 3) == 0, F.lit(" " + b1)).otherwise(
                    F.lit("")
                ),
            ).alias("text"),
        )
        out = dedup_substrings(docs, "doc_id", "text", length=15)
        return out.select(
            F.col("id").alias("doc_id"),
            "total_tokens",
            "removed_tokens",
            F.md5("kept_text").alias("kept_md5"),
        )

    q["q63_substring_dedup"] = q63_substring_dedup

    def q64_crawl_delay_cap(spark, sf):
        # robots Crawl-delay honored as an exact per-host wave budget:
        # politeness.cap_schedule_by_delay composed after schedule_wave,
        # b_h = clamp(floor(wave_seconds / delay), 1, budget). The
        # composition is exact by prefix identity (the schedule is the
        # per-host top-budget in order_cols() order, b_h <= budget), so
        # the oracle is ONE window over the whole frontier with the
        # per-host limit — frontier/politeness.py:117; reference
        # behavior: requests-level throttling src/client.rs (per-host
        # spacing), generalized to the declared robots delay.
        from markdown_lab_spark.frontier.politeness import (  # noqa: PLC0415
            cap_schedule_by_delay,
            schedule_wave,
        )

        d = _t(spark, sf, "documents").select("doc_id")
        hn = F.col("doc_id") % 37
        frontier = d.select(
            F.concat(F.lit("h"), hn.cast("string")).alias("host"),
            F.concat(
                F.lit("https://h"), hn.cast("string"),
                F.lit(".example/p"), F.col("doc_id").cast("string"),
            ).alias("canon_url"),
            (F.col("doc_id") % 3).cast("int").alias("depth"),
            (F.col("doc_id") % 7).cast("double").alias("priority"),
        )
        delays = spark.range(37).select(
            F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
            F.when(F.col("id") % 4 == 0, F.lit(2.5))  # b_h = 4: prefix cut
            .when(F.col("id") % 4 == 1, F.lit(0.5))  # b_h = budget: uncut
            .otherwise(F.lit(None).cast("double"))
            .alias("crawl_delay"),
        )
        scheduled, _deferred = schedule_wave(frontier, budget=5)
        kept, _cut = cap_schedule_by_delay(
            scheduled, delays, wave_seconds=10, budget=5
        )
        return kept.select(
            "host", "canon_url", F.col("depth").cast("int").alias("depth"),
            F.col("priority").cast("double").alias("priority"),
        )

    q["q64_crawl_delay_cap"] = q64_crawl_delay_cap

    def q65_canonical_dedup(spark, sf):
        # rel=canonical declared-duplicate collapse (dedup.canonical_dedup
        # over the real HTML parser): URL groups of 3 declare the group
        # base as canonical; every 4th group's base itself declares an
        # OFF-corpus target, exercising both keep rules — the target page
        # itself when present, else the min-url member. Undeclared pages
        # form their own group and pass through.
        d = _t(spark, sf, "documents").select("doc_id")
        url = F.concat(F.lit("https://c.example/p"), F.col("doc_id").cast("string"))
        base = F.col("doc_id") - F.col("doc_id") % 3
        member_target = F.concat(
            F.lit("https://c.example/p"), base.cast("string")
        )
        base_target = F.when(
            (F.col("doc_id") % 12) == 0,
            F.concat(F.lit("https://c.example/q"), F.col("doc_id").cast("string")),
        )
        target = F.when(
            (F.col("doc_id") % 3) == 0, base_target
        ).otherwise(member_target)
        html = F.concat(
            F.lit("<html><head>"),
            F.when(
                target.isNotNull(),
                F.concat(
                    F.lit('<link rel="canonical" href="'), target, F.lit('">')
                ),
            ).otherwise(F.lit("")),
            F.lit("</head><body><p>doc "),
            F.col("doc_id").cast("string"),
            F.lit("</p></body></html>"),
        )
        docs = d.select("doc_id", url.alias("url"), html.alias("html"))
        return D.canonical_dedup(docs, "url", "html").select(
            "doc_id", "url", "canonical_target"
        )

    q["q65_canonical_dedup"] = q65_canonical_dedup

    def q66_near_dedup_keep(spark, sf):
        # the full FineWeb-shaped fuzzy-dedup composition as one gate
        # (functions/dedup.near_dedup_keep): MinHash -> LSH candidates
        # (ALL band collisions) -> exact-Jaccard verify >= 0.8 ->
        # connected components -> keep the min-id representative; rows
        # outside every verified pair pass through. The oracle rebuilds
        # the identical pipeline in SQL (bands included — LSH recall is
        # part of the contract) with a recursive-CTE component labeling.
        docs = _dupdocs(spark, sf).filter((F.col("doc_id") % 5) == 0)
        kept = D.near_dedup_keep(
            docs, "doc_id", "content", k=8, bands=4, shingle_n=3,
            min_jaccard=0.8,
        )
        return kept.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.md5("content").alias("content_md5"),
        )

    q["q66_near_dedup_keep"] = q66_near_dedup_keep

    def q67_pack_sequences(spark, sf):
        # deterministic sequence packing (functions/packing.py):
        # xxhash64-bucketed first-fit-decreasing into target_len-token
        # packs, oversize docs flagged overflow. FFD's pack assignment is
        # inherently sequential (each placement depends on every prior
        # one), so this gate is rows-only by design — the exact
        # assignment is pinned by tests/test_packing.py (determinism
        # across partitionings, capacity/overflow invariants, utilization
        # floor vs the naive packer).
        from markdown_lab_spark.functions.packing import (  # noqa: PLC0415
            pack_sequences,
        )

        docs = _t(spark, sf, "documents").select(
            "doc_id",
            F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
        )
        return pack_sequences(
            docs, "doc_id", "n_tokens", target_len=256, n_buckets=8
        ).orderBy("pack_id", "pack_offset")

    q["q67_pack_sequences"] = q67_pack_sequences

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["q01_validate_urls"] = f"""
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN 'not-a-url' ELSE {_URL_SQL} END AS url
        FROM documents
        WHERE regexp_matches(
            CASE WHEN doc_id % 7 = 0 THEN 'not-a-url' ELSE {_URL_SQL} END,
            '^https?://[^/\\s]+')
    """

    o["q03_url_parts"] = f"""
        WITH u AS (
          SELECT doc_id, {_URL_SQL} AS url,
            {_URL_SQL} ||
              CASE doc_id % 3 WHEN 0 THEN '/' WHEN 1 THEN '#frag' ELSE '?q=1' END
              AS raw_url
          FROM documents
        ), parts AS (
          SELECT doc_id, url,
            regexp_extract(raw_url, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
            regexp_extract(raw_url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS netloc,
            regexp_extract(raw_url, '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
            regexp_extract(raw_url, '^[^?#]*\\?([^#]*)', 1) AS query
          FROM u
        )
        SELECT doc_id,
          regexp_replace(
            regexp_extract(url, '^[a-z]+://([^?#]*)', 1), '/', '_', 'g'
          ) || '.md' AS out_name,
          regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) || '://' ||
            regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS base_url,
          regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS host,
          scheme || '://' || netloc ||
          CASE WHEN path = '/' THEN path ELSE regexp_replace(path, '/+$', '') END ||
          CASE WHEN query <> '' THEN '?' || query ELSE '' END AS canon_url
        FROM parts
    """

    # (q05 oracle retired round 5 — the md5(url || ':text:0') assertion is
    # q15_text_chunks' start_idx=0 row for every doc_id)

    o["q06_sitemap_filters"] = """
        WITH p AS (
          SELECT doc_id, text,
            CASE WHEN doc_id % 5 = 0 THEN NULL
                 ELSE (doc_id % 10) / 10.0 END AS priority
          FROM documents
        )
        SELECT doc_id, priority FROM p
        WHERE (priority IS NULL OR priority >= 0.5)
          AND regexp_matches(text, 'spark|join')
          AND NOT regexp_matches(text, 'slow')
    """

    o["q08_limit_ordered"] = """
        WITH rev AS (
          SELECT c_custkey, c_name,
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))) AS DOUBLE) AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE o_orderdate >= TIMESTAMP '1995-01-01'
            AND o_orderdate <  TIMESTAMP '1995-07-01'
          GROUP BY c_custkey, c_name
        )
        SELECT 'docs' AS leg, CAST(doc_id AS BIGINT) AS key, '' AS label,
               CAST(n_chars AS DOUBLE) AS val, CAST(rn AS INTEGER) AS rn
        FROM (
          SELECT doc_id, n_chars,
                 row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM documents
        ) WHERE rn <= 100
        UNION ALL
        SELECT 'rev' AS leg, CAST(c_custkey AS BIGINT) AS key, c_name AS label,
               ROUND(revenue, 4) AS val, CAST(rank AS INTEGER) AS rn
        FROM (
          SELECT c_custkey, c_name, revenue,
                 ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey) AS rank
          FROM rev
        ) WHERE rank <= 10
    """

    o["q09_status_counts"] = """
        SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """

    o["q10_politeness_budget"] = """
        SELECT source, doc_id, rn FROM (
          SELECT source, doc_id,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM documents
        ) WHERE rn <= 20
    """

    o["q11_seen_antijoin"] = """
        SELECT d.doc_id FROM documents d
        WHERE NOT EXISTS (
          SELECT 1 FROM documents s WHERE s.doc_id % 3 = 0 AND s.doc_id = d.doc_id
        )
    """

    o["q12_link_sort_dedup"] = """
        WITH w AS (
          SELECT doc_id,
                 list_sort(list_distinct(regexp_split_to_array(trim(text), '\\s+')[1:8])) AS links
          FROM documents
        )
        SELECT doc_id, unnest(links) AS link FROM w
    """

    o["q13_wave_expand"] = """
        WITH n AS (SELECT count(*) AS n FROM documents),
        links AS (
          SELECT doc_id, unnest([ (doc_id * 2 + 1) % n.n, (doc_id * 3 + 7) % n.n ]) AS target
          FROM documents, n
        ),
        seeds AS (SELECT doc_id FROM documents WHERE doc_id < 10)
        SELECT DISTINCT target AS doc_id FROM links
        WHERE doc_id IN (SELECT doc_id FROM seeds)
          AND target NOT IN (SELECT doc_id FROM seeds)
    """

    # (q14 oracle retired round 5 — its word_count/char_count assertions
    # live on inside q27_tokens_fingerprint's merged gate)

    o["q15_text_chunks"] = f"""
        WITH w AS (
          SELECT doc_id, {_URL_SQL} AS url,
                 regexp_split_to_array(trim(text), '\\s+') AS words
          FROM documents
        )
        SELECT doc_id,
               i::BIGINT AS start_idx,
               md5(url || ':text:' || CAST(i AS VARCHAR)) AS chunk_id,
               array_to_string(words[i + 1 : i + 200], ' ') AS content
        FROM w, unnest(generate_series(0, greatest(len(words) - 1, 0), 160)) AS t(i)
    """

    o["q16_markdownness"] = """
        WITH c AS (
          SELECT doc_id,
            CASE WHEN doc_id % 4 = 0 THEN '# Heading' || chr(10) || text
                 ELSE text END AS content
          FROM documents
        )
        SELECT doc_id, regexp_matches(content, '(?m)^#+ ') AS is_markdown FROM c
    """

    o["q17_robots_deny"] = """
        WITH p AS (
          SELECT doc_id,
            CASE WHEN doc_id % 10 = 9
                 THEN '/private/doc-' || CAST(doc_id AS VARCHAR)
                 ELSE '/docs/doc-' || CAST(doc_id AS VARCHAR) END AS path
          FROM documents
        )
        SELECT doc_id, path, NOT starts_with(path, '/private/') AS allowed FROM p
    """

    _DUP = """
        SELECT doc_id,
          CASE WHEN doc_id % 10 < 3
               THEN 'shared dedup block number ' || CAST(CAST(floor(doc_id / 30) AS BIGINT) AS VARCHAR)
                    || ' lorem ipsum dolor sit amet consectetur'
               ELSE text END AS content
        FROM documents
    """

    o["q18_dedup_exact"] = f"""
        WITH d AS ({_DUP})
        SELECT md5(content) AS content_hash,
               min(doc_id) AS keep_id,
               count(*) AS dup_count
        FROM d GROUP BY md5(content)
    """

    _SHINGLES = """
        SELECT doc_id, sh FROM (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(words) - 2, 1)),
                   i -> array_to_string(words[i : i + 2], ' ')
                 )) AS shs
          FROM (SELECT doc_id, regexp_split_to_array(trim(content), '\\s+') AS words FROM d)
        ), unnest(shs) AS t(sh)
    """

    mh_lanes = ",\n               ".join(
        f"min(md5(sh || ':{i}')) AS mh_{i}" for i in range(8)
    )
    band_defs = ",\n               ".join(
        f"md5('{b}' || '|' || mh_{2 * b} || '|' || mh_{2 * b + 1}) AS band_{b}"
        for b in range(4)
    )
    eq_sum = " + ".join(f"(l.mh_{i} = r.mh_{i})::INT" for i in range(8))
    o["q20_minhash_lsh_pairs"] = f"""
        WITH d AS (
          SELECT doc_id, content FROM ({_DUP}) WHERE doc_id % 5 = 0
        ),
        sh AS ({_SHINGLES}),
        sigs AS (
          SELECT doc_id, {mh_lanes}
          FROM sh GROUP BY doc_id
        ),
        banded AS (
          SELECT *, {band_defs} FROM sigs
        ),
        buckets AS (
          SELECT doc_id, mh_0, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6, mh_7,
                 unnest([band_0, band_1, band_2, band_3]) AS bucket
          FROM banded
        ),
        pairs AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                 round(({eq_sum}) / 8.0, 6) AS est_jaccard
          FROM buckets l JOIN buckets r
            ON l.bucket = r.bucket AND l.doc_id < r.doc_id
        )
        SELECT 'sig' AS leg, CAST(doc_id AS BIGINT) AS id_a,
               CAST(NULL AS BIGINT) AS id_b,
               md5(mh_0 || '|' || mh_1 || '|' || mh_2 || '|' || mh_3 || '|' ||
                   mh_4 || '|' || mh_5 || '|' || mh_6 || '|' || mh_7) AS sig,
               CAST(NULL AS DOUBLE) AS est_jaccard
        FROM sigs
        UNION ALL
        SELECT 'pair' AS leg, id_a, id_b, CAST(NULL AS VARCHAR) AS sig,
               est_jaccard
        FROM pairs WHERE est_jaccard >= 0.5
    """

    o["q21_ngram_jaccard"] = f"""
        WITH d AS (
          SELECT doc_id, content FROM ({_DUP}) WHERE doc_id % 5 = 0
        ),
        sh AS (SELECT DISTINCT doc_id, sh FROM ({_SHINGLES})),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8
    """

    # (q22_simhash oracle retired round 4 with its gate; see q36)

    # ---- simhash64 (q36/q37): bit d of md5(tok) = bit (3-d%4) of hex
    # digit d//4; vote sum per bit, fingerprint = sign ------------------------
    def _charv(c: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {c + 1}, 1)) - 1)"

    votes64 = ",\n               ".join(
        f"sum(CASE WHEN ({_charv(d // 4)} & {1 << (3 - d % 4)}) != 0 "
        f"THEN 1 ELSE -1 END) AS v_{d}"
        for d in range(64)
    )
    fp64 = " || ".join(
        f"CASE WHEN v_{d} > 0 THEN '1' ELSE '0' END" for d in range(64)
    )
    # q37 'ham' leg: banded candidate generation is exhaustive for
    # hamming <= 7 with 8 bands (pigeonhole), so the oracle can
    # brute-force all pairs and get the identical result set; the 'fp'
    # leg (folded-in q36) pins the raw 64-bit fingerprints
    _GTAG = (
        "rtrim(repeat('grp' || CAST(CAST(floor(doc_id / 30) AS BIGINT) "
        "AS VARCHAR) || ' ', 10))"
    )
    _SIMDOCS = f"""
        SELECT doc_id,
               {_GTAG} ||
               ' {_SIM_FILLER} tok' || CAST(doc_id % 3 AS VARCHAR) AS content
        FROM documents WHERE doc_id % 10 < 3
    """
    o["q37_simhash_hamming"] = f"""
        WITH d AS ({_SIMDOCS}),
        toks AS (
          SELECT doc_id, md5(tok) AS h
          FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(content), '\\s+')) AS tok FROM d)
        ),
        agg AS (
          SELECT doc_id,
               {votes64}
          FROM toks GROUP BY doc_id
        ),
        fps AS (SELECT doc_id, {fp64} AS simhash FROM agg),
        pd AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        ptoks AS (
          SELECT doc_id, md5(tok) AS h
          FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM pd)
        ),
        pagg AS (
          SELECT doc_id,
               {votes64}
          FROM ptoks GROUP BY doc_id
        )
        SELECT 'fp' AS leg, CAST(doc_id AS BIGINT) AS id_a,
               CAST(NULL AS BIGINT) AS id_b, {fp64} AS simhash,
               CAST(NULL AS BIGINT) AS hamming
        FROM pagg
        UNION ALL
        SELECT 'ham' AS leg, l.doc_id AS id_a, r.doc_id AS id_b,
               CAST(NULL AS VARCHAR) AS simhash,
               bit_count(xor(CAST(l.simhash AS BIT), CAST(r.simhash AS BIT)))::BIGINT AS hamming
        FROM fps l JOIN fps r ON l.doc_id < r.doc_id
        WHERE bit_count(xor(CAST(l.simhash AS BIT), CAST(r.simhash AS BIT))) <= 7
    """

    _COS = """
        round(
          list_aggregate(list_transform(generate_series(1, len(e.embedding)),
            i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE), 'sum')
          / (sqrt(list_aggregate(list_transform(generate_series(1, len(e.embedding)),
               i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), 'sum'))
             * sqrt(list_aggregate(list_transform(generate_series(1, len(q.qv)),
               i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE), 'sum'))), 4)
    """

    o["q23_cosine_topk"] = f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT e.vec_id, {_COS} AS cos_sim
          FROM embeddings e, q
          WHERE e.vec_id != 0
        )
        SELECT vec_id, cos_sim, rank FROM (
          SELECT vec_id, cos_sim,
                 row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS rank
          FROM scored
        ) WHERE rank <= 10
    """

    bucket_expr = " || ".join(
        f"CASE WHEN embedding[{d + 1}] >= 0 THEN '1' ELSE '0' END" for d in range(8)
    )
    o["q24_lsh_ann"] = f"""
        WITH b AS (
          SELECT vec_id, embedding, {bucket_expr} AS bucket FROM embeddings
        ),
        q AS (SELECT bucket AS qbucket, embedding AS qv FROM b WHERE vec_id = 0),
        cands AS (
          SELECT e.vec_id, {_COS} AS cos_sim
          FROM b e, q
          WHERE e.bucket = q.qbucket AND e.vec_id != 0
        )
        SELECT vec_id, cos_sim, rank FROM (
          SELECT vec_id, cos_sim,
                 row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS rank
          FROM cands
        ) WHERE rank <= 5
    """

    _COS_LR = """
        round(
          list_aggregate(list_transform(generate_series(1, len(l.embedding)),
            i -> l.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE), 'sum')
          / (sqrt(list_aggregate(list_transform(generate_series(1, len(l.embedding)),
               i -> l.embedding[i]::DOUBLE * l.embedding[i]::DOUBLE), 'sum'))
             * sqrt(list_aggregate(list_transform(generate_series(1, len(r.embedding)),
               i -> r.embedding[i]::DOUBLE * r.embedding[i]::DOUBLE), 'sum'))), 4)
    """
    # (q34 unbanded-baseline oracle retired round 4 with its gate; see q35)

    # q35: same Rademacher hyperplanes as dedup.embedding_neardup_pairs_banded
    # (w = +-1 from md5(f"{p}:{j}")), dot realized as the same left-assoc
    # fold so the sign bit is IEEE-identical in both engines
    from markdown_lab_spark.functions.dedup import rademacher_hyperplanes

    _planes = rademacher_hyperplanes(32, 64)

    def _rad_bit(p: int) -> str:
        terms = "".join(
            f" {'+' if w > 0 else '-'} (e.embedding[{j + 1}]::DOUBLE)"
            for j, w in enumerate(_planes[p])
        )
        return f"CASE WHEN (0.0{terms}) >= 0 THEN '1' ELSE '0' END"

    _sig32 = " || ".join(_rad_bit(p) for p in range(32))
    _band_list = ", ".join(
        f"'{b}:' || substr(sig, {b * 8 + 1}, 8)" for b in range(4)
    )
    o["q35_embedding_neardup_lsh"] = f"""
        WITH synth AS (
          SELECT e.vec_id,
                 CASE WHEN e.vec_id % 7 < 2 THEN l.embedding ELSE e.embedding END AS embedding
          FROM embeddings e
          LEFT JOIN embeddings l ON l.vec_id = e.vec_id - (e.vec_id % 7)
        ),
        sigs AS (
          SELECT e.vec_id, e.embedding, {_sig32} AS sig
          FROM synth e
        ),
        bands AS (
          SELECT vec_id, embedding, unnest([{_band_list}]) AS bucket
          FROM sigs
        )
        SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b, {_COS_LR} AS cos_sim
        FROM bands l JOIN bands r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
        WHERE {_COS_LR} >= 0.99
    """

    # q38: IVF — assignment/probe must match Spark EXACTLY (unrounded
    # cosine), which holds because both engines fold the same products in
    # the same order; only the output cos_sim is rounded
    def _cos_sql(a: str, b: str) -> str:
        return f"""(list_aggregate(list_transform(generate_series(1, len({a})),
             i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), 'sum')
           / (sqrt(list_aggregate(list_transform(generate_series(1, len({a})),
                i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE), 'sum'))
              * sqrt(list_aggregate(list_transform(generate_series(1, len({b})),
                i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE), 'sum'))))"""

    o["q38_ivf_ann"] = f"""
        WITH cents AS (
          SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8
        ),
        qv_t AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id != 0),
        assigned AS (
          SELECT e.vec_id,
                 CAST(-(max({{'s': {_cos_sql("e.embedding", "c.cvec")},
                              'nc': -c.cid}})).nc AS BIGINT) AS cell
          FROM e CROSS JOIN cents c
          GROUP BY e.vec_id
        ),
        probe AS (
          SELECT CAST(c.cid AS BIGINT) AS cell
          FROM cents c CROSS JOIN qv_t q
          ORDER BY {_cos_sql("c.cvec", "q.qv")} DESC, c.cid ASC
          LIMIT 2
        ),
        scored AS (
          SELECT e.vec_id,
                 round({_cos_sql("e.embedding", "q.qv")}, 4) AS cos_sim
          FROM e
          JOIN assigned a ON a.vec_id = e.vec_id
          JOIN probe p ON a.cell = p.cell
          CROSS JOIN qv_t q
        )
        SELECT vec_id, cos_sim, rank FROM (
          SELECT vec_id, cos_sim,
                 row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS rank
          FROM scored
        ) WHERE rank <= 10
    """

    def _lang_score(words: list[str], col: str = "text") -> str:
        pat = r"\b(" + "|".join(words) + r")\b"
        return (
            f"round(len(regexp_extract_all(lower({col}), '{pat}')) / "
            f"greatest(CASE WHEN trim({col}) = '' THEN 0 ELSE len(regexp_split_to_array(trim({col}), '\\s+')) END, 1), 6)"
        )

    from markdown_lab_spark.functions.text import LANG_STOPWORDS

    score_cols = ",\n            ".join(
        f"{_lang_score(w)} AS s_{lang}" for lang, w in LANG_STOPWORDS.items()
    )
    _lang_case_s = """CASE
            WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
            ELSE 'es'
          END"""

    en_pat = r"\b(" + "|".join(LANG_STOPWORDS["en"]) + r")\b"

    def _quality_sql(col: str) -> str:
        return f"""
            round(0.4 * least(1.0, (CASE WHEN trim({col}) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim({col}), '\\s+')) END) / 100.0)
              + 0.3 * (1.0 - least(1.0, 5.0 *
                  round(len(regexp_extract_all({col}, '[^\\w\\s]')) / greatest(length({col}), 1), 6)))
              + 0.3 * least(1.0, 4.0 *
                  round(len(regexp_extract_all(lower({col}), '{en_pat}')) /
                    greatest(CASE WHEN trim({col}) = '' THEN 0
                         ELSE len(regexp_split_to_array(trim({col}), '\\s+')) END, 1), 6)), 6)::DOUBLE"""

    o["q25_lang_quality"] = f"""
        WITH s AS (
          SELECT doc_id, text,
            {score_cols}
          FROM documents
        )
        SELECT doc_id,
          {_lang_case_s} AS pred_lang,
          {_quality_sql("text")} AS quality
        FROM s
    """

    o["q27_tokens_fingerprint"] = f"""
        SELECT doc_id,
          (CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT AS ws_tokens,
          len(regexp_extract_all(text, '{X.BPE_ISH_TOKEN_RE}'))::BIGINT AS bpe_tokens,
          length(text)::BIGINT AS char_count,
          list_aggregate(list_transform(
            generate_series(1, greatest(length(text) - 7, 1), 4),
            i -> md5(substr(text, i, 8))), 'min') AS fingerprint
        FROM documents
    """

    o["q30_agg_parity"] = """
        SELECT 'events' AS src, event_type AS k1, '' AS k2, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
               CAST(min(value) AS DOUBLE) AS min_v,
               CAST(max(value) AS DOUBLE) AS max_v
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'lineitem' AS src, l_returnflag AS k1, l_linestatus AS k2,
               count(*) AS n,
               CAST(sum(l_quantity) AS DOUBLE) AS sum_v,
               CAST(min(l_quantity) AS DOUBLE) AS min_v,
               CAST(max(l_quantity) AS DOUBLE) AS max_v
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """

    o["q31_convert_markdown"] = f"""
        SELECT doc_id,
               'Doc ' || CAST(doc_id AS VARCHAR) AS title,
               {_MD_SQL} AS markdown
        FROM documents
    """

    # q32: the Rust-semantics chunker (src/chunker.rs:62-154) on the
    # closed-form corpus markdown. The markdown is exactly 7 lines
    # ('# Doc N', '', '## Part M', '', text, '', '[next doc](...)'), the
    # corpus text is single-line pure ASCII (byte offset == char offset)
    # with no [.!?] and no whitespace runs, so the chunker's line-fold
    # unrolls into closed-form SQL:
    #   - '## Part M' flushes '# Doc N\n' as chunk 0 (heading flush,
    #     chunker.rs:104-117);
    #   - the section then sees three non-heading appends (text, '', link),
    #     each followed by AT MOST ONE split when len > chunk_size
    #     (chunker.rs:119-136: the split check runs once per appended line,
    #     not in a loop);
    #   - each split point is find_good_split_point(bytes, size-overlap)
    #     (chunker.rs:185-215), the paragraph/sentence/newline/whitespace
    #     cascade below (Python re.search(p).end() == length of RE2 group 0
    #     of '(?s)^.*?p': leftmost start, then p's own greedy semantics).
    _CHUNK_WS = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"

    def _fgsp(s: str) -> str:
        """find_good_split_point(s, 160) — only evaluated when len(s) > 200."""
        t = f"substr({s}, 161)"
        para = f"regexp_extract({t}, '(?s)^.*?\\n[ \\t\\n\\r\\x0B\\x0C]*\\n', 0)"
        sent = f"regexp_extract({t}, '(?s)^.*?[.!?][ \\t\\n\\r\\x0B\\x0C]+', 0)"
        ws = f"regexp_extract({t}, '(?s)^.*?[ \\t\\n\\r\\x0B\\x0C]', 0)"
        return f"""160 + (CASE
              WHEN {para} <> '' THEN length({para})
              WHEN {sent} <> '' THEN length({sent})
              WHEN strpos({t}, chr(10)) > 0 THEN strpos({t}, chr(10))
              WHEN {ws} <> '' THEN length({ws})
              ELSE 0 END)"""

    o["q32_chunk_markdown"] = f"""
        WITH base AS (
          SELECT doc_id,
                 '# Doc ' || CAST(doc_id AS VARCHAR) || chr(10) AS c0,
                 '## Part ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) || chr(10)
                   || trim(text) AS s1,
                 '[next doc](https://' || source || '.example.com/next/doc-'
                   || CAST(doc_id + 1 AS VARCHAR) || ')' AS link
          FROM documents
        ),
        a AS (
          SELECT *, CASE WHEN length(s1) > 200 THEN {_fgsp("s1")} END AS spa
          FROM base
        ),
        a2 AS (
          SELECT doc_id, link, c0,
                 CASE WHEN spa IS NOT NULL THEN substr(s1, 1, spa) END AS ca,
                 CASE WHEN spa IS NOT NULL
                      THEN trim(substr(s1, spa + 1), {_CHUNK_WS})
                      ELSE s1 END AS cur1
          FROM a
        ),
        b0 AS (
          SELECT *, CASE WHEN cur1 = '' THEN '' ELSE cur1 || chr(10) END AS s2
          FROM a2
        ),
        b AS (
          SELECT *, CASE WHEN length(s2) > 200 THEN {_fgsp("s2")} END AS spb
          FROM b0
        ),
        b2 AS (
          SELECT doc_id, link, c0, ca,
                 CASE WHEN spb IS NOT NULL THEN substr(s2, 1, spb) END AS cb,
                 CASE WHEN spb IS NOT NULL
                      THEN trim(substr(s2, spb + 1), {_CHUNK_WS})
                      ELSE s2 END AS cur2
          FROM b
        ),
        cc0 AS (
          SELECT *, CASE WHEN cur2 = '' THEN link
                         ELSE cur2 || chr(10) || link END AS s3
          FROM b2
        ),
        cc1 AS (
          SELECT *, CASE WHEN length(s3) > 200 THEN {_fgsp("s3")} END AS spc
          FROM cc0
        ),
        cc2 AS (
          SELECT doc_id, c0, ca, cb,
                 CASE WHEN spc IS NOT NULL THEN substr(s3, 1, spc) END AS cc,
                 CASE WHEN spc IS NOT NULL
                      THEN trim(substr(s3, spc + 1), {_CHUNK_WS})
                      ELSE s3 END AS cur3
          FROM cc1
        ),
        lists AS (
          SELECT doc_id,
                 list_filter([c0, ca, cb, cc, NULLIF(cur3, '')],
                             x -> x IS NOT NULL) AS l
          FROM cc2
        )
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, l[i] AS content
        FROM lists, unnest(generate_series(1, len(l))) AS t(i)
    """

    # q33 partially: q33's single-section
    # semantic chunk IS expressible (all docs fit one section at this scale)
    # q33 two legs: 'html' = converted web corpus through the Python
    # semantic chunker; 'sections' = the multi-section case (folded-in
    # q39). Section fold per chunk_utils.py:70-79 (first h2 under h1
    # joins the h1 section, '## Details' starts its own); small sections
    # emit one 'section' chunk, oversized ones word-window at 200 words
    # / step 160
    _WS4 = "' ' || chr(9) || chr(10) || chr(13)"
    o["q33_chunk_semantic"] = f"""
        WITH hm AS (
          SELECT doc_id, source, {_MD_SQL} AS md, {_URL_SQL} AS url FROM documents
        ),
        html_leg AS (
          SELECT 'html' AS leg, doc_id,
               md5(url || ':# Doc ' || CAST(doc_id AS VARCHAR)) AS chunk_id,
               md || chr(10) AS content,
               'section' AS chunk_type,
               (CASE WHEN trim(md) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(md), '\\s+')) END)::BIGINT AS word_count,
               (length(md) + 1)::BIGINT AS char_count
          FROM hm
        ),
        m AS (
          SELECT doc_id, {_URL_SQL} AS url,
                 '# Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) ||
                   '## Intro' || chr(10) || chr(10) || text || chr(10) || chr(10) AS s1,
                 '## Details' || chr(10) || chr(10) ||
                   text || ' ' || text || ' ' || text || chr(10) AS s2
          FROM documents
        ),
        secs AS (
          SELECT doc_id, url,
                 '# Doc ' || CAST(doc_id AS VARCHAR) AS heading, s1 AS body
          FROM m
          UNION ALL
          SELECT doc_id, url, '## Details' AS heading, s2 AS body FROM m
        ),
        small AS (
          SELECT doc_id,
                 md5(url || ':' || heading) AS chunk_id,
                 body AS content,
                 'section' AS chunk_type,
                 len(regexp_split_to_array(trim(body, {_WS4}), '\\s+'))::BIGINT AS word_count,
                 length(body)::BIGINT AS char_count
          FROM secs WHERE length(body) <= 1000
        ),
        big AS (
          SELECT doc_id, url, heading,
                 regexp_split_to_array(trim(body, {_WS4}), '\\s+') AS words
          FROM secs WHERE length(body) > 1000
        ),
        wins AS (
          SELECT doc_id,
                 md5(url || ':' || heading || ':' || CAST(i AS VARCHAR)) AS chunk_id,
                 array_to_string(words[i + 1 : i + 200], ' ') AS content,
                 'content_chunk' AS chunk_type,
                 least(200, len(words) - i)::BIGINT AS word_count,
                 length(array_to_string(words[i + 1 : i + 200], ' '))::BIGINT AS char_count
          FROM big, unnest(generate_series(0, greatest(len(words) - 1, 0), 160)) AS t(i)
        )
        SELECT * FROM html_leg
        UNION ALL SELECT 'sections' AS leg, * FROM small
        UNION ALL SELECT 'sections' AS leg, * FROM wins
    """

    lang_cols_c = {
        lang: _lang_score(w, "content") for lang, w in LANG_STOPWORDS.items()
    }
    _LANG_CASE_C = f"""
        CASE
          WHEN greatest({lang_cols_c["en"]}, {lang_cols_c["de"]},
                        {lang_cols_c["fr"]}, {lang_cols_c["es"]}) = 0 THEN 'und'
          WHEN {lang_cols_c["en"]} = greatest({lang_cols_c["en"]}, {lang_cols_c["de"]},
                        {lang_cols_c["fr"]}, {lang_cols_c["es"]}) THEN 'en'
          WHEN {lang_cols_c["de"]} = greatest({lang_cols_c["en"]}, {lang_cols_c["de"]},
                        {lang_cols_c["fr"]}, {lang_cols_c["es"]}) THEN 'de'
          WHEN {lang_cols_c["fr"]} = greatest({lang_cols_c["en"]}, {lang_cols_c["de"]},
                        {lang_cols_c["fr"]}, {lang_cols_c["es"]}) THEN 'fr'
          ELSE 'es'
        END"""
    o["q40_corpus_curation"] = f"""
        WITH d AS ({_DUP}),
        keep AS (
          SELECT min(doc_id) AS doc_id FROM d GROUP BY md5(content)
        ),
        s AS (
          SELECT doc_id, {_LANG_CASE_C} AS pred_lang,
                 {_quality_sql("content")} AS quality
          FROM d
        )
        SELECT s.doc_id, s.quality
        FROM s JOIN keep USING (doc_id)
        WHERE s.pred_lang = 'en' AND s.quality >= 0.5
    """

    # multimodal: the stub decode is md5(payload)-derived (multimodal.py
    # decode_image_stub), so the oracle reproduces the exact byte math from
    # the hex digest; payload is the document text's UTF-8 bytes
    o["q41_multimodal_features"] = """
        WITH m AS (
          SELECT doc_id AS media_id, md5(text) AS h,
                 octet_length(encode(text)) AS nb
          FROM documents WHERE doc_id % 3 = 0
        )
        SELECT media_id, 'image' AS kind,
          CAST(16 + ('0x' || substr(h, 1, 2))::INT % 64 AS BIGINT) AS width,
          CAST(16 + ('0x' || substr(h, 3, 2))::INT % 64 AS BIGINT) AS height,
          CAST(nb AS BIGINT) AS n_bytes,
          h AS checksum,
          array_to_string(
            [CAST(CAST(CAST(ROUND((('0x' || substr(h, 2*i+5, 2))::INT) / 255.0, 6)
                   AS FLOAT) AS DECIMAL(10,6)) AS VARCHAR)
             for i in range(8)], ',') AS feature_csv,
          CAST(-1 AS BIGINT) AS frame_ts
        FROM m
        UNION ALL
        SELECT doc_id AS media_id, 'video' AS kind,
               CAST(-1 AS BIGINT) AS width, CAST(-1 AS BIGINT) AS height,
               CAST(-1 AS BIGINT) AS n_bytes, '' AS checksum,
               '' AS feature_csv,
               CAST(unnest(generate_series(0, doc_id % 30, 5)) AS BIGINT)
                 AS frame_ts
        FROM documents WHERE doc_id % 3 = 1
    """


    o["q44_events_latest_per_user"] = """
        WITH r AS (
          SELECT user_id, event_id, event_type,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ) AS BIGINT) AS rn
          FROM events WHERE user_id < 50
        )
        SELECT user_id, event_id, event_type, rn FROM r WHERE rn <= 3
    """

    # q45: the streaming pipeline runs the SAME convert UDF over the same
    # synthesized pages, so its oracle is q31's closed-form markdown
    o["q45_streaming_convert"] = f"""
        SELECT doc_id,
               'Doc ' || CAST(doc_id AS VARCHAR) AS title,
               {_MD_SQL} AS markdown
        FROM documents
    """

    # q46: first-seen streaming dedup emits each (host, url) once == DISTINCT
    o["q46_stateful_first_seen"] = f"""
        SELECT DISTINCT source || '.example.com' AS host,
                        {_URL_SQL} AS canon_url
        FROM documents
    """

    # q47: the PNG codec's decoded pixel sum, reconstructed in closed form
    # (integer-exact — no float summation order concerns)
    o["q47_png_decode"] = """
        WITH grid AS (
          SELECT y.g AS y, x.g AS x, c.g AS c
          FROM generate_series(0, 27) y(g),
               generate_series(0, 31) x(g),
               generate_series(0, 2) c(g)
        ),
        ids AS (
          SELECT doc_id AS media_id,
                 CAST(16 + doc_id % 17 AS INT) AS width,
                 CAST(16 + doc_id % 13 AS INT) AS height
          FROM documents WHERE doc_id < 200
        ),
        ggrid AS (
          SELECT y.g AS y, x.g AS x
          FROM generate_series(0, 27) y(g), generate_series(0, 31) x(g)
        ),
        gids AS (
          SELECT doc_id AS media_id,
                 CAST(16 + doc_id % 17 AS INT) AS width,
                 CAST(16 + doc_id % 13 AS INT) AS height
          FROM documents WHERE doc_id < 120
        ),
        gpx AS (
          SELECT i.media_id, i.width, i.height,
                 (g.y * 7 + g.x * 3 + i.media_id) % 256 AS k
          FROM gids i JOIN ggrid g ON g.y < i.height AND g.x < i.width
        )
        SELECT 'png' AS codec, i.media_id, i.width, i.height,
               CAST(SUM((g.y * 7 + g.x * 3 + g.c * 31) % 256) AS BIGINT)
                 AS pixel_sum
        FROM ids i JOIN grid g ON g.y < i.height AND g.x < i.width
        GROUP BY i.media_id, i.width, i.height
        UNION ALL
        SELECT 'gif' AS codec, media_id, width, height,
               CAST(SUM((k * 5) % 256 + (k * 7) % 256 + (k * 11) % 256)
                    AS BIGINT) AS pixel_sum
        FROM gpx GROUP BY media_id, width, height
        UNION ALL
        -- wav leg (q49 folded in): codec carries the channel count,
        -- width = sample_rate, height = n_samples, pixel_sum = the exact
        -- left-channel integer sawtooth sum
        SELECT 'wav2' AS codec, doc_id AS media_id,
               CAST(8000 AS INT) AS width,
               CAST(500 + (doc_id % 7) * 100 AS INT) AS height,
               CAST((SELECT SUM((doc_id * 37 + k.g * 11) % 2001 - 1000)
                     FROM generate_series(0, 1099) k(g)
                     WHERE k.g < 500 + (doc_id % 7) * 100) AS BIGINT)
                 AS pixel_sum
        FROM documents WHERE doc_id < 100
        UNION ALL
        -- flac leg: FLAC is lossless, so the decode is pinned by the
        -- same closed-form sawtooth sum as the wav leg (rate differs:
        -- 16000), regardless of which encoder variant (stereo mode,
        -- subframe kind, partition order, rice method, escape) the
        -- media id selected
        SELECT 'flac2' AS codec, doc_id AS media_id,
               CAST(16000 AS INT) AS width,
               CAST(500 + (doc_id % 7) * 100 AS INT) AS height,
               CAST((SELECT SUM((doc_id * 37 + k.g * 11) % 2001 - 1000)
                     FROM generate_series(0, 1099) k(g)
                     WHERE k.g < 500 + (doc_id % 7) * 100) AS BIGINT)
                 AS pixel_sum
        FROM documents WHERE doc_id < 80
        UNION ALL
        -- zstd leg: the RFC 8878 decoder runs against REAL pyarrow
        -- zstd streams; losslessness pins the decoded bytes to the
        -- generated word sequence, whose length and byte sum are
        -- closed-form (word lengths/sums hardcoded per index)
        SELECT 'zstd' AS codec, doc_id AS media_id,
               CAST(CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 3
                    WHEN 2 THEN 6 WHEN 3 THEN 9 ELSE 19 END AS INT)
                 AS width,
               CAST((SELECT SUM(CASE (doc_id * 31 + k.g * 7) % 10
                      WHEN 0 THEN 3 WHEN 1 THEN 5 WHEN 2 THEN 8
                      WHEN 3 THEN 5 WHEN 4 THEN 4 WHEN 5 THEN 8
                      WHEN 6 THEN 5 WHEN 7 THEN 6 WHEN 8 THEN 4
                      ELSE 4 END)
                     + (500 + (doc_id % 7) * 100 - 1)
                     FROM generate_series(0, 1099) k(g)
                     WHERE k.g < 500 + (doc_id % 7) * 100) AS INT)
                 AS height,
               CAST((SELECT SUM(CASE (doc_id * 31 + k.g * 7) % 10
                      WHEN 0 THEN 321 WHEN 1 THEN 537 WHEN 2 THEN 873
                      WHEN 3 THEN 545 WHEN 4 THEN 453 WHEN 5 THEN 867
                      WHEN 6 THEN 537 WHEN 7 THEN 665 WHEN 8 THEN 435
                      ELSE 448 END)
                     + (500 + (doc_id % 7) * 100 - 1) * 32
                     FROM generate_series(0, 1099) k(g)
                     WHERE k.g < 500 + (doc_id % 7) * 100) AS BIGINT)
                 AS pixel_sum
        FROM documents WHERE doc_id < 60
        UNION ALL
        -- pdf leg: the extractor's output text reconstructed in closed
        -- form (pages joined by formfeed, lines by newline), pinned via
        -- an md5-prefix bigint; width = n_pages, height = text length
        SELECT 'pdf' AS codec, i AS media_id, np AS width,
               CAST(length(txt) AS INT) AS height,
               CAST(('0x' || substr(md5(txt), 1, 15))::UBIGINT AS BIGINT)
                 AS pixel_sum
        FROM (
          SELECT i, np,
                 string_agg(ptxt, chr(12) ORDER BY p) AS txt
          FROM (
            SELECT i, np, p,
                   string_agg(ln, chr(10) ORDER BY l) AS ptxt
            FROM (
              SELECT d.doc_id AS i,
                     CAST(1 + d.doc_id % 3 AS INT) AS np,
                     p.g AS p, l.g AS l,
                     'Doc ' || d.doc_id || ' page ' || p.g
                       || ' line ' || l.g AS ln
              FROM documents d,
                   generate_series(0, 2) p(g),
                   generate_series(0, 2) l(g)
              WHERE d.doc_id < 60
                AND p.g < 1 + d.doc_id % 3
                AND l.g < 2 + d.doc_id % 2
            ) GROUP BY i, np, p
          ) GROUP BY i, np
        )
    """

    # q48: baseline-JPEG decode of block-constant grayscale images — each
    # 8x8 block decodes to clip(2*floor((v-128)/2 + 0.5) + 128) exactly
    # (DC-only block, Annex-K q00=16, half-up rounding on both sides)
    o["q48_jpeg_decode"] = """
        WITH blocks AS (
          SELECT by.g AS by, bx.g AS bx
          FROM generate_series(0, 1) by(g), generate_series(0, 3) bx(g)
        ),
        ids AS (
          SELECT doc_id AS media_id,
                 CAST(8 * (2 + doc_id % 3) AS INT) AS width,
                 CAST(8 * (1 + doc_id % 2) AS INT) AS height
          FROM documents WHERE doc_id < 150
        ),
        px AS (
          SELECT i.media_id, i.width, i.height,
                 LEAST(255, GREATEST(0,
                   2 * CAST(FLOOR(((i.media_id * 31 + b.by * 17 + b.bx * 7) % 256
                                   - 128) / 2.0 + 0.5) AS BIGINT) + 128)) AS v
          FROM ids i JOIN blocks b
            ON b.by < i.height / 8 AND b.bx < i.width / 8
        )
        SELECT media_id, width, height,
               CAST(SUM(64 * v) AS BIGINT) AS pixel_sum
        FROM px GROUP BY media_id, width, height
    """

    # q68: NBSVM-weighted quality classifier — the full closed-form
    # train (NB log-odds on the even half, label lang='en', min_df 3)
    # + score (tf features joined to the weight table, sigmoid) replayed
    # declaratively; mirrors functions/classifier.py term-for-term
    o["q68_quality_classifier"] = r"""
        WITH tok AS (
          SELECT doc_id, lang = 'en' AS y,
                 list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             t -> t <> '') AS w
          FROM documents
        ),
        uni AS (
          SELECT doc_id, y, w[i] AS term
          FROM tok, UNNEST(generate_series(1, len(w))) AS t(i)
        ),
        bi AS (
          SELECT doc_id, y, w[i] || ' ' || w[i+1] AS term
          FROM tok, UNNEST(generate_series(1, greatest(len(w) - 1, 0)))
               AS t(i)
        ),
        terms AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
        -- MATERIALIZED: DuckDB's binder otherwise inlines the aggregate
        -- CTE into the lateral UNNEST chain and rejects the plan
        cls AS MATERIALIZED (
          SELECT count(*) FILTER (WHERE lang = 'en') AS npos,
                 count(*) FILTER (WHERE lang <> 'en') AS nneg
          FROM documents WHERE doc_id % 2 = 0
        ),
        pres AS (
          SELECT DISTINCT doc_id, y, term FROM terms WHERE doc_id % 2 = 0
        ),
        dfc AS (
          SELECT term,
                 count(*) FILTER (y) AS dfp,
                 count(*) FILTER (NOT y) AS dfn
          FROM pres GROUP BY term HAVING count(*) >= 3
        ),
        wts AS (
          SELECT term,
                 ln((dfp + 1.0) / (npos + 2.0))
                   - ln((dfn + 1.0) / (nneg + 2.0)) AS wt
          FROM dfc CROSS JOIN cls
        ),
        tf AS (
          SELECT doc_id, term, count(*) AS cnt
          FROM terms WHERE doc_id % 2 = 1 GROUP BY doc_id, term
        ),
        tot AS (SELECT doc_id, sum(cnt) AS n FROM tf GROUP BY doc_id),
        feat AS (
          SELECT tf.doc_id, tf.term, tf.cnt / tot.n AS x
          FROM tf JOIN tot USING (doc_id)
        ),
        dot AS (
          SELECT f.doc_id, sum(f.x * w.wt) AS m
          FROM feat f JOIN wts w USING (term) GROUP BY f.doc_id
        ),
        sc AS (
          SELECT d.doc_id,
                 round(1.0 / (1.0 + exp(-(coalesce(dot.m, 0)
                       + ln((cls.npos + 1.0) / (cls.nneg + 1.0))))), 4)
                   AS score
          FROM documents d CROSS JOIN cls
          LEFT JOIN dot ON dot.doc_id = d.doc_id
          WHERE d.doc_id % 2 = 1
        )
        SELECT doc_id, score, score >= 0.5 AS keep FROM sc
    """

    # q50/q51: Gopher-style repetition/shape signals over the same
    # deterministically synthesized multi-line docs as the Spark side
    _synth_sql = """concat_ws(chr(10),
          'Title ' || CAST(doc_id AS VARCHAR),
          substr(text, 1, 600),
          CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 600) END,
          CASE WHEN doc_id % 2 = 1 THEN 'the fox and the dog went to it for a while' END,
          CASE WHEN doc_id % 2 = 0 THEN '- item ' || CAST(doc_id % 5 AS VARCHAR) END,
          CASE WHEN doc_id % 4 = 0 THEN 'to be continued...' END)"""

    def _sig_sql(col: str) -> dict:
        lines = f"string_split({col}, chr(10))"
        words = f"regexp_split_to_array(trim({col}), '\\s+')"
        ws = (
            f"(CASE WHEN trim({col}) = '' THEN 0 ELSE len({words}) END)"
        )
        grams = (
            f"list_transform(generate_series(0, greatest(len({words}) - 3, 0)),"
            f" i -> array_to_string(({words})[i+1:i+3], ' '))"
        )
        return {
            "dup_line_frac": (
                f"CASE WHEN len({lines}) <= 1 THEN 0.0 ELSE "
                f"round(1.0 - len(list_distinct({lines})) / len({lines}), 6) END"
            ),
            "dup_3gram_frac": (
                f"CASE WHEN len({grams}) <= 1 THEN 0.0 ELSE "
                f"round(1.0 - len(list_distinct({grams})) / len({grams}), 6) END"
            ),
            "bullet_frac": (
                f"round(len(list_filter({lines}, ln -> "
                f"regexp_matches(trim(ln), '^[-*•]'))) / "
                f"greatest(len({lines}), 1), 6)"
            ),
            "ellipsis_frac": (
                f"round(len(list_filter({lines}, ln -> "
                f"regexp_matches(rtrim(ln), '(\\.\\.\\.|…)$'))) / "
                f"greatest(len({lines}), 1), 6)"
            ),
            "symbol_word_ratio": (
                f"round(len(regexp_extract_all({col}, '#|\\.\\.\\.')) / "
                f"greatest({ws}, 1), 6)"
            ),
            "ws": ws,
            "mwl": (
                f"round(length(regexp_replace({col}, '\\s+', '', 'g')) / "
                f"greatest({ws}, 1), 6)"
            ),
            "stop_hits": f"len(regexp_extract_all(lower({col}), '{en_pat}'))",
        }

    _s = _sig_sql("synth")
    o["q50_gopher_signals_keep"] = f"""
        WITH s AS (SELECT doc_id, {_synth_sql} AS synth FROM documents)
        SELECT doc_id,
               ({_s['dup_line_frac']})::DOUBLE AS dup_line_frac,
               ({_s['dup_3gram_frac']})::DOUBLE AS dup_3gram_frac,
               ({_s['bullet_frac']})::DOUBLE AS bullet_frac,
               ({_s['ellipsis_frac']})::DOUBLE AS ellipsis_frac,
               ({_s['symbol_word_ratio']})::DOUBLE AS symbol_word_ratio,
               ({_s['ws']} >= 50 AND {_s['ws']} <= 100000
                AND {_s['mwl']} >= 3.0 AND {_s['mwl']} <= 10.0
                AND {_s['symbol_word_ratio']} <= 0.1
                AND {_s['bullet_frac']} <= 0.9
                AND {_s['ellipsis_frac']} <= 0.3
                AND {_s['stop_hits']} >= 2
                AND {_s['dup_line_frac']} <= 0.3
                AND {_s['dup_3gram_frac']} <= 0.18) AS keep
        FROM s
    """

    # q52: paragraph-level dedup — first (doc_id, pos) occurrence per
    # paragraph hash keeps; mirrors the Spark window exactly
    o["q52_paragraph_dedup"] = """
        WITH synth AS (
          SELECT doc_id,
                 concat_ws(chr(10) || chr(10),
                   'Intro for doc ' || CAST(doc_id AS VARCHAR),
                   substr(text, 1, 200),
                   CASE WHEN doc_id % 4 = 0
                        THEN 'Subscribe to our newsletter for updates.' END
                 ) AS text
          FROM documents
        ),
        plists AS (
          SELECT doc_id,
                 list_filter(
                   list_transform(regexp_split_to_array(text, '\\n\\s*\\n'),
                                  p -> trim(p)),
                   p -> p != '') AS plist
          FROM synth
        ),
        paras AS (
          SELECT doc_id, s['pos'] AS para_pos, s['h'] AS para_hash FROM (
            SELECT doc_id,
                   unnest(list_transform(plist,
                     (p, i) -> {'pos': CAST(i - 1 AS BIGINT), 'h': md5(p)})) AS s
            FROM plists)
        )
        SELECT doc_id, para_pos, para_hash,
               ROW_NUMBER() OVER (PARTITION BY para_hash
                                  ORDER BY doc_id ASC, para_pos ASC) = 1 AS keep
        FROM paras
    """

    # q53: the C4 line + page rules over the same synthesized pages
    _c4_line = (
        "(regexp_matches(trim(ln), '[.!?][\"'']?$') "
        "AND len(regexp_split_to_array(trim(ln), '\\s+')) >= 5 "
        "AND NOT contains(lower(trim(ln)), 'javascript'))"
    )
    o["q53_c4_filter"] = f"""
        WITH synth AS (
          SELECT doc_id,
                 concat_ws(chr(10),
                   'This is a proper first sentence with enough words.',
                   'Too short.',
                   CASE WHEN doc_id % 3 = 0
                        THEN 'Enable javascript to view this site properly.' END,
                   CASE WHEN doc_id % 5 = 0
                        THEN 'The config used {{braces}} in doc '
                             || CAST(doc_id AS VARCHAR) || '.' END,
                   CASE WHEN doc_id % 7 = 0
                        THEN 'Generated from a Lorem Ipsum placeholder template.' END,
                   'Another complete sentence follows right here today!',
                   'Does this line also count as a real sentence?',
                   substr(text, 1, 80)
                 ) AS text
          FROM documents
        ),
        c AS (
          SELECT doc_id, text,
                 array_to_string(list_filter(string_split(text, chr(10)),
                                             ln -> {_c4_line}), chr(10)) AS cleaned
          FROM synth
        )
        SELECT doc_id, cleaned,
               (len(regexp_extract_all(cleaned, '[.!?]')) >= 3
                AND NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(text, '{{')) AS keep
        FROM c
    """

    # q54: decode -> nearest-neighbor resize to 12x10 -> re-encode ->
    # decode: out pixel (y,x,c) = gradient(floor(y*h/10), floor(x*w/12), c)
    o["q54_image_resize"] = """
        WITH grid AS (
          SELECT y.g AS y, x.g AS x, c.g AS c
          FROM generate_series(0, 9) y(g),
               generate_series(0, 11) x(g),
               generate_series(0, 2) c(g)
        ),
        ids AS (
          SELECT doc_id AS media_id,
                 CAST(16 + doc_id % 17 AS BIGINT) AS src_w,
                 CAST(16 + doc_id % 13 AS BIGINT) AS src_h
          FROM documents WHERE doc_id < 120
        )
        SELECT i.media_id,
               CAST(12 AS INT) AS width,
               CAST(10 AS INT) AS height,
               CAST(SUM((
                   (g.y * i.src_h) // 10 * 7
                 + (g.x * i.src_w) // 12 * 3
                 + g.c * 31) % 256) AS BIGINT) AS pixel_sum
        FROM ids i CROSS JOIN grid g
        GROUP BY i.media_id
    """

    # q55: GIF — pixel (y,x) index k = (y*7 + x*3 + id) % 256; RGB sum of
    # palette entry k = (k*5)%256 + (k*7)%256 + (k*11)%256
    # q56: PII scrub — RE2 (no lookarounds) versions of the core patterns;
    # the fixtures keep PII clear of adjacent digits/dots where the two
    # pattern families agree
    _email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    _ip_re = (
        "(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}"
        "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    )
    _phone_re = (
        "\\+?[0-9]{1,3}[-. (]?[0-9]{2,4}[-. )]?[0-9]{3,4}[-. ]?[0-9]{3,4}"
    )
    o["q56_pii_redaction"] = f"""
        WITH synth AS (
          SELECT doc_id,
                 concat_ws(' ',
                   substr(text, 1, 60),
                   CASE WHEN doc_id % 2 = 0
                        THEN 'contact user' || CAST(doc_id AS VARCHAR)
                             || '@example-site.org now' END,
                   CASE WHEN doc_id % 3 = 0
                        THEN 'server at 10.0.' || CAST(doc_id % 200 AS VARCHAR)
                             || '.17 responded' END,
                   CASE WHEN doc_id % 5 = 0
                        THEN 'call +1 555-123-4567 today' END,
                   substr(text, 61, 40)
                 ) AS text
          FROM documents
        )
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(text,
                 '{_email_re}', '<EMAIL>', 'g'),
                 '{_ip_re}', '<IP>', 'g'),
                 '{_phone_re}', '<PHONE>', 'g') AS redacted,
               CAST(len(regexp_extract_all(text, '{_email_re}')) AS INT)
                 AS n_emails,
               CAST(len(regexp_extract_all(text, '{_ip_re}')) AS INT) AS n_ips
        FROM synth
    """

    # q57: URL-only quality cut
    o["q57_url_quality_filter"] = """
        WITH u AS (
          SELECT doc_id,
                 'https://' || source || '.example.com/'
                 || CASE WHEN doc_id % 4 = 0
                         THEN 'a/b/c/d/e/f/g/h/i/j/k/l/m/' ELSE 'docs/' END
                 || CASE WHEN doc_id % 5 = 0
                         THEN 'img-' || CAST(doc_id AS VARCHAR) || '.png'
                         WHEN doc_id % 7 = 0
                         THEN 'page-' || CAST(doc_id AS VARCHAR)
                              || '?phpsessid=abc123'
                         ELSE 'doc-' || CAST(doc_id AS VARCHAR) END AS url
          FROM documents
        ),
        p AS (
          SELECT doc_id, url,
                 regexp_extract(url,
                   '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
          FROM u
        )
        SELECT doc_id, url,
               (length(url) <= 512
                AND len(regexp_extract_all(path, '[0-9]'))
                    <= greatest(length(path), 1) * 0.4
                AND NOT regexp_matches(lower(url),
                      '[?&](sessionid|sid|phpsessid|utm_[a-z]+)=')
                AND len(string_split(path, '/')) <= 13
                AND NOT regexp_matches(lower(path),
                      '\\.(jpg|jpeg|png|gif|css|js|zip|exe|dmg|iso)$')) AS keep
        FROM p
    """

    # strict 13-gram membership: sub-13-word texts emit NO n-grams on
    # either engine (shingles(strict=True) <-> generate_series hits an
    # empty range). Normalization: lower + whitespace-collapse + trim.
    o["q58_decontaminate"] = r"""
        WITH bw AS (
          SELECT string_split(
                   trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
          FROM documents WHERE doc_id % 17 = 0
        ),
        bn AS (
          SELECT DISTINCT array_to_string(w[i:i+12], ' ') AS ngram
          FROM bw, UNNEST(generate_series(1, greatest(len(w) - 12, 0))) AS t(i)
          WHERE len(w) >= 13
        ),
        cw AS (
          SELECT doc_id,
                 string_split(
                   trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
          FROM documents
        ),
        cn AS (
          SELECT DISTINCT doc_id, array_to_string(w[i:i+12], ' ') AS ngram
          FROM cw, UNNEST(generate_series(1, greatest(len(w) - 12, 0))) AS t(i)
          WHERE len(w) >= 13
        ),
        hits AS (
          SELECT cn.doc_id, count(*) AS contam_hits
          FROM cn JOIN bn USING (ngram)
          WHERE cn.ngram <> ''
          GROUP BY cn.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(h.contam_hits, 0) AS BIGINT) AS contam_hits,
               coalesce(h.contam_hits, 0) <= 0 AS keep
        FROM documents d LEFT JOIN hits h USING (doc_id)
    """

    o["q59_cap_per_group"] = """
        WITH g AS (
          SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                 CASE WHEN doc_id % 4 = 0 THEN 'mega' ELSE source END AS grp
          FROM documents
        ),
        r AS (
          SELECT grp, doc_id, n_chars,
                 ROW_NUMBER() OVER (
                   PARTITION BY grp ORDER BY n_chars DESC, doc_id) AS rn
          FROM g
        )
        SELECT grp, doc_id, n_chars FROM r WHERE rn <= 20
    """

    # connected components as a recursive min-label closure: reach holds
    # every (node, reachable-node) pair, min over labels = the component
    # minimum — exactly the star roots the alternating large-star/
    # small-star fixpoint produces on the Spark side
    o["q60_dedup_clusters"] = f"""
        WITH RECURSIVE d AS (
          SELECT doc_id, content FROM ({_DUP}) WHERE doc_id % 5 = 0
        ),
        sh AS (SELECT DISTINCT doc_id, sh FROM ({_SHINGLES})),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        ),
        jp AS (
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8
        ),
        bridge AS (
          SELECT a.doc_id AS id_a, a.doc_id + 30 AS id_b
          FROM d a JOIN d b ON b.doc_id = a.doc_id + 30
          WHERE a.doc_id % 30 = 0
        ),
        pairs AS (SELECT id_a, id_b FROM jp UNION SELECT id_a, id_b FROM bridge),
        edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ),
        reach(node, lab) AS (
          SELECT u, u FROM edges
          UNION
          SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
        )
        SELECT CAST(node AS BIGINT) AS node,
               CAST(min(lab) AS BIGINT) AS component
        FROM reach GROUP BY node
    """

    # deterministic hash sampling: the oracle recomputes the md5-hex
    # uniform variate digit-by-digit (strpos arithmetic — the same
    # formulation pinned by tests/test_sampling.py), so the keep set and
    # the split labels are value-exact, not just count-plausible
    _uvar = lambda salt: (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr(md5('{salt}:' || doc_id), {i + 1}, 1)) - 1)"
            f" * {16 ** (7 - i)}"
            for i in range(8)
        )
        + ") / 4294967296.0"
    )
    # DSIR leg (round-5 promotion): the full pipeline — hashed
    # unigram+bigram terms, Laplace-smoothed densified models over
    # B=512 md5 buckets, per-doc log importance weight, Gumbel-top-k
    # with the same md5 hash-uniform noise — recomputed in SQL
    _hex8 = lambda h: (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
            f" * {16 ** (7 - i)}"
            for i in range(8)
        )
        + ")"
    )
    _DSIR_B = 512
    _dsir_terms = f"""
        SELECT doc_id AS id, ({_hex8('md5(g)')}) % {_DSIR_B} AS bucket,
               count(*) AS cnt
        FROM (
          SELECT doc_id,
                 list_concat(
                   words,
                   list_transform(range(1, len(words)),
                                  i -> words[i] || ' ' || words[i+1])
                 ) AS grams
          FROM (SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+') AS words
                FROM {{tbl}}
                WHERE trim(coalesce(text, '')) <> '')
        ), unnest(grams) AS t(g)
        GROUP BY doc_id, bucket
    """
    _dsir_model = f"""
        SELECT b.bucket,
               ln((coalesce(c.n, 0) + 1.0) / (t.total + 1.0 * {_DSIR_B})) AS logp
        FROM (SELECT unnest(range({_DSIR_B})) AS bucket) b
        LEFT JOIN (SELECT bucket, sum(cnt) AS n
                   FROM ({{terms}}) GROUP BY bucket) c USING (bucket)
        CROSS JOIN (SELECT coalesce(sum(cnt), 0) AS total
                    FROM ({{terms}})) t
    """
    _raw_terms = _dsir_terms.replace("{tbl}", "documents")
    _tgt_terms = _dsir_terms.replace(
        "{tbl}", "(SELECT * FROM documents WHERE doc_id % 7 = 0)"
    )
    o["q61_sample_split"] = f"""
        SELECT doc_id, source,
          CASE WHEN {_uvar("eval")} < 0.1 THEN 'holdout' ELSE 'train' END AS split
        FROM documents
        WHERE {_uvar("mix")} <
          CASE source WHEN 'src0' THEN 0.9 WHEN 'src1' THEN 0.5
                      WHEN 'src2' THEN 0.0 ELSE 0.3 END
        UNION ALL
        SELECT doc_id, 'dsir' AS source, 'selected' AS split
        FROM (
          WITH rawm AS ({_dsir_model.replace("{terms}", _raw_terms)}),
               tgtm AS ({_dsir_model.replace("{terms}", _tgt_terms)}),
               w AS (
                 SELECT d.doc_id, coalesce(s.lw, 0.0) AS logweight
                 FROM documents d
                 LEFT JOIN (
                   SELECT t.id AS doc_id,
                          sum(t.cnt * (tm.logp - rm.logp)) AS lw
                   FROM ({_raw_terms}) t
                   JOIN tgtm tm USING (bucket)
                   JOIN rawm rm USING (bucket)
                   GROUP BY t.id
                 ) s ON d.doc_id = s.doc_id
               )
          SELECT doc_id,
                 logweight - ln(-ln({_uvar("dsir")})) AS gumbel
          FROM w
          ORDER BY gumbel DESC, doc_id LIMIT 120
        )
    """

    # stupid-backoff bigram LM recomputed end-to-end in SQL: count
    # tables from the padded token stream of the training subset, then
    # the same join-formulation scoring the Spark pipeline compiles to
    _PAD = (
        "list_concat(['<s>'], list_concat("
        "COALESCE(regexp_split_to_array(NULLIF(trim(lower(text)), ''), '\\s+'), []),"
        " ['</s>']))"
    )
    o["q62_lm_logprob"] = f"""
        WITH tr AS (
          SELECT {_PAD} AS t FROM documents WHERE doc_id % 4 < 3
        ),
        uni AS (
          SELECT tk AS gram, count(*) AS cnt
          FROM tr, unnest(t) AS u(tk) GROUP BY tk
        ),
        bi AS (
          SELECT t[i] || ' ' || t[i+1] AS gram, count(*) AS cnt
          FROM tr, unnest(range(1, len(t))) AS u(i) GROUP BY 1
        ),
        tot AS (SELECT sum(cnt) AS n FROM uni),
        sc AS (SELECT doc_id, {_PAD} AS t FROM documents),
        pos AS (
          SELECT doc_id, t[i] AS w, t[i-1] AS ctx
          FROM sc, unnest(range(2, len(t) + 1)) AS u(i)
        ),
        joined AS (
          SELECT p.doc_id,
            CASE WHEN b.cnt IS NOT NULL
                 THEN b.cnt::DOUBLE / cu.cnt::DOUBLE
                 ELSE 0.4 * (COALESCE(u.cnt, 1)::DOUBLE / (SELECT n FROM tot))
            END AS s
          FROM pos p
          LEFT JOIN bi b ON b.gram = p.ctx || ' ' || p.w
          LEFT JOIN uni cu ON cu.gram = p.ctx
          LEFT JOIN uni u ON u.gram = p.w
        )
        SELECT doc_id, count(*) AS n_scored,
               avg(log10(s)) AS logprob_per_token
        FROM joined GROUP BY doc_id
    """

    # ExactSubstr windowed dedup rebuilt end-to-end in SQL: the same
    # planted boilerplates, window hashing (md5 of the 0x1F-joined
    # 15-token slice), corpus-wide dup counting, and per-token coverage
    # via a correlated EXISTS range test (the set-union equivalent of
    # the engine's merged-interval splice)
    _B1 = (
        "scan filter join agg sort table query data line fast slow "
        "big key column index merge group order limit page"
    )
    _B2 = (
        "crawl fetch parse chunk convert embed dedup rank score clean "
        "split token shard batch cache store emit flush"
    )
    o["q63_substring_dedup"] = f"""
        WITH base AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 1 THEN '{_B2} ' ELSE '' END ||
                 text ||
                 CASE WHEN doc_id % 3 = 0 THEN ' {_B1}' ELSE '' END AS t
          FROM documents
        ),
        tok AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(t), '\\s+'),
                             x -> x <> '') AS toks
          FROM base
        ),
        win AS (
          SELECT doc_id, CAST(i AS INT) AS s,
                 md5(array_to_string(toks[i+1 : i+15], chr(31))) AS whash
          FROM tok, UNNEST(range(len(toks) - 15 + 1)) u(i)
          WHERE len(toks) >= 15
        ),
        dup AS (SELECT whash FROM win GROUP BY whash HAVING count(*) > 1),
        ds AS (SELECT w.doc_id, w.s FROM win w JOIN dup USING (whash)),
        ti AS (
          SELECT doc_id, CAST(i AS INT) AS i, toks[i+1] AS tok
          FROM tok, UNNEST(range(len(toks))) u(i)
        ),
        marked AS (
          SELECT t.doc_id, t.i, t.tok,
                 EXISTS (SELECT 1 FROM ds d WHERE d.doc_id = t.doc_id
                         AND d.s <= t.i AND t.i < d.s + 15) AS rm
          FROM ti t
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS total_tokens,
               CAST(coalesce(sum(CASE WHEN rm THEN 1 END), 0) AS BIGINT)
                 AS removed_tokens,
               md5(coalesce(string_agg(CASE WHEN NOT rm THEN tok END, ' '
                 ORDER BY i), '')) AS kept_md5
        FROM marked GROUP BY doc_id
    """

    # q64: Crawl-delay cap — exact by prefix composition, so the oracle
    # is one window over the whole frontier with the per-host limit
    # min(budget=5, b_h): delay 2.5 -> b_h=4, delay 0.5 -> b_h=5, none -> 5
    o["q64_crawl_delay_cap"] = """
        WITH f AS (
          SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) AS host,
                 'https://h' || CAST(doc_id % 37 AS VARCHAR) ||
                   '.example/p' || CAST(doc_id AS VARCHAR) AS canon_url,
                 CAST(doc_id % 3 AS INT) AS depth,
                 CAST(doc_id % 7 AS DOUBLE) AS priority,
                 doc_id % 37 AS hn
          FROM documents
        ),
        ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY host ORDER BY depth ASC, priority DESC, canon_url ASC
          ) AS rn FROM f
        )
        SELECT host, canon_url, depth, priority FROM ranked
        WHERE rn <= CASE WHEN hn % 4 = 0 THEN 4 ELSE 5 END
    """

    # q65: rel=canonical dedup — the gate's synthetic HTML carries
    # absolute first-only canonical links, so the declared target is a
    # closed form; keep rule = min(struct(not_self, url)) per target,
    # mirrored as a min over the '0'/'1'-prefixed url key
    o["q65_canonical_dedup"] = """
        WITH d AS (
          SELECT doc_id,
                 'https://c.example/p' || CAST(doc_id AS VARCHAR) AS url,
                 CASE
                   WHEN doc_id % 3 = 0 THEN
                     CASE WHEN doc_id % 12 = 0
                          THEN 'https://c.example/q' || CAST(doc_id AS VARCHAR)
                     END
                   ELSE 'https://c.example/p' ||
                        CAST(doc_id - doc_id % 3 AS VARCHAR)
                 END AS declared
          FROM documents
        ),
        keyed AS (
          SELECT doc_id, url,
                 coalesce(declared, url) AS canonical_target,
                 (CASE WHEN url = coalesce(declared, url)
                       THEN '0' ELSE '1' END) || url AS k
          FROM d
        ),
        keep AS (
          SELECT canonical_target AS tgt, min(k) AS mk
          FROM keyed GROUP BY canonical_target
        )
        SELECT doc_id, url, canonical_target
        FROM keyed JOIN keep ON canonical_target = tgt AND k = mk
    """

    # q66: fuzzy-dedup keep set — the oracle rebuilds the full pipeline
    # (8-lane minhash, 4-band LSH candidates, exact-Jaccard verify,
    # recursive-CTE connected components, min-id representative)
    o["q66_near_dedup_keep"] = f"""
        WITH RECURSIVE d AS (
          SELECT doc_id, content FROM ({_DUP}) WHERE doc_id % 5 = 0
        ),
        sh AS ({_SHINGLES}),
        sigs AS (
          SELECT doc_id, {mh_lanes}
          FROM sh GROUP BY doc_id
        ),
        banded AS (SELECT *, {band_defs} FROM sigs),
        buckets AS (
          SELECT doc_id,
                 unnest([band_0, band_1, band_2, band_3]) AS bucket
          FROM banded
        ),
        cand AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM buckets l JOIN buckets r
            ON l.bucket = r.bucket AND l.doc_id < r.doc_id
        ),
        dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id),
        inter AS (
          SELECT c.id_a, c.id_b, count(*) AS n_inter
          FROM cand c
          JOIN dsh a ON a.doc_id = c.id_a
          JOIN dsh b ON b.doc_id = c.id_b AND a.sh = b.sh
          GROUP BY c.id_a, c.id_b
        ),
        verified AS (
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
        ),
        edges AS (
          SELECT id_a AS u, id_b AS v FROM verified
          UNION SELECT id_b, id_a FROM verified
        ),
        reach(node, lab) AS (
          SELECT u, u FROM edges
          UNION
          SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
        ),
        comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
        SELECT CAST(doc_id AS BIGINT) AS doc_id, md5(content) AS content_md5
        FROM d
        WHERE doc_id NOT IN (SELECT node FROM comp WHERE node != component)
    """

    # q67_pack_sequences: rows-only by design (first-fit-decreasing is
    # inherently sequential — each placement depends on every prior one,
    # outside SQL's term algebra); the exact assignment is pinned by
    # tests/test_packing.py instead.

    return o
