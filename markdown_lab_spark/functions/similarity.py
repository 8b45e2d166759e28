"""Similarity search over embedding columns (array<float>).

- ``cosine_similarity_col`` / ``sign_bucket_col``: the column expressions
  the brute-force and sign-LSH top-k queries build on. Dot products run
  as JVM higher-order functions (zip_with + aggregate), so the scan is
  whole-stage-codegen'd; no Python.
- ``ivf_topk``: the scale path — probe the query's nearest IVF cells
  (``ivf_assign``, optionally over ``kmeans_train_centroids``) and score
  only their members.
- ``semdedup_pairs`` / ``semdedup_keep``: SemDedup within IVF cells.

Scores are rounded to 4 decimals and ties broken by vec_id so results are
deterministic and hash-comparable against the DuckDB oracle despite float
summation-order differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def sign_bucket_col(vec_col, bits: int = 8):
    """Sign-LSH bucket: concatenated signs of the first ``bits`` dims."""
    return F.concat(
        *[
            F.when(F.element_at(vec_col, d + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for d in range(bits)
        ]
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cid",
    cent_vec: str = "cvec",
) -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine (ties -> lowest cid).

    The scale path sign-LSH can't offer: centroids live IN the data
    distribution, so cells stay balanced even when embeddings are not
    zero-centered per dimension (the round-1 axis-bucket failure mode).
    Plan: one broadcast of the (tiny) centroid set, one groupBy on the
    vector id with a max(struct) — the deterministic argmax. At corpus
    scale the emitted ``cell`` becomes the table's partition key, so a
    query touches nprobe partitions instead of the full corpus.
    """
    sim = cosine_similarity_col(F.col(vec_col), F.col(cent_vec))
    return (
        embeddings.crossJoin(F.broadcast(centroids))
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(sim.alias("s"), (-F.col(cent_id)).alias("nc"))
            ).alias("b")
        )
        .select(F.col(id_col), (-F.col("b.nc")).cast("long").alias("cell"))
    )


def ivf_topk(
    embeddings: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: probe the query's ``nprobe`` nearest cells,
    exact-score only their members, rank the survivors window-free.

    ``centroids``: (cid, cvec) rows (deterministic seed vectors or an
    offline k-means output); ``query``: one row with ``qv``.
    Returns (vec_id, cos_sim, rank).
    """
    from .topk import ranked_topk  # noqa: PLC0415

    cells = ivf_assign(embeddings, centroids, id_col, vec_col)
    probe = (
        centroids.crossJoin(F.broadcast(query))
        .select(
            F.col("cid").cast("long").alias("cell"),
            cosine_similarity_col(F.col("cvec"), F.col("qv")).alias("_cs"),
        )
        .orderBy(F.desc("_cs"), F.asc("cell"))
        .limit(nprobe)
        .select("cell")
    )
    cand_ids = cells.join(F.broadcast(probe), on="cell", how="inner").select(id_col)
    scored = (
        embeddings.join(cand_ids, on=id_col, how="inner")
        .crossJoin(F.broadcast(query))
        .select(
            id_col,
            F.round(
                cosine_similarity_col(F.col(vec_col), F.col("qv")), 4
            ).alias("cos_sim"),
        )
    )
    return ranked_topk(
        scored, k, [(F.col("cos_sim"), True), (F.col(id_col), False)]
    )


def kmeans_train_centroids(
    embeddings: DataFrame,
    k: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd's k-means producing the IVF centroid table
    (cid, cvec) — the offline training step ivf_topk's docstring assumes.

    Spark-first shape, per iteration:
      1. assignment — ``ivf_assign``'s broadcast-crossJoin argmax (the
         centroid set is k rows; the corpus is never shuffled for it);
      2. update — ONE groupBy(cell) with ``array_agg``-free vectorized
         mean: posexplode the vectors, avg per (cell, dim), rebuild the
         array ordered by dim. Two shuffles per iteration total, both on
         small keys; no driver-side loops over rows.

    Initialization is deterministic: the k lowest ids (sorted) seed the
    centroids, so results are reproducible across runs/cluster sizes.
    Empty cells keep their previous centroid (standard Lloyd fallback).
    """
    # seed: the k lowest ids. Collecting k rows to the driver is the
    # standard (and bounded) k-means shape — the centroid table must be
    # broadcast every iteration anyway; no partition-less window needed.
    seed_rows = (
        embeddings.orderBy(F.asc(id_col)).limit(k).select(id_col, vec_col).collect()
    )
    spark = embeddings.sparkSession
    cents = spark.createDataFrame(
        [(i + 1, [float(x) for x in r[vec_col]]) for i, r in enumerate(seed_rows)],
        "cid long, cvec array<float>",
    )
    for _ in range(iters):
        assigned = ivf_assign(embeddings, cents, id_col, vec_col).join(
            embeddings, on=id_col
        )
        # per-(cell, dim) mean, rebuilt into an ordered array
        dims = assigned.select(
            F.col("cell"),
            F.posexplode(F.col(vec_col)).alias("dim", "x"),
        )
        means = (
            dims.groupBy("cell", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "m"))
                    ),
                    lambda s: s["m"].cast("float"),
                ).alias("new_cvec")
            )
        )
        # empty cells keep the previous centroid. localCheckpoint: cents
        # is referenced twice per iteration (assignment + this coalesce
        # join), so without truncation the logical plan doubles each
        # iteration — the same iterative-algorithm trap pagerank() guards
        # against. k rows, so the checkpoint is trivially cheap.
        cents = (
            cents.join(means, cents.cid == means.cell, "left")
            .select(
                "cid",
                F.coalesce(F.col("new_cvec"), F.col("cvec")).alias("cvec"),
            )
            .localCheckpoint()
        )
    return cents


# ---------------------------------------------------------------------------
# SemDedup — semantic deduplication (Abbas et al. 2023, arXiv 2303.09540)
# ---------------------------------------------------------------------------


def semdedup_pairs(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """(id_a, id_b, cos, cell): within-cluster semantic-duplicate pairs —
    the SemDedup candidate structure. Every vector is assigned to its
    nearest centroid (``ivf_assign``: broadcast argmax, corpus never
    shuffled for the centroid side), then pairs are generated ONLY
    within a cell via an equi-join on the cell id; ``id_a < id_b``
    halves the candidate set and cosine >= ``threshold`` keeps true
    near-duplicates (the paper's 1 - eps).

    Scale: the method's published complexity — O(sum_i c_i^2) over cell
    sizes c_i instead of O(n^2); with k chosen so E[c] = n/k is bounded
    (the paper uses ~11k clusters for 233M docs), each cell's quadratic
    term fits one task. Skew posture: a degenerate embedding mass that
    collapses many vectors into one cell makes that cell's join
    quadratic — raise k, or pre-split hot cells with the banded
    `dedup.embedding_neardup_pairs_banded` pair generator, which
    composes with the same downstream cluster resolution."""
    if not -1.0 <= threshold <= 1.0:
        raise ValueError("threshold must be in [-1, 1]")
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
    vecs = embeddings.select(id_col, vec_col).join(assigned, id_col)
    a = vecs.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), "cell"
    )
    b = vecs.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), "cell"
    )
    return (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_similarity_col(F.col("_va"), F.col("_vb")).alias("cos"),
            "cell",
        )
        .where(F.col("cos") >= F.lit(float(threshold)))
    )


def semdedup_keep(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    threshold: float = 0.95,
    centroids: DataFrame | None = None,
    iters: int = 5,
    max_rounds: int = 25,
) -> DataFrame:
    """SemDedup end-to-end: k-means cluster the embeddings (or take
    ``centroids`` as given), form within-cluster pairs at cosine >=
    ``threshold``, resolve duplicate GROUPS as connected components
    (similarity chains the pair list never states directly), and keep
    one representative per group — per the paper's keep rule, the member
    with the LOWEST cosine to its cluster centroid (the group's outlier,
    which maximizes retained diversity), ties broken by id. Rows in no
    duplicate group pass through untouched.

    Plan: pair generation is cell-local (above); the keep rule is one
    partial-agg ``min(struct(cos_to_centroid, id))`` per component plus
    a join-back; the final cut is a left_anti against the (small)
    dropped-id set. No Window anywhere."""
    from .dedup import connected_components  # noqa: PLC0415 (one-way dep)

    if centroids is None:
        centroids = kmeans_train_centroids(
            embeddings, k, iters=iters, id_col=id_col, vec_col=vec_col
        ).localCheckpoint()
    pairs = semdedup_pairs(embeddings, centroids, id_col, vec_col, threshold)
    cc = connected_components(pairs, "id_a", "id_b", max_rounds)

    # cosine of every grouped member to ITS OWN cluster centroid
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
    cents = centroids.select(
        F.col("cid").alias("cell"), F.col("cvec").alias("_cv")
    )
    member_cos = (
        embeddings.select(id_col, vec_col)
        .join(assigned, id_col)
        .join(F.broadcast(cents), "cell")
        .select(
            F.col(id_col).alias("node"),
            cosine_similarity_col(F.col(vec_col), F.col("_cv")).alias("_cc"),
        )
    )
    members = cc.join(member_cos, "node")
    keep = (
        members.groupBy("component")
        .agg(F.min(F.struct(F.col("_cc"), F.col("node"))).alias("_k"))
        .select(F.col("_k.node").alias("_keep"))
    )
    drop = (
        members.join(keep, members.node == keep._keep, "left_anti")
        .select(F.col("node").alias(id_col))
    )
    return embeddings.join(drop, on=id_col, how="left_anti")
