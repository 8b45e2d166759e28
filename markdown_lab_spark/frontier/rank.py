"""Link-graph PageRank for frontier prioritization.

The reference orders its frontier by link-discovery depth (the
politeness queues' ``depth ASC, priority DESC``); at web scale the
``priority`` column itself needs a principled source. This module
computes it from the crawl's OWN link graph (the per-wave
``(src, dst)`` edges the engine already extracts) with the classic
damped power iteration (Page et al. 1999 / the standard Spark example
shape), expressed as DataFrame ops so Catalyst handles the physical
strategy:

- per iteration: ONE equi-join of ranks with the out-degree-weighted
  edge list (both sides partitioned by the same key, so AQE reuses the
  exchange), one groupBy(dst) sum — partial aggregation absorbs the
  in-degree skew of popular pages the same way paragraph_dedup's agg
  absorbs boilerplate skew;
- dangling nodes (no out-links) redistribute uniformly via one scalar
  aggregate per iteration (a broadcast-sized value, not a join);
- iterations are bounded and each materializes nothing driver-side.

At 10^10 edges the join is the dominant shuffle; pre-partitioning both
``ranks`` and ``edges`` by src (bucketed tables at warehouse scale) makes
every iteration's join exchange-free on the static edge side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, rank) over the directed edge list, sum(rank) == n_nodes.

    Deterministic: no sampling, no floating-point-order dependence
    beyond Spark's usual aggregate reassociation (values are summed
    per-dst; at test scale the sums are exact to ~1e-12).
    """
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # empty edge list (a crawl whose docs discovered no http links):
        # return an empty (node, rank) frame rather than dividing by zero
        return nodes.withColumn("rank", F.lit(1.0))
    out_deg = edges.groupBy(src_col).agg(F.count("*").alias("out_deg"))
    # static per-iteration join input: each edge carries 1/out_deg(src).
    # Dangling nodes (no out-edges) get ONE synthetic full-weight edge
    # tagged `_dangling`, so the tagged contribs aggregation below also
    # produces the dangling mass: ONE action per iteration (the rank
    # checkpoint) instead of a driver-side collect() round-trip. The
    # scalar reaches every row as an automatic 1-row broadcast build
    # (a sub-job of the same action); the `_dangling` filters push below
    # each aggregation, so the two legs shuffle DISJOINT row subsets —
    # the dangling leg only ever moves the tagged rows.
    weighted = edges.join(out_deg, on=src_col).select(
        F.col(src_col).alias("node"),
        F.col(dst_col).alias("dst"),
        (F.lit(1.0) / F.col("out_deg")).alias("w"),
        F.lit(False).alias("_dangling"),
    )
    dangling_nodes = nodes.join(
        out_deg.withColumnRenamed(src_col, "node"), on="node", how="left_anti"
    )
    weighted = weighted.unionByName(
        dangling_nodes.select(
            "node",
            F.col("node").alias("dst"),
            F.lit(1.0).alias("w"),
            F.lit(True).alias("_dangling"),
        )
    ).localCheckpoint()  # static across iterations
    ranks = nodes.withColumn("rank", F.lit(1.0)).localCheckpoint()
    for _ in range(iters):
        contribs = (
            ranks.join(weighted, on="node", how="inner")
            .groupBy("dst", "_dangling")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        # dangling mass: the tagged rows' total, redistributed uniformly.
        # A 1-row aggregate cross-joined back in (broadcast) — part of
        # the SAME action as the rank update; no user-level collect.
        dang = contribs.filter(F.col("_dangling")).agg(
            F.coalesce(F.sum("contrib"), F.lit(0.0)).alias("_dm")
        )
        real = contribs.filter(~F.col("_dangling")).drop("_dangling")
        ranks = (
            nodes.join(real, nodes.node == real.dst, "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.col("_dm") / F.lit(float(n_nodes))
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
            # truncate lineage: without this each iteration's plan embeds
            # the whole previous chain and analysis cost grows
            # exponentially (the standard Spark iterative-algorithm trap)
            .localCheckpoint()
        )
    return ranks


def host_pagerank_priorities(
    links: DataFrame,
    iters: int = 5,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """(host, priority in [0.5, 1]) — host-graph PageRank scaled into the
    frontier's ``priority`` column domain (politeness orders by
    ``priority DESC``). Host-level (not URL-level) because the frontier
    partitions by host anyway, so one rank per host is both cheaper by
    ~3 orders of magnitude and exactly the granularity the politeness
    scheduler consumes.

    The scale is anchored AT the 0.5 default that hosts absent from the
    priorities table keep (``priority = 0.5 + 0.5 * minmax(rank)``):
    being ranked at all is in-link evidence, so a ranked host never sinks
    below an unranked one under ``wave_fetch_cap``, and a degenerate
    all-equal rank distribution maps to exactly the 0.5 default rather
    than to 0.0. An empty link graph yields an empty priorities table
    (every host keeps the default)."""
    pr = pagerank(links, iters=iters, src_col=src_col, dst_col=dst_col)
    lohi = pr.agg(
        F.min("rank").alias("lo"), F.max("rank").alias("hi")
    ).collect()[0]
    if lohi["hi"] is None:  # empty graph
        return pr.select(F.col("node").alias("host"), F.col("rank").alias("priority"))
    span = (lohi["hi"] - lohi["lo"]) or 1.0
    return pr.select(
        F.col("node").alias("host"),
        (
            F.lit(0.5)
            + F.lit(0.5) * (F.col("rank") - F.lit(lohi["lo"])) / F.lit(span)
        ).alias("priority"),
    )


def host_edges_from_docs(docs: DataFrame) -> DataFrame:
    """(src_host, dst_host) edge list from a crawl's docs output (the
    per-wave ``links`` arrays the engine already extracts) — the input
    ``pagerank`` wants for the next crawl's priorities. Distinct at host
    granularity, so the result is tiny relative to the URL-level graph."""
    from ..functions.udfs import domain_col, normalize_url_col  # noqa: PLC0415

    return (
        docs.select(
            F.col("host").alias("src_host"), F.explode("links").alias("link")
        )
        .filter(F.col("link").rlike(r"^https?://[^/\s]+"))
        .select(
            "src_host",
            domain_col(normalize_url_col(F.col("link"))).alias("dst_host"),
        )
        .filter(F.col("dst_host") != "")
        .distinct()
    )
