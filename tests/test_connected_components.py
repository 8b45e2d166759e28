"""Duplicate-cluster resolution: connected_components + dedup_near_duplicates.

Reference oracle is a sequential union-find (path compression + union by
root id keeps the canonical min-id label), cross-checked on hand-built
topologies, seeded random graphs, and a DuckDB recursive-CTE twin (the
same formulation the q60 driver gate uses).

Every graph here fits the driver-side finish, so each case also runs in
``TestForcedLoop`` with ``_LOCAL_EDGES = 0``: the star-contraction loop
then runs to its fixpoint and must give the same labels.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from markdown_lab_spark.functions import dedup
from markdown_lab_spark.functions.dedup import (
    connected_components,
    dedup_near_duplicates,
)


@pytest.fixture
def forced_loop(monkeypatch):
    """Switch the local finish off: only the round loop labels."""
    monkeypatch.setattr(dedup, "_LOCAL_EDGES", 0)


def uf_components(pairs):
    """Sequential union-find reference: {node: min-id of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by id so the root IS the min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def spark_components(spark, pairs):
    if not pairs:
        df = spark.createDataFrame([], "id_a long, id_b long")
    else:
        df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    out = connected_components(df, "id_a", "id_b")
    rows = out.collect()
    labels = {r["node"]: r["component"] for r in rows}
    assert len(labels) == len(rows), "a node was labeled twice"
    return labels


def test_empty_pairs(spark):
    assert spark_components(spark, []) == {}


def test_single_pair_and_self_loop(spark):
    assert spark_components(spark, [(2, 1), (3, 3)]) == {1: 1, 2: 1}


def test_long_path_converges(spark):
    # a 120-node path is the adversarial case for naive min-propagation
    # (it needs O(diameter) rounds); star-contraction needs O(log)
    pairs = [(i, i + 1) for i in range(120)]
    labels = spark_components(spark, pairs)
    assert set(labels.values()) == {0}
    assert len(labels) == 121


def test_cliques_bridges_and_isolated_edge(spark):
    pairs = (
        [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]  # clique
        + [(20, 21), (21, 22)]  # path
        + [(13, 20)]  # bridge joins them
        + [(40, 41)]  # separate component
    )
    labels = spark_components(spark, pairs)
    assert uf_components(pairs) == labels
    assert labels[40] == 40 and labels[22] == 10


def test_string_ids(spark):
    pairs = [("b", "a"), ("c", "b"), ("zz", "y")]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    labels = {
        r["node"]: r["component"]
        for r in connected_components(df, "id_a", "id_b").collect()
    }
    assert labels == {"a": "a", "b": "a", "c": "a", "y": "y", "zz": "y"}


@pytest.mark.parametrize("seed,n,m", [(7, 60, 30), (11, 200, 150), (13, 500, 520)])
def test_random_graphs_match_union_find(spark, seed, n, m):
    rng = random.Random(seed)
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    pairs = [(a, b) for a, b in pairs if a != b]
    assert spark_components(spark, pairs) == uf_components(pairs)


def test_matches_duckdb_recursive_cte(spark):
    # the q60 gate's oracle formulation, on an independent random graph
    rng = random.Random(23)
    pairs = sorted({(a, b) for a, b in ((rng.randrange(80), rng.randrange(80)) for _ in range(70)) if a != b})
    con = duckdb.connect()
    con.execute("CREATE TABLE p (a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    oracle = dict(
        con.execute(
            """
            WITH RECURSIVE edges AS (
              SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p
            ),
            reach(node, lab) AS (
              SELECT u, u FROM edges
              UNION
              SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
            )
            SELECT node, min(lab) FROM reach GROUP BY node
            """
        ).fetchall()
    )
    assert spark_components(spark, pairs) == oracle


def test_dedup_keeps_min_id_per_cluster_and_passes_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(12)], ["doc_id", "text"]
    )
    # clusters {1,2,3} (chain) and {7,9}; 0,4,5,6,8,10,11 untouched
    pairs = spark.createDataFrame(
        [(2, 1), (3, 2), (9, 7)], ["id_a", "id_b"]
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_near_duplicates(docs, "doc_id", pairs).collect()
    )
    assert kept == [0, 1, 4, 5, 6, 7, 8, 10, 11]


def test_nonconvergence_raises(spark, forced_loop):
    # only the round loop can exhaust max_rounds: a graph that fits the
    # local finish is labelled whatever the round budget
    df = spark.createDataFrame([(i, i + 1) for i in range(40)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(df, "id_a", "id_b", max_rounds=1)


def test_near_dedup_keep_collapses_transitive_chain(spark):
    """End-to-end fuzzy dedup (minhash -> LSH candidates -> exact-Jaccard
    verify -> connected components -> keep min-id): a sliding-window
    chain where only ADJACENT docs clear the Jaccard threshold must
    still collapse to ONE representative — the transitivity only the
    component step provides ("keep one per pair" would keep every other
    doc)."""
    from markdown_lab_spark.functions.dedup import near_dedup_keep

    words = [f"w{i}" for i in range(200)]
    rows = [
        (i, " ".join(words[i * 4 : i * 4 + 40]))  # stride 4, window 40
        for i in range(6)
    ]
    rows.append((50, " ".join(f"z{i}" for i in range(40))))  # unrelated
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # bands=8 (2 rows/band): ~0.9997 candidate recall at J=0.8 — at 4-row
    # bands one adjacent pair deterministically misses banding (md5 lanes
    # are fixed), which is the LSH recall/precision dial, not a bug
    kept = sorted(
        r["doc_id"]
        for r in near_dedup_keep(
            df, "doc_id", "text", k=16, bands=8, min_jaccard=0.8
        ).collect()
    )
    assert kept == [0, 50]
    # sanity on the premise: adjacent pairs verify, skip-pairs don't
    from markdown_lab_spark.functions.dedup import ngram_jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.8).collect()
    }
    assert (0, 1) in pairs and (0, 2) not in pairs


def test_hub_skew_and_long_path_drill(spark):
    """Scale-shape drill: a 10k-leaf hub (in-neighborhood skew absorbed
    by the partial-agg min) bridged to a 500-node path (log-round star
    contraction). One component, labels match union-find, and the
    default round budget is not exhausted."""
    hub = [(0, i) for i in range(1, 10_001)]
    path = [(10_000 + i, 10_001 + i) for i in range(500)]
    bridge = [(10_000, 0)]
    pairs = hub + path + bridge
    labels = spark_components(spark, pairs)
    assert set(labels.values()) == {0}
    assert len(labels) == 10_501  # nodes 0..10500
    assert uf_components(pairs) == labels


@pytest.mark.usefixtures("forced_loop")
class TestForcedLoop:
    """The cases above on the round loop alone (test_nonconvergence_raises
    forces it already)."""

    test_empty_pairs = staticmethod(test_empty_pairs)
    test_single_pair_and_self_loop = staticmethod(test_single_pair_and_self_loop)
    test_long_path_converges = staticmethod(test_long_path_converges)
    test_cliques_bridges_and_isolated_edge = staticmethod(
        test_cliques_bridges_and_isolated_edge
    )
    test_string_ids = staticmethod(test_string_ids)
    test_random_graphs_match_union_find = staticmethod(
        test_random_graphs_match_union_find
    )
    test_matches_duckdb_recursive_cte = staticmethod(
        test_matches_duckdb_recursive_cte
    )
    test_dedup_keeps_min_id_per_cluster_and_passes_singletons = staticmethod(
        test_dedup_keeps_min_id_per_cluster_and_passes_singletons
    )
    test_near_dedup_keep_collapses_transitive_chain = staticmethod(
        test_near_dedup_keep_collapses_transitive_chain
    )
    test_hub_skew_and_long_path_drill = staticmethod(
        test_hub_skew_and_long_path_drill
    )


def _count_rounds(monkeypatch, on_round=None):
    rounds = []
    large_star = dedup._large_star

    def wrapped(e):
        rounds.append(on_round() if on_round else None)
        return large_star(e)

    monkeypatch.setattr(dedup, "_large_star", wrapped)
    return rounds


def test_mid_loop_exit_matches_union_find(spark, monkeypatch):
    """30 disjoint 6-cliques (450 edges) are 30 5-edge stars (150 edges)
    after one round: with the constant between the two counts, the loop
    runs exactly one round and the local finish labels the rest."""
    pairs = [
        (c * 10 + a, c * 10 + b)
        for c in range(30)
        for a in range(6)
        for b in range(a + 1, 6)
    ]
    monkeypatch.setattr(dedup, "_LOCAL_EDGES", 300)
    rounds = _count_rounds(monkeypatch)
    assert spark_components(spark, pairs) == uf_components(pairs)
    assert len(rounds) == 1


def test_loop_leaves_session_conf_alone(spark, monkeypatch, forced_loop):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    seen = _count_rounds(monkeypatch, lambda: spark.conf.get(key))
    pairs = [(i, i + 1) for i in range(120)]
    assert set(spark_components(spark, pairs).values()) == {0}
    assert len(seen) > 1 and set(seen) == {before}
    assert spark.conf.get(key) == before


@pytest.mark.parametrize(
    "ddl,pairs",
    [
        ("long", [(2, 1), (3, 2), (9, 7)]),
        ("string", [("b", "a"), ("c", "b"), ("zz", "y")]),
    ],
    ids=["long", "string"],
)
def test_output_schema_equal_across_paths(spark, monkeypatch, ddl, pairs):
    df = spark.createDataFrame(pairs, f"id_a {ddl}, id_b {ddl}")
    local = connected_components(df)
    monkeypatch.setattr(dedup, "_LOCAL_EDGES", 0)
    loop = connected_components(df)
    assert local.schema == loop.schema
    assert [(f.name, f.dataType.simpleString()) for f in local.schema] == [
        ("node", ddl if ddl == "string" else "bigint"),
        ("component", ddl if ddl == "string" else "bigint"),
    ]
    assert sorted(local.collect()) == sorted(loop.collect())


def test_small_graph_runs_few_jobs(spark):
    """A graph under the constant costs its signature, one Arrow collect
    and the output: a silent fall-back to the round loop (~6 jobs per
    round) fails this pin."""
    pairs = [(i // 4 * 4, i) for i in range(1, 200) if i % 4]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    sc = spark.sparkContext
    group = "test-cc-local-finish"
    sc.setJobGroup(group, group)
    try:
        assert connected_components(df).count() == 200
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6
