"""Round-11 additions: landmark closeness/harmonic centrality — the
micro-fixture arithmetic is hand-computed on a 4-chain, and the result
must be identical through the local-mirror and distributed BFS paths
(the operator is one groupBy over bfs_landmark_distances)."""

from __future__ import annotations

import pytest

import echo_chambers_detection_spark.operators.graph as G
from echo_chambers_detection_spark import placement


def _chain(spark):
    # a - b - c - d; landmarks (3 binary-smallest) = a, b, c
    return spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0)],
        "u1 string, u2 string, weight double",
    )


# (node, n_reached, dist_sum, harmonic_q9, closeness_q9) over seeds
# a/b/c: dist rows a:(0,1,2) b:(1,0,1) c:(2,1,0) d:(3,2,1)
_EXPECT = {
    ("a", 3, 3, 1_500_000_000, 1_000_000_000),
    ("b", 3, 2, 2_000_000_000, 1_500_000_000),
    ("c", 3, 3, 1_500_000_000, 1_000_000_000),
    ("d", 3, 6, 1_833_333_333, 500_000_000),
}


def _rows(df):
    return {
        (
            r["node"],
            r["n_landmarks_reached"],
            r["dist_sum"],
            r["harmonic_q9"],
            r["closeness_q9"],
        )
        for r in df.collect()
    }


def test_landmark_closeness_closed_form(spark):
    got = _rows(G.landmark_closeness(_chain(spark), n_landmarks=3))
    assert got == _EXPECT


def test_landmark_closeness_distributed_parity(spark):
    with placement.distributed():
        got = _rows(G.landmark_closeness(_chain(spark), n_landmarks=3))
    assert got == _EXPECT


def test_landmark_closeness_hop_bound(spark):
    # max_iter=1: d is only reached by landmark c (dist 1); a and c
    # miss each other (2 hops), so their sums shrink accordingly
    got = _rows(
        G.landmark_closeness(_chain(spark), n_landmarks=3, max_iter=1)
    )
    assert ("d", 1, 1, 1_000_000_000, 1_000_000_000) in got
    assert ("a", 2, 1, 1_000_000_000, 2_000_000_000) in got


# ---------------------------------------------------------------------------
# Brandes betweenness + shortest-path counts (round 11): closed forms
# on fixtures whose sigma ratios are dyadic (path / star / C4), so
# every float op is exact and local-vs-distributed parity is exact too.
# ---------------------------------------------------------------------------


def _fixture(spark, name):
    rows = {
        # a - b - c - d
        "path": [("a", "b"), ("b", "c"), ("c", "d")],
        # center a, leaves b c d
        "star": [("a", "b"), ("a", "c"), ("a", "d")],
        # 4-cycle
        "c4": [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
    }[name]
    return spark.createDataFrame(rows, "u1 string, u2 string")


# ordered-pair dependency sums over ALL nodes as pivots (closed forms
# derived by hand in the test module docstring's convention)
_BC_EXPECT = {
    "path": {"a": 0.0, "b": 4.0, "c": 4.0, "d": 0.0},
    "star": {"a": 6.0, "b": 0.0, "c": 0.0, "d": 0.0},
    "c4": {"a": 1.0, "b": 1.0, "c": 1.0, "d": 1.0},
}


@pytest.mark.parametrize("name", ["path", "star", "c4"])
def test_betweenness_closed_form_and_parity(spark, name):
    edges = _fixture(spark, name)
    local = {
        r["node"]: r["betweenness"]
        for r in G.brandes_betweenness(edges, n_sources=4).collect()
    }
    assert local == _BC_EXPECT[name]
    with placement.distributed():
        dist = {
            r["node"]: r["betweenness"]
            for r in G.brandes_betweenness(edges, n_sources=4).collect()
        }
    assert dist == _BC_EXPECT[name]  # dyadic arithmetic: exact equality


def test_path_counts_closed_form_and_parity(spark):
    edges = _fixture(spark, "c4")
    expect = set()
    for s, opp in (("a", "c"), ("b", "d"), ("c", "a"), ("d", "b")):
        expect.add((s, s, 0, 1))
        expect.add((s, opp, 2, 2))  # two shortest paths around the cycle
        for n in "abcd":
            if n not in (s, opp):
                expect.add((s, n, 1, 1))
    local = {
        (r["seed"], r["node"], r["dist"], r["sigma"])
        for r in G.shortest_path_counts(edges, n_sources=4).collect()
    }
    assert local == expect
    with placement.distributed():
        dist = {
            (r["seed"], r["node"], r["dist"], r["sigma"])
            for r in G.shortest_path_counts(edges, n_sources=4).collect()
        }
    assert dist == expect


def test_path_counts_hop_bound(spark):
    # max_iter=1 on the path: each pivot sees only itself + neighbors
    got = {
        (r["seed"], r["node"], r["dist"], r["sigma"])
        for r in G.shortest_path_counts(
            _fixture(spark, "path"), n_sources=4, max_iter=1
        ).collect()
    }
    assert got == {
        ("a", "a", 0, 1), ("a", "b", 1, 1),
        ("b", "b", 0, 1), ("b", "a", 1, 1), ("b", "c", 1, 1),
        ("c", "c", 0, 1), ("c", "b", 1, 1), ("c", "d", 1, 1),
        ("d", "d", 0, 1), ("d", "c", 1, 1),
    }


def test_betweenness_sampled_subset_of_pivots(spark):
    # pivots = {a, b} on the path: bc(b) = delta_a(b) = 2 (pairs a->c,
    # a->d); bc(c) = delta_a(c) + delta_b(c) = 1 + 1
    got = {
        r["node"]: r["betweenness"]
        for r in G.brandes_betweenness(
            _fixture(spark, "path"), n_sources=2
        ).collect()
    }
    assert got == {"a": 0.0, "b": 2.0, "c": 2.0, "d": 0.0}


def test_walk_skipgram_pairs_closed_form(spark):
    """On the 2-node path every walk is forced (a,b,a,b,...), so the
    window-2 pair counts are closed-form: each 9-step walk yields 8
    distance-1 pairs (alternating ab/ba) and 7 distance-2 pairs (same
    node), summed over the two walks."""
    from echo_chambers_detection_spark.operators.graph import (
        seeded_random_walks,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    edges = spark.createDataFrame([("a", "b")], "u1 string, u2 string")
    walks = seeded_random_walks(edges, length=8)
    w = Window.partitionBy("wid").orderBy("step")
    got = {
        (r["node"], r["context"]): r["pair_count"]
        for r in (
            walks.select(
                "node",
                F.array(
                    F.lead("node", 1).over(w), F.lead("node", 2).over(w)
                ).alias("_ctx"),
            )
            .select("node", F.explode("_ctx").alias("context"))
            .where(F.col("context").isNotNull())
            .groupBy("node", "context")
            .agg(F.count("*").alias("pair_count"))
            .collect()
        )
    }
    # walk from a: a b a b a b a b a -> (a,b) x4, (b,a) x4 at dist 1;
    # (a,a) x4, (b,b) x3 at dist 2. Walk from b mirrors it.
    assert got == {
        ("a", "b"): 8,
        ("b", "a"): 8,
        ("a", "a"): 7,
        ("b", "b"): 7,
    }


def test_bellman_ford_landmark_closed_form_and_parity(spark):
    """Weighted chain a -5- b -1- c -3- d, landmarks a,b,c (3 smallest):
    k-hop min costs are closed-form; mirror and distributed must agree
    exactly (integer arithmetic)."""
    edges = spark.createDataFrame(
        [("a", "b", 5.0), ("b", "c", 1.0), ("c", "d", 3.0)],
        "u1 string, u2 string, weight double",
    )
    expect = {
        ("a", "a", 0), ("a", "b", 5), ("a", "c", 6), ("a", "d", 9),
        ("b", "a", 5), ("b", "b", 0), ("b", "c", 1), ("b", "d", 4),
        ("c", "a", 6), ("c", "b", 1), ("c", "c", 0), ("c", "d", 3),
    }
    rows = lambda df: {  # noqa: E731
        (r["seed"], r["node"], r["cost"]) for r in df.collect()
    }
    local = rows(G.bellman_ford_landmark(edges, n_landmarks=3, k=5))
    assert local == expect
    with placement.distributed():
        dist = rows(G.bellman_ford_landmark(edges, n_landmarks=3, k=5))
    assert dist == expect


def test_bellman_ford_landmark_hop_bound(spark):
    # k=1: each landmark reaches only itself + direct neighbors
    edges = spark.createDataFrame(
        [("a", "b", 5.0), ("b", "c", 1.0), ("c", "d", 3.0)],
        "u1 string, u2 string, weight double",
    )
    got = {
        (r["seed"], r["node"], r["cost"])
        for r in G.bellman_ford_landmark(
            edges, n_landmarks=2, k=1
        ).collect()
    }
    assert got == {
        ("a", "a", 0), ("a", "b", 5),
        ("b", "a", 5), ("b", "b", 0), ("b", "c", 1),
    }
