"""Distributed-vs-local parity for the small-graph fast path
(operators/localgraph.py): the driver-side numpy mirrors must produce
BIT-IDENTICAL partitions to graph.py's distributed loops, because the
algorithms cross between the paths at the coarsening threshold."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

import echo_chambers_detection_spark.operators.graph as G
# quick lane keeps the cliques fixture for the heavy leiden parity
# pins; the random fixture runs under SPARK_GRAFT_FULL_TESTS=1
# (VERDICT r12 #2 verify-budget trim)
from tests.conftest import assert_same_schema, lane
from echo_chambers_detection_spark.operators.localgraph import xxhash64


def test_xxhash64_matches_spark(spark):
    """The hash-parity move schedule only lines up across paths if the
    Python XXH64 is bit-for-bit Spark's xxhash64 (seed 42)."""
    ids = [
        "", "a", "ab", "did:plc:user123", "0", "community-9999",
        "post::" + "x" * 40, "y" * 133, "Ω unicode ✓", "\x00nul",
    ]
    got = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(s,) for s in ids], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    }
    for s in ids:
        assert xxhash64(s.encode("utf-8")) == got[s], repr(s)


def _fixtures(spark):
    # heavy-bridge two-7-cliques (the Leiden regression fixture shape),
    # plus a denser pseudo-random graph with uneven weights
    cliques = []
    for base in ("a", "b"):
        nodes = [f"{base}{i}" for i in range(7)]
        for i in range(7):
            for j in range(i + 1, 7):
                cliques.append((nodes[i], nodes[j], 1.0))
    cliques.append(("a0", "b0", 4.0))

    rnd = []
    n = 24
    for i in range(n):
        for j in range(i + 1, n):
            h = xxhash64(f"{i}:{j}".encode())
            if h % 5 == 0:
                rnd.append((f"n{i:02d}", f"n{j:02d}", float(1 + h % 7)))

    return {
        "cliques": spark.createDataFrame(
            cliques, "u1 string, u2 string, weight double"
        ),
        "random": spark.createDataFrame(
            rnd, "u1 string, u2 string, weight double"
        ),
    }


def _both_paths(monkeypatch, fn, edges, **kw):
    local = {(r["node"], r["community"]) for r in fn(edges, **kw).collect()}
    monkeypatch.setattr(G, "LOCAL_GRAPH_EDGE_LIMIT", 0)
    dist = {(r["node"], r["community"]) for r in fn(edges, **kw).collect()}
    monkeypatch.undo()
    return local, dist


@pytest.mark.parametrize("name", ["cliques", "random"])
def test_louvain_parity(spark, monkeypatch, name):
    edges = _fixtures(spark)[name]
    local, dist = _both_paths(
        monkeypatch, G.louvain, edges, max_levels=3, max_rounds=8
    )
    assert local == dist


@pytest.mark.parametrize("name", lane(["cliques", "random"], ["cliques"]))
def test_leiden_parity(spark, monkeypatch, name):
    edges = _fixtures(spark)[name]
    local, dist = _both_paths(
        monkeypatch, G.leiden, edges, max_levels=3, max_rounds=8
    )
    assert local == dist


def test_modularity_optimization_parity(spark, monkeypatch):
    edges = _fixtures(spark)["random"]
    local, dist = _both_paths(
        monkeypatch, G.modularity_optimization, edges, max_rounds=8
    )
    assert local == dist


def test_louvain_midrun_switch(spark, monkeypatch):
    """Crossing from distributed level 0 to the local path at the level
    boundary must give the same partition as staying distributed."""
    edges = _fixtures(spark)["cliques"]
    monkeypatch.setattr(G, "LOCAL_GRAPH_EDGE_LIMIT", 0)
    dist = {(r["node"], r["community"])
            for r in G.louvain(edges, max_levels=3, max_rounds=8).collect()}
    monkeypatch.undo()

    calls = {"n": 0}
    real = G._local_path_ok

    def level_boundary_only(e, n_rows):
        calls["n"] += 1
        return calls["n"] > 1 and real(e, n_rows)  # refuse the first probe

    monkeypatch.setattr(G, "_local_path_ok", level_boundary_only)
    mixed = {(r["node"], r["community"])
             for r in G.louvain(edges, max_levels=3, max_rounds=8).collect()}
    assert calls["n"] >= 2  # the mid-run probe actually fired
    assert mixed == dist


def _leiden_mixed_vs_dist(spark, monkeypatch, edges, max_levels):
    monkeypatch.setattr(G, "LOCAL_GRAPH_EDGE_LIMIT", 0)
    dist = {(r["node"], r["community"])
            for r in G.leiden(edges, max_levels=max_levels,
                              max_rounds=8).collect()}
    monkeypatch.undo()

    calls = {"n": 0}
    real = G._local_path_ok

    def level_boundary_only(e, n_rows):
        calls["n"] += 1
        return calls["n"] > 1 and real(e, n_rows)  # refuse the entry probe

    monkeypatch.setattr(G, "_local_path_ok", level_boundary_only)
    mixed = {(r["node"], r["community"])
             for r in G.leiden(edges, max_levels=max_levels,
                               max_rounds=8).collect()}
    monkeypatch.undo()
    assert calls["n"] >= 2  # a post-entry probe actually fired
    return mixed, dist


@pytest.mark.parametrize("name", lane(["cliques", "random"], ["cliques"]))
def test_leiden_midrun_switch(spark, monkeypatch, name):
    """Leiden's mid-loop crossover (VERDICT r9 #3): distributed level 0,
    then the seeded leiden_local_continue finishes the remaining levels
    AND the connectivity pass driver-side — must equal the partition of
    staying distributed the whole way."""
    edges = _fixtures(spark)[name]
    mixed, dist = _leiden_mixed_vs_dist(spark, monkeypatch, edges, 3)
    assert mixed == dist


@pytest.mark.parametrize("name", lane(["cliques", "random"], ["cliques"]))
def test_leiden_local_connectivity_tail(spark, monkeypatch, name):
    """max_levels=1 skips every level boundary, so the only post-entry
    probe is the TAIL's: the union-find connectivity pass
    (leiden_local_continue with max_levels=0) must equal the
    distributed CC tail."""
    edges = _fixtures(spark)[name]
    mixed, dist = _leiden_mixed_vs_dist(spark, monkeypatch, edges, 1)
    assert mixed == dist


@pytest.mark.parametrize("name", lane(["cliques", "random"], ["cliques"]))
def test_refine_group_vs_round_loop_parity(spark, monkeypatch, name):
    """The per-community cogroup refinement (graph._refine's group
    path) must be bit-identical to the distributed round loop — the
    two-consecutive-zero-round termination rule is what guarantees a
    community's stall can't be masked by another community's moves."""
    from pyspark.sql import functions as F

    edges = _fixtures(spark)[name]
    sym = G._materialize_wide(G._symmetrize(edges))
    m = float(sym.agg((F.sum("weight") / 2).alias("m")).first()["m"])
    nodes_m = G._materialize(G._nodes_of_sym(sym))
    selfw = nodes_m.select("node", F.lit(0.0).alias("w_self"))
    comm0 = nodes_m.withColumn("community", F.col("node"))
    comm, _ = G._local_moves(sym, selfw, comm0, m, 8, small_state=True)

    grp = {(r["node"], r["sub"])
           for r in G._refine(sym, selfw, comm, m, small_state=True)
           .collect()}
    monkeypatch.setattr(G, "REFINE_GROUP_EDGE_LIMIT", 0)
    loop = {(r["node"], r["sub"])
            for r in G._refine(sym, selfw, comm, m, small_state=True)
            .collect()}
    monkeypatch.undo()
    assert grp == loop


def test_kcore_parity_and_star_orphan(spark, monkeypatch):
    """kcore local path == distributed peel, including the star-center
    orphan case: when all a node's neighbors peel at level k, the node
    loses every edge without being low itself and must still be assigned
    core k (regression — the pre-fix peel derived the alive set from the
    remaining edge list and silently dropped it)."""
    star = [("hub", f"leaf{i}", 1.0) for i in range(6)]
    tri = [("t1", "t2", 1.0), ("t2", "t3", 1.0), ("t1", "t3", 1.0)]
    edges = spark.createDataFrame(
        star + tri, "u1 string, u2 string, weight double"
    ).select("u1", "u2")

    local = {(r["node"], r["core_value"]) for r in G.kcore(edges).collect()}
    monkeypatch.setattr(G, "LOCAL_GRAPH_EDGE_LIMIT", 0)
    dist = {(r["node"], r["core_value"]) for r in G.kcore(edges).collect()}
    monkeypatch.undo()

    assert local == dist
    want = {("hub", 1), ("t1", 2), ("t2", 2), ("t3", 2)}
    want |= {(f"leaf{i}", 1) for i in range(6)}
    assert local == want


def test_connected_components_parity(spark, monkeypatch):
    pairs = [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r")]
    edges = spark.createDataFrame(
        [(u, v, 1.0) for u, v in pairs], "u1 string, u2 string, weight double"
    )
    local = {
        (r["node"], r["component"])
        for r in G.connected_components(edges).collect()
    }
    monkeypatch.setattr(G, "LOCAL_GRAPH_EDGE_LIMIT", 0)
    dist = {
        (r["node"], r["component"])
        for r in G.connected_components(edges).collect()
    }
    monkeypatch.undo()
    assert local == dist
    assert local == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
        ("p", "p"), ("q", "p"), ("r", "p"),
    }


def test_pagerank_parity_dyadic_exact(spark, monkeypatch):
    """On the power-of-two-degree oracle fixture at damping 0.5 every
    intermediate is dyadic, so local and distributed ranks must be
    BIT-IDENTICAL (this is the pagerank_planted oracle regime)."""
    from echo_chambers_detection_spark.catalog.graph import (
        _pagerank_star_cycle,
    )

    edges = _pagerank_star_cycle(spark)
    local = {
        r["node"]: r["rank"]
        for r in G.pagerank(edges, damping=0.5, max_iter=3, tol=0.0).collect()
    }
    monkeypatch.setattr(G, "LOCAL_GRAPH_EDGE_LIMIT", 0)
    dist = {
        r["node"]: r["rank"]
        for r in G.pagerank(edges, damping=0.5, max_iter=3, tol=0.0).collect()
    }
    monkeypatch.undo()
    assert local == dist  # exact float equality, not approx


def test_pagerank_parity_generic_weights(spark, monkeypatch):
    """Messy weights: float association differs between numpy and
    Spark partial aggregates, so parity is to 1e-12 — the reason the
    production catalog query rounds its output."""
    edges = _fixtures(spark)["random"]
    local = {
        r["node"]: r["rank"]
        for r in G.pagerank(edges, weighted=True, max_iter=6, tol=0.0).collect()
    }
    monkeypatch.setattr(G, "LOCAL_GRAPH_EDGE_LIMIT", 0)
    dist = {
        r["node"]: r["rank"]
        for r in G.pagerank(edges, weighted=True, max_iter=6, tol=0.0).collect()
    }
    monkeypatch.undo()
    assert set(local) == set(dist)
    for k in local:
        assert local[k] == pytest.approx(dist[k], rel=1e-12, abs=1e-15), k


# ---------------------------------------------------------------------------
# Traversal-family mirrors (round 11): bfs_local / landmark_bfs_local /
# bellman_ford_local vs the distributed loops, on BOTH id dtypes (the
# mirrors serve longs too — distances carry no string-hash schedule).
# ---------------------------------------------------------------------------


def _traversal_fixture(spark, dtype):
    """Two components + duplicate edges + a weight-1 bridge; ids chosen
    so numeric and lexicographic orders DIFFER (catches a mirror that
    string-sorts numeric ids: 10 < 2 lexicographically)."""
    rows = [
        (2, 10, 1), (10, 30, 2), (2, 30, 9), (30, 400, 3),
        (400, 5, 1), (2, 10, 4),              # duplicate edge, worse w
        (1000, 2000, 2), (2000, 3000, 1),     # separate component
    ]
    if dtype == "string":
        rows = [(f"u{a}", f"u{b}", w) for a, b, w in rows]
        return spark.createDataFrame(
            rows, "u1 string, u2 string, weight long"
        )
    return spark.createDataFrame(rows, "u1 long, u2 long, weight long")


def _both_traversal(monkeypatch, fn, edges, keys, **kw):
    """Rows of the mirror and of the forced-distributed path, after
    checking that both frames have the same full schema."""
    mirror = fn(edges, **kw)
    local = {tuple(r[k] for k in keys) for r in mirror.collect()}
    monkeypatch.setattr(G, "LOCAL_TRAVERSAL_EDGE_LIMIT", 0)
    distributed = fn(edges, **kw)
    dist = {tuple(r[k] for k in keys) for r in distributed.collect()}
    monkeypatch.undo()
    assert_same_schema(mirror, distributed)
    return local, dist


@pytest.mark.parametrize("dtype", ["string", "long"])
def test_bfs_parity(spark, monkeypatch, dtype):
    edges = _traversal_fixture(spark, dtype)
    local, dist = _both_traversal(
        monkeypatch, G.bfs_distances, edges, ("node", "dist"), max_iter=10
    )
    assert local == dist and local


@pytest.mark.parametrize("dtype", ["string", "long"])
def test_bfs_parity_hop_bound_and_seeds(spark, monkeypatch, dtype):
    edges = _traversal_fixture(spark, dtype)
    seeds = ["u400", "u1000"] if dtype == "string" else [400, 1000]
    local, dist = _both_traversal(
        monkeypatch,
        G.bfs_distances,
        edges,
        ("node", "dist"),
        seeds=seeds,
        max_iter=1,  # the 1-hop neighborhood pins the k-hop semantics
    )
    assert local == dist and local


@pytest.mark.parametrize("dtype", ["string", "long"])
def test_landmark_bfs_parity(spark, monkeypatch, dtype):
    edges = _traversal_fixture(spark, dtype)
    local, dist = _both_traversal(
        monkeypatch,
        G.bfs_landmark_distances,
        edges,
        ("seed", "node", "dist"),
        n_landmarks=3,
        max_iter=10,
    )
    assert local == dist and local


@pytest.mark.parametrize("dtype", ["string", "long"])
def test_bellman_ford_parity(spark, monkeypatch, dtype):
    edges = _traversal_fixture(spark, dtype)
    local, dist = _both_traversal(
        monkeypatch,
        G.bellman_ford_khop,
        edges,
        ("node", "cost"),
        k=4,
    )
    assert local == dist and local


# ---------------------------------------------------------------------------
# ADVICE r11: pathological weights. Negative weights must not let the
# mirror "reach" nodes the distributed loop (which only relaxes from
# non-NULL costs) never reaches; NULL/NaN weights must bail to the
# distributed path because their edges are relax-inert there but still
# contribute endpoints to the node set / landmark selection.
# ---------------------------------------------------------------------------


def test_bellman_ford_parity_negative_weights(spark, monkeypatch):
    # chain 1-2-3 with a negative bridge, plus an UNREACHABLE pair
    # (7,8): without the INF mask, INF + (-5) < INF falsely reaches it.
    rows = [(1, 2, -5), (2, 3, 2), (7, 8, -5)]
    edges = spark.createDataFrame(rows, "u1 long, u2 long, weight long")
    local, dist = _both_traversal(
        monkeypatch, G.bellman_ford_khop, edges, ("node", "cost"),
        seeds=[1], k=3,
    )
    assert local == dist and local
    assert not any(n in (7, 8) for n, _ in local)


def test_bellman_ford_landmark_parity_negative_weights(spark, monkeypatch):
    rows = [(1, 2, -5), (2, 3, 2), (7, 8, -5)]
    edges = spark.createDataFrame(rows, "u1 long, u2 long, weight long")
    local, dist = _both_traversal(
        monkeypatch, G.bellman_ford_landmark, edges,
        ("seed", "node", "cost"), n_landmarks=2, k=3,
    )
    assert local == dist and local


def test_bellman_ford_null_weight_bails_to_distributed(spark, monkeypatch):
    # node 0 is binary-smallest and connected ONLY via a NULL-weight
    # edge: it must still be picked as a landmark (seed, seed, 0) but
    # never relax anything — only the distributed path gets both right,
    # so the gate must return None here.
    rows = [(0, 5, None), (1, 2, 3), (2, 3, 1)]
    edges = spark.createDataFrame(rows, "u1 long, u2 long, weight long")
    assert G._traversal_local_tbl(edges, weighted=True) is None
    out = {
        (r["seed"], r["node"], r["cost"])
        for r in G.bellman_ford_landmark(edges, n_landmarks=2, k=3).collect()
    }
    assert (0, 0, 0) in out
    assert not any(s == 0 and n == 5 for s, n, _ in out)


def test_bellman_ford_nan_weight_bails_to_distributed(spark):
    edges = spark.createDataFrame(
        [(1, 2, float("nan")), (2, 3, 2.0)],
        "u1 long, u2 long, weight double",
    )
    assert G._traversal_local_tbl(edges, weighted=True) is None


def test_unweighted_gate_keeps_null_weight_rows(spark):
    # weighted=False must NOT bail on NULL weights (BFS ignores them)
    edges = spark.createDataFrame(
        [(1, 2, None), (2, 3, 2)], "u1 long, u2 long, weight long"
    )
    assert G._traversal_local_tbl(edges, weighted=False) is not None


def test_forced_distributed_gate_rejects_empty_frame(spark, monkeypatch):
    # ADVICE r11: with the limit forced to 0 an EMPTY frame used to
    # pass the gate (0 > 0 is false) and silently exercise the mirror.
    monkeypatch.setattr(G, "LOCAL_TRAVERSAL_EDGE_LIMIT", 0)
    edges = spark.createDataFrame([], "u1 long, u2 long, weight long")
    assert G._traversal_local_tbl(edges) is None


def test_local_fallbacks_zero_landmarks(spark):
    # ids[:0] fallback shapes: n_landmarks=0 / n_sources=0 on a
    # NON-empty graph must return empty frames, not raise (ADVICE r11).
    from echo_chambers_detection_spark.operators import localgraph as LG

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 1)], "u1 long, u2 long, weight long"
    )
    tbl = G._traversal_local_tbl(edges, weighted=True)
    assert tbl is not None
    assert len(LG.landmark_bfs_local(tbl, n_landmarks=0)) == 0
    assert len(LG.path_counts_local(tbl, n_sources=0)) == 0
    assert len(LG.bellman_ford_landmark_local(tbl, n_landmarks=0)) == 0


# ---------------------------------------------------------------------------
# Walk mirror (round 12): md5-argmin walks replayed driver-side must be
# BIT-identical to the distributed join+min_by loop — same md5 keys,
# same '|'-separator tie-break order, same weighted replica expansion,
# same seed-frame step-0 semantics.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("dtype", ["string", "long"])
@pytest.mark.parametrize("weighted", [False, True])
def test_random_walks_parity(spark, monkeypatch, dtype, weighted):
    edges = _traversal_fixture(spark, dtype)
    local, dist = _both_traversal(
        monkeypatch,
        G.seeded_random_walks,
        edges,
        ("wid", "step", "node"),
        length=5,
        weighted=weighted,
    )
    assert local == dist and local


def test_random_walks_parity_with_seed_frame(spark, monkeypatch):
    edges = _traversal_fixture(spark, "string")
    # includes a seed node ABSENT from the graph (step-0 row only) and
    # a wid different from its start node
    seeds = spark.createDataFrame(
        [("w1", "u2"), ("w2", "u400"), ("w3", "zzz-absent")],
        "wid string, node string",
    )
    local, dist = _both_traversal(
        monkeypatch,
        G.seeded_random_walks,
        edges,
        ("wid", "step", "node"),
        length=4,
        seeds=seeds,
    )
    assert local == dist and local
    assert ("w3", 0, "zzz-absent") in local
    assert not any(w == "w3" and s > 0 for w, s, _ in local)


def test_random_walks_budget_falls_back_to_distributed(spark, monkeypatch):
    from echo_chambers_detection_spark.operators import localgraph as LG

    edges = _traversal_fixture(spark, "string")
    monkeypatch.setattr(LG, "WALK_LOCAL_OP_LIMIT", 0)
    tbl = G._traversal_local_tbl(edges)
    assert tbl is not None
    assert LG.random_walks_local(tbl, length=3) is None
    # the operator still answers (distributed leg)
    rows = G.seeded_random_walks(edges, length=3).collect()
    assert rows


# ---------------------------------------------------------------------------
# Triangle-family mirrors (round 12): counts / transitivity / k-truss
# are GRAPH FACTS (unique answers), so parity is plain equality of the
# integer outputs across paths.
# ---------------------------------------------------------------------------


def _tri_fixture(spark, dtype):
    """Two overlapping cliques + a triangle strip that unravels under
    4-truss pruning over TWO rounds + pendant edges."""
    rows = []
    k5 = [1, 2, 3, 4, 5]
    for i in range(5):
        for j in range(i + 1, 5):
            rows.append((k5[i], k5[j]))
    rows += [(5, 6), (6, 7), (5, 7)]       # triangle hanging off
    rows += [(7, 8), (8, 9)]               # pendant path
    rows += [(10, 11), (11, 12), (10, 12), (12, 13), (10, 13)]  # strip
    if dtype == "string":
        rows = [(f"v{a:02d}", f"v{b:02d}") for a, b in rows]
        return spark.createDataFrame(rows, "u1 string, u2 string")
    return spark.createDataFrame(rows, "u1 long, u2 long")


@pytest.mark.parametrize("dtype", ["string", "long"])
def test_triangle_counts_parity(spark, monkeypatch, dtype):
    from echo_chambers_detection_spark.operators.triangles import (
        triangle_counts,
    )

    edges = _tri_fixture(spark, dtype)
    local, dist = _both_traversal(
        monkeypatch,
        triangle_counts,
        edges,
        ("node", "triangles", "deg", "wedges"),
    )
    assert local == dist and local


@pytest.mark.parametrize("dtype", ["string", "long"])
def test_transitivity_parity(spark, monkeypatch, dtype):
    from echo_chambers_detection_spark.operators.triangles import (
        transitivity_stats,
    )

    edges = _tri_fixture(spark, dtype)
    local, dist = _both_traversal(
        monkeypatch,
        transitivity_stats,
        edges,
        ("n_nodes", "n_edges", "n_triangles", "n_wedges"),
    )
    assert local == dist and local


@pytest.mark.parametrize("dtype", ["string", "long"])
@pytest.mark.parametrize("k", [3, 4])
def test_ktruss_parity(spark, monkeypatch, dtype, k):
    from echo_chambers_detection_spark.operators.triangles import (
        ktruss_edges,
    )

    edges = _tri_fixture(spark, dtype)
    local, dist = _both_traversal(
        monkeypatch, ktruss_edges, edges, ("u1", "u2", "support"), k=k
    )
    assert local == dist
    if k == 3:
        assert local  # triangles survive a 3-truss


def test_ktruss_mirror_cascade_unravels(spark):
    """The strip 10-11-12-13 has two triangles sharing edge (10,12);
    under k=4 the outer edges die first and the shared edge only on
    the NEXT round — the cascade the single-pass filter misses."""
    from echo_chambers_detection_spark.operators.triangles import (
        ktruss_edges,
    )

    edges = _tri_fixture(spark, "string")
    out = {
        (r["u1"], r["u2"])
        for r in ktruss_edges(edges, k=4).collect()
    }
    assert not any("v10" in e or "v12" in e for p in out for e in p)
    assert ("v01", "v02") in out  # K5 survives 4-truss


def test_triangle_mirror_declines_duplicates_and_budget(spark, monkeypatch):
    from echo_chambers_detection_spark.operators import localgraph as LG
    import echo_chambers_detection_spark.operators.graph as GG

    dup = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "c")], "u1 string, u2 string"
    )
    tbl = GG._traversal_local_tbl(dup)
    assert LG.tricount_local(tbl) is None          # duplicate rows
    tri = _tri_fixture(spark, "string")
    tbl2 = GG._traversal_local_tbl(tri)
    monkeypatch.setattr(LG, "WEDGE_LOCAL_OP_LIMIT", 0)
    assert LG.tricount_local(tbl2) is None          # budget
    assert LG.ktruss_local(tbl2, 4) is None
    monkeypatch.undo()
    # the operators still answer via the distributed leg
    from echo_chambers_detection_spark.operators.triangles import (
        triangle_counts,
    )

    assert triangle_counts(dup).count() == 3
