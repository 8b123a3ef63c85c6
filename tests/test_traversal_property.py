"""Property-based check of the traversal family (bfs_distances /
bellman_ford_khop) against pure-Python models on random small graphs —
the same hypothesis-vs-model pattern as test_asof_property. Pins the
frontier loop's hop semantics (max_iter IS the k-hop bound) and the
min-plus relaxation against brute-force shortest paths, including
disconnected pieces and duplicate edges.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

# quick lane trims the DISTRIBUTED-loop property sweep (50 s of
# serialized Spark rounds on tiny graphs); SPARK_GRAFT_FULL_TESTS=1
# restores 8 examples (VERDICT r12 #2 verify-budget trim)
from tests.conftest import FULL_TESTS

NODES = [f"n{i}" for i in range(8)]


@st.composite
def graph(draw):
    edges = draw(
        st.lists(
            st.tuples(
                st.sampled_from(NODES),
                st.sampled_from(NODES),
                st.integers(1, 9),
            ),
            min_size=1,
            max_size=14,
        ).filter(lambda es: any(u != v for u, v, _ in es))
    )
    # the operators symmetrize and take (u1, u2) distinct; self-loops
    # are not produced by the co-engagement projection, drop them
    return [(u, v, w) for u, v, w in edges if u != v]


def _adj(edges):
    adj: dict = {}
    for u, v, w in edges:
        adj.setdefault(u, {})
        adj.setdefault(v, {})
        # duplicate (u,v) rows: _symmetrize ships every row, so weights
        # of duplicate edges both participate in relaxation; the min
        # weight wins for shortest paths
        adj[u][v] = min(adj[u].get(v, w), w)
        adj[v][u] = min(adj[v].get(u, w), w)
    return adj


def model_bfs(edges, seed, max_iter):
    adj = _adj(edges)
    dist = {seed: 0}
    frontier = [seed]
    for d in range(1, max_iter + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, {}):
                if v not in dist:
                    dist[v] = d
                    nxt.append(v)
        frontier = nxt
    return dist


def model_khop_cost(edges, seed, k):
    # min cost over paths of <= k edges: Bellman-Ford, k rounds
    adj = _adj(edges)
    cost = {seed: 0}
    for _ in range(k):
        new = dict(cost)
        for u, c in cost.items():
            for v, w in adj.get(u, {}).items():
                if v not in new or c + w < new[v]:
                    new[v] = c + w
        if new == cost:
            break
        cost = new
    return cost


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8 if FULL_TESTS else 3,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(graph(), st.integers(1, 4))
def test_traversal_matches_models(spark, edges, bound):
    """DISTRIBUTED loop vs the models (the local mirror is forced off;
    tiny graphs would otherwise always take it)."""
    from echo_chambers_detection_spark import placement
    from echo_chambers_detection_spark.operators.graph import (
        bellman_ford_khop,
        bfs_distances,
    )

    df = spark.createDataFrame(edges, "u1 string, u2 string, weight long")
    seed = min({u for u, _, _ in edges} | {v for _, v, _ in edges})

    with placement.distributed():
        got_bfs = {
            r["node"]: r["dist"]
            for r in bfs_distances(df, max_iter=bound).collect()
        }
        got_cost = {
            r["node"]: r["cost"]
            for r in bellman_ford_khop(df, k=bound).collect()
        }
    assert got_bfs == model_bfs(edges, seed, bound)
    assert got_cost == model_khop_cost(edges, seed, bound)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(graph(), st.integers(1, 4))
def test_traversal_mirror_matches_models(spark, edges, bound):
    """LOCAL numpy mirror (the default path at this scale) vs the same
    models — together with the distributed leg above this is a
    property-level parity proof over random graphs."""
    from echo_chambers_detection_spark.operators.graph import (
        bellman_ford_khop,
        bfs_distances,
    )

    df = spark.createDataFrame(edges, "u1 string, u2 string, weight long")
    seed = min({u for u, _, _ in edges} | {v for _, v, _ in edges})

    got_bfs = {
        r["node"]: r["dist"]
        for r in bfs_distances(df, max_iter=bound).collect()
    }
    assert got_bfs == model_bfs(edges, seed, bound)

    got_cost = {
        r["node"]: r["cost"]
        for r in bellman_ford_khop(df, k=bound).collect()
    }
    assert got_cost == model_khop_cost(edges, seed, bound)


def model_betweenness(edges, sources, max_iter):
    """Exact-rational Brandes (fractions.Fraction), so the model has
    ZERO float error — the operator's float output is compared within
    1e-9, which only the true value can satisfy on these tiny graphs.

    MULTIGRAPH convention, matching the operator AND its
    walk-enumeration σ oracle: duplicate edge rows are parallel edges,
    each a distinct shortest path (σ sums carry the multiplicity, and
    each parallel edge ships its own δ contribution)."""
    from fractions import Fraction

    mult: dict = {}
    for u, v, _ in edges:
        mult.setdefault(u, {})[v] = mult.get(u, {}).get(v, 0) + 1
        mult.setdefault(v, {})[u] = mult.get(v, {}).get(u, 0) + 1
    bc = {v: Fraction(0) for v in mult}
    for s in sources:
        dist = model_bfs(edges, s, max_iter)
        sigma = {v: 0 for v in mult}
        sigma[s] = 1
        maxd = max(dist.values(), default=0)
        by_level = {}
        for v, d in dist.items():
            by_level.setdefault(d, []).append(v)
        for d in range(1, maxd + 1):
            for w in by_level.get(d, []):
                sigma[w] = sum(
                    sigma[u] * m
                    for u, m in mult.get(w, {}).items()
                    if dist.get(u) == d - 1
                )
        delta = {v: Fraction(0) for v in mult}
        for d in range(maxd, 0, -1):
            for w in by_level.get(d, []):
                for u, m in mult.get(w, {}).items():
                    if dist.get(u) == d - 1:
                        delta[u] += (
                            m
                            * Fraction(sigma[u], sigma[w])
                            * (1 + delta[w])
                        )
        delta[s] = Fraction(0)
        for v in mult:
            bc[v] += delta[v]
    return bc


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(graph(), st.integers(2, 4), st.integers(2, 6))
def test_betweenness_mirror_matches_rational_model(
    spark, edges, n_sources, bound
):
    """Brandes mirror (the default path at this scale) vs the
    exact-rational model on random graphs, including the hop bound and
    the pivot-subset rule (n_sources binary-smallest nodes)."""
    from echo_chambers_detection_spark.operators.graph import (
        brandes_betweenness,
    )

    df = spark.createDataFrame(edges, "u1 string, u2 string, weight long")
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    want = model_betweenness(edges, nodes[:n_sources], bound)
    got = {
        r["node"]: r["betweenness"]
        for r in brandes_betweenness(
            df, n_sources=n_sources, max_iter=bound
        ).collect()
    }
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - float(want[v])) < 1e-9, (
            v, got[v], want[v], edges,
        )


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(graph(), st.integers(2, 3))
def test_betweenness_distributed_matches_rational_model(
    spark, edges, n_sources
):
    """The distributed forward/DAG/backward legs vs the same model
    (mirror forced off) — fewer examples, each costs real Spark jobs."""
    from echo_chambers_detection_spark import placement
    from echo_chambers_detection_spark.operators.graph import (
        brandes_betweenness,
    )

    df = spark.createDataFrame(edges, "u1 string, u2 string, weight long")
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    want = model_betweenness(edges, nodes[:n_sources], 6)
    with placement.distributed():
        got = {
            r["node"]: r["betweenness"]
            for r in brandes_betweenness(
                df, n_sources=n_sources, max_iter=6
            ).collect()
        }
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - float(want[v])) < 1e-9, (
            v, got[v], want[v], edges,
        )
