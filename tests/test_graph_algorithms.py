"""Invariant tests for the iterative graph algorithms (SURVEY.md §5.3):
k-core degree invariants, LPA fixpoints, Louvain-family modularity, and
Leiden connectivity — on hand-computed graphs plus a planted-partition
fixture, mirroring the algorithm surface of
reference project/metrics/community_detection.py:49-83."""

from __future__ import annotations

import itertools

import pytest

from pyspark.sql import functions as F

from echo_chambers_detection_spark.operators.graph import (
    connected_components,
    kcore,
    label_propagation,
    leiden,
    louvain,
    modularity_optimization,
    pagerank,
    weighted_modularity,
)


def _edges_df(spark, pairs, weighted=False):
    if weighted:
        return spark.createDataFrame(pairs, "u1 string, u2 string, weight double")
    return spark.createDataFrame(pairs, "u1 string, u2 string")


def _clique(names):
    return [(a, b) for a, b in itertools.combinations(sorted(names), 2)]


def _pinned(spark):
    """Ids of the session's persisted RDDs (checkpoint blocks included)."""
    return {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


@pytest.fixture(scope="module")
def planted(spark):
    """Three 6-cliques with single bridges: communities are obvious,
    modularity of the planted partition ≈ 0.58."""
    groups = [
        [f"a{i}" for i in range(6)],
        [f"b{i}" for i in range(6)],
        [f"c{i}" for i in range(6)],
    ]
    pairs = []
    for g in groups:
        pairs += _clique(g)
    pairs += [("a0", "b0"), ("b1", "c0")]
    return _edges_df(spark, [(u, v, 1.0) for u, v in pairs], weighted=True)


def test_kcore_triangle_with_tail(spark):
    edges = _edges_df(spark, [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")])
    cores = {r["node"]: r["core_value"] for r in kcore(edges).collect()}
    assert cores == {"a": 2, "b": 2, "c": 2, "d": 1}


def test_kcore_invariant_on_planted(planted):
    """Every node with core value k has >= k neighbors of core >= k."""
    cores = kcore(planted.select("u1", "u2"))
    sym = planted.select("u1", "u2").unionAll(
        planted.select(F.col("u2").alias("u1"), F.col("u1").alias("u2"))
    )
    c1 = cores.withColumnRenamed("node", "u1").withColumnRenamed(
        "core_value", "k1"
    )
    c2 = cores.withColumnRenamed("node", "u2").withColumnRenamed(
        "core_value", "k2"
    )
    good_nbrs = (
        sym.join(c1, "u1")
        .join(c2, "u2")
        .where(F.col("k2") >= F.col("k1"))
        .groupBy("u1", "k1")
        .agg(F.count("*").alias("n"))
    )
    bad = good_nbrs.where(F.col("n") < F.col("k1")).count()
    assert bad == 0
    # a 6-clique is a 5-core
    vals = {r["core_value"] for r in cores.collect()}
    assert 5 in vals


def test_connected_components_two_islands(spark):
    edges = _edges_df(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    comps = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comps["a"] == comps["b"] == comps["c"] == "a"
    assert comps["x"] == comps["y"] == "x"
    assert comps["a"] != comps["x"]


def test_label_propagation_planted(planted):
    labels = label_propagation(planted.select("u1", "u2"), max_iter=10)
    rows = labels.collect()
    by_group = {}
    for r in rows:
        by_group.setdefault(r["node"][0], set()).add(r["community"])
    # each clique collapses to one label
    assert all(len(s) == 1 for s in by_group.values()), by_group


def test_louvain_planted_recovers_cliques(planted):
    comm = louvain(planted)
    rows = comm.collect()
    by_group = {}
    for r in rows:
        by_group.setdefault(r["node"][0], set()).add(r["community"])
    assert all(len(s) == 1 for s in by_group.values()), by_group
    # three distinct communities
    assert len({r["community"] for r in rows}) == 3
    # modularity positive and near the planted value
    q = weighted_modularity(planted, comm).first()["q"]
    assert q > 0.5


def test_louvain_beats_singletons(planted):
    singletons = (
        planted.select(F.col("u1").alias("node"))
        .unionAll(planted.select(F.col("u2").alias("node")))
        .distinct()
        .withColumn("community", F.col("node"))
    )
    q0 = weighted_modularity(planted, singletons).first()["q"]
    q1 = weighted_modularity(planted, louvain(planted)).first()["q"]
    assert q1 > q0


def test_modularity_optimization_improves(planted):
    comm = modularity_optimization(planted)
    q = weighted_modularity(planted, comm).first()["q"]
    assert q > 0.3


def test_leiden_communities_connected(spark):
    """A community that is internally disconnected must be split — the
    Leiden guarantee plain Louvain lacks."""
    # two triangles NOT connected to each other
    edges = _edges_df(
        spark,
        [("a", "b", 1.0), ("a", "c", 1.0), ("b", "c", 1.0),
         ("x", "y", 1.0), ("x", "z", 1.0), ("y", "z", 1.0)],
        weighted=True,
    )
    comm = leiden(edges)
    labels = {r["node"]: r["community"] for r in comm.collect()}
    assert labels["a"] == labels["b"] == labels["c"]
    assert labels["x"] == labels["y"] == labels["z"]
    assert labels["a"] != labels["x"]


def test_bridged_cliques_reach_connected_local_optimum(spark):
    """Two 7-cliques joined by ONE heavy bridge (a00—b00, w=4) — the
    Traag et al. 2019 fixture. Under the retired hash-parity schedule
    this test asserted 'Louvain merges across the bridge into mixed,
    internally-disconnected communities (q 0.152) while Leiden recovers
    the cliques exactly (q 0.413)' — but that mixed outcome was the
    SWAP BUG's artifact: the bridge endpoints were scheduled together,
    exchanged community labels, and each then absorbed its clique-mates
    into the swapped label, producing {a00, b01..b06} with a00
    edge-less inside its own community. The single-direction-per-round
    schedule (round 12: adaptive majority direction) cannot swap, so
    both algorithms now follow the honest
    greedy gains: a00 grabs b00 (w=4 beats any single clique edge), and
    the bridge pair {a00, b00} is a genuine LOCAL optimum — moving a00
    into its clique scores 6 - 10*36/92 = 2.09 against staying's
    4 - 10*10/92 = 2.91 — that neither level-2 moves nor refinement
    (the pair is connected and well-connected) can or should undo.
    Pins: the exact partition, every community internally CONNECTED
    (the Traag guarantee the old Louvain output violated), and the
    closed-form modularity 204/529 ≈ 0.386 for both algorithms
    (vs 0.413 planted — a local optimum, documented as such).

    Reference behavior: gds.leiden.stream vs gds.louvain.stream
    (project/metrics/community_detection.py:64-76)."""
    k, w = 7, 4.0
    na = [f"a{i:02d}" for i in range(k)]
    nb = [f"b{i:02d}" for i in range(k)]
    edges = _edges_df(
        spark,
        [(x, y, 1.0) for x, y in itertools.combinations(na, 2)]
        + [(x, y, 1.0) for x, y in itertools.combinations(nb, 2)]
        + [(na[0], nb[0], w)],
        weighted=True,
    )
    expected = {na[0]: "a00", nb[0]: "a00"}
    expected.update({n: "a01" for n in na[1:]})
    expected.update({n: "b01" for n in nb[1:]})

    for algo in (louvain, leiden):
        got = {r["node"]: r["community"] for r in algo(edges).collect()}
        assert got == expected, (algo.__name__, got)
        q = weighted_modularity(
            edges,
            spark.createDataFrame(
                list(got.items()), "node string, community string"
            ),
        ).first()["q"]
        assert abs(q - 204.0 / 529.0) < 1e-9, (algo.__name__, q)


def test_louvain_merges_every_dyad(spark):
    """Regression for the retired hash-parity swap bug: two isolated
    dyads whose endpoints shared xxhash64 parity used to exchange
    community labels every round and NEVER merge (50% of dyads!).
    The single-direction-per-round schedule makes the merge
    unconditional: whatever the ids, only one endpoint's move is in the
    round's chosen direction (the other waits), so every dyad coalesces
    to its min-member label instead of swapping. Mix of previously-failing and
    previously-passing id pairs, plus long-id dyads to drive the
    DISTRIBUTED loop (the mirror serves string ids only)."""
    pairs = [("c", "d"), ("a", "b"), ("k1", "k2"), ("zz", "zx")]
    edges = _edges_df(spark, [(u, v, 1.0) for u, v in pairs], weighted=True)
    got = {r["node"]: r["community"] for r in louvain(edges).collect()}
    for u, v in pairs:
        assert got[u] == got[v] == min(u, v), (u, v, got)

    from pyspark.sql import functions as F

    long_edges = spark.createDataFrame(
        [(10, 17), (23, 5), (400, 401)], "u1 long, u2 long"
    ).withColumn("weight", F.lit(1.0))
    got_l = {
        r["node"]: r["community"] for r in louvain(long_edges).collect()
    }
    for u, v in [(10, 17), (5, 23), (400, 401)]:
        assert got_l[u] == got_l[v] == u, (u, v, got_l)


def test_leiden_modularity_at_least_louvain_on_planted(planted):
    """On the planted three-clique fixture the refinement must never cost
    modularity relative to plain Louvain."""
    q_lv = weighted_modularity(planted, louvain(planted)).first()["q"]
    q_ld = weighted_modularity(planted, leiden(planted)).first()["q"]
    assert q_ld >= q_lv - 1e-12, (q_ld, q_lv)


def test_weighted_modularity_closed_form(spark):
    """Two triangles + bridge with the planted labels: Q = 5/14."""
    edges = _edges_df(
        spark,
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"),
         ("d", "e"), ("d", "f"), ("e", "f")],
    )
    labels = spark.createDataFrame(
        [("a", "A"), ("b", "A"), ("c", "A"), ("d", "B"), ("e", "B"), ("f", "B")],
        "node string, community string",
    )
    q = weighted_modularity(edges, labels).first()["q"]
    assert abs(q - 5 / 14) < 1e-12


def test_materialize_fallback_path(spark, monkeypatch):
    """VERDICT r2 #5: when internalCreateDataFrame disappears (a Spark
    upgrade), _materialize must fall back to the plain localCheckpoint,
    keep the loops convergent, and warn ONCE instead of silently
    reintroducing the compounding-stats slowdown."""
    import warnings

    import echo_chambers_detection_spark.operators.graph as G

    pairs = [("a", "b", 2.0), ("b", "c", 2.0), ("a", "c", 2.0),
             ("x", "y", 2.0), ("y", "z", 2.0), ("x", "z", 2.0),
             ("c", "x", 0.5)]
    edges = _edges_df(spark, pairs, weighted=True)
    want = {(r["node"], r["community"]) for r in louvain(edges).collect()}

    class _NoInternal:
        def __init__(self, real):
            self._real = real

        def __getattr__(self, name):
            if name == "internalCreateDataFrame":
                raise AttributeError(name)
            return getattr(self._real, name)

    monkeypatch.setattr(G, "_MATERIALIZE_FALLBACK_WARNED", False)
    monkeypatch.setattr(
        spark, "_jsparkSession", _NoInternal(spark._jsparkSession)
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {(r["node"], r["community"]) for r in louvain(edges).collect()}
    assert got == want
    runtime = [w for w in caught if issubclass(w.category, RuntimeWarning)
               and "internalCreateDataFrame" in str(w.message)]
    assert len(runtime) == 1  # warned, and only once


def test_connected_components_log_diameter_rounds(spark):
    """Pointer jumping (round 6): a 400-node path converges within ~12
    distributed rounds — pure min-propagation would need 400, so this
    pins the L(L(v)) shortcut actually shortening chains."""
    from echo_chambers_detection_spark import placement
    from echo_chambers_detection_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(399)],
        "u1 string, u2 string",
    )
    with placement.distributed():
        out = connected_components(edges, max_iter=12)
    assert {r["component"] for r in out.collect()} == {"n000"}


def test_connected_components_raises_on_nonconvergence(spark):
    """ADVICE r3: a round budget too small for the graph's diameter must
    raise, not silently return split components (a split corrupts the
    Boruvka forest contract and dedup keep-lists downstream)."""
    import pytest

    from echo_chambers_detection_spark import placement
    from echo_chambers_detection_spark.operators.graph import (
        connected_components,
    )

    # a path graph needs O(length) min-label rounds; force the
    # distributed loop (building one above the driver budget is too slow)
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)],
        "u1 string, u2 string",
    )
    with placement.distributed():
        base = _pinned(spark)
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, max_iter=2)
        # the raise must not strand the last label generation (or sym)
        leaked = _pinned(spark) - base
        assert not leaked, f"non-convergence leaked {sorted(leaked)}"
        # and with budget >= diameter it converges to one component
        out = connected_components(edges, max_iter=30)
        assert {r["component"] for r in out.collect()} == {"n00"}


# ---------------------------------------------------------------------------
# PageRank (superset centrality; operators/graph.py::pagerank)
# ---------------------------------------------------------------------------


def _numpy_pagerank(n, directed_edges, damping, iters, weights=None):
    """Reference power iteration with uniform dangling redistribution."""
    import numpy as np

    W = np.zeros((n, n))
    for idx, (u, v) in enumerate(directed_edges):
        W[u, v] = 1.0 if weights is None else weights[idx]
    out = W.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[out == 0].sum()
        nz = out > 0
        contrib = (r[nz] / out[nz]) @ W[nz]
        r = (1 - damping) / n + damping * (contrib + dangling / n)
    return r


def test_pagerank_undirected_sums_to_one_and_orders_hubs(spark):
    # star: hub sees all the rank mass
    edges = _edges_df(spark, [("h", f"l{i}") for i in range(6)])
    rows = {
        r["node"]: r["rank"]
        for r in pagerank(edges, max_iter=30, tol=1e-12).collect()
    }
    assert abs(sum(rows.values()) - 1.0) < 1e-9
    assert rows["h"] > max(v for k, v in rows.items() if k != "h")
    leaf_vals = [v for k, v in rows.items() if k != "h"]
    assert max(leaf_vals) - min(leaf_vals) < 1e-12


def test_pagerank_directed_dangling_matches_numpy(spark):
    # chain a->b->c with c dangling, plus d->b: closed-form via numpy
    names = ["a", "b", "c", "d"]
    directed = [(0, 1), (1, 2), (3, 1)]
    edges = _edges_df(
        spark, [(names[u], names[v]) for u, v in directed]
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            edges, damping=0.85, max_iter=4, tol=0.0, directed=True
        ).collect()
    }
    want = _numpy_pagerank(4, directed, 0.85, 4)
    for i, nm in enumerate(names):
        assert got[nm] == pytest.approx(want[i], abs=1e-12), nm
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_weighted_prefers_heavy_neighbor(spark):
    # b receives a's mass via weight 9:1 over c
    edges = _edges_df(
        spark,
        [("a", "b", 9.0), ("a", "c", 1.0), ("b", "c", 1.0)],
        weighted=True,
    )
    rows = {
        r["node"]: r["rank"]
        for r in pagerank(edges, weighted=True, max_iter=30, tol=1e-12).collect()
    }
    assert rows["b"] > rows["c"]
    assert abs(sum(rows.values()) - 1.0) < 1e-9


def test_pagerank_uniform_on_regular_graph(spark):
    # 8-cycle is 2-regular: uniform 1/8 is the exact fixpoint
    # (pair order canonicalized so n7-n0 isn't duplicated as n0-n7)
    edges = _edges_df(spark, [(f"n{i}", f"n{i + 1}") for i in range(7)] + [("n0", "n7")])
    for r in pagerank(edges, max_iter=10, tol=1e-15).collect():
        assert r["rank"] == pytest.approx(1.0 / 8, abs=1e-12)


def test_pagerank_personalized_zero_outside_reach(spark):
    # seeds in one component: the other component's rank is EXACTLY 0
    edges = _edges_df(
        spark,
        [("a0", "a1"), ("a1", "a2"), ("b0", "b1")],
    )
    rows = {
        r["node"]: r["rank"]
        for r in pagerank(
            edges, damping=0.5, max_iter=8, tol=0.0, seeds=["a0"]
        ).collect()
    }
    assert rows["b0"] == 0.0 and rows["b1"] == 0.0
    assert rows["a0"] > rows["a2"] > 0
    assert abs(sum(rows.values()) - 1.0) < 1e-9


def test_pagerank_personalized_matches_numpy(spark):
    names = ["a", "b", "c", "d"]
    directed = [(0, 1), (1, 2), (3, 1)]
    edges = _edges_df(spark, [(names[u], names[v]) for u, v in directed])
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            edges,
            damping=0.85,
            max_iter=5,
            tol=0.0,
            directed=True,
            seeds=["a", "d"],
        ).collect()
    }
    import numpy as np

    W = np.zeros((4, 4))
    for u, v in directed:
        W[u, v] = 1.0
    out = W.sum(axis=1)
    s = np.array([0.5, 0.0, 0.0, 0.5])
    r = s.copy()
    for _ in range(5):
        dangling = r[out == 0].sum()
        nz = out > 0
        contrib = (r[nz] / out[nz]) @ W[nz]
        r = 0.15 * s + 0.85 * (contrib + dangling * s)
    for i, nm in enumerate(names):
        assert got[nm] == pytest.approx(r[i], abs=1e-12), nm


def test_pagerank_factored_matches_materialized(spark):
    """pagerank_coengagement must equal pagerank over the materialized
    projection (same damping/iters) — exact on the dyadic fixture,
    <=1e-9 relative on the real engagement relation (float association
    differs between the factored and materialized matvecs)."""
    from echo_chambers_detection_spark.catalog.graph import (
        _factored_star_engagements,
    )
    from echo_chambers_detection_spark.operators.coengagement import (
        coengagement_edges,
    )
    from echo_chambers_detection_spark.operators.graph import (
        pagerank,
        pagerank_coengagement,
    )
    from echo_chambers_detection_spark.sources.domain import (
        engagements_from_events,
    )
    from echo_chambers_detection_spark.sources.tables import load_table

    # dyadic star: bit-exact
    eng = _factored_star_engagements(spark)
    fact = {
        r["node"]: r["rank"]
        for r in pagerank_coengagement(
            eng, damping=1.0, max_iter=3, tol=0.0, seeds=["hub"]
        ).collect()
    }
    mat = {
        r["node"]: r["rank"]
        for r in pagerank(
            coengagement_edges(eng),
            damping=1.0, max_iter=3, tol=0.0, weighted=True,
            seeds=["hub"],
        ).collect()
    }
    assert fact == mat and fact["hub"] == 0.25

    # real engagements at sf0.001
    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    eng = engagements_from_events(ev)
    fact = {
        r["node"]: r["rank"]
        for r in pagerank_coengagement(
            eng, damping=0.85, max_iter=3, tol=0.0
        ).collect()
    }
    mat = {
        r["node"]: r["rank"]
        for r in pagerank(
            coengagement_edges(eng),
            damping=0.85, max_iter=3, tol=0.0, weighted=True,
        ).collect()
    }
    assert set(fact) == set(mat) and fact
    for k in fact:
        assert abs(fact[k] - mat[k]) <= 1e-9 * max(abs(mat[k]), 1e-30), k


def test_pagerank_factored_excludes_isolated_users(spark):
    # a user whose only post nobody else engages has wdeg 0 — absent
    # from the materialized projection, so absent here too
    eng = spark.createDataFrame(
        [("a", "p1"), ("b", "p1"), ("solo", "p9")],
        ["user_did", "post_uri"],
    )
    from echo_chambers_detection_spark.operators.graph import (
        pagerank_coengagement,
    )

    nodes = {
        r["node"] for r in pagerank_coengagement(eng, max_iter=2).collect()
    }
    assert nodes == {"a", "b"}


def test_refine_chain_move_resolves_through_rep(spark):
    """Pin the chain-move corner of the pairw-based refinement (round 9):
    in one synchronous round, v merges into u while w merges into v's
    now-vacated sub — the singleton sub keeps id v but its only member
    is w. Later rounds must resolve node-level state (k, is_mover, the
    applied-join key) through the MEMBER (rep), not the sub id; a
    sub-id lookup silently no-ops the w move and strands it. Fixture:
    path w—v—u plus x—u, unit weights (m=3). Ids chosen so (a) string
    order is w < v < u=zz and x < zz, (b) w and v have EVEN xxhash
    parity (move at round 0: w→v gain 2/3, v's tie between u and w
    breaks to max id = u, gain 1/3), (c) x has ODD parity (moves at
    round 1 into the grown sub zz, gain 1/3 — keeping the loop alive
    across the zero-parity round for w). Round 2: w escapes sub v into
    zz (gain 1/6) — THE move that only resolves through rep. Expected
    fixpoint: one sub containing all four nodes."""
    from echo_chambers_detection_spark.operators.graph import _refine

    pool = [f"n{i:02d}" for i in range(40)]
    par = {
        r["id"]: r["p"]
        for r in spark.createDataFrame(
            [(x,) for x in pool], "id string"
        ).select("id", F.pmod(F.xxhash64("id"), F.lit(2)).alias("p")).collect()
    }
    evens = sorted(x for x in pool if par[x] == 0)
    odds = sorted(x for x in pool if par[x] == 1)
    assert len(evens) >= 2 and len(odds) >= 1, "parity pool too small"
    w_id, v_id = evens[0], evens[1]
    x_id = odds[0]
    u_id = "zz"  # lexically above every pool id

    sym = spark.createDataFrame(
        [
            (w_id, v_id, 1.0), (v_id, w_id, 1.0),
            (v_id, u_id, 1.0), (u_id, v_id, 1.0),
            (x_id, u_id, 1.0), (u_id, x_id, 1.0),
        ],
        "src string, dst string, weight double",
    )
    nodes = [u_id, v_id, w_id, x_id]
    selfw = spark.createDataFrame(
        [(n, 0.0) for n in nodes], "node string, w_self double"
    )
    comm = spark.createDataFrame(
        [(n, "C") for n in nodes], "node string, community string"
    )
    out = _refine(sym, selfw, comm, m=3.0, small_state=True)
    subs = {r["node"]: r["sub"] for r in out.collect()}
    assert set(subs) == set(nodes)
    assert len(set(subs.values())) == 1, (
        f"chain move did not resolve through rep: {subs} "
        f"(w={w_id}, v={v_id}, u={u_id}, x={x_id})"
    )


def test_generation_scope_bounds_pinned_blocks(spark):
    """The loop scope keeps at most the kept frames plus two generations
    pinned while it steps, frees everything it still owns on exit, and
    leaves only what result() handed over."""
    from echo_chambers_detection_spark.operators.graph import (
        _generations,
        _release_checkpoint,
    )

    base = _pinned(spark)
    with _generations() as g:
        kept = g.keep(spark.range(8).toDF("x"), wide=True)
        state = g.keep(spark.range(8).toDF("x"))
        per_gen = len(_pinned(spark) - base) // 2
        assert per_gen >= 1
        for i in range(20):
            state, total, n = g.step(
                state.select((F.col("x") + 1).alias("x"), F.lit(i).alias("_i")),
                ["x"],
                prev=state,
                total=F.sum("x"),
                n=F.count("*"),
            )
            assert state.columns == ["x"]
            assert (total, n) == (sum(range(8)) + 8 * (i + 1), 8)
            assert len(_pinned(spark) - base) <= 3 * per_gen
        out = g.result(state.where(F.col("x") > 20), state)
    # only the handed-over generation outlives the scope
    assert 0 < len(_pinned(spark) - base) <= per_gen
    assert sorted(r["x"] for r in out.collect()) == list(range(21, 28))
    assert not kept._ckpt_rdd_ids
    _release_checkpoint(out)
    assert _pinned(spark) == base


def test_generation_scope_frees_on_exception(spark):
    from echo_chambers_detection_spark.operators.graph import _generations

    base = _pinned(spark)
    with pytest.raises(ValueError, match="mid-loop"):
        with _generations() as g:
            g.keep(spark.range(4).toDF("x"), wide=True)
            state = g.keep(spark.range(4).toDF("x"))
            state = g.step(state.select((F.col("x") * 2).alias("x")), prev=state)
            raise ValueError("mid-loop")
    assert _pinned(spark) == base


def test_generation_scope_adopts_and_frees_several_prev(spark):
    """adopt() owns what a nested scope handed over, and one step() can
    retire several dead frames at once."""
    from echo_chambers_detection_spark.operators.graph import _generations

    base = _pinned(spark)
    with _generations() as g:
        with _generations() as inner:
            handed = inner.result(inner.keep(spark.range(4).toDF("x")))
        a = g.adopt(handed)
        b = g.keep(spark.range(4).toDF("x"))
        c = g.step(a.union(b), prev=(a, b))
        assert c.count() == 8
        assert len(_pinned(spark) - base) == len(c._ckpt_rdd_ids)
    assert _pinned(spark) == base


@pytest.mark.parametrize("fn", [louvain, leiden, modularity_optimization])
def test_zero_weight_graph_pins_nothing(spark, fn):
    """With m = 0 the Louvain family returns the singleton partition;
    the symmetrized graph checkpointed to read m must not stay pinned."""
    from echo_chambers_detection_spark.operators.graph import (
        _release_checkpoint,
    )

    e = _edges_df(spark, [("a", "b", 0.0), ("b", "c", 0.0)], weighted=True)
    base = _pinned(spark)
    out = fn(e)
    assert {(r["node"], r["community"]) for r in out.collect()} == {
        (x, x) for x in "abc"
    }
    _release_checkpoint(out)
    assert _pinned(spark) == base


def test_leiden_raise_mid_level_pins_nothing(spark, planted, monkeypatch):
    """An exception in Leiden's second level frees every generation the
    call had checkpointed, and nothing it does not own. The test holds
    every pinned RDD (a sentinel of its own among them) for the call's
    length, so Spark's ContextCleaner cannot unpersist an earlier
    test's dead frames mid-call: any pin that goes, Leiden freed."""
    import echo_chambers_detection_spark.operators.graph as G
    from echo_chambers_detection_spark import placement

    real, calls = G._coarsen, []

    def coarsen_failing_at_level_2(*a, **kw):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected at level 2")
        return real(*a, **kw)

    monkeypatch.setattr(G, "_coarsen", coarsen_failing_at_level_2)
    sentinel = G.tracked_checkpoint(planted)
    held = spark.sparkContext._jsc.getPersistentRDDs()
    base = {int(i) for i in held.keySet().toArray()}
    assert sentinel._ckpt_rdd_ids and set(sentinel._ckpt_rdd_ids) <= base
    with placement.distributed(), pytest.raises(RuntimeError, match="injected"):
        G.leiden(planted, max_levels=3, max_rounds=4)
    assert _pinned(spark) == base
    G._release_checkpoint(sentinel)
    del held


def test_loop_operators_release_all_checkpoints(spark):
    """Checkpoint-leak regression (round 9): the flagship loop operators
    must leave ZERO pinned RDD blocks behind once the caller releases
    the returned frame — before the round-9 finalize, one distributed
    leiden call leaked 5 frames (comm0, last selfw, mapping, sub2comm,
    comps_u) for the life of the session, and bench's between-query
    sweep exempted locally-checkpointed blocks so they accumulated
    across all 133 queries. Covers every loop operator, with both
    driver mirrors disabled so the distributed loops run on a small
    planted graph, and asserts the pinned-RDD set returns to baseline
    after _release_checkpoint(result)."""
    import echo_chambers_detection_spark.operators.graph as G
    from echo_chambers_detection_spark import placement
    from echo_chambers_detection_spark.operators.graph import (
        _release_checkpoint,
    )
    import echo_chambers_detection_spark.operators.hdbscan as H
    from echo_chambers_detection_spark.operators.planted import (
        planted_arc_embeddings,
        planted_partition_edges,
    )
    from echo_chambers_detection_spark.operators.triangles import ktruss_edges

    e = planted_partition_edges(spark, 4, 60, 5, bridges=True, partitions=4)
    u = e.select("u1", "u2")
    # both endpoints of each edge engage post "p<u2>"
    post = F.concat(F.lit("p"), "u2").alias("post_uri")
    eng = u.select(F.col("u1").alias("user_did"), post).unionAll(
        u.select(F.col("u2").alias("user_did"), post)
    )
    # a 40-node slice for Borůvka, a caterpillar forest (40 hubs of 9
    # pendant leaves) for the contraction and the two-level condense,
    # and 4 arcs of 20 points for HDBSCAN
    small_forest_input = e.where(F.col("u2") < "000040").select(
        "u1", "u2",
        (F.abs(F.xxhash64("u1", "u2")) % 97 + 1).cast("double").alias("w"),
    )
    hub = F.format_string("h%03d", F.col("id") % 40)
    caterpillar = spark.range(0, 360, 1, 2).select(
        hub.alias("u1"),
        F.format_string("%sx%d", hub, F.floor(F.col("id") / 40)).alias("u2"),
        (F.lit(0.001) + F.col("id") * 1e-9).alias("w"),
    ).unionAll(
        spark.range(0, 39, 1, 1).select(
            F.format_string("h%03d", F.col("id")).alias("u1"),
            F.format_string("h%03d", F.col("id") + 1).alias("u2"),
            (F.lit(1.0) + F.col("id") * 1e-4).alias("w"),
        )
    )
    arcs = planted_arc_embeddings(spark, 4, 20)

    def contracted(*a, **kw):
        with placement.distributed("condense"):
            return H.hdbscan_cluster(*a, **kw)

    # force the distributed loops (the k-NN tiles stay on the driver)
    loops = placement.KERNELS - {"knn", "condense", "community_table"}
    with placement.distributed(*loops):
        for name, fn in [
            ("louvain", lambda: G.louvain(e, max_levels=2, max_rounds=2)),
            ("leiden", lambda: G.leiden(e, max_levels=2, max_rounds=2)),
            ("pagerank", lambda: G.pagerank(u, max_iter=3, tol=0.0)),
            ("pagerank_directed", lambda: G.pagerank(
                u, max_iter=3, tol=1e-12, directed=True
            )),
            ("pagerank_coengagement", lambda: G.pagerank_coengagement(
                eng, max_iter=2, tol=1e-12
            )),
            ("kcore", lambda: G.kcore(u)),
            ("connected_components", lambda: G.connected_components(u)),
            ("label_propagation", lambda: G.label_propagation(u, max_iter=2)),
            ("bfs_distances", lambda: G.bfs_distances(u, max_iter=3)),
            ("bfs_landmark_distances", lambda: G.bfs_landmark_distances(
                u, n_landmarks=2, max_iter=3
            )),
            ("bellman_ford_khop", lambda: G.bellman_ford_khop(e, k=3)),
            ("bellman_ford_landmark", lambda: G.bellman_ford_landmark(
                e, n_landmarks=2, k=3
            )),
            ("shortest_path_counts", lambda: G.shortest_path_counts(
                u, n_sources=2, max_iter=3
            )),
            ("brandes_betweenness", lambda: G.brandes_betweenness(
                u, n_sources=2, max_iter=3
            )),
            ("seeded_random_walks", lambda: G.seeded_random_walks(u, length=2)),
            ("ktruss_edges", lambda: ktruss_edges(u, k=4)),
            ("fastrp", lambda: G.fastrp(e, dim=8)),
            ("modularity_optimization", lambda: G.modularity_optimization(
                e, max_rounds=2
            )),
            ("minimum_spanning_forest", lambda: H.minimum_spanning_forest(
                small_forest_input
            )),
            ("contract_runt_fringes", lambda: H.contract_runt_fringes(
                caterpillar, min_cluster_size=10
            )),
            ("condense_two_level", lambda: H.condense_two_level(
                c_e, c_n, min_cluster_size=10, driver_rows=24
            )),
            ("hdbscan_cluster", lambda: H.hdbscan_cluster(
                arcs, min_pts=3, min_cluster_size=5
            )),
            # (a contracted forest this small condenses in one collect)
            ("hdbscan_cluster contracted", lambda: contracted(
                arcs, min_pts=3, min_cluster_size=5
            )),
        ]:
            if name == "condense_two_level":
                # its input is the contraction's output, made outside the
                # measured window
                c_e, c_n, mm = H.contract_runt_fringes(
                    caterpillar, min_cluster_size=10
                )
            base = _pinned(spark)
            out = fn()
            outs = out if isinstance(out, tuple) else (out,)
            for o in outs:
                o.count()  # materialize like a caller would
            _release_checkpoint(*outs)
            leaked = _pinned(spark) - base
            assert not leaked, f"{name} leaked pinned RDDs: {sorted(leaked)}"
            if name == "condense_two_level":
                _release_checkpoint(c_e, c_n, mm)


def test_operators_release_all_checkpoints(spark):
    """The sibling of the loop-operator leak check for the public
    operators that own their checkpoints through `_owns_checkpoints`
    (and `graph_ann_topk`, a `_generations` loop): on tiny inputs with
    every kernel forced distributed, so their checkpoints happen, the
    pinned-RDD set returns to baseline once the caller releases the
    result. Every leaking operator is named in the failure."""
    from echo_chambers_detection_spark import placement
    from echo_chambers_detection_spark.catalog.graph import _post_graph
    from echo_chambers_detection_spark.catalog.metrics import _mint_and_metrics
    from echo_chambers_detection_spark.operators import (
        ann as A,
        dedup as D,
        metrics as M,
        triangles as T,
    )
    from echo_chambers_detection_spark.operators.eventstats import (
        misra_gries_heavy_hitters,
    )
    from echo_chambers_detection_spark.operators.graph import (
        _release_checkpoint,
        landmark_closeness,
    )
    from echo_chambers_detection_spark.operators.graphann import (
        graph_ann_topk,
        skiplist_edges,
    )
    from echo_chambers_detection_spark.operators.planted import (
        planted_arc_embeddings,
    )
    from tests.conftest import SF_ORACLE

    pairs = _clique([f"a{i}" for i in range(4)]) + _clique(
        [f"b{i}" for i in range(4)]
    ) + [("a0", "b0")]
    u = spark.createDataFrame(pairs, "u1 string, u2 string")
    arcs = planted_arc_embeddings(spark, 2, 12)
    labels = arcs.select("node", F.substring("node", 1, 2).alias("label"))
    emb = arcs.select(F.col("node").alias("post_cid"), "vector")
    query = spark.createDataFrame([([1.0, 0.0],)], "qvec array<double>")
    sigs = spark.range(24).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5 * 257).alias("simhash"),
    )
    arc_q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "qid long, qvec array<double>"
    )
    leaks = {}
    with placement.distributed():
        for name, fn in [
            ("triangle_vertices", lambda: T.triangle_vertices(u)),
            ("triangle_counts", lambda: T.triangle_counts(u)),
            ("transitivity_stats", lambda: T.transitivity_stats(u)),
            ("degree_assortativity_moments",
             lambda: T.degree_assortativity_moments(u)),
            ("simhash_candidate_pairs_banded",
             lambda: D.simhash_candidate_pairs_banded(sigs, max_hamming=3)),
            ("simhash_candidate_pairs", lambda: D.simhash_candidate_pairs(sigs)),
            ("semantic_clusters", lambda: D.semantic_clusters(emb, k=2)),
            ("semantic_dedup_keep_list",
             lambda: D.semantic_dedup_keep_list(emb, threshold=0.99, k=2)),
            ("lsh_near_dup_pairs", lambda: A.lsh_near_dup_pairs(
                emb, 2, 0.99, num_planes=8, band_bits=4
            )),
            ("pq_topk", lambda: A.pq_topk(
                emb, query, k_results=3, m=2, n_centroids=4, iters=2
            )),
            ("ivf_topk", lambda: A.ivf_topk(
                emb, query, k_results=3, n_cells=2, nprobe=1, iters=2
            )),
            ("community_metrics", lambda: M.community_metrics(u, labels, arcs)),
            ("community_table", lambda: M.community_table(u, labels, arcs)),
            ("misra_gries_heavy_hitters",
             lambda: misra_gries_heavy_hitters(u, "u1", k=2)),
            ("landmark_closeness",
             lambda: landmark_closeness(u, n_landmarks=2, max_iter=3)),
            ("graph_ann_topk", lambda: graph_ann_topk(
                skiplist_edges(spark, 24), arcs, arc_q, k=3, beam=4
            )),
            ("_post_graph", lambda: _post_graph(spark, SF_ORACLE)),
            ("_mint_and_metrics",
             lambda: _mint_and_metrics(u, labels, arcs, "k")),
        ]:
            base = _pinned(spark)
            out = fn()
            out.count()  # materialize like a caller would
            _release_checkpoint(out)
            leaked = _pinned(spark) - base
            if leaked:
                leaks[name] = sorted(leaked)
    assert not leaks, f"operators leaked pinned RDDs: {leaks}"
