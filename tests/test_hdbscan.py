"""HDBSCAN* operator tests (operators/hdbscan.py): hand-computed
condense/stability cases, Kruskal-vs-Borůvka forest parity, and an
end-to-end blob fixture through the Spark pipeline."""

from __future__ import annotations

import numpy as np
import pytest

import echo_chambers_detection_spark.operators.graph as G
from echo_chambers_detection_spark import placement
from tests.conftest import lane
from echo_chambers_detection_spark.operators.hdbscan import (
    _kruskal_local,
    condense_and_select,
    hdbscan_cluster,
    knn_graph,
    knn_graph_ann,
    minimum_spanning_forest,
)


def test_condense_two_triangles():
    """Two tight 3-point groups bridged by a long edge: with
    min_cluster_size=3 both sides are genuine clusters; with 4 the only
    condensed cluster holds every point and is unselectable
    (allow_single_cluster=False), so everything is noise."""
    nodes = ["a1", "a2", "a3", "b1", "b2", "b3"]
    mst = [
        ("a1", "a2", 0.1), ("a2", "a3", 0.1),
        ("b1", "b2", 0.1), ("b2", "b3", 0.1),
        ("a3", "b1", 10.0),
    ]
    got = condense_and_select(nodes, mst, min_cluster_size=3)
    assert got == {
        "a1": "a1", "a2": "a1", "a3": "a1",
        "b1": "b1", "b2": "b1", "b3": "b1",
    }
    assert set(condense_and_select(nodes, mst, 4).values()) == {"-1"}


def test_condense_runt_falls_out():
    """A 2-point runt bridged onto two genuine clusters
    (min_cluster_size=3) becomes noise while both clusters survive."""
    nodes = ["c1", "c2", "c3", "c4", "d1", "d2", "d3", "r1", "r2"]
    mst = [
        ("c1", "c2", 0.1), ("c2", "c3", 0.1), ("c3", "c4", 0.1),
        ("d1", "d2", 0.1), ("d2", "d3", 0.1),
        ("r1", "r2", 0.1),          # runt pair, tight internally
        ("c4", "d1", 5.0),          # genuine split point
        ("d3", "r1", 6.0),          # runt hangs furthest out
    ]
    got = condense_and_select(nodes, mst, min_cluster_size=3)
    assert got == {
        "c1": "c1", "c2": "c1", "c3": "c1", "c4": "c1",
        "d1": "d1", "d2": "d1", "d3": "d1",
        "r1": "-1", "r2": "-1",
    }


def test_condense_single_cluster_is_noise():
    """Standard allow_single_cluster=False semantics: when the root
    cluster never genuinely splits (one dense blob + a runt), no cluster
    is selectable and everything is noise — same behavior as the
    reference implementation of HDBSCAN*."""
    nodes = ["c1", "c2", "c3", "c4", "r1", "r2"]
    mst = [
        ("c1", "c2", 0.1), ("c2", "c3", 0.1), ("c3", "c4", 0.1),
        ("r1", "r2", 0.1),
        ("c4", "r1", 5.0),
    ]
    got = condense_and_select(nodes, mst, min_cluster_size=3)
    assert set(got.values()) == {"-1"}


def test_condense_forest_components_cluster_independently():
    """Disconnected forest: each tree is a child of the virtual root and
    selectable on its own (neither holds ALL points)."""
    nodes = ["a1", "a2", "a3", "b1", "b2", "b3"]
    mst = [
        ("a1", "a2", 0.1), ("a2", "a3", 0.1),
        ("b1", "b2", 0.2), ("b2", "b3", 0.2),
    ]
    got = condense_and_select(nodes, mst, min_cluster_size=3)
    assert got == {
        "a1": "a1", "a2": "a1", "a3": "a1",
        "b1": "b1", "b2": "b1", "b3": "b1",
    }


def _blob_embeddings(spark, n_per=12, n_noise=4, dim=8, seed=7):
    rng = np.random.default_rng(seed)
    rows = []
    centers = np.eye(dim)[:3] * 10.0
    for b, c in enumerate(centers):
        for i in range(n_per):
            v = c + rng.normal(0, 0.05, dim)
            rows.append((f"blob{b}_p{i:02d}", [float(x) for x in v]))
    for i in range(n_noise):
        v = rng.normal(0, 1, dim) * 5.0
        rows.append((f"noise_{i}", [float(x) for x in v]))
    return spark.createDataFrame(rows, "node string, vector array<double>"), {
        b: {f"blob{b}_p{i:02d}" for i in range(n_per)} for b in range(3)
    }


def test_hdbscan_blobs_end_to_end(spark):
    emb, blobs = _blob_embeddings(spark)
    out = {
        r["node"]: r["cluster"]
        for r in hdbscan_cluster(
            emb, min_pts=3, min_cluster_size=5, k=8
        ).collect()
    }
    assert len(out) == 3 * 12 + 4
    for b, members in blobs.items():
        labels = {out[m] for m in members}
        assert len(labels) == 1, f"blob {b} split: {labels}"
        assert labels != {"-1"}, f"blob {b} dissolved to noise"
    # distinct blobs get distinct labels
    assert len({next(iter({out[m] for m in ms})) for ms in blobs.values()}) == 3


def test_boruvka_unionfind_contraction_matches_kruskal(spark):
    """Round-13 contraction fast path: distributed Borůvka whose picked
    frame fits the driver bound contracts via ONE collect + the
    union-find mirror (not the nested distributed CC). Force Kruskal
    distributed, leaving the contraction on the driver, and pin the
    EXACT edge set against local Kruskal (both deterministic under the
    (w, u1, u2) total order)."""
    rng = np.random.default_rng(11)
    n = 30
    rows = []
    for i in range(n):
        for j in range(i + 1, n):
            if rng.random() < 0.3:
                rows.append(
                    (f"v{i:02d}", f"v{j:02d}", float(rng.integers(1, 9)))
                )
    edges = spark.createDataFrame(rows, "u1 string, u2 string, w double")
    want = sorted(
        (r["u1"], r["u2"], r["w"])
        for r in minimum_spanning_forest(edges).collect()
    )
    with placement.distributed("kruskal"):
        got = sorted(
            (r["u1"], r["u2"], r["w"])
            for r in minimum_spanning_forest(edges).collect()
        )
    assert got == want


def test_forest_parity_local_vs_boruvka(spark):
    """Same fixture through local Kruskal and distributed Borůvka: both
    must be spanning forests of equal total weight (strict (w,u1,u2)
    total order makes both deterministic)."""
    rng = np.random.default_rng(3)
    n = 30
    rows = []
    for i in range(n):
        for j in range(i + 1, n):
            if rng.random() < 0.25:
                rows.append(
                    (f"v{i:02d}", f"v{j:02d}", float(rng.integers(1, 6)))
                )
    edges = spark.createDataFrame(rows, "u1 string, u2 string, w double")

    local = minimum_spanning_forest(edges).collect()
    with placement.distributed():
        dist = minimum_spanning_forest(edges).collect()

    def summarize(rs):
        return len(rs), round(sum(r["w"] for r in rs), 6)

    assert summarize(local) == summarize(dist)
    # forest invariant: |edges| = |nodes| - |components| (via union-find)
    nodes = {x for r in rows for x in (r[0], r[1])}
    comp = {x: x for x in nodes}

    def find(x):
        while comp[x] != x:
            comp[x] = comp[comp[x]]
            x = comp[x]
        return x

    for u1, u2, _ in rows:
        comp[find(u1)] = find(u2)
    n_comp = len({find(x) for x in nodes})
    assert summarize(local)[0] == len(nodes) - n_comp


def test_kruskal_total_weight_is_minimal():
    """Cross-check Kruskal against brute force on a tiny graph."""
    import itertools

    rng = np.random.default_rng(11)
    nodes = [f"n{i}" for i in range(7)]
    edges = []
    for a, b in itertools.combinations(nodes, 2):
        if rng.random() < 0.6:
            edges.append((a, b, float(rng.integers(1, 9))))
    picked = _kruskal_local(edges)
    got = sum(w for _, _, w in picked)

    # brute force over spanning forests of the same size
    best = None
    size = len(picked)
    for combo in itertools.combinations(edges, size):
        comp = {x: x for x in nodes}

        def find(x):
            while comp[x] != x:
                comp[x] = comp[comp[x]]
                x = comp[x]
            return x

        acyclic = True
        for u1, u2, _ in combo:
            a, b = find(u1), find(u2)
            if a == b:
                acyclic = False
                break
            comp[a] = b
        if acyclic:
            wsum = sum(w for _, _, w in combo)
            best = wsum if best is None else min(best, wsum)
    assert best is not None and got == best


def test_knn_graph_exact_neighbors(spark):
    """knn_graph's tiled top-k equals a brute-force nearest-neighbor
    computation."""
    emb, _ = _blob_embeddings(spark, n_per=5, n_noise=2)
    rows = emb.collect()
    vecs = {r["node"]: np.array(r["vector"]) for r in rows}

    got = {}
    for r in knn_graph(emb, k=3, num_blocks=4).collect():
        got.setdefault(r["src"], set()).add(r["dst"])

    for node, v in vecs.items():
        dists = []
        for other, w in vecs.items():
            if other == node:
                continue
            cos = float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w)))
            dists.append((round(1.0 - round(cos, 6), 9), other))
        want = {d for _, d in sorted(dists)[:3]}
        # ties at the boundary may legitimately swap members; compare
        # the distance multiset instead of ids where that happens
        got_d = sorted(
            round(d, 9)
            for d, o in dists
            if o in got[node]
        )
        want_d = sorted(d for d, _ in sorted(dists)[:3])
        assert got_d == want_d, node


def test_knn_graph_duplicate_vector_ties_deterministic(spark):
    """ADVICE r3: with far more than k+4 identical vectors (all pairwise
    dist 0), tile-local pruning must keep the tie set in the same
    (dist, dst) order the global window uses — raw argpartition alone
    dropped an arbitrary, shuffle-order-dependent subset. With 20 dups
    the winners must be exactly the k lexicographically smallest OTHER
    ids, on every run and for every block count."""
    dup = [("d%02d" % i, [1.0, 0.0, 0.0]) for i in range(20)]
    emb = spark.createDataFrame(dup, "node string, vector array<float>")
    want = {
        src: ["d%02d" % j for j in range(20) if "d%02d" % j != src][:3]
        for src, _ in dup
    }
    for num_blocks in (1, 3, 8):
        rows = knn_graph(emb, k=3, num_blocks=num_blocks).collect()
        got: dict[str, list[str]] = {}
        for r in sorted(rows, key=lambda r: (r["src"], r["dist"], r["dst"])):
            got.setdefault(r["src"], []).append(r["dst"])
            assert r["dist"] == 0.0
        assert got == want, f"num_blocks={num_blocks}"


def test_knn_graph_ann_exhaustive_matches_exact(spark):
    """nprobe == n_cells makes knn_graph_ann exhaustive: every point
    queries every cell, so candidates are all pairs and the result must
    be BIT-IDENTICAL to the exact tiled path — same rounding, same
    (dist, dst) ties."""
    emb, _ = _blob_embeddings(spark, n_per=10, n_noise=3)
    exact = {
        (r["src"], r["dst"], r["dist"])
        for r in knn_graph(emb, k=4, num_blocks=3).collect()
    }
    ann = {
        (r["src"], r["dst"], r["dist"])
        for r in knn_graph_ann(
            emb, k=4, n_cells=4, nprobe=4, iters=2
        ).collect()
    }
    assert ann == exact


def test_knn_graph_ann_pruned_recall(spark):
    """Pruned configuration at the HDBSCAN operating point (k=10):
    neighbor recall vs the exact graph must hold >= 0.95 — the
    dual-path crossover contract (VERDICT r3 #1). Blob data is the
    honest case for IVF: cells align with density, which is exactly
    when the chain would use this path."""
    emb, _ = _blob_embeddings(spark, n_per=25, n_noise=10, dim=8)
    exact = {
        (r["src"], r["dst"])
        for r in knn_graph(emb, k=10, num_blocks=3).collect()
    }
    ann = {
        (r["src"], r["dst"])
        for r in knn_graph_ann(
            emb, k=10, n_cells=8, nprobe=3, iters=2
        ).collect()
    }
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.95, f"recall {recall:.3f}"


def test_hdbscan_ann_mode_end_to_end(spark):
    """hdbscan_cluster(knn_mode='ann') recovers the same blob clusters
    as the exact kernel — the k-NN kernel swap changes recall, not
    semantics, and on well-separated blobs the pruned candidates
    contain every MST edge."""
    emb, blobs = _blob_embeddings(spark, n_per=12, n_noise=4)
    exact = {
        r["node"]: r["cluster"]
        for r in hdbscan_cluster(
            emb, min_pts=3, min_cluster_size=5, k=8, knn_mode="exact"
        ).collect()
    }
    ann = {
        r["node"]: r["cluster"]
        for r in hdbscan_cluster(
            emb,
            min_pts=3,
            min_cluster_size=5,
            k=8,
            knn_mode="ann",
            n_cells=6,
            nprobe=3,
        ).collect()
    }
    for b, members in blobs.items():
        assert {ann[m] for m in members} == {exact[next(iter(members))]}, b


def test_knn_graph_ann_deterministic_across_runs(spark):
    """Two invocations produce identical rows (md5-seeded centroids,
    stable probe ordering, (dist, dst) pruning)."""
    emb, _ = _blob_embeddings(spark, n_per=8, n_noise=2)
    a = sorted(
        map(tuple, knn_graph_ann(emb, k=3, n_cells=4, nprobe=2).collect())
    )
    b = sorted(
        map(tuple, knn_graph_ann(emb, k=3, n_cells=4, nprobe=2).collect())
    )
    assert a == b and len(a) > 0


def test_hdbscan_numeric_id_column(spark):
    """Non-string id columns must work (ids come back stringified, the
    forest/condense tail keys by string) — regression for the raw-vs-str
    key mismatch in condense_and_select."""
    emb, _ = _blob_embeddings(spark, n_per=8, n_noise=2)
    numeric = emb.selectExpr(
        "cast(abs(hash(node)) as bigint) as node", "vector"
    )
    out = hdbscan_cluster(
        numeric, min_pts=3, min_cluster_size=5, k=8
    ).collect()
    assert len(out) == 8 * 3 + 2
    labels = {r["cluster"] for r in out}
    assert len(labels - {"-1"}) == 3  # blobs survive the id cast


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("mcs", [3, 5, 8])
def test_condense_single_linkage_identity(seed, mcs):
    """Structural identity independent of the condense implementation:
    in single linkage, a selected cluster's member set M must equal the
    connected component (within the forest) under edges strictly below
    M's detach weight — the minimum weight of forest edges crossing M.
    Distinct weights make the identity exact. Also: |M| >= mcs, labels
    partition non-noise points, every label is one of its members."""
    rng = np.random.default_rng(seed)
    n = 40
    nodes = [f"p{i:02d}" for i in range(n)]
    # random spanning structure: attach each node to a random earlier
    # node; two separate trees (forest case) when seed is odd
    cut = n // 2 if seed % 2 else n
    edges = []
    weights = rng.permutation(n * 10)[: n - 1] / 7.0 + 0.01  # distinct
    wi = 0
    for i in range(1, n):
        if i == cut:
            continue  # second tree root
        lo = cut if i > cut else 0
        j = int(rng.integers(lo, i)) if i > lo else 0
        edges.append((nodes[j], nodes[i], float(weights[wi])))
        wi += 1

    got = condense_and_select(nodes, edges, min_cluster_size=mcs)
    assert set(got) == set(nodes)
    # determinism
    assert got == condense_and_select(nodes, edges, min_cluster_size=mcs)

    clusters: dict[str, set[str]] = {}
    for node, lab in got.items():
        if lab != "-1":
            clusters.setdefault(lab, set()).add(node)

    adj: dict[str, list[tuple[str, float]]] = {s: [] for s in nodes}
    for u1, u2, w in edges:
        adj[u1].append((u2, w))
        adj[u2].append((u1, w))

    for lab, members in clusters.items():
        assert lab in members  # label is the min member id
        assert lab == min(members)
        assert len(members) >= mcs
        # detach weight: cheapest forest edge leaving the member set
        crossing = [
            w
            for u1, u2, w in edges
            if (u1 in members) != (u2 in members)
        ]
        wb = min(crossing) if crossing else float("inf")
        # component of `lab` under edges with w < wb must equal members
        seen = {lab}
        stack = [lab]
        while stack:
            v = stack.pop()
            for nb, w in adj[v]:
                if w < wb and nb not in seen:
                    seen.add(nb)
                    stack.append(nb)
        assert seen == members, (lab, mcs)


def _contracted_labels(spark, nodes, edges, mcs):
    """Run the exact path hdbscan_cluster takes since VERDICT r4 #2:
    contract_runt_fringes -> weighted condense -> member expansion.
    Returns ({node: label}, contracted_edge_rows, contracted_node_rows)."""
    from echo_chambers_detection_spark.operators.hdbscan import (
        contract_runt_fringes,
    )

    f = spark.createDataFrame(edges, "u1 string, u2 string, w double")
    c_e, c_n, mm = contract_runt_fringes(f, mcs)
    f_rows = [(r["u1"], r["u2"], float(r["w"])) for r in c_e.collect()]
    node_rows = c_n.collect()
    sizes = {r["node"]: int(r["size"]) for r in node_rows}
    mins = {r["node"]: r["min_id"] for r in node_rows}
    lab_sn = condense_and_select(
        sorted(sizes), f_rows, mcs, node_sizes=sizes, node_min_ids=mins
    )
    snode_of = {r["member"]: r["snode"] for r in mm.collect()}
    out = {
        nd: lab_sn.get(snode_of[nd], "-1") if nd in snode_of else "-1"
        for nd in nodes
    }
    return out, len(f_rows), len(node_rows)


# quick lane: seeds 0 (one tree), 1/3 (two trees); full sweep behind
# SPARK_GRAFT_FULL_TESTS=1 (VERDICT r12 #2 verify-budget trim)
@pytest.mark.parametrize("seed", lane([0, 1, 2, 3, 4], [0, 1, 3]))
@pytest.mark.parametrize("mcs", [3, 5, 8])
def test_contracted_condense_matches_uncontracted(spark, seed, mcs):
    """Fringe contraction is label-INVISIBLE: on random spanning
    forests (same generator as the single-linkage identity test) the
    contracted weighted condense returns exactly the labels the plain
    n-row condense does."""
    rng = np.random.default_rng(seed)
    n = 40
    nodes = [f"p{i:02d}" for i in range(n)]
    cut = n // 2 if seed % 2 else n
    edges = []
    weights = rng.permutation(n * 10)[: n - 1] / 7.0 + 0.01
    wi = 0
    for i in range(1, n):
        if i == cut:
            continue
        lo = cut if i > cut else 0
        j = int(rng.integers(lo, i)) if i > lo else 0
        edges.append((nodes[j], nodes[i], float(weights[wi])))
        wi += 1

    want = condense_and_select(nodes, edges, min_cluster_size=mcs)
    got, n_e, n_n = _contracted_labels(spark, nodes, edges, mcs)
    assert got == want
    assert n_e <= len(edges) and n_n <= n


def test_contract_runt_fringes_bounds_collected_rows(spark):
    """The at-scale contract (VERDICT r4 #2): a backbone of 20 hubs,
    each with 8 pendant leaves whose edges all sort before the
    backbone edges, contracts to just the backbone — collected rows
    drop ~9x (bounded by ~n/min_cluster_size), and labels still match
    the uncontracted condense bit-for-bit."""
    mcs = 10
    hubs = [f"h{i:02d}" for i in range(20)]
    nodes = list(hubs)
    edges = []
    for i, h in enumerate(hubs):
        for j in range(8):
            leaf = f"{h}_l{j}"
            nodes.append(leaf)
            # distinct tiny weights, ascending per hub — every pendant
            # edge sorts before every backbone edge
            edges.append((h, leaf, 0.001 * (1 + j) + 0.00001 * i))
    for i in range(len(hubs) - 1):
        edges.append((hubs[i], hubs[i + 1], 1.0 + 0.001 * i))

    want = condense_and_select(nodes, edges, min_cluster_size=mcs)
    got, n_e, n_n = _contracted_labels(spark, nodes, edges, mcs)
    assert got == want
    assert len(edges) == 179
    assert n_e == 19, n_e     # backbone only
    assert n_n == 20, n_n     # one supernode per hub


def test_contract_runt_fringes_without_absorption(spark):
    """min_cluster_size 2 admits no absorption (condition (d) needs
    size(u) + size(v) < 2), so the three frames come back uncontracted
    — and readable: the supernode frame used to be a projection of a
    node seed that was freed before the return."""
    from echo_chambers_detection_spark.operators.graph import (
        _release_checkpoint,
    )
    from echo_chambers_detection_spark.operators.hdbscan import (
        contract_runt_fringes,
    )

    f = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("c", "d", 3.0)],
        "u1 string, u2 string, w double",
    )
    c_e, c_n, mm = contract_runt_fringes(f, 2)
    assert c_e.count() == 3
    assert sorted((r["node"], r["size"], r["min_id"]) for r in c_n.collect()) == [
        (x, 1, x) for x in "abcd"
    ]
    assert {(r["member"], r["snode"]) for r in mm.collect()} == {
        (x, x) for x in "abcd"
    }
    _release_checkpoint(c_e, c_n, mm)


def test_weighted_condense_defaults_identical():
    """node_sizes/node_min_ids default to 1/identity — the weighted
    arithmetic must be bit-identical to the unweighted form."""
    nodes = ["a1", "a2", "a3", "b1", "b2", "b3"]
    mst = [
        ("a1", "a2", 0.1), ("a2", "a3", 0.1),
        ("b1", "b2", 0.1), ("b2", "b3", 0.1),
        ("a3", "b1", 10.0),
    ]
    plain = condense_and_select(nodes, mst, 3)
    weighted = condense_and_select(
        nodes, mst, 3,
        node_sizes={s: 1 for s in nodes},
        node_min_ids={s: s for s in nodes},
    )
    assert plain == weighted


def test_hdbscan_contraction_gate_paths_agree(spark):
    """hdbscan_cluster takes the direct collect while the forest fits
    the driver budget and the contracted path past it (forced here) —
    both must label identically (the gate is a cost knob, never a
    semantics knob)."""
    df, blobs = _blob_embeddings(spark)
    direct = {
        r["node"]: r["cluster"]
        for r in hdbscan_cluster(
            df, min_pts=3, min_cluster_size=4, k=8
        ).collect()
    }
    with placement.distributed("condense"):
        contracted = {
            r["node"]: r["cluster"]
            for r in hdbscan_cluster(
                df, min_pts=3, min_cluster_size=4, k=8
            ).collect()
        }
    assert direct == contracted


def _spark_round6(spark, x):
    from pyspark.sql import functions as F

    from echo_chambers_detection_spark.session import driver_frame

    df = driver_frame(spark, [(float(v),) for v in x], "x double")
    return np.array([r[0] for r in df.select(F.round("x", 6)).collect()])


def test_round_half_up_matches_spark_round(spark):
    """`round_half_up` gives `F.round(x, 6)` bit for bit, signed zeros
    included, on exact half-steps (the dyadic (2j+1)/128), their
    negatives, 0, ±1 and random doubles; np.round (half to even) fails
    this grid at the half-steps."""
    from echo_chambers_detection_spark.operators.hdbscan import round_half_up

    halves = (2 * np.arange(64) + 1) / 128.0
    rng = np.random.default_rng(7)
    x = np.concatenate([
        halves, -halves, [0.0, -0.0, 1.0, -1.0, 1e-9, -1e-9],
        rng.uniform(-1.0, 1.0, 2000), rng.uniform(-1e-5, 1e-5, 200),
    ])
    got = round_half_up(x)
    assert got is not None
    want = _spark_round6(spark, x)
    assert np.array_equal(got.view(np.int64), want.view(np.int64))


def test_round_half_up_declines_near_a_half_step(spark):
    """5e-7 lies just below the half-step in binary, and Spark rounds
    its decimal repr "5.0E-7" up: the helper cannot tell, so it
    declines rather than guess."""
    from echo_chambers_detection_spark.operators.hdbscan import round_half_up

    assert _spark_round6(spark, [5e-7])[0] == 1e-6
    assert round_half_up(np.array([0.25, 5e-7])) is None


def _tie_heavy_embeddings(spark):
    vecs = [[1.0, 0.0, 0.0]] * 14 + [[0.0, 2.0, 0.0]] * 9 + [[0.0, 0.0, 0.0]]
    vecs += [[float(i % 3), 1.0, float(i % 5)] for i in range(16)]
    return spark.createDataFrame(
        [(f"n{i:03d}", v) for i, v in enumerate(vecs)],
        "node string, vector array<double>",
    )


@pytest.mark.parametrize("fixture", ["arcs", "tie_heavy"])
def test_hdbscan_kernel_matches_spark_steps(spark, monkeypatch, fixture):
    """`hdbscan_local`, which `hdbscan_cluster` runs when every step fits
    the driver, labels like the Spark steps it replaces (the same k-NN
    tiles, then Spark's rounding, window, joins and Kruskal): same
    rows, same schema."""
    import echo_chambers_detection_spark.operators.hdbscan as H
    from echo_chambers_detection_spark.operators.planted import (
        planted_arc_embeddings,
    )
    from echo_chambers_detection_spark.session import driver_table
    from tests.conftest import assert_same_schema

    emb = (
        planted_arc_embeddings(spark, 3, 20)
        if fixture == "arcs"
        else _tie_heavy_embeddings(spark)
    )

    def run():
        out = hdbscan_cluster(emb, min_pts=3, min_cluster_size=5, k=5)
        return out, sorted(out.collect())

    kernel, k_rows = run()
    monkeypatch.setattr(H, "_hdbscan_pulled", lambda *a, **kw: None)
    steps, s_rows = run()
    assert driver_table(kernel) is not None and driver_table(steps) is None
    assert_same_schema(kernel, steps)
    assert k_rows == s_rows
    assert len({r["cluster"] for r in k_rows}) > 1
    G._release_checkpoint(kernel, steps)
