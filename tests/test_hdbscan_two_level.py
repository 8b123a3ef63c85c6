"""Two-level condense (operators/hdbscan.py::condense_two_level,
VERDICT r5 #3): label parity with the classic driver condense on
random spanning forests, the infeasibility fallback, and the
driver-row bound that is the point of the exercise."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import lane

from echo_chambers_detection_spark.operators.hdbscan import (
    condense_and_select,
    condense_two_level,
    contract_runt_fringes,
    hdbscan_cluster,
)


def _random_forest(seed: int, n: int = 60):
    """Same generator family as the contraction parity tests: a random
    spanning forest (two trees on odd seeds) with distinct weights."""
    rng = np.random.default_rng(seed)
    nodes = [f"p{i:03d}" for i in range(n)]
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
    return nodes, edges


def _two_level_labels(spark, nodes, edges, mcs, driver_rows):
    """contract -> two-level condense -> member expansion, mirroring
    hdbscan_cluster's scale path with the θ budget forced tiny."""
    f = spark.createDataFrame(edges, "u1 string, u2 string, w double")
    c_e, c_n, mm = contract_runt_fringes(f, mcs)
    lab_sn = condense_two_level(c_e, c_n, mcs, driver_rows=driver_rows)
    if lab_sn is None:
        return None
    got_sn = {r["snode"]: r["_lab"] for r in lab_sn.collect()}
    snode_of = {r["member"]: r["snode"] for r in mm.collect()}
    return {
        nd: got_sn.get(snode_of[nd], "-1") if nd in snode_of else "-1"
        for nd in nodes
    }


# quick lane keeps seed 0 (single tree), 1 (two trees) and 3 (two trees,
# different topology) per mcs; seeds 2/4/5/6 are the same generator
# family and run under SPARK_GRAFT_FULL_TESTS=1 (VERDICT r12 #2)
@pytest.mark.parametrize("seed", lane([0, 1, 2, 3, 4, 5, 6], [0, 1, 3]))
@pytest.mark.parametrize("mcs", [3, 5, 8])
def test_two_level_matches_driver_condense(spark, seed, mcs):
    """θ-cut + per-component condense is label-invisible: on random
    forests (driver_rows forced tiny so several components and a real
    top tree exist) the labels equal the classic full condense."""
    nodes, edges = _random_forest(seed)
    want = condense_and_select(nodes, edges, min_cluster_size=mcs)
    got = _two_level_labels(spark, nodes, edges, mcs, driver_rows=30)
    assert got is not None
    assert got == want, (seed, mcs)


def test_two_level_handles_single_component(spark):
    """All edges below θ (one component, empty top tree) must still
    label correctly — the entered-at-root path with the selectable
    guard."""
    nodes, edges = _random_forest(2, n=30)
    want = condense_and_select(nodes, edges, min_cluster_size=3)
    # driver_rows larger than the edge count -> θ keeps ~half external;
    # instead force the one-component shape via a huge budget and a
    # weight table where the top quantile captures just one edge
    got = _two_level_labels(spark, nodes, edges, 3, driver_rows=4)
    assert got is not None
    assert got == want


def test_two_level_rejects_mcs_one(spark):
    f = spark.createDataFrame(
        [("a", "b", 1.0)], "u1 string, u2 string, w double"
    )
    c_e, c_n, _ = contract_runt_fringes(f, 1)
    assert condense_two_level(c_e, c_n, 1) is None


def test_hdbscan_two_level_mode_matches_driver_mode(spark, monkeypatch):
    """End-to-end through hdbscan_cluster: the two-level condense
    (budget at its default) labels the 3-blob fixture identically to
    the classic single-collect path."""
    import echo_chambers_detection_spark.operators.hdbscan as H

    rng = np.random.default_rng(7)
    rows = []
    for b in range(3):
        center = np.zeros(4)
        center[b] = 4.0
        for i in range(18):
            v = center + rng.normal(0, 0.15, 4)
            rows.append((f"b{b}_{i:02d}", [float(x) for x in v]))
    df = spark.createDataFrame(rows, "node string, vector array<double>")
    kw = dict(min_pts=3, min_cluster_size=4, k=8)
    classic = {
        r["node"]: r["cluster"]
        for r in hdbscan_cluster(df, **kw).collect()
    }
    from echo_chambers_detection_spark import placement

    # force the scale path end to end: contraction + two-level condense
    monkeypatch.setattr(H, "TWO_LEVEL_MIN_EDGES", 0)
    with placement.distributed("condense"):
        two = {
            r["node"]: r["cluster"]
            for r in hdbscan_cluster(df, **kw).collect()
        }
    assert two == classic
    assert len({v for v in two.values() if v != "-1"}) == 3


def test_two_level_driver_rows_bounded(spark):
    """The sublinearity claim at test scale: a caterpillar forest
    (backbone + heavy fringes) with 4000 supernode rows condenses
    through a θ whose top tree stays within the forced driver budget,
    and labels still match the classic condense."""
    mcs = 6
    nodes, edges = [], []
    hubs = [f"h{i:04d}" for i in range(400)]
    nodes.extend(hubs)
    w = 0.0001
    for i, h in enumerate(hubs):
        for j in range(9):
            leaf = f"{h}x{j}"
            nodes.append(leaf)
            w += 1e-6
            edges.append((h, leaf, 0.001 + w))
    for i in range(len(hubs) - 1):
        # distinct backbone weights spanning a range so a θ exists that
        # cuts the backbone into many components
        edges.append((hubs[i], hubs[i + 1], 1.0 + 0.01 * i))
    want = condense_and_select(nodes, edges, min_cluster_size=mcs)
    got = _two_level_labels(spark, nodes, edges, mcs, driver_rows=120)
    assert got is not None
    assert got == want
