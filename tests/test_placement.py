"""The one placement rule (echo_chambers_detection_spark/placement.py):
the driver budget follows the host, is read without a Spark job, and
`placement.distributed()` reaches every mirror gate — under it no
driver kernel runs and every operator gives the rows and schema of its
default placement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import echo_chambers_detection_spark.operators.ann as A
import echo_chambers_detection_spark.operators.graph as G
import echo_chambers_detection_spark.operators.hdbscan as H
import echo_chambers_detection_spark.operators.localgraph as L
import echo_chambers_detection_spark.operators.metrics as M
from echo_chambers_detection_spark import placement
from echo_chambers_detection_spark.operators.triangles import (
    ktruss_edges,
    transitivity_stats,
    triangle_counts,
)
from echo_chambers_detection_spark.session import driver_table
from tests.conftest import assert_same_schema

GiB = 2**30


def test_budget_follows_the_host():
    """A 15 GB host with a 1 GiB heap and a 64 GB host with a 32g heap
    get different budgets; the heap, the RAM it leaves and the
    result-size cap each bind somewhere."""
    small = placement.driver_budget(1 * GiB, 15 * GiB, 1 * GiB)
    large = placement.driver_budget(32 * GiB, 64 * GiB, 1 * GiB)
    assert small == GiB // 4 and large == GiB and small != large
    assert placement.driver_budget(32 * GiB, 64 * GiB) == 8 * GiB
    assert placement.driver_budget(12 * GiB, 15 * GiB) == 3 * GiB // 4
    # a heap that claims all the RAM: the budget follows the heap alone
    assert placement.driver_budget(2 * GiB, 1 * GiB, 1 * GiB) == GiB // 2
    assert placement.driver_budget(16 * GiB, 16 * GiB) == 4 * GiB


def test_budget_lookup_runs_no_job(spark):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    spark.sparkContext._driver_budget = None  # force a fresh read
    j0 = dag.numTotalJobs()
    first = placement.budget(spark)
    assert placement.budget(spark) == first > 0
    assert dag.numTotalJobs() == j0


def test_switch_names_kernels_and_nests(spark, monkeypatch):
    with pytest.raises(ValueError):
        placement.on_driver(spark, "no_such_kernel", 0)
    with pytest.raises(ValueError):
        with placement.distributed("no_such_kernel"):
            pass
    with placement.distributed("knn"):
        assert not placement.on_driver(spark, "knn", 0)
        assert placement.on_driver(spark, "fastrp", 0)
        with placement.distributed():
            assert not placement.on_driver(spark, "fastrp", 0)
        assert placement.on_driver(spark, "fastrp", 0)
        assert placement.max_rows(spark, "knn", 1) == 0
    assert placement.on_driver(spark, "knn", 0)
    assert not placement.on_driver(spark, "knn", placement.budget(spark) + 1)
    # a take/limit probe of bound + 1 rows takes a Java int
    monkeypatch.setattr(spark.sparkContext, "_driver_budget", 1 << 40)
    assert placement.max_rows(spark, "bfs", 1) == 2**31 - 2


def _operators(e, emb, labels):
    """(name, run) of every operator that dispatches a driver mirror,
    on the two-clique graph `e`, its embeddings and labels."""
    u = e.select("u1", "u2")
    w = e.select("u1", "u2", F.col("weight").alias("w"))
    return [
        ("kcore", lambda: G.kcore(u)),
        ("connected_components", lambda: G.connected_components(u)),
        ("pagerank", lambda: G.pagerank(e, max_iter=5, tol=0.0)),
        ("louvain", lambda: G.louvain(e, max_levels=2, max_rounds=4)),
        ("modularity", lambda: G.modularity_optimization(e, max_rounds=4)),
        ("leiden", lambda: G.leiden(e, max_levels=2, max_rounds=4)),
        ("bfs", lambda: G.bfs_distances(u, max_iter=5)),
        ("landmark_bfs", lambda: G.bfs_landmark_distances(u, 2, 5)),
        ("bellman_ford", lambda: G.bellman_ford_khop(e, k=4)),
        ("bellman_ford_landmark", lambda: G.bellman_ford_landmark(e, 2, 4)),
        ("path_counts", lambda: G.shortest_path_counts(u, 2, 5)),
        ("betweenness", lambda: G.brandes_betweenness(u, 2, 5)),
        ("random_walks", lambda: G.seeded_random_walks(u, length=3)),
        ("fastrp", lambda: G.fastrp(e, dim=8)),
        ("tricount", lambda: triangle_counts(u)),
        ("transitivity", lambda: transitivity_stats(u)),
        ("ktruss", lambda: ktruss_edges(u, k=3)),
        ("kruskal", lambda: H.minimum_spanning_forest(w)),
        ("knn", lambda: H.knn_graph(emb, k=3, n=10)),
        ("hdbscan", lambda: H.hdbscan_cluster(
            emb, min_pts=2, min_cluster_size=3, k=3
        )),
        ("community_table", lambda: M.community_table(u, labels, emb)),
        ("ivf", lambda: A.ivf_index(emb, k=2, id_col="node")[0]),
    ]


def _canon(rows):
    """Rows keyed by their non-float fields, with their floats (vector
    cells flattened) kept apart so the two placements compare to 1e-6
    (FastRP's parity)."""

    def split(r):
        key = tuple(v for v in r if not isinstance(v, (float, list)))
        vals = [x for v in r if isinstance(v, list) for x in v]
        return key, vals + [v for v in r if isinstance(v, float)]

    return sorted((split(r) for r in rows), key=lambda kv: repr(kv[0]))


def _ran_on_driver(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return driver_table(df) is not None or (
        "LocalTableScan" in plan and "FlatMapGroupsInPandas" not in plan
    )


@pytest.fixture
def kernels_trapped(monkeypatch):
    """Every driver kernel raises: the localgraph mirrors, Kruskal, the
    k-NN tiles, the HDBSCAN kernel, the metrics table and the IVF
    quantizer."""

    def trap(*a, **kw):
        raise AssertionError("a driver kernel ran under distributed()")

    for name in dir(L):
        if name.endswith("_local"):
            monkeypatch.setattr(L, name, trap)
    for mod, name in [
        (H, "_kruskal_local"), (H, "_driver_tiles"), (H, "hdbscan_local"),
        (M, "_table_np"), (A, "_lloyd_np"),
    ]:
        monkeypatch.setattr(mod, name, trap)


def test_every_gate_obeys_the_switch(spark, two_cliques, request):
    """Each mirror-dispatching operator under `placement.distributed()`
    runs no driver kernel and returns a Spark-computed frame with the
    rows and schema of its default (driver) placement."""
    emb = G.fastrp(two_cliques, dim=8).withColumnRenamed("embedding", "vector")
    labels = G.connected_components(two_cliques).select(
        "node", F.col("component").alias("label")
    )
    defaults = {}
    for name, run in _operators(two_cliques, emb, labels):
        out = run()
        defaults[name] = (out, _canon(out.collect()))
        assert _ran_on_driver(out), f"{name} did not run on the driver"
    request.getfixturevalue("kernels_trapped")
    with placement.distributed():
        for name, run in _operators(two_cliques, emb, labels):
            out = run()
            assert driver_table(out) is None, name
            default, want = defaults[name]
            got = _canon(out.collect())
            assert [k for k, _ in got] == [k for k, _ in want], name
            for (_, a), (_, b) in zip(got, want):
                assert a == pytest.approx(b, abs=1e-6, nan_ok=True), name
            assert_same_schema(default, out)
            G._release_checkpoint(out, default)
