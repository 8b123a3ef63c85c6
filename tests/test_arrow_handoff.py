"""Driver -> Spark hand-offs stay on the JVM (session.driver_frame).

A frame built from a Python list or a pandas frame enters Spark through
`sc.parallelize`, a PythonRDD that starts a Python daemon and workers
even at 0 rows. These tests hold the mirror results, the small k-NN,
the per-community table, both Run-analysis chains and the package
source to the Arrow-table path."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

import echo_chambers_detection_spark.operators.graph as G
import echo_chambers_detection_spark.operators.hdbscan as H
import echo_chambers_detection_spark.operators.metrics as M
from echo_chambers_detection_spark.operators.planted import (
    planted_arc_embeddings,
    planted_partition_edges,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "echo_chambers_detection_spark",
)


def _lineages(df) -> list[str]:
    """The frame's RDD lineage, plus that of every RDD leaf of its plan:
    a small side that the join broadcasts runs as a job of its own and
    is missing from the first."""
    qe = df._jdf.queryExecution()
    out = [qe.toRdd().toDebugString()]
    leaves = qe.optimizedPlan().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            out.append(leaf.rdd().toDebugString())
    return out


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_jvm_only(df, what: str) -> None:
    for lineage in _lineages(df):
        assert "PythonRDD" not in lineage, f"{what} starts Python:\n{lineage}"


def _planted(spark):
    return planted_partition_edges(spark, 3, 20, 2, bridges=True)


def test_cc_on_empty_edges_is_jvm_only(spark):
    empty = spark.range(0).select(
        F.col("id").cast("string").alias("u1"),
        F.col("id").cast("string").alias("u2"),
    )
    out = G.connected_components(empty)
    _assert_jvm_only(out, "connected_components(empty)")
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<node:string,component:string>"


@pytest.mark.parametrize(
    "name, run",
    [
        ("kcore", lambda e: G.kcore(e)),
        ("connected_components", lambda e: G.connected_components(e)),
        ("pagerank", lambda e: G.pagerank(e, max_iter=5)),
        ("louvain", lambda e: G.louvain(e, max_levels=2, max_rounds=2)),
        ("leiden", lambda e: G.leiden(e, max_levels=2, max_rounds=2)),
        ("fastrp", lambda e: G.fastrp(e, dim=8)),
    ],
)
def test_graph_mirror_results_are_jvm_only(spark, name, run):
    out = run(_planted(spark))
    _assert_jvm_only(out, name)
    assert out.count() == 60


def test_kruskal_picked_is_jvm_only(spark):
    e = _planted(spark).withColumn("w", F.lit(1.0))
    picked = H.minimum_spanning_forest(e)
    _assert_jvm_only(picked, "Kruskal picked")
    # 3 bridged blocks of 20 nodes: one spanning tree of 60 nodes
    assert picked.count() == 59


def test_hdbscan_labels_are_jvm_only(spark):
    emb = planted_arc_embeddings(spark, 3, 20)
    out = H.hdbscan_cluster(emb, min_pts=3, min_cluster_size=5, k=5)
    _assert_jvm_only(out, "hdbscan_cluster labels")
    labels = {r["cluster"] for r in out.collect()}
    assert labels == {"000000", "000020", "000040"}
    G._release_checkpoint(out)


def test_community_table_is_jvm_only(spark):
    """The driver-placed per-community table of 3 planted blocks."""
    emb = planted_arc_embeddings(spark, 3, 20)
    labels = emb.select(
        "node", (F.col("node").cast("int") / 20).cast("int").alias("label")
    )
    out = M.community_table(_planted(spark), labels, emb)
    _assert_jvm_only(out, "community_table")
    assert "Exchange" not in _plan(out)
    assert sorted((r["label"], r["size"]) for r in out.collect()) == [
        (0, 20), (1, 20), (2, 20)
    ]


@pytest.mark.parametrize("query", ["analysis_run_metrics", "analysis_run_hdbscan"])
def test_analysis_chains_are_jvm_only(spark, query):
    """Both Run-analysis chains on the oracle tables, whose steps all
    run on the driver from one pull."""
    import echo_chambers_detection_spark.catalog.metrics as CM
    from tests.conftest import SF_ORACLE

    out = getattr(CM, f"q_{query}")(spark, SF_ORACLE)
    _assert_jvm_only(out, query)
    assert out.collect()
    G._release_checkpoint(out)


def _tie_heavy(spark, id_type: str):
    """Duplicate vectors far beyond k+4, a zero vector (no finite
    distance to anything) and a few distinct directions."""
    vecs = [[1.0, 0.0, 0.0]] * 14 + [[0.0, 2.0, 0.0]] * 9 + [[0.0, 0.0, 0.0]]
    vecs += [[float(i % 3), 1.0, float(i % 5)] for i in range(16)]
    rows = [(i if id_type == "bigint" else f"n{i:03d}", v) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, f"node {id_type}, vector array<double>")


@pytest.mark.parametrize("id_type", ["string", "bigint"])
def test_driver_knn_matches_udf_knn(spark, monkeypatch, id_type):
    """The driver-placed small k-NN returns the pandas-UDF path's rows,
    exactly, for several block counts."""
    emb = _tie_heavy(spark, id_type)
    n = emb.count()
    for num_blocks in (1, 3, 8):
        driver = H.knn_graph(emb, k=4, num_blocks=num_blocks, n=n)
        assert "FlatMapGroupsInPandas" not in _plan(driver)
        got = sorted(driver.collect())
        monkeypatch.setattr(H, "KNN_TILE_ROWS", 0)
        udf = H.knn_graph(emb, k=4, num_blocks=num_blocks, n=n)
        assert "FlatMapGroupsInPandas" in _plan(udf)
        want = sorted(udf.collect())
        monkeypatch.undo()
        assert driver.schema == udf.schema
        assert got == want, f"num_blocks={num_blocks}"
        # the zero vector has no neighbor and is no one's neighbor
        zero = 23 if id_type == "bigint" else "n023"
        assert all(zero not in (r["src"], r["dst"]) for r in got)


def test_small_knn_plan_has_no_pandas_udf(spark):
    emb = planted_arc_embeddings(spark, 2, 10)
    knn = H.knn_graph(emb, k=3, n=20)
    assert "FlatMapGroupsInPandas" not in _plan(knn)
    _assert_jvm_only(knn, "small knn_graph")
    assert knn.count() == 60


def test_empty_knn_on_driver(spark):
    emb = planted_arc_embeddings(spark, 2, 10).limit(0)
    knn = H.knn_graph(emb, k=3, n=0)
    assert knn.collect() == []
    assert knn.schema.simpleString() == (
        "struct<src:string,dst:string,dist:double>"
    )


# createDataFrame calls allowed in the package: the helper itself and the
# traversal replay of edge and seed lists already collected as Arrow
# tables. Keyed by (file, enclosing function, first argument).
_ARROW_SITES = {
    ("session.py", "driver_frame", "table"),
    ("operators/graph.py", "seeded_random_walks", "tbl"),
    ("operators/graph.py", "seeded_random_walks", "seed_tbl"),
}


class _CreateDataFrameCalls(ast.NodeVisitor):
    """(file, innermost enclosing function, first argument, line) of
    every `.createDataFrame(...)` call in one module."""

    def __init__(self, rel: str) -> None:
        self.rel, self.stack, self.calls = rel, ["<module>"], []

    def visit_FunctionDef(self, node) -> None:
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node) -> None:
        if (
            isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            arg = ast.unparse(node.args[0]) if node.args else ""
            self.calls.append((self.rel, self.stack[-1], arg, node.lineno))
        self.generic_visit(node)


def _create_dataframe_calls() -> list[tuple[str, str, str, int]]:
    calls = []
    for root, _dirs, files in os.walk(PKG):
        for fname in sorted(files):
            if fname.endswith(".py"):
                path = os.path.join(root, fname)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                with open(path, encoding="utf-8") as fh:
                    visitor = _CreateDataFrameCalls(rel)
                    visitor.visit(ast.parse(fh.read()))
                calls += visitor.calls
    return calls


def test_package_hands_driver_data_to_spark_only_via_arrow():
    calls = _create_dataframe_calls()
    stray = [
        f"{rel}:{line} in {fn}(): createDataFrame({arg})"
        for rel, fn, arg, line in calls
        if (rel, fn, arg) not in _ARROW_SITES
    ]
    assert not stray, "use session.driver_frame:\n" + "\n".join(stray)
    # the allow-list names live sites only
    assert {c[:3] for c in calls} == _ARROW_SITES
