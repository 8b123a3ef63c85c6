"""The per-community table's two placements (operators/metrics.py,
`community_table`): the numpy kernel on the driver and the distributed
`community_metrics` plan, forced with DRIVER_TABLE_MEMBERS = 0, give
the same rows in the same order after the analysis chains' md5/round
projection. Also pins the distributed tail's checkpoint lifecycle:
no job it starts fails after the caller frees the result."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

import echo_chambers_detection_spark.operators.metrics as M
from echo_chambers_detection_spark.catalog.metrics import (
    _mint_and_metrics,
    q_analysis_run_hdbscan,
    q_analysis_run_metrics,
)
from echo_chambers_detection_spark.operators.graph import (
    _release_checkpoint,
    connected_components,
    tracked_checkpoint,
)
from tests.conftest import SF_ORACLE

E1, E2, DIAG, ZERO = [1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [0.0, 0.0]

# A and B mirror each other (cohesion 1, the same cut-edge sims), so
# their ecs tie and the label breaks it. C is one node with cut edges
# only. D holds the zero vector: its internal edge and its cut edges
# to A and B count but have no cosine. A also has a member with no
# edges (a4) and a labeled node with no embedding (nv), whose edge
# drops out; E's only member has no edges, so E has no row.
NODES = {
    "a1": ("A", E1), "a2": ("A", E1), "a3": ("A", E1), "a4": ("A", E2),
    "b1": ("B", E2), "b2": ("B", E2), "b3": ("B", E2),
    "c1": ("C", DIAG),
    "d1": ("D", DIAG), "z": ("D", ZERO),
    "e1": ("E", E1),
    "nv": ("A", None),
}
EDGES = [
    ("a1", "a2"), ("a1", "a3"), ("a2", "a3"),
    ("b1", "b2"), ("b1", "b3"), ("b2", "b3"),
    ("a3", "b3"), ("a1", "c1"), ("b1", "c1"),
    ("d1", "z"), ("a2", "z"), ("b2", "z"),
    ("a1", "nv"),
]


def _degenerate(spark, int_labels: bool):
    code = {"A": 3, "B": 1, "C": 4, "D": 2, "E": 5}
    label_type = "int" if int_labels else "string"
    labels = spark.createDataFrame(
        [(n, code[c] if int_labels else c) for n, (c, _) in NODES.items()],
        f"node string, label {label_type}",
    )
    emb = spark.createDataFrame(
        [(n, v) for n, (_, v) in NODES.items() if v is not None],
        "node string, vector array<float>",
    )
    edges = spark.createDataFrame(EDGES, "u1 string, u2 string")
    return edges, labels, emb


def _both_placements(monkeypatch, run, empty: bool = False):
    """(driver rows, distributed rows) of `run()`, a frame the caller
    releases. Only the distributed plan of a non-empty table shuffles."""
    out = []
    for bound in (M.DRIVER_TABLE_MEMBERS, 0):
        monkeypatch.setattr(M, "DRIVER_TABLE_MEMBERS", bound)
        df = run()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ("Exchange" in plan) == (bound == 0 and not empty), plan
        out.append(df.collect())
        _release_checkpoint(df)
    return out


@pytest.mark.parametrize("int_labels", [False, True], ids=["string", "int"])
def test_driver_table_matches_distributed(spark, monkeypatch, int_labels):
    edges, labels, emb = _degenerate(spark, int_labels)
    driver, distributed = _both_placements(
        monkeypatch, lambda: _mint_and_metrics(edges, labels, emb, "k")
    )
    assert driver == distributed
    by_label = {r["label"]: r for r in driver}
    a, b, c, d = (by_label[x] for x in ([3, 1, 4, 2] if int_labels else "ABCD"))
    assert len(driver) == 4  # E has no member edge
    # tied ecs, ordered by label; then the NULL ecs rows
    assert a["ecs"] == b["ecs"]
    assert driver[:2] == sorted(driver[:2], key=lambda r: r["label"])
    assert [r["ecs"] for r in driver[2:]] == [None, None]
    assert (a["size"], a["internal_edge_count"], a["density_internal"]) == (3, 3, 1.0)
    assert (c["size"], c["internal_edge_count"], c["density_internal"]) == (1, 0, None)
    assert c["cohesion"] is None and c["separation"] == round(1 - 0.5**0.5, 6)
    assert (d["size"], d["internal_edge_count"], d["cohesion"]) == (2, 1, None)
    assert d["conductance"] == 0.5  # cut 2, vol 1 + 3
    assert d["variance"] == 0.5 and a["variance"] == 0.0


def test_empty_member_edges_give_the_empty_table(spark, monkeypatch):
    edges, labels, emb = _degenerate(spark, False)
    lonely = edges.where(F.col("u2") == "nv")
    driver, distributed = _both_placements(
        monkeypatch, lambda: M.community_table(lonely, labels, emb), empty=True
    )
    assert driver == distributed == []


@pytest.mark.parametrize("query", [q_analysis_run_metrics, q_analysis_run_hdbscan])
def test_analysis_chains_match_across_placements(spark, monkeypatch, query):
    driver, distributed = _both_placements(monkeypatch, lambda: query(spark, SF_ORACLE))
    assert driver and driver == distributed


def test_distributed_tail_leaves_no_failed_job(spark, monkeypatch):
    """The CC chain at sf0.1 hands the metrics tail an empty member
    edge list. The caller frees the result as soon as it is collected;
    a plan stage still reading the tail's checkpoints then would fail
    with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, in a job nobody waits on."""
    from echo_chambers_detection_spark.catalog.graph import _post_graph
    from echo_chambers_detection_spark.catalog.metrics import _emb_nodes

    monkeypatch.setattr(M, "DRIVER_TABLE_MEMBERS", 0)
    sf = os.path.join(os.path.dirname(SF_ORACLE), "sf0.1")
    sc = spark.sparkContext
    st = sc.statusTracker()

    pg = _post_graph(spark, sf)
    thr = pg.agg((1.2 * F.avg("weight")).alias("t"))
    strong0 = tracked_checkpoint(
        pg.crossJoin(F.broadcast(thr))
        .where(F.col("weight") >= F.col("t"))
        .select("u1", "u2")
    )
    comps = connected_components(strong0)
    labels0 = tracked_checkpoint(
        comps.select("node", F.col("component").alias("label"))
    )
    _release_checkpoint(pg, comps)
    for i in range(5):
        # fresh checkpoints of the chain's frames, which the tail frees
        strong = tracked_checkpoint(strong0.select("u1", "u2"))
        labels = tracked_checkpoint(labels0.select("node", "label"))
        group = f"metrics-tail-{i}"
        sc.setJobGroup(group, group)
        try:
            out = _mint_and_metrics(strong, labels, _emb_nodes(spark, sf), "k")
            out.collect()
            _release_checkpoint(out)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # let jobs still running from the collect end, and their status
        # reach the tracker
        time.sleep(1)
        ids = set(st.getJobIdsForGroup(group))
        deadline = time.time() + 30
        while ids & set(st.getActiveJobsIds()) and time.time() < deadline:
            time.sleep(0.2)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        failed = [j for j in ids if st.getJobInfo(j).status == "FAILED"]
        assert not failed, f"run {i}: jobs {failed} of {group} failed"
    _release_checkpoint(strong0, labels0)
