"""The per-community table's two placements (operators/metrics.py,
`community_table`): the numpy kernel on the driver and the distributed
`community_metrics` plan, forced with `placement.distributed`, give
the same rows in the same order after the analysis chains' md5/round
projection. The analysis chains' one-pull placement
(catalog/metrics.py, `_on_driver`) gives the rows, schema and labels
of the chain with every step forced distributed, declines whenever a
step would, and pins nothing once its result is freed. Also pins the
distributed tail's checkpoint lifecycle: no job it starts fails after
the caller frees the result."""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import pytest
from pyspark.sql import functions as F

import echo_chambers_detection_spark.catalog.metrics as CM
import echo_chambers_detection_spark.operators.hdbscan as H
import echo_chambers_detection_spark.operators.metrics as M
from echo_chambers_detection_spark import placement
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
from echo_chambers_detection_spark.session import driver_table
from tests.conftest import SF_ORACLE, assert_same_schema

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


def _both_placements(run, empty: bool = False):
    """(driver rows, distributed rows) of `run()`, a frame the caller
    releases. Only the distributed plan of a non-empty table shuffles."""
    out = []
    for forced in (False, True):
        with placement.distributed("community_table") if forced else nullcontext():
            df = run()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ("Exchange" in plan) == (forced and not empty), plan
        out.append(df.collect())
        _release_checkpoint(df)
    return out


@pytest.mark.parametrize("int_labels", [False, True], ids=["string", "int"])
def test_driver_table_matches_distributed(spark, int_labels):
    edges, labels, emb = _degenerate(spark, int_labels)
    driver, distributed = _both_placements(
        lambda: _mint_and_metrics(edges, labels, emb, "k")
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


def test_empty_member_edges_give_the_empty_table(spark):
    edges, labels, emb = _degenerate(spark, False)
    lonely = edges.where(F.col("u2") == "nv")
    driver, distributed = _both_placements(
        lambda: M.community_table(lonely, labels, emb), empty=True
    )
    assert driver == distributed == []


def test_member_edges_bound_the_driver_table(spark, monkeypatch):
    """Few members with many edges between them: under a 1 MiB budget
    the 3 members fit the pull (4 would) and their 5000 edges do not
    (4096 would), so the table runs distributed, with the rows the
    driver gives at the session's budget."""
    labels = spark.createDataFrame(
        [("a", "A"), ("b", "A"), ("c", "B")], "node string, label string"
    )
    emb = spark.createDataFrame(
        [("a", E1), ("b", E2), ("c", DIAG)], "node string, vector array<float>"
    )
    edges = spark.range(5000).select(
        F.when(F.col("id") % 3 == 0, "b").otherwise("a").alias("u1"),
        F.when(F.col("id") % 2 == 0, "c").otherwise("b").alias("u2"),
    )
    on_driver = M.community_table(edges, labels, emb)
    assert driver_table(on_driver) is not None
    monkeypatch.setattr(spark.sparkContext, "_driver_budget", 1 << 20)
    out = M.community_table(edges, labels, emb)
    assert driver_table(out) is None
    assert out.collect() == on_driver.collect()
    _release_checkpoint(out)


# The placement kernel of every step of the analysis chains, and the
# chain each step belongs to (both chains end in the metrics table).
_STEPS = {
    "community_table": "both",
    "connected_components": "cc",
    "fastrp": "hdbscan",
    "knn": "hdbscan",
    "kruskal": "hdbscan",
    "condense": "hdbscan",
}
SF01 = os.path.join(os.path.dirname(SF_ORACLE), "sf0.1")


def _write_tables(root, weights, vectors):
    """events and embeddings parquet files of a post graph: `weights`
    maps a post pair to the number of users engaging exactly those two
    posts; `vectors` maps a post to its embedding."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root)
    rows = [
        (user, post)
        for user, (pair, _) in enumerate(
            (pair, i) for pair, w in weights.items() for i in range(w)
        )
        for post in pair
    ]
    ts = datetime.datetime(2024, 1, 1)
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([ts] * len(rows), pa.timestamp("us")),
        "user_id": pa.array([u for u, _ in rows], pa.int64()),
        "event_type": ["like"] * len(rows),
        "value": [1.0] * len(rows),
        "props": [f'{{"k": {p}}}' for _, p in rows],
    }), os.path.join(root, "events.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array(list(vectors), pa.int64()),
        "embedding": pa.array(list(vectors.values()), pa.list_(pa.float32())),
        "label": pa.array([0] * len(vectors), pa.int32()),
    }), os.path.join(root, "embeddings.parquet"))
    return root


@pytest.fixture(scope="module")
def degenerate(tmp_path_factory):
    """Two degenerate press inputs. "flat": four posts, every pair
    co-engaged once, so no edge reaches 1.2 x the mean weight (empty
    strong backbone) and HDBSCAN finds only the cluster of every point
    (all noise). "zero_vector": two strong triangles, one member with
    the zero vector, a post with no embedding and a weak tail."""
    root = tmp_path_factory.mktemp("press")
    vec = lambda i: [float(i % 3), 1.0, float(i % 2), 0.5]  # noqa: E731
    return {
        "flat": _write_tables(
            str(root / "flat"),
            {(a, b): 1 for a in range(4) for b in range(a + 1, 4)},
            {i: vec(i) for i in range(4)},
        ),
        "zero_vector": _write_tables(
            str(root / "zero_vector"),
            {
                (0, 1): 3, (0, 2): 3, (1, 2): 3, (3, 4): 3, (4, 5): 3,
                (3, 5): 3, (2, 3): 1, (5, 6): 1, (6, 7): 1,
            },
            {i: [0.0] * 4 if i == 1 else vec(i) for i in range(7)},
        ),
    }


def _pinned(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _run_chain(spark, monkeypatch, query, sf):
    """(result, rows, the labels `_mint_and_metrics` got, whether the
    one-pull placement ran) of one chain run. Freeing the result must
    leave no RDD pinned that was not pinned before. (Only new pins
    count: Spark's ContextCleaner may unpersist an earlier test's dead
    frames while the chain runs.)"""
    seen = {}
    tail, on_driver = CM._mint_and_metrics, CM._on_driver

    def tap(edges, labels, emb, run_key):
        seen["labels"] = (labels.schema, sorted(labels.collect()))
        return tail(edges, labels, emb, run_key)

    def spy(*args):
        seen["one_pull"] = on_driver(*args)
        return seen["one_pull"]

    before = _pinned(spark)
    with monkeypatch.context() as mp:
        mp.setattr(CM, "_mint_and_metrics", tap)
        mp.setattr(CM, "_on_driver", spy)
        out = query(spark, sf)
        rows = out.collect()
    _release_checkpoint(out)
    assert _pinned(spark) - before == set()
    return out, rows, seen["labels"], seen["one_pull"] is not None


def _one_pull_matches_distributed(spark, monkeypatch, query, sf) -> list:
    """The one-pull placement and the chain with every step forced
    distributed give the same rows, the same schema, and hand the same
    labels to `_mint_and_metrics` (perfbench's SCD-2 tap). Returns the
    rows."""
    one, one_rows, one_labels, one_pull = _run_chain(spark, monkeypatch, query, sf)
    with placement.distributed():
        dist, dist_rows, dist_labels, still = _run_chain(spark, monkeypatch, query, sf)
    assert one_pull and not still
    assert one_rows == dist_rows
    assert_same_schema(one, dist)
    assert one_labels == dist_labels
    return one_rows


@pytest.mark.parametrize("query", [q_analysis_run_metrics, q_analysis_run_hdbscan])
def test_analysis_chains_match_across_placements(spark, monkeypatch, query):
    assert _one_pull_matches_distributed(spark, monkeypatch, query, SF_ORACLE)


@pytest.mark.parametrize("data", ["sf0.1", "flat", "zero_vector"])
@pytest.mark.parametrize(
    "query", [q_analysis_run_metrics, q_analysis_run_hdbscan], ids=["cc", "hdbscan"]
)
def test_analysis_chains_match_across_placements_off_oracle(
    spark, monkeypatch, degenerate, query, data
):
    """As above on sf0.1 (2 HDBSCAN communities, no CC member edge) and
    on the degenerate inputs."""
    sf = SF01 if data == "sf0.1" else degenerate[data]
    rows = _one_pull_matches_distributed(spark, monkeypatch, query, sf)
    if data == "flat":
        assert rows == []
    if query is q_analysis_run_metrics and data == "zero_vector":
        assert rows


class _Stop(Exception):
    pass


# each step forced distributed, or each kernel declining
_DECLINES = {
    **_STEPS,
    "localgraph.fastrp_local": "hdbscan",
    "hdbscan.round_half_up": "hdbscan",
    "metrics._member_vectors": "both",
}


@pytest.mark.parametrize("decline", _DECLINES)
@pytest.mark.parametrize(
    "query", [q_analysis_run_metrics, q_analysis_run_hdbscan], ids=["cc", "hdbscan"]
)
def test_one_pull_declines_with_any_step(spark, monkeypatch, query, decline):
    """Forcing any one of the chain's steps distributed, or any kernel
    to decline, sends the chain to its step-by-step path; steps and
    kernels of the other chain leave the one-pull placement on."""
    import echo_chambers_detection_spark.operators.localgraph as L

    if "." in decline:
        mod, name = decline.split(".")
        target = {"metrics": M, "hdbscan": H, "localgraph": L}[mod]
        monkeypatch.setattr(target, name, lambda *a, **kw: None)
    seen = []
    on_driver = CM._on_driver

    def spy(spark_, sf_dir, pg, *rest):
        seen.append(on_driver(spark_, sf_dir, pg, *rest))
        _release_checkpoint(pg, seen[-1])
        raise _Stop

    monkeypatch.setattr(CM, "_on_driver", spy)
    forced = nullcontext() if "." in decline else placement.distributed(decline)
    with forced, pytest.raises(_Stop):
        query(spark, SF_ORACLE)
    chain = "cc" if query is q_analysis_run_metrics else "hdbscan"
    assert (seen[0] is None) == (_DECLINES[decline] in ("both", chain))


def test_distributed_tail_leaves_no_failed_job(spark):
    """The CC chain at sf0.1 hands the metrics tail an empty member
    edge list. The caller frees the result as soon as it is collected;
    a plan stage still reading the tail's checkpoints then would fail
    with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, in a job nobody waits on."""
    from echo_chambers_detection_spark.catalog.graph import _post_graph
    from echo_chambers_detection_spark.catalog.metrics import _emb_nodes

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
            with placement.distributed("community_table"):
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
