"""Driver-side IVF probe (serving.IvfProbe): parity with the batch
ANN path and sub-second repeat-query latency without a Spark job.

Closes the reference's single-query low-latency seam (Qdrant HNSW,
project/qdrant/consumer_post.py:42-49, post_distance_test.py:26-31):
the batch side persists the index once; the probe answers point
queries from resident numpy."""

from __future__ import annotations

import time

import pytest

SF = "/root/testdata/sf0.001"
EMB_PARQUET = SF + "/embeddings.parquet"


@pytest.fixture(scope="module")
def emb(spark):
    from echo_chambers_detection_spark.catalog import _emb

    return _emb(spark, SF).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def query(spark):
    from echo_chambers_detection_spark.catalog import _query_vec

    return _query_vec(spark, SF)


@pytest.fixture(scope="module")
def index_dir(emb, tmp_path_factory):
    from echo_chambers_detection_spark.operators.ann import ivf_index_build

    idx = str(tmp_path_factory.mktemp("serve") / "ivf")
    ivf_index_build(emb, idx, n_cells=16, iters=2)
    return idx


def _qvec():
    import pyarrow.parquet as pq

    t = pq.read_table(EMB_PARQUET, columns=["vec_id", "embedding"])
    for rid, v in zip(t.column("vec_id").to_pylist(),
                      t.column("embedding").to_pylist()):
        if str(rid) == "0":
            return v
    raise AssertionError("vec_id=0 missing from test embeddings")


def test_probe_one_parity_with_batch_ivf_topk(emb, query, index_dir):
    """Exhaustive probe (nprobe = n_cells) must reproduce ann_ivf_topk's
    exact top-10 — ids AND 6-digit-rounded scores."""
    from echo_chambers_detection_spark.operators.ann import ivf_topk
    from echo_chambers_detection_spark.serving import IvfProbe

    batch = [
        (r["post_cid"], r["score"])
        for r in ivf_topk(
            emb, query, k_results=10, n_cells=16, nprobe=16, iters=2
        ).collect()
    ]
    probe = IvfProbe(index_dir, EMB_PARQUET)
    served = probe.probe_one(_qvec(), k=10, nprobe=16)
    assert served == batch


def test_probe_one_pruned_subset_of_exhaustive(index_dir):
    """Pruned probing returns results drawn from the exhaustive set and
    keeps the (score desc, id) order contract."""
    from echo_chambers_detection_spark.serving import IvfProbe

    probe = IvfProbe(index_dir, EMB_PARQUET)
    qv = _qvec()
    full = probe.probe_one(qv, k=50, nprobe=probe.n_cells)
    pruned = probe.probe_one(qv, k=10, nprobe=4)
    full_ids = {i for i, _ in full}
    assert all(i in full_ids for i, _ in pruned)
    scores = [s for _, s in pruned if s is not None]
    assert scores == sorted(scores, reverse=True)


def test_probe_one_repeat_latency_subsecond(index_dir):
    """After the one-time load, repeat queries are numpy-only: 50
    queries must finish well under a second total (no Spark jobs)."""
    from echo_chambers_detection_spark.serving import IvfProbe

    probe = IvfProbe(index_dir, EMB_PARQUET)
    qv = _qvec()
    probe.probe_one(qv, k=10, nprobe=4)  # warm any lazy numpy paths
    t0 = time.perf_counter()
    for _ in range(50):
        probe.probe_one(qv, k=10, nprobe=4)
    dt = time.perf_counter() - t0
    assert dt < 1.0, f"50 repeat probes took {dt:.3f}s"


@pytest.fixture(scope="module")
def pq_index_dir(emb, tmp_path_factory):
    from echo_chambers_detection_spark.operators.ann import pq_index_build

    idx = str(tmp_path_factory.mktemp("serve") / "pq")
    pq_index_build(emb, idx, m=8, k=16, iters=2)
    return idx


def test_pq_probe_parity_with_batch_pq_topk(emb, query, pq_index_dir):
    """Exhaustive probe (refine=None) must reproduce the batch
    pq_topk_from_index exactly — ids AND 6-digit-rounded scores."""
    from echo_chambers_detection_spark.operators.ann import (
        pq_topk_from_index,
    )
    from echo_chambers_detection_spark.serving import PqProbe

    batch = [
        (r["post_cid"], r["score"])
        for r in pq_topk_from_index(
            emb, pq_index_dir, query, k_results=10, refine=None
        ).collect()
    ]
    probe = PqProbe(pq_index_dir, EMB_PARQUET)
    served = probe.probe_one(_qvec(), k=10, refine=None)
    assert served == batch


def test_pq_probe_refined_parity_and_latency(emb, query, pq_index_dir):
    """Finite refine must reproduce the batch finite-refine result
    (same (adc, id) candidate cut), and 50 repeat queries stay under a
    second of total numpy time."""
    from echo_chambers_detection_spark.operators.ann import (
        pq_topk_from_index,
    )
    from echo_chambers_detection_spark.serving import PqProbe

    batch = [
        (r["post_cid"], r["score"])
        for r in pq_topk_from_index(
            emb, pq_index_dir, query, k_results=10, refine=4
        ).collect()
    ]
    probe = PqProbe(pq_index_dir, EMB_PARQUET)
    qv = _qvec()
    assert probe.probe_one(qv, k=10, refine=4) == batch
    t0 = time.perf_counter()
    for _ in range(50):
        probe.probe_one(qv, k=10, refine=4)
    assert time.perf_counter() - t0 < 1.0


@pytest.fixture(scope="module")
def knn_edges_dir(emb, tmp_path_factory):
    from echo_chambers_detection_spark.operators.hdbscan import knn_graph_ann

    path = str(tmp_path_factory.mktemp("serve") / "knn_edges")
    g = knn_graph_ann(
        emb, k=8, n_cells=4, nprobe=4, iters=1,
        id_col="post_cid", vec_col="vector",
    )
    g.select("src", "dst").write.mode("overwrite").parquet(path)
    return path


def test_graph_probe_parity_with_batch_beam_search(
    spark, emb, knn_edges_dir
):
    """GraphAnnProbe.probe_one must reproduce graph_ann_topk's top-10
    over the SAME persisted k-NN graph — ids AND 6-digit-rounded sims
    (entry node, beam truncation order, fixpoint exit all mirrored)."""
    from pyspark.sql import functions as F

    from echo_chambers_detection_spark.operators.graphann import (
        graph_ann_topk,
    )
    from echo_chambers_detection_spark.serving.graph_probe import (
        GraphAnnProbe,
    )

    edges = spark.read.parquet(knn_edges_dir)
    queries = emb.where(F.col("post_cid") == "0").select(
        F.lit("q0").alias("qid"), F.col("vector").alias("qvec")
    )
    batch = [
        (r["node"], r["sim"])
        for r in graph_ann_topk(
            edges,
            emb.select(F.col("post_cid").alias("node"), "vector"),
            queries,
            k=10,
            beam=16,
        )
        .orderBy(F.desc("sim"), "node")
        .collect()
    ]
    probe = GraphAnnProbe(knn_edges_dir, EMB_PARQUET)
    served = probe.probe_one(_qvec(), k=10, beam=16)
    assert served == batch


def test_graph_probe_repeat_latency(knn_edges_dir):
    from echo_chambers_detection_spark.serving.graph_probe import (
        GraphAnnProbe,
    )

    probe = GraphAnnProbe(knn_edges_dir, EMB_PARQUET)
    q = _qvec()
    probe.probe_one(q, k=10)  # warm
    t0 = time.time()
    for _ in range(50):
        probe.probe_one(q, k=10)
    assert (time.time() - t0) < 1.0


def test_round_half_up6_matches_spark_round(spark):
    """The served scores round as `F.round(x, 6)` does, bit for bit:
    on decimal half-steps (k + 1/2)·1e-6 (5e-7 and 0.1234565 among
    them, which rounding the binary expansion gets wrong), on the
    dyadic half-steps (2j+1)/128, on their negatives and on tiny values
    that round to zero (+0.0 in Spark)."""
    import numpy as np
    from pyspark.sql import functions as F

    from echo_chambers_detection_spark.serving.ivf_probe import _round_half_up6
    from echo_chambers_detection_spark.session import driver_frame

    ks = np.concatenate([
        np.arange(2000), [123456], np.random.default_rng(11).integers(0, 10**6, 3000)
    ])
    x = [float(f"{k}.5e-6") for k in ks]
    x += list((2 * np.arange(128) + 1) / 128.0) + [1e-9, 4e-7, 0.0, 1.0]
    x += [-v for v in x]
    df = driver_frame(spark, [(v,) for v in x], "x double")
    want = np.array([r[0] for r in df.select(F.round("x", 6)).collect()])
    got = np.array([_round_half_up6(v) for v in x])
    assert _round_half_up6(5e-7) == 1e-6 and _round_half_up6(0.1234565) == 0.123457
    assert np.array_equal(got.view(np.int64), want.view(np.int64))
