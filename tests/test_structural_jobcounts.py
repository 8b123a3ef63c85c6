"""Host-noise-IMMUNE structural pins for the bench-regression families
(VERDICT r9 #1): Spark JOB COUNTS on fixed fixtures. A plan regression
(an extra per-round pass, a lost incremental-maintenance shortcut, a
barrier that reappears) changes the job count; a slow shared host does
not. The loop pins carry 3 jobs of headroom over the measured counts:
one extra job per round must fail them, which a 30% bound absorbs. The
simhash and triangle pins (no `_generations` loop) keep ~30%.

Counts come from the DAG scheduler's job counter (`_jobs_so_far`), which
the status store's 100-job retention cannot clip. Every "(was N)" below
was measured with it (local[4], shuffle=8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import echo_chambers_detection_spark.operators.graph as G
from echo_chambers_detection_spark import placement
from echo_chambers_detection_spark.operators.planted import (
    planted_arc_embeddings,
    planted_partition_edges,
)
from tests.conftest import SF_ORACLE


def _jobs_so_far(spark) -> int:
    """Jobs the session has submitted: the DAG scheduler's job-id
    counter. The status tracker's job list is clipped to the session's
    100 retained jobs, so a length difference over it goes flat (or
    negative) once a session is past 100 jobs and every bound passes."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _sweep_pinned(spark) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in list(jmap.keySet().toArray()):
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(False)


@pytest.fixture
def distributed():
    """Every driver mirror off, so the distributed loops run."""
    with placement.distributed():
        yield


def _count_jobs(spark, fn):
    j0 = _jobs_so_far(spark)
    fn()
    n = _jobs_so_far(spark) - j0
    _sweep_pinned(spark)
    return n


def test_job_counter_sees_past_status_store(spark):
    """The counter must not saturate at the status store's 100-job
    retention: 130 one-partition count() jobs count as exactly 130."""
    sc = spark.sparkContext
    n = _count_jobs(
        spark, lambda: [sc.parallelize([0], 1).count() for _ in range(130)]
    )
    assert n == 130, f"job counter saw {n} of 130 jobs"


def test_density_lsh_job_count(spark):
    """BENCH_r09's density_clusters_lsh 3.1x wall swing had no plan
    change behind it — this pin makes that checkable: LSH candidate
    generation + rerank + CC must stay a bounded-job pipeline. The CC
    runs its distributed loop, so an extra job per round fails it."""
    emb = planted_arc_embeddings(spark, 5, 50).localCheckpoint(eager=True)
    with placement.distributed("connected_components"):
        n = _count_jobs(
            spark,
            lambda: G.density_cluster(
                emb, min_sim=0.6, min_pts=2, use_lsh=True,
                lsh_num_planes=16, lsh_band_bits=4, dim=2,
            ).count(),
        )
    emb.unpersist()
    assert n <= 45, f"density_cluster(use_lsh) grew to {n} jobs (was 42)"


def test_simhash64_banded_job_count(spark):
    from echo_chambers_detection_spark.operators.dedup import (
        simhash64,
        simhash_candidate_pairs_banded,
    )

    docs = spark.createDataFrame(
        [
            (str(i), " ".join(f"w{(i * j) % 17}" for j in range(30)))
            for i in range(200)
        ],
        "doc_id string, text string",
    )
    n = _count_jobs(
        spark,
        lambda: simhash_candidate_pairs_banded(
            simhash64(docs), max_hamming=3
        ).count(),
    )
    assert n <= 10, f"simhash64 banded pairs grew to {n} jobs (was 7)"


def test_louvain_distributed_job_count(spark, distributed):
    e = planted_partition_edges(spark, 4, 60, 5, bridges=True, partitions=4)
    n = _count_jobs(
        spark, lambda: G.louvain(e, max_levels=2, max_rounds=2).count()
    )
    assert n <= 89, f"distributed louvain grew to {n} jobs (was 86)"


def test_lpa_job_count(spark):
    e = planted_partition_edges(spark, 4, 60, 5, bridges=True, partitions=4)
    n = _count_jobs(
        spark,
        lambda: G.label_propagation(
            e.select("u1", "u2"), max_iter=5
        ).count(),
    )
    assert n <= 40, f"label propagation grew to {n} jobs (was 37)"


def test_leiden_distributed_job_count(spark, distributed):
    e = planted_partition_edges(spark, 4, 60, 5, bridges=True, partitions=4)
    n = _count_jobs(
        spark, lambda: G.leiden(e, max_levels=2, max_rounds=2).count()
    )
    assert n <= 137, f"distributed leiden grew to {n} jobs (was 134)"


def test_contract_and_two_level_job_counts(spark, distributed):
    """Round-10 pins for the condense chain's distributed half: the
    caterpillar contraction must stay ONE absorbing round + exact-exit
    arithmetic (no pointer-jump joins, no post-round degree rebuild),
    and the two-level condense one CC pass + one cogroup. The CC runs
    distributed (its driver mirror takes 57 jobs in all)."""
    from echo_chambers_detection_spark.operators.hdbscan import (
        condense_two_level,
        contract_runt_fringes,
    )

    H = 200
    hub = F.format_string("h%06d", F.col("id") % H)
    leaves = spark.range(0, 9 * H, 1, 4).select(
        hub.alias("u1"),
        F.format_string(
            "h%06dx%d", F.col("id") % H, F.floor(F.col("id") / H)
        ).alias("u2"),
        (F.lit(0.001) + F.col("id") * 1e-9).alias("w"),
    )
    chain = spark.range(0, H - 1, 1, 2).select(
        F.format_string("h%06d", F.col("id")).alias("u1"),
        F.format_string("h%06d", F.col("id") + 1).alias("u2"),
        (F.lit(1.0) + F.col("id") * 1e-4).alias("w"),
    )
    forest = leaves.unionAll(chain).localCheckpoint(eager=True)
    # two-phase counting: _count_jobs sweeps ALL persisted blocks
    # after fn, which would free the contracted frames the second
    # phase still reads — sweep once at the end instead
    j0 = _jobs_so_far(spark)
    c_e, c_n, _ = contract_runt_fringes(forest, min_cluster_size=10)
    j1 = _jobs_so_far(spark)
    condense_two_level(c_e, c_n, min_cluster_size=10, driver_rows=120).count()
    n_contract, n_two = j1 - j0, _jobs_so_far(spark) - j1
    _sweep_pinned(spark)
    assert n_contract <= 29, (
        f"contract_runt_fringes grew to {n_contract} jobs (was 26)"
    )
    assert n_two <= 78, f"condense_two_level grew to {n_two} jobs (was 75)"


def test_ktruss_job_count(spark, distributed):
    """The incremental k-truss (triangles enumerated once, support
    maintained by anti-joins) is the last heavy bench family without a
    host-noise-immune pin: an extra per-round pass or a lost
    incremental shortcut shows up here, a slow host does not. The
    traversal mirror is disabled so the distributed loop is what runs."""
    from echo_chambers_detection_spark.operators.triangles import (
        ktruss_edges,
    )

    e = planted_partition_edges(spark, 4, 60, 5, bridges=True, partitions=4)
    n = _count_jobs(
        spark, lambda: ktruss_edges(e.select("u1", "u2"), k=4).count()
    )
    assert n <= 35, f"incremental k-truss grew to {n} jobs (was 32)"


def test_triangle_counts_job_count(spark, distributed):
    """Triangle enumeration is one oriented wedge + closure join
    pipeline — a bounded-job pass, no loop (the traversal mirror is
    disabled so that pipeline is what runs); the bench row's wall
    swings with the host, this cannot."""
    from echo_chambers_detection_spark.operators.triangles import (
        triangle_counts,
    )

    e = planted_partition_edges(spark, 4, 60, 5, bridges=True, partitions=4)
    n = _count_jobs(
        spark, lambda: triangle_counts(e.select("u1", "u2")).count()
    )
    assert n <= 6, f"triangle_counts grew to {n} jobs (was 4)"


def test_brandes_distributed_job_count(spark, distributed):
    """Forward sigma loop + ONE DAG join + level-by-level backward aggs:
    an extra per-level pass (e.g. losing the materialized DAG and
    re-joining state every round) roughly doubles this."""
    e = planted_partition_edges(
        spark, 4, 60, 5, bridges=True, partitions=4
    ).localCheckpoint(eager=True)
    n = _count_jobs(
        spark,
        lambda: G.brandes_betweenness(
            e.select("u1", "u2"), n_sources=4, max_iter=8
        ).count(),
    )
    e.unpersist()
    assert n <= 91, f"distributed brandes grew to {n} jobs (was 88)"


# Pins for the checkpoint-generation loops, with the driver mirrors
# disabled so the distributed loops run. The counts were identical at
# local[2], local[4] and local[8].


def _planted_leaf(spark):
    return planted_partition_edges(
        spark, 4, 60, 5, bridges=True, partitions=4
    ).localCheckpoint(eager=True)


def test_connected_components_distributed_job_count(spark, distributed):
    e = _planted_leaf(spark)
    n = _count_jobs(
        spark, lambda: G.connected_components(e.select("u1", "u2")).count()
    )
    e.unpersist()
    assert n <= 36, f"distributed connected_components grew to {n} jobs (was 33)"


def test_kcore_distributed_job_count(spark, distributed):
    e = _planted_leaf(spark)
    n = _count_jobs(spark, lambda: G.kcore(e.select("u1", "u2")).count())
    e.unpersist()
    assert n <= 41, f"distributed kcore grew to {n} jobs (was 38)"


def test_bfs_landmark_distributed_job_count(spark, distributed):
    e = _planted_leaf(spark)
    n = _count_jobs(
        spark,
        lambda: G.bfs_landmark_distances(
            e.select("u1", "u2"), n_landmarks=4, max_iter=8
        ).count(),
    )
    e.unpersist()
    assert n <= 61, f"distributed landmark BFS grew to {n} jobs (was 58)"


def test_bellman_ford_khop_distributed_job_count(spark, distributed):
    e = _planted_leaf(spark)
    n = _count_jobs(
        spark, lambda: G.bellman_ford_khop(e, k=8).count()
    )
    e.unpersist()
    assert n <= 54, f"distributed bellman_ford_khop grew to {n} jobs (was 51)"


def test_pagerank_tol_distributed_job_count(spark, distributed):
    e = _planted_leaf(spark)
    n = _count_jobs(
        spark,
        lambda: G.pagerank(e.select("u1", "u2"), max_iter=8, tol=1e-12).count(),
    )
    e.unpersist()
    assert n <= 76, f"distributed pagerank(tol>0) grew to {n} jobs (was 73)"


def test_fastrp_distributed_job_count(spark, distributed):
    """Five propagation rounds of the distributed FastRP loop, so one
    extra job per round exceeds the headroom."""
    e = _planted_leaf(spark)
    n = _count_jobs(
        spark,
        lambda: G.fastrp(
            e, dim=16, iteration_weights=(0.0, 1.0, 1.0, 1.0, 1.0, 1.0)
        ).count(),
    )
    e.unpersist()
    assert n <= 44, f"distributed fastrp grew to {n} jobs (was 41)"


def test_modularity_optimization_distributed_job_count(spark, distributed):
    e = _planted_leaf(spark)
    n = _count_jobs(
        spark, lambda: G.modularity_optimization(e, max_rounds=4).count()
    )
    e.unpersist()
    assert n <= 54, f"distributed modularity_optimization grew to {n} jobs (was 51)"


def test_minimum_spanning_forest_distributed_job_count(spark, distributed):
    """Borůvka with the contraction's connected components distributed
    too: every round pays a CC loop, so this is the heaviest pin. Runs
    of the same code read 265-268 jobs, so the bound is the highest
    count seen plus 3."""
    from echo_chambers_detection_spark.operators.hdbscan import (
        minimum_spanning_forest,
    )

    e = _planted_leaf(spark)
    w = (F.abs(F.xxhash64("u1", "u2")) % 997 + 1).cast("double")
    n = _count_jobs(
        spark,
        lambda: minimum_spanning_forest(e.select("u1", "u2", w.alias("w"))).count(),
    )
    e.unpersist()
    assert n <= 271, f"distributed Borůvka grew to {n} jobs (was 266-268)"


def test_bitmap_coengagement_fallback_job_count(spark):
    """The bitmap's fallback reuses what its one probe read: building the
    self-join frame on a sparse 500-user × 7-item fixture (the cost
    compare declines the bitmap) runs the probe's jobs and no second
    user-count probe (was 6: 3 for the rollup probe, 3 for the
    self-join's own approx-distinct probe)."""
    from echo_chambers_detection_spark.operators.coengagement import (
        coengagement_edges_bitmap,
    )

    sparse = spark.range(500).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("user_did"),
        F.pmod(F.col("id"), F.lit(7)).cast("string").alias("post_uri"),
    )
    n = _count_jobs(
        spark, lambda: coengagement_edges_bitmap(sparse, num_slots=None)
    )
    assert n <= 3, f"bitmap fallback build ran {n} jobs (pinned <= 3)"


# The paper's Run-analysis press, on the oracle tables. Below every
# step's bound each chain runs from one Arrow pull of the post graph
# (catalog.metrics._on_driver): 5 projection jobs, 5 for the pull, the
# embeddings' schema read and the member pull. The forced-distributed
# pins run every step distributed. Bounds sit 3 above the measured
# counts.

def _analysis_jobs(spark, query) -> int:
    return _count_jobs(spark, lambda: query(spark, SF_ORACLE).collect())


def test_analysis_run_metrics_job_count(spark):
    from echo_chambers_detection_spark.catalog.metrics import (
        q_analysis_run_metrics,
    )

    n = _analysis_jobs(spark, q_analysis_run_metrics)
    assert n <= 15, f"analysis_run_metrics grew to {n} jobs (was 12)"


def test_analysis_run_hdbscan_job_count(spark):
    from echo_chambers_detection_spark.catalog.metrics import (
        q_analysis_run_hdbscan,
    )

    n = _analysis_jobs(spark, q_analysis_run_hdbscan)
    assert n <= 15, f"analysis_run_hdbscan grew to {n} jobs (was 12)"


def test_analysis_run_metrics_distributed_job_count(spark, distributed):
    from echo_chambers_detection_spark.catalog.metrics import (
        q_analysis_run_metrics,
    )

    n = _analysis_jobs(spark, q_analysis_run_metrics)
    assert n <= 99, f"distributed analysis_run_metrics grew to {n} jobs (was 96)"


def test_analysis_run_hdbscan_distributed_job_count(spark, distributed):
    from echo_chambers_detection_spark.catalog.metrics import (
        q_analysis_run_hdbscan,
    )

    n = _analysis_jobs(spark, q_analysis_run_hdbscan)
    assert n <= 271, f"distributed analysis_run_hdbscan grew to {n} jobs (was 268)"


@pytest.mark.parametrize("path,measured", [("driver", 4), ("distributed", 14)])
def test_ivf_index_build_job_count(spark, tmp_path, path, measured):
    """The persisted IVF build on planted arc embeddings (250 x 2, 8
    cells, 4 Lloyd rounds): on the driver the dim probe, one Arrow pull
    and the two writes; distributed, a pass per Lloyd round, so one
    extra job per round exceeds the headroom."""
    from contextlib import nullcontext

    from echo_chambers_detection_spark.operators.ann import ivf_index_build

    emb = planted_arc_embeddings(spark, 5, 50).localCheckpoint(eager=True)
    forced = placement.distributed("ivf") if path == "distributed" else nullcontext()
    with forced:
        n = _count_jobs(
            spark,
            lambda: ivf_index_build(
                emb, str(tmp_path / "ivf"), n_cells=8, iters=4, id_col="node"
            ),
        )
    emb.unpersist()
    assert n <= measured + 3, f"{path} ivf_index_build grew to {n} jobs (was {measured})"
