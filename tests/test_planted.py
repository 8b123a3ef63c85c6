"""Planted-partition generator (operators/planted.py): structural
invariants of the JVM-expression graph builder, the recovery-stats
metric, and a forced-DISTRIBUTED Louvain recovery (the catalog oracle
queries exercise the same fixtures through the auto-routed path;
bench.py's ≥5M-edge rows exercise the distributed path at scale)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from echo_chambers_detection_spark import placement
from echo_chambers_detection_spark.operators import graph as G
from echo_chambers_detection_spark.operators.planted import (
    planted_partition_edges,
    planted_recovery_stats,
)


def test_generator_counts_and_regularity(spark):
    e = planted_partition_edges(spark, 4, 60, 5, bridges=False)
    rows = e.collect()
    # 4 blocks x 60 nodes x 5 chords, each pair exactly once
    assert len(rows) == 4 * 60 * 5
    assert len({(r["u1"], r["u2"]) for r in rows}) == len(rows)
    assert all(r["u1"] < r["u2"] for r in rows)
    # exactly 2d-regular: every node appears in 2*5 = 10 edges
    deg = (
        e.select(F.col("u1").alias("n"))
        .unionAll(e.select(F.col("u2").alias("n")))
        .groupBy("n")
        .count()
        .select(F.min("count").alias("lo"), F.max("count").alias("hi"))
        .first()
    )
    assert (deg["lo"], deg["hi"]) == (10, 10)
    # no edge crosses a block boundary
    cross = e.where(
        F.floor(F.col("u1").cast("long") / 60)
        != F.floor(F.col("u2").cast("long") / 60)
    ).count()
    assert cross == 0


def test_generator_bridges_connect_blocks(spark):
    e = planted_partition_edges(spark, 4, 60, 5, bridges=True)
    assert e.count() == 4 * 60 * 5 + 3
    comp = G.connected_components(e.select("u1", "u2"))
    assert comp.select("component").distinct().count() == 1


def test_generator_linear_offsets_make_cliques(spark):
    # bs=9 odd, d=(bs-1)//2=4 -> each block is K_9: C(9,2)=36 edges
    e = planted_partition_edges(
        spark, 2, 9, 4, bridges=False, offsets="linear"
    )
    assert e.count() == 2 * 36
    within = e.groupBy(F.floor(F.col("u1").cast("long") / 9)).count().collect()
    assert sorted(r["count"] for r in within) == [36, 36]


def test_generator_rejects_oversized_offsets(spark):
    with pytest.raises(ValueError, match="chord offset"):
        planted_partition_edges(spark, 2, 20, 4)  # 16 >= 10
    with pytest.raises(ValueError, match="offsets scheme"):
        planted_partition_edges(spark, 2, 20, 2, offsets="cubic")


def test_recovery_stats_detect_split_and_merge(spark):
    # 2 blocks of 4 nodes; exact assignment -> (1, 1)
    exact = spark.createDataFrame(
        [("%06d" % i, "%06d" % ((i // 4) * 4)) for i in range(8)],
        "node string, community string",
    )
    assert planted_recovery_stats(exact, 4) == (1.0, 1.0)
    # merging both blocks into one community: split stays 1, merge drops
    merged = exact.withColumn("community", F.lit("000000"))
    sp, mg = planted_recovery_stats(merged, 4)
    assert sp == 1.0 and mg == 0.5
    # splitting each block in half: split drops, merge stays 1
    split = spark.createDataFrame(
        [("%06d" % i, "%06d" % (i // 2 * 2)) for i in range(8)],
        "node string, community string",
    )
    sp, mg = planted_recovery_stats(split, 4)
    assert sp == 0.5 and mg == 1.0


def test_distributed_louvain_recovers_cliques(spark):
    """The DISTRIBUTED local-moves/coarsen loop (not the localgraph
    mirror) recovers 6 bridged K_25 cliques exactly — the same
    assertion bench.py makes on its 6.2M-row planted graph
    (VERDICT r5 #1)."""
    e = planted_partition_edges(
        spark, 6, 25, 12, bridges=True, offsets="linear"
    )
    with placement.distributed():
        assign = G.louvain(e, max_levels=2, max_rounds=8)
    sizes = {
        (r["community"], r["count"])
        for r in assign.groupBy("community").count().collect()
    }
    assert sizes == {("%06d" % (b * 25), 25) for b in range(6)}


def test_arc_embeddings_knn_has_no_cross_block_edges(spark):
    """The load-bearing claim of hdbscan_planted_recovery: with
    k*delta < gap the exact k-NN graph never leaves a block, so the
    spanning forest is one tree per block and the HDBSCAN* labels have
    the closed form the oracle generates."""
    from pyspark.sql import functions as F

    from echo_chambers_detection_spark.operators.hdbscan import knn_graph
    from echo_chambers_detection_spark.operators.planted import (
        planted_arc_embeddings,
    )

    emb = planted_arc_embeddings(spark, 5, 50)
    knn = knn_graph(emb, k=10)
    cross = knn.where(
        F.floor(F.col("src").cast("long") / 50)
        != F.floor(F.col("dst").cast("long") / 50)
    ).count()
    assert cross == 0
    # every point has a full k in-block neighbors (core dists finite)
    assert knn.groupBy("src").count().agg(F.min("count")).first()[0] == 10


def test_arc_embeddings_span_guard():
    """Fixture parameters that wrap past pi must be refused."""
    import pytest

    from echo_chambers_detection_spark.operators.planted import (
        planted_arc_embeddings,
    )

    with pytest.raises(ValueError, match="below pi"):
        planted_arc_embeddings(None, 20, 100, delta=0.01, gap=0.3)
