"""Deterministic planted-partition graphs, built ENTIRELY from JVM
expressions (spark.range + explode — no driver data, no RNG, no
shuffle in the generator itself).

Purpose (VERDICT r5 #1/#2): the community-detection operators
(G4-G8) mirror the reference's GDS calls
(project/metrics/community_detection.py:49-83) but their outputs are
not SQL-expressible, so the driver's DuckDB oracle had zero hard
signal on them. A planted partition with known ground truth closes
that gap twice over:

- CORRECTNESS: on a strongly-separated fixture the deterministic
  algorithms recover the planted blocks EXACTLY, and the expected
  output (per-block community id = min member node id, block sizes,
  core values) is a closed-form table DuckDB can generate with
  `range()` — turning Louvain/Leiden/LPA/k-core/CC into
  oracle-hash-checkable catalog queries.
- SCALE: the same generator at millions of directed edge rows feeds
  bench rows that time the DISTRIBUTED loops — the actual 100 TB code
  path, forced with `placement.distributed()` whatever the host's
  driver budget — with a recovery assertion attached (bench.py
  `_graph_scale_probes`).

Construction: `n_blocks` blocks of `block_size` nodes; node i sits in
block i // block_size at ring position i % block_size. Within each
block, node r connects forward to positions r + j*j (mod block_size)
for j = 1..intra_degree — QUADRATIC chord offsets, which keep the
per-block diameter O(block_size / intra_degree^2) so iterative
min-propagation converges in a handful of rounds even at
block_size=2000. Requiring intra_degree^2 < block_size/2 makes every
offset distinct, below half the ring, and non-complementary, so each
undirected pair is generated exactly once and the graph is exactly
2*intra_degree-regular (every node: intra_degree forward + backward
chords). Optional bridges connect position 0 of consecutive blocks
into a path, making the graph connected while adding exactly
n_blocks-1 inter-block edges.

Node ids are zero-padded decimal strings so lexicographic order ==
numeric order — the min-member community canonicalization then has a
closed form (block b's id = lpad(b*block_size)) that both Spark and
DuckDB compute identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

PAD = 6


def planted_partition_edges(
    spark: SparkSession,
    n_blocks: int,
    block_size: int,
    intra_degree: int,
    bridges: bool = True,
    partitions: int | None = None,
    offsets: str = "quadratic",
) -> DataFrame:
    """Canonical undirected edge list (u1 < u2, weight=1.0) of the
    planted graph described in the module doc. `partitions` spreads the
    generating range so the explode parallelizes (spark.range defaults
    can under-partition a 100k-row seed that fans out 25x).

    `offsets`: chord-offset scheme within a block.
    - "quadratic" (default): position r -> r + j*j, the low-diameter
      sparse blocks for the at-scale rows (needs d^2 < bs/2).
    - "linear": r -> r + j, circulant blocks; with bs odd and
      d = (bs-1)//2 each block is the COMPLETE graph K_bs — cliques
      have no internal structure for a modularity local optimum to
      split, which is what the Louvain exact-recovery oracle fixture
      needs (Louvain famously leaves splinter communities on regular
      ring-chord blocks; Leiden's refinement exists to fix exactly
      that, and does — see tests)."""
    bs, d = block_size, intra_degree
    if offsets == "quadratic":
        max_off = d * d
    elif offsets == "linear":
        max_off = d
    else:
        raise ValueError(f"unknown offsets scheme {offsets!r}")
    if max_off >= (bs + 1) // 2:
        raise ValueError(
            f"max chord offset ({max_off}) must stay below "
            f"ceil(block_size/2) ({(bs + 1) // 2}) for unique, "
            f"exactly-2d-regular chords"
        )
    n = n_blocks * bs
    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    ids = rng.select(
        F.col("id"),
        F.floor(F.col("id") / bs).alias("_b"),
        F.pmod(F.col("id"), F.lit(bs)).alias("_r"),
    )
    chord = ids.select(
        "id",
        "_b",
        "_r",
        F.explode(F.sequence(F.lit(1), F.lit(d))).alias("_j"),
    )
    off = (
        F.col("_j") * F.col("_j") if offsets == "quadratic" else F.col("_j")
    )
    dst = F.col("_b") * bs + F.pmod(F.col("_r") + off, F.lit(bs))
    pairs = chord.select(
        F.least(F.col("id"), dst).alias("_u"),
        F.greatest(F.col("id"), dst).alias("_v"),
    )
    if bridges:
        inter = ids.where(
            (F.col("_r") == 0) & (F.col("_b") < n_blocks - 1)
        ).select(F.col("id").alias("_u"), (F.col("id") + bs).alias("_v"))
        pairs = pairs.unionAll(inter)
    return pairs.select(
        F.lpad(F.col("_u").cast("string"), PAD, "0").alias("u1"),
        F.lpad(F.col("_v").cast("string"), PAD, "0").alias("u2"),
        F.lit(1.0).alias("weight"),
    )


def planted_recovery_stats(
    assignment: DataFrame, block_size: int
) -> tuple[float, float]:
    """(split_purity, merge_purity) of a (node, community) assignment
    against the planted blocks — both 1.0 iff the recovery is exact up
    to community relabeling.

    split_purity: sum over blocks of the largest single-community cell,
    / n — drops when a block is SPLIT across communities.
    merge_purity: sum over communities of the largest single-block
    cell, / n — drops when communities MERGE blocks. One tiny
    aggregation job; no driver data beyond the two scalars."""
    cells = (
        assignment.select(
            F.floor(F.col("node").cast("long") / block_size).alias("_blk"),
            "community",
        )
        .groupBy("_blk", "community")
        .agg(F.count("*").alias("c"))
    )
    row = (
        cells.groupBy("_blk")
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
        .agg(F.sum("mx").alias("split"), F.sum("tot").alias("n"))
        .first()
    )
    n = int(row["n"] or 0)
    if n == 0:
        return 0.0, 0.0
    split = int(row["split"]) / n
    merge_row = (
        cells.groupBy("community")
        .agg(F.max("c").alias("mx"))
        .agg(F.sum("mx").alias("merge"))
        .first()
    )
    merge = int(merge_row["merge"]) / n
    return split, merge


def planted_arc_embeddings(
    spark: SparkSession,
    n_blocks: int,
    block_size: int,
    delta: float = 0.01,
    gap: float = 0.11,
    partitions: int | None = None,
) -> DataFrame:
    """(node, vector) — unit-circle arc blocks with CLOSED-FORM HDBSCAN*
    labels (VERDICT r6 #1: the planted-recovery oracle for G3, the one
    algorithm family that had no hash-hard driver signal).

    Point i (block b = i // block_size, position r = i % block_size)
    sits at angle b*Θ + r*delta on the unit circle, Θ = (block_size-1)*
    delta + gap — blocks are tight arcs separated by `gap` radians.
    Cosine distance is monotone in angle difference while the total
    span stays under π (asserted), so with k*delta < gap the k-NN graph
    has ZERO cross-block edges: the mutual-reachability spanning forest
    is exactly one tree per block. Within a block the chain only ever
    sheds sub-min_cluster_size runts (interior merge heights tie at
    1-cos(2*delta); the endpoint edges are strictly heavier), so no
    genuine split occurs, each component root is its own selected
    cluster (allow_single_cluster=False is satisfied by n_blocks >= 2),
    and every point's label is its block's min member id — the same
    lpad((i // bs) * bs) closed form as the graph planted fixtures,
    which DuckDB generates with range().

    Margins are huge relative to knn_graph's 1e-6 dist rounding
    (adjacent-vs-skip distance gap ~1.5e-4 at delta=0.01; in-block vs
    cross-block ~1e-3), so float jitter cannot reorder neighbors.
    """
    bs = block_size
    theta = (bs - 1) * delta + gap
    span = (n_blocks - 1) * theta + (bs - 1) * delta
    if span >= 3.14159:
        raise ValueError(
            f"arc span {span:.3f} rad must stay below pi for cosine "
            "distance to be monotone in angle"
        )
    n = n_blocks * bs
    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    angle = (
        F.floor(F.col("id") / bs) * theta
        + F.pmod(F.col("id"), F.lit(bs)) * delta
    )
    return rng.select(
        F.lpad(F.col("id").cast("string"), PAD, "0").alias("node"),
        F.array(F.cos(angle), F.sin(angle)).alias("vector"),
    )
