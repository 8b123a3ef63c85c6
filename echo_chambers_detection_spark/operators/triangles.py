"""Distributed triangle counting and degree-correlation moments.

Graph-statistics companions to the community detectors (SURVEY.md G4-G8;
the reference's Neo4j GDS catalog ships `gds.triangleCount` /
`gds.localClusteringCoefficient` in the same family as the algorithms
`project/metrics/community_detection.py` calls): triangle counts and the
clustering coefficient are the standard echo-chamber cohesion signals on
the co-engagement projection, and degree assortativity is the classic
one-pass mixing statistic.

Scale design — the degree-ordered node-iterator (Suri & Vassilvitskii,
"Counting triangles and the curse of the last reducer", WWW'11):

1. degree per node (one groupBy over the edge list);
2. orient every undirected edge from the endpoint of LOWER (degree,
   node) rank to the higher — each triangle now has exactly one "apex"
   whose two out-edges span it, and the per-node out-degree is bounded
   by O(sqrt(m)), which is what kills the celebrity-vertex wedge
   explosion (a 10^6-degree hub generates 10^12 wedges unoriented,
   ~m wedges oriented);
3. wedge join: oriented out-edges self-joined on the apex;
4. closure join: wedge (b, c) semi-joined against the oriented edge set.

Everything is plain DataFrame joins/aggregations — shuffle-partitioned
on the join keys, AQE-skew-splittable, no driver state, no Python in
the hot path. Counts are exact integers, so the catalog oracle is
hash-exact against DuckDB with zero float plumbing.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType

from echo_chambers_detection_spark.operators.graph import (
    _generations,
    _materialize,
    _traversal_mirror,
    carry_ckpt,
)

log = logging.getLogger(__name__)


def node_degrees(edges: DataFrame) -> DataFrame:
    """(node, deg) from a canonical undirected edge list (u1 < u2, one
    row per edge)."""
    return (
        edges.select(F.col("u1").alias("node"))
        .unionAll(edges.select(F.col("u2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def _oriented(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Orient each edge low-rank -> high-rank, rank = (deg, node).
    Output (src, dst, dst_deg): dst_deg rides along so the wedge join
    can order its two legs without re-joining degrees."""
    e = (
        edges.select("u1", "u2")
        .join(deg.withColumnRenamed("node", "u1").withColumnRenamed("deg", "d1"), "u1")
        .join(deg.withColumnRenamed("node", "u2").withColumnRenamed("deg", "d2"), "u2")
    )
    u1_lower = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("u1") < F.col("u2"))
    )
    return e.select(
        F.when(u1_lower, F.col("u1")).otherwise(F.col("u2")).alias("src"),
        F.when(u1_lower, F.col("u2")).otherwise(F.col("u1")).alias("dst"),
        F.when(u1_lower, F.col("d2")).otherwise(F.col("d1")).alias("dst_deg"),
    )


def triangle_vertices(edges: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """One row (a, b, c) per triangle in the undirected graph; each
    triangle appears exactly once (a = apex of the oriented wedge, b/c
    ordered by rank). Pass a MATERIALIZED `deg` when the caller also
    needs degrees: Catalyst does not reuse common subplans, so a lazy
    deg referenced from both orientation joins and the caller's output
    would re-run its groupBy per reference."""
    own_deg = None
    if deg is None:
        deg = own_deg = _materialize(node_degrees(edges))
    oe = _oriented(edges, deg)
    l = oe.select(
        F.col("src").alias("a"), F.col("dst").alias("b"),
        F.col("dst_deg").alias("bd"),
    )
    r = oe.select(
        F.col("src").alias("a"), F.col("dst").alias("c"),
        F.col("dst_deg").alias("cd"),
    )
    wedges = l.join(r, "a").where(
        (F.col("bd") < F.col("cd"))
        | ((F.col("bd") == F.col("cd")) & (F.col("b") < F.col("c")))
    )
    closure = oe.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    out = wedges.join(closure, ["b", "c"]).select("a", "b", "c")
    return carry_ckpt(out, own_deg)


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node (node, triangles, deg, wedges): triangle membership
    count, degree, and deg*(deg-1)/2 open-wedge capacity — the local
    clustering coefficient is triangles/wedges, left as an exact
    integer pair so comparisons stay float-free. Nodes in no triangle
    appear with triangles = 0. Triangle counts are GRAPH FACTS (unique
    answers), so below the traversal gate + wedge budget the numpy
    mirror (localgraph.tricount_local) answers driver-side with no
    move-schedule parity concerns; the oriented wedge+closure joins
    stay the at-scale plan."""
    out = _traversal_mirror(
        edges, "tricount_local",
        [("node", None), ("triangles", LongType(), False),
         ("deg", LongType(), False), ("wedges", LongType())],
    )
    if out is not None:
        return out
    deg = _materialize(node_degrees(edges))
    tri = triangle_vertices(edges, deg)
    # one explode, not a 3-way unionAll of tri: Catalyst does not reuse
    # common subplans across union branches, so the union form would
    # execute the wedge+closure joins three times
    per_node = (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node",
        F.coalesce(F.col("t"), F.lit(0)).alias("triangles"),
        "deg",
        F.expr("deg * (deg - 1) DIV 2").alias("wedges"),
    )
    return carry_ckpt(out, deg)


def transitivity_stats(edges: DataFrame) -> DataFrame:
    """One-row global summary: n_nodes, n_edges, n_triangles, n_wedges
    (global transitivity = 3*n_triangles/n_wedges, derivable from the
    exact integers). Same mirror crossover as triangle_counts."""
    out = _traversal_mirror(
        edges, "transitivity_local",
        [("n_nodes", LongType(), False), ("n_edges", LongType()),
         ("n_triangles", LongType(), False), ("n_wedges", LongType())],
    )
    if out is not None:
        return out
    deg = _materialize(node_degrees(edges))
    tri_n = triangle_vertices(edges, deg).agg(
        F.count("*").alias("n_triangles")
    )
    base = deg.agg(
        F.count("*").alias("n_nodes"),
        F.expr("CAST(sum(deg) AS BIGINT) DIV 2").alias("n_edges"),
        F.sum(F.expr("deg * (deg - 1) DIV 2")).alias("n_wedges"),
    )
    out = base.crossJoin(tri_n).select(
        "n_nodes", "n_edges", "n_triangles", "n_wedges"
    )
    return carry_ckpt(out, deg)


def degree_assortativity_moments(edges: DataFrame) -> DataFrame:
    """Exact integer moments of the degree-degree joint distribution at
    edge endpoints, over BOTH orientations of every undirected edge (the
    standard convention): m2 = 2|E| directed pairs, s_x = sum of source
    degrees, s_xx = sum of squared source degrees, s_xy = sum of
    endpoint-degree products. The assortativity coefficient is
    (m2*s_xy - s_x^2) / (m2*s_xx - s_x^2) — a driver-side division over
    exact bigints, so the distributed part (this one aggregation pass)
    never touches a float."""
    deg = _materialize(node_degrees(edges))
    both = edges.select("u1", "u2").unionAll(
        edges.select(F.col("u2").alias("u1"), F.col("u1").alias("u2"))
    )
    e = (
        both.join(deg.withColumnRenamed("node", "u1").withColumnRenamed("deg", "dx"), "u1")
        .join(deg.withColumnRenamed("node", "u2").withColumnRenamed("deg", "dy"), "u2")
    )
    out = e.agg(
        F.count("*").alias("m2"),
        F.sum("dx").alias("s_x"),
        F.sum(F.expr("dx * dx")).alias("s_xx"),
        F.sum(F.expr("dx * dy")).alias("s_xy"),
    )
    return carry_ckpt(out, deg)


def strong_tie_backbone(
    edges: DataFrame, k: int = 10, keep_weight: bool = False
) -> DataFrame:
    """Top-k strong-tie sparsification of a weighted undirected graph:
    each node keeps its k heaviest incident edges (ties broken by
    neighbor id, so the result is deterministic), and an edge survives
    if EITHER endpoint keeps it — the standard backbone extraction
    before cohesion analysis (triangles, clustering coefficients) on
    dense projections.

    Why it exists: a co-engagement projection over a bounded item
    vocabulary degenerates toward a complete graph, and exact triangle
    enumeration is then inherently Θ(n³) — no algorithm fixes that,
    the GRAPH must be thresholded. Top-k-per-node (vs a global weight
    cutoff) keeps every node represented and is scale-free: |E'| <= n*k
    by construction, so the triangle pass downstream is linear in n.

    One window per orientation (partitioned by node — the per-node
    top-k never global-sorts); output is the canonical (u1 < u2)
    distinct edge list. ``keep_weight`` carries the edge weight through
    (identical from both orientations, so the distinct still
    canonicalizes) for weighted consumers like `bellman_ford_khop`."""
    from pyspark.sql import Window

    und = edges.select(
        F.col("u1").alias("src"), F.col("u2").alias("dst"), "weight"
    ).unionAll(
        edges.select(
            F.col("u2").alias("src"), F.col("u1").alias("dst"), "weight"
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.col("weight").desc(), F.col("dst")
    )
    cols = [
        F.least("src", "dst").alias("u1"),
        F.greatest("src", "dst").alias("u2"),
    ]
    if keep_weight:
        cols.append(F.col("weight"))
    keep = (
        und.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .select(*cols)
        .distinct()
    )
    return keep


def ktruss_edges(edges: DataFrame, k: int, max_rounds: int = 50) -> DataFrame:
    """The k-truss of an undirected graph: the maximal subgraph in which
    every edge participates in >= k-2 triangles (the edge-cohesion
    sibling of k-core — `gds.kTruss` sits beside `gds.kcore` in the GDS
    catalog family the reference drives, SURVEY.md G5). Returns the
    surviving canonical edges with their in-truss support:
    (u1, u2, support).

    Incremental pruning: the expensive O(m^1.5) triangle ENUMERATION
    (wedge + closure joins) runs ONCE, on the initial subgraph. The
    triangle list is then maintained across rounds — dropping an edge
    kills exactly the triangles containing it, so each round after the
    first only (a) recounts support from the surviving triangle list
    (one explode + map-side-combining groupBy, linear in |tri|) and
    (b) anti-joins the list against the just-dropped edge set (small
    side — AQE broadcasts it). A triangle survives iff all three of its
    edges survive, so the maintained list is exactly the triangle set
    of the current subgraph and support stays exact; the planted
    cascade oracle (`ktruss_planted`) pins this. Dropping an edge can
    destroy a neighbor's triangle, so pruning cascades — a single-pass
    support filter is NOT a truss (pinned by a test whose triangle
    strip unravels only over two rounds).

    Round shape (round 12, guide §2.4): ONE materialized frame per
    round — every current edge with its freshly-counted support — from
    which the kept set (support >= k-2) and the dropped set (the
    complement) are both pure FILTERS over the checkpointed leaf. The
    earlier shape materialized only the kept side and re-derived the
    dropped side as a cur-vs-keep anti-join that Catalyst re-executed
    once per triangle-retirement anti-join (three SortMergeJoin antis
    of two ~|E|-row string frames per round, plus a separate count
    job); the filter form deletes that subplan outright — measured 41
    -> 37 jobs on the bench cascade (3-round 1.84M-edge fixture),
    identical output (multigraph duplicate rows included:
    an anti-join on the edge pair and a support filter classify
    duplicate rows identically). Frames are generations of a
    graph._generations scope, which retires each dead one (the one-shot
    degree frame included) and frees the rest if the loop raises.
    """
    # The k-truss is the UNIQUE maximal subgraph with per-edge support
    # >= k-2, so the numpy mirror (localgraph.ktruss_local: enumerate
    # once, then boolean-mask support recounts) needs correctness
    # only — below the traversal gate + wedge budget it answers
    # driver-side; the incremental distributed loop stays the at-scale
    # plan (and the forced-distributed bench probe keeps exercising it).
    out = _traversal_mirror(
        edges, "ktruss_local",
        [("u1", None), ("u2", None), ("support", LongType(), False)],
        k=k, max_rounds=max_rounds,
    )
    if out is not None:
        return out

    with _generations() as g:
        cur = g.keep(edges.select("u1", "u2"))
        n_cur = n_start = cur.count()
        deg = g.keep(node_degrees(cur))
        tri = g.step(triangle_vertices(cur, deg), prev=deg)
        leaf = cur  # the generation `cur` reads
        for rounds in range(1, max_rounds + 1):
            pairs = tri.select(
                F.explode(
                    F.array(
                        *(
                            F.struct(
                                F.least(a, b).alias("u1"),
                                F.greatest(a, b).alias("u2"),
                            )
                            for a, b in (("a", "b"), ("a", "c"), ("b", "c"))
                        )
                    )
                ).alias("e")
            ).select("e.u1", "e.u2")
            sup = pairs.groupBy("u1", "u2").agg(F.count("*").alias("support"))
            # ONE materialized frame per round: every current edge with
            # its recounted support. keep and dropped are opposite
            # FILTERS over this leaf (see docstring), and one agg job
            # reads the kept count; the previous leaf is dead once this
            # one is on storage.
            flagged, n_keep = g.step(
                cur.join(sup, ["u1", "u2"], "left").select(
                    "u1",
                    "u2",
                    F.coalesce("support", F.lit(0)).alias("support"),
                ),
                prev=leaf,
                n_keep=F.sum((F.col("support") >= k - 2).cast("long")),
            )
            leaf = flagged
            keep = flagged.where(F.col("support") >= k - 2)
            if n_keep == n_cur:
                # fixpoint: no drops this round, so `support` was
                # computed on exactly the surviving subgraph
                log.info(
                    "ktruss k=%d converged in %d rounds: %d -> %d edges",
                    k, rounds, n_start, n_keep,
                )
                return g.result(keep, flagged)
            # incremental maintenance: retire every triangle that
            # contains a dropped edge (three broadcast anti-joins in one
            # pass over tri; the dropped set is a filter of the flagged
            # leaf — small, and never re-derives a join)
            dropped = flagged.where(F.col("support") < k - 2).select(
                F.col("u1").alias("_du1"), F.col("u2").alias("_du2")
            )
            tri_new = tri
            for ca, cb in (("a", "b"), ("a", "c"), ("b", "c")):
                tri_new = tri_new.join(
                    dropped,
                    (F.least(ca, cb) == F.col("_du1"))
                    & (F.greatest(ca, cb) == F.col("_du2")),
                    "left_anti",
                )
            tri = g.step(tri_new, prev=tri)
            cur, n_cur = keep.select("u1", "u2"), n_keep
        # connected_components raises in the analogous case for the same
        # reason (ADVICE r9): a silently-partial result corrupts
        # downstream contracts, and callers have no programmatic way to
        # detect it from the returned frame.
        raise RuntimeError(
            f"ktruss k={k} exhausted max_rounds={max_rounds} WITHOUT "
            f"reaching a fixpoint ({n_start} -> {n_cur} edges): the "
            f"subgraph at this point is not a k-truss. Raise max_rounds "
            f"(each round is one support recount + one anti-join)."
        )
