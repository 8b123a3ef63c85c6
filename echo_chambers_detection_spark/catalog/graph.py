"""Graph algorithms (SURVEY.md M3: G2-G8) and planted-recovery oracles.

Split from the single-file catalog (round 7, VERDICT r6 #7); bodies
are verbatim from that file — see its git history for provenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from echo_chambers_detection_spark.sources.domain import (
    engagements_from_events,
    users_from_events,
)

from echo_chambers_detection_spark.catalog._core import (
    _t,
    register,
)
from echo_chambers_detection_spark.catalog.flagship import (
    _ORACLE_ENGAGEMENTS_CTE,
)
from echo_chambers_detection_spark.catalog.vector import (
    _ORACLE_EMB_EXPLODED,
    _emb,
)
from echo_chambers_detection_spark.operators.graph import (
    _checkpoint,
    _owns_checkpoints,
)

# ===========================================================================
# Graph algorithms (SURVEY.md M3: G2, G4-G8) — iterative, not SQL-
# expressible (except connected components, which gets a recursive-CTE
# oracle); the driver records rows-only checks, invariants live in
# tests/test_graph_algorithms.py.
# ===========================================================================


def _user_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted user co-engagement graph — the reference's userGraph
    projection (project/metrics/community_detection.py:22-38).

    Built with the bitmap formulation (items here are the bounded props.k
    vocabulary — auto-probed, falling back to the general self-join if
    unbounded): identical output to `coengagement_edges`, ~13x faster at
    sf0.1. The flagship `coengagement_edges` query keeps the general
    self-join, which is the right default for open-ended post ids."""
    from echo_chambers_detection_spark.operators.coengagement import (
        coengagement_edges_bitmap,
    )

    eng = _checkpoint(
        engagements_from_events(_t(spark, sf_dir, "events"))
    )
    return coengagement_edges_bitmap(eng, num_slots=None)


@_owns_checkpoints
def _post_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.coengagement import (
        coengagement_edges_bitmap,
    )

    # Checkpoint the parsed engagement relation: the bitmap path reads it
    # twice (max-key probe + mask build), and JSON extraction over the
    # events scan is the expensive part of this query at any scale.
    eng = _checkpoint(
        engagements_from_events(_t(spark, sf_dir, "events"))
    )
    return coengagement_edges_bitmap(
        eng, user_col="post_uri", post_col="user_did", num_slots=None
    )


# k-core peel as a DuckDB recursive CTE (VERDICT r11 #1): the working
# table carries the alive node set + the current peel level k; each
# generation recomputes alive degrees against the static symmetric
# edge list (alive-neighbor test = EXISTS against the previous
# generation), jumps k to max(k, min alive degree) — the engine's
# min-degree-jump, operators/graph.py::kcore — and emits peeled nodes
# as terminal (peeled=true) rows that the next generation does not
# consume. Orphans (deg 0 after their neighbors peeled) peel at the
# CURRENT k exactly like the engine's star-center rule. Expects a CTE
# named g(u1, u2) in scope.
_KCORE_PEEL_SQL = """
sym AS (
  SELECT u1 AS s, u2 AS d FROM g
  UNION ALL SELECT u2 AS s, u1 AS d FROM g
),
vertices AS (SELECT DISTINCT s AS node FROM sym),
peel(node, k, peeled) AS (
  SELECT node, 0, false FROM vertices
  UNION ALL
  SELECT d.node, d.k_new, d.deg <= d.k_new
  FROM (
    SELECT a.node, a.deg,
           GREATEST(a.k, MIN(a.deg) OVER ()) AS k_new
    FROM (
      SELECT p.node, p.k,
             (SELECT COUNT(*) FROM sym e2
               WHERE e2.s = p.node
                 AND EXISTS (SELECT 1 FROM peel q
                             WHERE NOT q.peeled AND q.node = e2.d)
             ) AS deg
      FROM peel p WHERE NOT p.peeled
    ) a
  ) d
)
SELECT node, CAST(k AS BIGINT) AS core_value FROM peel WHERE peeled
"""


@register(
    "kcore_user_graph",
    f"""
WITH RECURSIVE {_ORACLE_ENGAGEMENTS_CTE},
g AS (
    SELECT a.user_did AS u1, b.user_did AS u2
    FROM e a JOIN e b ON a.post_uri = b.post_uri AND a.user_did < b.user_did
    GROUP BY 1, 2
),
{_KCORE_PEEL_SQL}
""",
    doc="k-core decomposition of the user co-engagement graph "
    "(reference gds.kcore.stream; SURVEY.md G4) vs a recursive-CTE "
    "peel oracle with the same min-degree-jump semantics.",
)
def q_kcore_user_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import kcore

    g = _user_graph(spark, sf_dir)
    return kcore(g.select("u1", "u2"))


@register(
    "kcore_strong_backbone",
    f"""
WITH RECURSIVE {_ORACLE_ENGAGEMENTS_CTE},
pe AS (
    SELECT a.post_uri AS u1, b.post_uri AS u2, COUNT(*) AS weight
    FROM e a JOIN e b ON a.user_did = b.user_did AND a.post_uri < b.post_uri
    GROUP BY 1, 2
),
thr AS (SELECT 1.2 * AVG(weight) AS t FROM pe),
g AS (SELECT u1, u2 FROM pe, thr WHERE weight >= t),
{_KCORE_PEEL_SQL}
""",
    doc="k-core decomposition of the strong (above 1.2x mean weight) "
    "post co-engagement backbone — unlike the raw sf0.01 projections "
    "(complete graphs, single-round peel), the thresholded backbone "
    "has a full 1..10 core spectrum, so the recursive-CTE peel oracle "
    "exercises every multi-round jump/orphan branch of "
    "operators/graph.py::kcore.",
)
def q_kcore_strong_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import kcore

    pg = _post_graph(spark, sf_dir)
    thr = pg.agg((1.2 * F.avg("weight")).alias("t"))
    strong = pg.crossJoin(F.broadcast(thr)).where(
        F.col("weight") >= F.col("t")
    ).select("u1", "u2")
    return kcore(strong)


@register(
    "louvain_user_communities",
    None,
    doc="Louvain over the weighted user co-engagement graph (reference "
    "gds.louvain.stream; SURVEY.md G7). Deterministic min-node community ids.",
)
def q_louvain_user_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import louvain

    g = _user_graph(spark, sf_dir)
    return louvain(g, max_levels=2, max_rounds=4)


@register(
    "label_propagation_communities",
    f"""
WITH RECURSIVE {_ORACLE_ENGAGEMENTS_CTE},
pg AS (
    SELECT a.post_uri AS u1, b.post_uri AS u2
    FROM e a JOIN e b ON a.user_did = b.user_did AND a.post_uri < b.post_uri
    GROUP BY 1, 2
),
sym AS MATERIALIZED (
  SELECT u1 AS s, u2 AS d FROM pg
  UNION ALL SELECT u2 AS s, u1 AS d FROM pg
),
vertices AS (SELECT DISTINCT s AS node FROM sym),
lab(iter, node, community, final) AS (
  SELECT 0, node, node, false FROM vertices
  UNION ALL
  SELECT s.iter, s.node, s.community,
         s.nchg = 0 OR s.iter >= 10
  FROM (
    SELECT i.iter, i.node, i.community,
           SUM(CASE WHEN i.community <> i.old THEN 1 ELSE 0 END)
               OVER () AS nchg
    FROM (
      SELECT p.iter + 1 AS iter, p.node,
             COALESCE(w.community, p.community) AS community,
             p.community AS old
      FROM lab p
      LEFT JOIN (
        SELECT node, community FROM (
          SELECT cnt.node, cnt.community,
                 ROW_NUMBER() OVER (PARTITION BY cnt.node
                                    ORDER BY cnt.score DESC,
                                             cnt.community) AS rk
          FROM (
            SELECT e2.d AS node, q.community, COUNT(*) AS score
            FROM lab q JOIN sym e2 ON e2.s = q.node
            WHERE NOT q.final
            GROUP BY e2.d, q.community
          ) cnt
        ) WHERE rk = 1
      ) w ON w.node = p.node
      WHERE NOT p.final AND p.iter < 10
    ) i
  ) s
)
SELECT node, community FROM lab WHERE final
""",
    doc="Synchronous label propagation, unweighted like the reference's "
    "gds.labelPropagation.stream (SURVEY.md G5), vs a generation-"
    "indexed recursive-CTE oracle (converted from rows-only, VERDICT "
    "r11 #1 family): each generation replays one sync round — per-node "
    "neighbor-label counts, argmax by (score DESC, community ASC) "
    "exactly matching the engine's min_by(struct(-score, community)) "
    "tie-break, isolated nodes keeping their own label via the LEFT "
    "JOIN (the engine's zero-weight self-message) — and the no-change "
    "or 10-round generation re-emits labels as terminal rows, the "
    "engine's fixpoint-or-max_iter stop. The sf0.01 post graph "
    "collapses to one label (dense sync-LPA monoculture) so the "
    "DISCRIMINATING dynamics live in the lpa_planted_recovery twin; "
    "this stamp pins round count, tie-break order, and totality on the "
    "real projection.",
)
def q_label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        label_propagation,
    )

    g = _post_graph(spark, sf_dir)
    return label_propagation(g.select("u1", "u2"))


@register(
    "leiden_communities",
    None,
    doc="Leiden-flavored Louvain + connectivity refinement (reference "
    "gds.leiden.stream; SURVEY.md G6, documented substitution)",
)
def q_leiden_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import leiden

    g = _post_graph(spark, sf_dir)
    return leiden(g, max_levels=2, max_rounds=4)


@register(
    "modularity_optimization_communities",
    None,
    doc="Single-level modularity-gain local moves (reference "
    "gds.modularityOptimization.stream; SURVEY.md G8)",
)
def q_modularity_optimization_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        modularity_optimization,
    )

    g = _post_graph(spark, sf_dir)
    return modularity_optimization(g, max_rounds=4)


def _clique_modules_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjoint 12-cliques keyed off the customer table: clique id =
    c_custkey % 97, members = the 12 smallest custkeys per residue
    (row_number cap, so the fixture is bounded at 97 x 12 nodes and
    97 x 66 edges at ANY scale factor — a correctness stamp, not a
    perf row; the planted bench_ fixtures carry the at-scale load).
    LONG node ids on purpose: the community mirrors serve string ids
    only (`graph._mirror_ok`), so these queries pin the REAL distributed
    multilevel loops, which is the point of the stamp."""
    from pyspark.sql import Window

    mem = (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").cast("long").alias("k"))
        .withColumn("grp", F.col("k") % 97)
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("grp").orderBy("k")),
        )
        .where(F.col("rk") <= 12)
        .select("grp", "k")
    )
    return (
        mem.alias("a")
        .join(mem.alias("b"), "grp")
        .where(F.col("a.k") < F.col("b.k"))
        .select(
            F.col("a.k").alias("u1"),
            F.col("b.k").alias("u2"),
            F.lit(1.0).alias("weight"),
        )
    )


# On a disjoint union of cliques the modularity optimum is exactly one
# community per clique: merging communities from different components
# strictly DECREASES modularity (zero internal gain, positive degree
# penalty), and inside a clique any split is dominated by the merged
# community (a minority-side node always gains by moving to the
# majority side), so local moves coalesce each clique and no level can
# merge across components. The min-member canonical label then makes
# the whole answer closed-form: community = MIN(k) over the clique —
# an external hash signal for the REAL Louvain/Leiden/modularity-
# optimization code paths (VERDICT r11 #1 family; prototype-verified
# exact on all three distributed loops before registration).
_CLIQUE_MODULES_ORACLE = """
WITH mem AS (
  SELECT grp, k FROM (
    SELECT CAST(c_custkey AS BIGINT) % 97 AS grp,
           CAST(c_custkey AS BIGINT) AS k,
           ROW_NUMBER() OVER (PARTITION BY CAST(c_custkey AS BIGINT) % 97
                              ORDER BY c_custkey) AS rk
    FROM customer) t
  WHERE rk <= 12
)
SELECT k AS node, MIN(k) OVER (PARTITION BY grp) AS community
FROM mem
QUALIFY COUNT(*) OVER (PARTITION BY grp) >= 2
"""


@register(
    "louvain_clique_modules",
    _CLIQUE_MODULES_ORACLE,
    doc="The distributed multilevel Louvain loop (operators/graph.py::"
    "louvain, long ids so the string-only mirror CANNOT absorb it) on "
    "the disjoint-clique fixture, where the modularity optimum — one "
    "community per clique, min-member label — is provable and closed-"
    "form in SQL. Stamps the local-move gain math, the coarsen/compose "
    "joins, and label canonicalization end-to-end (reference "
    "gds.louvain.stream; SURVEY.md G7).",
)
def q_louvain_clique_modules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import louvain

    return louvain(
        _clique_modules_edges(spark, sf_dir), max_levels=2, max_rounds=4
    )


@register(
    "leiden_clique_modules",
    _CLIQUE_MODULES_ORACLE,
    doc="The distributed Leiden loop (local moves + gamma-connectivity "
    "refinement + coarsen; operators/graph.py::leiden) on the disjoint-"
    "clique fixture: every clique is gamma-well-connected, so "
    "refinement must keep each clique whole and the provable optimum "
    "is the same closed form as louvain_clique_modules (reference "
    "gds.leiden.stream; SURVEY.md G6).",
)
def q_leiden_clique_modules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import leiden

    return leiden(
        _clique_modules_edges(spark, sf_dir), max_levels=2, max_rounds=4
    )


@register(
    "modularity_opt_clique_modules",
    _CLIQUE_MODULES_ORACLE,
    doc="Single-level modularity-gain local moves (operators/graph.py::"
    "modularity_optimization) on the disjoint-clique fixture — same "
    "provable closed form; stamps the one-level move loop without the "
    "coarsen stage (reference gds.modularityOptimization.stream; "
    "SURVEY.md G8).",
)
def q_modularity_opt_clique_modules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        modularity_optimization,
    )

    return modularity_optimization(
        _clique_modules_edges(spark, sf_dir), max_rounds=4
    )


@register(
    "fastrp_embeddings",
    None,
    doc="Deterministic FastRP node embeddings at the REFERENCE parameters "
    "— dim=128, weighted edges, GDS-default iteration weights "
    "(reference gds.fastRP.mutate dim=128, "
    "project/metrics/community_detection.py:40-45; SURVEY.md G2). "
    "Exposed in exploded (node, dim, val) form so order-insensitive "
    "harnesses can hash it; fastrp(assemble=True) is the array API.",
)
def q_fastrp_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        fastrp,
    )

    g = _post_graph(spark, sf_dir)
    exploded = fastrp(g, dim=128, assemble=False)
    return exploded.select(
        "node",
        F.col("dim").cast("long").alias("dim"),
        F.round("val", 6).alias("val"),
    )


# ---------------------------------------------------------------------------
# Planted-partition recovery oracles (VERDICT r5 #2): the community
# algorithms' outputs on the co-engagement graph are not SQL-expressible
# (rows-only stamps), but on a deterministic strongly-separated planted
# fixture the recovered partition has a CLOSED FORM — community id =
# min member node id of each planted block — that DuckDB generates with
# range(). These give the driver hash-hard signal on G4/G5/G6/G7/G8 +
# connected components. Fixture construction: operators/planted.py.
# The fixtures are sf-independent (generated, not read), so the oracle
# holds at every scale the driver runs.
# ---------------------------------------------------------------------------

_PLANTED_BLOCK_SQL = """
SELECT lpad(CAST(b * {bs} AS VARCHAR), 6, '0') AS community,
       CAST({bs} AS BIGINT) AS size
FROM range(0, {nb}) t(b)
"""

_PLANTED_NODE_SQL = """
SELECT lpad(CAST(i AS VARCHAR), 6, '0') AS node,
       lpad(CAST((i // {bs}) * {bs} AS VARCHAR), 6, '0') AS {label}
FROM range(0, {n}) t(i)
"""


def _planted_cliques(spark: SparkSession) -> DataFrame:
    """12 complete blocks K_25 + path bridges: no internal structure for
    a modularity local optimum to split, so Louvain-family recovery is
    exact (ring-chord blocks deterministically leave splinters — the
    defect Leiden's refinement repairs; see leiden_planted_recovery)."""
    from echo_chambers_detection_spark.operators.planted import (
        planted_partition_edges,
    )

    return planted_partition_edges(
        spark, 12, 25, 12, bridges=True, offsets="linear"
    )


def _planted_rings(spark: SparkSession, bridges: bool) -> DataFrame:
    """10 quadratic-chord blocks of 60 (10-regular, low diameter)."""
    from echo_chambers_detection_spark.operators.planted import (
        planted_partition_edges,
    )

    return planted_partition_edges(spark, 10, 60, 5, bridges=bridges)


@register(
    "louvain_planted_recovery",
    _PLANTED_BLOCK_SQL.format(nb=12, bs=25),
    doc="Louvain exact planted-partition recovery: 12 bridged K_25 "
    "cliques -> the recovered communities are precisely the blocks, "
    "community id = min member node (SURVEY.md G7; hash-hard oracle "
    "for the algorithm the reference runs as gds.louvain.stream)",
)
def q_louvain_planted_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import louvain

    assign = louvain(_planted_cliques(spark), max_levels=2, max_rounds=8)
    return assign.groupBy("community").agg(F.count("*").alias("size"))


@register(
    "modularity_opt_planted_recovery",
    _PLANTED_BLOCK_SQL.format(nb=12, bs=25),
    doc="Single-level modularity optimization recovers the same 12 "
    "cliques exactly (SURVEY.md G8 oracle)",
)
def q_modularity_opt_planted_recovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        modularity_optimization,
    )

    assign = modularity_optimization(_planted_cliques(spark), max_rounds=8)
    return assign.groupBy("community").agg(F.count("*").alias("size"))


@register(
    "leiden_planted_recovery",
    _PLANTED_BLOCK_SQL.format(nb=10, bs=60),
    doc="Leiden exact recovery on the HARDER ring-chord fixture that "
    "plain Louvain deterministically splits (split purity 0.912 there) "
    "— direct evidence the refinement phase does its job "
    "(SURVEY.md G6 oracle)",
)
def q_leiden_planted_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import leiden

    assign = leiden(_planted_rings(spark, bridges=True), max_levels=2, max_rounds=8)
    return assign.groupBy("community").agg(F.count("*").alias("size"))


@register(
    "lpa_planted_recovery",
    _PLANTED_NODE_SQL.format(n=600, bs=60, label="community"),
    doc="Label propagation converges to per-block consensus = min node "
    "id on 10 disjoint ring-chord blocks; per-node output (SURVEY.md "
    "G5 oracle). LPA has no driver-local mirror, so this runs the "
    "distributed loop itself.",
)
def q_lpa_planted_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        label_propagation,
    )

    return label_propagation(_planted_rings(spark, bridges=False))


@register(
    "kcore_planted_cores",
    """
SELECT lpad(CAST(i AS VARCHAR), 6, '0') AS node,
       CAST(10 AS BIGINT) AS core_value
FROM range(0, 600) t(i)
""",
    doc="k-core on a 10-regular planted graph: every node's core number "
    "is exactly 10 (SURVEY.md G4 oracle)",
)
def q_kcore_planted_cores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import kcore

    return kcore(_planted_rings(spark, bridges=False).select("u1", "u2"))


@register(
    "connected_components_planted",
    _PLANTED_NODE_SQL.format(n=600, bs=60, label="component"),
    doc="Connected components on 10 disjoint blocks: component id = min "
    "member node id, per-node output (hash-hard oracle for the CC "
    "primitive under Leiden refinement / dedup keep-lists)",
)
def q_connected_components_planted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        connected_components,
    )

    return connected_components(
        _planted_rings(spark, bridges=False).select("u1", "u2")
    )


@register(
    "hdbscan_planted_recovery",
    _PLANTED_NODE_SQL.format(n=250, bs=50, label="cluster"),
    doc="HDBSCAN* exact planted recovery (VERDICT r6 #1 — the last "
    "algorithm family with no hash-hard oracle): 5 unit-circle arc "
    "blocks of 50 points (operators/planted.py::planted_arc_"
    "embeddings) run the FULL pipeline — exact k-NN graph, core "
    "distances, mutual reachability, Boruvka forest, condensed-tree "
    "EoM selection — and the labels have a closed form: the k-NN "
    "graph provably has zero cross-block edges, each block's forest "
    "tree sheds only sub-mcs runts, so every point is labeled its "
    "block's min member id. Mirrors the reference's gds.hdbscan."
    "stream (project/metrics/community_detection.py:49-54).",
)
def q_hdbscan_planted_recovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from echo_chambers_detection_spark.operators.hdbscan import (
        hdbscan_cluster,
    )
    from echo_chambers_detection_spark.operators.planted import (
        planted_arc_embeddings,
    )

    emb = planted_arc_embeddings(spark, 5, 50)
    return hdbscan_cluster(emb, min_pts=5, min_cluster_size=10)


@register(
    "fastrp_step_recovery",
    """
WITH nodes AS (
    SELECT lpad(CAST(i AS VARCHAR), 6, '0') AS node FROM range(0, 3) t(i)
),
dims AS (SELECT UNNEST(generate_series(0, 15)) AS dim),
init AS (
    SELECT node, dim,
           CASE (strpos('0123456789abcdef',
                        substr(md5(node || ':' || CAST(dim AS VARCHAR)
                                   || ':2'), 1, 1)) - 1) % 6
                WHEN 0 THEN sqrt(3.0)
                WHEN 1 THEN -sqrt(3.0)
                ELSE 0.0 END AS val
    FROM nodes, dims
),
edges AS (
    SELECT lpad(CAST(i AS VARCHAR), 6, '0') AS src,
           lpad(CAST(i + 1 AS VARCHAR), 6, '0') AS dst, 1.0 AS w
    FROM range(0, 2) t(i)
    UNION ALL
    SELECT lpad(CAST(i + 1 AS VARCHAR), 6, '0'),
           lpad(CAST(i AS VARCHAR), 6, '0'), 1.0
    FROM range(0, 2) t(i)
),
trans AS (
    SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM edges
),
prop AS (
    SELECT t.src AS node, i.dim, SUM(t.p * i.val) AS val
    FROM trans t JOIN init i ON i.node = t.dst GROUP BY 1, 2
),
normed AS (
    SELECT node, dim,
           CASE WHEN sqrt(SUM(val * val) OVER (PARTITION BY node)) > 0
                THEN val / sqrt(SUM(val * val) OVER (PARTITION BY node))
                ELSE val END AS val
    FROM prop
)
SELECT n.node, d.dim, round(COALESCE(x.val, 0.0), 6) AS val
FROM nodes n CROSS JOIN dims d
LEFT JOIN normed x ON x.node = n.node AND x.dim = d.dim
""",
    doc="One round of the FastRP recurrence made ORACLE-EXACT (VERDICT "
    "r6 #8, converting G2 from rows-only to hash-green): on a 3-node "
    "path with the md5-derived init hash (graph.py::fastrp_md5_mod6 — "
    "the engine-portable-hash trick of simhash64_md5_near_pairs), "
    "init -> degree-normalized propagation -> per-node L2 normalize "
    "is plain SQL DuckDB replays verbatim; values rounded to 1e-6, "
    "far above float-summation-order jitter. Production fastrp keeps "
    "the native xxhash64 init; this pins the recurrence itself. "
    "Mirrors gds.fastRP.stream (project/metrics/community_detection"
    ".py:66-71).",
)
def q_fastrp_step_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        fastrp,
        fastrp_md5_mod6,
    )

    edges = spark.range(2).select(
        F.lpad(F.col("id").cast("string"), 6, "0").alias("u1"),
        F.lpad((F.col("id") + 1).cast("string"), 6, "0").alias("u2"),
        F.lit(1.0).alias("weight"),
    )

    exploded = fastrp(
        edges,
        dim=16,
        iteration_weights=(0.0, 1.0),
        seed=2,
        assemble=False,
        hash_mod6=fastrp_md5_mod6,
    )
    return exploded.select("node", "dim", F.round("val", 6).alias("val"))


@register(
    "density_clusters",
    None,
    doc="The reference's full analytical chain re-expressed: co-engagement "
    "projection -> FastRP embeddings -> density clustering with -1 noise "
    "(reference HDBSCAN on FastRP, SURVEY.md G3 substitution)",
)
def q_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        density_cluster,
        fastrp,
    )

    g = _post_graph(spark, sf_dir)
    rp = fastrp(g, dim=32)
    emb = rp.withColumnRenamed("embedding", "vector")
    return density_cluster(emb, min_sim=0.6, min_pts=2)


@register(
    "density_clusters_lsh",
    None,
    doc="The SCALE path of density_clusters (VERDICT r2 #4): the same "
    "FastRP -> density chain with use_lsh=True, so the neighbor graph "
    "comes from banded hyperplane-LSH candidate generation + "
    "exact-cosine rerank instead of the exact blocked-GEMM self-join. "
    "Recall vs the exact path at this operating point is asserted in "
    "tests/test_fastrp_density.py and recorded in COVERAGE.md.",
)
def q_density_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        density_cluster,
        fastrp,
    )

    g = _post_graph(spark, sf_dir)
    rp = fastrp(g, dim=32)
    emb = rp.withColumnRenamed("embedding", "vector")
    return density_cluster(
        emb, min_sim=0.6, min_pts=2, use_lsh=True,
        lsh_num_planes=16, lsh_band_bits=4, dim=32,
    )


@register(
    "density_clusters_lsh_exhaustive",
    f"""
WITH RECURSIVE {_ORACLE_EMB_EXPLODED},
scores AS (
    SELECT a.post_cid AS v1, b.post_cid AS v2,
           ROUND(SUM(a.x * b.x) / (SQRT(SUM(a.x * a.x)) * SQRT(SUM(b.x * b.x))), 6) AS score
    FROM ex a JOIN ex b ON a.i = b.i AND a.post_cid < b.post_cid
    GROUP BY 1, 2
),
pairs AS (SELECT v1, v2 FROM scores WHERE score >= 0.4),
nbrs AS (
    SELECT v1 AS na, v2 AS nb FROM pairs
    UNION ALL SELECT v2, v1 FROM pairs
),
deg AS (SELECT na AS node, COUNT(*) AS n FROM nbrs GROUP BY 1),
core AS (SELECT node FROM deg WHERE n >= 3),
core_edges AS (
    SELECT na AS src, nb AS dst FROM nbrs
    JOIN core c1 ON c1.node = na JOIN core c2 ON c2.node = nb
),
closure AS (
    SELECT node, node AS comp FROM core
    UNION
    SELECT e.dst AS node, c.comp
    FROM closure c JOIN core_edges e ON e.src = c.node
    WHERE c.comp < e.dst
),
core_clusters AS (SELECT node, MIN(comp) AS cluster FROM closure GROUP BY node),
border AS (
    SELECT n.na AS node, MIN(cc.cluster) AS cluster
    FROM nbrs n JOIN core_clusters cc ON cc.node = n.nb
    WHERE n.na NOT IN (SELECT node FROM core)
    GROUP BY 1
),
labeled AS (
    SELECT DISTINCT node, cluster FROM (
        SELECT node, cluster FROM core_clusters
        UNION ALL SELECT node, cluster FROM border
    )
)
SELECT e.post_cid AS node, COALESCE(l.cluster, '-1') AS cluster
FROM (SELECT DISTINCT post_cid FROM ex) e
LEFT JOIN labeled l ON l.node = e.post_cid
""",
    doc="DBSCAN through the LSH-banded machinery in its EXHAUSTIVE "
    "configuration (band_bits=0 — one zero-bit band, all pairs are "
    "candidates; the refine=None analogue that promoted the PQ queries, "
    "VERDICT r5 #9): output provably equals the exact density chain "
    "over the embeddings table, so the full core/border/noise semantics "
    "get a SQL hash oracle (n-squared cosine + recursive-CTE "
    "components). The pruned operating point stays density_clusters_lsh "
    "(rows-only, recall-tested).",
)
def q_density_clusters_lsh_exhaustive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import density_cluster

    emb = _emb(spark, sf_dir).select(
        F.col("post_cid").alias("node"), "vector"
    )
    return density_cluster(
        emb, min_sim=0.4, min_pts=3, use_lsh=True, lsh_band_bits=0, dim=32
    )


@register(
    "hdbscan_clusters",
    None,
    doc="True HDBSCAN* over FastRP node embeddings — the reference's "
    "gds.hdbscan.stream(G, nodeProperty='embedding') "
    "(project/metrics/community_detection.py:49-54; artifact "
    "hdbscan_clusters.csv: labels + noise=-1). Real "
    "hierarchy/stability semantics (mutual-reachability k-NN MST -> "
    "condensed tree -> excess-of-mass selection), distributed via "
    "GEMM-tiled k-NN + Boruvka spanning forest; only the <=n-1-edge "
    "forest ever reaches the driver. On this synthetic near-complete "
    "post graph the embeddings form ONE dense blob, so "
    "allow_single_cluster=False semantics correctly label everything "
    "noise — the discriminating fixtures live in tests/test_hdbscan.py "
    "(blobs end-to-end, hand-computed condense cases, MST parity).",
)
def q_hdbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        fastrp,
    )
    from echo_chambers_detection_spark.operators.hdbscan import (
        hdbscan_cluster,
    )

    # dim=128 matches the reference's FastRP parameters exactly
    # (embeddingDimension=128 — BASELINE.md; gds.fastRP.mutate at
    # project/metrics/community_detection.py:42-44) before HDBSCAN
    g = _post_graph(spark, sf_dir)
    rp = fastrp(g, dim=128)
    emb = rp.withColumnRenamed("embedding", "vector")
    return hdbscan_cluster(emb, min_pts=3, min_cluster_size=3, k=10)


@register(
    "knn_graph_topk",
    f"""
WITH {_ORACLE_EMB_EXPLODED},
norms AS (SELECT post_cid, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
dots AS (
    SELECT a.post_cid AS src, b.post_cid AS dst, SUM(a.x * b.x) AS dot
    FROM ex a JOIN ex b ON a.i = b.i AND a.post_cid != b.post_cid
    GROUP BY 1, 2
),
dists AS (
    SELECT d.src, d.dst,
           1 - ROUND(d.dot / (na.nrm * nb.nrm), 6) AS dist
    FROM dots d
    JOIN norms na ON na.post_cid = d.src
    JOIN norms nb ON nb.post_cid = d.dst
),
ranked AS (
    SELECT src, dst, dist,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
    FROM dists
)
SELECT src, dst, dist FROM ranked WHERE rn <= 5
""",
    doc="Exact k-NN graph (k=5, cosine distance) — the building block "
    "under HDBSCAN* and the ANN family, exposed as its own "
    "oracle-checked operator. GEMM tiles emit per-row tile-local top-k, "
    "one window keeps the global top-k: O(n·B·k) shuffle rows, never "
    "n² pairs past the tiles. Ties break (dist, dst) in both engines.",
)
def q_knn_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.hdbscan import knn_graph

    return knn_graph(
        _emb(spark, sf_dir), k=5, num_blocks=4,
        id_col="post_cid", vec_col="vector",
    ).select(F.col("src"), F.col("dst"), F.col("dist"))


@register(
    "knn_graph_ann_topk",
    f"""
WITH {_ORACLE_EMB_EXPLODED},
norms AS (SELECT post_cid, SQRT(SUM(x * x)) AS nrm FROM ex GROUP BY 1),
dots AS (
    SELECT a.post_cid AS src, b.post_cid AS dst, SUM(a.x * b.x) AS dot
    FROM ex a JOIN ex b ON a.i = b.i AND a.post_cid != b.post_cid
    GROUP BY 1, 2
),
dists AS (
    SELECT d.src, d.dst,
           1 - ROUND(d.dot / (na.nrm * nb.nrm), 6) AS dist
    FROM dots d
    JOIN norms na ON na.post_cid = d.src
    JOIN norms nb ON nb.post_cid = d.dst
),
ranked AS (
    SELECT src, dst, dist,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
    FROM dists
)
SELECT src, dst, dist FROM ranked WHERE rn <= 5
""",
    doc="ANN-candidate k-NN graph in its EXHAUSTIVE configuration "
    "(nprobe == n_cells): IVF cells route candidates, per-cell GEMM "
    "reranks, and with every cell probed the result is bit-identical "
    "to the exact path — so the approximate operator itself is "
    "oracle-checked (same SQL as knn_graph_topk). The pruned "
    "configuration (nprobe << n_cells, the 100 TB default inside "
    "hdbscan_cluster's auto mode) has a measured >=0.95 recall test "
    "in tests/test_hdbscan.py instead.",
)
def q_knn_graph_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.hdbscan import knn_graph_ann

    # iters=1: with every cell probed the result is quantizer-
    # independent, so extra Lloyd rounds only buy bench time here
    g = knn_graph_ann(
        _emb(spark, sf_dir), k=5, n_cells=4, nprobe=4, iters=1,
        id_col="post_cid", vec_col="vector",
    )
    return g.select(F.col("src"), F.col("dst"), F.col("dist"))


@register(
    "connected_components_strong",
    f"""
WITH RECURSIVE
{_ORACLE_ENGAGEMENTS_CTE},
pedges AS (
    SELECT a.post_uri AS u1, b.post_uri AS u2, COUNT(*) AS weight
    FROM e a JOIN e b ON a.user_did = b.user_did AND a.post_uri < b.post_uri
    GROUP BY 1, 2
),
thr AS (SELECT 1.2 * AVG(weight) AS t FROM pedges),
strong AS (SELECT u1, u2 FROM pedges, thr WHERE weight >= t),
sym AS (
    SELECT u1 AS s, u2 AS d FROM strong
    UNION ALL SELECT u2 AS s, u1 AS d FROM strong
),
vertices AS (SELECT DISTINCT s AS node FROM sym),
reach(node, lab) AS (
    SELECT node, node FROM vertices
    UNION
    SELECT s.d, r.lab FROM reach r JOIN sym s ON s.s = r.node
)
SELECT node, MIN(lab) AS component FROM reach GROUP BY node
""",
    doc="Connected components of the strong (above 1.2x mean weight) "
    "co-engagement backbone; min-label propagation vs a recursive-CTE "
    "transitive-closure oracle",
)
def q_connected_components_strong(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        connected_components,
    )

    pg = _post_graph(spark, sf_dir)
    thr = pg.agg((1.2 * F.avg("weight")).alias("t"))
    strong = pg.crossJoin(F.broadcast(thr)).where(
        F.col("weight") >= F.col("t")
    ).select("u1", "u2")
    return connected_components(strong)



# ---------------------------------------------------------------------------
# PageRank (superset centrality over the same projected graph the
# community family runs on; see operators/graph.py::pagerank)
# ---------------------------------------------------------------------------


def _pagerank_star_cycle(spark: SparkSession) -> DataFrame:
    """Dyadic-exact PageRank fixture: 64 nodes whose degrees are ALL
    powers of two — star K_{1,32} (hub 000, leaves 001..032), star
    K_{1,16} (hub 033, leaves 034..049), and a 14-cycle (050..063).
    With damping 0.5 every intermediate value of the power iteration is
    a dyadic rational with denominator <= 2^24, so Spark and DuckDB
    compute BIT-IDENTICAL doubles regardless of summation order — the
    oracle can hash exact scaled integers instead of rounded floats."""
    pad = lambda c: F.lpad(c.cast("string"), 3, "0")  # noqa: E731
    star_a = spark.range(1, 33).select(
        F.lit("000").alias("u1"), pad(F.col("id")).alias("u2")
    )
    star_b = spark.range(34, 50).select(
        F.lit("033").alias("u1"), pad(F.col("id")).alias("u2")
    )
    cyc = spark.range(50, 63).select(
        pad(F.col("id")).alias("u1"), pad(F.col("id") + 1).alias("u2")
    )
    wrap = spark.range(1).select(
        F.lit("050").alias("u1"), F.lit("063").alias("u2")
    )
    return star_a.unionAll(star_b).unionAll(cyc).unionAll(wrap)


_PAGERANK_ITER_SQL = """
i{k} AS (
    SELECT sh.dst AS node, SUM(sh.share * r{p}.r) AS s
    FROM sh JOIN r{p} ON r{p}.node = sh.src
    GROUP BY sh.dst
),
r{k} AS (
    SELECT r{p}.node, 0.5 / 64 + 0.5 * COALESCE(i{k}.s, 0) AS r
    FROM r{p} LEFT JOIN i{k} ON i{k}.node = r{p}.node
)"""


@register(
    "pagerank_planted",
    f"""
WITH star_a AS (SELECT 0 AS src, i AS dst FROM range(1, 33) t(i)),
star_b AS (SELECT 33 AS src, i AS dst FROM range(34, 50) t(i)),
cyc AS (
    SELECT i AS src, CASE WHEN i = 63 THEN 50 ELSE i + 1 END AS dst
    FROM range(50, 64) t(i)
),
und AS (
    SELECT src, dst FROM star_a UNION ALL SELECT dst, src FROM star_a
    UNION ALL SELECT src, dst FROM star_b UNION ALL SELECT dst, src FROM star_b
    UNION ALL SELECT src, dst FROM cyc UNION ALL SELECT dst, src FROM cyc
),
deg AS (SELECT src, COUNT(*) AS d FROM und GROUP BY src),
sh AS (
    SELECT u.src, u.dst, 1.0 / deg.d AS share
    FROM und u JOIN deg ON deg.src = u.src
),
r0 AS (SELECT i AS node, 1.0 / 64 AS r FROM range(0, 64) t(i)),
{_PAGERANK_ITER_SQL.format(k=1, p=0)},
{_PAGERANK_ITER_SQL.format(k=2, p=1)},
{_PAGERANK_ITER_SQL.format(k=3, p=2)}
SELECT lpad(CAST(node AS VARCHAR), 3, '0') AS node,
       CAST(r * 16777216 AS BIGINT) AS rank_scaled
FROM r3
""",
    doc="PageRank dyadic-exact oracle: 3 power-iteration rounds at "
    "damping 0.5 on the power-of-two-degree star/cycle fixture — every "
    "rank is an exact multiple of 2^-24, so the comparison is on exact "
    "scaled INTEGERS (no float rounding seam at all). The DuckDB side "
    "replays the iteration unrolled as CTEs. Superset centrality next "
    "to the reference's GDS community family "
    "(project/metrics/community_detection.py:49-83).",
)
def q_pagerank_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import pagerank

    ranks = pagerank(
        _pagerank_star_cycle(spark), damping=0.5, max_iter=3, tol=0.0
    )
    return ranks.select(
        "node",
        (F.col("rank") * F.lit(16777216.0)).cast("long").alias("rank_scaled"),
    )


@register(
    "pagerank_user_graph",
    f"""
WITH {_ORACLE_ENGAGEMENTS_CTE},
ce AS (
    SELECT a.user_did AS u1, b.user_did AS u2, CAST(COUNT(*) AS DOUBLE) AS w
    FROM e a JOIN e b ON a.post_uri = b.post_uri AND a.user_did < b.user_did
    GROUP BY 1, 2
),
und AS (
    SELECT u1 AS src, u2 AS dst, w FROM ce
    UNION ALL SELECT u2 AS src, u1 AS dst, w FROM ce
),
wdeg AS (SELECT src, SUM(w) AS wd FROM und GROUP BY src),
sh AS (
    SELECT u.src, u.dst, u.w / wdeg.wd AS share
    FROM und u JOIN wdeg ON wdeg.src = u.src
),
n AS (SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) AS n FROM und),
r0 AS (SELECT DISTINCT src AS node, 1.0 / n.n AS r FROM und, n),
i1 AS (
    SELECT sh.dst AS node, SUM(sh.share * r0.r) AS s
    FROM sh JOIN r0 ON r0.node = sh.src GROUP BY sh.dst
),
r1 AS (
    SELECT r0.node, 0.15 / n.n + 0.85 * COALESCE(i1.s, 0) AS r
    FROM r0 LEFT JOIN i1 ON i1.node = r0.node, n
),
i2 AS (
    SELECT sh.dst AS node, SUM(sh.share * r1.r) AS s
    FROM sh JOIN r1 ON r1.node = sh.src GROUP BY sh.dst
),
r2 AS (
    SELECT r1.node, 0.15 / n.n + 0.85 * COALESCE(i2.s, 0) AS r
    FROM r1 LEFT JOIN i2 ON i2.node = r1.node, n
),
i3 AS (
    SELECT sh.dst AS node, SUM(sh.share * r2.r) AS s
    FROM sh JOIN r2 ON r2.node = sh.src GROUP BY sh.dst
),
r3 AS (
    SELECT r2.node, 0.15 / n.n + 0.85 * COALESCE(i3.s, 0) AS r
    FROM r2 LEFT JOIN i3 ON i3.node = r2.node, n
)
SELECT node AS user_did, ROUND(r, 9) AS rank
FROM r3
""",
    doc="Weighted PageRank (3 fixed rounds, damping 0.85) over the user "
    "co-engagement projection — the production influence query next to "
    "the community family; oracle unrolls the power iteration over the "
    "same CTE graph. Since round 8 this routes through the FACTORED "
    "matvec (operators/graph.py::pagerank_coengagement — two O(|eng|) "
    "joins per round through the bipartite relation, never "
    "materializing the near-complete B·Bᵀ projection: ~5x faster at "
    "sf0.1, and the only shape that survives a celebrity post at "
    "100 TB; parity with the materialized path pinned in "
    "tests/test_graph_algorithms.py). Ranks rounded to 9 digits "
    "(values are O(1e-3); the ~1e-16 summation-order jitter sits 7 "
    "orders below the rounding grain).",
)
def q_pagerank_user_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        pagerank_coengagement,
    )

    eng = engagements_from_events(_t(spark, sf_dir, "events"))
    ranks = pagerank_coengagement(
        eng, damping=0.85, max_iter=3, tol=0.0
    )
    return ranks.select(
        F.col("node").alias("user_did"), F.round("rank", 9).alias("rank")
    )


_PPR_ITER_SQL = """
i{k} AS (
    SELECT sh.dst AS node, SUM(sh.share * r{p}.r) AS s
    FROM sh JOIN r{p} ON r{p}.node = sh.src
    GROUP BY sh.dst
),
r{k} AS (
    SELECT r{p}.node,
           (CASE WHEN r{p}.node IN (0, 33) THEN 0.25 ELSE 0.0 END)
           + 0.5 * COALESCE(i{k}.s, 0) AS r
    FROM r{p} LEFT JOIN i{k} ON i{k}.node = r{p}.node
)"""


@register(
    "pagerank_personalized_planted",
    f"""
WITH star_a AS (SELECT 0 AS src, i AS dst FROM range(1, 33) t(i)),
star_b AS (SELECT 33 AS src, i AS dst FROM range(34, 50) t(i)),
cyc AS (
    SELECT i AS src, CASE WHEN i = 63 THEN 50 ELSE i + 1 END AS dst
    FROM range(50, 64) t(i)
),
und AS (
    SELECT src, dst FROM star_a UNION ALL SELECT dst, src FROM star_a
    UNION ALL SELECT src, dst FROM star_b UNION ALL SELECT dst, src FROM star_b
    UNION ALL SELECT src, dst FROM cyc UNION ALL SELECT dst, src FROM cyc
),
deg AS (SELECT src, COUNT(*) AS d FROM und GROUP BY src),
sh AS (
    SELECT u.src, u.dst, 1.0 / deg.d AS share
    FROM und u JOIN deg ON deg.src = u.src
),
r0 AS (
    SELECT i AS node,
           CASE WHEN i IN (0, 33) THEN 0.5 ELSE 0.0 END AS r
    FROM range(0, 64) t(i)
),
{_PPR_ITER_SQL.format(k=1, p=0)},
{_PPR_ITER_SQL.format(k=2, p=1)},
{_PPR_ITER_SQL.format(k=3, p=2)}
SELECT lpad(CAST(node AS VARCHAR), 3, '0') AS node,
       CAST(r * 16777216 AS BIGINT) AS rank_scaled
FROM r3
""",
    doc="PERSONALIZED PageRank (random walk with restart) on the same "
    "dyadic star/cycle fixture: teleport mass 1/2 on each hub, so the "
    "cycle component — unreachable from the seeds — provably decays to "
    "exactly zero while the two stars split mass by hub degree. Same "
    "exact-scaled-integer hashing as pagerank_planted (seed weights "
    "1/2 keep every intermediate a multiple of 2^-24). Influence/"
    "recommendation variant of the centrality family.",
)
def q_pagerank_personalized_planted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import pagerank

    ranks = pagerank(
        _pagerank_star_cycle(spark),
        damping=0.5,
        max_iter=3,
        tol=0.0,
        seeds=["000", "033"],
    )
    return ranks.select(
        "node",
        (F.col("rank") * F.lit(16777216.0)).cast("long").alias("rank_scaled"),
    )


# ===========================================================================
# Graph statistics: triangles / clustering / assortativity (round 8) —
# the GDS-catalog cohesion companions (gds.triangleCount,
# gds.localClusteringCoefficient) to the community detectors the
# reference streams (project/metrics/community_detection.py:49-83).
# All-integer outputs, so every query is oracle-hash-exact.
# ===========================================================================

_ORACLE_USER_GRAPH_CTE = f"""
{_ORACLE_ENGAGEMENTS_CTE},
g AS (
    SELECT a.user_did AS u1, b.user_did AS u2
    FROM e a JOIN e b ON a.post_uri = b.post_uri AND a.user_did < b.user_did
    GROUP BY 1, 2
),
deg AS (
    SELECT node, COUNT(*) AS deg FROM (
        SELECT u1 AS node FROM g UNION ALL SELECT u2 AS node FROM g
    ) GROUP BY node
)
"""

# strong-tie backbone: top-10 heaviest partners per user, edge kept if
# either endpoint keeps it (operators/triangles.py::strong_tie_backbone).
# The co-engagement projection over a bounded post vocabulary
# degenerates toward a complete graph, where exact triangle counting is
# inherently Θ(n³) — cohesion analysis runs on the thresholded backbone
# (|E'| <= 10n by construction), as every production pipeline does.
_ORACLE_BACKBONE_CTE = f"""
{_ORACLE_ENGAGEMENTS_CTE},
gw AS (
    SELECT a.user_did AS u1, b.user_did AS u2, COUNT(*) AS w
    FROM e a JOIN e b ON a.post_uri = b.post_uri AND a.user_did < b.user_did
    GROUP BY 1, 2
),
und AS (
    SELECT u1 AS src, u2 AS dst, w FROM gw
    UNION ALL SELECT u2 AS src, u1 AS dst, w FROM gw
),
g AS (
    SELECT DISTINCT LEAST(src, dst) AS u1, GREATEST(src, dst) AS u2
    FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst) AS rk
        FROM und
    ) WHERE rk <= 10
),
deg AS (
    SELECT node, COUNT(*) AS deg FROM (
        SELECT u1 AS node FROM g UNION ALL SELECT u2 AS node FROM g
    ) GROUP BY node
)
"""


@register(
    "triangle_counts",
    f"""
WITH {_ORACLE_BACKBONE_CTE},
tri AS (
    SELECT e1.u1 AS a, e1.u2 AS b, e2.u2 AS c
    FROM g e1
    JOIN g e2 ON e2.u1 = e1.u2
    JOIN g e3 ON e3.u1 = e1.u1 AND e3.u2 = e2.u2
),
pn AS (
    SELECT node, COUNT(*) AS t FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ) GROUP BY node
)
SELECT d.node,
       COALESCE(pn.t, 0) AS triangles,
       d.deg,
       d.deg * (d.deg - 1) // 2 AS wedges
FROM deg d LEFT JOIN pn ON pn.node = d.node
""",
    doc="Per-user triangle membership + degree + wedge capacity on the "
    "STRONG-TIE BACKBONE of the co-engagement graph (top-10 heaviest "
    "partners per user — the dense projection itself is near-complete "
    "over a bounded post vocabulary, where exact triangle counting is "
    "inherently cubic; thresholding the graph is the fix, not the "
    "algorithm). Local clustering coefficient = triangles/wedges, left "
    "as exact integers; degree-ordered node-iterator, each triangle "
    "found at its unique low-rank apex (operators/triangles.py)",
)
def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.triangles import (
        strong_tie_backbone,
        triangle_counts,
    )

    g = _user_graph(spark, sf_dir)
    return triangle_counts(strong_tie_backbone(g, k=10))


@register(
    "transitivity_stats",
    f"""
WITH {_ORACLE_BACKBONE_CTE},
tri AS (
    SELECT COUNT(*) AS n_triangles
    FROM g e1
    JOIN g e2 ON e2.u1 = e1.u2
    JOIN g e3 ON e3.u1 = e1.u1 AND e3.u2 = e2.u2
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM g) AS n_edges,
       tri.n_triangles,
       (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg) AS n_wedges
FROM tri
""",
    doc="Global transitivity summary of the co-engagement STRONG-TIE "
    "BACKBONE (same top-10 sparsification as triangle_counts; "
    "3*n_triangles/n_wedges = global clustering coefficient, exact "
    "integer numerator/denominator)",
)
def q_transitivity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.triangles import (
        strong_tie_backbone,
        transitivity_stats,
    )

    g = _user_graph(spark, sf_dir)
    return transitivity_stats(strong_tie_backbone(g, k=10))


@register(
    "bfs_hop_distances",
    f"""
WITH RECURSIVE {_ORACLE_BACKBONE_CTE},
und2 AS (
    SELECT u1 AS src, u2 AS dst FROM g
    UNION ALL SELECT u2 AS src, u1 AS dst FROM g
),
walk(node, d) AS (
    SELECT (SELECT MIN(u1) FROM g), 0
    UNION
    SELECT und2.dst, walk.d + 1
    FROM walk JOIN und2 ON und2.src = walk.node
    WHERE walk.d < 30
)
SELECT node, CAST(MIN(d) AS BIGINT) AS dist FROM walk GROUP BY node
""",
    doc="Single-source BFS hop distances from the binary-smallest user "
    "over the strong-tie backbone — the GDS traversal/shortest-path "
    "family (gds.bfs streams from the same projected graph the "
    "reference's community algorithms use). Frontier-expansion loop "
    "with one edge join + one O(n) state update per round "
    "(operators/graph.py::bfs_distances); the DuckDB oracle is a "
    "recursive CTE capped at the SAME 30-hop bound, so the k-hop "
    "semantics is pinned on both sides, and hop counts are integers — "
    "hash-exact by construction.",
)
def q_bfs_hop_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        bfs_distances,
    )
    from echo_chambers_detection_spark.operators.triangles import (
        strong_tie_backbone,
    )

    g = _user_graph(spark, sf_dir)
    return bfs_distances(strong_tie_backbone(g, k=10), max_iter=30)


@register(
    "seeded_random_walks",
    f"""
WITH RECURSIVE {_ORACLE_BACKBONE_CTE},
und2 AS (
    SELECT u1 AS src, u2 AS dst FROM g
    UNION ALL SELECT u2 AS src, u1 AS dst FROM g
),
walk(wid, step, node) AS (
    SELECT node, 0, node FROM (
        SELECT DISTINCT src AS node FROM und2
    )
    UNION ALL
    SELECT w.wid, w.step + 1,
           arg_min(u.dst,
                   md5(w.wid || '|' || CAST(w.step + 1 AS VARCHAR)
                       || '|' || u.dst) || '|' || u.dst)
    FROM walk w JOIN und2 u ON u.src = w.node
    WHERE w.step < 8
    GROUP BY w.wid, w.step
)
SELECT wid, CAST(step AS BIGINT) AS step, node FROM walk
""",
    doc="Deterministic random walks over the strong-tie backbone "
    "(gds.randomWalk / node2vec-sampling parity, "
    "operators/graph.py::seeded_random_walks): each step moves to the "
    "neighbor minimizing md5(wid|step|neighbor) — a splittable "
    "counter-based PRNG keyed by (walk, step, candidate), so the "
    "trajectory set is REPLAYABLE and the DuckDB oracle reproduces "
    "every walk recursively with the same arg_min-over-md5 rule. One "
    "walk per node, 8 steps; per step one adjacency join + one "
    "min_by-combining groupBy on the O(walks) state frame.",
)
def q_seeded_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        seeded_random_walks,
    )
    from echo_chambers_detection_spark.operators.triangles import (
        strong_tie_backbone,
    )

    g = _user_graph(spark, sf_dir)
    return seeded_random_walks(strong_tie_backbone(g, k=10), length=8)


@register(
    "walk_skipgram_pairs",
    f"""
WITH RECURSIVE {_ORACLE_BACKBONE_CTE},
und2 AS (
    SELECT u1 AS src, u2 AS dst FROM g
    UNION ALL SELECT u2 AS src, u1 AS dst FROM g
),
walk(wid, step, node) AS (
    SELECT node, 0, node FROM (
        SELECT DISTINCT src AS node FROM und2
    )
    UNION ALL
    SELECT w.wid, w.step + 1,
           arg_min(u.dst,
                   md5(w.wid || '|' || CAST(w.step + 1 AS VARCHAR)
                       || '|' || u.dst) || '|' || u.dst)
    FROM walk w JOIN und2 u ON u.src = w.node
    WHERE w.step < 8
    GROUP BY w.wid, w.step
)
SELECT a.node AS node, b.node AS context,
       CAST(COUNT(*) AS BIGINT) AS pair_count
FROM walk a
JOIN walk b ON a.wid = b.wid
           AND b.step > a.step AND b.step <= a.step + 2
GROUP BY 1, 2
""",
    doc="Skip-gram positive pairs from the deterministic random walks "
    "— the node2vec/DeepWalk training-data step (walk corpus -> "
    "(center, context) pairs within a window of 2) over the same "
    "replayable walk set as `seeded_random_walks`. Spark side is ONE "
    "window pass (lead(node, 1..w) over each walk ordered by step, "
    "exploded and counted) — no self-join; the DuckDB oracle replays "
    "the walks recursively and self-joins on (wid, step distance). "
    "Integer pair counts, hash-exact. At 100 TB the walk corpus is "
    "O(walkers x length) rows and the window partitions by wid — one "
    "exchange, then map-side-combined counting.",
)
def q_walk_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from echo_chambers_detection_spark.operators.graph import (
        seeded_random_walks,
    )
    from echo_chambers_detection_spark.operators.triangles import (
        strong_tie_backbone,
    )

    g = _user_graph(spark, sf_dir)
    walks = seeded_random_walks(strong_tie_backbone(g, k=10), length=8)
    w = Window.partitionBy("wid").orderBy("step")
    pairs = (
        walks.select(
            "node",
            F.array(
                F.lead("node", 1).over(w), F.lead("node", 2).over(w)
            ).alias("_ctx"),
        )
        .select("node", F.explode("_ctx").alias("context"))
        .where(F.col("context").isNotNull())
        .groupBy("node", "context")
        .agg(F.count("*").alias("pair_count"))
    )
    return pairs


@register(
    "weighted_random_walks",
    f"""
WITH RECURSIVE {_ORACLE_ENGAGEMENTS_CTE},
gw AS (
    SELECT a.user_did AS u1, b.user_did AS u2, COUNT(*) AS w
    FROM e a JOIN e b ON a.post_uri = b.post_uri AND a.user_did < b.user_did
    GROUP BY 1, 2
),
und AS (
    SELECT u1 AS src, u2 AS dst, w FROM gw
    UNION ALL SELECT u2 AS src, u1 AS dst, w FROM gw
),
gb AS (
    SELECT DISTINCT LEAST(src, dst) AS u1, GREATEST(src, dst) AS u2, w
    FROM (
        SELECT src, dst, w,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst) AS rk
        FROM und
    ) WHERE rk <= 10
),
und2 AS (
    SELECT u1 AS src, u2 AS dst, w FROM gb
    UNION ALL SELECT u2 AS src, u1 AS dst, w FROM gb
),
reps AS (
    SELECT src, dst, unnest(range(1, w + 1)) AS j FROM und2
),
walk(wid, step, node) AS (
    SELECT node, 0, node FROM (
        SELECT DISTINCT src AS node FROM und2 ORDER BY node LIMIT 200
    )
    UNION ALL
    SELECT w.wid, w.step + 1,
           arg_min(r.dst,
                   md5(w.wid || '|' || CAST(w.step + 1 AS VARCHAR)
                       || '|' || r.dst || '|' || CAST(r.j AS VARCHAR))
                   || '|' || r.dst)
    FROM walk w JOIN reps r ON r.src = w.node
    WHERE w.step < 4
    GROUP BY w.wid, w.step
)
SELECT wid, CAST(step AS BIGINT) AS step, node FROM walk
""",
    doc="Weight-proportional deterministic walks over the WEIGHTED "
    "strong-tie backbone (the node2vec/DeepWalk transition rule, "
    "exactly replayable): each neighbor enters the per-step argmin "
    "once per unit of its integer co-engagement weight — key "
    "md5(wid|step|dst|j), j = 1..w — so under the hash-as-random-"
    "oracle view dst wins with probability w/W, and the DuckDB oracle "
    "replays the replica set with unnest(range). Integer-replica "
    "weighting instead of float inverse-CDF is what keeps both "
    "engines bit-identical. 4 steps from the 200 binary-smallest "
    "walkers (the replica fan-out is Sigma-w per frontier edge — a "
    "bounded walker set keeps the row at catalog cost; the unweighted "
    "twin walks every node).",
)
def q_weighted_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        seeded_random_walks,
    )
    from echo_chambers_detection_spark.operators.triangles import (
        strong_tie_backbone,
    )

    g = _user_graph(spark, sf_dir)
    bb = strong_tie_backbone(g, k=10, keep_weight=True)
    seeds = (
        bb.select(F.col("u1").alias("node"))
        .unionAll(bb.select(F.col("u2").alias("node")))
        .distinct()
        .orderBy("node")
        .limit(200)
        .select(F.col("node").alias("wid"), "node")
    )
    return seeded_random_walks(bb, length=4, weighted=True, seeds=seeds)


@register(
    "landmark_bfs_distances",
    f"""
WITH RECURSIVE {_ORACLE_BACKBONE_CTE},
und2 AS (
    SELECT u1 AS src, u2 AS dst FROM g
    UNION ALL SELECT u2 AS src, u1 AS dst FROM g
),
lm AS (
    SELECT node FROM (
        SELECT u1 AS node FROM g UNION SELECT u2 AS node FROM g
    ) ORDER BY node LIMIT 4
),
walk(seed, node, d) AS (
    SELECT node, node, 0 FROM lm
    UNION
    SELECT walk.seed, und2.dst, walk.d + 1
    FROM walk JOIN und2 ON und2.src = walk.node
    WHERE walk.d < 30
)
SELECT seed, node, CAST(MIN(d) AS BIGINT) AS dist
FROM walk GROUP BY seed, node
""",
    doc="Per-landmark BFS distance matrix over the strong-tie "
    "backbone, all landmarks advanced by ONE shared loop "
    "(operators/graph.py::bfs_landmark_distances — the state frame is "
    "keyed (seed, node), so k landmarks cost one frontier join per "
    "round, not k loops). Landmarks are the 4 binary-smallest users; "
    "the recursive-CTE oracle seeds the same set and caps at the same "
    "30-hop bound. This is the landmark-distances primitive under "
    "closeness estimation and distance oracles; integer hop counts, "
    "hash-exact.",
)
def q_landmark_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        bfs_landmark_distances,
    )
    from echo_chambers_detection_spark.operators.triangles import (
        strong_tie_backbone,
    )

    g = _user_graph(spark, sf_dir)
    return bfs_landmark_distances(
        strong_tie_backbone(g, k=10), n_landmarks=4, max_iter=30
    )


@register(
    "landmark_path_counts",
    f"""
WITH RECURSIVE {_ORACLE_BACKBONE_CTE},
und2 AS (
    SELECT u1 AS src, u2 AS dst FROM g
    UNION ALL SELECT u2 AS src, u1 AS dst FROM g
),
lm AS (
    SELECT node FROM (
        SELECT u1 AS node FROM g UNION SELECT u2 AS node FROM g
    ) ORDER BY node LIMIT 4
),
walk(seed, node, d) AS (
    SELECT node, node, 0 FROM lm
    UNION ALL
    SELECT walk.seed, und2.dst, walk.d + 1
    FROM walk JOIN und2 ON und2.src = walk.node
    WHERE walk.d < 4
),
md AS (
    SELECT seed, node, MIN(d) AS dist FROM walk GROUP BY seed, node
)
SELECT w.seed, w.node, CAST(m.dist AS BIGINT) AS dist,
       CAST(COUNT(*) AS BIGINT) AS sigma
FROM walk w
JOIN md m ON w.seed = m.seed AND w.node = m.node AND w.d = m.dist
GROUP BY w.seed, w.node, m.dist
""",
    doc="Shortest-path COUNTS from the 4 binary-smallest pivots over "
    "the strong-tie backbone — the exact-integer σ half of Brandes' "
    "betweenness (operators/graph.py::shortest_path_counts), "
    "differential-tested end to end: a shortest path is a minimal-"
    "length walk, so the recursive-CTE oracle enumerates every walk "
    "of length <= 4 as a row (UNION ALL keeps duplicates) and counts "
    "the rows sitting at each node's min depth. The Spark side is the "
    "level-synchronous sum-combining loop (σ(v) = Σ σ(pred)), capped "
    "at the SAME 4 hops — path counts are bigints on both sides, "
    "hash-exact. The 4-hop cap keeps the oracle's walk enumeration "
    "polynomial (Σ deg^4 rows) where the Spark loop stays linear per "
    "level — the oracle pays exponent, the engine doesn't.",
)
def q_landmark_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        shortest_path_counts,
    )
    from echo_chambers_detection_spark.operators.triangles import (
        strong_tie_backbone,
    )

    g = _user_graph(spark, sf_dir)
    return shortest_path_counts(
        strong_tie_backbone(g, k=10), n_sources=4, max_iter=4
    )


@register(
    "betweenness_sampled_scores",
    None,
    doc="Pivot-sampled betweenness centrality (Brandes 2001 dependency "
    "accumulation from the 4 binary-smallest pivots, "
    "operators/graph.py::brandes_betweenness) over the strong-tie "
    "backbone — the gds.betweenness.stream member of the reference's "
    "GDS catalog family. Dependencies are float ratios, so no SQL "
    "hash oracle; the hash-green twin is landmark_path_counts (the "
    "exact-integer σ forward pass this operator consumes), and "
    "closed-form fixtures (path/star/C4, where every σ ratio is "
    "dyadic and the arithmetic exact) pin the δ backward pass plus "
    "local-vs-distributed bit parity in tests/test_round11_queries.py. "
    "Top-50 by score with (score desc, node) determinism.",
)
def q_betweenness_sampled_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        brandes_betweenness,
    )
    from echo_chambers_detection_spark.operators.triangles import (
        strong_tie_backbone,
    )

    g = _user_graph(spark, sf_dir)
    bc = brandes_betweenness(
        strong_tie_backbone(g, k=10), n_sources=4, max_iter=30
    )
    return bc.orderBy(F.col("betweenness").desc(), "node").limit(50)


def _diamond_chain(spark: SparkSession, n_diamonds: int) -> DataFrame:
    """Chain of ``n_diamonds`` diamonds: m_i -(a_i|b_i)- m_{i+1} with
    m_i = 3i, a_i = 3i+1, b_i = 3i+2 (lpad string ids, the planted-
    fixture convention). Every shortest-path count from every node is
    a power of 2 (each diamond doubles σ), so all Brandes σ ratios are
    DYADIC and the δ backward sweep is exact in IEEE-754 double —
    the fixture that lets a float centrality hash-match an SQL oracle
    (VERDICT r11 #3)."""
    base = spark.range(n_diamonds).select(F.col("id").alias("i"))
    pair = base.select(
        F.explode(
            F.array(
                F.struct(
                    (3 * F.col("i")).alias("x"),
                    (3 * F.col("i") + 1).alias("y"),
                ),
                F.struct(
                    (3 * F.col("i")).alias("x"),
                    (3 * F.col("i") + 2).alias("y"),
                ),
                F.struct(
                    (3 * F.col("i") + 1).alias("x"),
                    (3 * F.col("i") + 3).alias("y"),
                ),
                F.struct(
                    (3 * F.col("i") + 2).alias("x"),
                    (3 * F.col("i") + 3).alias("y"),
                ),
            )
        ).alias("e")
    )
    return pair.select(
        F.lpad(F.col("e.x").cast("string"), 6, "0").alias("u1"),
        F.lpad(F.col("e.y").cast("string"), 6, "0").alias("u2"),
        F.lit(1.0).alias("weight"),
    )


@register(
    "betweenness_diamond_quantized",
    """
WITH RECURSIVE
base AS (SELECT i FROM range(0, 12) t(i)),
ed AS (
  SELECT 3*i AS x, 3*i+1 AS y FROM base
  UNION ALL SELECT 3*i, 3*i+2 FROM base
  UNION ALL SELECT 3*i+1, 3*i+3 FROM base
  UNION ALL SELECT 3*i+2, 3*i+3 FROM base
),
g AS (
  SELECT lpad(CAST(x AS VARCHAR), 6, '0') AS u1,
         lpad(CAST(y AS VARCHAR), 6, '0') AS u2
  FROM ed
),
und2 AS MATERIALIZED (
  SELECT u1 AS src, u2 AS dst FROM g
  UNION ALL SELECT u2 AS src, u1 AS dst FROM g
),
lm AS (
  SELECT node FROM (
    SELECT u1 AS node FROM g UNION SELECT u2 AS node FROM g
  ) ORDER BY node LIMIT 4
),
walk(seed, node, d) AS (
  SELECT node, node, 0 FROM lm
  UNION
  SELECT walk.seed, und2.dst, walk.d + 1
  FROM walk JOIN und2 ON und2.src = walk.node
  WHERE walk.d < 30
),
dmat AS MATERIALIZED (
  SELECT seed, node, MIN(d) AS dist FROM walk GROUP BY seed, node
),
sig(seed, node, d, sigma) AS (
  SELECT node, node, 0, CAST(1 AS BIGINT) FROM lm
  UNION ALL
  SELECT t.seed, t.node, t.d, t.sigma FROM (
    SELECT s.seed, e.dst AS node, s.d + 1 AS d, SUM(s.sigma) AS sigma
    FROM sig s
    JOIN und2 e ON e.src = s.node
    JOIN dmat m2 ON m2.seed = s.seed AND m2.node = e.dst
               AND m2.dist = s.d + 1
    GROUP BY s.seed, e.dst, s.d
  ) t
),
sigm AS MATERIALIZED (SELECT * FROM sig),
lmax AS MATERIALIZED (SELECT MAX(dist) AS v FROM dmat),
back(lvl, seed, node, delta) AS (
  SELECT (SELECT v FROM lmax), seed, node, CAST(0 AS DOUBLE)
  FROM dmat WHERE dist = (SELECT v FROM lmax)
  UNION ALL
  SELECT cand.lvl, cand.seed, cand.node, COALESCE(ctr.s, 0.0)
  FROM (
    SELECT m3.seed, m3.node, m3.dist AS lvl
    FROM dmat m3
    WHERE m3.dist = (SELECT MIN(b2.lvl) FROM back b2) - 1
      AND (SELECT MIN(b3.lvl) FROM back b3) >= 1
  ) cand
  LEFT JOIN (
    SELECT b.seed, e.src AS node,
           SUM(sv.sigma / sw.sigma * (1 + b.delta)) AS s
    FROM back b
    JOIN und2 e ON e.dst = b.node
    JOIN dmat mv ON mv.seed = b.seed AND mv.node = e.src
                AND mv.dist = b.lvl - 1
    JOIN sigm sv ON sv.seed = b.seed AND sv.node = e.src AND sv.d = b.lvl - 1
    JOIN sigm sw ON sw.seed = b.seed AND sw.node = b.node AND sw.d = b.lvl
    GROUP BY b.seed, e.src
  ) ctr ON ctr.seed = cand.seed AND ctr.node = cand.node
)
SELECT node,
       CAST(FLOOR(1e9 * SUM(CASE WHEN node = seed THEN 0.0 ELSE delta END))
            AS BIGINT) AS bc_q9
FROM back GROUP BY node
""",
    doc="FULL Brandes betweenness (forward σ + backward δ dependency "
    "sweep, 4 pivots) hash-checked against a recursive-CTE oracle "
    "(VERDICT r11 #3): on the 12-diamond chain every σ is a power of "
    "2, so σv/σw·(1+δw) stays dyadic-exact in double on both engines "
    "and floor(1e9·bc) is deterministic. The oracle replays BFS "
    "distances (deduped walk CTE), level-synchronous σ (sum over "
    "preds, dist-filtered), and the level-DESCENDING δ recursion "
    "(each generation = one level, consuming only the previous "
    "level's δ — exactly the distributed loop's backward rounds, "
    "operators/graph.py::brandes_betweenness). This stamps the δ "
    "sweep the rows-only betweenness_sampled_scores can't.",
)
def q_betweenness_diamond_quantized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        brandes_betweenness,
    )

    bc = brandes_betweenness(
        _diamond_chain(spark, 12).select("u1", "u2"),
        n_sources=4,
        max_iter=30,
    )
    return bc.select(
        "node",
        F.floor(F.lit(1e9) * F.col("betweenness"))
        .cast("bigint")
        .alias("bc_q9"),
    )


@register(
    "landmark_closeness_estimates",
    f"""
WITH RECURSIVE {_ORACLE_BACKBONE_CTE},
und2 AS (
    SELECT u1 AS src, u2 AS dst FROM g
    UNION ALL SELECT u2 AS src, u1 AS dst FROM g
),
lm AS (
    SELECT node FROM (
        SELECT u1 AS node FROM g UNION SELECT u2 AS node FROM g
    ) ORDER BY node LIMIT 4
),
walk(seed, node, d) AS (
    SELECT node, node, 0 FROM lm
    UNION
    SELECT walk.seed, und2.dst, walk.d + 1
    FROM walk JOIN und2 ON und2.src = walk.node
    WHERE walk.d < 30
),
dmat AS (
    SELECT seed, node, MIN(d) AS dist FROM walk GROUP BY seed, node
)
SELECT node,
       CAST(COUNT(*) AS BIGINT) AS n_landmarks_reached,
       CAST(SUM(dist) AS BIGINT) AS dist_sum,
       CAST(SUM(CASE WHEN dist > 0
                     THEN CAST(FLOOR(1e9 / dist) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS harmonic_q9,
       CASE WHEN SUM(dist) > 0
            THEN CAST(FLOOR((1e9 * COUNT(*)) / SUM(dist)) AS BIGINT)
       END AS closeness_q9
FROM dmat GROUP BY node
""",
    doc="Landmark-approximated closeness + harmonic centrality over "
    "the strong-tie backbone (Potamias et al., CIKM'09; the GDS "
    "centrality-estimate family) — ONE groupBy over the per-seed "
    "landmark-BFS distance matrix "
    "(operators/graph.py::landmark_closeness). Exact closeness is "
    "all-pairs BFS, dead at 100 TB; the k-pivot estimate reuses the "
    "vectorized one-loop landmark primitive. Integer-quantized "
    "(floor(1e9*...)) so both engines hash-match: harmonic is integer "
    "arithmetic after the per-row floor; closeness is one IEEE-754 "
    "multiply/divide/floor on exactly-representable integers. The "
    "oracle replays the same 4 binary-smallest landmarks and the same "
    "30-hop cap through a recursive CTE.",
)
def q_landmark_closeness_estimates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        landmark_closeness,
    )
    from echo_chambers_detection_spark.operators.triangles import (
        strong_tie_backbone,
    )

    g = _user_graph(spark, sf_dir)
    return landmark_closeness(
        strong_tie_backbone(g, k=10), n_landmarks=4, max_iter=30
    )


@register(
    "khop_min_cost_paths",
    f"""
WITH RECURSIVE {_ORACLE_ENGAGEMENTS_CTE},
gw AS (
    SELECT a.user_did AS u1, b.user_did AS u2, COUNT(*) AS w
    FROM e a JOIN e b ON a.post_uri = b.post_uri AND a.user_did < b.user_did
    GROUP BY 1, 2
),
und AS (
    SELECT u1 AS src, u2 AS dst, w FROM gw
    UNION ALL SELECT u2 AS src, u1 AS dst, w FROM gw
),
gb AS (
    SELECT DISTINCT LEAST(src, dst) AS u1, GREATEST(src, dst) AS u2, w
    FROM (
        SELECT src, dst, w,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst) AS rk
        FROM und
    ) WHERE rk <= 10
),
und2 AS (
    SELECT u1 AS src, u2 AS dst, w FROM gb
    UNION ALL SELECT u2 AS src, u1 AS dst, w FROM gb
),
walk(node, h, c) AS (
    SELECT (SELECT MIN(u1) FROM gb), 0, CAST(0 AS BIGINT)
    UNION
    SELECT und2.dst, walk.h + 1, walk.c + und2.w
    FROM walk JOIN und2 ON und2.src = walk.node
    WHERE walk.h < 6
)
SELECT node, CAST(MIN(c) AS BIGINT) AS cost FROM walk GROUP BY node
""",
    doc="k-hop min-cost distances (min-plus Bellman-Ford, "
    "operators/graph.py::bellman_ford_khop) from the binary-smallest "
    "user over the WEIGHTED strong-tie backbone — the Dijkstra/"
    "shortest-path member of the GDS traversal family, with edge cost "
    "= the integer co-engagement weight so every path cost is exact "
    "integer arithmetic. Six relaxation rounds pin <=6-edge-path "
    "semantics; the DuckDB oracle walks a recursive CTE capped at the "
    "SAME hop bound (its UNION dedups (node, hops, cost) states, so "
    "the recursion is bounded by the state space, not the path "
    "count). Early exit on a stalled round is sound — min-plus "
    "relaxation is a monotone fixpoint.",
)
def q_khop_min_cost_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        bellman_ford_khop,
    )
    from echo_chambers_detection_spark.operators.triangles import (
        strong_tie_backbone,
    )

    g = _user_graph(spark, sf_dir)
    return bellman_ford_khop(
        strong_tie_backbone(g, k=10, keep_weight=True), k=6
    )


@register(
    "landmark_weighted_costs",
    f"""
WITH RECURSIVE {_ORACLE_ENGAGEMENTS_CTE},
gw AS (
    SELECT a.user_did AS u1, b.user_did AS u2, COUNT(*) AS w
    FROM e a JOIN e b ON a.post_uri = b.post_uri AND a.user_did < b.user_did
    GROUP BY 1, 2
),
und AS (
    SELECT u1 AS src, u2 AS dst, w FROM gw
    UNION ALL SELECT u2 AS src, u1 AS dst, w FROM gw
),
gb AS (
    SELECT DISTINCT LEAST(src, dst) AS u1, GREATEST(src, dst) AS u2, w
    FROM (
        SELECT src, dst, w,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst) AS rk
        FROM und
    ) WHERE rk <= 10
),
und2 AS (
    SELECT u1 AS src, u2 AS dst, w FROM gb
    UNION ALL SELECT u2 AS src, u1 AS dst, w FROM gb
),
lm AS (
    SELECT node FROM (
        SELECT u1 AS node FROM gb UNION SELECT u2 AS node FROM gb
    ) ORDER BY node LIMIT 4
),
walk(seed, node, h, c) AS (
    SELECT node, node, 0, CAST(0 AS BIGINT) FROM lm
    UNION
    SELECT walk.seed, und2.dst, walk.h + 1, walk.c + und2.w
    FROM walk JOIN und2 ON und2.src = walk.node
    WHERE walk.h < 6
)
SELECT seed, node, CAST(MIN(c) AS BIGINT) AS cost
FROM walk GROUP BY seed, node
""",
    doc="Per-landmark k-hop min-cost distance matrix over the WEIGHTED "
    "strong-tie backbone — the weighted companion of "
    "landmark_bfs_distances (Dijkstra-per-pivot / weighted "
    "distance-oracle primitive, "
    "operators/graph.py::bellman_ford_landmark): all 4 binary-"
    "smallest landmarks advance through ONE shared min-plus loop "
    "keyed (seed, node), edge cost = the integer co-engagement "
    "weight, 6 relaxation rounds pinning <=6-edge-path semantics. "
    "The recursive-CTE oracle seeds the same landmark set and caps "
    "at the same hop bound (UNION dedups (seed, node, hops, cost) "
    "states); exact integer path costs, hash-exact.",
)
def q_landmark_weighted_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        bellman_ford_landmark,
    )
    from echo_chambers_detection_spark.operators.triangles import (
        strong_tie_backbone,
    )

    g = _user_graph(spark, sf_dir)
    return bellman_ford_landmark(
        strong_tie_backbone(g, k=10, keep_weight=True),
        n_landmarks=4,
        k=6,
    )


@register(
    "degree_assortativity_moments",
    f"""
WITH {_ORACLE_USER_GRAPH_CTE},
dpairs AS (
    SELECT u1, u2 FROM g
    UNION ALL
    SELECT u2 AS u1, u1 AS u2 FROM g
)
SELECT COUNT(*) AS m2,
       CAST(SUM(da.deg) AS BIGINT) AS s_x,
       CAST(SUM(da.deg * da.deg) AS BIGINT) AS s_xx,
       CAST(SUM(da.deg * db.deg) AS BIGINT) AS s_xy
FROM dpairs
JOIN deg da ON da.node = dpairs.u1
JOIN deg db ON db.node = dpairs.u2
""",
    doc="Degree-assortativity moments of the co-engagement graph: exact "
    "bigint sums over both orientations of every edge; the Pearson "
    "coefficient (m2*s_xy - s_x^2)/(m2*s_xx - s_x^2) is a driver-side "
    "division, keeping the distributed pass float-free",
)
def q_degree_assortativity_moments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from echo_chambers_detection_spark.operators.triangles import (
        degree_assortativity_moments,
    )

    g = _user_graph(spark, sf_dir)
    return degree_assortativity_moments(g.select("u1", "u2"))


@register(
    "triangle_counts_planted",
    """
SELECT lpad(CAST(i AS VARCHAR), 6, '0') AS node,
       CAST(30 AS BIGINT) AS triangles,
       CAST(10 AS BIGINT) AS deg,
       CAST(45 AS BIGINT) AS wedges
FROM range(0, 200) t(i)
""",
    doc="Triangle kernel on a closed-form fixture: 8 disjoint circulant "
    "blocks C_25(1..5) — every node has degree 2d=10, wedge capacity "
    "45, and exactly 3*d*(d-1)/2 = 30 triangles (a triangle in a "
    "circulant with offsets 1..d is a gap pair a,b>=1, a+b<=d at a "
    "unique base vertex, so per-block count = 25*d*(d-1)/2 = 250). "
    "Validates apex orientation + wedge closure end-to-end against "
    "arithmetic, not another implementation.",
)
def q_triangle_counts_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.planted import (
        planted_partition_edges,
    )
    from echo_chambers_detection_spark.operators.triangles import (
        triangle_counts,
    )

    edges = planted_partition_edges(
        spark, 8, 25, 5, bridges=False, offsets="linear"
    )
    return triangle_counts(edges.select("u1", "u2"))


@register(
    "user_jaccard_similarity",
    f"""
WITH {_ORACLE_ENGAGEMENTS_CTE},
gw AS (
    SELECT a.user_did AS u1, b.user_did AS u2, COUNT(*) AS common
    FROM e a JOIN e b ON a.post_uri = b.post_uri AND a.user_did < b.user_did
    GROUP BY 1, 2
),
d AS (
    SELECT user_did, COUNT(*) AS deg FROM e GROUP BY user_did
)
SELECT u1, u2, common,
       ROUND(common * 1.0 / (d1.deg + d2.deg - common), 6) AS jaccard
FROM gw
JOIN d d1 ON d1.user_did = gw.u1
JOIN d d2 ON d2.user_did = gw.u2
ORDER BY jaccard DESC, u1, u2 LIMIT 100
""",
    doc="Top-100 user pairs by Jaccard similarity of engaged-post sets "
    "(reference gds.nodeSimilarity family — the normalized companion "
    "to the raw co-engagement weight the reference projects at "
    "project/metrics/community_detection.py:22-38). Intersections come "
    "from the bitmap co-engagement kernel (never all-pairs); per-user "
    "set sizes are a broadcast-joined dimension; |A∪B| = |A|+|B|-|A∩B| "
    "needs no second pair pass. Total order (jaccard desc, u1, u2) "
    "makes the LIMIT deterministic; TakeOrderedAndProject keeps the "
    "top-k driver-bounded at any scale.",
)
def q_user_jaccard_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.coengagement import (
        coengagement_edges_bitmap,
    )

    from echo_chambers_detection_spark.operators.graph import (
        _checkpoint,
    )

    eng = _checkpoint(
        engagements_from_events(_t(spark, sf_dir, "events"))
    )
    co = coengagement_edges_bitmap(eng, num_slots=None)
    deg = eng.select("user_did", "post_uri").distinct().groupBy(
        "user_did"
    ).agg(F.count("*").alias("deg"))
    d1 = F.broadcast(deg.select(F.col("user_did").alias("u1"), F.col("deg").alias("deg1")))
    d2 = F.broadcast(deg.select(F.col("user_did").alias("u2"), F.col("deg").alias("deg2")))
    out = (
        co.join(d1, "u1")
        .join(d2, "u2")
        .select(
            "u1",
            "u2",
            F.col("weight").alias("common"),
            F.round(
                F.col("weight")
                / (F.col("deg1") + F.col("deg2") - F.col("weight")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "u1", "u2")
        .limit(100)
    )
    return out


# ===========================================================================
# Factored PageRank (round 8): the co-engagement projection's PageRank
# without materializing B·Bᵀ — the 100 TB celebrity-post shape.
# ===========================================================================


def _factored_star_engagements(spark: SparkSession) -> DataFrame:
    """Dyadic paired-leaf star as a bipartite engagement relation: user
    'hub' engages posts p00..p15; leaves 2i and 2i+1 both engage post
    p_i. Projection: hub—leaf edges of weight 1 (wdeg_hub = 32) plus a
    perfect matching between leaf partners (wdeg_leaf = 2) — every
    share is a power of two, so 3 damping-1.0 rounds from the hub seed
    stay exactly representable (the dyadic-oracle recipe)."""
    hub = spark.range(16).select(
        F.lit("hub").alias("user_did"),
        F.concat(
            F.lit("p"), F.lpad(F.col("id").cast("string"), 2, "0")
        ).alias("post_uri"),
    )
    leaves = spark.range(32).select(
        F.concat(
            F.lit("leaf"), F.lpad(F.col("id").cast("string"), 2, "0")
        ).alias("user_did"),
        F.concat(
            F.lit("p"),
            F.lpad(F.floor(F.col("id") / 2).cast("string"), 2, "0"),
        ).alias("post_uri"),
    )
    return hub.unionAll(leaves)


@register(
    "pagerank_factored_planted",
    """
SELECT 'hub' AS node, CAST(4194304 AS BIGINT) AS rank_scaled
UNION ALL
SELECT 'leaf' || lpad(CAST(i AS VARCHAR), 2, '0') AS node,
       CAST(393216 AS BIGINT) AS rank_scaled
FROM range(0, 32) t(i)
""",
    doc="FACTORED PageRank (pagerank_coengagement: each matvec runs "
    "through the bipartite engagement relation as two O(|eng|) joins, "
    "never materializing the quadratic B·Bᵀ projection — one celebrity "
    "post with 1e5 engagers is 1e5 rows here vs 5e9 materialized "
    "edges). Closed form on the dyadic paired-leaf star: from the hub "
    "seed with damping 1.0, three rounds give hub = 1/4 and every "
    "leaf = 3/128 exactly; scaled by 2^24 those are the integers "
    "4194304 / 393216 — hash-exact with zero float plumbing "
    "(operators/graph.py::pagerank_coengagement).",
)
def q_pagerank_factored_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        pagerank_coengagement,
    )

    ranks = pagerank_coengagement(
        _factored_star_engagements(spark),
        damping=1.0,
        max_iter=3,
        tol=0.0,
        seeds=["hub"],
    )
    return ranks.select(
        "node",
        (F.col("rank") * F.lit(16777216.0))
        .cast("long")
        .alias("rank_scaled"),
    )


@register(
    "degree_histogram",
    f"""
WITH {_ORACLE_USER_GRAPH_CTE}
SELECT CAST(length(bin(deg)) AS BIGINT) AS bucket,
       COUNT(*) AS n_nodes,
       MIN(deg) AS min_deg,
       MAX(deg) AS max_deg
FROM deg GROUP BY 1
""",
    doc="Log2-bucketed degree distribution of the co-engagement graph "
    "(bucket = bit length of the degree — `bin()` is bit-identical in "
    "Spark and DuckDB, dodging floor(log2(x)) float-boundary "
    "misrounds). The first look every graph-skew diagnosis starts "
    "with: a heavy tail here is what the coengagement degree caps and "
    "AQE skew splits exist for.",
)
def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.triangles import (
        node_degrees,
    )

    g = _user_graph(spark, sf_dir)
    deg = node_degrees(g.select("u1", "u2"))
    return deg.groupBy(
        F.length(F.bin(F.col("deg"))).cast("long").alias("bucket")
    ).agg(
        F.count("*").alias("n_nodes"),
        F.min("deg").alias("min_deg"),
        F.max("deg").alias("max_deg"),
    )


@register(
    "butterfly_counts",
    f"""
WITH {_ORACLE_ENGAGEMENTS_CTE},
gw AS (
    SELECT a.user_did AS u1, b.user_did AS u2, COUNT(*) AS w
    FROM e a JOIN e b ON a.post_uri = b.post_uri AND a.user_did < b.user_did
    GROUP BY 1, 2
),
bf AS (SELECT u1, u2, w * (w - 1) // 2 AS b FROM gw),
per AS (
    SELECT u1 AS user_did, b FROM bf
    UNION ALL SELECT u2 AS user_did, b FROM bf
)
SELECT user_did,
       CAST(SUM(b) AS BIGINT) AS butterflies,
       CAST(SUM(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS strong_partners
FROM per GROUP BY user_did
""",
    doc="Per-user butterfly (2x2 biclique) participation — the "
    "standard BIPARTITE cohesion metric over the raw user-post "
    "engagement graph, where triangles cannot exist by construction: "
    "a butterfly is two users sharing two posts, so per user-pair the "
    "count is C(shared, 2) and the co-engagement weight IS 'shared' — "
    "one integer expression on the already-built projection, no new "
    "shuffle beyond it. strong_partners counts partners with >= 2 "
    "shared posts (the butterfly-support neighborhood). Exact integer "
    "arithmetic (w*(w-1) is always even; both engines use integer "
    "division).",
)
def q_butterfly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _user_graph(spark, sf_dir)
    bf = g.select(
        "u1", "u2", F.expr("(weight * (weight - 1)) div 2").alias("b")
    )
    per = bf.select(F.col("u1").alias("user_did"), "b").unionByName(
        bf.select(F.col("u2").alias("user_did"), "b")
    )
    return per.groupBy("user_did").agg(
        F.sum("b").cast("bigint").alias("butterflies"),
        F.sum((F.col("b") > 0).cast("long"))
        .cast("bigint")
        .alias("strong_partners"),
    )


@register(
    "ktruss_planted",
    """
SELECT 't0' || a.i AS u1, 't0' || b.i AS u2, CAST(4 AS BIGINT) AS support
FROM range(6) a(i), range(6) b(i) WHERE a.i < b.i
""",
    doc="4-truss recovery on a closed-form fixture: a K6 clique (every "
    "edge in 4 triangles — survives) welded to a 10-node triangle "
    "strip (disjoint component) whose interior edges have support 2 but whose ends and "
    "long chords do not — the strip unravels over TWO pruning rounds "
    "(ends + chords fall first, the now-triangle-free interior falls "
    "second), proving the operator iterates to fixpoint rather than "
    "filtering once. Expected output is pure arithmetic: exactly the "
    "15 clique edges, support 4. Mirrors gds.kTruss in the GDS "
    "catalog family the reference drives "
    "(project/metrics/community_detection.py).",
)
def q_ktruss_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.triangles import (
        ktruss_edges,
    )

    a = spark.range(6).select(F.col("id").alias("i"))
    b = spark.range(6).select(F.col("id").alias("j"))
    clique = (
        a.crossJoin(b)
        .where(F.col("i") < F.col("j"))
        .select(
            F.concat(F.lit("t0"), F.col("i")).alias("u1"),
            F.concat(F.lit("t0"), F.col("j")).alias("u2"),
        )
    )
    rungs = spark.range(9).select(
        F.concat(F.lit("s0"), F.col("id")).alias("u1"),
        F.concat(F.lit("s0"), F.col("id") + 1).alias("u2"),
    )
    chords = spark.range(8).select(
        F.concat(F.lit("s0"), F.col("id")).alias("u1"),
        F.concat(F.lit("s0"), F.col("id") + 2).alias("u2"),
    )
    edges = clique.unionAll(rungs).unionAll(chords)
    return ktruss_edges(edges, k=4)


@register(
    "ktruss_user_graph",
    f"""
WITH RECURSIVE {_ORACLE_ENGAGEMENTS_CTE},
gw AS (
    SELECT a.user_did AS u1, b.user_did AS u2, COUNT(*) AS w
    FROM e a JOIN e b ON a.post_uri = b.post_uri AND a.user_did < b.user_did
    GROUP BY 1, 2
),
und AS (
    SELECT u1 AS src, u2 AS dst, w FROM gw
    UNION ALL SELECT u2 AS src, u1 AS dst, w FROM gw
),
g AS (
    SELECT DISTINCT LEAST(src, dst) AS u1, GREATEST(src, dst) AS u2
    FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst) AS rk
        FROM und
    ) WHERE rk <= 10
),
truss(u1, u2, support, final) AS (
  SELECT u1, u2, 0, false FROM g
  UNION ALL
  SELECT s.u1, s.u2, s.sup, s.minsup >= 2
  FROM (
    SELECT i.u1, i.u2, i.sup, MIN(i.sup) OVER () AS minsup
    FROM (
      SELECT a.u1, a.u2,
             (SELECT COUNT(*)
              FROM (SELECT u1 s2, u2 d2 FROM truss WHERE NOT final
                    UNION ALL SELECT u2, u1 FROM truss WHERE NOT final) na
              JOIN (SELECT u1 s2, u2 d2 FROM truss WHERE NOT final
                    UNION ALL SELECT u2, u1 FROM truss WHERE NOT final) nb
                ON na.d2 = nb.d2
              WHERE na.s2 = a.u1 AND nb.s2 = a.u2) AS sup
      FROM truss a WHERE NOT a.final
    ) i
  ) s
  WHERE s.minsup >= 2 OR s.sup >= 2
)
SELECT u1, u2, CAST(support AS BIGINT) AS support FROM truss WHERE final
""",
    doc="4-truss of the strong-tie backbone of the real co-engagement "
    "graph vs a recursive-CTE pruning-fixpoint oracle (VERDICT r11 "
    "#1): each generation recomputes per-edge triangle support "
    "(common-neighbor join over the alive set), drops support<2 edges "
    "(cascading), and on the no-drop generation re-emits all edges as "
    "terminal rows with their in-truss support — the same fixpoint "
    "operators/triangles.py::ktruss_edges reaches by incremental "
    "triangle-list maintenance. Support counts on the surviving "
    "subgraph; edges outside any 4-truss are gone.",
)
def q_ktruss_user_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.triangles import (
        ktruss_edges,
        strong_tie_backbone,
    )

    g = _user_graph(spark, sf_dir)
    return ktruss_edges(strong_tie_backbone(g, k=10), k=4)
