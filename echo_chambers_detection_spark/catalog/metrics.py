"""Community metrics (SURVEY.md M2: A4-A12) over the post co-engagement graph.

Split from the single-file catalog (round 7, VERDICT r6 #7); bodies
are verbatim from that file — see its git history for provenance.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from echo_chambers_detection_spark.catalog._core import (
    _t,
    register,
)
from echo_chambers_detection_spark.catalog.flagship import (
    _ORACLE_ENGAGEMENTS_CTE,
)
from echo_chambers_detection_spark.catalog.graph import (
    _post_graph,
)
from echo_chambers_detection_spark.session import driver_frame, driver_table

# ===========================================================================
# Community metrics (SURVEY.md M2: A4-A12) over the post co-engagement graph
# ===========================================================================

# World: nodes = posts (events props.k), edges = posts sharing a user,
# labels = embeddings.label with 9 remapped to the reference's -1 noise
# convention then filtered (P4), vectors = embeddings.embedding.


def _metric_inputs(spark: SparkSession, sf_dir: str):
    """(pg, edges, labels, emb) of the metric world: the post graph,
    which owns the engagement checkpoint, its (u1, u2) edges, the
    noise-filtered labels and the vectors."""
    pg = _post_graph(spark, sf_dir)
    raw = _t(spark, sf_dir, "embeddings")
    labels = (
        raw.select(
            F.col("vec_id").cast("string").alias("node"),
            F.when(F.col("label") == 9, F.lit(-1))
            .otherwise(F.col("label"))
            .alias("label"),
        )
        .where(F.col("label") != -1)
    )
    return pg, pg.select("u1", "u2"), labels, _emb_nodes(spark, sf_dir)


def _metric_world(spark: SparkSession, sf_dir: str):
    from echo_chambers_detection_spark.operators.graph import (
        _release_checkpoint,
        tracked_checkpoint,
    )
    from echo_chambers_detection_spark.operators.metrics import restrict_to_members

    pg, edges, labels, emb = _metric_inputs(spark, sf_dir)
    edges_m, members = restrict_to_members(edges, labels, emb)
    # The metric DAGs reference edges_m/members from many branches
    # (degrees, node sets, modularity subgraph, similarities); without
    # materialization Catalyst re-executes the events self-join once per
    # branch — measured 185s -> ~8s at sf0.1 for global_echo_metrics.
    # These frames are community-graph sized (≤ |labeled members| rows,
    # thousands even when the raw data is 100 TB), so compact them to one
    # partition: every downstream branch join becomes a single-task
    # broadcast instead of 32 near-empty tasks per stage (23s -> 13s).
    edges_m = tracked_checkpoint(edges_m.coalesce(1))
    members = tracked_checkpoint(members.coalesce(1))
    # the eager checkpoints above truncated lineage, so the projection's
    # engagement checkpoint (owned by pg) is now dead — free it here
    # instead of leaking it for the session (leak census r10)
    _release_checkpoint(pg)
    return edges_m, members, emb


# Shared oracle CTE prelude for the metric world.
_ORACLE_METRIC_WORLD = """
pe AS (
    SELECT DISTINCT CAST(user_id AS VARCHAR) AS u,
           json_extract_string(props, '$.k') AS p
    FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
),
edges0 AS (
    SELECT a.p AS u1, b.p AS u2
    FROM pe a JOIN pe b ON a.u = b.u AND a.p < b.p
    GROUP BY 1, 2
),
lab AS (
    SELECT CAST(vec_id AS VARCHAR) AS node,
           CASE WHEN label = 9 THEN -1 ELSE label END AS label
    FROM embeddings WHERE label != 9
),
edges AS (
    SELECT e.u1, e.u2 FROM edges0 e
    JOIN lab la ON la.node = e.u1
    JOIN lab lb ON lb.node = e.u2
),
ex AS (
    SELECT CAST(vec_id AS VARCHAR) AS node,
           CAST(UNNEST(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
),
sims AS (
    SELECT e.u1, e.u2,
           SUM(a.x * b.x) / (SQRT(SUM(a.x * a.x)) * SQRT(SUM(b.x * b.x))) AS sim
    FROM edges e
    JOIN ex a ON a.node = e.u1
    JOIN ex b ON b.node = e.u2 AND a.i = b.i
    GROUP BY 1, 2
),
we AS (
    SELECT s.u1, s.u2, s.sim, la.label AS l1, lb.label AS l2
    FROM sims s
    JOIN lab la ON la.node = s.u1
    JOIN lab lb ON lb.node = s.u2
),
gnodes AS (SELECT u1 AS node FROM edges UNION SELECT u2 AS node FROM edges),
comm AS (SELECT l.node, l.label FROM lab l JOIN gnodes g ON g.node = l.node),
deg AS (
    SELECT node, COUNT(*) AS degree
    FROM (SELECT u1 AS node FROM edges UNION ALL SELECT u2 AS node FROM edges)
    GROUP BY 1
),
tot AS (SELECT 2 * COUNT(*) AS total_deg FROM edges)
"""


@register(
    "community_metrics_table",
    f"""
WITH {_ORACLE_METRIC_WORLD},
sizes AS (SELECT label, COUNT(*) AS size FROM comm GROUP BY 1),
internal AS (
    SELECT l1 AS label, COUNT(*) AS internal_edge_count, AVG(sim) AS cohesion
    FROM we WHERE l1 = l2 GROUP BY 1
),
extc AS (
    SELECT label, COUNT(*) AS cut_edges, AVG(sim) AS mes FROM (
        SELECT l1 AS label, sim FROM we WHERE l1 != l2
        UNION ALL
        SELECT l2 AS label, sim FROM we WHERE l1 != l2
    ) GROUP BY 1
),
vol AS (
    SELECT c.label, SUM(COALESCE(d.degree, 0)) AS vol_c
    FROM comm c LEFT JOIN deg d ON d.node = c.node GROUP BY 1
),
exv AS (SELECT c.label, c.node, e.x, e.i FROM comm c JOIN ex e ON e.node = c.node),
cent AS (SELECT label, i, AVG(x) AS cx FROM exv GROUP BY 1, 2),
sqd AS (
    SELECT v.label, v.node, SUM((v.x - c.cx) ** 2) AS sqd
    FROM exv v JOIN cent c ON c.label = v.label AND c.i = v.i
    GROUP BY 1, 2
),
varc AS (SELECT label, AVG(sqd) AS variance FROM sqd GROUP BY 1)
SELECT s.label, s.size,
    ROUND(i.cohesion, 6) AS cohesion,
    ROUND(1 - e.mes, 6) AS separation,
    ROUND(i.cohesion * (1 - e.mes), 6) AS ecs,
    ROUND(CASE WHEN LEAST(v.vol_c, t.total_deg - v.vol_c) > 0
          THEN COALESCE(e.cut_edges, 0) / LEAST(v.vol_c, t.total_deg - v.vol_c)
          END, 6) AS conductance,
    ROUND(varc.variance, 6) AS variance,
    ROUND(i.cohesion, 6) AS homophily,
    ROUND(CASE WHEN s.size > 1
          THEN COALESCE(i.internal_edge_count, 0) / (s.size * (s.size - 1) / 2.0)
          END, 6) AS density_internal,
    COALESCE(i.internal_edge_count, 0) AS internal_edge_count
FROM sizes s
LEFT JOIN internal i USING (label)
LEFT JOIN extc e USING (label)
LEFT JOIN vol v USING (label)
LEFT JOIN varc USING (label), tot t
""",
    doc="Per-community metric table (reference per_community_table, "
    "project/metrics/metrics.py:127-205; SURVEY.md A12) — one O(E) pass "
    "instead of an O(C·E) driver loop: numpy on the driver for a "
    "community-sized member set, one distributed pipeline above it",
)
def q_community_metrics_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.graph import (
        _release_checkpoint,
        carry_ckpt,
    )
    from echo_chambers_detection_spark.operators.metrics import community_table

    pg, edges, labels, emb = _metric_inputs(spark, sf_dir)
    t = community_table(edges, labels, emb)
    _release_checkpoint(pg)
    return carry_ckpt(t.select(*_rounded()), t)


@register(
    "global_echo_metrics",
    f"""
WITH {_ORACLE_METRIC_WORLD},
gstats AS (
    SELECT ROUND(AVG(sim), 6) AS homophily,
        ROUND(COALESCE(AVG(CASE WHEN l1 = l2 THEN sim END), 0), 6) AS cohesion,
        ROUND(COALESCE(1 - AVG(CASE WHEN l1 != l2 THEN sim END), 0), 6) AS separation,
        ROUND(COALESCE(AVG(CASE WHEN l1 = l2 THEN sim END), 0)
            * COALESCE(1 - AVG(CASE WHEN l1 != l2 THEN sim END), 0), 6) AS ecs
    FROM we
),
vsz AS (
    SELECT label FROM (SELECT label, COUNT(*) AS c FROM comm GROUP BY 1) WHERE c >= 2
),
vm AS (SELECT c.node, c.label FROM comm c JOIN vsz v USING (label)),
sub AS (
    SELECT w.u1, w.u2, la.label AS l1, lb.label AS l2
    FROM edges w
    JOIN vm la ON la.node = w.u1
    JOIN vm lb ON lb.node = w.u2
),
subm AS (SELECT COUNT(*) AS m FROM sub),
dc AS (
    SELECT label, COUNT(*) AS d_c
    FROM (SELECT l1 AS label FROM sub UNION ALL SELECT l2 AS label FROM sub)
    GROUP BY 1
),
lc AS (SELECT l1 AS label, COUNT(*) AS l_c FROM sub WHERE l1 = l2 GROUP BY 1),
modq AS (
    SELECT CASE WHEN (SELECT COUNT(*) FROM vsz) >= 2
           THEN ROUND(SUM(COALESCE(l.l_c, 0) * 1.0 / s.m - (d.d_c / (2.0 * s.m)) ** 2), 6)
           END AS modularity
    FROM dc d LEFT JOIN lc l USING (label), subm s
)
SELECT g.homophily, g.cohesion, g.separation, g.ecs, m.modularity
FROM gstats g, modq m
""",
    doc="Global homophily / cohesion / separation / ECS / modularity in two "
    "aggregate passes (reference ecs()+homophily()+compute_modularity, "
    "project/metrics/metrics.py:8-106; SURVEY.md A4/A5/A9)",
)
def q_global_echo_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.metrics import (
        global_metrics,
        modularity,
    )

    from echo_chambers_detection_spark.operators.graph import carry_ckpt

    edges_m, members, emb = _metric_world(spark, sf_dir)
    g = global_metrics(edges_m, members, emb).select(
        F.round("homophily", 6).alias("homophily"),
        F.round("cohesion", 6).alias("cohesion"),
        F.round("separation", 6).alias("separation"),
        F.round("ecs", 6).alias("ecs"),
    )
    m = modularity(edges_m, members).select(
        F.round("modularity", 6).alias("modularity")
    )
    return carry_ckpt(g.crossJoin(m), edges_m, members)


@register(
    "conductance_sentinel",
    f"""
WITH {_ORACLE_METRIC_WORLD},
cut AS (
    SELECT label, COUNT(*) AS cut_edges FROM (
        SELECT l1 AS label FROM we WHERE l1 != l2
        UNION ALL
        SELECT l2 AS label FROM we WHERE l1 != l2
    ) GROUP BY 1
),
vol AS (
    SELECT c.label, SUM(COALESCE(d.degree, 0)) AS vol_c
    FROM comm c LEFT JOIN deg d ON d.node = c.node GROUP BY 1
)
SELECT v.label,
    ROUND(CASE WHEN LEAST(v.vol_c, t.total_deg - v.vol_c) > 0
        THEN COALESCE(c.cut_edges, 0) / LEAST(v.vol_c, t.total_deg - v.vol_c)
        ELSE 10000.0 END, 6) AS conductance
FROM vol v LEFT JOIN cut c USING (label), tot t
""",
    doc="Standalone conductance with the reference's 10000 empty-side "
    "sentinel (compute_conductance, project/metrics/metrics.py:108-124)",
)
def q_conductance_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.metrics import (
        conductance_with_sentinel,
    )

    from echo_chambers_detection_spark.operators.graph import carry_ckpt

    edges_m, members, _ = _metric_world(spark, sf_dir)
    return carry_ckpt(
        conductance_with_sentinel(edges_m, members).select(
            "label", F.round("conductance", 6).alias("conductance")
        ),
        edges_m,
        members,
    )


def _emb_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("string").alias("node"),
        F.col("embedding").alias("vector"),
    )


def _rounded() -> list:
    """The per-community table's columns with the metrics rounded to 6
    places in Spark (HALF_UP, as the oracles expect)."""
    return [
        "label",
        "size",
        *(
            F.round(c, 6).alias(c)
            for c in (
                "cohesion", "separation", "ecs", "conductance",
                "variance", "homophily", "density_internal",
            )
        ),
        "internal_edge_count",
    ]


def _mint_and_metrics(
    edges: DataFrame, labels: DataFrame, emb: DataFrame, run_key: str
) -> DataFrame:
    """Shared tail of the analysis-run chains (round-5 review finding —
    the two DAG branches must not diverge silently): member discipline
    (metrics_interface.py:95-108), the save-step identity mint
    (deterministic community_id/run_id standing in for the reference's
    uuid4 appends), and the per-community metrics table keyed by the
    minted ids.

    Placement and checkpoint hygiene: when edges, labels and emb are
    all driver frames (`session.driver_frame`), as the one-pull
    placement of both chains hands them over (`_on_driver`: every step
    of the chain under its bound), the table runs in numpy from their
    Arrow tables with no Spark job and nothing to free. Otherwise
    edges/labels are consumed here and never used again:
    `community_table` leaves them dead, so any checkpoint blocks the
    CALLER threaded onto them (the projection's engagement frame,
    fastrp/hdbscan/CC internals) are released immediately; the result
    carries only the table's own blocks."""
    from echo_chambers_detection_spark.operators.graph import (
        _release_checkpoint,
        carry_ckpt,
    )
    from echo_chambers_detection_spark.operators.metrics import community_table

    t = community_table(edges, labels, emb)
    _release_checkpoint(edges, labels)
    return carry_ckpt(t.select(
        F.md5(F.concat(F.lit("community:"), F.col("label"))).alias(
            "community_id"
        ),
        *_rounded(),
        F.md5(F.lit(run_key)).alias("run_id"),
    ), t)


def _on_driver(spark, sf_dir, pg, max_rows, labels_of, run_key):
    """The analysis chain after its projection `pg`, run from one Arrow
    pull on the driver, or None to run it distributed.

    `max_rows` bounds the pull (the chain's graph steps' edge bound);
    `labels_of(spark, tbl)` runs the chain's community step over the
    pulled (u1, u2, weight) table and returns (member edges as an Arrow
    table, labels as a driver frame), or None when a step's bound or
    kernel declines. The labeled members' vectors are pulled once,
    bounded by DRIVER_TABLE_MEMBERS (as are the labeled nodes, so that
    pull is one filtered scan); then `_mint_and_metrics` gets
    driver frames only, so its table runs in numpy without a job. Every
    decline happens before `_mint_and_metrics` is called, and leaves
    `pg` as it was."""
    from echo_chambers_detection_spark.operators import metrics as M
    from echo_chambers_detection_spark.operators.graph import (
        _release_checkpoint,
        _traversal_local_tbl,
    )

    if M.DRIVER_TABLE_MEMBERS <= 0 or not isinstance(
        pg.schema["u1"].dataType, StringType
    ):
        return None
    tbl = _traversal_local_tbl(
        pg, weighted=True, max_rows=max_rows, drop_null_ids=False
    )
    if tbl is None or tbl.column("u1").null_count or tbl.column("u2").null_count:
        return None
    got = labels_of(spark, tbl)
    if got is None:
        return None
    edges, labels = got
    nodes = driver_table(labels).column("node")
    if len(nodes) > M.DRIVER_TABLE_MEMBERS:
        return None
    # labels ⋈ embeddings as one filtered scan (the labeled nodes are
    # distinct, so the filter keeps the join's rows, in its order)
    emb = _emb_nodes(spark, sf_dir)
    emb_t = (
        emb.where(F.col("node").isin(nodes.to_pylist()))
        .limit(M.DRIVER_TABLE_MEMBERS + 1)
        .toArrow()
    )
    members = M._joined_members(driver_table(labels), emb_t)
    if members.num_rows > M.DRIVER_TABLE_MEMBERS or M._member_vectors(members) is None:
        return None
    _release_checkpoint(pg)
    return _mint_and_metrics(
        driver_frame(spark, edges, "u1 string, u2 string"),
        labels,
        driver_frame(spark, emb_t, emb.schema),
        run_key,
    )


def _cc_labels(spark, tbl):
    """The CC chain's community step in numpy: the strong backbone
    (weight >= 1.2 x mean weight) and its connected components
    (`connected_components_local`, the mirror `connected_components`
    runs under its bound)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from echo_chambers_detection_spark.operators.localgraph import (
        connected_components_local,
    )

    w = tbl.column("weight").to_numpy().astype(np.float64)
    # Spark's avg sums the long weights as doubles: exact below 2^53
    if len(w):
        strong = tbl.filter(pa.array(w >= 1.2 * (w.sum() / len(w))))
    else:
        strong = tbl
    u1 = strong.column("u1").to_pandas().to_numpy()
    u2 = strong.column("u2").to_pandas().to_numpy()
    # connected_components collects its symmetrized rows with src <= dst
    src, dst = np.concatenate([u1, u2]), np.concatenate([u2, u1])
    half = src <= dst
    comps = connected_components_local(
        pd.DataFrame({"src": src[half], "dst": dst[half]})
    )
    labels = driver_frame(spark, comps.items(), "node string, label string")
    return strong.select(["u1", "u2"]), labels


def _hdbscan_labels(spark, tbl, dim, **hdbscan_args):
    """The HDBSCAN chain's community step in numpy: FastRP
    (`fastrp_local`, `fastrp`'s defaults), then `hdbscan_local` where
    `hdbscan_cluster`'s "auto" gates would take the exact k-NN on the
    driver, then the noise filter."""
    from echo_chambers_detection_spark.operators.hdbscan import (
        KNN_ANN_CROSSOVER,
        hdbscan_local,
    )
    from echo_chambers_detection_spark.operators.localgraph import fastrp_local

    rp = fastrp_local(
        tbl, dim=dim, iteration_weights=(0.0, 1.0, 1.0), seed=42, assemble=True
    )
    if rp is None or len(rp) > KNN_ANN_CROSSOVER:
        return None
    lab = hdbscan_local(
        rp["node"].to_numpy(), rp["embedding"].to_numpy(), num_blocks=8,
        **hdbscan_args,
    )
    if lab is None:
        return None
    labels = driver_frame(
        spark, lab.items(),
        StructType([
            StructField("node", StringType()),
            StructField("label", StringType(), False),
        ]),
    )
    return tbl.select(["u1", "u2"]), labels


@register(
    "analysis_run_metrics",
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
),
cc AS (SELECT node, MIN(lab) AS label FROM reach GROUP BY node),
emb_nodes AS (SELECT DISTINCT CAST(vec_id AS VARCHAR) AS node FROM embeddings),
comm0 AS (SELECT c.node, c.label FROM cc c JOIN emb_nodes en ON en.node = c.node),
edges AS (
    SELECT s.u1, s.u2 FROM strong s
    JOIN comm0 a ON a.node = s.u1
    JOIN comm0 b ON b.node = s.u2
),
ex AS (
    SELECT CAST(vec_id AS VARCHAR) AS node,
           CAST(UNNEST(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
),
sims AS (
    SELECT e.u1, e.u2,
           SUM(a.x * b.x) / (SQRT(SUM(a.x * a.x)) * SQRT(SUM(b.x * b.x))) AS sim
    FROM edges e
    JOIN ex a ON a.node = e.u1
    JOIN ex b ON b.node = e.u2 AND a.i = b.i
    GROUP BY 1, 2
),
we AS (
    SELECT s.u1, s.u2, s.sim, la.label AS l1, lb.label AS l2
    FROM sims s
    JOIN comm0 la ON la.node = s.u1
    JOIN comm0 lb ON lb.node = s.u2
),
-- NOTE: inside WITH RECURSIVE DuckDB parses `a UNION b` CTEs as
-- anchor/step and does NOT dedupe across the branches — DISTINCT over
-- UNION ALL is the safe spelling here
gnodes AS (SELECT DISTINCT node FROM (
    SELECT u1 AS node FROM edges UNION ALL SELECT u2 AS node FROM edges
)),
comm AS (SELECT c.node, c.label FROM comm0 c JOIN gnodes g ON g.node = c.node),
deg AS (
    SELECT node, COUNT(*) AS degree
    FROM (SELECT u1 AS node FROM edges UNION ALL SELECT u2 AS node FROM edges)
    GROUP BY 1
),
tot AS (SELECT 2 * COUNT(*) AS total_deg FROM edges),
sizes AS (SELECT label, COUNT(*) AS size FROM comm GROUP BY 1),
internal AS (
    SELECT l1 AS label, COUNT(*) AS internal_edge_count, AVG(sim) AS cohesion
    FROM we WHERE l1 = l2 GROUP BY 1
),
extc AS (
    SELECT label, COUNT(*) AS cut_edges, AVG(sim) AS mes FROM (
        SELECT l1 AS label, sim FROM we WHERE l1 != l2
        UNION ALL
        SELECT l2 AS label, sim FROM we WHERE l1 != l2
    ) GROUP BY 1
),
vol AS (
    SELECT c.label, SUM(COALESCE(d.degree, 0)) AS vol_c
    FROM comm c LEFT JOIN deg d ON d.node = c.node GROUP BY 1
),
exv AS (SELECT c.label, c.node, e.x, e.i FROM comm c JOIN ex e ON e.node = c.node),
cent AS (SELECT label, i, AVG(x) AS cx FROM exv GROUP BY 1, 2),
sqd AS (
    SELECT v.label, v.node, SUM((v.x - c.cx) ** 2) AS sqd
    FROM exv v JOIN cent c ON c.label = v.label AND c.i = v.i
    GROUP BY 1, 2
),
varc AS (SELECT label, AVG(sqd) AS variance FROM sqd GROUP BY 1)
SELECT md5('community:' || s.label) AS community_id,
    s.label, s.size,
    ROUND(i.cohesion, 6) AS cohesion,
    ROUND(1 - e.mes, 6) AS separation,
    ROUND(i.cohesion * (1 - e.mes), 6) AS ecs,
    ROUND(CASE WHEN LEAST(v.vol_c, t.total_deg - v.vol_c) > 0
          THEN COALESCE(e.cut_edges, 0) / LEAST(v.vol_c, t.total_deg - v.vol_c)
          END, 6) AS conductance,
    ROUND(varc.variance, 6) AS variance,
    ROUND(i.cohesion, 6) AS homophily,
    ROUND(CASE WHEN s.size > 1
          THEN COALESCE(i.internal_edge_count, 0) / (s.size * (s.size - 1) / 2.0)
          END, 6) AS density_internal,
    COALESCE(i.internal_edge_count, 0) AS internal_edge_count,
    md5('analysis_run:cc_strong') AS run_id
FROM sizes s
LEFT JOIN internal i USING (label)
LEFT JOIN extc e USING (label)
LEFT JOIN vol v USING (label)
LEFT JOIN varc USING (label), tot t
""",
    doc="END-TO-END analysis run (VERDICT r4 #5), the reference's "
    "button-press DAG as ONE chained query "
    "(project/metrics/community_detection.py:124-141 -> "
    "metrics_interface.py:120-150): graph projection -> community "
    "algorithm -> save-step identity mint (deterministic community_id "
    "= md5('community:'||label), run_id — the reference's uuid4 per "
    "row/run, substituted deterministic so the tail hashes) -> "
    "per-community metrics table keyed by the minted ids. The "
    "algorithm is connected components over the strong co-engagement "
    "backbone — the one member of the algorithm family with an exact "
    "recursive-CTE oracle, so the WHOLE chain is hash-checked "
    "end-to-end; the FastRP->HDBSCAN branch of the same DAG runs as "
    "analysis_run_hdbscan (rows-only, iterative labels). Placement: "
    "when the post graph fits one pull under the CC mirror's bound and "
    "the labeled members fit DRIVER_TABLE_MEMBERS, the projection is "
    "pulled once as Arrow and threshold, CC and metrics table run in "
    "numpy (_on_driver); past any bound, or when a kernel declines, "
    "each step runs as its own operator. SCD-2 "
    "expire/append of a previous run's membership is the "
    "scd2_membership_* family; the report stage is sinks/report.",
)
def q_analysis_run_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators import graph as G
    from echo_chambers_detection_spark.operators.graph import (
        carry_ckpt,
        connected_components,
    )

    # stage 1: graph projection (reference produce_graph_projection)
    pg = _post_graph(spark, sf_dir)
    out = _on_driver(
        spark, sf_dir, pg, G.LOCAL_GRAPH_EDGE_LIMIT // 2, _cc_labels,
        "analysis_run:cc_strong",
    )
    if out is not None:
        return out
    thr = pg.agg((1.2 * F.avg("weight")).alias("t"))
    strong = carry_ckpt(
        pg.crossJoin(F.broadcast(thr))
        .where(F.col("weight") >= F.col("t"))
        .select("u1", "u2"),
        pg,
    )
    # stage 2: community algorithm (deterministic min-label components)
    comps = connected_components(strong)
    labels = carry_ckpt(
        comps.select("node", F.col("component").alias("label")), comps
    )
    # stages 3-4: member discipline + identity mint + metrics table
    return _mint_and_metrics(
        strong, labels, _emb_nodes(spark, sf_dir), "analysis_run:cc_strong"
    )


@register(
    "analysis_run_hdbscan",
    None,
    doc="The OTHER branch of the reference's button-press DAG "
    "(community_detection.py:124-141 run_hdbscan path): projection -> "
    "FastRP (dim=128, reference parameters) -> HDBSCAN* -> noise "
    "filter (reference result_df[label != -1]) -> save-step identity "
    "mint -> per-community metrics over the saved membership. "
    "Iterative + embedding-derived labels have no SQL twin, so this "
    "is a rows-only driver check; every stage is individually pinned "
    "(fastrp_embeddings, hdbscan_clusters, community_metrics_table, "
    "and analysis_run_metrics for the chain shape itself). Placement: "
    "when every step's gate would run it on the driver (FastRP's pull "
    "bound, the k-NN tile rows, the Kruskal and contraction bounds, "
    "DRIVER_TABLE_MEMBERS), the projection is pulled once as Arrow and "
    "FastRP, hdbscan_local and the metrics table run in numpy "
    "(_on_driver); past any bound, or when a kernel declines, each step "
    "runs as its own operator. The noise-filtered labels reach "
    "_mint_and_metrics as a (node, label) frame either way.",
)
def q_analysis_run_hdbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators import localgraph
    from echo_chambers_detection_spark.operators.graph import (
        carry_ckpt,
        fastrp,
    )
    from echo_chambers_detection_spark.operators.hdbscan import (
        hdbscan_cluster,
    )

    # the reference's FastRP dim and HDBSCAN parameters, for both placements
    dim, args = 128, dict(min_pts=3, min_cluster_size=3, k=10)
    pg = _post_graph(spark, sf_dir)
    out = _on_driver(
        spark, sf_dir, pg, localgraph.FASTRP_LOCAL_CELLS // (4 * dim),
        partial(_hdbscan_labels, dim=dim, **args), "analysis_run:hdbscan",
    )
    if out is not None:
        return out
    rp = fastrp(pg, dim=dim)
    # thread checkpoint ownership down the chain (projection -> fastrp ->
    # hdbscan -> noise filter) so _mint_and_metrics can release it all
    # once its compacted frames are checkpointed (leak census r10)
    frp = carry_ckpt(rp.withColumnRenamed("embedding", "vector"), rp, pg)
    clusters = hdbscan_cluster(frp, **args, carry_input_ckpt=True)
    # reference noise filter: result_df[label != -1]
    labels = carry_ckpt(
        clusters.where(F.col("cluster") != "-1").select(
            F.col("node"), F.col("cluster").alias("label")
        ),
        clusters,
    )
    return _mint_and_metrics(
        pg.select("u1", "u2"),
        labels,
        _emb_nodes(spark, sf_dir),
        "analysis_run:hdbscan",
    )


