"""Echo-chamber metrics (SURVEY.md §2.4 A4-A12) as distributed aggregations.

Reference semantics (project/metrics/metrics.py, metrics_interface.py):
the metrics layer pulls everything into driver RAM (dicts + NetworkX) and
loops per-edge with one sklearn cosine call each, and per-community over
the whole edge list (O(C·E), metrics.py:111-124,148-189). Here the same
numbers come out of a handful of groupBy aggregations over an edge list
whose similarities are computed once, JVM-side.

Node-set discipline (metrics_interface.py:95-108): communities are
filtered to nodes with embeddings, embeddings to nodes with communities,
and the graph keeps only edges with both endpoints in that member set —
`restrict_to_members` reproduces exactly this.

NaN/null conventions: the reference mixes 0-defaults (global ecs,
metrics.py:8-12), NaN (per-community table, metrics.py:161-181), and a
10000 sentinel (standalone conductance, metrics.py:120). SQL NULL stands
in for NaN; the sentinel is preserved where the reference has it.

Placement (`community_table`): the per-community table is computed on
the driver, with numpy, when its member set fits one driver pull of
DRIVER_TABLE_MEMBERS rows, and by `community_metrics` above that. The
table's inputs are community-graph sized: members are labeled nodes
with an embedding, and its edges are those between members, so they
stay in the thousands even when the raw events are 100 TB. A
distributed plan over them pays ~15 exchanges, each a job with its
own codegen, for a few milliseconds of task work. This follows the
engine's mirror pattern (`graph.LOCAL_GRAPH_EDGE_LIMIT`,
`hdbscan.KNN_TILE_ROWS`): the distributed path stays the scale path
and gives the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from echo_chambers_detection_spark.functions.vector import cosine_similarity
from echo_chambers_detection_spark.operators.graph import (
    _exceeds_rows,
    carry_ckpt,
    tracked_checkpoint,
)
from echo_chambers_detection_spark.session import driver_frame, driver_table

# Members (labeled nodes with an embedding) at or below which
# `community_table` computes on the driver. 4096 members of 128-dim
# vectors are ~4 MB. 0 forces the distributed path (tests do).
DRIVER_TABLE_MEMBERS = 4096

# The table's columns after `label`, with `community_metrics`' NOT NULLs
_TABLE_COLUMNS = [
    StructField("size", LongType(), False),
    *(
        StructField(c, DoubleType())
        for c in (
            "cohesion", "separation", "ecs", "conductance", "variance",
            "homophily", "density_internal",
        )
    ),
    StructField("internal_edge_count", LongType(), False),
]


def restrict_to_members(
    edges: DataFrame, labels: DataFrame, embeddings: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Mutual semi-join filtering (reference metrics_interface.py:95-108;
    SURVEY.md P7/P8): members = labeled ∩ embedded; graph keeps only
    edges with both endpoints in members.

    edges:      (u1, u2) distinct undirected pairs, u1 < u2
    labels:     (node, label), noise label -1 already excluded upstream
    embeddings: (node, vector)

    Returns (edges_m, members(node, label)).
    """
    members = labels.join(embeddings.select("node"), "node", "leftsemi")
    m1 = members.select(F.col("node").alias("u1"))
    m2 = members.select(F.col("node").alias("u2"))
    edges_m = edges.join(m1, "u1", "leftsemi").join(m2, "u2", "leftsemi")
    return edges_m, members


def edge_similarities(edges: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Attach both endpoints' labels-agnostic cosine similarity to each edge
    (reference per-edge loop, metrics.py:143-146; SURVEY.md J6/F7).
    One join per endpoint, one codegen'd array expr per edge."""
    e1 = embeddings.select(
        F.col("node").alias("u1"), F.col("vector").alias("_v1")
    )
    e2 = embeddings.select(
        F.col("node").alias("u2"), F.col("vector").alias("_v2")
    )
    return (
        edges.join(e1, "u1", "left")
        .join(e2, "u2", "left")
        .withColumn("sim", cosine_similarity("_v1", "_v2"))
        .drop("_v1", "_v2")
    )


def _labeled_edges(
    edges: DataFrame, members: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """(u1, u2, l1, l2, sim) — the single worktable every metric reads."""
    lab1 = members.select(F.col("node").alias("u1"), F.col("label").alias("l1"))
    lab2 = members.select(F.col("node").alias("u2"), F.col("label").alias("l2"))
    return (
        edge_similarities(edges, embeddings)
        .join(lab1, "u1", "left")
        .join(lab2, "u2", "left")
    )


def global_metrics(
    edges_m: DataFrame, members: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """One-row frame: homophily, cohesion, separation, ecs.

    Reference: ecs() + homophily() (metrics.py:8-35,101-106). Note the
    reference's global variant defaults empty sides to 0 (metrics.py:9,12),
    unlike the per-community NaN — preserved via coalesce. Single pass:
    conditional averages instead of two driver-side lists (SURVEY.md A4/A5).
    """
    we = _labeled_edges(edges_m, members, embeddings)
    same = F.col("l1") == F.col("l2")
    agg = we.agg(
        F.avg("sim").alias("homophily"),
        F.coalesce(F.avg(F.when(same, F.col("sim"))), F.lit(0.0)).alias("cohesion"),
        F.coalesce(
            1 - F.avg(F.when(~same, F.col("sim"))), F.lit(0.0)
        ).alias("separation"),
    )
    return agg.withColumn("ecs", F.col("cohesion") * F.col("separation"))


def modularity(edges_m: DataFrame, members: DataFrame) -> DataFrame:
    """One-row frame with the reference's modularity (metrics.py:57-98):
    communities of size >= 2 only; if fewer than two such communities the
    result is NULL (reference returns NaN); otherwise the induced subgraph
    on their union is scored with the closed form
        Q = Σ_c [ L_c/m − (d_c / 2m)² ]
    (identical to nx.community.modularity on an unweighted graph) — a pure
    group-by over edges + degrees instead of a driver-side subgraph.

    Community sizes are taken over GRAPH nodes (reference iterates
    G.nodes(), metrics.py:77-87), so isolated members don't count.
    """
    g_nodes = (
        edges_m.select(F.col("u1").alias("node"))
        .unionAll(edges_m.select(F.col("u2").alias("node")))
        .distinct()
    )
    members = members.join(g_nodes, "node", "leftsemi")
    sizes = members.groupBy("label").agg(F.count("*").alias("sz"))
    valid = sizes.where(F.col("sz") >= 2).select("label")
    vm = members.join(valid, "label", "leftsemi")

    m1 = vm.select(F.col("node").alias("u1"), F.col("label").alias("l1"))
    m2 = vm.select(F.col("node").alias("u2"), F.col("label").alias("l2"))
    sub = edges_m.join(m1, "u1", "inner").join(m2, "u2", "inner")

    deg = (
        sub.select(F.col("u1").alias("node"), F.col("l1").alias("label"))
        .unionAll(sub.select(F.col("u2").alias("node"), F.col("l2").alias("label")))
        .groupBy("node", "label")
        .agg(F.count("*").alias("degree"))
    )
    d_c = deg.groupBy("label").agg(F.sum("degree").alias("d_c"))
    l_c = (
        sub.where(F.col("l1") == F.col("l2"))
        .groupBy(F.col("l1").alias("label"))
        .agg(F.count("*").alias("l_c"))
    )
    per_c = d_c.join(l_c, "label", "left").na.fill({"l_c": 0})

    totals = sub.agg(F.count("*").alias("m_edges")).crossJoin(
        valid.agg(F.count("*").alias("n_valid"))
    )
    q = (
        per_c.crossJoin(F.broadcast(totals))
        .select(
            (
                F.col("l_c") / F.col("m_edges")
                - F.pow(F.col("d_c") / (2 * F.col("m_edges")), 2)
            ).alias("term"),
            "n_valid",
        )
        .groupBy("n_valid")
        .agg(F.sum("term").alias("q"))
    )
    return q.select(
        F.when((F.col("n_valid") >= 2), F.col("q")).alias("modularity")
    )


def community_metrics(
    edges_m: DataFrame, members: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """The per-community table (reference per_community_table,
    metrics.py:127-205; SURVEY.md A12), one distributed pipeline.

    Columns: label, size, cohesion, separation, ecs, conductance,
    variance, homophily, density_internal, internal_edge_count.

    Reference quirks preserved:
    - community node sets are members that appear in the graph
      (metrics.py:136-139);
    - an inter-community edge contributes to BOTH sides' external sets
      (the per-community loop re-scans all edges, metrics.py:148-159) —
      expressed as explode(array(l1, l2));
    - conductance NaN (here NULL) when a side's volume is 0
      (metrics.py:173), unlike the standalone 10000 sentinel;
    - per-community homophily is defined as cohesion (metrics.py:183).
    """
    # tracked eager checkpoint instead of a bare .cache(): we feeds the
    # internal/external branches below, and a cache's pinned RDD has no
    # recorded id, so callers could never release it (leak census r10).
    # The frame is community-graph sized (edges_m is already compacted),
    # so the eager materialization costs what the first cache fill did.
    we = tracked_checkpoint(_labeled_edges(edges_m, members, embeddings))

    g_nodes = (
        edges_m.select(F.col("u1").alias("node"))
        .unionAll(edges_m.select(F.col("u2").alias("node")))
        .distinct()
    )
    comm_nodes = members.join(g_nodes, "node", "leftsemi")

    sizes = comm_nodes.groupBy("label").agg(F.count("*").alias("size"))

    internal = (
        we.where(F.col("l1") == F.col("l2"))
        .groupBy(F.col("l1").alias("label"))
        .agg(
            F.count("*").alias("internal_edge_count"),
            F.avg("sim").alias("cohesion"),
        )
    )

    ext = (
        we.where(~F.col("l1").eqNullSafe(F.col("l2")))
        .select(
            F.explode(F.array("l1", "l2")).alias("label"),
            "sim",
        )
        .where(F.col("label").isNotNull())
        .groupBy("label")
        .agg(
            F.count("*").alias("cut_edges"),
            F.avg("sim").alias("_mean_ext_sim"),
        )
    )

    deg = (
        edges_m.select(F.col("u1").alias("node"))
        .unionAll(edges_m.select(F.col("u2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    vol = (
        comm_nodes.join(deg, "node", "left")
        .na.fill({"degree": 0})
        .groupBy("label")
        .agg(F.sum("degree").alias("vol_c"))
    )
    total = edges_m.agg((2 * F.count("*")).alias("total_deg"))

    # variance: two-pass centroid -> mean squared distance, fully exploded
    mem_vec = comm_nodes.join(embeddings, "node", "inner").select(
        "label", "node", F.posexplode("vector").alias("dim", "val")
    ).withColumn("val", F.col("val").cast("double"))
    centroid = mem_vec.groupBy("label", "dim").agg(F.avg("val").alias("cval"))
    sqd = (
        mem_vec.join(centroid, ["label", "dim"])
        .groupBy("label", "node")
        .agg(F.sum(F.pow(F.col("val") - F.col("cval"), 2)).alias("sqd"))
    )
    variance = sqd.groupBy("label").agg(F.avg("sqd").alias("variance"))

    out = (
        sizes.join(internal, "label", "left")
        .join(ext, "label", "left")
        .join(vol, "label", "left")
        .join(variance, "label", "left")
        .crossJoin(F.broadcast(total))
        .na.fill({"internal_edge_count": 0, "cut_edges": 0})
    )
    min_vol = F.least(F.col("vol_c"), F.col("total_deg") - F.col("vol_c"))
    possible = F.col("size") * (F.col("size") - 1) / 2
    return carry_ckpt(
        out.select(
            "label",
            "size",
            "cohesion",
            (1 - F.col("_mean_ext_sim")).alias("separation"),
            (F.col("cohesion") * (1 - F.col("_mean_ext_sim"))).alias("ecs"),
            F.when(min_vol > 0, F.col("cut_edges") / min_vol).alias(
                "conductance"
            ),
            "variance",
            F.col("cohesion").alias("homophily"),
            F.when(possible > 0, F.col("internal_edge_count") / possible)
            .alias("density_internal"),
            "internal_edge_count",
        ).orderBy(F.desc_nulls_last("ecs"), "label"),
        we,
    )


def community_table(
    edges: DataFrame, labels: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """`community_metrics` of raw inputs, placed by size (module
    docstring): same columns, same rows, same order.

    edges (u1, u2), labels (node, label) and embeddings (node, vector)
    as in `restrict_to_members`; `label` keeps its type. The gate is
    the pull itself, `limit(DRIVER_TABLE_MEMBERS + 1)` over
    embeddings ⋈ labels, so it costs no count job. Members numpy cannot
    mirror exactly (`_member_vectors`) take the distributed path too.
    Inputs that are driver frames (`session.driver_table`) are read
    from their Arrow tables instead: labels and embeddings both for the
    member join, edges for the member edges, with no Spark job. Either
    way the caller's edges and labels are dead once this returns, and
    an empty member set or edge list gives the empty table."""
    spark = labels.sparkSession
    schema = StructType([labels.schema["label"], *_TABLE_COLUMNS])
    if DRIVER_TABLE_MEMBERS > 0:
        lab_t, emb_t = driver_table(labels), driver_table(embeddings)
        if lab_t is not None and emb_t is not None:
            pulled = _joined_members(lab_t, emb_t)
        else:
            pulled = (
                labels.select("node", "label")
                .join(embeddings.select("node", "vector"), "node")
                .limit(DRIVER_TABLE_MEMBERS + 1)
                .toArrow()
            )
        x = _member_vectors(pulled) if pulled.num_rows <= DRIVER_TABLE_MEMBERS else None
        if x is not None:
            nodes = pulled.column("node").to_pandas()
            u1 = u2 = nodes[:0]
            edge_t = driver_table(edges)
            if len(nodes) and edge_t is not None:
                u1 = edge_t.column("u1").to_pandas()
                u2 = edge_t.column("u2").to_pandas()
                keep = (u1.isin(nodes) & u2.isin(nodes)).to_numpy()
                u1, u2 = u1[keep], u2[keep]
            elif len(nodes):
                ids = driver_frame(
                    spark, nodes.to_frame(), StructType([labels.schema["node"]])
                )
                e = edges.select("u1", "u2")
                for c in ("u1", "u2"):
                    m = F.broadcast(ids.withColumnRenamed("node", c))
                    e = e.join(m, c, "leftsemi")
                tbl = e.toArrow()
                u1, u2 = tbl.column("u1").to_pandas(), tbl.column("u2").to_pandas()
            table = _table_np(nodes, pulled.column("label").to_pandas(), x, u1, u2)
            return driver_frame(spark, table, schema)

    # Empty frames stay out of the multi-branch plan: AQE drops the
    # branches an empty side makes dead but leaves their running stages
    # to finish (it cancels stages only when the query fails). Those
    # stages read the checkpoints below, which the caller frees as soon
    # as its action returns, and their tasks then fail with
    # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
    edges_m, members = restrict_to_members(edges, labels, embeddings)
    members = tracked_checkpoint(members.coalesce(1))
    if _exceeds_rows(members, 0):
        edges_m = tracked_checkpoint(edges_m.coalesce(1))
        if _exceeds_rows(edges_m, 0):
            return carry_ckpt(
                community_metrics(edges_m, members, embeddings), edges_m, members
            )
    return carry_ckpt(driver_frame(spark, [], schema), edges_m, members)


def _joined_members(lab_t, emb_t):
    """labels ⋈ embeddings of two driver tables, as the pull in
    `community_table` returns it: (node, label, vector) in the
    embeddings' row order, NULL nodes matching nothing."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    def keyed(t, pos):
        node = t.column("node").to_pandas()
        return pd.DataFrame({"node": node, pos: np.arange(t.num_rows)})[node.notna()]

    m = keyed(emb_t, "_i").merge(keyed(lab_t, "_j"), on="node", sort=False)
    return pa.table({
        "node": emb_t.column("node").take(m["_i"].to_numpy()),
        "label": lab_t.column("label").take(m["_j"].to_numpy()),
        "vector": emb_t.column("vector").take(m["_i"].to_numpy()),
    })


def _member_vectors(pulled):
    """The pulled members' vectors as an (n, d) float64 array, or None
    when the numpy kernel would not give the distributed rows: null,
    ragged, empty or NaN vectors, or a null label or repeated node."""
    import numpy as np
    import pyarrow.compute as pc

    n = pulled.num_rows
    vec = pulled.column("vector").combine_chunks()
    flat = vec.flatten()
    d = len(flat) // n if n else 0
    if n and (
        d == 0
        or vec.null_count
        or flat.null_count
        or pulled.column("label").null_count
        or pc.count_distinct(pulled.column("node")).as_py() < n
        or pc.any(pc.not_equal(pc.list_value_length(vec), d)).as_py()
    ):
        return None
    x = flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(n, d)
    return None if np.isnan(x).any() else np.asfortranarray(x)


def _table_np(nodes, labels, x, u1, u2):
    """`community_metrics` in numpy: members `nodes` with `labels` and
    vectors `x` (n, d), member edges (u1, u2). Returns the table as a
    pandas frame in column and row order.

    Cosines sum over dimensions in order, as `cosine_similarity`'s
    Catalyst `aggregate` does, so an edge's similarity matches the
    distributed one to the bit; a zero norm gives NaN (NULL), which the
    averages skip and the edge counts do not."""
    import numpy as np
    import pandas as pd

    idx = pd.Index(nodes)
    a, b = idx.get_indexer(u1), idx.get_indexer(u2)
    codes, uniq = pd.factorize(np.asarray(labels))
    k, n_edges = len(uniq), len(a)

    def per_label(keys, vals=None):
        return np.bincount(keys, vals, minlength=k)

    with np.errstate(divide="ignore", invalid="ignore"):
        dims = range(x.shape[1])
        norm = np.sqrt(sum((x[:, j] * x[:, j] for j in dims), np.zeros(len(x))))
        dot = sum((x[a, j] * x[b, j] for j in dims), np.zeros(n_edges))
        denom = norm[a] * norm[b]
        sim = np.where(denom > 0, dot / denom, np.nan)

        def mean(keys, vals):
            ok = ~np.isnan(vals)
            return per_label(keys[ok], vals[ok]) / per_label(keys[ok])

        la, lb = codes[a], codes[b]
        same = la == lb
        cohesion = mean(la[same], sim[same])
        cut_l = np.concatenate([la[~same], lb[~same]])
        mes = mean(cut_l, np.concatenate([sim[~same], sim[~same]]))
        vol = per_label(np.concatenate([la, lb]))
        min_vol = np.minimum(vol, 2 * n_edges - vol)
        # community nodes: members with a member edge
        g_idx = np.flatnonzero(np.bincount(np.concatenate([a, b]), minlength=len(x)))
        g = codes[g_idx]
        size = per_label(g)
        sqd = np.zeros(len(g))
        for j in dims:
            col = x[g_idx, j]
            sqd += (col - (per_label(g, col) / size)[g]) ** 2
        variance = per_label(g, sqd) / size
        iec = per_label(la[same])
        possible = size * (size - 1) / 2
        table = pd.DataFrame({
            "label": uniq,
            "size": size,
            "cohesion": cohesion,
            "separation": 1 - mes,
            "ecs": cohesion * (1 - mes),
            "conductance": np.where(min_vol > 0, per_label(cut_l) / min_vol, np.nan),
            "variance": variance,
            "homophily": cohesion,
            "density_internal": np.where(possible > 0, iec / possible, np.nan),
            "internal_edge_count": iec,
        })
    return table[size > 0].sort_values(
        ["ecs", "label"], ascending=[False, True], na_position="last"
    )


def conductance_with_sentinel(edges_m: DataFrame, members: DataFrame) -> DataFrame:
    """Standalone conductance with the reference's arbitrary 10000 sentinel
    for an empty side (compute_conductance, metrics.py:108-124)."""
    g_nodes = (
        edges_m.select(F.col("u1").alias("node"))
        .unionAll(edges_m.select(F.col("u2").alias("node")))
        .distinct()
    )
    comm_nodes = members.join(g_nodes, "node", "leftsemi")
    lab1 = comm_nodes.select(F.col("node").alias("u1"), F.col("label").alias("l1"))
    lab2 = comm_nodes.select(F.col("node").alias("u2"), F.col("label").alias("l2"))
    we = edges_m.join(lab1, "u1", "left").join(lab2, "u2", "left")

    cut = (
        we.where(~F.col("l1").eqNullSafe(F.col("l2")))
        .select(F.explode(F.array("l1", "l2")).alias("label"))
        .where(F.col("label").isNotNull())
        .groupBy("label")
        .agg(F.count("*").alias("cut_edges"))
    )
    deg = (
        edges_m.select(F.col("u1").alias("node"))
        .unionAll(edges_m.select(F.col("u2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    vol = (
        comm_nodes.join(deg, "node", "left")
        .na.fill({"degree": 0})
        .groupBy("label")
        .agg(F.sum("degree").alias("vol_c"))
    )
    total = edges_m.agg((2 * F.count("*")).alias("total_deg"))
    min_vol = F.least(F.col("vol_c"), F.col("total_deg") - F.col("vol_c"))
    return (
        vol.join(cut, "label", "left")
        .na.fill({"cut_edges": 0})
        .crossJoin(F.broadcast(total))
        .select(
            "label",
            F.when(min_vol > 0, F.col("cut_edges") / min_vol)
            .otherwise(F.lit(10000.0))
            .alias("conductance"),
        )
    )
