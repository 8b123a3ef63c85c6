"""HDBSCAN* over embedding columns — the reference's G3
(gds.hdbscan.stream(G, nodeProperty="embedding"),
project/metrics/community_detection.py:49-54; observed output
/root/reference/hdbscan_clusters.csv: 3,614 clusters + 24.3% noise over
77,392 users).

This is the real hierarchy/stability algorithm (Campello, Moulavi,
Sander 2013), not the DBSCAN-flavored substitution kept in
graph.density_cluster — distributed with the standard approximation
that the mutual-reachability MST is built over the k-NN graph instead
of the complete graph (exact for any k large enough that the MST edges
are all k-NN edges; the same approximation every distributed/accelerated
HDBSCAN implementation makes):

1. k-NN graph: blocked-GEMM tiles emit per-row top-k per tile, a
   window keeps the global top-k per node (`knn_graph`). O(n·B·k)
   shuffle rows, never n² pairs.
2. core distance = distance to the (min_pts-1)-th nearest OTHER
   neighbor (Campello counts the point itself in its min_pts-
   neighborhood, matching the hdbscan library); nodes with fewer
   neighbors get +inf (they can only be noise).
3. mutual reachability: w(a,b) = max(d(a,b), core_a, core_b) on the
   undirected k-NN edges; non-finite edges dropped.
4. minimum spanning forest: driver-side Kruskal below the small-graph
   bound (operators/localgraph semantics), distributed Borůvka above —
   per-component min out-edge under the strict total order (w, u1, u2)
   (no tie cycles), contract via connected components, O(log n) rounds.
5. Hanging sub-min_cluster_size subtrees of the forest are contracted
   DISTRIBUTEDLY first (`contract_runt_fringes` — they can never hold a
   genuine split, so only size + min member id survive), then the
   contracted forest (cluster backbone + one row per fringe, not n-1
   rows) collects to the driver for the inherently sequential condense:
   single-linkage dendrogram -> condensed tree (min_cluster_size,
   weighted by supernode size) -> stability selection (excess of mass).
   Labels expand back through a distributed member-map join. The
   virtual root joining forest trees and any cluster holding EVERY
   point are not selectable (allow_single_cluster=False semantics).

Labels: cluster id = min member node id (consistent with the other
graph operators), noise = '-1' (the reference's convention).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from echo_chambers_detection_spark import placement
from echo_chambers_detection_spark.session import driver_frame

# merges at distance 0 (identical vectors) would give lambda = 1/w = inf;
# distances are rounded to 1e-6 upstream, so half an ulp is a safe floor
_MIN_W = 1e-7


def _rowwise_topk(d, rows_ids, cols_ids, kk):
    """Vectorized deterministic per-row top-kk of a distance matrix
    under the (dist, dst-id) total order: sort the column axis by id
    ONCE, then one stable argsort per row — stability over the
    id-sorted axis IS the tie-break, and everything runs at C speed
    (the per-row Python sort was the kernel bottleneck: ~40% of k-NN
    wall time at 50k rows). Non-finite entries (self/zero-norm pairs)
    are dropped. Returns (src, dst, dist) flat arrays."""
    import numpy as np

    if d.size == 0:
        return (
            rows_ids[:0],
            cols_ids[:0],
            np.array([], dtype="float64"),
        )
    col_order = np.argsort(cols_ids, kind="stable")
    d2 = d[:, col_order]
    cols_sorted = cols_ids[col_order]
    kk = min(kk, d2.shape[1])
    order = np.argsort(d2, axis=1, kind="stable")[:, :kk]
    d_sel = np.take_along_axis(d2, order, axis=1)
    finite = np.isfinite(d_sel).ravel()
    return (
        np.repeat(rows_ids, kk)[finite],
        cols_sorted[order].ravel()[finite],
        d_sel.ravel()[finite],
    )


# Row cap of one executor k-NN tile (a <=128 MB pair matrix): it sizes
# the derived block count.
KNN_TILE_ROWS = 4096


def _tile_topk(pdf, k: int):
    """One (bi, bj) tile of `knn_graph`: per-row top-(k+4) candidates of
    the rows of block bi against those of block bj, both directions.
    `pdf` holds the tile's rows (_id, _vec, _b) and its bi, bj keys."""
    import numpy as np
    import pandas as pd

    bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
    left = pdf[pdf["_b"] == bi]
    right = pdf[pdf["_b"] == bj]
    if left.empty or right.empty:
        return pd.DataFrame({"src": [], "dst": [], "dist": []})
    lx = np.stack(left["_vec"].to_numpy()).astype("float64")
    rx = np.stack(right["_vec"].to_numpy()).astype("float64")
    ln = np.linalg.norm(lx, axis=1)
    rn = np.linalg.norm(rx, axis=1)
    denom = np.outer(ln, rn)
    with np.errstate(divide="ignore", invalid="ignore"):
        raw = np.where(
            denom > 0, 1.0 - (lx @ rx.T) / denom, np.inf
        )
    lid = left["_id"].to_numpy()
    rid = right["_id"].to_numpy()
    if bi == bj:
        raw[lid[:, None] == rid[None, :]] = np.inf  # no self edges
    # tile-local preselection keeps k+4 per row; the engine rounding
    # (F.round, the repo's oracle-matched convention) and the
    # (dist, dst) tie-break happen in knn_graph's global window, so
    # rounding-induced ties near the cutoff still resolve the same way
    # in both engines. The +4 pad covers candidates a 1e-6 rounding
    # could promote across the raw boundary. Tie sets are pruned under
    # the SAME (dist, dst) order the global window uses (see
    # _rowwise_topk) — raw argpartition alone dropped an arbitrary,
    # shuffle-order-dependent subset when >k+4 candidates tied (e.g.
    # many duplicate vectors at dist 0).
    parts = [_rowwise_topk(raw, lid, rid, k + 4)]
    if bi != bj:
        parts.append(_rowwise_topk(raw.T, rid, lid, k + 4))
    return pd.DataFrame(
        {
            "src": np.concatenate([p[0] for p in parts]),
            "dst": np.concatenate([p[1] for p in parts]),
            "dist": np.concatenate([p[2] for p in parts]),
        }
    )


def knn_graph(
    embeddings: DataFrame,
    k: int,
    num_blocks: int | None = 8,
    id_col: str = "node",
    vec_col: str = "vector",
    n: int | None = None,
) -> DataFrame:
    """(src, dst, dist) — each node's k nearest neighbors by cosine
    distance (1 - cosine, rounded 1e-6). Same tile shape as
    ann.similarity_self_join_gemm: rows replicate to O(B) tiles, each
    tile emits its LOCAL per-row top-k both directions, one window pass
    keeps the global top-k. Deterministic ties: (dist, dst).

    num_blocks=None derives the block count from n (one count job): the
    fixed-8 default keeps tile ROW counts growing with n, so the pair
    matrix of one tile is (n/8)² doubles — fine at 77k nodes, executor
    death at 100×. Derived tiles cap at KNN_TILE_ROWS rows regardless
    of n. FLOPs stay O(n²) either way — this is the exact path;
    `knn_graph_ann` is the scale path that prunes the pair space itself.

    `n` is the input's row count when the caller already has it. When
    it is known and its tiles fit the driver budget (`placement`, kernel
    "knn"), the rows are collected over Arrow and the same tiles run on
    the driver: no pandas UDF, so no Python worker. The candidates take
    the same rounding and window either way, so both paths give the
    same rows."""
    if num_blocks is None:
        if n is None:
            n = embeddings.count()
        num_blocks = max(8, -(-n // KNN_TILE_ROWS))

    blocked = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(num_blocks))
        .cast("int")
        .alias("_b"),
    )
    id_type = dict(embeddings.dtypes)[id_col]
    cand_schema = f"src {id_type}, dst {id_type}, dist double"
    if n is not None and placement.on_driver(
        embeddings.sparkSession, "knn", n * n * placement.KNN_PAIR_BYTES
    ):
        cand = driver_frame(
            embeddings.sparkSession,
            _driver_tiles(blocked.toArrow().to_pandas(), num_blocks, k),
            cand_schema,
        )
    else:
        tile_keys = F.array(
            *[
                F.struct(
                    F.least(F.col("_b"), F.lit(j)).alias("bi"),
                    F.greatest(F.col("_b"), F.lit(j)).alias("bj"),
                )
                for j in range(num_blocks)
            ]
        )
        replicated = blocked.select(
            "_id",
            "_vec",
            "_b",
            F.explode(F.array_distinct(tile_keys)).alias("_tile"),
        ).select("_id", "_vec", "_b", "_tile.bi", "_tile.bj")
        cand = replicated.groupBy("bi", "bj").applyInPandas(
            lambda pdf: _tile_topk(pdf, k), schema=cand_schema
        )
    # decimal rounding JVM-side (HALF_UP) — same engine and convention as
    # every other oracle-checked similarity operator; np.round's
    # scaled-float half-even can disagree with SQL ROUND at boundaries
    rounded = cand.withColumn(
        "dist", F.lit(1.0) - F.round(F.lit(1.0) - F.col("dist"), 6)
    )
    w = Window.partitionBy("src").orderBy("dist", "dst")
    return (
        rounded.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def round_half_up(x, scale: int = 6):
    """`F.round(x, scale)` of a float64 array in numpy, or None when it
    cannot be reproduced exactly.

    Spark rounds a double as `BigDecimal(Double.toString(d))` with
    HALF_UP, and JDK 17's `Double.toString` is not always the shortest
    repr, so numpy cannot reproduce the decimal it rounds. That decimal
    lies within half an ulp of `d`, though, so HALF_UP of the exact
    binary value gives the same digit except within an ulp or so of a
    half-step. This rounds the exact binary value (`Fraction` settles
    the few near-ties) and returns None when a value is within a few
    ulps of a half-step without lying on it. The result is `k / 10^scale`
    with `k` an integer, which IEEE division rounds exactly as Spark's
    `BigDecimal.doubleValue` does, with +0.0 for a zero `k`; NaN and
    ±inf pass through, as in Spark. np.round rounds half to even on a
    scaled float and disagrees at exact half-steps."""
    from fractions import Fraction

    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    p = 10.0 ** scale
    finite = np.isfinite(x)
    y = np.abs(np.where(finite, x, 0.0)) * p
    k = np.floor(y)
    # y - k is exact (Sterbenz), and so is its distance to 1/2
    off = (y - k) - 0.5
    near = np.abs(off) <= 4 * np.spacing(y)
    k += off >= 0
    for i in np.flatnonzero(near):
        exact = Fraction(float(abs(x[i]))) * 10**scale
        if exact - int(np.floor(y[i])) != Fraction(1, 2):
            return None
        k[i] = np.floor(y[i]) + 1
    return np.where(finite, np.copysign(k, x) / p + 0.0, x)


def _driver_tiles(pdf, num_blocks: int, k: int):
    """`knn_graph`'s tiles over its collected (_id, _vec, _b) rows: every
    (bi, bj) group of the UDF path whose two blocks both hold rows,
    through the same `_tile_topk`. Empty tiles are skipped, which also
    keeps their untyped empty frames from widening the id dtype."""
    import pandas as pd

    present = set(pdf["_b"].tolist())
    parts = [
        _tile_topk(pdf[pdf["_b"].isin((bi, bj))].assign(bi=bi, bj=bj), k)
        for bi in range(num_blocks)
        for bj in range(bi, num_blocks)
        if bi in present and bj in present
    ]
    return pd.concat(parts, ignore_index=True) if parts else []


def knn_graph_ann(
    embeddings: DataFrame,
    k: int,
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "node",
    vec_col: str = "vector",
) -> DataFrame:
    """ANN-candidate k-NN graph — the 100 TB path for the HDBSCAN chain
    (VERDICT r3 #1): IVF coarse cells (operators/ann.ivf_index's
    deterministic Lloyd quantizer) prune the pair space, exact cosine
    rerank within candidates. Matches the role of the per-node vector
    index in reference project/qdrant/consumer_post.py:42-49.

    Each point is a MEMBER of its nearest cell and a QUERY in its
    `nprobe` nearest cells; per cell one GEMM scores that cell's
    queries against its members, per-query top-(k+4) survives under
    the same (dist, dst) order the global window uses. Shuffle is
    O(n·nprobe) replicated query rows + the per-src window; FLOPs are
    ~n²·nprobe/n_cells·d — sub-quadratic once n_cells ≫ nprobe, and
    n_cells scales with n (√n cells keeps both the quantizer and the
    cell GEMMs balanced).

    nprobe == n_cells is EXHAUSTIVE: every point queries every cell, so
    candidates are all pairs and the result is bit-identical to
    `knn_graph` (the oracle-checkable configuration; the pruned
    configuration has a measured recall test instead). Output schema
    and rounding convention are identical to `knn_graph`.
    """
    import numpy as np
    import pandas as pd

    from echo_chambers_detection_spark.operators.ann import ivf_index

    spark = embeddings.sparkSession
    nprobe = min(nprobe, n_cells)
    # centroids only — membership is recomputed as probe rank 0 below,
    # which agrees with ivf_index's final argmax assignment by
    # construction and saves the assignments join.
    _assign, cent = ivf_index(
        embeddings, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col
    )
    # the discarded assignments frame carries the build checkpoint
    # (norm leaf); nothing here reads it again — free it now
    from echo_chambers_detection_spark.operators.graph import (
        _release_checkpoint as _rel,
    )

    _rel(_assign)
    bcast = spark.sparkContext.broadcast(cent)

    base = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    )
    id_type = dict(base.dtypes)["_id"]
    vec_type = dict(base.dtypes)["_vec"]

    def probe_fn(batches):
        C = bcast.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["_vec"].to_numpy()).astype("float64")
            nrm = np.linalg.norm(X, axis=1, keepdims=True)
            with np.errstate(divide="ignore", invalid="ignore"):
                Xn = np.where(nrm > 0, X / nrm, 0.0)
            sims = Xn @ C.T
            # stable sort: centroid-score ties resolve by cell index,
            # independent of batch/partition order
            top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            reps = top.shape[1]
            ids = pdf["_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "_id": np.repeat(ids, reps),
                    "_vec": pdf["_vec"].to_numpy().repeat(reps),
                    "cell": top.ravel().astype("int32"),
                    "_is_m": np.tile(
                        np.arange(reps) == 0, len(ids)
                    ),
                }
            )

    routed = base.mapInPandas(
        probe_fn,
        schema=f"_id {id_type}, _vec {vec_type}, cell int, _is_m boolean",
    )

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        mem = pdf[pdf["_is_m"]]
        if mem.empty:
            return pd.DataFrame({"src": [], "dst": [], "dist": []})
        X = np.stack(pdf["_vec"].to_numpy()).astype("float64")
        M = np.stack(mem["_vec"].to_numpy()).astype("float64")
        xn = np.linalg.norm(X, axis=1)
        mn = np.linalg.norm(M, axis=1)
        denom = np.outer(xn, mn)
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = np.where(denom > 0, 1.0 - (X @ M.T) / denom, np.inf)
        qids = pdf["_id"].to_numpy()
        mids = mem["_id"].to_numpy()
        raw[qids[:, None] == mids[None, :]] = np.inf  # no self edges
        src, dst, dist = _rowwise_topk(raw, qids, mids, k + 4)
        return pd.DataFrame({"src": src, "dst": dst, "dist": dist})

    cand = routed.groupBy("cell").applyInPandas(
        cell_topk, schema=f"src {id_type}, dst {id_type}, dist double"
    )
    rounded = cand.withColumn(
        "dist", F.lit(1.0) - F.round(F.lit(1.0) - F.col("dist"), 6)
    )
    w = Window.partitionBy("src").orderBy("dist", "dst")
    return (
        rounded.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
        # no cross-cell duplicates by construction: dst is a member of
        # exactly one cell, so each (src, dst) pair is scored once
    )


def core_distances(knn: DataFrame, min_pts: int) -> DataFrame:
    """(node, core) — Campello 2013 / hdbscan-library semantics: a point
    counts ITSELF in its min_pts-neighborhood, so core distance is the
    distance to the (min_pts-1)-th OTHER neighbor in the knn_graph
    frame; +inf when the node has fewer than min_pts-1 neighbors (such
    nodes can only ever be noise). min_pts=1 gives core 0 (the
    neighborhood is the point alone)."""
    if min_pts <= 1:
        return knn.groupBy(F.col("src").alias("node")).agg(
            F.lit(0.0).alias("core")
        )
    return knn.groupBy(F.col("src").alias("node")).agg(
        F.coalesce(
            F.element_at(F.sort_array(F.collect_list("dist")), min_pts - 1),
            F.lit(float("inf")),
        ).alias("core")
    )


def mutual_reachability_edges(knn: DataFrame, core: DataFrame) -> DataFrame:
    """Undirected (u1, u2, w) with w = max(dist, core_u1, core_u2);
    non-finite rows dropped (a < min_pts-neighbor node has inf core, so
    density can never reach it — it falls out of the forest and lands
    in the noise label)."""
    und = (
        knn.select(
            F.least("src", "dst").alias("u1"),
            F.greatest("src", "dst").alias("u2"),
            "dist",
        )
        .groupBy("u1", "u2")
        .agg(F.min("dist").alias("dist"))
    )
    c1 = core.select(F.col("node").alias("u1"), F.col("core").alias("_c1"))
    c2 = core.select(F.col("node").alias("u2"), F.col("core").alias("_c2"))
    return (
        und.join(c1, "u1")
        .join(c2, "u2")
        .select(
            "u1",
            "u2",
            F.greatest("dist", "_c1", "_c2").alias("w"),
        )
        .where(F.col("w") < float("inf"))
    )


def minimum_spanning_forest(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Minimum spanning forest of undirected weighted (u1, u2, w).

    Strict total order (w, u1, u2) makes the result deterministic and
    the Borůvka rounds cycle-free; any MST of the same weights yields
    the same single-linkage partition at every threshold, so the
    downstream condense is path-independent. Local Kruskal below the
    small-graph bound, distributed Borůvka (per-component min out-edge,
    contract, repeat) above it. The rounds' generations belong to one
    `_generations` scope; only the picked edge sets outlive it, owned
    by the returned union.
    """
    from echo_chambers_detection_spark.operators.graph import (
        _generations,
        _mirror_ok,
        connected_components,
    )
    from echo_chambers_detection_spark.operators.localgraph import (
        connected_components_local,
    )

    spark = edges.sparkSession
    with _generations() as g:
        e = g.keep(edges.select("u1", "u2", F.col("w").cast("double")))
        if _mirror_ok(edges, "kruskal", e.count()):
            rows = e.toPandas()
            picked = _kruskal_local(
                list(zip(rows["u1"], rows["u2"], rows["w"]))
            )
            return driver_frame(spark, picked, "u1 string, u2 string, w double")

        comp = g.keep(
            e.select(F.col("u1").alias("node"))
            .unionAll(e.select(F.col("u2").alias("node")))
            .distinct()
            .withColumn("comp", F.col("node"))
        )
        mst_parts: list[DataFrame] = []
        for _ in range(max_rounds):
            lab1 = comp.select(F.col("node").alias("u1"), F.col("comp").alias("c1"))
            lab2 = comp.select(F.col("node").alias("u2"), F.col("comp").alias("c2"))
            live = (
                e.join(lab1, "u1")
                .join(lab2, "u2")
                .where(F.col("c1") != F.col("c2"))
            )
            # per-component min out-edge under (w, u1, u2)
            both = live.select(
                F.col("c1").alias("c"), "w", "u1", "u2"
            ).unionAll(live.select(F.col("c2").alias("c"), "w", "u1", "u2"))
            win = Window.partitionBy("c").orderBy("w", "u1", "u2")
            # the full count off the checkpointed leaf serves both the
            # emptiness break AND the contraction-path gate below
            picked, n_picked = g.step(
                both.withColumn("_rn", F.row_number().over(win))
                .where(F.col("_rn") == 1)
                .select("u1", "u2", "w")
                .distinct(),
                n=F.count("*"),
            )
            if n_picked == 0:
                break
            mst_parts.append(picked)
            # contract along picked edges: CC over the component graph
            c_edges = (
                picked.join(lab1, "u1")
                .join(lab2, "u2")
                .select(F.col("c1").alias("u1"), F.col("c2").alias("u2"))
            )
            if _mirror_ok(c_edges, "boruvka_contract", n_picked):
                # Borůvka picks at most one out-edge per live component,
                # so c_edges is <= n_picked rows; when those fit the
                # driver budget (`placement`), contract via ONE Arrow
                # collect + the parity-pinned
                # union-find mirror instead of the nested distributed-CC
                # call, which paid its own symmetrize checkpoint + gate
                # count + collect every round (guide §2.4: ~3 fewer jobs
                # per Borůvka round). component = min member id under
                # string order — connected_components' exact labeling
                # convention (connected_components_local is the same
                # mirror CC itself dispatches to on the driver).
                labels = connected_components_local(c_edges.toPandas())
                remap = driver_frame(
                    spark, labels.items(), "node string, component string"
                )
            else:
                # Borůvka's min-out-edge graph can form long pointer
                # chains at extreme scale; min-label CC needs
                # O(diameter) rounds and RAISES instead of silently
                # splitting a component (which would let a later round
                # re-pick edges and break the forest contract), so give
                # the contraction a generous budget.
                remap = g.adopt(connected_components(c_edges, max_iter=200))
            comp = g.step(
                comp.join(
                    remap.withColumnRenamed("node", "comp"), "comp", "left"
                ).select(
                    "node", F.coalesce("component", F.col("comp")).alias("comp")
                ),
                prev=(comp, remap),
            )
        if not mst_parts:
            return driver_frame(spark, [], "u1 string, u2 string, w double")
        out = mst_parts[0]
        for p in mst_parts[1:]:
            out = out.unionAll(p)
        return g.result(out, *mst_parts)


def _kruskal_local(rows) -> list[tuple[str, str, float]]:
    """Deterministic Kruskal over (u1, u2, w) tuples, tie order
    (w, u1, u2)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    picked = []
    for u1, u2, w in sorted(rows, key=lambda t: (t[2], str(t[0]), str(t[1]))):
        a, b = find(str(u1)), find(str(u2))
        if a != b:
            parent[b] = a
            picked.append((str(u1), str(u2), float(w)))
    return picked


def condense_and_select(
    node_ids: list[str],
    mst_edges: list[tuple[str, str, float]],
    min_cluster_size: int,
    node_sizes: dict[str, int] | None = None,
    node_min_ids: dict[str, str] | None = None,
) -> dict[str, str]:
    """Driver-side HDBSCAN* tail over the (tiny) spanning forest:
    single-linkage dendrogram -> condensed tree -> stability selection.
    Returns {node: label} with label = min member id or '-1'.

    Sequential by nature; the input is n-1 edges, not the data. Work is
    sum of subtree sizes over GENUINE splits (both sides >=
    min_cluster_size) plus small-side enumeration elsewhere — near
    n log n on real hierarchies.

    WEIGHTED nodes (VERDICT r4 #2): `node_sizes[id]` is how many
    original points a node stands for (default 1) and
    `node_min_ids[id]` the smallest original member id (default the
    node id) — the two facts `contract_runt_fringes` preserves when it
    collapses a hanging sub-min_cluster_size subtree to one supernode.
    Every point count in the walk (split sizes, runt fall-out
    stability, cluster mass, the total-mass selectability guard, min-
    member labels) is weighted accordingly; with default weights the
    arithmetic is bit-identical to the unweighted form.
    """
    n = len(node_ids)
    if n == 0:
        return {}
    idx = {s: i for i, s in enumerate(node_ids)}
    wt = [
        (node_sizes.get(s, 1) if node_sizes else 1) for s in node_ids
    ]
    mid = [
        (node_min_ids.get(s, s) if node_min_ids else s) for s in node_ids
    ]

    # ---- single-linkage dendrogram via union-find over sorted edges ----
    # cluster handle -> (members resolved lazily through a tree of merge
    # records). Each merge creates internal node: (left, right, w).
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # current dendrogram node per union-find root; leaves are 0..n-1
    dendro_of = list(range(n))
    children: list[tuple[int, int]] = []  # internal node i -> pair
    merge_w: list[float] = []
    next_id = n
    edges_sorted = sorted(
        mst_edges, key=lambda t: (t[2], str(t[0]), str(t[1]))
    )
    for u1, u2, w in edges_sorted:
        a, b = find(idx[str(u1)]), find(idx[str(u2)])
        if a == b:
            continue
        da, db = dendro_of[a], dendro_of[b]
        children.append((da, db))
        merge_w.append(max(float(w), _MIN_W))
        parent[b] = a
        dendro_of[a] = next_id
        next_id += 1
    # virtual root joins remaining forest roots at w = inf (lambda = 0)
    roots = sorted({dendro_of[find(i)] for i in range(n)})
    while len(roots) > 1:
        a, b = roots[0], roots[1]
        children.append((a, b))
        merge_w.append(float("inf"))
        roots = [next_id] + roots[2:]
        next_id += 1
    root = roots[0]

    if root < n:  # single point, no merges
        return {node_ids[0]: "-1"}

    # leaf lists per dendrogram node are materialized top-down during the
    # condense walk itself (never precomputed for the whole tree)
    def leaves_of(d: int) -> list[int]:
        out: list[int] = []
        stack = [d]
        while stack:
            x = stack.pop()
            if x < n:
                out.append(x)
            else:
                l, r = children[x - n]
                stack.append(l)
                stack.append(r)
        return out

    sizes: dict[int, int] = {}

    # iterative size computation to avoid deep recursion; leaves carry
    # their supernode weight (1 in the uncontracted form)
    stack = [root]
    order = []
    while stack:
        x = stack.pop()
        order.append(x)
        if x >= n:
            l, r = children[x - n]
            stack.append(l)
            stack.append(r)
    for x in reversed(order):
        if x >= n:
            l, r = children[x - n]
            sizes[x] = sizes[l] + sizes[r]
        else:
            sizes[x] = wt[x]

    # ---- condense ----
    # condensed cluster records
    c_parent: list[int] = []       # condensed tree parent (-1 for root)
    c_birth: list[float] = []      # lambda at birth
    c_stability: list[float] = []
    c_children: list[list[int]] = []
    c_points: list[list[int]] = [] # points that REMAIN at the final split
    point_cluster: dict[int, tuple[int, float]] = {}  # leaf -> (cid, exit lambda)

    def new_cluster(parent_cid: int, birth: float) -> int:
        cid = len(c_parent)
        c_parent.append(parent_cid)
        c_birth.append(birth)
        c_stability.append(0.0)
        c_children.append([])
        c_points.append([])
        if parent_cid >= 0:
            c_children[parent_cid].append(cid)
        return cid

    root_cid = new_cluster(-1, 0.0)
    # walk: (dendrogram node, condensed cluster id)
    work = [(root, root_cid)]
    while work:
        d, cid = work.pop()
        # descend through non-splits: small side falls out, big side
        # continues as the same condensed cluster
        while True:
            if d < n:
                point_cluster[d] = (cid, float("inf"))
                c_points[cid].append(d)
                d = -1
                break
            l, r = children[d - n]
            w = merge_w[d - n]
            lam = 0.0 if w == float("inf") else 1.0 / w
            sl, sr = sizes[l], sizes[r]
            if sl >= min_cluster_size and sr >= min_cluster_size:
                # genuine split: the sl+sr points still in cid all leave
                # at lam (into the two new child clusters)
                c_stability[cid] += (lam - c_birth[cid]) * (sl + sr)
                lc = new_cluster(cid, lam)
                rc = new_cluster(cid, lam)
                work.append((r, rc))
                d, cid = l, lc
                continue
            # at least one side is a runt
            big, small = (l, r) if sl >= sr else (r, l)
            if sizes[small] >= min_cluster_size:
                big, small = small, big  # keep the qualifying side
            # runt points fall out of cid at lam (weighted: a supernode
            # of w points contributes w times)
            for p in leaves_of(small):
                point_cluster[p] = (cid, lam)
                c_stability[cid] += (lam - c_birth[cid]) * wt[p]
            if sizes[big] < min_cluster_size:
                # both runts: everything falls out, cluster dies
                for p in leaves_of(big):
                    point_cluster[p] = (cid, lam)
                    c_stability[cid] += (lam - c_birth[cid]) * wt[p]
                d = -1
                break
            d = big  # continue as the same condensed cluster
        # loop continues with next work item

    # points that never fell out exit at the cluster's own death (they
    # were recorded with exit lambda inf); cap their contribution at the
    # max lambda seen inside the cluster = the birth of its children, or
    # their own fall-outs. For leaves that persisted to a dendrogram
    # leaf, lambda is effectively the last merge they participated in —
    # approximated by the cluster's max observed lambda; contribution of
    # a still-infinite exit uses the maximum finite lambda within the
    # cluster, matching the 'leaf persists to the end' convention.
    max_lam: dict[int, float] = {}
    for p, (cid, lam) in point_cluster.items():
        if lam != float("inf"):
            max_lam[cid] = max(max_lam.get(cid, 0.0), lam)
    for cid in range(len(c_parent)):
        for ch in c_children[cid]:
            max_lam[cid] = max(max_lam.get(cid, 0.0), c_birth[ch])
    for p, (cid, lam) in list(point_cluster.items()):
        if lam == float("inf"):
            lam_eff = max_lam.get(cid, c_birth[cid])
            c_stability[cid] += (lam_eff - c_birth[cid]) * wt[p]
            point_cluster[p] = (cid, lam_eff)

    # ---- selection (excess of mass) ----
    total_w = sum(wt)
    # size = points that ever belonged (fell out OR persisted);
    # accumulated bottom-up in one pass (children have larger ids) —
    # the old per-point ancestor walk was quadratic on chain-shaped
    # cluster trees (round-7 caterpillar profile: ~70 s of pure driver
    # Python at 50k-deep chains)
    c_size = [0] * len(c_parent)
    for p, (cid, _) in point_cluster.items():
        c_size[cid] += wt[p]
    for cid in reversed(range(1, len(c_parent))):
        c_size[c_parent[cid]] += c_size[cid]

    selectable = [
        cid != root_cid and c_size[cid] < total_w
        for cid in range(len(c_parent))
    ]
    selected = [False] * len(c_parent)
    best: list[float] = [0.0] * len(c_parent)
    # children before parents: cluster ids are created top-down, so
    # reverse id order is a valid bottom-up order
    for cid in reversed(range(len(c_parent))):
        child_sum = sum(best[ch] for ch in c_children[cid])
        if selectable[cid] and c_stability[cid] > child_sum:
            selected[cid] = True
            best[cid] = c_stability[cid]
        else:
            best[cid] = child_sum
    # deselect descendants of selected clusters (keep the antichain)
    out_label: dict[int, int] = {}

    def descendants_off(cid: int) -> None:
        stack = list(c_children[cid])
        while stack:
            x = stack.pop()
            selected[x] = False
            stack.extend(c_children[x])

    for cid in range(len(c_parent)):
        if selected[cid]:
            descendants_off(cid)

    # ---- labels ----
    # point belongs to the selected ancestor (if any) of the cluster it
    # exited from, provided it exited AT or ABOVE that cluster's reign —
    # i.e. the selected cluster is cid or an ancestor of cid
    sel_of: dict[int, int] = {}

    def selected_ancestor(cid: int) -> int:
        c = cid
        while c >= 0:
            if c in sel_of:
                return sel_of[c]
            if selected[c]:
                sel_of[cid] = c
                return c
            c = c_parent[c]
        sel_of[cid] = -1
        return -1

    member_min: dict[int, str] = {}
    assign: dict[int, int] = {}
    for p, (cid, _lam) in point_cluster.items():
        sc = selected_ancestor(cid)
        assign[p] = sc
        if sc >= 0:
            s = mid[p]  # smallest ORIGINAL member id of the supernode
            if sc not in member_min or s < member_min[sc]:
                member_min[sc] = s

    return {
        node_ids[p]: (member_min[sc] if sc >= 0 else "-1")
        for p, sc in assign.items()
    }


def _lex_lt(aw, a1, a2, bw, b1, b2):
    """Strict lexicographic (w, u1, u2) < (w, u1, u2) as a Column —
    the same total order the dendrogram replays edges in."""
    return (
        (aw < bw)
        | ((aw == bw) & (a1 < b1))
        | ((aw == bw) & (a1 == b1) & (a2 < b2))
    )


def contract_runt_fringes(
    forest: DataFrame,
    min_cluster_size: int,
    max_rounds: int | None = None,
):
    """Distributedly collapse hanging sub-`min_cluster_size` subtrees of
    the spanning forest BEFORE the driver-side condense collect
    (VERDICT r4 #2) — the one place the HDBSCAN chain pulled O(n) rows
    to the driver.

    Returns `(edges, nodes, member_map)`:
      edges   — (u1, u2, w) between surviving supernodes;
      nodes   — (node, size, min_id), one row per surviving supernode;
      member_map — (member, snode): original node -> its supernode,
      kept DISTRIBUTED (the label join consumes it; it is never
      collected).

    Absorbing leaf supernode u into its sole neighbor v along edge e is
    safe exactly when, under the strict edge order (w, u1, u2) the
    single-linkage dendrogram replays:
      (a) every edge already inside u sorts before e,
      (b) every edge already inside v sorts before e,
      (c) e sorts before every other edge still incident to v,
      (d) size(u) + size(v) < min_cluster_size.
    (a)-(c) make members(u) ∪ members(v) a dendrogram node that is
    fully merged before anything external touches it; (d) means no
    genuine split can ever open inside it. Such a unit either falls
    out of a bigger cluster as one runt or dies with it — only its
    SIZE (stability mass), its MIN member id (labels) and its member
    list (the output join) matter, which is exactly what the
    supernode carries into the weighted `condense_and_select`.

    What stays uncontracted is semantically irreducible: points that
    fall out of >= min_cluster_size clusters at distinct lambdas are
    individual inputs to the stability sums (condition (c) admits at
    most one absorption per target per round for the same reason).
    Compression is therefore bounded by ~min_cluster_size x on
    fringe-heavy forests — the driver collect drops from n-1 edge rows
    to the cluster backbone plus one row per contracted fringe, and
    every round is a handful of joins over a strictly shrinking
    edge frame. The rounds' generations belong to one `_generations`
    scope; only the three returned frames' blocks outlive it.
    """
    import math

    from echo_chambers_detection_spark.operators.graph import (
        _generations,
        _scalars,
    )

    if max_rounds is None:
        max_rounds = min(max(min_cluster_size - 1, 0), 16)
    neg_inf = float("-inf")
    log = logging.getLogger(__name__)
    import time as _time

    _t0 = _time.perf_counter()

    def _stage(name: str) -> None:
        nonlocal _t0
        now = _time.perf_counter()
        log.info("contract_runt_fringes stage %-14s %.1fs", name, now - _t0)
        _t0 = now

    with _generations() as g:
        e = g.keep(forest.select("u1", "u2", F.col("w").cast("double")))
        base_nodes = g.keep(
            e.select(F.col("u1").alias("node"))
            .unionAll(e.select(F.col("u2").alias("node")))
            .distinct()
        )
        # the seed state is a pure literal projection of the checkpointed
        # base_nodes — keep it lazy (round 1 skips the state joins entirely,
        # so the only reader is the first nodes_new build)
        nodes = base_nodes.select(
            "node",
            F.lit(1).cast("long").alias("size"),
            F.col("node").alias("min_id"),
            F.lit(neg_inf).alias("m_w"),
            F.lit("").alias("m_u1"),
            F.lit("").alias("m_u2"),
        )
        _stage("base_frames")
        absorptions: DataFrame | None = None
        rounds_run = 0

        for _ in range(max_rounds):
            rounds_run += 1
            inc = e.select(
                F.col("u1").alias("node"), F.col("u2").alias("other"),
                "w", "u1", "u2",
            ).unionAll(
                e.select(
                    F.col("u2").alias("node"), F.col("u1").alias("other"),
                    "w", "u1", "u2",
                )
            )
            deg = inc.groupBy("node").agg(F.count("*").alias("deg"))
            # BATCH-PREFIX absorption (round 7): the one-leaf-per-target
            # round rule made deep fringes (k pendant leaves per hub) take
            # k rounds — the dominant cost of the 1M-edge bench probe. The
            # sequential replay absorbs a target's candidate leaf edges in
            # key order as long as (i) they form a PREFIX of the target's
            # full incident-key order (each absorption's (c) check: after
            # absorbing edge_1..edge_{i-1}, the target's second-smallest
            # remaining incident key is exactly its next incident edge) and
            # (ii) the running size stays under min_cluster_size ((d) at
            # every step; (b) for i>1 is automatic since the internal max
            # becomes edge_{i-1} < edge_i). Taking that longest valid
            # prefix per target in ONE round is therefore EXACTLY the
            # multi-round result — the 15-case random parity suite and the
            # hub/backbone exactness test pin it.
            # TARGET-SIDE build (round 10): `inc` holds both directions of
            # every edge, so the rank of an edge within its TARGET's
            # incident order can be computed directly on the target-side
            # row — the old shape ranked a separate frame and re-joined it
            # on the 4-part (other, w, u1, u2) key, a second 2|E|-row
            # sort-merge join that dominated the 1M-edge bench probe.
            # Here node = TARGET, other = candidate leaf throughout.
            wk = Window.partitionBy("node").orderBy("w", "u1", "u2")
            # the target's own degree as a window count over the SAME
            # node-keyed exchange the rank already pays — the old shape
            # joined the degree frame back on node, a second 2|E|-row
            # shuffle join (round 10)
            inc_rk = inc.withColumn("rk", F.row_number().over(wk)).withColumn(
                "tdeg", F.count("*").over(Window.partitionBy("node"))
            )
            base_cand = inc_rk.join(
                deg.where(F.col("deg") == 1).select(
                    F.col("node").alias("other")
                ),
                "other",
                # two-leaf components: exactly one direction absorbs
            ).where((F.col("tdeg") > 1) | (F.col("other") > F.col("node")))
            if rounds_run == 1:
                # every supernode is still the all-default singleton
                # (size 1, min_id = node, merge key -inf < any edge), so
                # the two full-width state joins and both lex gates fold
                # to literals — the dominant round skips them entirely
                cand = base_cand.select(
                    "*",
                    F.lit(1).cast("long").alias("lsize"),
                    F.col("other").alias("lmin"),
                    F.lit(1).cast("long").alias("tsize"),
                )
            else:
                cand = (
                    base_cand.join(
                        nodes.select(
                            F.col("node").alias("other"),
                            F.col("size").alias("lsize"),
                            F.col("min_id").alias("lmin"),
                            F.col("m_w").alias("lm_w"),
                            F.col("m_u1").alias("lm_u1"),
                            F.col("m_u2").alias("lm_u2"),
                        ),
                        "other",
                    )
                    .join(
                        nodes.select(
                            "node",
                            F.col("size").alias("tsize"),
                            F.col("m_w").alias("tm_w"),
                            F.col("m_u1").alias("tm_u1"),
                            F.col("m_u2").alias("tm_u2"),
                        ),
                        "node",
                    )
                    .where(
                        _lex_lt(  # (a) leaf fully merged before its edge
                            F.col("lm_w"), F.col("lm_u1"), F.col("lm_u2"),
                            F.col("w"), F.col("u1"), F.col("u2"),
                        )
                        & _lex_lt(  # (b) target merged before the first edge
                            F.col("tm_w"), F.col("tm_u1"), F.col("tm_u2"),
                            F.col("w"), F.col("u1"), F.col("u2"),
                        )
                    )
                )
            wt = Window.partitionBy("node").orderBy("rk")
            wt_all = Window.partitionBy("node")
            flagged = (
                cand.withColumn("lrk", F.row_number().over(wt))
                .withColumn("cum", F.sum("lsize").over(wt))
                .withColumn(
                    "_bad_rk",
                    F.when(
                        (F.col("rk") != F.col("lrk"))  # prefix break = (c)
                        | (
                            F.col("tsize") + F.col("cum")
                            >= F.lit(min_cluster_size)
                        ),  # (d) at this step
                        F.col("rk"),
                    ),
                )
                .withColumn("_first_bad", F.min("_bad_rk").over(wt_all))
            )
            acc = g.step(
                flagged.where(
                    F.col("_first_bad").isNull()
                    | (F.col("rk") < F.col("_first_bad"))
                ).select(
                    F.col("other").alias("leaf"),
                    F.col("node").alias("target"),
                    "w", "u1", "u2", "lsize", "lmin", "tdeg",
                )
            )
            _stage("candidates")
            # ONE scalar job for both loop-control reads off the checkpointed
            # acc leaf (guide S2.4): emptiness (the old acc.limit(1).count())
            # and the exact early-exit probe (the old tgt...limit(1).count()
            # at the bottom of the round) — each was its own serialized job.
            n_targets, new_leaves = _scalars(
                acc.groupBy("target").agg(
                    F.max("tdeg").alias("_td"), F.count("*").alias("_na")
                ),
                n_targets=F.count("*"),
                new_leaves=F.sum(((F.col("_td") - F.col("_na")) == 1).cast("long")),
            )
            if n_targets == 0:
                rounds_run -= 1  # empty round: nothing absorbed
                break
            tgt = acc.groupBy(F.col("target").alias("node")).agg(
                F.sum("lsize").alias("a_size"),
                F.min("lmin").alias("a_min"),
                # the LAST absorbed edge is the target's new internal max
                F.max(F.struct("w", "u1", "u2")).alias("a_key"),
                # post-round degree bookkeeping for the exact-exit probe
                # below: tdeg is constant per target, n_abs edges were
                # removed from it
                F.max("tdeg").alias("tdeg"),
                F.count("*").alias("n_abs"),
            )
            nodes_new = g.step(
                nodes.join(
                    acc.select(F.col("leaf").alias("node")), "node", "left_anti"
                )
                .join(tgt, "node", "left")
                .select(
                    "node",
                    (F.col("size") + F.coalesce("a_size", F.lit(0))).alias(
                        "size"
                    ),
                    F.least(
                        "min_id", F.coalesce("a_min", F.col("min_id"))
                    ).alias("min_id"),
                    F.coalesce(F.col("a_key.w"), F.col("m_w")).alias("m_w"),
                    F.coalesce(F.col("a_key.u1"), F.col("m_u1")).alias("m_u1"),
                    F.coalesce(F.col("a_key.u2"), F.col("m_u2")).alias("m_u2"),
                )
            )
            e = g.step(
                e.join(acc.select("u1", "u2"), ["u1", "u2"], "left_anti"),
                prev=e,
            )
            amap_new = acc.select("leaf", "target")
            absorptions = g.step(
                amap_new
                if absorptions is None
                else absorptions.unionByName(amap_new),
                prev=(absorptions, acc, nodes),
            )
            nodes = nodes_new
            _stage("apply_round")
            # EXACT early exit (round 10): another round can absorb only if
            # a NEW degree-1 node appeared (new degree tdeg - n_abs == 1;
            # only a TARGET can become a new leaf — see the round-10 note in
            # the git history). Since round 13 the scalar is read off the
            # SAME fused probe job as the emptiness check above.
            if new_leaves == 0:
                break

        log.info(
            "contract_runt_fringes: %d absorbing round(s) (batch-prefix; "
            "was one-leaf-per-target-per-round before round 7)",
            rounds_run,
        )
        if absorptions is None:
            # nothing absorbed: `nodes` is still the seed projection of
            # base_nodes, so its blocks go with it
            member_map = g.keep(
                base_nodes.select(
                    F.col("node").alias("member"), F.col("node").alias("snode")
                )
            )
            return g.result(e), g.result(nodes, base_nodes), g.result(member_map)

        # Absorption chains are <= rounds_run deep (a round's targets are
        # never that round's leaves, so each extra link needs one more
        # round). After a single absorbing round every leaf already points
        # at its root — zero jump joins; otherwise ceil(log2(depth)) passes
        # shortcut every chain (pointer distance halves per pass; +1 pass
        # of safety margin). The old bound used max_rounds, paying ~5
        # self-join rounds at the 1M bench probe whose batch-prefix rule
        # finishes in ONE absorbing round.
        amap = absorptions
        n_jumps = (
            0
            if rounds_run <= 1
            else math.ceil(math.log2(max(rounds_run, 2))) + 1
        )
        for _ in range(n_jumps):
            amap = g.step(
                amap.join(
                    amap.select(
                        F.col("leaf").alias("target"),
                        F.col("target").alias("_t2"),
                    ),
                    "target",
                    "left",
                ).select(
                    "leaf", F.coalesce("_t2", F.col("target")).alias("target")
                ),
                prev=amap,
            )
        member_map = g.keep(
            base_nodes.join(
                amap.select(F.col("leaf").alias("node"), "target"),
                "node",
                "left",
            ).select(
                F.col("node").alias("member"),
                F.coalesce("target", F.col("node")).alias("snode"),
            )
        )
        _stage("member_map")
        return g.result(e), g.result(nodes), g.result(member_map)


# ---------------------------------------------------------------------------
# Two-level condense (VERDICT r5 #3) — breaking the ~n/min_cluster_size
# driver bound.
#
# contract_runt_fringes compresses fringes by ~min_cluster_size x, but the
# driver still collects the whole contracted forest: ~4x10^7 rows at 10^9
# points with mcs=25. The fix exploits the single-linkage structure
# directly: cut the forest at a weight threshold θ. Every edge with
# w < θ merges BEFORE any edge with w >= θ (λ = 1/w, and the cut
# partitions weights strictly), so each connected component of the
# sub-θ subgraph is an intact dendrogram subtree. The condense walk
# then decomposes exactly:
#
# - the driver condenses only the TOP tree — component leaves plus the
#   >= θ edges (driver rows = O(#top edges), chosen ~quantile so it is
#   a CONSTANT budget, independent of n);
# - each component >= mcs condenses independently, executor-side
#   (applyInPandas per component). The cluster that is live when the
#   walk enters a component C needs only two numbers from C: A = Σ
#   mass x λ over C's events attributed to it and M = size(C) — its
#   stability contribution is A - M·λ_birth, linear in the (driver-
#   known) birth λ. Its EoM children live entirely inside C, summarized
#   by one more number (term_best). Everything else about C — internal
#   clusters, their stabilities, selection, labels — is independent of
#   λ_birth and of the rest of the forest, computed where the data is.
#
# Parity caveat: factoring Σ m(λ-λ_b) into Σ mλ - λ_b Σ m changes float
# association; labels match the classic condense except on exact
# stability ties (measure-zero for generic weights; pinned by tests on
# random forests). Requires mcs >= 2 (with supernode sizes < mcs the
# walk then provably never persists a leaf, so the max-λ convention
# never crosses the cut).
# ---------------------------------------------------------------------------


def _component_condense(node_ids, edges, mcs, sizes, min_ids):
    """Condense ONE sub-θ component entered as a continuing cluster.

    node_ids: supernode ids (all with size < mcs); edges: the
    component's internal (u1, u2, w) rows — a tree. Returns
    (A, term_best, labels):
      A         — Σ mass·λ over events the ENTRY cluster sees in here
                  (its stability contribution is A - size(C)·λ_birth);
      term_best — Σ best[] over the entry cluster's children (all of
                  which are born inside C), 0.0 if it dies in here;
      labels    — {node: label} under the no-ancestor-selected verdict
                  (driver overrides wholesale when an ancestor wins).
    """
    n = len(node_ids)
    idx = {s: i for i, s in enumerate(node_ids)}
    wt = [sizes.get(s, 1) for s in node_ids]
    mid = [min_ids.get(s, s) for s in node_ids]

    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    dendro_of = list(range(n))
    children: list[tuple[int, int]] = []
    merge_w: list[float] = []
    next_id = n
    for u1, u2, w in sorted(edges, key=lambda t: (t[2], str(t[0]), str(t[1]))):
        a, b = find(idx[str(u1)]), find(idx[str(u2)])
        if a == b:
            continue
        children.append((dendro_of[a], dendro_of[b]))
        merge_w.append(max(float(w), _MIN_W))
        parent[b] = a
        dendro_of[a] = next_id
        next_id += 1
    roots = {dendro_of[find(i)] for i in range(n)}
    if len(roots) != 1:
        raise AssertionError(
            f"component is not connected: {len(roots)} roots"
        )
    root = roots.pop()

    sz: dict[int, int] = {}
    stack, order = [root], []
    while stack:
        x = stack.pop()
        order.append(x)
        if x >= n:
            l, r = children[x - n]
            stack.append(l)
            stack.append(r)
    for x in reversed(order):
        sz[x] = (
            sz[children[x - n][0]] + sz[children[x - n][1]]
            if x >= n
            else wt[x]
        )

    def leaves_of(d: int) -> list[int]:
        out, st = [], [d]
        while st:
            x = st.pop()
            if x < n:
                out.append(x)
            else:
                l, r = children[x - n]
                st.append(l)
                st.append(r)
        return out

    # cluster 0 is the ENTRY cluster: stability tracked as A (no birth);
    # clusters 1.. are internal, standard arithmetic
    c_parent = [-1]
    c_birth = [0.0]
    c_stability = [0.0]  # [0] unused — A carries the entry cluster
    c_children: list[list[int]] = [[]]
    A = 0.0
    point_cluster: dict[int, int] = {}

    def new_cluster(parent_cid: int, birth: float) -> int:
        cid = len(c_parent)
        c_parent.append(parent_cid)
        c_birth.append(birth)
        c_stability.append(0.0)
        c_children.append([])
        c_children[parent_cid].append(cid)
        return cid

    work = [(root, 0)]
    while work:
        d, cid = work.pop()
        while True:
            if d < n:
                # unreachable for mcs >= 2 with leaf weights < mcs (the
                # walk only descends into >= mcs sides); guard anyway
                raise AssertionError("two-level condense requires mcs >= 2")
            l, r = children[d - n]
            lam = 1.0 / merge_w[d - n]
            sl, sr = sz[l], sz[r]
            if sl >= mcs and sr >= mcs:
                if cid == 0:
                    A += lam * (sl + sr)
                else:
                    c_stability[cid] += (lam - c_birth[cid]) * (sl + sr)
                lc = new_cluster(cid, lam)
                rc = new_cluster(cid, lam)
                work.append((r, rc))
                d, cid = l, lc
                continue
            big, small = (l, r) if sl >= sr else (r, l)
            if sz[small] >= mcs:
                big, small = small, big
            for p in leaves_of(small):
                point_cluster[p] = cid
                if cid == 0:
                    A += lam * wt[p]
                else:
                    c_stability[cid] += (lam - c_birth[cid]) * wt[p]
            if sz[big] < mcs:
                for p in leaves_of(big):
                    point_cluster[p] = cid
                    if cid == 0:
                        A += lam * wt[p]
                    else:
                        c_stability[cid] += (lam - c_birth[cid]) * wt[p]
                d = -1
                break
            d = big

    # ---- internal EoM selection (entry cluster excluded) ----
    selected = [False] * len(c_parent)
    best = [0.0] * len(c_parent)
    for cid in reversed(range(1, len(c_parent))):
        child_sum = sum(best[ch] for ch in c_children[cid])
        if c_stability[cid] > child_sum:
            selected[cid] = True
            best[cid] = c_stability[cid]
        else:
            best[cid] = child_sum
    term_best = sum(best[ch] for ch in c_children[0])
    for cid in range(1, len(c_parent)):
        if selected[cid]:
            st = list(c_children[cid])
            while st:
                x = st.pop()
                selected[x] = False
                st.extend(c_children[x])

    sel_of: dict[int, int] = {}

    def selected_ancestor(cid: int) -> int:
        c = cid
        while c > 0:  # never the entry cluster
            if c in sel_of:
                return sel_of[c]
            if selected[c]:
                sel_of[cid] = c
                return c
            c = c_parent[c]
        sel_of[cid] = -1
        return -1

    member_min: dict[int, str] = {}
    assign: dict[int, int] = {}
    for p, cid in point_cluster.items():
        sc = selected_ancestor(cid)
        assign[p] = sc
        if sc >= 0:
            s = mid[p]
            if sc not in member_min or s < member_min[sc]:
                member_min[sc] = s
    labels = {
        node_ids[p]: (member_min[sc] if sc >= 0 else "-1")
        for p, sc in assign.items()
    }
    return A, term_best, labels


def _condense_top(
    comp_sizes: dict[str, int],
    comp_min_ids: dict[str, str],
    comp_entry: dict[str, tuple[float, float]],
    top_edges: list[tuple[str, str, float, str, str]],
    mcs: int,
):
    """Driver-side condense of the TOP tree: leaves are components
    (weighted by size), edges are the >= θ forest edges as
    (u1, u2, w, comp_u1, comp_u2) — original supernode ids keep the
    global (w, u1, u2) sort order, component ids drive the union-find.
    comp_entry holds (A, term_best) for every component >= mcs.

    Returns {comp: ('RUNT', label) | ('OVERRIDE', label) | ('INTERNAL',)}.
    """
    comp_ids = sorted(comp_sizes)
    n = len(comp_ids)
    idx = {s: i for i, s in enumerate(comp_ids)}
    wt = [comp_sizes[s] for s in comp_ids]
    mid = [comp_min_ids[s] for s in comp_ids]

    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    dendro_of = list(range(n))
    children: list[tuple[int, int]] = []
    merge_w: list[float] = []
    next_id = n
    for u1, u2, w, cu, cv in sorted(
        top_edges, key=lambda t: (t[2], str(t[0]), str(t[1]))
    ):
        a, b = find(idx[cu]), find(idx[cv])
        if a == b:  # forest-of-components: never happens; guard
            continue
        children.append((dendro_of[a], dendro_of[b]))
        merge_w.append(max(float(w), _MIN_W))
        parent[b] = a
        dendro_of[a] = next_id
        next_id += 1
    roots = sorted({dendro_of[find(i)] for i in range(n)})
    while len(roots) > 1:
        a, b = roots[0], roots[1]
        children.append((a, b))
        merge_w.append(float("inf"))
        roots = [next_id] + roots[2:]
        next_id += 1
    root = roots[0]

    sz: dict[int, int] = {}
    stack, order = [root], []
    while stack:
        x = stack.pop()
        order.append(x)
        if x >= n:
            l, r = children[x - n]
            stack.append(l)
            stack.append(r)
    for x in reversed(order):
        sz[x] = (
            sz[children[x - n][0]] + sz[children[x - n][1]]
            if x >= n
            else wt[x]
        )

    def leaves_of(d: int) -> list[int]:
        out, st = [], [d]
        while st:
            x = st.pop()
            if x < n:
                out.append(x)
            else:
                l, r = children[x - n]
                st.append(l)
                st.append(r)
        return out

    c_parent: list[int] = []
    c_birth: list[float] = []
    c_stability: list[float] = []
    c_children: list[list[int]] = []
    comp_term_best: dict[int, float] = {}
    entered: dict[int, int] = {}  # leaf -> cid it was entered from
    point_cluster: dict[int, tuple[int, float]] = {}

    def new_cluster(parent_cid: int, birth: float) -> int:
        cid = len(c_parent)
        c_parent.append(parent_cid)
        c_birth.append(birth)
        c_stability.append(0.0)
        c_children.append([])
        if parent_cid >= 0:
            c_children[parent_cid].append(cid)
        return cid

    root_cid = new_cluster(-1, 0.0)
    work = [(root, root_cid)]
    while work:
        d, cid = work.pop()
        while True:
            if d < n:
                # descend into a component leaf (>= mcs by the walk's
                # invariants): continue the cluster inside it
                A, term_best = comp_entry[comp_ids[d]]
                c_stability[cid] += A - wt[d] * c_birth[cid]
                comp_term_best[cid] = (
                    comp_term_best.get(cid, 0.0) + term_best
                )
                entered[d] = cid
                d = -1
                break
            l, r = children[d - n]
            w = merge_w[d - n]
            lam = 0.0 if w == float("inf") else 1.0 / w
            sl, sr = sz[l], sz[r]
            if sl >= mcs and sr >= mcs:
                c_stability[cid] += (lam - c_birth[cid]) * (sl + sr)
                lc = new_cluster(cid, lam)
                rc = new_cluster(cid, lam)
                work.append((r, rc))
                d, cid = l, lc
                continue
            big, small = (l, r) if sl >= sr else (r, l)
            if sz[small] >= mcs:
                big, small = small, big
            for p in leaves_of(small):
                point_cluster[p] = (cid, lam)
                c_stability[cid] += (lam - c_birth[cid]) * wt[p]
            if sz[big] < mcs:
                for p in leaves_of(big):
                    point_cluster[p] = (cid, lam)
                    c_stability[cid] += (lam - c_birth[cid]) * wt[p]
                d = -1
                break
            d = big

    total_w = sum(wt)
    # bottom-up size accumulation (children have larger ids) — the
    # per-leaf ancestor walk was quadratic on chain-shaped top trees
    # (see condense_and_select)
    c_size = [0] * len(c_parent)
    for p, (cid, _) in point_cluster.items():
        c_size[cid] += wt[p]
    for d, cid in entered.items():
        c_size[cid] += wt[d]
    for cid in reversed(range(1, len(c_parent))):
        c_size[c_parent[cid]] += c_size[cid]

    selectable = [
        cid != root_cid and c_size[cid] < total_w
        for cid in range(len(c_parent))
    ]
    selected = [False] * len(c_parent)
    best = [0.0] * len(c_parent)
    for cid in reversed(range(len(c_parent))):
        child_sum = sum(best[ch] for ch in c_children[cid]) + (
            comp_term_best.get(cid, 0.0)
        )
        if selectable[cid] and c_stability[cid] > child_sum:
            selected[cid] = True
            best[cid] = c_stability[cid]
        else:
            best[cid] = child_sum
    for cid in range(len(c_parent)):
        if selected[cid]:
            st = list(c_children[cid])
            while st:
                x = st.pop()
                selected[x] = False
                st.extend(c_children[x])

    sel_of: dict[int, int] = {}

    def selected_ancestor(cid: int) -> int:
        c = cid
        while c >= 0:
            if c in sel_of:
                return sel_of[c]
            if selected[c]:
                sel_of[cid] = c
                return c
            c = c_parent[c]
        sel_of[cid] = -1
        return -1

    member_min: dict[int, str] = {}
    runt_sc: dict[int, int] = {}
    for p, (cid, _) in point_cluster.items():
        sc = selected_ancestor(cid)
        runt_sc[p] = sc
        if sc >= 0 and (sc not in member_min or mid[p] < member_min[sc]):
            member_min[sc] = mid[p]
    entered_sc: dict[int, int] = {}
    for d, cid in entered.items():
        sc = selected_ancestor(cid)
        entered_sc[d] = sc
        if sc >= 0 and (sc not in member_min or mid[d] < member_min[sc]):
            member_min[sc] = mid[d]

    verdicts: dict[str, tuple] = {}
    for p, sc in runt_sc.items():
        verdicts[comp_ids[p]] = (
            "RUNT",
            member_min[sc] if sc >= 0 else "-1",
        )
    for d, sc in entered_sc.items():
        verdicts[comp_ids[d]] = (
            ("OVERRIDE", member_min[sc]) if sc >= 0 else ("INTERNAL",)
        )
    return verdicts


# Driver-row budget for the two-level condense: θ is chosen so the top
# tree (external edges + component summaries) fits in about this many
# collected rows REGARDLESS of n — that is the sublinearity claim, and
# bench_condense_two_level_1m measures it.
TWO_LEVEL_DRIVER_ROWS = 100_000
# Below this contracted-forest size the classic single-collect condense
# is cheaper than a θ-cut + per-component pass (same crossover pattern
# as the contraction gate in `hdbscan_cluster`).
TWO_LEVEL_MIN_EDGES = 500_000
# A single pandas group condenses one component; cap its edge count so
# one executor task never sees an unbounded slab.
TWO_LEVEL_MAX_COMPONENT_EDGES = 4_000_000
# Preferred (soft) per-component ceiling: the hard cap protects executor
# memory, but a single near-cap component serializes the per-component
# condense into ONE Python task (round-7 caterpillar profile: a 150k-edge
# component cost 72 s in one group). When a finer candidate θ gets the
# biggest component under this bound, take it — the top collect grows by
# at most the (constant) relaxed budget while the executor side becomes
# embarrassingly parallel.
TWO_LEVEL_SOFT_COMPONENT_EDGES = 100_000


def condense_two_level(
    c_edges: DataFrame,
    c_nodes: DataFrame,
    min_cluster_size: int,
    driver_rows: int = TWO_LEVEL_DRIVER_ROWS,
):
    """Distributed two-level condense over a contracted forest (module
    comment above). Returns a (snode, _lab) DataFrame, or None when no
    feasible θ exists (degenerate weight distributions — caller falls
    back to the classic driver condense).

    Driver state: ~driver_rows top-edge rows + one summary row per
    component — a constant budget, not O(n). Its checkpoints belong to
    one `_generations` scope; only those backing the result outlive it."""
    import pandas as pd

    from echo_chambers_detection_spark.operators.graph import (
        _generations,
        connected_components,
    )

    if min_cluster_size < 2:
        return None
    spark = c_edges.sparkSession
    with _generations() as g:
        e = g.keep(c_edges.select("u1", "u2", F.col("w").cast("double")))
        ecount = e.count()
        if ecount == 0:
            return None

        attrs = g.keep(c_nodes.select("node", "size", "min_id"))

        # θ search, ONE distributed CC pass (VERDICT r6 #3). Candidate cuts
        # θ0 >= θ1 >= θ2 keep roughly {0.5, 1, 2}·driver_rows top edges.
        # Components are monotone in θ — the finest cut refines every
        # coarser one — so CC runs ONCE at the finest viable θ, and a
        # driver-side union-find over the mid-band edges (θ_fine <= w < θ0,
        # at most ~2·driver_rows rows, a constant) derives the coarser
        # labellings. The previous loop re-ran the full distributed CC per
        # attempt, and its 4× frac_ext retry almost always tripped the
        # n_ext budget guard — a silent fallback to the unbounded driver
        # condense (ADVICE r6); retries now share the one CC pass and get a
        # relaxed-but-constant 2× budget, and every fallback is logged with
        # the guard that fired.
        log = logging.getLogger(__name__)
        import time as _time

        _t0 = _time.perf_counter()

        def _stage(name: str) -> None:
            nonlocal _t0
            now = _time.perf_counter()
            log.info("condense_two_level stage %-14s %.1fs", name, now - _t0)
            _t0 = now

        f0 = min(0.5, (driver_rows // 2) / ecount)
        fracs = [f0, min(0.5, 2.0 * f0), min(0.5, 4.0 * f0)]
        # rank error scaled to the budget: at >=1e8 edges the default 0.001
        # relative error alone is more rows than driver_rows (ADVICE r6)
        rel_err = max(1e-6, min(0.001, driver_rows / (4.0 * ecount)))
        thetas = e.stat.approxQuantile("w", [1.0 - f for f in fracs], rel_err)
        exts = e.agg(
            *[
                F.sum(
                    F.when(F.col("w") >= F.lit(t), 1).otherwise(0)
                ).alias(f"x{i}")
                for i, t in enumerate(thetas)
            ]
        ).first()
        n_exts = [int(exts[f"x{i}"] or 0) for i in range(len(thetas))]
        budgets = [driver_rows, 2 * driver_rows, 2 * driver_rows]
        viable = [i for i in range(len(thetas)) if n_exts[i] <= budgets[i]]
        if not viable:
            log.info(
                "condense_two_level: falling back to driver condense — "
                "n_ext budget guard fired (n_exts=%s > budgets=%s; "
                "degenerate weight distribution)",
                n_exts,
                budgets,
            )
            return None
        _stage("theta_search")
        fine = max(viable)  # finest viable cut (smallest θ)
        coarse = min(viable)  # preferred cut (fewest collected top edges)

        internal_fine = e.where(F.col("w") < F.lit(thetas[fine]))
        comps_fine = g.adopt(connected_components(internal_fine.select("u1", "u2")))
        # node -> fine comp; singletons (no internal edge) are their own comp
        node_comp_fine = g.step(
            attrs.select("node")
            .join(comps_fine, "node", "left")
            .select(
                "node", F.coalesce("component", F.col("node")).alias("comp")
            ),
            prev=comps_fine,
        )
        comp_edges_fine = g.keep(
            internal_fine.join(
                node_comp_fine.withColumnRenamed("node", "u1"), "u1"
            )
        )
        # single scalar job off the checkpointed comp_edges_fine leaf — the
        # old shape checkpointed the per-component counts (a write + an extra
        # job) although only this max and, rarely, the touched-component
        # counts below ever read them (guide S2.4)
        fine_max = int(
            comp_edges_fine.groupBy("comp")
            .count()
            .agg(F.max("count"))
            .first()[0]
            or 0
        )
        if fine_max > TWO_LEVEL_MAX_COMPONENT_EDGES:
            # coarser cuts only merge components, so every level fails
            log.info(
                "condense_two_level: falling back to driver condense — "
                "component-size guard fired (biggest θ-component has %d "
                "edges > cap %d at the finest viable cut)",
                fine_max,
                TWO_LEVEL_MAX_COMPONENT_EDGES,
            )
            return None

        def _uf_find(parent: dict, x: str) -> str:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        chosen = fine
        mapping: dict[str, str] = {}
        if coarse < fine:
            # mid-band edges with fine-comp endpoints: the only edges whose
            # internal/external status differs between the candidate cuts
            mid = (
                e.where(
                    (F.col("w") >= F.lit(thetas[fine]))
                    & (F.col("w") < F.lit(thetas[coarse]))
                )
                .join(
                    node_comp_fine.select(
                        F.col("node").alias("u1"), F.col("comp").alias("cu")
                    ),
                    "u1",
                )
                .join(
                    node_comp_fine.select(
                        F.col("node").alias("u2"), F.col("comp").alias("cv")
                    ),
                    "u2",
                )
                .select("cu", "cv", "w")
                .collect()
            )
            touched = sorted({r["cu"] for r in mid} | {r["cv"] for r in mid})
            t_cnt: dict[str, int] = {}
            if touched:
                t_cnt = {
                    r["comp"]: int(r["count"])
                    for r in comp_edges_fine.groupBy("comp")
                    .count()
                    .join(
                        F.broadcast(
                            driver_frame(
                                spark, [(c,) for c in touched], "comp string"
                            )
                        ),
                        "comp",
                        "leftsemi",
                    ).collect()
                }
            # per-level merged-component maxima and mappings (driver-
            # trivial union-finds over the bounded mid-band); then pick the
            # coarsest level under the SOFT ceiling, falling back to the
            # coarsest under the hard cap
            stats: dict[int, tuple[int, dict[str, str]]] = {
                fine: (int(fine_max), {})
            }
            for lvl in sorted(i for i in viable if i < fine):
                lvl_edges = [r for r in mid if r["w"] < thetas[lvl]]
                parent: dict[str, str] = {}
                for r in lvl_edges:
                    ra, rb = _uf_find(parent, r["cu"]), _uf_find(parent, r["cv"])
                    if ra != rb:
                        # attach max under min: the root stays the min node
                        # id of the merged component, matching CC's labels
                        lo, hi = (ra, rb) if ra < rb else (rb, ra)
                        parent[hi] = lo
                tot: dict[str, int] = {}
                for c in touched:
                    root = _uf_find(parent, c)
                    tot[root] = tot.get(root, 0) + t_cnt.get(c, 0)
                for r in lvl_edges:
                    root = _uf_find(parent, r["cu"])
                    tot[root] = tot.get(root, 0) + 1
                stats[lvl] = (
                    max([int(fine_max)] + list(tot.values())),
                    {
                        c: _uf_find(parent, c)
                        for c in touched
                        if _uf_find(parent, c) != c
                    },
                )
            for cap in (
                TWO_LEVEL_SOFT_COMPONENT_EDGES,
                TWO_LEVEL_MAX_COMPONENT_EDGES,
            ):
                picks = [i for i in sorted(stats) if stats[i][0] <= cap]
                if picks:
                    chosen = picks[0]
                    mapping = stats[chosen][1]
                    break

        _stage("cc_and_cuts")
        theta = thetas[chosen]
        if chosen != fine and n_exts[chosen] > driver_rows:
            log.info(
                "condense_two_level: relaxed top-edge budget in use "
                "(n_ext=%d > driver_rows=%d at the chosen cut; cap 2x)",
                n_exts[chosen],
                driver_rows,
            )
        if chosen == fine:
            node_comp = node_comp_fine
            comp_edges = comp_edges_fine
        else:
            map_df = driver_frame(
                spark, mapping.items(), "comp string, root string"
            )
            node_comp = g.step(
                node_comp_fine.join(F.broadcast(map_df), "comp", "left").select(
                    "node", F.coalesce("root", F.col("comp")).alias("comp")
                )
            )
            comp_edges = g.step(
                e.where(F.col("w") < F.lit(theta)).join(
                    node_comp.withColumnRenamed("node", "u1"), "u1"
                ),
                prev=(node_comp_fine, comp_edges_fine),
            )
        _stage("node_comp")
        comp_summary = (
            node_comp.join(attrs, "node")
            .groupBy("comp")
            .agg(F.sum("size").alias("csize"), F.min("min_id").alias("cmin"))
            .collect()
        )
        comp_sizes = {r["comp"]: int(r["csize"]) for r in comp_summary}
        comp_min_ids = {r["comp"]: r["cmin"] for r in comp_summary}

        # per-component condense of every enterable (>= mcs) component:
        # group = the component's internal edges with both endpoints' attrs
        enterable = {c for c, s in comp_sizes.items() if s >= min_cluster_size}
        ent_df = driver_frame(
            spark, [(c,) for c in sorted(enterable)], "comp string"
        )
        grp = (
            comp_edges.join(F.broadcast(ent_df), "comp", "leftsemi")
            .join(
                attrs.select(
                    F.col("node").alias("u1"),
                    F.col("size").alias("s1"),
                    F.col("min_id").alias("m1"),
                ),
                "u1",
            )
            .join(
                attrs.select(
                    F.col("node").alias("u2"),
                    F.col("size").alias("s2"),
                    F.col("min_id").alias("m2"),
                ),
                "u2",
            )
        )
        mcs = min_cluster_size

        def run_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            # one Arrow group = one BUCKET of components (round 7): the
            # per-group Spark/Arrow/worker overhead is ~1 ms, which at 100k
            # tiny components serialized the whole pass (72 s measured on
            # the caterpillar bench). Components are sliced out of plain
            # numpy arrays by boundary index (round 10): pandas groupby
            # iteration costs ~1-3 ms per tiny group in frame construction
            # alone, which at ~3k components per bucket was the residual
            # bottleneck of the 1M-edge probe.
            import numpy as np

            out_comp: list = []
            out_kind: list = []
            out_node: list = []
            out_lab: list = []
            out_a: list = []
            out_tb: list = []
            pdf = pdf.sort_values("comp", kind="stable")
            comp_a = pdf["comp"].to_numpy()
            u1_a = pdf["u1"].to_numpy()
            u2_a = pdf["u2"].to_numpy()
            w_a = pdf["w"].to_numpy()
            s1_a = pdf["s1"].to_numpy()
            s2_a = pdf["s2"].to_numpy()
            m1_a = pdf["m1"].to_numpy()
            m2_a = pdf["m2"].to_numpy()
            n_rows = len(comp_a)
            bnd = np.flatnonzero(np.r_[True, comp_a[1:] != comp_a[:-1]])
            for gi, start in enumerate(bnd):
                stop = bnd[gi + 1] if gi + 1 < len(bnd) else n_rows
                comp = comp_a[start]
                sizes: dict[str, int] = {}
                min_ids: dict[str, str] = {}
                for i in range(start, stop):
                    sizes[u1_a[i]] = int(s1_a[i])
                    min_ids[u1_a[i]] = m1_a[i]
                    sizes[u2_a[i]] = int(s2_a[i])
                    min_ids[u2_a[i]] = m2_a[i]
                edges = list(
                    zip(u1_a[start:stop], u2_a[start:stop], w_a[start:stop])
                )
                A, term_best, labels = _component_condense(
                    sorted(sizes), edges, mcs, sizes, min_ids
                )
                out_comp += [comp] * (1 + len(labels))
                out_kind += ["s"] + ["n"] * len(labels)
                out_node += [""] + list(labels)
                out_lab += [""] + [labels[k] for k in labels]
                out_a += [A] + [0.0] * len(labels)
                out_tb += [term_best] + [0.0] * len(labels)
            return pd.DataFrame(
                {
                    "comp": out_comp,
                    "kind": out_kind,
                    "node": out_node,
                    "lab": out_lab,
                    "a": out_a,
                    "tb": out_tb,
                }
            )

        _stage("group_build")
        # bucket count: ~50k edges per bucket for amortization, bounded so
        # small inputs still spread across the cluster; one bucket's slab is
        # at most (hard cap) + its share of the rest — same memory contract
        n_buckets = int(min(4096, max(64, ecount // 50_000 + 1)))
        comp_out = g.keep(
            grp.withColumn(
                "_bkt", F.pmod(F.xxhash64("comp"), F.lit(n_buckets))
            )
            .groupBy("_bkt")
            .applyInPandas(
                run_bucket,
                schema="comp string, kind string, node string, lab string, "
                "a double, tb double",
            )
        )
        _stage("component_condense")
        comp_entry = {
            r["comp"]: (float(r["a"]), float(r["tb"]))
            for r in comp_out.where(F.col("kind") == "s").collect()
        }
        if set(comp_entry) != enterable:
            # a component >= mcs with no internal edges cannot exist (its
            # supernodes are < mcs each and singletons have no edges), but
            # fail loudly rather than mislabel
            raise AssertionError("two-level condense lost a component summary")

        _stage("entry_collect")
        top = (
            e.where(F.col("w") >= theta)
            .join(
                node_comp.select(
                    F.col("node").alias("u1"), F.col("comp").alias("cu")
                ),
                "u1",
            )
            .join(
                node_comp.select(
                    F.col("node").alias("u2"), F.col("comp").alias("cv")
                ),
                "u2",
            )
            .collect()
        )
        _stage("top_collect")
        verdicts = _condense_top(
            comp_sizes,
            comp_min_ids,
            comp_entry,
            [(r["u1"], r["u2"], float(r["w"]), r["cu"], r["cv"]) for r in top],
            mcs,
        )
        _stage("condense_top")

        # assemble (snode, _lab): whole-component labels via one small join,
        # INTERNAL components from the distributed per-node rows
        whole = [
            (c, v[1]) for c, v in verdicts.items() if v[0] in ("RUNT", "OVERRIDE")
        ]
        internal_comps = [
            (c,) for c, v in verdicts.items() if v[0] == "INTERNAL"
        ]
        parts = []
        if whole:
            whole_df = driver_frame(spark, whole, "comp string, _lab string")
            parts.append(
                node_comp.join(F.broadcast(whole_df), "comp").select(
                    F.col("node").alias("snode"), "_lab"
                )
            )
        if internal_comps:
            int_df = driver_frame(spark, internal_comps, "comp string")
            parts.append(
                comp_out.where(F.col("kind") == "n")
                .join(F.broadcast(int_df), "comp", "leftsemi")
                .select(F.col("node").alias("snode"), F.col("lab").alias("_lab"))
            )
        if not parts:
            return driver_frame(spark, [], "snode string, _lab string")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # node_comp/comp_out leaves back the result
        return g.result(out, node_comp, comp_out)


# Measured crossover for hdbscan_cluster's knn_mode="auto" (local[32],
# d=64 clustered vectors, k=10, √n cells, nprobe=4 — COVERAGE.md round-4
# table): exact wins at 20k (10.3s vs 15.5s — the quantizer build
# dominates), ANN wins at 50k (34.8s vs 47.7s) and the gap widens as
# O(n²) vs ~O(n^1.5). Below this node count the exact tiled GEMM is the
# default; above it the IVF-candidate path is.
KNN_ANN_CROSSOVER = 32_000

def hdbscan_local(
    spark, ids, vectors, min_pts: int, min_cluster_size: int, k: int,
    num_blocks: int,
) -> dict | None:
    """`hdbscan_cluster`'s exact chain in numpy on the driver: {node:
    label} of the nodes that reach a cluster (every other node is
    noise), or None where a step would not run on the driver or could
    not be reproduced there.

    `ids` are distinct string ids and `vectors` their equal-length
    vectors, in the order Spark would collect them. Each step is the
    driver placement of its distributed twin: `knn_graph`'s tiles over
    the same crc32 blocks (`_driver_tiles`), its `1 - round(1 - dist,
    6)` (`round_half_up`) and (dist, dst) top-k; `core_distances`;
    `mutual_reachability_edges`; `_kruskal_local`; then the direct
    `condense_and_select`. It declines where the distributed chain's
    gates would take a step off the driver (`placement` kernels "knn"
    on the rows, "kruskal" on the mutual-reachability edges, "condense"
    on the forest), and on a distance within a few ulps of a rounding
    half-step."""
    import zlib

    import numpy as np
    import pandas as pd

    if not placement.on_driver(
        spark, "knn", len(ids) ** 2 * placement.KNN_PAIR_BYTES
    ):
        return None
    ids = np.asarray(ids, dtype=object)
    blocks = [zlib.crc32(s.encode("utf-8")) % num_blocks for s in ids]
    cand = _driver_tiles(
        pd.DataFrame({"_id": ids, "_vec": list(vectors), "_b": blocks}),
        num_blocks, k,
    )
    if len(cand) == 0:
        return {}
    rounded = round_half_up(1.0 - cand["dist"].to_numpy(dtype=np.float64))
    if rounded is None:
        return None
    knn = (
        cand.assign(dist=1.0 - rounded)
        .sort_values(["src", "dist", "dst"])
        .groupby("src", sort=False)
        .head(k)
    )
    src, dst = knn["src"].to_numpy(), knn["dst"].to_numpy()
    dist = knn["dist"].to_numpy()
    # core: the (min_pts - 1)-th nearest other neighbor, inf if fewer
    core = pd.Series(np.inf if min_pts > 1 else 0.0, index=pd.unique(src))
    if min_pts > 1:
        nth = knn.groupby("src", sort=False).cumcount().to_numpy() == min_pts - 2
        core.loc[src[nth]] = dist[nth]
    lo = np.where(src < dst, src, dst)
    hi = np.where(src < dst, dst, src)
    und = (
        pd.DataFrame({"u1": lo, "u2": hi, "dist": dist})
        .groupby(["u1", "u2"], sort=False, as_index=False)["dist"]
        .min()
    )
    c1, c2 = und["u1"].map(core), und["u2"].map(core)
    w = np.maximum(und["dist"], np.maximum(c1, c2)).to_numpy()
    keep = (c1.notna() & c2.notna()).to_numpy() & (w < np.inf)
    if not placement.on_driver(
        spark, "kruskal", int(keep.sum()) * placement.EDGE_ROW_BYTES
    ):
        return None
    picked = _kruskal_local(
        zip(und["u1"].to_numpy()[keep], und["u2"].to_numpy()[keep], w[keep])
    )
    if not placement.on_driver(
        spark, "condense", len(picked) * placement.EDGE_ROW_BYTES
    ):
        return None
    in_forest = sorted({u for e in picked for u in (e[0], e[1])})
    labels = condense_and_select(in_forest, picked, min_cluster_size)
    return {node: lab for node, lab in labels.items() if lab != "-1"}


def _hdbscan_pulled(spark, tbl, id_col: str, vec_col: str, **kw) -> dict | None:
    """`hdbscan_local` over a collected (id, vector) table, or None when
    its rows are not distinct non-NULL ids with equal-length non-NULL
    vectors (the distributed chain keeps those)."""
    import pyarrow.compute as pc

    vec = tbl.column(vec_col).combine_chunks()
    node = tbl.column(id_col)
    if (
        node.null_count
        or vec.null_count
        or vec.flatten().null_count
        or pc.count_distinct(node).as_py() < tbl.num_rows
        or pc.count_distinct(pc.list_value_length(vec)).as_py() > 1
    ):
        return None
    return hdbscan_local(
        spark, node.to_pandas().to_numpy(), vec.to_pandas().to_numpy(), **kw
    )


def hdbscan_cluster(
    embeddings: DataFrame,
    min_pts: int = 5,
    min_cluster_size: int = 5,
    k: int | None = None,
    num_blocks: int | None = 8,
    knn_mode: str = "auto",
    n_cells: int | None = None,
    nprobe: int = 4,
    id_col: str = "node",
    vec_col: str = "vector",
    condense_mode: str = "auto",
    carry_input_ckpt: bool = False,
) -> DataFrame:
    """Full pipeline: k-NN graph -> core distances -> mutual
    reachability -> spanning forest -> condensed-tree stability
    selection. Returns (node string, cluster string); noise = '-1'.

    knn_mode picks the k-NN kernel: "exact" (tiled GEMM, O(n²) FLOPs),
    "ann" (IVF-candidate `knn_graph_ann`, the 100 TB path), or "auto"
    (one count job, then exact below KNN_ANN_CROSSOVER nodes, ann with
    n_cells = √n above — the same measured dual-path pattern as
    LSH-vs-exact in density_cluster). The standard distributed-HDBSCAN
    approximation is already a k-NN-graph MST, so swapping the k-NN
    kernel changes recall, not semantics; the pruned kernel holds
    >= 0.95 neighbor recall at this operating point (tests).

    Node ids are cast to string up front: the forest/condense layers key
    by string (string order drives the min-member labels, matching every
    other graph operator), so a numeric id column comes back stringified
    rather than crashing in the driver-side tail.

    condense_mode picks the condense tail above the contraction gate:
    "driver" (classic single collect of the contracted forest),
    "two_level" (θ-cut + per-component executor condense, driver sees a
    constant ~TWO_LEVEL_DRIVER_ROWS budget — VERDICT r5 #3), or "auto"
    (two_level once the contracted forest exceeds TWO_LEVEL_MIN_EDGES,
    else driver; two_level quietly falls back to driver when no
    feasible θ exists).

    Placement: in "auto" mode, when the sized input is at most
    KNN_ANN_CROSSOVER rows and its k-NN tiles fit the driver
    (`placement` kernel "knn"), it is pulled once and
    the whole chain runs in `hdbscan_local`, the same kernel the
    analysis press runs; the Spark steps below take over wherever that
    kernel declines (a later step's bound, unreproducible input).

    carry_input_ckpt=True also hands the caller-supplied `embeddings`
    frame's checkpoint blocks to the result (opt-in, ADVICE r9); leave
    False if the caller reuses the input after a release. Everything
    else the pipeline checkpoints belongs to one `_generations` scope;
    only what backs the result outlives it, on every return path."""
    from echo_chambers_detection_spark.operators.graph import _generations

    if condense_mode not in ("auto", "driver", "two_level"):
        raise ValueError(
            f"condense_mode must be auto|driver|two_level, got "
            f"{condense_mode!r}"
        )
    if k is None:
        k = max(min_pts + 1, 10)
    spark = embeddings.sparkSession
    with _generations() as g:
        emb = embeddings.select(
            F.col(id_col).cast("string").alias(id_col), F.col(vec_col)
        )
        n: int | None = None
        if knn_mode == "auto" or (knn_mode == "ann" and n_cells is None):
            # the input is typically an expensive lazy plan (FastRP); cut
            # it to a leaf BEFORE counting so the count doesn't execute
            # the whole pipeline once for sizing and again for the k-NN
            # build
            emb = g.keep(emb)
            n = emb.count()
        if (
            knn_mode == "auto"
            and n <= KNN_ANN_CROSSOVER
            and placement.on_driver(spark, "knn", n * n * placement.KNN_PAIR_BYTES)
        ):
            # every step fits the driver: one pull, one kernel
            tbl = emb.toArrow()
            labels = _hdbscan_pulled(
                spark, tbl, id_col, vec_col, min_pts=min_pts,
                min_cluster_size=min_cluster_size, k=k,
                num_blocks=num_blocks or 8,
            )
            if labels is not None:
                out = driver_frame(
                    spark,
                    [(i, labels.get(i, "-1")) for i in tbl.column(id_col).to_pylist()],
                    StructType([
                        emb.schema[id_col],
                        StructField("cluster", StringType(), False),
                    ]),
                )
                return g.result(
                    out, embeddings if carry_input_ckpt else None
                )
        if knn_mode == "auto":
            knn_mode = "ann" if n > KNN_ANN_CROSSOVER else "exact"
        if knn_mode == "ann":
            cells = n_cells if n_cells is not None else max(16, int(n ** 0.5))
            knn = g.keep(
                knn_graph_ann(
                    emb, k=k, n_cells=cells, nprobe=nprobe,
                    id_col=id_col, vec_col=vec_col,
                )
            )
        else:
            knn = g.keep(
                knn_graph(
                    emb, k=k, num_blocks=num_blocks,
                    id_col=id_col, vec_col=vec_col, n=n,
                )
            )
        core = core_distances(knn, min_pts)
        # (forest is either a driver_frame or a union of checkpointed
        # Borůvka parts — the gate count below re-reads cached blocks,
        # not the k-NN pipeline)
        forest = g.adopt(
            minimum_spanning_forest(mutual_reachability_edges(knn, core))
        )
        # Pre-contract hanging sub-min_cluster_size subtrees
        # DISTRIBUTEDLY (VERDICT r4 #2): the driver then collects the
        # contracted forest — cluster backbone + one row per fringe, not
        # n-1 rows — and the member expansion stays a distributed join.
        # Condense itself is sequential in any HDBSCAN implementation;
        # this bounds what it is fed, label-identically (tests pin
        # contracted == uncontracted). While the forest fits the driver
        # budget (`placement` kernel "condense") the collect is cheap and
        # the contraction rounds are pure overhead (+3 s measured at
        # sf0.1; 40k-edge forest 16.6 s direct vs 28.0 s contracted,
        # same warm JVM, round 10), so the gate — like every crossover
        # here — takes the direct path small and the bounded path at
        # scale, where the two-level condense keeps driver rows bounded.
        member_map = lab_sn = lab_df = None
        if not placement.on_driver(
            spark, "condense", forest.count() * placement.EDGE_ROW_BYTES
        ):
            c_edges, c_nodes, member_map = (
                g.adopt(f)
                for f in contract_runt_fringes(forest, min_cluster_size)
            )
            if condense_mode == "two_level" or (
                condense_mode == "auto"
                and c_edges.count() >= TWO_LEVEL_MIN_EDGES
            ):
                lab_sn = condense_two_level(c_edges, c_nodes, min_cluster_size)
            if lab_sn is None:
                f_rows = [
                    (r["u1"], r["u2"], float(r["w"])) for r in c_edges.collect()
                ]
                node_rows = c_nodes.collect()
                sn_sizes = {r["node"]: int(r["size"]) for r in node_rows}
                sn_min = {r["node"]: r["min_id"] for r in node_rows}
                labels = condense_and_select(
                    sorted(sn_sizes),
                    f_rows,
                    min_cluster_size,
                    node_sizes=sn_sizes,
                    node_min_ids=sn_min,
                )
                # labels cover only forest supernodes; everything else
                # (inf-core nodes, isolated points) is noise. No
                # broadcast hint: lab_sn is a LocalRelation sized by the
                # cluster-tree, AQE broadcasts it when small.
                if labels:
                    lab_sn = driver_frame(
                        spark, labels.items(), "snode string, _lab string"
                    )
            if lab_sn is not None:
                # member expansion and the final join both stay
                # distributed
                lab_df = member_map.join(lab_sn, "snode").select(
                    F.col("member").alias(id_col), "_lab"
                )
        else:
            f_rows = [
                (r["u1"], r["u2"], float(r["w"])) for r in forest.collect()
            ]
            in_forest = sorted({u for e in f_rows for u in (e[0], e[1])})
            labels = condense_and_select(in_forest, f_rows, min_cluster_size)
            if labels:
                lab_df = driver_frame(
                    spark, labels.items(), f"{id_col} string, _lab string"
                )
        if lab_df is None:
            out = emb.select(id_col).withColumn("cluster", F.lit("-1"))
        else:
            out = (
                emb.select(id_col)
                .join(lab_df, id_col, "left")  # AQE picks broadcast when small
                .select(id_col, F.coalesce("_lab", F.lit("-1")).alias("cluster"))
            )
        return g.result(
            out, emb, member_map, lab_sn,
            embeddings if carry_input_ckpt else None,
        )

