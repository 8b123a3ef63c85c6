"""Vector search operators (SURVEY.md T1/T2, G10, A7).

The reference stores 384-d post vectors in Qdrant and searches with HNSW
(project/qdrant/consumer_post.py:42-49, post_distance_test.py:26-31).
Spark-first: embeddings are a plain ArrayType(FloatType) column, cosine
is a codegen'd array expression, top-k is TakeOrderedAndProject — no
index service, no pagination, no per-point round trips.

Scale posture:
- `cosine_topk` is a single scan + per-partition top-k merge: O(n) work,
  O(k) driver result — this is the exact path and stays viable at any
  row count (it's embarrassingly parallel).
- `similarity_self_join` is the O(n²) exact baseline; at 100 TB you use
  the LSH-bucketed variant (operators/dedup.py / MinHashLSH-style
  banding) and keep this for verification at sampled scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType
from pyspark.sql.window import Window

from echo_chambers_detection_spark import placement
from echo_chambers_detection_spark.functions.vector import (
    cosine_similarity,
    l2_normalize,
)
from echo_chambers_detection_spark.operators.graph import (
    _checkpoint,
    _generations,
    _materialize,
    _owns_checkpoints,
    _release_checkpoint,
)
from echo_chambers_detection_spark.session import driver_frame


def with_query_vector(embeddings: DataFrame, query: DataFrame) -> DataFrame:
    """Attach a single-row query vector (column `qvec`) to every row via a
    broadcast cross join — the Spark phrasing of 'search(query_vector=…)'
    (reference project/qdrant/post_distance_test.py:26-31)."""
    return embeddings.crossJoin(F.broadcast(query.select(F.col("qvec"))))


def cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 1000,
    vec_col: str = "vector",
    id_col: str = "post_cid",
) -> DataFrame:
    """Exact cosine top-k (reference ANN search with limit=1000, G10/T1).

    Returns (id, score) ordered by score desc with id tiebreak; Catalyst
    plans TakeOrderedAndProject (per-partition heap + driver merge), so
    no global sort materializes."""
    scored = with_query_vector(embeddings, query).select(
        F.col(id_col),
        F.round(cosine_similarity(vec_col, "qvec"), 6).alias("score"),
    )
    return scored.orderBy(F.desc("score"), id_col).limit(k)


def cosine_extremes(
    embeddings: DataFrame,
    query: DataFrame,
    n: int = 5,
    vec_col: str = "vector",
    id_col: str = "post_cid",
) -> DataFrame:
    """Closest n + farthest n with a `side` discriminator — the reference's
    head/tail slice of a sorted search result
    (project/qdrant/post_distance_test.py:33-35, T2)."""
    scored = with_query_vector(embeddings, query).select(
        F.col(id_col),
        F.round(cosine_similarity(vec_col, "qvec"), 6).alias("score"),
    )
    closest = (
        scored.orderBy(F.desc("score"), id_col)
        .limit(n)
        .withColumn("side", F.lit("closest"))
    )
    farthest = (
        scored.orderBy(F.asc("score"), id_col)
        .limit(n)
        .withColumn("side", F.lit("farthest"))
    )
    return closest.unionByName(farthest)


def similarity_self_join(
    embeddings: DataFrame,
    threshold: float,
    vec_col: str = "vector",
    id_col: str = "post_cid",
) -> DataFrame:
    """All pairs with cosine >= threshold (v1 < v2) — exact O(n²) baseline.

    The cross join is expressed as a self-join so Catalyst broadcasts the
    smaller side when it fits; the LSH-banded variant in operators/dedup.py
    is the 100 TB path.

    Each vector's norm is computed ONCE up front, so the per-pair work is
    a single dot product — naive per-pair cosine recomputes both norms n
    times each (3x the array folds on an n² join)."""
    from echo_chambers_detection_spark.functions.vector import dot, l2_norm

    with_norm = embeddings.select(
        F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("_norm")
    )
    a = with_norm.select(
        F.col(id_col).alias("v1"),
        F.col(vec_col).alias("vec1"),
        F.col("_norm").alias("n1"),
    )
    b = with_norm.select(
        F.col(id_col).alias("v2"),
        F.col(vec_col).alias("vec2"),
        F.col("_norm").alias("n2"),
    )
    denom = F.col("n1") * F.col("n2")
    return (
        a.join(b, F.col("v1") < F.col("v2"))
        .select(
            "v1",
            "v2",
            F.round(
                F.when(denom > 0, dot("vec1", "vec2") / denom), 6
            ).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )


def user_mean_embeddings_exploded(
    engagements: DataFrame,
    embeddings: DataFrame,
    user_col: str = "user_did",
    post_col: str = "post_uri",
    emb_id_col: str = "post_cid",
    vec_col: str = "vector",
) -> DataFrame:
    """Per-user embedding: L2-normalized mean of the L2-normalized vectors
    of posts the user engaged with (reference
    project/metrics/metrics_interface.py:53-77; SURVEY.md A7/F8).

    Returned exploded as (user_did, dim, val) — dim 0-based — which keeps
    the whole pipeline in scalar columns: posexplode -> groupBy(user, dim)
    mean -> window-normalize. Two shuffles total ((user,dim) agg, then the
    user-partition window), both on keys that scale with users x dims, and
    every step is codegen'd — no Python, no vector collect."""
    pairs = engagements.select(user_col, post_col).dropDuplicates(
        [user_col, post_col]
    )
    normed = embeddings.select(
        F.col(emb_id_col),
        F.posexplode(l2_normalize(vec_col)).alias("dim", "val"),
    )
    joined = pairs.join(
        normed, pairs[post_col] == normed[emb_id_col], "inner"
    ).select(user_col, "dim", "val")
    mean = joined.groupBy(user_col, "dim").agg(F.avg("val").alias("mval"))
    w = Window.partitionBy(user_col)
    norm = F.sqrt(F.sum(F.col("mval") * F.col("mval")).over(w))
    return mean.select(
        F.col(user_col),
        F.col("dim").cast("long").alias("dim"),
        F.round(
            F.when(norm > 0, F.col("mval") / norm).otherwise(F.col("mval")), 6
        ).alias("val"),
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN — the 100 TB scale path for similarity search (SURVEY.md
# G10 note: "BucketedRandomProjectionLSH/MinHashLSH as the approximate
# option at 100 TB"). Random-hyperplane signatures (SimHash for dense
# vectors, Charikar STOC'02): bit p of a vector's signature is the sign of
# its projection onto hyperplane p. Cosine-similar vectors agree on most
# bits, so candidate generation is a cheap integer filter / bucket join and
# the exact cosine runs only on candidates.
#
# Determinism across engines (so the DuckDB oracle reproduces the SAME
# approximation bit-for-bit):
# - hyperplane coefficients are ±1 drawn from md5(f"{plane}:{dim}") hex
#   parity — both engines evaluate the identical md5 string;
# - projections are integer dot products over round(x * 1e6) — float
#   summation order can flip the sign of a near-zero projection between
#   engines, integer sums cannot.
# ---------------------------------------------------------------------------


def _hyperplane_coefs(num_planes: int, dim: int) -> list[list[int]]:
    """coef[p][i] = +1 if the first hex digit of md5(f"{p}:{i}") is even,
    else -1 (i is the 0-based vector position)."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for i in range(dim)
        ]
        for p in range(num_planes)
    ]


def hyperplane_signatures(
    embeddings: DataFrame,
    dim: int,
    num_planes: int = 16,
    id_col: str = "post_cid",
    vec_col: str = "vector",
) -> DataFrame:
    """(id, sig) — sig packs num_planes sign bits into one long.

    Per row this is num_planes codegen'd integer fold-adds over the
    vector — a single scan, no shuffle; the signature column is 8 bytes
    regardless of vector width, which is the point: all candidate logic
    downstream touches longs, not arrays."""
    coefs = _hyperplane_coefs(num_planes, dim)
    xi = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * 1e6).cast("long")
    )
    sig = F.lit(0).cast("long")
    for p in range(num_planes):
        cvec = F.array(*[F.lit(c) for c in coefs[p]])
        proj = F.aggregate(
            F.zip_with(cvec, xi, lambda c, v: c * v),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        sig = sig + F.when(proj >= 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return embeddings.select(F.col(id_col), sig.alias("sig"))


def lsh_topk(
    embeddings: DataFrame,
    query: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 16,
    max_hamming: int = 6,
    id_col: str = "post_cid",
    vec_col: str = "vector",
) -> DataFrame:
    """Approximate cosine top-k: signature hamming prune, then exact
    cosine rerank of the candidates only.

    The prune scans (id, sig) longs — at 100 TB the signature table is
    ~1/50th the vector table and the vectors of non-candidates are never
    read (column pruning keeps them out of the scan). Returns
    (id, score, hamming). Recall is tunable via num_planes/max_hamming;
    the exact `cosine_topk` stays the verification baseline."""
    sigs = hyperplane_signatures(
        embeddings, dim, num_planes, id_col=id_col, vec_col=vec_col
    )
    qsig = hyperplane_signatures(
        query.select(F.lit("q").alias(id_col), F.col("qvec").alias(vec_col)),
        dim,
        num_planes,
        id_col=id_col,
        vec_col=vec_col,
    ).select(F.col("sig").alias("qsig"))
    hamming = F.bit_count(F.col("sig").bitwiseXOR(F.col("qsig")))
    cand = (
        sigs.crossJoin(F.broadcast(qsig))
        .select(F.col(id_col), hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
    rescored = (
        embeddings.join(cand, id_col)
        .crossJoin(F.broadcast(query.select("qvec")))
        .select(
            F.col(id_col),
            F.round(cosine_similarity(vec_col, "qvec"), 6).alias("score"),
            F.col("hamming").cast("int").alias("hamming"),
        )
    )
    return rescored.orderBy(F.desc("score"), id_col).limit(k)


@_owns_checkpoints
def lsh_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float,
    num_planes: int = 16,
    band_bits: int = 8,
    id_col: str = "post_cid",
    vec_col: str = "vector",
) -> DataFrame:
    """Banded LSH near-duplicate pairs: signatures split into
    num_planes/band_bits bands; ids sharing any band value become
    candidates (a bucket equi-join — the shuffle keys on (band, value),
    never on n² pairs); candidates rerank with exact cosine >= threshold.

    This is `similarity_self_join` with the quadratic candidate step
    replaced by the join LSH banding buys — the semantic-dedup scale path
    next to the MinHash text path in operators/dedup.py.

    Physical shape of the rerank: vectors ship to each of their
    num_planes/band_bits band buckets ONCE (O(n·n_bands) transfer) and
    each bucket scores its members with a single numpy GEMM tile — the
    same kernel `similarity_self_join_gemm` uses, measured ~15x over
    per-pair codegen folds. The earlier formulation joined full vectors
    onto every candidate PAIR row (O(candidates) vector copies), which
    dominated wall time. Bucket skew is the classic LSH trade: a hot
    bucket of size s costs O(s²) — widen band_bits when buckets run hot.
    Cross-band duplicate pairs carry bit-identical scores, so the final
    distinct() collapses them.

    band_bits=0 is the EXHAUSTIVE verification configuration (the
    analogue of PQ's refine=None and IVF's nprobe=n_cells): one zero-bit
    band, so every row lands in a single bucket and the banded machinery
    provably yields ALL pairs — output equals the exact GEMM self-join,
    which makes any query built on it SQL-oracle-checkable. One task
    scores the whole set, so this is for verification scale only."""
    import pandas as pd

    if band_bits == 0:
        bands = embeddings.select(
            F.col(id_col),
            F.lit(0).alias("band"),
            F.lit(0).cast("long").alias("bval"),
        )
    else:
        n_bands = num_planes // band_bits
        mask = (1 << band_bits) - 1
        # materialize: the signature frame feeds every band expansion
        # below — without this the per-plane projection folds run once
        # per reference
        sigs = _checkpoint(
            hyperplane_signatures(
                embeddings, dim, num_planes, id_col=id_col, vec_col=vec_col
            )
        )
        bands = sigs.select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftright("sig", b * band_bits)
                            .bitwiseAND(F.lit(mask))
                            .alias("bval"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("bk"),
        ).select(id_col, "bk.band", "bk.bval")
    withvec = bands.join(
        embeddings.select(F.col(id_col), F.col(vec_col).alias("_vec")), id_col
    )

    def bucket_gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pdf) < 2:
            return pd.DataFrame({"v1": [], "v2": [], "score": []})
        x = np.stack(pdf["_vec"].to_numpy()).astype("float64")
        norms = np.linalg.norm(x, axis=1)
        denom = np.outer(norms, norms)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.where(denom > 0, (x @ x.T) / denom, np.nan)
        ids = pdf[id_col].to_numpy()
        ii, jj = np.nonzero(np.round(sims, 6) >= threshold)
        v1, v2, sc = [], [], []
        for i, j in zip(ii, jj):
            a, b = ids[i], ids[j]
            if not a < b:
                continue
            v1.append(a)
            v2.append(b)
            sc.append(round(float(sims[i, j]), 6))
        return pd.DataFrame({"v1": v1, "v2": v2, "score": sc})

    id_type = dict(embeddings.dtypes)[id_col]
    return (
        withvec.groupBy("band", "bval")
        .applyInPandas(bucket_gemm, schema=f"v1 {id_type}, v2 {id_type}, score double")
        .distinct()
    )


def similarity_self_join_gemm(
    embeddings: DataFrame,
    threshold: float,
    num_blocks: int = 8,
    id_col: str = "post_cid",
    vec_col: str = "vector",
) -> DataFrame:
    """Exact all-pairs cosine via blocked GEMM — same semantics as
    `similarity_self_join`, different physical strategy.

    The expression form evaluates one scalar fold per pair; this form
    ships each block pair (bi <= bj) to one `applyInPandas` group and
    computes the whole block's similarities as a single numpy matmul
    (BLAS — measured ~15x over the codegen fold at sf0.1). This is the
    standard distributed exact-similarity shape: rows replicate to
    num_blocks groups (O(n·B) transfer), work partitions as O(B²) GEMM
    tiles, and no driver collect ever happens. Tune num_blocks so a tile
    (n/B rows × dim floats, two blocks) fits executor memory — at 100 TB
    you raise num_blocks, not the algorithm. The LSH-banded variant
    (`lsh_near_dup_pairs`) remains the non-exact scale path when even
    O(n²/B²) tiles are too many."""
    import pandas as pd

    spark = embeddings.sparkSession

    blocked = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(num_blocks))
        .cast("int")
        .alias("_b"),
    )
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

    def gemm_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        left = pdf[pdf["_b"] == bi]
        right = pdf[pdf["_b"] == bj]
        if left.empty or right.empty:
            return pd.DataFrame({"v1": [], "v2": [], "score": []})
        lx = np.stack(left["_vec"].to_numpy()).astype("float64")
        rx = np.stack(right["_vec"].to_numpy()).astype("float64")
        ln = np.linalg.norm(lx, axis=1)
        rn = np.linalg.norm(rx, axis=1)
        denom = np.outer(ln, rn)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.where(denom > 0, (lx @ rx.T) / denom, np.nan)
        lid = left["_id"].to_numpy()
        rid = right["_id"].to_numpy()
        ii, jj = np.nonzero(np.round(sims, 6) >= threshold)
        v1, v2, sc = [], [], []
        for i, j in zip(ii, jj):
            a, b = lid[i], rid[j]
            if a == b:
                continue
            v1.append(min(a, b))
            v2.append(max(a, b))
            sc.append(round(float(sims[i, j]), 6))
        out = pd.DataFrame({"v1": v1, "v2": v2, "score": sc})
        # diagonal tile generates each pair twice (i,j) and (j,i)
        return out.drop_duplicates(["v1", "v2"]) if bi == bj else out

    id_type = dict(embeddings.dtypes)[id_col]
    return replicated.groupBy("bi", "bj").applyInPandas(
        gemm_tile, schema=f"v1 {id_type}, v2 {id_type}, score double"
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path alongside LSH.
# The reference's Qdrant HNSW (project/qdrant/consumer_post.py:42-49) is a
# per-node graph index that has no distributed analog; IVF is the standard
# cluster-parallel substitute: route each vector to its nearest of k
# centroids at index time, probe only the nprobe nearest cells at query
# time. Candidate volume drops from n to ~n·nprobe/k.
#
# Placement: the quantizer runs on the driver when the embedding table
# fits the driver budget (`placement.on_driver(spark, "ivf", rows ×
# IVF_ROW_BYTES_PER_DIM × dim)`), as the other community-sized steps do
# (REPOSE builds its top-k index locally where the data fits): one Arrow
# pull of one Catalyst projection, whose seed hash md5(id) and sampling
# hash xxhash64(id) are Spark's own, then l2_normalize's arithmetic
# (`_l2_normalize_np`), Lloyd and the final assignment in numpy
# (`_lloyd_np`), through the argmax kernel the distributed mapInPandas
# passes run (`_nearest_cell`). Larger tables, the kernel forced
# distributed, and null, ragged or empty inputs take the distributed
# path, so does a vector type numpy cannot cast as Spark does.
# ---------------------------------------------------------------------------

# `_training_subset`'s hash gate: a row trains when pmod(xxhash64(id),
# _TRAIN_GATE) falls under the keep threshold.
_TRAIN_GATE = 1_000_000


def _train_keep(n: int, cap: int) -> int | None:
    """The hash-gate threshold that samples ~`cap` of `n` rows, or None
    when every row trains."""
    if cap <= 0 or n <= cap:
        return None
    return max(1, int(round(cap / n * _TRAIN_GATE)))


def _training_subset(norm: DataFrame, cap: int) -> tuple[DataFrame, bool]:
    """Bounded Lloyd training set (VERDICT r5 #4). Quantizer training
    on the FULL dataset costs 2·iters+1 full scans plus a per-round
    n·d-row exchange — at 100 TB you train on a sample and assign once
    (standard practice: Faiss warns below ~39·k training points and is
    happy at ~256·k). The subset is a DETERMINISTIC hash gate on the id
    (pure function of the row, invariant to partitioning — a .sample()
    would change membership whenever the upstream leaf repartitions),
    sized to land ~cap rows. Returns (train frame, was_sampled); the
    train frame is checkpointed when sampled (it is scanned 2·iters
    times) and owned by the caller."""
    keep = _train_keep(norm.count(), cap)
    if keep is None:
        return norm, False
    train = _materialize(
        norm.where(
            F.pmod(F.xxhash64(F.col("_id").cast("string")), F.lit(_TRAIN_GATE))
            < keep
        )
    )
    return train, True


def _nearest_cell(X, C):
    """For each row of `X`, the index of its highest-scoring centroid in
    `C` (normalized rows, so the largest dot product is the nearest
    cell): the assignment kernel of both IVF placements."""
    import numpy as np

    return np.argmax(X @ C.T, axis=1).astype("int32")


def _l2_normalize_np(X):
    """`functions.vector.l2_normalize` of the rows of `X` (float64), bit
    for bit: the squares summed left to right from 0.0, the square
    root, then x / norm where the norm is > 0 and x unchanged elsewhere
    (zero and NaN norms). In the pull, Spark's higher-order
    `transform`/`aggregate` cost about 2.5 CPU-s in a cold JVM (4000 x
    64 rows, 4-core VM)."""
    import numpy as np

    sq = np.zeros(len(X))
    for j in range(X.shape[1]):
        sq = sq + X[:, j] * X[:, j]
    norm = np.sqrt(sq)[:, None]
    return np.divide(X, norm, out=X.copy(), where=norm > 0)


def _lloyd_np(X, by_hash, gate, k: int, iters: int, cap: int):
    """`ivf_index`'s quantizer over the driver-side table: normalized
    vectors `X` (n × d), the row indices in md5(id) order `by_hash` and
    each row's training-gate hash `gate`. Seeds, sample and rounds as
    the distributed path computes them: the k training rows with the
    smallest md5(id), Lloyd means summed in row order (a partition's
    order), empty cells kept. Returns (cells int32 [n], centroids)."""
    import numpy as np

    keep = _train_keep(len(X), cap)
    if keep is None:
        train, seeds = X, by_hash[:k]
    else:
        train, seeds = X[gate < keep], by_hash[gate[by_hash] < keep][:k]
    cent = X[seeds]
    for _ in range(iters):
        cl = _nearest_cell(train, cent)
        sums = np.zeros_like(cent)
        np.add.at(sums, cl, train)
        counts = np.bincount(cl, minlength=len(cent))
        for c in np.flatnonzero(counts):
            v = sums[c] / counts[c]
            n = np.linalg.norm(v)
            if n > 0:
                cent[c] = v / n
    return _nearest_cell(X, cent), cent


def _ivf_on_driver(embeddings, k, iters, id_col, vec_col, cap):
    """`ivf_index` on the driver, or None when it declines (module
    comment): the row count probed by the pull itself, `limit` of the
    bound plus one, so no count job runs."""
    import pyarrow as pa
    import pyarrow.compute as pc

    spark = embeddings.sparkSession
    if not placement.on_driver(spark, "ivf", 0):
        return None
    first = embeddings.select(F.size(vec_col).alias("d")).first()
    dim = None if first is None else first["d"]
    if dim is None or dim < 1:
        return None
    bound = placement.max_rows(
        spark, "ivf", placement.IVF_ROW_BYTES_PER_DIM * dim
    )
    sid = F.col(id_col).cast("string")
    tbl = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.md5(sid).alias("_h"),
        F.pmod(F.xxhash64(sid), F.lit(_TRAIN_GATE)).alias("_g"),
    ).limit(bound + 1).toArrow()
    vec = tbl.column("_vec")
    kind = vec.type.value_type
    flat = pc.list_flatten(vec)
    if (
        not (pa.types.is_floating(kind) or pa.types.is_integer(kind))
        or not 0 < tbl.num_rows <= bound
        or tbl.column("_id").null_count
        or vec.null_count
        or flat.null_count
        or pc.min_max(pc.list_value_length(vec)).as_py() != {"min": dim, "max": dim}
    ):
        return None
    X = flat.to_numpy().astype("float64", copy=False).reshape(-1, dim)
    cells, cent = _lloyd_np(
        _l2_normalize_np(X),
        pc.sort_indices(tbl.column("_h")).to_numpy(),  # a stable sort
        tbl.column("_g").to_numpy(),
        k, iters, cap,
    )
    schema = StructType([
        StructField(id_col, embeddings.schema[id_col].dataType),
        StructField("cluster", IntegerType()),
    ])
    out = pa.table({"_id": tbl.column("_id"), "cluster": cells})
    return driver_frame(spark, out, schema), cent


def ivf_index(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "post_cid",
    vec_col: str = "vector",
    train_cap: int | None = None,
):
    """Deterministic IVF coarse quantizer.

    Init: the k vectors with the smallest md5(id) (hash-spread, seedless,
    reproducible). Then `iters` Lloyd rounds: assignment is an argmax
    against the (k x d) centroid matrix (`_nearest_cell`, one GEMM per
    batch); the centroid update is the per-cell mean, renormalized, and
    a cell with no members keeps its centroid.

    Placement (module comment): when `placement` gives the "ivf" kernel
    the embedding table (rows × IVF_ROW_BYTES_PER_DIM × dim bytes), the
    whole build is one Arrow pull and numpy on the driver, and the
    assignments come back as a driver frame with nothing to release.
    Otherwise it runs distributed: assignment is an Arrow-batched
    mapInPandas pass against the broadcast centroids and the update a
    JVM-side exploded (cluster, dim) mean, with driver state the k x d
    centroid matrix alone; the build's checkpoint rides on the returned
    frame, which the persisted-index builders free after their write.
    Both placements give the same cells and centroids.

    Training runs on a hash-gated subset of ~`train_cap` vectors
    (default 256·k; pass 0 to force full-data training) and the final
    assignment pass covers the full set — see `_training_subset`.
    Exhaustive-probe searches (nprobe = k) are training-invariant by
    construction; pruned-probe recall floors are pinned in
    tests/test_ivf.py either way.

    Returns (assignments DataFrame (id, cluster int), centroids ndarray).
    """
    import numpy as np
    import pandas as pd

    cap = 256 * k if train_cap is None else train_cap
    local = _ivf_on_driver(embeddings, k, iters, id_col, vec_col, cap)
    if local is not None:
        return local

    spark = embeddings.sparkSession

    def assign(c: np.ndarray, over: DataFrame, col: str) -> DataFrame:
        # col "_id" gives the assignments; col "_vec" carries the vector
        # through the kernel for the Lloyd update, which needs only
        # (cluster, _vec): no join back to the train frame
        b = spark.sparkContext.broadcast(c)

        def fn(batches):
            C = b.value
            for pdf in batches:
                if not pdf.empty:
                    X = np.stack(pdf["_vec"].to_numpy()).astype("float64")
                    cl = _nearest_cell(X, C)
                    yield pd.DataFrame({col: pdf[col], "cluster": cl})

        return over.mapInPandas(
            fn, schema=f"{col} {dict(over.dtypes)[col]}, cluster int"
        )

    with _generations() as g:
        # one leaf for the whole build: every Lloyd round scans norm for
        # the assignment AND the centroid update, and the caller's plan
        # may be arbitrarily expensive (FastRP in the HDBSCAN chain) —
        # without the checkpoint each of the 2·iters+1 passes
        # re-executes it
        norm = g.keep(
            embeddings.select(
                F.col(id_col).alias("_id"), l2_normalize(vec_col).alias("_vec")
            )
        )
        train, sampled = _training_subset(norm, cap)
        if sampled:
            g.adopt(train)
        seed_rows = (
            train.select(
                "_id", "_vec", F.md5(F.col("_id").cast("string")).alias("_h")
            )
            .orderBy("_h")
            .limit(k)
            .collect()
        )
        cent = np.stack(
            [np.asarray(r["_vec"], dtype="float64") for r in seed_rows]
        )
        for _ in range(iters):
            means = (
                assign(cent, train, "_vec")
                .select("cluster", F.posexplode("_vec").alias("dim", "x"))
                .groupBy("cluster", "dim")
                .agg(F.avg("x").alias("mx"))
                .collect()
            )
            new = cent.copy()
            by_cluster: dict[int, dict[int, float]] = {}
            for r in means:
                by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["mx"]
            for c, dims in by_cluster.items():
                v = np.array([dims[i] for i in sorted(dims)], dtype="float64")
                n = np.linalg.norm(v)
                if n > 0:
                    new[c] = v / n
            cent = new
        out = assign(cent, norm, "_id").withColumnRenamed("_id", id_col)
        return g.result(out, norm), cent


# process-resident centroid matrices per persisted index dir (immutable
# once written); see ivf_topk_from_index. Keys are (kind, abspath) —
# IVF centroid matrices are 2-D, PQ codebooks 3-D, and one directory
# may legally host both (ADVICE r4: a path-only key returned a
# wrong-shaped array when the two probes shared a directory).
_CENTROID_CACHE: dict = {}


def ivf_index_build(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    iters: int = 3,
    id_col: str = "post_cid",
    vec_col: str = "vector",
    train_cap: int | None = None,
) -> None:
    """Build the IVF index ONCE and persist it (VERDICT r3 #2): centroids
    (n_cells × d — a few KB) and assignments (id, cluster) land as
    parquet under `path`/centroids and `path`/assignments. Queries then
    run probe-only via `ivf_topk_from_index`, which is the deployment
    shape of the reference's standing Qdrant collection
    (project/qdrant/consumer_post.py:42-49): the index is amortized
    infrastructure, not per-query work. Rebuild cadence is the caller's
    ingest policy, exactly as it would be for any vector store. The
    build's checkpoint (distributed placement) is freed once the
    assignments are written, their last reader."""
    import os

    assignments, cent = ivf_index(
        embeddings, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col,
        train_cap=train_cap,
    )
    spark = embeddings.sparkSession
    cent_rows = [
        (i, [float(x) for x in cent[i]]) for i in range(cent.shape[0])
    ]
    driver_frame(
        spark, cent_rows, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    assignments.write.mode("overwrite").parquet(
        os.path.join(path, "assignments")
    )
    _release_checkpoint(assignments)
    _CENTROID_CACHE.pop(("ivf", os.path.abspath(path)), None)


def ivf_topk_from_index(
    embeddings: DataFrame,
    index_path: str,
    query: DataFrame,
    k_results: int = 10,
    nprobe: int = 4,
    id_col: str = "post_cid",
    vec_col: str = "vector",
    query_col: str = "qvec",
) -> DataFrame:
    """Probe-only IVF top-k against a persisted index: collect the tiny
    centroid table, rank cells against the query driver-side (k × d
    dot products), then ONE semi-join of the embeddings against the
    probed cells' assignment rows + exact rerank. No Lloyd rounds, no
    assignment pass — the per-query cost is the scan the semi-join
    prunes plus a TakeOrderedAndProject. nprobe == n_cells reproduces
    `cosine_topk` exactly (the oracle configuration)."""
    import os

    import numpy as np

    spark = embeddings.sparkSession
    key = ("ivf", os.path.abspath(index_path))
    cent = _CENTROID_CACHE.get(key)
    if cent is None:
        cent_rows = spark.read.parquet(
            os.path.join(index_path, "centroids")
        ).collect()
        dim = len(cent_rows[0]["centroid"])
        cent = np.zeros((len(cent_rows), dim), dtype="float64")
        for r in cent_rows:
            cent[r["cell"]] = r["centroid"]
        # centroids are KB-scale and the index dir is immutable once
        # built (the catalog keys it by the data fingerprint), so a
        # resident copy per process is exactly what a serving node
        # keeps — one fewer Spark job per query
        _CENTROID_CACHE[key] = cent
    qv = np.asarray(
        query.select(query_col).first()[query_col], dtype="float64"
    )
    qn = np.linalg.norm(qv)
    if qn > 0:
        qv = qv / qn
    order = np.argsort(-(cent @ qv), kind="stable")
    probe = [int(c) for c in order[:nprobe]]

    assignments = spark.read.parquet(os.path.join(index_path, "assignments"))
    pruned = embeddings.join(
        assignments.where(F.col("cluster").isin(probe)).select(id_col),
        id_col,
        "leftsemi",
    )
    return cosine_topk(
        pruned,
        query.select(F.col(query_col).alias("qvec")),
        k=k_results,
        vec_col=vec_col,
        id_col=id_col,
    )


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "post_cid",
    vec_col: str = "vector",
    train_cap: int | None = None,
):
    """Product quantization: split the (L2-normalized) vector into `m`
    contiguous subspaces and run an independent deterministic k-means
    (same md5-smallest-id seeding as `ivf_index`) in each; a vector
    compresses to m small codes — at m=8, k=256 that is 8 bytes per
    vector versus 4·d, the compression regime a 100 TB embedding store
    actually operates in (int8_quantize is the 4× step; PQ is the
    ~64× step). One Arrow-batched assignment pass per Lloyd round
    covers ALL subspaces; the centroid update is a JVM-side exploded
    mean, collected at m·k·(d/m) = k·d values — KB-scale driver state.

    Training runs on a hash-gated ~`train_cap`-vector subset (default
    256·k, 0 = full data; see `_training_subset` — every subspace
    trains from the same rows) and only the final code-assignment pass
    reads the full set. Exhaustive-candidate searches (refine=None)
    rerank with exact cosine and are training-invariant.

    Returns (codebooks ndarray [m, k, d//m], codes DataFrame
    (id, codes array<int>)). d must be divisible by m.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession

    def assign_with(B: np.ndarray, over: DataFrame, dsub: int) -> DataFrame:
        b = spark.sparkContext.broadcast(B)

        def fn(batches):
            C = b.value  # (m, k, dsub)
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.stack(pdf["_vec"].to_numpy()).astype("float64")
                codes = np.empty((len(X), C.shape[0]), dtype="int32")
                for s in range(C.shape[0]):
                    sub = X[:, s * dsub : (s + 1) * dsub]
                    d2 = (
                        (sub * sub).sum(1)[:, None]
                        - 2.0 * (sub @ C[s].T)
                        + (C[s] * C[s]).sum(1)[None, :]
                    )
                    codes[:, s] = np.argmin(d2, axis=1)
                yield pd.DataFrame(
                    {"_id": pdf["_id"], "codes": list(codes)}
                )

        id_type = dict(over.dtypes)["_id"]
        return over.mapInPandas(
            fn, schema=f"_id {id_type}, codes array<int>"
        )

    with _generations() as g:
        # one leaf for the whole build, as in ivf_index; its blocks ride
        # on the returned codes (freed by pq_index_build after its write)
        norm = g.keep(
            embeddings.select(
                F.col(id_col).alias("_id"), l2_normalize(vec_col).alias("_vec")
            )
        )
        dim = len(norm.select("_vec").first()["_vec"])
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        dsub = dim // m

        train, sampled = _training_subset(
            norm, 256 * k if train_cap is None else train_cap
        )
        if sampled:
            g.adopt(train)

        seed_rows = (
            train.select(
                "_id", "_vec", F.md5(F.col("_id").cast("string")).alias("_h")
            )
            .orderBy("_h")
            .limit(k)
            .collect()
        )
        seeds = np.stack(
            [np.asarray(r["_vec"], dtype="float64") for r in seed_rows]
        )
        books = np.stack(
            [seeds[:, s * dsub : (s + 1) * dsub] for s in range(m)]
        )  # (m, k, dsub)

        for _ in range(iters):
            assigned = assign_with(books, train, dsub)
            means = (
                assigned.join(train, "_id")
                .select(
                    F.posexplode("_vec").alias("dim", "x"), "codes"
                )
                .select(
                    (F.col("dim") / dsub).cast("int").alias("sub"),
                    F.pmod(F.col("dim"), F.lit(dsub)).alias("subdim"),
                    F.element_at(
                        "codes", (F.col("dim") / dsub).cast("int") + 1
                    ).alias("cluster"),
                    "x",
                )
                .groupBy("sub", "cluster", "subdim")
                .agg(F.avg("x").alias("mx"))
                .collect()
            )
            new = books.copy()
            got: dict[tuple[int, int], dict[int, float]] = {}
            for r in means:
                got.setdefault((r["sub"], r["cluster"]), {})[r["subdim"]] = r["mx"]
            for (s, c), dims in got.items():
                new[s, c] = [dims[i] for i in sorted(dims)]
            books = new

        codes = assign_with(books, norm, dsub).withColumnRenamed("_id", id_col)
        return books, g.result(codes, norm)


@_owns_checkpoints
def pq_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k_results: int = 10,
    m: int = 8,
    n_centroids: int = 16,
    iters: int = 3,
    refine: int | None = 4,
    id_col: str = "post_cid",
    vec_col: str = "vector",
    query_col: str = "qvec",
    train_cap: int | None = None,
) -> DataFrame:
    """PQ-ADC top-k with exact rerank: train/compress (or reuse a
    trained codebook via `pq_train` directly), score every code row
    against the query's per-subspace lookup table (m table lookups per
    vector — no float vector is read in the scan phase), keep the
    `refine`·k best ADC candidates, exact-cosine rerank only those.
    Returns (id, score) like `cosine_topk`; deterministic end to end
    (seeded codebooks, (adc, id) candidate order), rows-only in the
    catalog — recall vs the float path is the pinned quality contract.
    """
    books, codes = pq_train(
        embeddings, m=m, k=n_centroids, iters=iters,
        id_col=id_col, vec_col=vec_col, train_cap=train_cap,
    )
    return _pq_adc_rerank(
        embeddings, books, codes, query,
        k_results=k_results, refine=refine,
        id_col=id_col, vec_col=vec_col, query_col=query_col,
    )


def _pq_adc_rerank(
    embeddings: DataFrame,
    books,
    codes: DataFrame,
    query: DataFrame,
    k_results: int,
    refine: int,
    id_col: str,
    vec_col: str,
    query_col: str,
) -> DataFrame:
    """Shared tail of the inline and persisted-index PQ paths: build the
    query's (m, k) ADC table (squared L2 to every sub-centroid — cosine
    on normalized vectors is monotone in L2), score the code table with
    m lookups per vector, keep refine·k candidates under the
    deterministic (adc, id) order, exact-cosine rerank.

    `refine=None` is the EXHAUSTIVE configuration (VERDICT r4 #1, the
    PQ analogue of nprobe=n_cells): every scored code row is a
    candidate, so the exact rerank provably returns the true top-k and
    the whole train→compress→ADC-scan→rerank machinery is
    oracle-checkable against the plain cosine_topk SQL. Finite refine
    is the production recall/candidate trade, pinned in tests."""
    import numpy as np

    dsub = books.shape[2]
    qv = np.asarray(
        query.select(query_col).first()[query_col], dtype="float64"
    )
    qn = np.linalg.norm(qv)
    if qn > 0:
        qv = qv / qn
    table = np.stack(
        [
            ((books[s] - qv[s * dsub : (s + 1) * dsub][None, :]) ** 2).sum(1)
            for s in range(books.shape[0])
        ]
    )
    spark = embeddings.sparkSession
    bt = spark.sparkContext.broadcast(table)

    def adc(batches):
        import pandas as pd

        T = bt.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.stack(pdf["codes"].to_numpy()).astype("int64")
            d = np.zeros(len(C))
            for s in range(T.shape[0]):
                d += T[s][C[:, s]]
            yield pd.DataFrame({"_cid": pdf[id_col], "adc": d})

    id_type = dict(codes.dtypes)[id_col]
    scored = codes.mapInPandas(adc, schema=f"_cid {id_type}, adc double")
    if refine is None:
        # exhaustive: no TakeOrdered cut — every code row survives the
        # ADC scan, so the rerank is exact (see docstring)
        cand = scored.select(F.col("_cid").alias(id_col))
    else:
        cand = (
            scored.orderBy("adc", "_cid")
            .limit(refine * k_results)
            .select(F.col("_cid").alias(id_col))
        )
    pruned = embeddings.join(cand, id_col, "leftsemi")
    return cosine_topk(
        pruned,
        query.select(F.col(query_col).alias("qvec")),
        k=k_results,
        vec_col=vec_col,
        id_col=id_col,
    )


def pq_index_build(
    embeddings: DataFrame,
    path: str,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "post_cid",
    vec_col: str = "vector",
    train_cap: int | None = None,
) -> None:
    """Persist a PQ index: codebooks ((sub, cell, centroid) — m·k rows,
    KB-scale) and the code table ((id, codes)) as parquet under `path`.
    Same build-once contract as `ivf_index_build`: the store a 100 TB
    deployment scans is the CODES, refreshed on ingest cadence, never
    per query."""
    import os

    books, codes = pq_train(
        embeddings, m=m, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        train_cap=train_cap,
    )
    spark = embeddings.sparkSession
    rows = [
        (s, c, [float(x) for x in books[s, c]])
        for s in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    driver_frame(
        spark, rows, "sub int, cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "codebooks")
    )
    codes.write.mode("overwrite").parquet(os.path.join(path, "codes"))
    _release_checkpoint(codes)
    _CENTROID_CACHE.pop(("pq", os.path.abspath(path)), None)


def pq_topk_from_index(
    embeddings: DataFrame,
    index_path: str,
    query: DataFrame,
    k_results: int = 10,
    refine: int | None = 4,
    id_col: str = "post_cid",
    vec_col: str = "vector",
    query_col: str = "qvec",
) -> DataFrame:
    """Probe-only PQ-ADC top-k against a persisted index: resident
    codebooks (same cache as the IVF centroids), ADC scan over the
    stored code table (8-byte codes, no float vectors read), exact
    rerank of refine·k candidates from the live embeddings."""
    import os

    import numpy as np

    spark = embeddings.sparkSession
    key = ("pq", os.path.abspath(index_path))
    books = _CENTROID_CACHE.get(key)
    if books is None:
        rows = spark.read.parquet(
            os.path.join(index_path, "codebooks")
        ).collect()
        m = max(r["sub"] for r in rows) + 1
        k = max(r["cell"] for r in rows) + 1
        dsub = len(rows[0]["centroid"])
        books = np.zeros((m, k, dsub))
        for r in rows:
            books[r["sub"], r["cell"]] = r["centroid"]
        _CENTROID_CACHE[key] = books
    codes = spark.read.parquet(os.path.join(index_path, "codes"))
    return _pq_adc_rerank(
        embeddings, books, codes, query,
        k_results=k_results, refine=refine,
        id_col=id_col, vec_col=vec_col, query_col=query_col,
    )


@_owns_checkpoints
def ivf_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k_results: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 3,
    id_col: str = "post_cid",
    vec_col: str = "vector",
    query_col: str = "qvec",
    train_cap: int | None = None,
) -> DataFrame:
    """IVF-pruned cosine top-k: exact search restricted to the nprobe
    cells whose centroids are nearest the query. nprobe == n_cells is
    exhaustive and exactly reproduces `cosine_topk` (the oracle-checked
    configuration); smaller nprobe trades recall for a ~n_cells/nprobe
    candidate reduction — the knob a 100 TB deployment actually turns.

    `query` is a one-row frame; `query_col` names its vector column
    (ADVICE r2 — parameterized like id_col/vec_col instead of a
    hardwired 'qvec').
    """
    import numpy as np

    assignments, cent = ivf_index(
        embeddings, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col,
        train_cap=train_cap,
    )
    qv = np.asarray(
        query.select(query_col).first()[query_col], dtype="float64"
    )
    qn = np.linalg.norm(qv)
    if qn > 0:
        qv = qv / qn
    # stable, as the persisted and served probes rank: tied centroid
    # scores resolve by cell index
    order = np.argsort(-(cent @ qv), kind="stable")
    probe = [int(c) for c in order[:nprobe]]

    pruned = embeddings.join(
        assignments.where(F.col("cluster").isin(probe)).select(id_col),
        id_col,
        "leftsemi",
    )
    return cosine_topk(
        pruned,
        query.select(F.col(query_col).alias("qvec")),
        k=k_results,
        vec_col=vec_col,
        id_col=id_col,
    )
