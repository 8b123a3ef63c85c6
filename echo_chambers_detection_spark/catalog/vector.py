"""Vector layer (SURVEY.md M1: F7-F9, A7, T1/T2, G10).

Split from the single-file catalog (round 7, VERDICT r6 #7); bodies
are verbatim from that file — see its git history for provenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from echo_chambers_detection_spark.sources.domain import engagements_from_events

from echo_chambers_detection_spark.catalog._core import (
    _t,
    register,
)
from echo_chambers_detection_spark.catalog.flagship import (
    _ORACLE_ENGAGEMENTS_CTE,
)

# ===========================================================================
# Vector layer (SURVEY.md M1: F7-F9, A7, T1/T2, G10)
# ===========================================================================

# DuckDB's list_cosine_similarity computes in float32 (~1e-7 error), so
# oracles use explicit unnest + double math to match Spark's double exprs.
_ORACLE_EMB_EXPLODED = """
ex AS (
    SELECT CAST(vec_id AS VARCHAR) AS post_cid,
           CAST(UNNEST(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) - 1 AS i
    FROM embeddings
)
"""


def _query_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic query vector: embedding of vec_id=0."""
    from echo_chambers_detection_spark.sources.domain import post_embeddings

    emb = post_embeddings(_t(spark, sf_dir, "embeddings"))
    return emb.where(F.col("post_cid") == "0").select(
        F.col("vector").alias("qvec")
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.sources.domain import post_embeddings

    return post_embeddings(_t(spark, sf_dir, "embeddings"))


# The exact cosine top-k oracle, shared verbatim by every ANN query whose
# exhaustive configuration provably returns the true top-k (ann_topk and
# the IVF/PQ inline + persisted variants) — ONE definition so a change to
# the tie-break or rounding convention cannot silently diverge per query
# (round-5 review finding).
_ORACLE_COSINE_TOPK_SQL = f"""
WITH {_ORACLE_EMB_EXPLODED},
q AS (SELECT x, i FROM ex WHERE post_cid = '0'),
scores AS (
    SELECT e.post_cid,
           ROUND(SUM(e.x * q.x) / (SQRT(SUM(e.x * e.x)) * SQRT(SUM(q.x * q.x))), 6) AS score
    FROM ex e JOIN q ON e.i = q.i
    GROUP BY e.post_cid
)
SELECT post_cid, score FROM scores ORDER BY score DESC, post_cid LIMIT 10
"""


@register(
    "ann_topk",
    _ORACLE_COSINE_TOPK_SQL,
    doc="Exact cosine top-k search (reference Qdrant search limit=1000, "
    "SURVEY.md G10/T1; TakeOrderedAndProject, no global sort)",
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.ann import cosine_topk

    return cosine_topk(_emb(spark, sf_dir), _query_vec(spark, sf_dir), k=10)


@register(
    "ann_ivf_topk",
    _ORACLE_COSINE_TOPK_SQL,
    doc="IVF (inverted-file) ANN top-k — deterministic Lloyd coarse "
    "quantizer + cell-probe pruning (operators/ann.py::ivf_topk), the "
    "cluster-parallel substitute for the reference's per-node Qdrant "
    "HNSW (consumer_post.py:42-49). Run exhaustive (nprobe=n_cells) so "
    "the full index+probe machinery is oracle-exact; pruned-probe "
    "recall is pinned in tests/test_ivf.py, where the recall/candidate "
    "trade is the tunable.",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.ann import ivf_topk

    return ivf_topk(
        _emb(spark, sf_dir),
        _query_vec(spark, sf_dir),
        k_results=10,
        n_cells=16,
        nprobe=16,
        iters=2,
    )


def _ivf_index_dir(sf_dir: str, n_cells: int, iters: int) -> str:
    """Cache location for the persisted IVF index of one embeddings
    table. Keyed by the parquet file's identity (path + mtime + size) so
    a regenerated testdata directory can never serve a stale index —
    the operational analogue of a vector store's reindex-on-ingest."""
    import hashlib
    import os

    p = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(p)
    tag = hashlib.md5(
        f"{os.path.abspath(p)}:{st.st_mtime_ns}:{st.st_size}"
        f":{n_cells}:{iters}".encode()
    ).hexdigest()[:16]
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".cache",
        "ivf",
        tag,
    )


@register(
    "ann_ivf_probe_topk",
    _ORACLE_COSINE_TOPK_SQL,
    doc="IVF top-k against a PERSISTED index (VERDICT r3 #2): the Lloyd "
    "build runs once per embeddings table (centroids + assignments to "
    "parquet, operators/ann.py::ivf_index_build) and every query after "
    "that is probe-only — collect the KB-scale centroid table, rank "
    "cells driver-side, one semi-join + exact rerank "
    "(ivf_topk_from_index). This is the deployment shape of the "
    "reference's standing Qdrant collection: index amortized, queries "
    "cheap. Exhaustive probe (nprobe = n_cells) here so the persisted "
    "path is oracle-exact; the pruned-probe recall trade is pinned in "
    "tests/test_ivf.py.",
)
def q_ann_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from echo_chambers_detection_spark.operators.ann import (
        ivf_index_build,
        ivf_topk_from_index,
    )

    idx = _ivf_index_dir(sf_dir, n_cells=16, iters=2)
    if not os.path.exists(os.path.join(idx, "assignments", "_SUCCESS")):
        ivf_index_build(_emb(spark, sf_dir), idx, n_cells=16, iters=2)
    return ivf_topk_from_index(
        _emb(spark, sf_dir),
        idx,
        _query_vec(spark, sf_dir),
        k_results=10,
        nprobe=16,
    )


@register(
    "ann_int8_topk",
    f"""
WITH {_ORACLE_EMB_EXPLODED},
mx AS (SELECT post_cid, MAX(ABS(x)) AS amax FROM ex GROUP BY 1),
dq AS (
    SELECT e.post_cid, e.i,
           ROUND(e.x / (CASE WHEN m.amax > 0 THEN m.amax / 127.0 ELSE 1.0 END), 0)
           * (CASE WHEN m.amax > 0 THEN m.amax / 127.0 ELSE 1.0 END) AS x
    FROM ex e JOIN mx m ON m.post_cid = e.post_cid
),
q AS (SELECT i, x FROM dq WHERE post_cid = '0'),
scores AS (
    SELECT d.post_cid,
           ROUND(SUM(d.x * q.x) / (SQRT(SUM(d.x * d.x)) * SQRT(SUM(q.x * q.x))), 6) AS score
    FROM dq d JOIN q ON d.i = q.i
    GROUP BY d.post_cid
)
SELECT post_cid, score FROM scores ORDER BY score DESC, post_cid LIMIT 10
""",
    doc="Cosine top-k over the INT8-quantized embedding store: symmetric "
    "per-vector scalar quantization (scale = max|x|/127, round-half-"
    "away codes) — the 4x memory cut a 100 TB vector scan takes first. "
    "The quantization arithmetic is deterministic IEEE double math, so "
    "the quantized search itself is hash-checked against DuckDB doing "
    "the identical round/scale/rescore — stronger than a recall bound "
    "(which tests/test_vector_functions.py pins separately vs the "
    "float path).",
)
def q_ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.functions.vector import (
        int8_dequantize,
        int8_quantize,
    )
    from echo_chambers_detection_spark.operators.ann import cosine_topk

    deq = _emb(spark, sf_dir).select(
        "post_cid", int8_dequantize(int8_quantize("vector")).alias("vector")
    )
    qv = _query_vec(spark, sf_dir).select(
        int8_dequantize(int8_quantize("qvec")).alias("qvec")
    )
    return cosine_topk(deq, qv, k=10)


@register(
    "ann_pq_topk",
    _ORACLE_COSINE_TOPK_SQL,
    doc="Product-quantization ANN top-k (operators/ann.py::pq_topk): "
    "vectors compress to m sub-space codes (deterministic md5-seeded "
    "per-subspace k-means — at production m=8/k=256 that is 8 bytes "
    "per vector vs 4d, the ~64x regime a 100 TB store runs), the scan "
    "phase reads ONLY codes via the query's ADC lookup table, then an "
    "exact-cosine rerank of the candidates. Run EXHAUSTIVE "
    "(refine=None — every scored code row survives, VERDICT r4 #1, "
    "the PQ analogue of ann_ivf_topk's nprobe=n_cells) so the full "
    "train→compress→ADC→rerank machinery is oracle-exact against the "
    "plain cosine SQL; the pruned refine·k recall trade is pinned in "
    "tests/test_ivf.py (>=7/10 on RANDOM vectors, PQ's hardest "
    "regime).",
)
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.ann import pq_topk

    return pq_topk(
        _emb(spark, sf_dir),
        _query_vec(spark, sf_dir),
        k_results=10,
        m=8,
        n_centroids=16,
        iters=2,
        refine=None,
    )


@register(
    "ann_pq_probe_topk",
    _ORACLE_COSINE_TOPK_SQL,
    doc="PQ top-k against a PERSISTED index: codebooks + code table "
    "built once per embeddings table (fingerprint-keyed cache, same "
    "contract as ann_ivf_probe_topk), queries are probe-only — "
    "resident codebooks, ADC over stored 8-byte codes, exact rerank. "
    "This is the per-query shape of a PQ deployment; the inline "
    "ann_pq_topk keeps the self-contained train+search form. "
    "Exhaustive candidates (refine=None) so the persisted path is "
    "oracle-exact like ann_ivf_probe_topk; the pruned recall trade "
    "and inline/persisted parity are pinned in tests/test_ivf.py.",
)
def q_ann_pq_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from echo_chambers_detection_spark.operators.ann import (
        pq_index_build,
        pq_topk_from_index,
    )

    idx = os.path.join(
        _ivf_index_dir(sf_dir, n_cells=16, iters=2), "pq_m8"
    )
    if not os.path.exists(os.path.join(idx, "codes", "_SUCCESS")):
        pq_index_build(_emb(spark, sf_dir), idx, m=8, k=16, iters=2)
    return pq_topk_from_index(
        _emb(spark, sf_dir),
        idx,
        _query_vec(spark, sf_dir),
        k_results=10,
        refine=None,
    )


@register(
    "ann_extremes",
    f"""
WITH {_ORACLE_EMB_EXPLODED},
q AS (SELECT x, i FROM ex WHERE post_cid = '0'),
scores AS (
    SELECT e.post_cid,
           ROUND(SUM(e.x * q.x) / (SQRT(SUM(e.x * e.x)) * SQRT(SUM(q.x * q.x))), 6) AS score
    FROM ex e JOIN q ON e.i = q.i
    GROUP BY e.post_cid
)
SELECT * FROM (
    SELECT post_cid, score, 'closest' AS side FROM scores
    ORDER BY score DESC, post_cid LIMIT 5
)
UNION ALL
SELECT * FROM (
    SELECT post_cid, score, 'farthest' AS side FROM scores
    ORDER BY score ASC, post_cid LIMIT 5
)
""",
    doc="Closest/farthest head-tail slice (reference "
    "project/qdrant/post_distance_test.py:33-35, SURVEY.md T2)",
)
def q_ann_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.ann import cosine_extremes

    return cosine_extremes(_emb(spark, sf_dir), _query_vec(spark, sf_dir), n=5)


@register(
    "embedding_similarity_join",
    f"""
WITH {_ORACLE_EMB_EXPLODED},
scores AS (
    SELECT a.post_cid AS v1, b.post_cid AS v2,
           ROUND(SUM(a.x * b.x) / (SQRT(SUM(a.x * a.x)) * SQRT(SUM(b.x * b.x))), 6) AS score
    FROM ex a JOIN ex b ON a.i = b.i AND a.post_cid < b.post_cid
    GROUP BY 1, 2
)
SELECT v1, v2, score FROM scores WHERE score >= 0.3
""",
    doc="Exact all-pairs similarity join above threshold, executed as "
    "blocked GEMM tiles in applyInPandas (~15x the per-pair codegen fold; "
    "LSH-banded variant is the non-exact 100 TB path, SURVEY.md M6)",
)
def q_embedding_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.ann import (
        similarity_self_join_gemm,
    )

    return similarity_self_join_gemm(_emb(spark, sf_dir), threshold=0.3)


@register(
    "user_mean_embeddings",
    f"""
WITH {_ORACLE_ENGAGEMENTS_CTE},
ex AS (
    SELECT CAST(vec_id AS VARCHAR) AS post_cid,
           CAST(UNNEST(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) - 1 AS i
    FROM embeddings
),
nrm AS (
    SELECT post_cid, i,
           x / SQRT(SUM(x * x) OVER (PARTITION BY post_cid)) AS val
    FROM ex
),
joined AS (
    SELECT e.user_did, n.i AS dim, n.val
    FROM e JOIN nrm n ON n.post_cid = e.post_uri
),
mean AS (
    SELECT user_did, dim, AVG(val) AS mval FROM joined GROUP BY 1, 2
)
SELECT user_did, dim,
       ROUND(mval / SQRT(SUM(mval * mval) OVER (PARTITION BY user_did)), 6) AS val
FROM mean
""",
    doc="Per-user embedding = normalized mean of normalized engaged-post "
    "vectors, exploded to (user, dim, val) — reference "
    "project/metrics/metrics_interface.py:53-77 (SURVEY.md A7/F8)",
)
def q_user_mean_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.ann import (
        user_mean_embeddings_exploded,
    )

    eng = engagements_from_events(_t(spark, sf_dir, "events"))
    return user_mean_embeddings_exploded(eng, _emb(spark, sf_dir))


