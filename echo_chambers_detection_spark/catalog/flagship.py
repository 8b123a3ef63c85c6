"""Flagship: co-engagement projection (SURVEY.md J3/G1/A1).

Split from the single-file catalog (round 7, VERDICT r6 #7); bodies
are verbatim from that file — see its git history for provenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from echo_chambers_detection_spark.operators.coengagement import coengagement_edges

from echo_chambers_detection_spark.catalog._core import (
    _engagements,
    _t,
    register,
)

# ===========================================================================
# Flagship: co-engagement projection (SURVEY.md J3/G1/A1)
# ===========================================================================

# Shared derivation: events -> engagements (user_did, post_uri via props.k)
_ORACLE_ENGAGEMENTS_CTE = """
e AS (
    SELECT DISTINCT CAST(user_id AS VARCHAR) AS user_did,
           json_extract_string(props, '$.k') AS post_uri
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
)
"""


@register(
    "coengagement_edges",
    f"""
WITH {_ORACLE_ENGAGEMENTS_CTE}
SELECT a.user_did AS u1, b.user_did AS u2, COUNT(*) AS weight
FROM e a JOIN e b ON a.post_uri = b.post_uri AND a.user_did < b.user_did
GROUP BY 1, 2
""",
    doc="Weighted undirected co-engagement graph projection "
    "(reference project/metrics/community_detection.py:22-38)",
)
def q_coengagement_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return coengagement_edges(_engagements(spark, sf_dir))


@register(
    "coengagement_top_pairs",
    f"""
WITH {_ORACLE_ENGAGEMENTS_CTE},
w AS (
    SELECT a.user_did AS u1, b.user_did AS u2, COUNT(*) AS weight
    FROM e a JOIN e b ON a.post_uri = b.post_uri AND a.user_did < b.user_did
    GROUP BY 1, 2
)
SELECT u1, u2, weight FROM w
ORDER BY weight DESC, u1, u2 LIMIT 20
""",
    doc="Top-k strongest co-engagement pairs (TakeOrderedAndProject; "
    "SURVEY.md T1/T3). Same logical query as coengagement_edges but "
    "executed via the bitmap physical strategy — the engine's cost-based "
    "alternative when the item vocabulary is bounded (both plans are "
    "oracle-verified against the same SQL).",
)
def q_coengagement_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.coengagement import (
        coengagement_edges_bitmap,
    )

    return (
        coengagement_edges_bitmap(_engagements(spark, sf_dir), num_slots=None)
        .orderBy(F.desc("weight"), "u1", "u2")
        .limit(20)
    )




@register(
    "coengagement_weekly_snapshots",
    """
WITH e AS (
    SELECT DISTINCT CAST(user_id AS VARCHAR) AS user_did,
           json_extract_string(props, '$.k') AS post_uri,
           (CAST(ts AS DATE) - DATE '1970-01-05') // 7 AS wk
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
),
w AS (
    SELECT a.wk, a.user_did AS u1, b.user_did AS u2, COUNT(*) AS weight
    FROM e a JOIN e b ON a.post_uri = b.post_uri AND a.wk = b.wk
                     AND a.user_did < b.user_did
    GROUP BY 1, 2, 3
)
SELECT CAST(wk AS BIGINT) AS week,
       COUNT(*) AS n_edges,
       CAST(SUM(weight) AS BIGINT) AS total_weight,
       CAST(MAX(weight) AS BIGINT) AS max_weight
FROM w GROUP BY wk
""",
    doc="Time-sliced flagship: the co-engagement projection computed "
    "per Monday-aligned week (integer week indexes, the "
    "user_cohort_retention arithmetic) and rolled up to per-week "
    "graph-scale stats — the hypertable-rollup idiom over the graph "
    "series an echo-chamber TREND analysis consumes. Scale shape: "
    "adding the week to the join and dedup keys makes the self-join "
    "co-partitioned on (post, week) — strictly FINER partitions than "
    "the all-time projection, so the Sigma deg^2 fan-out per task "
    "shrinks and a viral post's pair block is bounded by its weekly "
    "slice, not its lifetime. The weekly rollup is a "
    "map-side-combining agg on the bounded week grid.",
)
def q_coengagement_weekly_snapshots(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # The rollup never emits user identities, so pair identity only
    # needs a BIJECTION users -> dense ints, not an order-preserving
    # one (any total order canonicalizes an unordered pair once; the
    # per-week edge multiset — and hence every rollup stat — is
    # invariant to which order). Dictionary-encode once (broadcast-
    # small user dim), run the whole pair stream as one packed 8-byte
    # long keyed by (week, pair), and skip the decode entirely —
    # measured ~2x over the two-string pair stream at sf0.1.
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    wk = F.floor(F.datediff(F.to_date("ts"), F.lit("1970-01-05")) / 7)
    e = (
        ev.select(
            F.col("user_id").cast("string").alias("user_did"),
            F.get_json_object("props", "$.k").alias("post_uri"),
            wk.alias("wk"),
        )
        .where(F.col("post_uri").isNotNull())
        .distinct()
    )
    dim = (
        e.select("user_did")
        .distinct()
        .withColumn("_uid", F.row_number().over(Window.orderBy("user_did")))
    )
    ee = e.join(F.broadcast(dim), "user_did").select("_uid", "post_uri", "wk")
    a, b = ee.alias("a"), ee.alias("b")
    wdf = (
        a.join(
            b,
            (F.col("a.post_uri") == F.col("b.post_uri"))
            & (F.col("a.wk") == F.col("b.wk")),
        )
        .where(F.col("a._uid") < F.col("b._uid"))
        .groupBy(
            F.col("a.wk").alias("wk"),
            (
                F.shiftleft(F.col("a._uid").cast("long"), 32)
                + F.col("b._uid")
            ).alias("_pk"),
        )
        .agg(F.count("*").alias("weight"))
    )
    return wdf.groupBy(F.col("wk").cast("bigint").alias("week")).agg(
        F.count("*").alias("n_edges"),
        F.sum("weight").cast("bigint").alias("total_weight"),
        F.max("weight").cast("bigint").alias("max_weight"),
    )
