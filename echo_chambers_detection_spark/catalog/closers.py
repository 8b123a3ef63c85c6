"""Coverage closers for SURVEY.md section 2: run-scoped reads, Kafka shapes, misc.

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
    _dec_sum,
    _t,
    register,
)
from echo_chambers_detection_spark.catalog.flagship import (
    _ORACLE_ENGAGEMENTS_CTE,
)

# ===========================================================================
# Coverage closers for SURVEY.md §2: S17/J2/P10 run-scoped read, Kafka
# producer message shape (S2/F1), Catalyst-freebie rollup, set operations.
# ===========================================================================


@register(
    "membership_with_labels",
    """
WITH community AS (
    SELECT md5('r1:' || CAST(label AS VARCHAR)) AS id, 'r1' AS run_id, label
    FROM embeddings WHERE label != -1 GROUP BY label
),
membership AS (
    SELECT md5('r1:' || CAST(label AS VARCHAR)) AS community_id,
           CAST(vec_id AS VARCHAR) AS node_id
    FROM embeddings WHERE label != -1
)
SELECT m.node_id, c.label, c.id AS community_id
FROM membership m JOIN community c ON c.id = m.community_id
WHERE c.run_id = 'r1'
""",
    doc="Run-scoped membership read: membership JOIN community ON id WHERE "
    "run_id (reference get_communities_from_postgres, "
    "project/db/postgres.py:50-58; SURVEY.md S17/J2/P10)",
)
def q_membership_with_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.scd2 import save_communities

    labels = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("string").alias("node_id"), "label"
    )
    community, membership = save_communities(labels, "r1")
    return (
        membership.join(
            community.select(F.col("id"), "run_id", "label"),
            membership.community_id == F.col("id"),
        )
        .where(F.col("run_id") == "r1")
        .select("node_id", "label", F.col("id").alias("community_id"))
    )


@register(
    "kafka_producer_messages",
    """
SELECT to_json(struct_pack(
           user_did := CAST(user_id AS VARCHAR),
           uri := json_extract_string(props, '$.k'),
           type := 'LIKED')) AS value
FROM events
WHERE event_type = 'click' AND json_extract_string(props, '$.k') IS NOT NULL
""",
    doc="Kafka producer payload shape: to_json(struct(...)) — the engine "
    "side of `send_to_kafka` (reference "
    "project/kafka/producer_main.py:34-36,171-176; SURVEY.md S2/F1)",
)
def q_kafka_producer_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.where(
        (F.col("event_type") == "click")
        & F.get_json_object("props", "$.k").isNotNull()
    ).select(
        F.to_json(
            F.struct(
                F.col("user_id").cast("string").alias("user_did"),
                F.get_json_object("props", "$.k").alias("uri"),
                F.lit("LIKED").alias("type"),
            )
        ).alias("value")
    )


@register(
    "order_stats_rollup",
    """
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""",
    doc="ROLLUP grouping sets — a Catalyst freebie the reference has no "
    "equivalent for (SURVEY.md §2.4 note)",
)
def q_order_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            _dec_sum("o_totalprice").alias("total_price"),
        )
    )


@register(
    "event_value_percentiles",
    """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.95), 6) AS p95,
       ROUND(quantile_cont(value, 0.99), 6) AS p99,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
""",
    doc="Exact interpolated percentiles per group (SURVEY.md §2.4 "
    "superset): Spark `percentile` and DuckDB `quantile_cont` share "
    "linear-interpolation semantics, so even the quantile surface is "
    "hash-verified. The approximate path at scale is the same query "
    "with percentile_approx (t-digest, bounded memory) — swap, don't "
    "re-shape.",
)
def q_event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95D)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99D)"), 6).alias("p99"),
        F.count("*").alias("n"),
    )


@register(
    "event_value_outliers_mad",
    """
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_type, m.med,
           quantile_cont(abs(e.value - m.med), 0.5) AS mad
    FROM events e JOIN med m ON m.event_type = e.event_type
    GROUP BY e.event_type, m.med
)
SELECT e.event_type,
       ROUND(d.med, 6) AS med,
       ROUND(d.mad, 6) AS mad,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN abs(e.value - d.med) > 3 * 1.4826 * d.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN dev d ON d.event_type = e.event_type
GROUP BY e.event_type, d.med, d.mad
""",
    doc="Robust outlier detection per event type via median absolute "
    "deviation (SURVEY.md §2.4 superset, the robust companion to "
    "event_value_percentiles): two exact-percentile passes (median, "
    "then median of |value-median|), then a count of values beyond "
    "3·1.4826·MAD — the standard robust z-score gate data-quality "
    "pipelines run before training-data admission. Each pass is one "
    "map-side-combining groupBy plus one BROADCAST dimension join "
    "(one row per event type), so the event scan shuffles only its "
    "group keys; at 100 TB the exact percentile swaps for "
    "percentile_approx with the same two-pass shape.",
)
def q_event_value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type", "med").agg(
        F.expr("percentile(adev, 0.5D)").alias("mad")
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n",
            "n_outliers",
        )
    )


@register(
    "event_type_user_cube",
    """
SELECT event_type,
       CAST(user_id % 10 AS INTEGER) AS user_bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY CUBE (event_type, CAST(user_id % 10 AS INTEGER))
""",
    doc="CUBE grouping sets over (event_type, user bucket) — all four "
    "grouping combinations in one pass (SURVEY.md §2.4 superset next to "
    "order_stats_rollup's ROLLUP)",
)
def q_event_type_user_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 10).cast("int")
    )
    return ev.cube("event_type", "user_bucket").agg(
        F.count("*").alias("n_events"),
        _dec_sum("value").alias("total_value"),
    )


@register(
    "engaged_user_set_ops",
    f"""
WITH {_ORACLE_ENGAGEMENTS_CTE},
clickers AS (
    SELECT DISTINCT CAST(user_id AS VARCHAR) AS did FROM events
    WHERE event_type = 'click'
),
buyers AS (
    SELECT DISTINCT CAST(user_id AS VARCHAR) AS did FROM events
    WHERE event_type = 'purchase'
)
SELECT did, 'both' AS membership FROM (SELECT did FROM clickers INTERSECT SELECT did FROM buyers)
UNION ALL
SELECT did, 'click_only' AS membership FROM (SELECT did FROM clickers EXCEPT SELECT did FROM buyers)
""",
    doc="INTERSECT / EXCEPT set operations (SURVEY.md U2/U3 + the free "
    "intersect the reference never uses)",
)
def q_engaged_user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    clickers = (
        ev.where(F.col("event_type") == "click")
        .select(F.col("user_id").cast("string").alias("did"))
        .distinct()
    )
    buyers = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").cast("string").alias("did"))
        .distinct()
    )
    both = clickers.intersect(buyers).withColumn("membership", F.lit("both"))
    click_only = clickers.exceptAll(buyers).withColumn(
        "membership", F.lit("click_only")
    )
    return both.unionByName(click_only)


@register(
    "embedded_documents",
    r"""
WITH dtoks AS (
    SELECT CAST(doc_id AS VARCHAR) AS post_cid,
           list_filter(string_split_regex(lower(COALESCE(text, '')), '\s+'),
                       x -> x != '') AS t
    FROM documents
),
tok AS (SELECT post_cid, UNNEST(t) AS tk FROM dtoks),
nib AS (
    SELECT post_cid,
           strpos('0123456789abcdef', substr(md5(tk), 16, 1)) - 1 AS n0,
           strpos('0123456789abcdef', substr(md5(tk), 15, 1)) - 1 AS n1,
           strpos('0123456789abcdef', substr(md5(tk), 14, 1)) - 1 AS n2
    FROM tok
),
contrib AS (
    SELECT post_cid,
           n0 + 16 * (n1 % 2) AS dim,
           CASE WHEN n2 % 2 = 0 THEN 1.0 ELSE -1.0 END AS v
    FROM nib
),
sums AS (SELECT post_cid, dim, SUM(v) AS v FROM contrib GROUP BY 1, 2),
dense AS (
    SELECT d.post_cid, dd.dim, COALESCE(s.v, 0.0) AS v
    FROM (SELECT post_cid FROM dtoks) d
    CROSS JOIN (SELECT UNNEST(range(32)) AS dim) dd
    LEFT JOIN sums s ON s.post_cid = d.post_cid AND s.dim = dd.dim
),
nrm AS (
    SELECT post_cid, dim, v,
           SQRT(SUM(v * v) OVER (PARTITION BY post_cid)) AS norm
    FROM dense
)
SELECT post_cid, CAST(dim AS BIGINT) AS dim,
       ROUND(CAST(CAST(CASE WHEN norm > 0 THEN v / norm ELSE v END AS FLOAT)
                  AS DOUBLE), 6) AS val
FROM nrm
""",
    doc="Arrow-batched embedding inference over documents (reference "
    "SentenceTransformer.encode in the Qdrant consumer, SURVEY.md F12/G9; "
    "deterministic fake encoder, real model body documented). The fake "
    "encoder is md5 bag-of-tokens math, so the oracle reproduces it "
    "bit-for-bit — including the float32 quantization of the stored "
    "vector (CAST AS FLOAT before the final round). Exploded to "
    "(post_cid, dim, val) so value-hash comparison is well-defined; "
    "embed_texts itself is the array<float> API.",
)
def q_embedded_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.embed import embed_texts

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("post_cid"), "text"
    )
    emb = embed_texts(docs)
    return emb.select(
        "post_cid", F.posexplode("vector").alias("dim", "val")
    ).select(
        "post_cid",
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("val").cast("double"), 6).alias("val"),
    )


@register(
    "user_profiles_cleaned",
    """
SELECT DISTINCT CAST(user_id AS VARCHAR) AS did,
       COALESCE(NULLIF(TRIM('user-' || CAST(user_id AS VARCHAR)), ''), 'unknown') AS handle,
       COALESCE(NULLIF(TRIM('User ' || CAST(user_id AS VARCHAR)), ''), 'unknown') AS display_name
FROM events
""",
    doc="Profile upsert projection with unknown-coalescing "
    "(reference clean(), project/neo4j/consumer_user.py:39-41; SURVEY.md P1/S6)",
)
def q_user_profiles_cleaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    return users_from_events(_t(spark, sf_dir, "events"))




@register(
    "event_value_percentiles_approx",
    None,
    doc="Bounded-memory approximate percentiles (percentile_approx — "
    "the Greenwald-Khanna sketch Spark ships) next to the exact "
    "interpolated query, mirroring the HLL++/exact-count pairing of "
    "event_user_cardinalities: at 100 TB the exact percentile's "
    "per-group sort is the cost you swap away, and the sketch's "
    "rank-error contract (rel_rank_error <= 1/accuracy) is the quality "
    "gate — asserted per group in tests/test_entry.py, the same "
    "pattern as the HLL error-bound test. rel_error columns compare "
    "against the exact values so the driver's rows-only stamp still "
    "records the live gap.",
)
def q_event_value_percentiles_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    approx = ev.groupBy("event_type").agg(
        F.expr("percentile_approx(value, 0.5D, 1000)").alias("p50_a"),
        F.expr("percentile_approx(value, 0.95D, 1000)").alias("p95_a"),
        F.count("*").alias("n"),
    )
    exact = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("p50_x"),
        F.expr("percentile(value, 0.95D)").alias("p95_x"),
    )
    spread = ev.groupBy("event_type").agg(
        (F.max("value") - F.min("value")).alias("rng")
    )
    return (
        approx.join(exact, "event_type")
        .join(F.broadcast(spread), "event_type")
        .select(
            "event_type",
            F.round("p50_a", 6).alias("p50_approx"),
            F.round("p95_a", 6).alias("p95_approx"),
            # rng == 0 (constant-valued group) would make these 0/0 =
            # NaN; a constant group has zero approximation gap by
            # construction (ADVICE r7)
            F.round(
                F.when(F.col("rng") == 0, F.lit(0.0)).otherwise(
                    F.abs(F.col("p50_a") - F.col("p50_x")) / F.col("rng")
                ),
                6,
            ).alias("p50_rel_value_gap"),
            F.round(
                F.when(F.col("rng") == 0, F.lit(0.0)).otherwise(
                    F.abs(F.col("p95_a") - F.col("p95_x")) / F.col("rng")
                ),
                6,
            ).alias("p95_rel_value_gap"),
            "n",
        )
    )


# ===========================================================================
# DataSketches family (round 8): theta distinct + KLL quantiles, next to
# the HLL++ (event_user_cardinalities) and Greenwald-Khanna
# (event_value_percentiles_approx) sketches — the full
# mergeable-summary toolkit a 100 TB pipeline aggregates with.
# ===========================================================================


@register(
    "event_type_theta_users",
    """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users_theta,
       COUNT(*) AS n_events
FROM events GROUP BY event_type
""",
    doc="Distinct engaged users per event type via a THETA sketch "
    "(Spark 4's Apache DataSketches binding): mergeable across "
    "partitions/days like HLL, but supporting set algebra downstream. "
    "A theta sketch is EXACT below its nominal capacity — it retains "
    "every hash until 2^lgNomEntries and only then samples — so with "
    "lg=14 (16384) and the test tables' per-type cardinality in the "
    "hundreds, the estimate IS the exact distinct count and the query "
    "is oracle-hash-checkable (the same pairing trick as the planted "
    "recoveries: pin the regime where the approximate algorithm is "
    "provably exact). The sampling regime's error bound is covered by "
    "a 100k-cardinality test (tests/test_sketches.py).",
)
def q_event_type_theta_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.theta_sketch_estimate(
            F.theta_sketch_agg(F.col("user_id"), 14)
        ).alias("n_users_theta"),
        F.count("*").alias("n_events"),
    )


@register(
    "event_value_quantiles_kll",
    None,
    doc="Bounded-memory quantiles via the KLL sketch (Spark 4 "
    "DataSketches binding) — the modern replacement for "
    "Greenwald-Khanna with provably optimal space for a given rank "
    "error (~1.7% at the default k=200). Same live-gap contract as "
    "event_value_percentiles_approx: rel_value_gap columns compare "
    "against the exact interpolated percentiles in-query so the "
    "driver's rows-only stamp records the actual error; the rank-error "
    "bound is asserted in tests/test_sketches.py.",
)
def q_event_value_quantiles_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    kll = ev.groupBy("event_type").agg(
        F.kll_sketch_agg_double(F.col("value")).alias("sk"),
        F.count("*").alias("n"),
    )
    approx = kll.select(
        "event_type",
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50_k"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.95)).alias("p95_k"),
        "n",
    )
    exact = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("p50_x"),
        F.expr("percentile(value, 0.95D)").alias("p95_x"),
        (F.max("value") - F.min("value")).alias("rng"),
    )
    gap = lambda a, x: F.round(  # noqa: E731
        F.when(F.col("rng") == 0, F.lit(0.0)).otherwise(
            F.abs(F.col(a) - F.col(x)) / F.col("rng")
        ),
        6,
    )
    return approx.join(exact, "event_type").select(
        "event_type",
        F.round("p50_k", 6).alias("p50_kll"),
        F.round("p95_k", 6).alias("p95_kll"),
        gap("p50_k", "p50_x").alias("p50_rel_value_gap"),
        gap("p95_k", "p95_x").alias("p95_rel_value_gap"),
        "n",
    )


@register(
    "event_type_theta_overlap",
    """
WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
sizes AS (SELECT event_type, COUNT(*) AS n FROM u GROUP BY 1),
common AS (
    SELECT x.event_type AS t1, y.event_type AS t2, COUNT(*) AS c
    FROM u x JOIN u y USING (user_id)
    WHERE x.event_type < y.event_type
    GROUP BY 1, 2
)
SELECT s1.event_type AS t1, s2.event_type AS t2,
       COALESCE(c.c, 0) AS n_common,
       s1.n - COALESCE(c.c, 0) AS n_only_t1,
       s2.n - COALESCE(c.c, 0) AS n_only_t2
FROM sizes s1
JOIN sizes s2 ON s1.event_type < s2.event_type
LEFT JOIN common c ON c.t1 = s1.event_type AND c.t2 = s2.event_type
""",
    doc="Audience overlap between event types via THETA SET ALGEBRA "
    "(theta_intersection / theta_difference on the per-type sketches) "
    "— the operation HLL cannot do and the reason the theta family "
    "exists: one sketch per segment, then intersections/differences "
    "across any segment pair WITHOUT re-scanning the events. Same "
    "regime-pinning as event_type_theta_users: below nominal capacity "
    "(lg=14) a theta sketch retains every hash, and intersections/"
    "differences of exact-mode sketches are exact set ops, so all "
    "three counts hash-verify against the DuckDB distinct-join twin. "
    "Scale shape: ONE pass builds the per-type sketches (mergeable "
    "partial aggs); the pairwise algebra runs on a frame with one row "
    "per type — segment-pair count, not data size.",
)
def q_event_type_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # sketches only — the exact per-type distinct the sketch replaces must
    # NOT run alongside it (the n_only_* outputs come from theta_difference)
    sk = ev.groupBy("event_type").agg(
        F.theta_sketch_agg(F.col("user_id"), 14).alias("sk"),
    )
    a = sk.select(
        F.col("event_type").alias("t1"),
        F.col("sk").alias("sk1"),
    )
    b = sk.select(
        F.col("event_type").alias("t2"),
        F.col("sk").alias("sk2"),
    )
    pairs = a.join(b, F.col("t1") < F.col("t2"))
    inter = F.theta_sketch_estimate(
        F.theta_intersection(F.col("sk1"), F.col("sk2"))
    )
    return pairs.select(
        "t1",
        "t2",
        inter.cast("bigint").alias("n_common"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("sk1"), F.col("sk2"))
        ).cast("bigint").alias("n_only_t1"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("sk2"), F.col("sk1"))
        ).cast("bigint").alias("n_only_t2"),
    )


@register(
    "daily_hll_user_rollup",
    """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events GROUP BY 1
UNION ALL
SELECT 'ALL' AS day,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events
""",
    doc="The mergeable-sketch rollup pattern: one HLL sketch per day "
    "(a single pass over events), then the corpus total computed by "
    "UNIONING THE DAILY SKETCHES — never re-scanning the events. This "
    "is how a 100 TB pipeline maintains daily/monthly/all-time "
    "distinct counts: materialize the daily sketches once, fold them "
    "upward. Regime-pinned like the theta family: DataSketches HLL is "
    "coupon-exact below its promotion threshold (measured in-container "
    "at lg=16: exact through 5000 distinct, 3x the sf0.1 user "
    "cardinality), so per-day AND rolled-up counts hash-verify against "
    "exact COUNT(DISTINCT); the estimation regime's error is asserted "
    "separately in tests/test_sketches.py.",
)
def q_daily_hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.hll_sketch_agg(F.col("user_id"), 16).alias("sk"),
        F.count("*").alias("n_events"),
    )
    per_day = daily.select(
        "day",
        F.hll_sketch_estimate("sk").cast("bigint").alias("n_users"),
        "n_events",
    )
    total = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("bigint")
        .alias("n_users"),
        F.sum("n_events").alias("n_events"),
    ).select(F.lit("ALL").alias("day"), "n_users", "n_events")
    return per_day.unionAll(total)


@register(
    "event_type_user_diversity",
    """
WITH cu AS (
    SELECT event_type, user_id, COUNT(*) AS c
    FROM events GROUP BY event_type, user_id
)
SELECT event_type,
       CAST(SUM(c) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(c * c) AS BIGINT) AS sum_c2,
       ROUND(SUM(c) * SUM(c) * 1.0 / SUM(c * c), 6) AS inv_simpson
FROM cu GROUP BY event_type
""",
    doc="Per-event-type user-concentration profile (SURVEY.md §2.4 "
    "superset): inverse Simpson index n²/Σc² — the 'effective user "
    "count' a feed-quality pipeline watches for bot-dominated event "
    "types (uniform users → n_users; one dominant user → 1). The "
    "log-free diversity formulation keeps every distributed sum an "
    "exact BIGINT (the drop-the-monotone-log discipline of "
    "tfidf/pmi); the single terminal division is bit-identical "
    "across engines. Scale shape: one map-side-combining groupBy on "
    "(type,user), one on type — no windows, no floats in flight.",
)
def q_event_type_user_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cu = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("c"))
    )
    return cu.groupBy("event_type").agg(
        F.sum("c").alias("n_events"),
        F.count("*").alias("n_users"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
        F.round(
            F.sum("c") * F.sum("c") / F.sum(F.col("c") * F.col("c")), 6
        ).alias("inv_simpson"),
    )


@register(
    "user_activity_gini",
    """
WITH cu AS (
    SELECT event_type, user_id, COUNT(*) AS c
    FROM events GROUP BY event_type, user_id
),
rk AS (
    SELECT event_type, c,
           ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY c, user_id
           ) AS i,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM cu
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_users,
       CAST(SUM(c) AS BIGINT) AS n_events,
       CAST(SUM((2 * i - n - 1) * c) AS BIGINT) AS gini_num,
       ROUND(SUM((2 * i - n - 1) * c) * 1.0 / (MAX(n) * SUM(c)), 6)
           AS gini
FROM rk GROUP BY event_type
""",
    doc="Gini coefficient of per-user activity within each event type "
    "(SURVEY.md §2.4 superset, the inequality companion to "
    "event_type_user_diversity): the sorted-rank formula "
    "Σ(2i-n-1)·c_i / (n·Σc) with a TOTAL within-type order (c, "
    "user_id), so the rank — and therefore the exact BIGINT numerator "
    "— is deterministic on both engines; one terminal division. "
    "Scale shape: one groupBy on (type,user), one rank window "
    "partitioned by the bounded type key (each partition is that "
    "type's user set, the quantity being ranked — the sort IS the "
    "statistic), one map-side-combining agg.",
)
def q_user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cu = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("c"))
    )
    rk = cu.select(
        "event_type",
        "c",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("c", "user_id"))
        .alias("i"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    num = F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("c"))
    return rk.groupBy("event_type").agg(
        F.max("n").alias("n_users"),
        F.sum("c").alias("n_events"),
        num.alias("gini_num"),
        F.round(num / (F.max("n") * F.sum("c")), 6).alias("gini"),
    )


@register(
    "event_key_heavy_hitters",
    """
WITH kv AS (
    SELECT json_extract_string(props, '$.k') AS value
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
)
SELECT value, COUNT(*) AS est, CAST(0 AS BIGINT) AS max_err
FROM kv GROUP BY value
ORDER BY est DESC, value LIMIT 20
""",
    doc="Top-20 hottest engagement keys via a mergeable Misra-Gries "
    "heavy-hitters sketch (operators/eventstats.py — Spark 4 ships "
    "theta/HLL/KLL/GK but no frequent-items sketch, so this completes "
    "the mergeable-summary toolkit). MG(k=256) is EXACT whenever no "
    "per-partition stream nor the merged summary exceeds k distinct "
    "values — the bounded props.k vocabulary pins that regime, so "
    "est is the true count, max_err = 0, and the query "
    "oracle-hash-checks (the theta/KLL provably-exact-regime "
    "pairing). The truncation regime's est <= true <= est + max_err "
    "and (k+1)*max_err <= n guarantees are asserted on a skewed "
    "100k-row stream in tests/test_sketches.py.",
)
def q_event_key_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from echo_chambers_detection_spark.operators.eventstats import (
        misra_gries_heavy_hitters,
    )

    kv = _t(spark, sf_dir, "events").select(
        F.get_json_object(F.col("props"), "$.k").alias("k")
    )
    hh = misra_gries_heavy_hitters(kv, "k", k=256)
    return hh.orderBy(F.desc("est"), F.asc("value")).limit(20)
