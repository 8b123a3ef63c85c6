"""Distributed like-graph crawl source — the reference's S1 entry point
(reference project/kafka/producer_main.py:42-183: a single-threaded
atproto client walking seed likes -> likers -> per-user posts -> likers,
emitting profiles/posts/LIKED edges to Kafka).

Spark-first shape:

- The BFS frontier is a DataFrame; each wave's fetches run inside
  `mapInPandas` partitions — one HTTP session and one token-bucket rate
  limiter PER PARTITION (the cluster-wide request rate is
  partitions × rate_per_sec, which is the knob an operator actually
  tunes against the API's limits).
- Visited-set dedup (reference `seen_users`/`seen_posts`) is the U4
  pattern: `distinct` + anti-join against the accumulated frames —
  driver-side sets would die at crawl scale.
- Every wave is eagerly checkpointed the moment it is fetched: the
  fetch is a SIDE EFFECT, and a lazy plan would re-issue every HTTP
  call on each downstream action.
- Transport is a factory of plain-Python clients so executors can
  build their own (no driver connection is ever pickled): `
  HttpXrpcTransport` speaks the public XRPC GET endpoints the
  reference uses via authenticated atproto; tests inject a
  deterministic in-memory graph (`tests/test_crawl.py`) — no network.

Outputs mirror the reference's two Kafka topics + edge messages:
profiles (did, handle, display_name, description), posts (uri, cid,
text, author), like edges (user_did, uri, type='LIKED').
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from echo_chambers_detection_spark.session import driver_frame

PROFILE_SCHEMA = "did string, handle string, display_name string, description string"
POST_SCHEMA = "uri string, cid string, text string, author string"
LIKE_SCHEMA = "user_did string, uri string, type string"


@dataclass(frozen=True)
class CrawlConfig:
    """Reference env knobs (producer_main.py:16-19): MAX_LIKERS,
    MAX_ITERATIONS, per-user post limit; plus the per-partition rate."""

    max_likers: int = 20
    max_iterations: int = 2
    posts_per_user: int = 10
    likes_seed_limit: int = 10
    rate_per_sec: float = 10.0


class TokenBucket:
    """Minimal token-bucket limiter: `acquire()` blocks until a token
    is available. One instance per partition — capacity 1 second of
    tokens, so bursts after idle stay bounded."""

    def __init__(self, rate_per_sec: float):
        self.rate = max(rate_per_sec, 1e-9)
        self.tokens = self.rate
        self.last = time.monotonic()

    def acquire(self) -> None:
        while True:
            now = time.monotonic()
            self.tokens = min(
                self.rate, self.tokens + (now - self.last) * self.rate
            )
            self.last = now
            if self.tokens >= 1.0:
                self.tokens -= 1.0
                return
            time.sleep((1.0 - self.tokens) / self.rate)


class HttpXrpcTransport:
    """Transport over the public Bluesky XRPC GET endpoints the
    reference's atproto client wraps (get_author_feed / get_likes /
    get_actor_likes / get_profile). stdlib urllib only; constructed
    INSIDE the executor partition (one session per partition, the
    foreachPartition idiom). Network use is an operator decision —
    nothing in this repo's tests ever calls it."""

    BASE = "https://public.api.bsky.app/xrpc"

    def __init__(self, timeout: float = 10.0):
        self.timeout = timeout

    def _get(self, method: str, **params):
        import json
        import urllib.parse
        import urllib.request

        url = f"{self.BASE}/{method}?" + urllib.parse.urlencode(
            {k: v for k, v in params.items() if v is not None}
        )
        with urllib.request.urlopen(url, timeout=self.timeout) as r:
            return json.loads(r.read().decode("utf-8"))

    def get_profile(self, did: str) -> dict:
        p = self._get("app.bsky.actor.getProfile", actor=did)
        return {
            "did": p.get("did", did),
            "handle": p.get("handle", ""),
            "display_name": p.get("displayName", ""),
            "description": p.get("description", ""),
        }

    def get_author_posts(self, did: str, limit: int) -> list[dict]:
        res = self._get(
            "app.bsky.feed.getAuthorFeed", actor=did, limit=limit
        )
        out = []
        for item in res.get("feed", []):
            post = item.get("post", {})
            record = post.get("record", {})
            if "text" in record:
                out.append(
                    {
                        "uri": post.get("uri", ""),
                        "cid": post.get("cid", ""),
                        "text": record["text"],
                        "author": did,
                    }
                )
        return out

    def get_actor_likes(self, did: str, limit: int) -> list[dict]:
        res = self._get("app.bsky.feed.getActorLikes", actor=did, limit=limit)
        out = []
        for item in res.get("feed", []):
            post = item.get("post", {})
            record = post.get("record", {})
            if "text" in record:
                out.append(
                    {
                        "uri": post.get("uri", ""),
                        "cid": post.get("cid", ""),
                        "text": record["text"],
                        "author": post.get("author", {}).get("did", ""),
                    }
                )
        return out

    def get_likers(self, uri: str, limit: int) -> list[dict]:
        res = self._get("app.bsky.feed.getLikes", uri=uri, limit=limit)
        return [
            {
                "did": like.get("actor", {}).get("did", ""),
                "handle": like.get("actor", {}).get("handle", ""),
                "display_name": like.get("actor", {}).get("displayName", ""),
            }
            for like in res.get("likes", [])
        ]


def _fetch_users_wave(
    frontier: DataFrame,
    transport_factory: Callable[[], object],
    cfg: CrawlConfig,
) -> tuple[DataFrame, DataFrame]:
    """One mapInPandas pass over the user frontier: profile + authored
    posts per did (reference crawl() step 2 body). Returns (profiles,
    posts) — materialized by the caller."""
    import pandas as pd

    def fn(batches):
        t = transport_factory()
        bucket = TokenBucket(cfg.rate_per_sec)
        for pdf in batches:
            for did in pdf["did"]:
                bucket.acquire()
                prof = t.get_profile(did)
                bucket.acquire()
                posts = t.get_author_posts(did, cfg.posts_per_user)
                yield pd.DataFrame(
                    {
                        "kind": ["profile"]
                        + ["post"] * len(posts),
                        "did": [prof["did"]] + [""] * len(posts),
                        "handle": [prof["handle"]] + [""] * len(posts),
                        "display_name": [prof["display_name"]]
                        + [""] * len(posts),
                        "description": [prof["description"]]
                        + [""] * len(posts),
                        "uri": [""] + [p["uri"] for p in posts],
                        "cid": [""] + [p["cid"] for p in posts],
                        "text": [""] + [p["text"] for p in posts],
                        "author": [""] + [p["author"] for p in posts],
                    }
                )

    rows = frontier.mapInPandas(
        fn,
        schema="kind string, did string, handle string, "
        "display_name string, description string, uri string, "
        "cid string, text string, author string",
    ).localCheckpoint(eager=True)
    profiles = rows.where(F.col("kind") == "profile").select(
        "did", "handle", "display_name", "description"
    )
    posts = rows.where(F.col("kind") == "post").select(
        "uri", "cid", "text", "author"
    )
    return profiles, posts


def _fetch_likers(
    posts: DataFrame,
    transport_factory: Callable[[], object],
    cfg: CrawlConfig,
) -> DataFrame:
    """One mapInPandas pass over new posts: likers per uri → LIKED
    edges (reference get_likers loop). Materialized by the caller."""
    import pandas as pd

    def fn(batches):
        t = transport_factory()
        bucket = TokenBucket(cfg.rate_per_sec)
        for pdf in batches:
            for uri in pdf["uri"]:
                bucket.acquire()
                likers = t.get_likers(uri, cfg.max_likers)
                if likers:
                    yield pd.DataFrame(
                        {
                            "user_did": [u["did"] for u in likers],
                            "uri": [uri] * len(likers),
                            "type": ["LIKED"] * len(likers),
                        }
                    )

    return posts.select("uri").mapInPandas(
        fn, schema=LIKE_SCHEMA
    ).localCheckpoint(eager=True)


@dataclass
class CrawlResult:
    profiles: DataFrame
    posts: DataFrame
    likes: DataFrame


def crawl_like_graph(
    spark: SparkSession,
    seed_dids: Sequence[str],
    transport_factory: Callable[[], object],
    cfg: CrawlConfig = CrawlConfig(),
) -> CrawlResult:
    """BFS over the like graph, reference semantics
    (producer_main.py:124-183):

    wave 0: likers of each seed's liked posts form the first frontier —
    the reference emits NO posts and NO LIKED edges here (the seed
    likes only mark `seen_posts` and discover users), and neither do
    we (ADVICE r4: the earlier formulation emitted wave-0 edges whose
    posts were never fetched, breaking likes ⊆ posts);
    wave 1..max_iterations: for each unseen frontier user — profile +
    posts; for each unseen post — likers become LIKED edges and the
    next frontier. Users/posts are crawled at most once (anti-join
    visited sets, not driver sets).

    Seen-liker filter: the reference emits a LIKED edge only for likers
    not yet in `seen_users` (producer_main.py:170-177). For NEXT-wave
    likers (users first discovered by these edges) the reference and
    this version agree exactly — `seen_users` never gains them
    mid-wave, so a user liking several of the wave's posts yields an
    edge per post in both. For SAME-wave likers the reference's edge
    set depends on Python set iteration order (a wave user's like is
    emitted only if its own processing turn comes later); here ALL
    same-wave likers are filtered, i.e. the deterministic
    INTERSECTION over the reference's possible orderings. The crawl
    set itself is unaffected (those users are already being crawled),
    likes ⊆ posts holds, and every liked user in `likes` is a
    next-wave discovery — the reference's invariants."""
    import pandas as pd  # noqa: F401  (executor dependency, fail fast)

    seeds = driver_frame(spark, [(d,) for d in seed_dids], "did string").distinct()

    # --- step 1: seed's liked posts -> likers = first frontier --------
    def seed_fn(batches):
        import pandas as pd

        t = transport_factory()
        bucket = TokenBucket(cfg.rate_per_sec)
        for pdf in batches:
            for did in pdf["did"]:
                bucket.acquire()
                liked = t.get_actor_likes(did, cfg.likes_seed_limit)
                for post in liked:
                    bucket.acquire()
                    likers = t.get_likers(post["uri"], cfg.max_likers)
                    if likers:
                        yield pd.DataFrame(
                            {
                                "user_did": [u["did"] for u in likers],
                                "uri": [post["uri"]] * len(likers),
                                "type": ["LIKED"] * len(likers),
                            }
                        )

    seed_likes = seeds.mapInPandas(seed_fn, LIKE_SCHEMA).localCheckpoint(
        eager=True
    )

    seen_users = seeds
    seen_posts = seed_likes.select("uri").distinct().localCheckpoint(eager=True)
    frontier = (
        seed_likes.select(F.col("user_did").alias("did"))
        .distinct()
        .join(seen_users, "did", "left_anti")
        .localCheckpoint(eager=True)
    )

    empty_prof = driver_frame(spark, [], PROFILE_SCHEMA)
    empty_post = driver_frame(spark, [], POST_SCHEMA)
    empty_like = driver_frame(spark, [], LIKE_SCHEMA)
    profiles_acc, posts_acc, likes_acc = empty_prof, empty_post, empty_like

    for _ in range(cfg.max_iterations):
        if frontier.limit(1).count() == 0:
            break
        seen_users = seen_users.unionByName(frontier).localCheckpoint(eager=True)
        profiles, posts = _fetch_users_wave(frontier, transport_factory, cfg)
        new_posts = (
            posts.join(seen_posts, "uri", "left_anti")
            .dropDuplicates(["uri"])
            .localCheckpoint(eager=True)
        )
        seen_posts = seen_posts.unionByName(
            new_posts.select("uri")
        ).localCheckpoint(eager=True)
        # reference: edges only for likers NOT already seen
        # (producer_main.py:170-177) — see docstring on ordering
        likes = (
            _fetch_likers(new_posts, transport_factory, cfg)
            .join(
                seen_users.select(F.col("did").alias("user_did")),
                "user_did",
                "left_anti",
            )
            .localCheckpoint(eager=True)
        )
        profiles_acc = profiles_acc.unionByName(profiles)
        posts_acc = posts_acc.unionByName(new_posts)
        likes_acc = likes_acc.unionByName(likes)
        # likes are pre-filtered to unseen users, so they ARE the frontier
        frontier = (
            likes.select(F.col("user_did").alias("did"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    return CrawlResult(
        profiles=profiles_acc.dropDuplicates(["did"]),
        posts=posts_acc.dropDuplicates(["uri"]),
        likes=likes_acc.dropDuplicates(["user_did", "uri"]),
    )
