"""Crawl source (sources/crawl.py — reference S1,
producer_main.py:124-183) against a deterministic in-memory transport:
BFS wave semantics, visited-set dedup, depth limit, and the token-bucket
limiter. No network anywhere.

The mock transport class is built inside a factory FUNCTION so
cloudpickle ships it to executors by value (the tests package is not
importable from Spark's Python workers)."""

from __future__ import annotations

import time

from echo_chambers_detection_spark.sources.crawl import (
    CrawlConfig,
    TokenBucket,
    crawl_like_graph,
)


def _make_mock_transport():
    # seed likes post:s0; its likers u1,u2 are wave 1; their posts'
    # likers bring u3 into wave 2; u3's post only re-likes seen users,
    # so the frontier drains. u2 liking p:u1a exercises the seen-user
    # skip.
    likes_of = {"did:seed": [("post:s0", "c0", "seed liked this", "did:a")]}
    likers = {
        "post:s0": ["did:u1", "did:u2"],
        "p:u1a": ["did:u2", "did:u3"],
        "p:u2a": ["did:u3"],
        "p:u3a": ["did:u1"],
    }
    posts_of = {
        "did:u1": [("p:u1a", "c1", "text u1a")],
        "did:u2": [("p:u2a", "c2", "text u2a")],
        "did:u3": [("p:u3a", "c3", "text u3a")],
    }

    class MockTransport:
        def get_profile(self, did):
            return {
                "did": did,
                "handle": did.replace("did:", "") + ".test",
                "display_name": did.upper(),
                "description": "",
            }

        def get_actor_likes(self, did, limit):
            return [
                {"uri": u, "cid": c, "text": t, "author": a}
                for u, c, t, a in likes_of.get(did, [])[:limit]
            ]

        def get_author_posts(self, did, limit):
            return [
                {"uri": u, "cid": c, "text": t, "author": did}
                for u, c, t in posts_of.get(did, [])[:limit]
            ]

        def get_likers(self, uri, limit):
            return [
                {"did": d, "handle": "", "display_name": ""}
                for d in likers.get(uri, [])[:limit]
            ]

    return MockTransport


def test_crawl_bfs_two_waves(spark):
    res = crawl_like_graph(
        spark,
        ["did:seed"],
        _make_mock_transport(),
        CrawlConfig(max_iterations=2, rate_per_sec=10_000.0),
    )
    profiles = {r["did"] for r in res.profiles.collect()}
    assert profiles == {"did:u1", "did:u2", "did:u3"}
    posts = {r["uri"]: r["author"] for r in res.posts.collect()}
    assert posts == {"p:u1a": "did:u1", "p:u2a": "did:u2", "p:u3a": "did:u3"}
    likes = {(r["user_did"], r["uri"]) for r in res.likes.collect()}
    # reference edge semantics (producer_main.py:170-177): wave-0 seed
    # likes emit NO edges, and seen likers are filtered — u1's like of
    # p:u3a (u1 seen since wave 1) is dropped in EVERY reference
    # ordering; u2's like of p:u1a (u2 in the same wave as u1) is
    # dropped in the orderings where u2 processes first, and this
    # implementation takes the deterministic intersection over
    # orderings (see crawl_like_graph docstring). u3's likes of BOTH
    # wave-1 posts survive — next-wave likers are never in seen_users
    # mid-wave, in the reference and here alike.
    assert likes == {
        ("did:u3", "p:u1a"),
        ("did:u3", "p:u2a"),
    }
    assert all(r["type"] == "LIKED" for r in res.likes.collect())
    # the reference invariant the r4 formulation broke: every LIKED uri
    # has a fetched post row
    post_uris = set(posts)
    assert {u for _, u in likes} <= post_uris
    # visited-set dedup: each profile exactly once even though u2/u3
    # are reachable along several like paths
    assert res.profiles.count() == 3


def test_crawl_results_own_every_checkpoint(spark):
    """One crawl's checkpoints (visited sets, frontiers, fetched waves)
    are owned by its three result frames: once a caller has read and
    released them, no RDD the crawl pinned is left behind."""
    from echo_chambers_detection_spark.operators.graph import (
        _release_checkpoint,
    )

    def pinned():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(i) for i in jmap.keySet().toArray()}

    base = pinned()
    res = crawl_like_graph(
        spark,
        ["did:seed"],
        _make_mock_transport(),
        CrawlConfig(max_iterations=2, rate_per_sec=10_000.0),
    )
    frames = (res.profiles, res.posts, res.likes)
    assert [f.count() for f in frames] == [3, 3, 2]
    _release_checkpoint(*frames)
    assert pinned() - base == set()


def test_crawl_depth_limit(spark):
    res = crawl_like_graph(
        spark,
        ["did:seed"],
        _make_mock_transport(),
        CrawlConfig(max_iterations=1, rate_per_sec=10_000.0),
    )
    assert {r["did"] for r in res.profiles.collect()} == {
        "did:u1",
        "did:u2",
    }
    # wave-2 user u3 was discovered as a liker but never crawled
    assert {r["uri"] for r in res.posts.collect()} == {"p:u1a", "p:u2a"}


def test_token_bucket_blocks_past_burst():
    bucket = TokenBucket(rate_per_sec=50.0)
    t0 = time.monotonic()
    for _ in range(60):  # 50 burst tokens + 10 paced at 50/s
        bucket.acquire()
    assert time.monotonic() - t0 >= 0.15


def test_http_transport_parses_xrpc_shapes(monkeypatch):
    """HttpXrpcTransport's response parsing against canned XRPC JSON
    bodies (the shapes the reference's atproto client returns) — `_get`
    is stubbed, so no network is touched."""
    from echo_chambers_detection_spark.sources.crawl import HttpXrpcTransport

    canned = {
        "app.bsky.actor.getProfile": {
            "did": "did:plc:abc",
            "handle": "alice.bsky.social",
            "displayName": "Alice",
            "description": "hi",
        },
        "app.bsky.feed.getAuthorFeed": {
            "feed": [
                {
                    "post": {
                        "uri": "at://did:plc:abc/post/1",
                        "cid": "c1",
                        "record": {"text": "hello"},
                    }
                },
                {"post": {"uri": "x", "cid": "c2", "record": {}}},  # no text
            ]
        },
        "app.bsky.feed.getLikes": {
            "likes": [
                {"actor": {"did": "did:plc:b", "handle": "b", "displayName": "B"}},
                {"actor": {}},
            ]
        },
        "app.bsky.feed.getActorLikes": {
            "feed": [
                {
                    "post": {
                        "uri": "at://p/9",
                        "cid": "c9",
                        "record": {"text": "liked"},
                        "author": {"did": "did:plc:z"},
                    }
                }
            ]
        },
    }
    t = HttpXrpcTransport()
    monkeypatch.setattr(
        t, "_get", lambda method, **params: canned[method]
    )
    prof = t.get_profile("did:plc:abc")
    assert prof == {
        "did": "did:plc:abc",
        "handle": "alice.bsky.social",
        "display_name": "Alice",
        "description": "hi",
    }
    posts = t.get_author_posts("did:plc:abc", 10)
    assert posts == [
        {
            "uri": "at://did:plc:abc/post/1",
            "cid": "c1",
            "text": "hello",
            "author": "did:plc:abc",
        }
    ]  # the record without text is dropped, reference behavior
    likers = t.get_likers("at://p/1", 5)
    assert likers[0]["did"] == "did:plc:b" and likers[1]["did"] == ""
    liked = t.get_actor_likes("did:plc:abc", 10)
    assert liked == [
        {"uri": "at://p/9", "cid": "c9", "text": "liked", "author": "did:plc:z"}
    ]
