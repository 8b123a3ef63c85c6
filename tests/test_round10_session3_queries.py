"""Mechanics checks for the round-10 third-session catalog additions on
crafted inputs with hand-computed expectations (the standing
micro-fixture pattern of tests/test_round10_queries.py): the sf oracle
differential proves engine parity, these pin the arithmetic itself.

- bigram_lm_cross_entropy: quantized surprisal on a 2-doc corpus whose
  bigram/prefix counts are hand-countable.
- pii_redaction_stats: planted-PII counts and the redacted length on a
  doc_id divisible by 3, 4 AND 5 (all three classes fire) vs one where
  none do.
- regional_supplier_volume: the co-nation supplier predicate, region
  filter, and date filter each kill exactly one crafted lineitem.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from echo_chambers_detection_spark.catalog import QUERY_REGISTRY


def _write(df, sf_dir: str, name: str) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, f"{name}.parquet")
    )


def test_bigram_surprisal_closed_form(spark, tmp_path):
    # corpus bigrams: d1 "a b a b" -> (a,b),(b,a),(a,b); d2 "a b c" ->
    # (a,b),(b,c). c(a,b)=3, c(b,a)=1, c(b,c)=1; prefixes c(a,.)=3,
    # c(b,.)=2. surprisal = flog2(prefix) - flog2(bigram):
    # (a,b): 1-1=0, (b,a): 1-0=1, (b,c): 1-0=1.
    sf = str(tmp_path)
    _write(
        spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c"), (3, "x")],
            "doc_id long, text string",
        ),
        sf,
        "documents",
    )
    rows = {
        r["doc_id"]: (r["n_bigrams"], r["sum_surprisal"], r["max_surprisal"])
        for r in QUERY_REGISTRY["bigram_lm_cross_entropy"]
        .spark(spark, sf)
        .collect()
    }
    assert rows[1] == (3, 1, 1)  # 0 + 1 + 0
    assert rows[2] == (2, 1, 1)  # 0 + 1
    assert 3 not in rows  # single-token doc has no bigrams


def test_pii_redaction_planted_classes(spark, tmp_path):
    # doc_id=60 is divisible by 3, 4 and 5: all three planted classes
    # fire. Appended text: ' contact user10@mail4.example.com'
    # ' ip=10.60.0.60' ' tel +41-555-1060'. Redacted:
    # 'hello' + ' contact <EMAIL>' + ' ip=<IP>' + ' tel <TEL>'
    # lengths: 5 + 16 + 8 + 10 = 39. doc_id=1: nothing planted.
    sf = str(tmp_path)
    _write(
        spark.createDataFrame(
            [(60, "hello"), (1, "plain text")], "doc_id long, text string"
        ),
        sf,
        "documents",
    )
    rows = {
        r["doc_id"]: r.asDict()
        for r in QUERY_REGISTRY["pii_redaction_stats"].spark(spark, sf).collect()
    }
    assert rows[60]["n_emails"] == 1
    assert rows[60]["n_ips"] == 1
    assert rows[60]["n_phones"] == 1
    assert rows[60]["redacted_len"] == 39
    assert rows[1]["n_emails"] == 0
    assert rows[1]["n_ips"] == 0
    assert rows[1]["n_phones"] == 0
    assert rows[1]["redacted_len"] == len("plain text")


def test_regional_supplier_volume_predicates(spark, tmp_path):
    # One qualifying lineitem (ASIA customer + co-nation supplier +
    # 1997 order): revenue = 100 * (1 - 0.1) = 90. Killed one way each:
    # l2 by the co-nation predicate (supplier in AMERICA), o2 by the
    # date filter (1995), o3 by the region filter (AMERICA customer).
    sf = str(tmp_path)
    _write(
        spark.createDataFrame(
            [(0, "ASIA"), (1, "AMERICA")], "r_regionkey long, r_name string"
        ),
        sf,
        "region",
    )
    _write(
        spark.createDataFrame(
            [(0, "CHINA", 0), (1, "BRAZIL", 1)],
            "n_nationkey long, n_name string, n_regionkey long",
        ),
        sf,
        "nation",
    )
    _write(
        spark.createDataFrame(
            [(1, 0), (2, 1)], "c_custkey long, c_nationkey long"
        ),
        sf,
        "customer",
    )
    _write(
        spark.createDataFrame(
            [(1, 0), (2, 1)], "s_suppkey long, s_nationkey long"
        ),
        sf,
        "supplier",
    )
    _write(
        spark.createDataFrame(
            [
                (10, 1, dt.datetime(1997, 6, 1)),
                (20, 1, dt.datetime(1995, 6, 1)),
                (30, 2, dt.datetime(1997, 6, 1)),
            ],
            "o_orderkey long, o_custkey long, o_orderdate timestamp",
        ),
        sf,
        "orders",
    )
    _write(
        spark.createDataFrame(
            [
                (10, 1, 100.0, 0.1),  # qualifies: revenue 90
                (10, 2, 100.0, 0.0),  # co-nation predicate kills it
                (20, 1, 100.0, 0.0),  # date filter kills the order
                (30, 2, 100.0, 0.0),  # region filter kills the customer
            ],
            "l_orderkey long, l_suppkey long, l_extendedprice double, "
            "l_discount double",
        ),
        sf,
        "lineitem",
    )
    rows = (
        QUERY_REGISTRY["regional_supplier_volume"].spark(spark, sf).collect()
    )
    assert len(rows) == 1
    assert rows[0]["nation"] == "CHINA"
    assert rows[0]["revenue"] == 90.0
    assert rows[0]["line_count"] == 1


def test_bfs_distances_path_graph(spark):
    # path a-b-c-d plus isolated pair x-y: from seed 'a' (binary
    # smallest), dists are 0,1,2,3; x,y unreached and excluded.
    from echo_chambers_detection_spark.operators.graph import bfs_distances

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "u1 string, u2 string",
    )
    got = {r["node"]: r["dist"] for r in bfs_distances(e).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}
    # multi-source: seeds a and d meet in the middle
    got2 = {
        r["node"]: r["dist"]
        for r in bfs_distances(e, seeds=["a", "d"]).collect()
    }
    assert got2 == {"a": 0, "d": 0, "b": 1, "c": 1}
    # max_iter caps the neighborhood exactly
    got3 = {
        r["node"]: r["dist"] for r in bfs_distances(e, max_iter=1).collect()
    }
    assert got3 == {"a": 0, "b": 1}


def test_bellman_ford_khop_weighted_path(spark):
    # a-b (w=5), b-c (w=1), a-c (w=10): direct a-c costs 10, the
    # two-hop route a-b-c costs 6. k=1 sees only direct edges; k>=2
    # finds the cheaper two-hop route.
    from echo_chambers_detection_spark.operators.graph import (
        bellman_ford_khop,
    )

    e = spark.createDataFrame(
        [("a", "b", 5), ("b", "c", 1), ("a", "c", 10)],
        "u1 string, u2 string, weight long",
    )
    one = {r["node"]: r["cost"] for r in bellman_ford_khop(e, k=1).collect()}
    assert one == {"a": 0, "b": 5, "c": 10}
    two = {r["node"]: r["cost"] for r in bellman_ford_khop(e, k=2).collect()}
    assert two == {"a": 0, "b": 5, "c": 6}


def test_strong_tie_backbone_keep_weight(spark):
    from echo_chambers_detection_spark.operators.triangles import (
        strong_tie_backbone,
    )

    e = spark.createDataFrame(
        [("b", "a", 3), ("a", "c", 7)], "u1 string, u2 string, weight long"
    )
    rows = {
        (r["u1"], r["u2"]): r["weight"]
        for r in strong_tie_backbone(e, k=10, keep_weight=True).collect()
    }
    assert rows == {("a", "b"): 3, ("a", "c"): 7}


def test_landmark_bfs_shared_loop(spark):
    # path a-b-c-d with 2 landmarks (a, b): per-seed distances differ
    # per landmark, proving the (seed, node) state key.
    from echo_chambers_detection_spark.operators.graph import (
        bfs_landmark_distances,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "u1 string, u2 string"
    )
    got = {
        (r["seed"], r["node"]): r["dist"]
        for r in bfs_landmark_distances(e, n_landmarks=2).collect()
    }
    assert got == {
        ("a", "a"): 0, ("a", "b"): 1, ("a", "c"): 2, ("a", "d"): 3,
        ("b", "a"): 1, ("b", "b"): 0, ("b", "c"): 1, ("b", "d"): 2,
    }


def test_coengagement_encode_paths_identical(spark, monkeypatch):
    # The dictionary-encode path must be value-identical to the plain
    # two-string path (the 100 TB default beyond the user gate),
    # including on mixed-degree fixtures with a duplicate engagement
    # and users whose string order differs from insertion order.
    from echo_chambers_detection_spark.operators import coengagement
    from echo_chambers_detection_spark.operators.coengagement import (
        coengagement_edges,
    )

    eng = spark.createDataFrame(
        [
            ("zeta", "p1"), ("alpha", "p1"), ("mike", "p1"),
            ("zeta", "p2"), ("alpha", "p2"),
            ("mike", "p3"), ("alpha", "p3"), ("alpha", "p3"),
        ],
        "user_did string, post_uri string",
    )
    with monkeypatch.context() as m:
        m.setattr(coengagement, "ENCODE_USER_LIMIT", 0)  # 3 users: plain
        plain_df = coengagement_edges(eng)
    assert "_uid" not in plain_df._jdf.queryExecution().analyzed().toString()
    plain = {(r["u1"], r["u2"]): r["weight"] for r in plain_df.collect()}
    enc_df = coengagement_edges(eng)  # 3 users fit the default gate
    assert "_uid" in enc_df._jdf.queryExecution().analyzed().toString()
    enc = {(r["u1"], r["u2"]): r["weight"] for r in enc_df.collect()}
    assert plain == enc
    assert plain[("alpha", "zeta")] == 2
    assert plain[("alpha", "mike")] == 2
    assert plain[("mike", "zeta")] == 1


def test_seeded_random_walks_hash_rule(spark):
    # triangle a-b-c: at step s from node u, the walker picks the
    # neighbor minimizing md5(f"{wid}|{s}|{nbr}") (then nbr) — verify
    # the Spark trajectories against a direct Python replay.
    import hashlib

    from echo_chambers_detection_spark.operators.graph import (
        seeded_random_walks,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "u1 string, u2 string"
    )
    adj = {"a": ["b", "c"], "b": ["a", "c"], "c": ["a", "b"]}
    L = 4
    want = {}
    for wid in "abc":
        node = wid
        want[(wid, 0)] = node
        for s in range(1, L + 1):
            node = min(
                adj[node],
                key=lambda d: (
                    hashlib.md5(f"{wid}|{s}|{d}".encode()).hexdigest(),
                    d,
                ),
            )
            want[(wid, s)] = node
    got = {
        (r["wid"], r["step"]): r["node"]
        for r in seeded_random_walks(e, length=L).collect()
    }
    assert got == want


def test_mg_exact_regime_partition_invariant(spark):
    # below k distinct values the MG sketch is exact REGARDLESS of how
    # the stream is partitioned — the property that makes the catalog
    # query oracle-able. 1 vs 16 partitions must agree exactly.
    from echo_chambers_detection_spark.operators.eventstats import (
        misra_gries_heavy_hitters,
    )
    from pyspark.sql import functions as F

    def run(parts):
        df = spark.range(0, 20_000, 1, parts).select(
            F.concat(F.lit("v"), F.pmod(F.xxhash64("id"), 40)).alias("v")
        )
        return {
            (r["value"], r["est"], r["max_err"])
            for r in misra_gries_heavy_hitters(df, "v", k=256).collect()
        }

    one, many = run(1), run(16)
    assert one == many
    assert all(err == 0 for _, _, err in one)


def test_random_walks_partition_invariant(spark):
    # counter-based PRNG: trajectories depend only on (wid, step,
    # candidate), never on partitioning or arrival order.
    from echo_chambers_detection_spark.operators.graph import (
        seeded_random_walks,
    )

    rows = [(f"n{i}", f"n{(i * 3 + 1) % 40}") for i in range(40)]

    def run(parts):
        e = spark.createDataFrame(rows, "u1 string, u2 string").repartition(
            parts
        )
        return {
            (r["wid"], r["step"], r["node"])
            for r in seeded_random_walks(e, length=5).collect()
        }

    assert run(1) == run(13)


def test_weighted_random_walks_replica_rule(spark):
    # weighted triangle: verify the per-step argmin over
    # md5(wid|step|dst|j), j = 1..w replica keys against a pure-Python
    # replay (integer weight-proportional transitions).
    import hashlib

    from echo_chambers_detection_spark.operators.graph import (
        seeded_random_walks,
    )

    e = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 3), ("a", "c", 2)],
        "u1 string, u2 string, weight long",
    )
    adj = {"a": {"b": 1, "c": 2}, "b": {"a": 1, "c": 3}, "c": {"b": 3, "a": 2}}
    L = 4
    want = {}
    for wid in "abc":
        node = wid
        want[(wid, 0)] = node
        for s in range(1, L + 1):
            best = None
            for d, w in adj[node].items():
                for j in range(1, w + 1):
                    key = (
                        hashlib.md5(
                            f"{wid}|{s}|{d}|{j}".encode()
                        ).hexdigest(),
                        d,
                    )
                    if best is None or key < best[:2]:
                        best = (key[0], key[1], d)
            node = best[2]
            want[(wid, s)] = node
    got = {
        (r["wid"], r["step"]): r["node"]
        for r in seeded_random_walks(e, length=L, weighted=True).collect()
    }
    assert got == want
