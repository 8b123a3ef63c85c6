"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from echo_chambers_detection_spark import placement
from echo_chambers_detection_spark.catalog import QUERY_REGISTRY
from echo_chambers_detection_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# One representative query per hot code-path family, run at sf0.001
# before timing. First execution of a query shape pays JIT/codegen
# compilation, not data: ngram_jaccard_pairs measured 13.4s cold vs
# 5.8s warm at sf0.1, and 8.3s cold even at sf0.001 — so timing a cold
# shape measures the compiler. ~35s of tiny-SF warm-up removes a
# 20%+ run-to-run swing from the measured pass.
_WARMUP_QUERIES = [
    "ngram_jaccard_pairs",        # shingle explode + self-join + agg
    "coengagement_edges",         # big self-join + shuffle-hash
    "embedding_near_dup",         # applyInPandas GEMM tiles
    "louvain_user_communities",   # iterative loop + localgraph mirrors
    "tumbling_event_counts",      # window aggregation
    "ann_topk",                   # codegen vector exprs + TakeOrdered
    "minhash_lsh_candidates",     # minhash + band equi-join
    "simhash_near_pairs",         # bitwise banding
    "knn_graph_topk",             # tiled per-row top-k + window
    "density_clusters",           # FastRP + GEMM + components
    "scd2_membership_history",    # SCD-2 window/semi-join family
    "hdbscan_clusters",           # Boruvka/condense driver tail
    "pagerank_user_graph",        # share-normalized power iteration
    "semantic_dedup_md5_keep",    # cluster GEMM + components chain
    "semantic_dedup_keep_list",   # kmeans mode: Lloyd train + IVF assign
    #   (bench_semantic_dedup_110k read 18.1s in the r12 artifact vs a
    #   7.7s warm solo rep — the kmeans shapes were the one dedup path
    #   never warmed; md5 mode above shares only the GEMM stage)
    "multimodal_video_stats",     # Arrow synth + vendored codec decode
    "minhash_jaccard_estimate_error",  # checkpointed sig reuse joins
    "token_pmi_collocations",     # incidence self-join + broadcast dfs
    "triangle_counts",            # oriented wedge + closure joins
    "chunk_dedup_stats",          # chunk explode + freq join-back
    "bfs_hop_distances",          # traversal mirror: probe + Arrow collect
    "betweenness_sampled_scores",  # Brandes mirror: sigma + backward sweep
    "kcore_user_graph",           # peel loop; sits FIRST in the r12 window
    # the clique-modules trio leads the registry AND pins the
    # DISTRIBUTED community loops (long ids — the mirror absorbs the
    # string-id louvain_user_communities warm-up above, so these
    # shapes are otherwise first-executed inside the timed pass)
    "louvain_clique_modules",
    "leiden_clique_modules",
    "modularity_opt_clique_modules",
]
_WARMUP_SF_DIR = os.environ.get(
    "SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001"
)

# Host-drift calibration (VERDICT r4 #6): three pinned probe queries
# spanning distinct subsystems (scan+agg, self-join+shuffle, vector
# codegen) run right after warm-up, before the timed pass. The
# canonical seconds were measured on the round-5 machine; the emitted
# "drift" ratio (median measured/canonical) lets later rounds separate
# host slowdown from real regressions without manual worktree A/Bs
# (r4 burned a session proving a +21% "regression" was a slower host).
_DRIFT_PROBES = {
    "pricing_summary": 1.39,
    "coengagement_top_pairs": 2.52,
    "ann_topk": 0.54,
}


def _synth_clustered(spark, n: int, d: int = 16, kc: int = 50):
    """Deterministic clustered vectors built ENTIRELY from JVM
    expressions (no driver data, no RNG): node i belongs to planted
    center i mod kc; dim j = hash-derived center value + small
    hash-derived per-node noise. Purpose-built to push n past the
    measured auto-switch crossovers so the at-scale default paths get
    a timed bench row (VERDICT r4 #7)."""
    from pyspark.sql import functions as F

    df = spark.range(n).select(
        F.col("id").cast("string").alias("node"),
        F.pmod(F.col("id"), F.lit(kc)).alias("_c"),
        F.col("id").alias("_i"),
    )
    cols = []
    for j in range(d):
        center = F.pmod(F.xxhash64(F.col("_c"), F.lit(j)), F.lit(1000)) / 250.0
        noise = (
            F.pmod(F.xxhash64(F.col("_i"), F.lit(j + 7777)), F.lit(1000))
            / 10000.0
        )
        cols.append(center + noise)
    return df.select("node", F.array(*cols).alias("vector"))


def _at_scale_probes(spark, timings: dict) -> None:
    """Bench-only synthetic rows ABOVE the measured crossovers, so the
    auto-switch paths run in the timed bench rather than only in unit
    tests (VERDICT r4 #7): hdbscan_cluster(knn_mode='auto') at 40k
    nodes takes the IVF-candidate k-NN branch (crossover 32k) and the
    contracted-forest condense. Keys are prefixed bench_ and excluded
    from the catalog total (they have no sf-scaled input)."""
    import time

    from echo_chambers_detection_spark.operators.hdbscan import (
        hdbscan_cluster,
    )

    emb = _synth_clustered(spark, n=40_000)
    t0 = time.perf_counter()
    hdbscan_cluster(
        emb, min_pts=4, min_cluster_size=4, k=8, knn_mode="auto", nprobe=4
    ).write.format("noop").mode("overwrite").save()
    timings["bench_hdbscan_auto_40k"] = round(time.perf_counter() - t0, 3)


def _cpu_scaling_probe(spark, timings: dict) -> None:
    """CPU-SCALING evidence row (VERDICT r12 #7): PERF_r12's 8-vs-32-core
    block read geomean 1.04 — at sf0.1 the suite is job-latency-bound and
    nothing demonstrated parallel speedup. This row is JVM-CPU-bound by
    construction: MinHash signatures (the real dedup kernel —
    doc_shingles + minhash_signatures, md5 per (perm, shingle)) over
    N = 250k synthetic 16-token docs on 64 input partitions, 16
    permutations each: md5 evaluations of embarrassingly parallel
    whole-stage-codegen work, one map-side-combining aggregation, no
    heavy shuffle — wall should
    track core count until memory bandwidth. (A tiled-GEMM candidate
    was rejected measured: its Arrow/np.stack boundary made the
    8-vs-32 ratio read 1.17 — boundary-bound, not CPU-bound.)

    Correctness is structural and exact: 16 signature rows per doc and
    every doc distinct, asserted in one distributed aggregation."""
    import time

    from pyspark.sql import functions as F

    from echo_chambers_detection_spark.operators.dedup import (
        doc_shingles,
        minhash_signatures,
    )

    N, PERMS = 250_000, 16

    def docs_of(n: int):
        # 16 four-hex-char tokens per doc from two md5s: a tiny, stable
        # expression tree (a 40-column xxhash generator variant measured
        # a 270 s cold first run — whole-stage codegen pathologies are
        # exactly what this probe must not time)
        h1 = F.md5(F.col("id").cast("string"))
        h2 = F.md5(F.concat(F.lit("x"), F.col("id").cast("string")))
        toks = [
            F.substring(h, i * 4 + 1, 4) for h in (h1, h2) for i in range(8)
        ]
        return spark.range(0, n, 1, 64).select(
            F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
            F.concat_ws(" ", *toks).alias("text"),
        )

    def run(n: int):
        return minhash_signatures(
            doc_shingles(docs_of(n)), num_perm=PERMS
        ).localCheckpoint(eager=True)

    # untimed JIT ramp: the md5/shingle codegen loop runs interpreted
    # until C2 compiles it — measured 304 s cold vs 22 s steady for the
    # SAME plan. Two small passes put the timed pass on compiled code at
    # every core count, so the 8-vs-32 ratio reads compute, not JIT.
    run(20_000).unpersist()
    run(100_000).unpersist()
    t0 = time.perf_counter()
    sigs = run(N)
    timings["bench_minhash_cpu_250k"] = round(time.perf_counter() - t0, 3)
    stats = sigs.agg(
        F.count("*").alias("n"),
        F.count_distinct("doc_id").alias("docs"),
    ).first()
    sigs.unpersist()
    if stats["n"] != N * PERMS or stats["docs"] != N:
        raise AssertionError(
            f"bench_minhash_cpu_250k: {stats['n']} rows / {stats['docs']} "
            f"docs (want {N * PERMS} / {N})"
        )


def _semantic_dedup_scale_probe(spark, timings: dict) -> None:
    """SemDeDup at representative scale: 100k clustered vectors + 10k
    PLANTED exact duplicates (node i and dup_i share the identical
    vector, so they provably land in the same k-means cell and score
    cosine exactly 1.0). The keep-list must drop EXACTLY the 10k
    planted twins — with 12%-of-scale noise the non-twin cosine ceiling
    sits far below the 0.9999 gate, so a false positive or a missed
    twin both fail the assertion. Runs the kmeans production path end
    to end (train -> assign -> per-cluster GEMM -> distributed
    components -> keeper)."""
    import time

    from pyspark.sql import functions as F

    from echo_chambers_detection_spark.operators.dedup import (
        semantic_dedup_keep_list,
    )

    # _synth_clustered's noise (1% of center scale) leaves ~1e-4 of
    # random same-center pairs above any tight cosine gate (measured:
    # 84 of 1e8 pairs over 0.99999) — this probe needs noise big enough
    # (12% of scale) that NO non-twin pair approaches the gate, so the
    # assertion is exact
    def synth_noisy(n: int, d: int = 16, kc: int = 50):
        df = spark.range(n).select(
            F.col("id").cast("string").alias("node"),
            F.pmod(F.col("id"), F.lit(kc)).alias("_c"),
            F.col("id").alias("_i"),
        )
        cols = []
        for j in range(d):
            center = F.pmod(F.xxhash64(F.col("_c"), F.lit(j)), F.lit(1000)) / 250.0
            noise = (
                F.pmod(F.xxhash64(F.col("_i"), F.lit(j + 7777)), F.lit(1000))
                / 2000.0
            )
            cols.append(center + noise)
        return df.select("node", F.array(*cols).alias("vector"))

    base = synth_noisy(100_000)
    dups = (
        base.where(F.col("node").cast("long") < 10_000)
        .select(F.concat(F.lit("d"), F.col("node")).alias("node"), "vector")
    )
    emb = base.unionAll(dups).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    # k=32: the ivf training pass dominates this probe (~64s of the
    # k=16 run's 264s total was Lloyd + assignment); 32 cells halve the
    # per-cluster GEMM surface and the blocked kernel keeps each Arrow
    # task's float surface capped either way
    dropped = semantic_dedup_keep_list(
        emb, threshold=0.9999, mode="kmeans", k=32, id_col="node"
    ).localCheckpoint(eager=True)
    timings["bench_semantic_dedup_110k"] = round(time.perf_counter() - t0, 3)
    n = dropped.count()
    # keeper convention: min id — 'd<i>' > '<i>' lexicographically never
    # holds uniformly ('d' > digits), so each component's keeper is the
    # ORIGINAL node and the dropped row is its planted twin
    bad = dropped.where(
        F.col("node") != F.concat(F.lit("d"), F.col("keeper"))
    ).count()
    emb.unpersist()
    dropped.unpersist()
    if n != 10_000 or bad:
        raise AssertionError(
            f"semantic dedup scale probe wrong: dropped {n} (want 10000), "
            f"{bad} with a non-twin keeper"
        )


@placement.distributed(
    "kcore", "connected_components", "pagerank", "betweenness", "tricount"
)
def _graph_scale_probes(spark, timings: dict) -> None:
    """Distributed community-detection rows at REPRESENTATIVE scale
    (VERDICT r5 #1) on a 100k-node planted-partition graph with >=5M
    DIRECTED edge rows. The rows' kernels are forced distributed, so
    the iterative DataFrame loops — the actual 100 TB code path — are
    what gets timed, not the driver-local numpy mirror, whatever
    driver budget the host gives. Louvain and Leiden are left to
    placement: their 6.2M-row level 0 is over the budget on every host
    (`placement`: past the 1 GiB result-size cap), and their coarse
    levels cross over to the mirror, as at scale. So is the layered
    BFS row, which the traversal mirror takes from a 4g heap up. Each row
    carries a planted-recovery assertion (split/merge purity >= 0.9,
    two-sided so neither block-splitting nor block-merging can pass
    silently); a bench that times a wrong answer is worse than a
    failure, so recovery misses raise."""
    import time

    from echo_chambers_detection_spark.operators import graph as G
    from echo_chambers_detection_spark.operators.planted import (
        planted_partition_edges,
        planted_recovery_stats,
    )

    NB, BS = 50, 2000  # 100k nodes, blocks of 2000

    def run(key, make_edges, algo, min_purity=0.9, check="recovery"):
        edges = make_edges()
        t0 = time.perf_counter()
        out = algo(edges).localCheckpoint(eager=True)
        timings[key] = round(time.perf_counter() - t0, 3)
        if check == "recovery":
            sp, mg = planted_recovery_stats(out, BS)
            if min(sp, mg) < min_purity:
                raise AssertionError(
                    f"{key}: planted recovery below bar — "
                    f"split={sp:.4f} merge={mg:.4f} (need >= {min_purity})"
                )
        else:  # k-core: every node of the 2d-regular graph has core 2d
            from pyspark.sql import functions as F

            bad = out.where(F.col("core_value") != check).count()
            if bad:
                raise AssertionError(f"{key}: {bad} nodes off core {check}")
        out.unpersist()

    # d=25 -> 2.5M undirected / 5M directed rows
    e25 = lambda: planted_partition_edges(  # noqa: E731
        spark, NB, BS, 25, bridges=False, partitions=64
    )
    run(
        "bench_kcore_planted_5m",
        e25,
        lambda e: G.kcore(e.select("u1", "u2")),
        check=50,
    )
    run(
        "bench_cc_planted_5m",
        e25,
        lambda e: G.connected_components(e.select("u1", "u2"), max_iter=80)
        .withColumnRenamed("component", "community"),
    )
    run(
        "bench_lpa_planted_5m",
        e25,
        lambda e: G.label_propagation(e.select("u1", "u2")),
    )

    # BFS on a layered expander: 5 layers x 100k nodes, each node
    # 25-regular into the next layer via a modular pattern that covers
    # every residue, NO intra-layer or skip edges — so every node's
    # distance from the layer-0 seed is CLOSED-FORM (its layer index)
    # and the at-scale row fully verifies all 500,001 distances
    # exactly, the traversal-family analogue of the pagerank
    # uniform-fixpoint check below. ~10.1M input edges (100k seed
    # fan-in + 4 layer transitions x 2.5M), diameter 5:
    # throughput-shaped (each round joins the full edge frame against
    # a 100k-node frontier), not round-latency-shaped.
    def _check_bfs_layered(timings_key: str) -> None:
        from pyspark.sql import functions as F

        L, M, D = 5, 100_000, 25  # layers, layer size, out-degree
        nid = lambda layer, i: F.lit(layer) * 10_000_000 + i  # noqa: E731
        # seed 0 (= layer 0) -> every layer-1 node; then each layer-k
        # node i -> layer-(k+1) nodes (7i + 13j) % M, j < D. gcd(7, M)
        # = 1 makes every next-layer residue covered, and there are no
        # intra-layer or skip edges, so dist(layer-k node) = k exactly.
        fan = spark.range(D).select(F.col("id").alias("j"))
        parts = [
            spark.range(0, M, 1, 32).select(
                F.lit(0).cast("long").alias("u1"),
                nid(1, F.col("id")).alias("u2"),
            )
        ]
        for k in range(1, L):
            parts.append(
                spark.range(0, M, 1, 32)
                .crossJoin(fan)
                .select(
                    nid(k, F.col("id")).alias("u1"),
                    nid(
                        k + 1, (F.col("id") * 7 + F.col("j") * 13) % M
                    ).alias("u2"),
                )
            )
        edges = parts[0]
        for p in parts[1:]:
            edges = edges.unionAll(p)
        edges = edges.localCheckpoint(eager=True)
        t0 = time.perf_counter()
        d = G.bfs_distances(edges, seeds=[0], max_iter=L + 1).localCheckpoint(
            eager=True
        )
        timings[timings_key] = round(time.perf_counter() - t0, 3)
        total = d.count()
        bad = d.where(
            F.col("dist") != F.floor(F.col("node") / 10_000_000)
        ).count()
        if total != L * M + 1 or bad:
            raise AssertionError(
                f"{timings_key}: {total}/{L * M + 1} reached, {bad} "
                "distances off the layer-index closed form"
            )
        d.unpersist()
        edges.unpersist()

    _check_bfs_layered("bench_bfs_layered_500k")

    # Brandes betweenness on a 250k-node layered expander (5.05M input
    # edges), FORCED onto the distributed path — the honest 100 TB code
    # path; the traversal mirror would otherwise absorb this fixture.
    # Closed form from the layer-0 seed: every layer-k node has
    # in-degree exactly 25 (gcd(7, M) = 1 coverage), so
    # sigma(layer k) = 25^(k-1) and the dependency telescopes:
    # delta(v) = 1 + delta(layer+1), i.e. bc(v) = L - layer(v) (0 for
    # the seed and the leaf layer). Verified distributedly over ALL
    # nodes with 1e-8 tolerance — the 1/25 sigma ratios are non-dyadic,
    # so float association noise is expected here, unlike the dyadic
    # parity fixtures in tests/test_round11_queries.py.
    def _check_betweenness_layered(timings_key: str) -> None:
        from pyspark.sql import functions as F

        L, M, D = 5, 50_000, 25
        nid = lambda layer, i: F.lit(layer) * 10_000_000 + i  # noqa: E731
        fan = spark.range(D).select(F.col("id").alias("j"))
        parts = [
            spark.range(0, M, 1, 32).select(
                F.lit(0).cast("long").alias("u1"),
                nid(1, F.col("id")).alias("u2"),
            )
        ]
        for k in range(1, L):
            parts.append(
                spark.range(0, M, 1, 32)
                .crossJoin(fan)
                .select(
                    nid(k, F.col("id")).alias("u1"),
                    nid(
                        k + 1, (F.col("id") * 7 + F.col("j") * 13) % M
                    ).alias("u2"),
                )
            )
        edges = parts[0]
        for p in parts[1:]:
            edges = edges.unionAll(p)
        edges = edges.localCheckpoint(eager=True)
        t0 = time.perf_counter()
        bc = G.brandes_betweenness(
            edges, n_sources=1, max_iter=L + 1
        ).localCheckpoint(eager=True)
        timings[timings_key] = round(time.perf_counter() - t0, 3)
        layer = F.floor(F.col("node") / 10_000_000)
        expected = F.when(layer == 0, F.lit(0.0)).otherwise(
            (F.lit(L) - layer).cast("double")
        )
        total = bc.count()
        bad = bc.where(
            F.abs(F.col("betweenness") - expected) > 1e-8
        ).count()
        if total != L * M + 1 or bad:
            raise AssertionError(
                f"{timings_key}: {total}/{L * M + 1} nodes, {bad} "
                "betweenness values off the telescoped closed form"
            )
        bc.unpersist()
        edges.unpersist()

    _check_betweenness_layered("bench_betweenness_layered_250k")

    # PageRank on the 50-regular fixture: the exact fixpoint is uniform
    # 1/n, so correctness is a closed-form max-deviation assertion —
    # floating error only (each round re-derives uniform from uniform)
    def _check_pagerank_uniform(timings_key: str) -> None:
        from pyspark.sql import functions as F

        edges = e25()
        t0 = time.perf_counter()
        ranks = G.pagerank(
            edges.select("u1", "u2"), max_iter=5, tol=0.0
        ).localCheckpoint(eager=True)
        timings[timings_key] = round(time.perf_counter() - t0, 3)
        n = NB * BS
        dev = ranks.agg(
            F.max(F.abs(F.col("rank") - F.lit(1.0 / n))).alias("d")
        ).first()["d"]
        if dev > 1e-9:
            raise AssertionError(
                f"{timings_key}: rank deviates {dev:.3e} from the "
                "uniform fixpoint (floating noise bound 1e-9)"
            )
        ranks.unpersist()

    _check_pagerank_uniform("bench_pagerank_planted_5m")

    # ---- paired interleaved Leiden/Louvain medians (VERDICT r10 #1,
    # trimmed per VERDICT r11 #8) -------------------------------------
    # The planted loop rows individually swing ~2x with host sampling;
    # interleaving A/B/A/B/A/B inside ONE bench run puts the sampling
    # variance in the artifact itself: the official rows are the MEDIAN
    # of 3, the per-rep rows stay visible, and the ratio row is
    # median/median — host scheduling noise now has to bias three
    # alternating pairs the same way to fake a plan regression (the
    # job-count ceilings in tests/test_structural_jobcounts.py guard
    # the plan itself). Round-12 trim: BOTH algorithms now run on the
    # SAME d=31 fixture (6.2M directed rows), so every ratio row is
    # same-fixture by construction — the r11 protocol's separate
    # 2-draw louvain-d31 control and the louvain-d25 leg (~75s/run
    # combined) measured the same two quantities. Louvain's at-scale
    # recovery holds on d=31 (measured split=0.993 merge=1.000; the
    # d=25 fixture mattered for LEIDEN's recovery, which is why leiden
    # moved to d=31 in r8), and both algorithms assert >=0.9 recovery
    # on rep 1. The d=25 planted rows above (kcore/cc/lpa) still
    # exercise that fixture. Fixture is built ONCE and checkpointed so
    # reps time the algorithm, not the generator; recovery is asserted
    # on rep 1 only (the algorithms are deterministic on a fixed
    # fixture — later reps recompute the identical partition).
    e_lei = planted_partition_edges(
        spark, NB, BS, 31, bridges=True, partitions=64
    ).localCheckpoint(eager=True)
    paired_reps: dict[str, list] = {"louvain": [], "leiden": []}

    def _paired_rep(rep: int) -> None:
        for algo_name, algo in (
            ("louvain", lambda e: G.louvain(e, max_levels=2, max_rounds=4)),
            ("leiden", lambda e: G.leiden(e, max_levels=2, max_rounds=4)),
        ):
            t0 = time.perf_counter()
            out = algo(e_lei).localCheckpoint(eager=True)
            dt = round(time.perf_counter() - t0, 3)
            paired_reps[algo_name].append(dt)
            timings[f"bench_{algo_name}_paired_rep{rep + 1}"] = dt
            if rep == 0:
                sp, mg = planted_recovery_stats(out, BS)
                if min(sp, mg) < 0.9:
                    raise AssertionError(
                        f"bench_{algo_name}_paired: planted recovery "
                        f"below bar — split={sp:.4f} merge={mg:.4f}"
                    )
            out.unpersist()
        spark.sparkContext._jvm.System.gc()

    for rep in range(3):
        _paired_rep(rep)
    # ADAPTIVE extension, capped at ONE extra pair (VERDICT r11 #8:
    # min/min and the same-fixture construction are standing artifacts
    # now, so one clean draw is all a burst recovery needs; clean
    # samples with spread < 1.6 pay nothing).
    spread = lambda xs: max(xs) / min(xs)  # noqa: E731
    if (
        spread(paired_reps["leiden"]) > 1.6
        or spread(paired_reps["louvain"]) > 1.6
    ):
        _paired_rep(3)
    e_lei.unpersist()
    _median = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    # bench_louvain_planted_5m retired with the d=25 leg (r11 #8);
    # bench_louvain_d31_same_fixture keeps its r11 name/meaning (min
    # louvain on the d=31 frame) for round-over-round continuity.
    timings["bench_louvain_d31_same_fixture"] = min(paired_reps["louvain"])
    timings["bench_leiden_planted_6m"] = _median(paired_reps["leiden"])
    timings["bench_leiden_louvain_paired_ratio"] = round(
        _median(paired_reps["leiden"]) / _median(paired_reps["louvain"]),
        3,
    )
    # min/min is the STRUCTURAL ratio: characterized in round 11 (GC
    # time measured 0.2-0.9s/rep — not GC; per-job durations inflate
    # UNIFORMLY on slow reps — the shared host's serialized-job-latency
    # bursts, which last minutes and so can hit 2 of 3 reps of one algo
    # while sparing the other), jitter only ever ADDS wall time, so the
    # per-algo minimum is the clean-host plan cost and min/min its
    # ratio. With both algorithms on one fixture this IS the
    # same-fixture algorithmic premium, so the r11
    # samefixture_ratio_min row now aliases it (kept for artifact
    # continuity).
    ratio_min = round(
        min(paired_reps["leiden"]) / min(paired_reps["louvain"]), 3
    )
    timings["bench_leiden_louvain_paired_ratio_min"] = ratio_min
    timings["bench_leiden_louvain_samefixture_ratio_min"] = ratio_min

    # Triangle counting on 50 circulant C_2000(1..25) blocks (2.5M
    # undirected edges, 30M triangles): closed-form per-node truth —
    # every node has degree 2d=50 and exactly 3*d*(d-1)/2 = 900
    # triangles — asserted distributedly over all 100k nodes, so the
    # degree-ordered apex orientation and wedge closure are both
    # load-bearing at scale (round 8)
    def _check_triangles_closed_form(timings_key: str) -> None:
        from pyspark.sql import functions as F

        from echo_chambers_detection_spark.operators.triangles import (
            triangle_counts,
        )

        edges = planted_partition_edges(
            spark, NB, BS, 25, bridges=False, partitions=64,
            offsets="linear",
        )
        # the DISTRIBUTED wedge+closure joins (tricount is forced
        # distributed above): this row is the at-scale triangle
        # evidence (round 12 — the numpy mirror's gate would otherwise
        # collect the 2.5M-row fixture and only then decline on the 30M
        # wedge budget, wasting ~2s and muddying the row's meaning)
        t0 = time.perf_counter()
        tc = triangle_counts(edges.select("u1", "u2")).localCheckpoint(
            eager=True
        )
        timings[timings_key] = round(time.perf_counter() - t0, 3)
        bad = tc.where(
            (F.col("triangles") != 900) | (F.col("deg") != 50)
        ).count()
        if bad:
            raise AssertionError(
                f"{timings_key}: {bad} nodes off the closed form "
                "(triangles=900, deg=50)"
            )
        tc.unpersist()

    _check_triangles_closed_form("bench_triangles_planted_2m5")

    # Factored PageRank where the materialized projection is IMPOSSIBLE:
    # 100k users all engaging one celebrity post (plus a pairing post
    # each) project to a ~5e9-edge near-complete graph — but the
    # bipartite matvec is 200k rows/round. wdeg_u = (N-1)+1 = N for
    # every user, so uniform 1/n is the exact fixpoint and the
    # correctness assertion is closed-form (round 8)
    def _check_pagerank_factored_celebrity(timings_key: str) -> None:
        from pyspark.sql import functions as F

        from echo_chambers_detection_spark.operators.graph import (
            pagerank_coengagement,
        )

        n = 100_000
        base = spark.range(0, n, 1, 32).select(
            F.lpad(F.col("id").cast("string"), 6, "0").alias("user_did"),
            F.col("id"),
        )
        eng = base.select(
            "user_did", F.lit("CELEB").alias("post_uri")
        ).unionAll(
            base.select(
                "user_did",
                F.concat(
                    F.lit("pair"),
                    F.floor(F.col("id") / 2).cast("string"),
                ).alias("post_uri"),
            )
        )
        # 3-rep protocol with per-rep rows + median headline (the
        # Leiden burst treatment, VERDICT r11 #2): this row's history
        # swung 15.1/8.7/12.1/21.3 across r8-r11 with NO job-count or
        # plan change (solo probe: jobs pinned at 41 every rep, warm
        # median ~11s) — the swing
        # is host-burst sampling, so the artifact now carries its own
        # attribution: a burst inflates one rep, not the median, and
        # the per-rep spread is visible in the JSON.
        reps = []
        for rep in range(3):
            t0 = time.perf_counter()
            ranks = pagerank_coengagement(
                eng, damping=0.85, max_iter=3, tol=0.0
            ).localCheckpoint(eager=True)
            dt = round(time.perf_counter() - t0, 3)
            reps.append(dt)
            timings[f"{timings_key}_rep{rep + 1}"] = dt
            dev = ranks.agg(
                F.max(F.abs(F.col("rank") - F.lit(1.0 / n))).alias("d")
            ).first()["d"]
            if dev > 1e-9:
                raise AssertionError(
                    f"{timings_key}: rank deviates {dev:.3e} from the "
                    "uniform fixpoint (bound 1e-9)"
                )
            ranks.unpersist()
        timings[timings_key] = sorted(reps)[1]

    _check_pagerank_factored_celebrity("bench_pagerank_factored_celebrity")


def _condense_scale_probe(spark, timings: dict) -> None:
    """Two-level condense at ~1M forest edges (VERDICT r5 #3): a
    caterpillar spanning forest — 100k hubs x 9 pendant leaves (fringe
    weights globally distinct and tiny) on a distinct-weight backbone
    chain — built from JVM expressions. contract_runt_fringes absorbs
    8 leaves per hub (the size cap leaves one), then condense_two_level
    cuts at θ so the driver sees a CONSTANT ~100k-row budget instead of
    the ~200k contracted (1M raw) rows. Ground truth is closed-form:
    every hub group is its own EoM winner, so each node's label must be
    its hub's id — asserted distributedly, zero driver rows."""
    import time

    from pyspark.sql import functions as F

    from echo_chambers_detection_spark.operators.hdbscan import (
        condense_two_level,
        contract_runt_fringes,
    )

    H = 100_000
    hub = F.format_string("h%06d", F.col("id") % H)
    leaves = spark.range(0, 9 * H, 1, 64).select(
        hub.alias("u1"),
        F.format_string(
            "h%06dx%d", F.col("id") % H, F.floor(F.col("id") / H)
        ).alias("u2"),
        (F.lit(0.001) + F.col("id") * 1e-9).alias("w"),
    )
    chain = spark.range(0, H - 1, 1, 16).select(
        F.format_string("h%06d", F.col("id")).alias("u1"),
        F.format_string("h%06d", F.col("id") + 1).alias("u2"),
        (F.lit(1.0) + F.col("id") * 1e-4).alias("w"),
    )
    forest = leaves.unionAll(chain)
    t0 = time.perf_counter()
    c_e, c_n, mm = contract_runt_fringes(forest, min_cluster_size=10)
    lab_sn = condense_two_level(c_e, c_n, min_cluster_size=10)
    assert lab_sn is not None, "two-level condense found no feasible θ"
    labels = mm.join(lab_sn, "snode").select("member", "_lab")
    bad = labels.where(
        F.col("_lab") != F.substring("member", 1, 7)
    ).count()
    n_labeled = labels.count()
    timings["bench_condense_two_level_1m"] = round(
        time.perf_counter() - t0, 3
    )
    if bad or n_labeled != 10 * H:
        raise AssertionError(
            f"two-level condense wrong: {bad} mislabeled of {n_labeled} "
            f"(want {10 * H})"
        )




def _ktruss_scale_probe(spark, timings: dict) -> None:
    """k-truss at representative scale with an exact planted oracle:
    100k disjoint K6 cliques (1.5M edges, every edge support 4 —
    survives k=4) plus 20k triangle strips (340k edges) that unravel
    over exactly TWO distributed pruning rounds (ends/chords first,
    the then-triangle-free interiors second). Asserts the fixpoint is
    EXACTLY the clique edges with support uniformly 4 — a wrong
    cascade, a lost edge, or a stale support count all fail integer
    equality. All inputs are JVM expressions; assertions are
    distributed aggregations (no driver rows)."""
    import time

    from pyspark.sql import functions as F

    from echo_chambers_detection_spark.operators.triangles import (
        ktruss_edges,
    )

    N_CLIQUES, N_STRIPS = 100_000, 20_000
    a = spark.range(6).select(F.col("id").alias("i"))
    b = spark.range(6).select(F.col("id").alias("j"))
    pair15 = a.crossJoin(b).where(F.col("i") < F.col("j"))
    cliques = (
        spark.range(0, N_CLIQUES, 1, 32)
        .select(F.col("id").alias("cid"))
        .crossJoin(pair15)
        .select(
            F.concat(F.lit("c"), "cid", F.lit("_"), "i").alias("u1"),
            F.concat(F.lit("c"), "cid", F.lit("_"), "j").alias("u2"),
        )
    )
    rung9 = spark.range(9).select(F.col("id").alias("p"))
    chord8 = spark.range(8).select(F.col("id").alias("p"))
    strip_ids = spark.range(0, N_STRIPS, 1, 16).select(
        F.col("id").alias("sid")
    )
    rungs = strip_ids.crossJoin(rung9).select(
        F.concat(F.lit("s"), "sid", F.lit("_"), "p").alias("u1"),
        F.concat(F.lit("s"), "sid", F.lit("_"), F.col("p") + 1).alias("u2"),
    )
    chords = strip_ids.crossJoin(chord8).select(
        F.concat(F.lit("s"), "sid", F.lit("_"), "p").alias("u1"),
        F.concat(F.lit("s"), "sid", F.lit("_"), F.col("p") + 2).alias("u2"),
    )
    edges = cliques.unionAll(rungs).unionAll(chords).localCheckpoint(
        eager=True
    )
    # force the DISTRIBUTED pruning loop: this row is the at-scale
    # evidence for the incremental triangle-list maintenance (round 12:
    # the fixture's low max degree keeps its wedge total under the
    # numpy mirror's budget, so without the override the mirror would
    # silently answer — same treatment as the layered-BFS/betweenness
    # probes)
    with placement.distributed("ktruss"):
        t0 = time.perf_counter()
        # the pruning loop runs eagerly inside the call (materialized
        # generations), so leaving the block after it is safe
        out = ktruss_edges(edges, k=4)
    stats = out.agg(
        F.count("*").alias("n"),
        F.min("support").alias("lo"),
        F.max("support").alias("hi"),
        F.sum(F.when(F.col("u1").startswith("s"), 1).otherwise(0)).alias(
            "strip_survivors"
        ),
    ).collect()[0]
    timings["bench_ktruss_planted_1m8"] = round(time.perf_counter() - t0, 3)
    edges.unpersist()
    if (
        stats["n"] != N_CLIQUES * 15
        or stats["lo"] != 4
        or stats["hi"] != 4
        or stats["strip_survivors"] != 0
    ):
        raise AssertionError(f"ktruss closed form violated: {stats}")


def _snapshot_diff_scale_probe(spark, timings: dict) -> None:
    """corpus_snapshot_diff at 2M docs per snapshot, CLOSED-FORM exact:
    A = 2M synthetic docs (text = md5(id)); B drops id%13, modifies
    id%7 texts, re-keys id%11 to id+10M (the catalog query's rules with
    a collision-free offset). Expected per-status counts follow from
    modular arithmetic over [0, 2M) — computed independently below and
    asserted equal, so the full-outer hash-diff is integer-verified at
    scale. The diff is one hash-partitioned exchange on the id key;
    md5+length compute scan-side (texts never shuffle)."""
    import time

    from pyspark.sql import functions as F

    N, OFF = 2_000_000, 10_000_000
    base = spark.range(0, N, 1, 64)
    text = F.md5(F.col("id").cast("string"))  # the synthetic doc body
    a = base.select(
        F.col("id").alias("doc_id"),
        F.md5(text).alias("h"),
    )
    btxt = F.when(
        F.col("id") % 7 == 0, F.concat(text, F.lit(" v2"))
    ).otherwise(text)
    b = base.where(F.col("id") % 13 != 0).select(
        F.when(F.col("id") % 11 == 0, F.col("id") + OFF)
        .otherwise(F.col("id"))
        .alias("doc_id"),
        F.md5(btxt).alias("h"),
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .when(F.col("a.h") != F.col("b.h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    t0 = time.perf_counter()
    got = {
        r["status"]: r["n"]
        for r in j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    timings["bench_snapshot_diff_2m"] = round(time.perf_counter() - t0, 3)
    # independent expected counts from modular arithmetic
    removed = added = changed = unchanged = 0
    for r in range(1001):  # lcm(7,11,13)=1001 residue classes
        cnt = N // 1001 + (1 if r < N % 1001 else 0)
        if r % 13 == 0:
            removed += cnt
        elif r % 11 == 0:
            removed += cnt  # old id vanishes...
            added += cnt    # ...new id appears
        elif r % 7 == 0:
            changed += cnt
        else:
            unchanged += cnt
    want = {
        "removed": removed, "added": added,
        "changed": changed, "unchanged": unchanged,
    }
    if got != want:
        raise AssertionError(
            f"bench_snapshot_diff_2m: got {got} want {want}"
        )


def _interarrival_scale_probe(spark, timings: dict) -> None:
    """10M-event lag-window probe with a closed-form oracle — the
    window-function family's at-scale evidence row. (r11 watch item
    closed: the r10->r11 doublings of both rows here — 1.7->2.5s and
    2.5->4.5s — reproduce at ~1.95s/~2.35s warm solo with job counts
    pinned at 3, i.e. mid-run
    host/session drift, not plan changes.) 100k users x 100
    events each; user u's cadence is exactly (u % 7 + 1) seconds and
    the later event's type cycles seq % 3, so every aggregate has a
    closed form: per type, n_gaps = 33 * 100k, sum_gap_ms =
    33 * 1000 * sum_u (u % 7 + 1), max_gap_ms = 7000. The probe asserts
    EXACT equality on all three — a wrong window order, a dropped
    first-row NULL, or a lost tie-break shows up as an integer
    mismatch, not a tolerance miss. All inputs are JVM expressions;
    no driver data."""
    import time

    from pyspark.sql import functions as F

    from echo_chambers_detection_spark.operators.eventstats import (
        interarrival_gap_stats,
    )

    N_USERS, PER_USER = 100_000, 100
    ev = spark.range(0, N_USERS * PER_USER, 1, 64).select(
        (F.col("id") % N_USERS).alias("user_id"),
        F.expr(f"id DIV {N_USERS}").alias("seq"),
        F.col("id").alias("event_id"),
    ).select(
        "user_id",
        "event_id",
        F.timestamp_millis(
            F.col("seq") * (F.col("user_id") % 7 + 1) * 1000
        ).alias("ts"),
        F.concat(F.lit("t"), (F.col("seq") % 3)).alias("event_type"),
    )
    t0 = time.perf_counter()
    rows = {
        r["event_type"]: r
        for r in interarrival_gap_stats(ev).collect()
    }
    timings["bench_interarrival_lag_10m"] = round(
        time.perf_counter() - t0, 3
    )
    # closed form: sum over u in [0, 100k) of (u % 7 + 1), exact ints
    sum_cadence = (N_USERS // 7) * 28 + sum(
        r + 1 for r in range(N_USERS % 7)
    )
    # gaps land on seq k in [1, 100): k % 3 == r for exactly 33 k's
    # per residue r (1..99 splits 33/33/33)
    per_type = 33 * N_USERS
    want_sum = 33 * 1000 * sum_cadence
    for r in (0, 1, 2):
        got = rows[f"t{r}"]
        if (
            got["n_gaps"] != per_type
            or got["sum_gap_ms"] != want_sum
            or got["max_gap_ms"] != 7000
        ):
            raise AssertionError(
                f"interarrival closed form violated for t{r}: {got}"
            )

    # sessionization leg on the SAME fixture: threshold 4s splits the
    # user population exactly by cadence — u % 7 + 1 <= 4 collapses to
    # ONE 100-event session, >= 5 shatters into 100 singletons. Users
    # per residue: ceil/floor of 100k/7; closed form below.
    from echo_chambers_detection_spark.operators.eventstats import (
        user_session_stats,
    )

    t0 = time.perf_counter()
    sess = user_session_stats(ev, gap_limit_ms=4000)
    agg = sess.groupBy("n_sessions").count().collect()
    timings["bench_sessionization_10m"] = round(time.perf_counter() - t0, 3)
    per_res = [N_USERS // 7 + (1 if r < N_USERS % 7 else 0) for r in range(7)]
    want = {
        1: sum(per_res[:4]),     # cadences 1..4s: one session
        PER_USER: sum(per_res[4:]),  # cadences 5..7s: all singletons
    }
    got_hist = {r["n_sessions"]: r["count"] for r in agg}
    if got_hist != want:
        raise AssertionError(
            f"sessionization closed form violated: {got_hist} != {want}"
        )


def _skew_scale_probes(spark, timings: dict) -> None:
    """Celebrity-skew co-engagement row (VERDICT r5 #6): synthetic
    engagements where one post has 10^4x the median degree (40k
    engagers vs median 4). The guarded self-join must (a) drop exactly
    the celebrity post — 40k engagers is ~8*10^8 pairs from one key,
    the thing the max_post_degree contract exists to refuse — and
    (b) chew through the surviving hot posts (5 x 2000 engagers,
    ~2M pairs each) where AQE's skew-join split does the balancing.
    All inputs are JVM expressions; no driver data."""
    import time

    from pyspark.sql import functions as F

    from echo_chambers_detection_spark.operators.coengagement import (
        coengagement_edges,
    )

    N_USERS, N_POSTS, CAP = 100_000, 250_000, 10_000
    normal = spark.range(0, 1_000_000, 1, 64).select(
        F.concat(F.lit("u"), F.pmod(F.col("id"), N_USERS)).alias("user_did"),
        F.concat(
            F.lit("p"), F.pmod(F.xxhash64("id"), N_POSTS)
        ).alias("post_uri"),
    )
    hot = (
        spark.range(0, 5 * 2000, 1, 16)
        .select(
            F.concat(
                F.lit("u"), F.pmod(F.xxhash64("id", F.lit(7)), N_USERS)
            ).alias("user_did"),
            F.concat(F.lit("hot"), F.pmod(F.col("id"), 5)).alias("post_uri"),
        )
    )
    celebrity = spark.range(0, 40_000, 1, 16).select(
        F.concat(F.lit("u"), F.col("id") % N_USERS).alias("user_did"),
        F.lit("celebrity").alias("post_uri"),
    )
    eng = normal.unionAll(hot).unionAll(celebrity).localCheckpoint(eager=True)
    # the guard must drop exactly one post (the celebrity)
    deg = eng.dropDuplicates(["user_did", "post_uri"]).groupBy("post_uri").count()
    n_over = deg.where(F.col("count") > CAP).count()
    if n_over != 1:
        raise AssertionError(
            f"skew fixture broken: {n_over} posts over the cap, expected 1"
        )
    t0 = time.perf_counter()
    coengagement_edges(
        eng, max_post_degree=CAP, log_dropped=True
    ).write.format("noop").mode("overwrite").save()
    timings["bench_coengagement_skewed"] = round(time.perf_counter() - t0, 3)
    eng.unpersist()


def main() -> None:
    spark = get_spark(app_name="bench")
    timings: dict[str, float] = {}

    def release_persisted() -> None:
        """Drop cached data left by the previous query so one query's
        working set can't throttle the next. The explicit System.gc()
        matters: broadcast variables and shuffle files are only reclaimed
        when the driver's ContextCleaner sees their references collected,
        and a 48g heap may not GC at all inside a 6-minute bench —
        iterative queries mid-run were measured 2-3x slower than solo
        purely from that accumulation.

        The sweep now includes locally-checkpointed RDDs (round 9;
        reverses the r2 exemption): the iterative operators retire their
        dead generations in-loop AND release/transfer their final frames
        at return, but any frame that slips through (measured: leiden
        left 5 pinned frames per call before its round-9 finalize) would
        otherwise survive the whole session — nothing in the engine
        reuses Spark-storage blocks across query boundaries (standing
        ANN indexes are disk-parquet + driver-resident numpy), so
        between queries every persisted block is garbage by
        construction."""
        # Cancel zombie jobs first: AQE can leave an already-submitted
        # broadcast/stage materialization running after runtime
        # replanning pruned its branch — the query's own action has
        # returned, so anything still running is by definition not
        # needed, and unpersisting its checkpointed inputs below would
        # otherwise abort it with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
        # (observed on analysis_run_metrics; benign but noisy, and a
        # cancel is cleaner than an abort).
        spark.sparkContext.cancelAllJobs()
        jsc = spark.sparkContext._jsc
        jmap = jsc.getPersistentRDDs()
        had_persisted = jmap.size() > 0
        for rdd in jmap.values():
            rdd.unpersist()
        spark.catalog.clearCache()
        # System.gc() costs ~0.16s on the 48g heap — 161 registry rows
        # paid ~26s of pure GC calls in r11 (VERDICT r11 #8). Most
        # registry queries pin nothing, and the session's
        # spark.cleaner.periodicGC.interval=45s already sweeps
        # broadcast/shuffle refs in the background, so the eager GC is
        # only forced where it earns its keep: a query that actually
        # left persisted blocks, or every 4th query as a broadcast-ref
        # backstop between periodic sweeps.
        release_persisted.calls = getattr(release_persisted, "calls", 0) + 1
        if had_persisted or release_persisted.calls % 4 == 0:
            spark.sparkContext._jvm.System.gc()

    # Warm JIT/codegen/parquet-footer paths so timings measure the
    # queries, not first-execution compilation (see _WARMUP_QUERIES).
    for _wq in _WARMUP_QUERIES:
        if _wq in QUERY_REGISTRY and os.path.isdir(_WARMUP_SF_DIR):
            QUERY_REGISTRY[_wq].spark(spark, _WARMUP_SF_DIR).write.format(
                "noop"
            ).mode("overwrite").save()
    next(iter(QUERY_REGISTRY.values())).spark(spark, SF_DIR).count()
    # The persisted-IVF query's contract is probe-only steady state (the
    # build is amortized infrastructure, like the standing Qdrant
    # collection it mirrors) — run it once here so the build lands in
    # warm-up, not in the timed pass.
    for _probe_q in (
        "ann_ivf_probe_topk",
        "ann_pq_probe_topk",
        # the navigable-graph ANN's k-NN index build is likewise
        # amortized infrastructure — land it in warm-up
        "graph_ann_embeddings_topk",
    ):
        if _probe_q in QUERY_REGISTRY:
            QUERY_REGISTRY[_probe_q].spark(spark, SF_DIR).write.format(
                "noop"
            ).mode("overwrite").save()
    release_persisted()

    # ALWAYS-WARM protocol (round-5 review finding): touch every input
    # file's bytes once so the OS page cache is in a DECLARED state
    # before both the drift probes and the timed pass. Without this the
    # cold-read component of the first queries depended on whatever
    # prior activity (testdata generation, tests) happened to leave
    # cached — nondeterministic across rounds and machines. Rounds
    # compare warm-vs-warm from r5 on; treat cross-round deltas against
    # r4-and-earlier at the ±5% level.
    import glob as _glob

    _repo = os.path.dirname(os.path.abspath(__file__))
    _warm_files = _glob.glob(os.path.join(SF_DIR, "*.parquet")) + _glob.glob(
        # the persisted IVF/PQ index parquet the probe queries read
        os.path.join(_repo, ".cache", "**", "*.parquet"),
        recursive=True,
    )
    for _f in _warm_files:
        with open(_f, "rb") as _fh:
            while _fh.read(1 << 22):
                pass

    # host-drift probes: warm shapes; ratio > 1 means this host is
    # slower than the machine the canonicals were pinned on. Run BEFORE
    # AND AFTER the timed pass (VERDICT r6 #2): a pre/post gap is
    # in-run session degradation, a shifted pre≈post pair is genuine
    # host drift — r6's probes contradicted the raw catalog deltas and
    # the single sample couldn't say which kind of skew it was.
    def _run_drift_probes() -> tuple[dict, float]:
        raw: dict[str, float] = {}
        for _dq in _DRIFT_PROBES:
            t0 = time.perf_counter()
            QUERY_REGISTRY[_dq].spark(spark, SF_DIR).write.format(
                "noop"
            ).mode("overwrite").save()
            raw[_dq] = round(time.perf_counter() - t0, 3)
            release_persisted()
        ratios = sorted(raw[q] / _DRIFT_PROBES[q] for q in _DRIFT_PROBES)
        return raw, round(ratios[len(ratios) // 2], 3)

    # Serialized-JOB-LATENCY drift probe (round 10): the throughput
    # probes above missed a host regime observed 2026-08-16 where
    # scan/join rows read FAST (drift 0.8) while loop-heavy rows
    # (lpa/leiden/ktruss/condense) ran ~2x slow — those rows' cost is
    # dozens of serialized small jobs, i.e. per-job scheduling latency,
    # not bytes. This measures exactly that: distributed
    # connected_components on a 2k-node LONG-id path (long ids keep the
    # string-only local mirror from firing), ~12 hook+shortcut rounds
    # of trivial data. Canonical 7.5s = warm median of 3 on the
    # round-10 machine (local[32], the slow-loop host itself, so
    # loop_drift is ~1.0 for BENCH_r10 and comparable after). Emitted
    # as its OWN ratio — mixing a latency probe into the throughput
    # median would blur both signals.
    _LOOP_PROBE_CANONICAL = 7.5

    def _run_loop_probe() -> float:
        from pyspark.sql import functions as F

        from echo_chambers_detection_spark.operators import graph as G

        e = spark.range(0, 1999, 1, 8).select(
            F.col("id").alias("u1"), (F.col("id") + 1).alias("u2")
        )
        t0 = time.perf_counter()
        G.connected_components(e).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = round(time.perf_counter() - t0, 3)
        release_persisted()
        return dt

    # warm the loop shape once, then measure
    _run_loop_probe()
    loop_probe_s = _run_loop_probe()

    drift_raw, drift = _run_drift_probes()

    t_total = time.perf_counter()
    for name, spec in QUERY_REGISTRY.items():
        t0 = time.perf_counter()
        df = spec.spark(spark, SF_DIR)
        # foreach-noop forces full materialization without driver collect
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        release_persisted()
    total = round(time.perf_counter() - t_total, 3)

    # post-pass probe repeat: same queries, same warm state reasoning —
    # compare to drift_raw to separate session degradation from host
    # speed (see the pre-pass comment)
    drift_post_raw, drift_post = _run_drift_probes()
    loop_probe_post_s = _run_loop_probe()

    # synthetic at-scale rows (bench_-prefixed, outside the total)
    _at_scale_probes(spark, timings)
    release_persisted()
    _cpu_scaling_probe(spark, timings)
    release_persisted()
    _semantic_dedup_scale_probe(spark, timings)
    release_persisted()
    _graph_scale_probes(spark, timings)
    release_persisted()
    _skew_scale_probes(spark, timings)
    release_persisted()
    _interarrival_scale_probe(spark, timings)
    release_persisted()
    _snapshot_diff_scale_probe(spark, timings)
    release_persisted()
    _ktruss_scale_probe(spark, timings)
    release_persisted()
    _condense_scale_probe(spark, timings)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    payload = {
        "metric": "catalog_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        "drift": drift,
        "drift_probes": drift_raw,
        "drift_post": drift_post,
        "drift_post_probes": drift_post_raw,
        "loop_drift": round(loop_probe_s / _LOOP_PROBE_CANONICAL, 3),
        "loop_drift_post": round(
            loop_probe_post_s / _LOOP_PROBE_CANONICAL, 3
        ),
        "loop_probe_s": loop_probe_s,
        "loop_probe_post_s": loop_probe_post_s,
    }
    # the driver archives only the last ~2000 chars of stdout, which
    # truncates the per-query rows (BENCH_r09 lost half the record) —
    # persist the full payload as its own artifact too, PLUS a
    # round-stamped copy (VERDICT r10 hygiene #3: bench_timings.json
    # alone is overwritten every run, so earlier rounds' full row sets
    # were lost). Round number = 1 + the highest BENCH_r*.json already
    # committed (the driver writes the current round's AFTER bench),
    # overridable via SPARK_GRAFT_ROUND.
    _repo_dir = os.path.dirname(os.path.abspath(__file__))
    timings_path = os.path.join(_repo_dir, "bench_timings.json")
    with open(timings_path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    print(f"full timings written to {timings_path}", file=sys.stderr)
    try:
        rnd = os.environ.get("SPARK_GRAFT_ROUND")
        if rnd is None:
            import re as _re

            stamped = [
                int(m.group(1))
                for f in os.listdir(_repo_dir)
                if (m := _re.fullmatch(r"BENCH_r(\d+)\.json", f))
            ]
            rnd = str(max(stamped) + 1 if stamped else 1)
        round_path = os.path.join(
            _repo_dir, f"bench_timings_r{int(rnd):02d}.json"
        )
        with open(round_path, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"round archive written to {round_path}", file=sys.stderr)
    except Exception as exc:  # the archive must never fail the bench
        print(f"round archive skipped: {exc}", file=sys.stderr)
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
