"""Plan-property tests (SURVEY.md §4): pin the physical-plan facts that
make the headline queries scale — pushdown, pruning, broadcast choice,
top-k without global sort, and zero Python in JVM-only paths. A failure
here means a silent 10x regression at 100 TB, not a wrong answer."""

from __future__ import annotations

import pytest

from echo_chambers_detection_spark.catalog import QUERY_REGISTRY
from echo_chambers_detection_spark.plans.explain import (
    count_operator,
    has_python_stage,
    pushed_filters,
    read_schemas,
)
from tests.conftest import SF_ORACLE


def _q(spark, name):
    return QUERY_REGISTRY[name].spark(spark, SF_ORACLE)


def test_pricing_summary_filter_pushdown_and_pruning(spark):
    df = _q(spark, "pricing_summary")
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf, f"shipdate filter not pushed: {pf}"
    schemas = read_schemas(df)
    assert schemas, "no parquet scan found"
    # only the 6 needed columns are read, not all 11
    assert "l_partkey" not in schemas[0]
    assert "l_quantity" in schemas[0]


def test_revenue_by_nation_broadcasts_dims(spark):
    df = _q(spark, "revenue_by_nation")
    assert count_operator(df, "BroadcastHashJoin") >= 2


def test_top_orders_uses_top_k_not_global_sort(spark):
    df = _q(spark, "top_orders")
    assert count_operator(df, "TakeOrderedAndProject") >= 1


def test_coengagement_projection_prunes_events_scan(spark):
    df = _q(spark, "coengagement_edges")
    schemas = read_schemas(df)
    # events has 6 columns; the projection needs user_id + props only
    assert all("event_type" not in s and "value" not in s for s in schemas)


def test_jvm_only_paths_have_no_python(spark):
    for name in (
        "coengagement_edges",
        "pricing_summary",
        "ann_topk",
        "user_mean_embeddings",
        "community_metrics_table",
        "minhash_lsh_candidates",
        "simhash_signatures",
        "event_interarrival_stats",
        "incremental_dedup_new_batch",
        "token_pmi_collocations",
        "text_quality_scores",
        "scd2_membership_history",
        "membership_asof_join",
        "user_running_totals",
        "user_first_seen",
    ):
        df = _q(spark, name)
        assert not has_python_stage(df), f"{name} fell back to Python"


def test_ann_topk_is_top_k(spark):
    df = _q(spark, "ann_topk")
    assert count_operator(df, "TakeOrderedAndProject") >= 1


def test_bitmap_coengagement_guards_user_count(spark):
    """The bitmap mask join is Θ(users²): with a bounded item vocabulary
    but a user population above max_users it must fall back to the
    general self-join (linear in Σ_item deg²) — no
    BroadcastNestedLoopJoin may survive in the plan (VERDICT r1 #3)."""
    from pyspark.sql import functions as F

    from echo_chambers_detection_spark.operators.coengagement import (
        coengagement_edges_bitmap,
    )

    from echo_chambers_detection_spark.operators.coengagement import (
        coengagement_edges,
    )

    # SPARSE fixture: 500 users each engaging ONE of 7 items.
    # n²/2 = 125k mask pairs vs Σ deg² ≈ 36k shared-item rows — the cost
    # compare must pick the self-join even though the vocabulary is tiny.
    sparse = spark.range(500).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("user_did"),
        F.pmod(F.col("id"), F.lit(7)).cast("string").alias("post_uri"),
    )
    by_cost = coengagement_edges_bitmap(sparse, num_slots=None, max_users=10_000)
    assert count_operator(by_cost, "BroadcastNestedLoopJoin") == 0
    # The user-count hard cap fires independently of density.
    guarded = coengagement_edges_bitmap(sparse, num_slots=None, max_users=100)
    assert count_operator(guarded, "BroadcastNestedLoopJoin") == 0
    # Explicit-slots callers get the same cap.
    guarded2 = coengagement_edges_bitmap(sparse, num_slots=1, max_users=100)
    assert count_operator(guarded2, "BroadcastNestedLoopJoin") == 0

    # DENSE fixture: 60 users each engaging ALL 7 items.
    # n²/2 = 1.8k pairs vs Σ deg² = 25.2k rows — bitmap wins the compare.
    dense = spark.range(60 * 7).select(
        F.concat(F.lit("u"), (F.col("id") % 60).cast("string")).alias("user_did"),
        (F.col("id") / 60).cast("int").cast("string").alias("post_uri"),
    )
    bitmap = coengagement_edges_bitmap(dense, num_slots=None, max_users=10_000)
    assert count_operator(bitmap, "BroadcastNestedLoopJoin") >= 1

    assert {tuple(r) for r in bitmap.collect()} == {
        tuple(r) for r in coengagement_edges(dense).collect()
    }
    assert {tuple(r) for r in by_cost.collect()} == {
        tuple(r) for r in coengagement_edges(sparse).collect()
    }


def test_max_post_degree_guard_logs_drop_count(spark, caplog):
    """The celebrity-post guard must not truncate silently (VERDICT r5
    #6): with log_dropped=True the dropped-post count lands at INFO,
    and the guarded output contains no pair from the dropped post."""
    import logging

    from echo_chambers_detection_spark.operators.coengagement import (
        coengagement_edges,
    )

    rows = [("u%d" % u, "mega") for u in range(6)] + [
        ("u0", "small"),
        ("u1", "small"),
    ]
    eng = spark.createDataFrame(rows, "user_did string, post_uri string")
    with caplog.at_level(
        logging.INFO,
        logger="echo_chambers_detection_spark.operators.coengagement",
    ):
        got = coengagement_edges(
            eng, max_post_degree=3, log_dropped=True
        ).collect()
    assert [(r["u1"], r["u2"], r["weight"]) for r in got] == [("u0", "u1", 1)]
    assert any("dropped 1 post" in rec.getMessage() for rec in caplog.records)


def test_semi_and_anti_joins_planned(spark):
    semi = _q(spark, "active_customers")
    anti = _q(spark, "customers_without_orders")
    assert count_operator(semi, "LeftSemi") >= 1
    assert count_operator(anti, "LeftAnti") >= 1


def test_fastrp_plan_shape(spark):
    """fastrp's final assembly plan (VERDICT r3 #4 — rule out silent
    parallelism collapse behind the ×1.20 bench drift): zero Python
    stages, exactly four exchanges (dense node×dim re-key + broadcast
    of the 128-row dim range + node-set dedup + term-sum), and a
    map-side partial_sum before the term-union aggregation. The loop
    itself checkpoints through _materialize_wide, so every generation
    is re-widened to the session's shuffle parallelism before the next
    round scans it. The driver mirror is disabled: at the fixture's 100
    posts it would answer with a LocalRelation instead."""
    from echo_chambers_detection_spark import placement

    with placement.distributed("fastrp"):
        df = _q(spark, "fastrp_embeddings")
    assert not has_python_stage(df), "fastrp fell back to Python"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 4, plan
    assert "partial_sum" in plan, plan


def test_knn_graph_ann_plan_shape(spark):
    """knn_graph_ann's candidate join (VERDICT r3 #1): exactly two
    Python stages — the probe router (ArrowEvalPython/MapInPandas) and
    the per-cell GEMM (FlatMapGroupsInPandas) — and two exchanges (the
    cell bucket shuffle + the per-src window), so candidates move
    through ONE bucket shuffle keyed on cell, never an n² join."""
    df = _q(spark, "knn_graph_ann_topk")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Exchange") == 2, plan


def test_knn_graph_plan_shape(spark):
    """knn_graph's physical plan: exactly two exchanges (tile routing +
    the per-src window), the Pandas tile kernel as the only Python
    operator, and a PARTIAL WindowGroupLimit before the src exchange so
    per-src top-k prunes map-side instead of shuffling every tile
    candidate."""
    df = _q(spark, "knn_graph_topk")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "Partial" in plan[plan.index("WindowGroupLimit"):]


def test_curation_family_plan_shapes(spark):
    """The round-5 curation queries keep their scale-critical plan
    facts: the split is scan+project only (no shuffle at all — that is
    the point of a hash split), packing windows per shard (one
    exchange on shard, no global sort before the window), the
    contamination scan BROADCASTS the benchmark shingle side, and none
    of them touch Python."""
    split = _q(spark, "train_val_test_split")
    # orderBy is presentation; the assignment itself adds no join/agg
    assert count_operator(split, "Join") == 0
    assert count_operator(split, "HashAggregate") == 0
    schemas = read_schemas(split)
    assert all("text" not in s for s in schemas), schemas  # pruning

    pack = _q(spark, "token_pack_chunks")
    assert count_operator(pack, "Window") >= 1
    assert count_operator(pack, "Join") == 0

    contam = _q(spark, "benchmark_contamination")
    assert count_operator(contam, "BroadcastHashJoin") >= 1

    for name in (
        "train_val_test_split",
        "token_pack_chunks",
        "quality_head_per_lang",
        "benchmark_contamination",
        "rfc4122_point_ids",
        "rfc4122_layout_ids",
    ):
        assert not has_python_stage(_q(spark, name)), name


def test_resample_family_plan_shapes(spark):
    """Round-7 sampling queries keep their scale facts: the temperature
    resample's quota side is BROADCAST (never a shuffle join against
    the doc scan), its only wide operation is the one per-language
    window; the Bernoulli twin has NO window/sort at all (that is its
    reason to exist) and stays JVM-only."""
    import re

    from echo_chambers_detection_spark.plans.explain import formatted_plan

    def n_ops(df, op):
        # formatted plans list each operator in the tree AND the detail
        # section; count tree headers "(k) Op" only
        return len(re.findall(rf"\(\d+\) (?:{op})\b", formatted_plan(df)))

    resample = _q(spark, "language_temperature_resample")
    assert count_operator(resample, "BroadcastHashJoin") >= 1
    assert n_ops(resample, "Window") == 1
    assert not has_python_stage(resample)

    bern = _q(spark, "bernoulli_lang_sample")
    assert count_operator(bern, "BroadcastHashJoin") >= 1
    assert n_ops(bern, "Window") == 0
    assert n_ops(bern, "Sort") == 0
    assert not has_python_stage(bern)
    # pruning: neither query reads the document text
    for df in (resample, bern):
        assert all("text" not in s for s in read_schemas(df))


def test_round8_queries_stay_jvm_and_shaped(spark):
    # the new families must be Python-free and (for tfidf/top-tokens)
    # window-partitioned, never globally sorted
    for name in (
        "triangle_counts",
        "transitivity_stats",
        "degree_assortativity_moments",
        "chunk_dedup_stats",
        "top_tokens_per_lang",
        "tfidf_top_terms",
        "order_value_quartiles",
        "event_type_theta_users",
        "degree_histogram",
        "pagerank_factored_planted",
    ):
        df = _q(spark, name)
        assert not has_python_stage(df), f"{name} fell back to Python"
    for name in ("top_tokens_per_lang", "tfidf_top_terms"):
        plan = _q(spark, name)._jdf.queryExecution().executedPlan().toString()
        # the window's Sorts must all be partition-local
        assert "global=true" not in plan, plan[:800]


def test_sessionization_stacks_windows_on_one_shuffle(spark):
    """user_session_stats' two windows (lag-gap mark, running session
    number) and both rollups must share a single Exchange on the user
    key — a second shuffle would mean the windows' partitioning wasn't
    reused (the stacked-window contract of operators/eventstats.py)."""
    df = _q(spark, "user_session_stats")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one Exchange also rules out a global sort (that would add a
    # rangepartitioning Exchange)
    assert plan.count("Exchange") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_chunk_scrub_has_no_global_sort(spark):
    """chunk_dedup_scrubbed_docs' dedup arbitration is a window on the
    chunk key and the reassembly a per-doc sort_array — nothing may
    plan a rangepartitioning (global sort) at any scale."""
    df = _q(spark, "chunk_dedup_scrubbed_docs")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, plan
    assert not has_python_stage(df)


def test_url_curation_broadcasts_blocklist_and_prunes_scan(spark):
    """The blocklist is a bounded dimension -> broadcast join; the
    documents scan must read only doc_id + source (the url is derived
    from doc_id, text/lang/n_chars never touched)."""
    df = _q(spark, "url_curation_stats")
    assert count_operator(df, "BroadcastHashJoin") >= 1
    schemas = read_schemas(df)
    assert schemas, "no parquet scan found"
    assert all("text" not in s and "n_chars" not in s for s in schemas), (
        f"url_curation_stats reads more than doc_id/source: {schemas}"
    )
    assert not has_python_stage(df)


def test_token_rarity_partial_aggregates_and_stays_jvm(spark):
    """Vocab groupBy and per-doc groupBy must both partial-aggregate
    map-side (two-phase HashAggregate), and the whole pass is JVM-only
    (tokenize + bin-length are codegen expressions)."""
    df = _q(spark, "token_rarity_scores")
    assert count_operator(df, "HashAggregate") >= 4, (
        "expected partial+final HashAggregate pairs for vocab and doc "
        "aggregations"
    )
    assert not has_python_stage(df)


def test_user_jaccard_top_k_and_broadcast_degrees(spark):
    """Round-10: the Jaccard top-100 must be TakeOrderedAndProject (no
    global sort) and both degree dims must broadcast."""
    df = _q(spark, "user_jaccard_similarity")
    assert count_operator(df, "TakeOrderedAndProject") >= 1
    assert count_operator(df, "BroadcastHashJoin") >= 2


def test_outliers_mad_broadcasts_both_stat_dims(spark):
    """The median and MAD frames are one row per event type — both
    joins back onto the event scan must be broadcast, never shuffle."""
    df = _q(spark, "event_value_outliers_mad")
    assert count_operator(df, "BroadcastHashJoin") >= 2
    assert not has_python_stage(df)


def test_markov_transitions_single_user_exchange(spark):
    """Lag window + transition agg + normalizing window: no Python, and
    the plan's only wide operators are the user-keyed window exchange,
    the (from,to)-grid agg, and the tiny grid window (executed-plan
    node count — the formatted plan repeats operator names in its
    detail sections)."""
    from echo_chambers_detection_spark.plans.explain import executed_plan

    df = _q(spark, "event_type_markov_transitions")
    assert not has_python_stage(df)
    plan = executed_plan(df)
    assert plan.count("Window [") == 2
    assert plan.count("Exchange hashpartitioning") == 3


def test_gini_and_diversity_plans_are_jvm_only(spark):
    for name in ("user_activity_gini", "event_type_user_diversity"):
        df = _q(spark, name)
        assert not has_python_stage(df), name


def test_regional_supplier_volume_broadcasts_all_three_dims(spark):
    """Q5 shape: supplier/nation/region ride broadcast joins (the
    co-nation equality evaluates map-side), the date filter reaches the
    orders parquet scan, and the region filter prunes pre-agg."""
    df = _q(spark, "regional_supplier_volume")
    assert count_operator(df, "BroadcastHashJoin") >= 3
    pf = " ".join(pushed_filters(df))
    assert "o_orderdate" in pf, f"order-date filter not pushed: {pf}"
    assert not has_python_stage(df)


def test_bigram_lm_plan_shape(spark):
    """Bigram stream is zipped from the token array — no window
    function anywhere — and the whole pass is JVM-only."""
    from echo_chambers_detection_spark.plans.explain import executed_plan

    df = _q(spark, "bigram_lm_cross_entropy")
    assert not has_python_stage(df)
    assert "Window [" not in executed_plan(df)


def test_pii_redaction_is_scan_side_only(spark):
    """The detect+redact pass is one projection over the scan: zero
    exchanges, zero Python — the 100 TB plan is scan -> codegen."""
    from echo_chambers_detection_spark.plans.explain import executed_plan

    df = _q(spark, "pii_redaction_stats")
    assert not has_python_stage(df)
    plan = executed_plan(df)
    # _docs_spread's guarded repartition is a no-op at real partition
    # counts but shows as one round-robin exchange on the tiny fixture;
    # no hash exchange (join/agg) may appear either way.
    assert plan.count("Exchange hashpartitioning") == 0


def test_cohort_and_funnel_are_windowless_jvm_only(spark):
    """Both product-analytics queries reduce to joins + map-side-
    combining aggs: no window function, no Python anywhere."""
    from echo_chambers_detection_spark.plans.explain import executed_plan

    for name in ("user_cohort_retention", "event_funnel_counts"):
        df = _q(spark, name)
        assert not has_python_stage(df), name
        assert "Window [" not in executed_plan(df), name


def test_heavy_hitters_single_arrow_pass(spark):
    """The MG sketch's only Python is the ONE Arrow-batched
    mapInPandas summary pass; the merge + final truncation stay JVM
    (one hash agg on the <= P*k summary rows, one tiny single-
    partition window — bounded by construction, see the operator
    docstring)."""
    from echo_chambers_detection_spark.plans.explain import executed_plan

    df = _q(spark, "event_key_heavy_hitters")
    plan = executed_plan(df)
    # the eager tracked_checkpoint already ran the single Arrow pass at
    # build time, so the final plan reads its RDD leaf — ZERO Python
    # stages downstream. (Without the checkpoint this plan showed FOUR
    # MapInPandas repeats, one per consumer of the summary frame.)
    assert plan.count("MapInPandas") == 0, plan.count("MapInPandas")
    assert "BatchEvalPython" not in plan
