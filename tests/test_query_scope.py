"""The ownership scope (`operators/graph.py::_owns_checkpoints`) that
`catalog._core.register` wraps every catalog query in and every public
operator that checkpoints carries: the returned frame owns every
checkpoint the call made through `_checkpoint` and left pinned, a raise
pins nothing, nested scopes hand their blocks outward, and a public
`tracked_checkpoint` taken inside a query (perfbench's save step) stays
its caller's. Toy queries are registered under test names and removed
afterwards; toy operators are decorated, not registered."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from echo_chambers_detection_spark import placement
from echo_chambers_detection_spark.catalog import QUERY_REGISTRY, register
from echo_chambers_detection_spark.operators.graph import (
    _checkpoint,
    _owns_checkpoints,
    _release_checkpoint,
    connected_components,
    tracked_checkpoint,
)


def _pinned(spark):
    return {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def _jobs_so_far(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


@pytest.fixture
def toy(spark):
    """register() for toy queries; they leave the registry afterwards."""
    names = []

    def reg(fn):
        name = f"_test_scope_{fn.__name__}"
        names.append(name)
        return register(name, None)(fn)

    yield reg
    for name in names:
        QUERY_REGISTRY.pop(name, None)


def _edges(spark):
    return spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("e", "f"), ("f", "g")],
        "u1 string, u2 string",
    )


def test_register_wraps_the_module_function():
    from echo_chambers_detection_spark.catalog import metrics

    spec = QUERY_REGISTRY["analysis_run_hdbscan"]
    assert spec.spark is metrics.q_analysis_run_hdbscan
    assert spec.spark.__wrapped__.__name__ == "q_analysis_run_hdbscan"


def test_bare_projection_owns_what_the_query_pinned(spark, toy):
    @toy
    def q_loop(spark, sf_dir):
        eng = _checkpoint(_edges(spark))
        with placement.distributed("connected_components"):
            comps = connected_components(eng)
        return comps.select(F.col("component").alias("c"), "node")

    base = _pinned(spark)
    out = QUERY_REGISTRY["_test_scope_q_loop"].spark(spark, "")
    owned = set(out._ckpt_rdd_ids)
    assert owned and owned <= _pinned(spark) - base
    assert sorted(r["node"] for r in out.collect()) == list("abcdefg")
    _release_checkpoint(out)
    assert _pinned(spark) - base == set()


def test_scope_runs_no_job(spark, toy):
    """The hand-over reads the pinned set once and submits no job: the
    wrapped query takes exactly the jobs of its unwrapped body."""

    @toy
    def q_two(spark, sf_dir):
        a = _checkpoint(_edges(spark))
        return _checkpoint(a.select("u1")).select("u1")

    wrapped = QUERY_REGISTRY["_test_scope_q_two"].spark
    base = _pinned(spark)
    j0 = _jobs_so_far(spark)
    bare = wrapped.__wrapped__(spark, "")
    j1 = _jobs_so_far(spark)
    # the unwrapped body hands nothing over: free its blocks by hand
    assert not getattr(bare, "_ckpt_rdd_ids", None)
    bare._ckpt_rdd_ids = sorted(_pinned(spark) - base)
    _release_checkpoint(bare)
    j2 = _jobs_so_far(spark)
    out = wrapped(spark, "")
    j3 = _jobs_so_far(spark)
    assert j3 - j2 == j1 - j0 == 2
    _release_checkpoint(out)
    assert _pinned(spark) - base == set()


def test_raise_pins_nothing(spark, toy):
    @toy
    def q_fail(spark, sf_dir):
        _checkpoint(_edges(spark))
        _checkpoint(_edges(spark).select("u2"))
        raise RuntimeError("boom")

    base = _pinned(spark)
    with pytest.raises(RuntimeError, match="boom"):
        QUERY_REGISTRY["_test_scope_q_fail"].spark(spark, "")
    assert _pinned(spark) - base == set()


def test_nested_query_result_freed_by_outer_release(spark, toy):
    @toy
    def q_inner(spark, sf_dir):
        return _checkpoint(_edges(spark)).select("u1", "u2")

    @toy
    def q_outer(spark, sf_dir):
        inner = q_inner(spark, sf_dir)
        return inner.select(F.upper("u1").alias("u"))

    base = _pinned(spark)
    out = QUERY_REGISTRY["_test_scope_q_outer"].spark(spark, "")
    assert out._ckpt_rdd_ids
    assert out.count() == 5
    _release_checkpoint(out)
    assert _pinned(spark) - base == set()


def test_nested_result_freed_mid_query_is_not_handed_over(spark, toy):
    inner_ids = []

    @toy
    def q_inner2(spark, sf_dir):
        return _checkpoint(_edges(spark)).select("u1")

    @toy
    def q_outer2(spark, sf_dir):
        inner = q_inner2(spark, sf_dir)
        inner_ids.extend(inner._ckpt_rdd_ids)
        mine = _checkpoint(inner.select(F.upper("u1").alias("u")))
        _release_checkpoint(inner)
        return mine.select("u")

    base = _pinned(spark)
    out = QUERY_REGISTRY["_test_scope_q_outer2"].spark(spark, "")
    assert inner_ids and not set(inner_ids) & set(out._ckpt_rdd_ids)
    assert out._ckpt_rdd_ids
    assert out.count() == 5
    _release_checkpoint(out)
    assert _pinned(spark) - base == set()


def test_tracked_checkpoint_in_a_query_outlives_its_release(spark, toy):
    """perfbench's save step: `tracked_checkpoint` inside the query, read
    after the caller released the query's result."""
    saved = {}

    @toy
    def q_save(spark, sf_dir):
        labels = _checkpoint(_edges(spark))
        saved["labels"] = tracked_checkpoint(labels.select("u1"))
        return labels.select("u2")

    base = _pinned(spark)
    out = QUERY_REGISTRY["_test_scope_q_save"].spark(spark, "")
    mine = set(saved["labels"]._ckpt_rdd_ids)
    assert mine and not mine & set(out._ckpt_rdd_ids)
    _release_checkpoint(out)
    assert _pinned(spark) - base == mine
    assert sorted(saved["labels"].toPandas()["u1"]) == list("abdef")
    _release_checkpoint(saved["labels"])
    assert _pinned(spark) - base == set()


@_owns_checkpoints
def _op_two(df):
    """A toy operator: a bare projection of two checkpoints."""
    a = _checkpoint(df)
    return _checkpoint(a.select("u1")).select("u1")


@_owns_checkpoints
def _op_fail(df):
    _checkpoint(df)
    _checkpoint(df.select("u2"))
    raise RuntimeError("boom")


def test_operator_outside_a_query_owns_what_it_pinned(spark):
    base = _pinned(spark)
    out = _op_two(_edges(spark))
    assert len(out._ckpt_rdd_ids) == 2
    assert set(out._ckpt_rdd_ids) <= _pinned(spark) - base
    assert sorted(r["u1"] for r in out.collect()) == list("abdef")
    _release_checkpoint(out)
    assert _pinned(spark) - base == set()


def test_operator_raise_pins_nothing(spark):
    base = _pinned(spark)
    with pytest.raises(RuntimeError, match="boom"):
        _op_fail(_edges(spark))
    assert _pinned(spark) - base == set()


def test_operator_result_freed_mid_query_is_not_handed_over(spark, toy):
    op_ids = []

    @toy
    def q_uses_op(spark, sf_dir):
        op = _op_two(_edges(spark))
        op_ids.extend(op._ckpt_rdd_ids)
        mine = _checkpoint(op.select(F.upper("u1").alias("u")))
        _release_checkpoint(op)
        return mine.select("u")

    base = _pinned(spark)
    out = QUERY_REGISTRY["_test_scope_q_uses_op"].spark(spark, "")
    assert op_ids and not set(op_ids) & set(out._ckpt_rdd_ids)
    assert out._ckpt_rdd_ids
    assert out.count() == 5
    _release_checkpoint(out)
    assert _pinned(spark) - base == set()


def test_operator_scope_runs_no_job(spark):
    base = _pinned(spark)
    j0 = _jobs_so_far(spark)
    bare = _op_two.__wrapped__(_edges(spark))
    j1 = _jobs_so_far(spark)
    assert not getattr(bare, "_ckpt_rdd_ids", None)
    bare._ckpt_rdd_ids = sorted(_pinned(spark) - base)
    _release_checkpoint(bare)
    j2 = _jobs_so_far(spark)
    out = _op_two(_edges(spark))
    j3 = _jobs_so_far(spark)
    assert j3 - j2 == j1 - j0 == 2
    _release_checkpoint(out)
    assert _pinned(spark) - base == set()
