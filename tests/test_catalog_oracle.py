"""Oracle-differential test for every catalog query with an oracle
(mirrors the driver's CORRECTNESS gate at sf0.01).

Doubles as the session-level checkpoint-ownership guard (ADVICE r9):
every query runs inside a pinned-RDD diff — after a caller-side
`_release_checkpoint(result)`, the session's pinned-RDD set must return
to its pre-query baseline. The `_ckpt_rdd_ids` ownership protocol lives
in a dynamically attached attribute that any select/withColumn silently
drops; the ownership scope `register` wraps every query in
(`operators/graph.py::_owns_checkpoints`) puts back on the result whatever
`_checkpoint` made during the call and left pinned. A checkpoint that
bypasses `_checkpoint` (a raw `localCheckpoint`, a cache) or a scope
that loses the hand-over fails HERE instead of leaking silently in
long-lived sessions."""

from __future__ import annotations

import pytest

from echo_chambers_detection_spark.catalog import QUERY_REGISTRY
from tests.conftest import SF_ORACLE
from tests.oracle_utils import compare_with_oracle, duckdb_con

_WITH_ORACLE = sorted(n for n, s in QUERY_REGISTRY.items() if s.oracle)
_ROWS_ONLY = sorted(n for n, s in QUERY_REGISTRY.items() if not s.oracle)


@pytest.fixture(scope="module")
def con():
    c = duckdb_con(SF_ORACLE)
    yield c
    c.close()


def _pinned(spark):
    return {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs()
        .keySet()
        .toArray()
    }


def _run_leak_guarded(spark, name, body):
    """Run `body()` (which materializes the query's DataFrame), release
    the result, and assert the pinned-RDD set returned to baseline.
    Leaked blocks are force-swept either way so one leaky query cannot
    confound the next test."""
    from echo_chambers_detection_spark.operators.graph import (
        _release_checkpoint,
    )

    base = _pinned(spark)
    df = QUERY_REGISTRY[name].spark(spark, SF_ORACLE)
    try:
        body(df)
    finally:
        _release_checkpoint(df)
        leaked = _pinned(spark) - base
        if leaked:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for i in leaked:
                jrdd = jmap.get(i)
                if jrdd is not None:
                    jrdd.unpersist(False)
    assert not leaked, (
        f"{name} leaked {len(leaked)} pinned checkpoint frame(s) "
        f"{sorted(leaked)} after caller-side release — a checkpoint "
        f"bypassed the query scope (checkpoint through "
        f"operators/graph.py::_checkpoint) or the scope lost its hand-over"
    )


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_query_matches_oracle(spark, con, name):
    spec = QUERY_REGISTRY[name]
    _run_leak_guarded(
        spark,
        name,
        lambda df: compare_with_oracle(df, con, spec.oracle, name=name),
    )


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    _run_leak_guarded(
        spark, name, lambda df: df.count()
    )
