from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from echo_chambers_detection_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# Verify-budget lane control (VERDICT r12 #2): the full suite overran the
# driver's verify window on a degraded host (67 min, cut off ~90% with
# zero failures), so the exhaustive parameter sweeps of the slowest
# parity/condense suites run behind this opt-in — same pattern as the
# realdeps mark. The QUICK lane keeps at least one variant of every
# test function (nothing is skipped outright, coverage per code path is
# preserved); SPARK_GRAFT_FULL_TESTS=1 restores every sweep point.
FULL_TESTS = os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1"


def assert_same_schema(mirror, distributed) -> None:
    """A driver mirror's frame must carry the distributed path's full
    schema, nullability included (`simpleString` hides NOT NULL). Reads
    only the analyzed schemas: no Spark job."""
    assert mirror.schema == distributed.schema, (
        f"mirror schema {mirror.schema} != distributed {distributed.schema}"
    )


def lane(full: list, quick: list) -> list:
    """Parametrize list for the current lane (full sweeps vs verify
    budget); `quick` must be a subset of `full`."""
    return full if FULL_TESTS else quick


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
