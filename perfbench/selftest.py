"""Self-tests for the benchmark's own guards. Run from the repository root:

    python3 perfbench/selftest.py           # checks + job counter
    python3 perfbench/selftest.py --no-spark  # checks only

Every correctness check is fed a correct result, which must pass, and
corrupted ones, each of which must fail. The job counter is driven past
the 100 jobs the engine's session keeps in its status store and must
still count every job of the layer. Exits 1 if any guard cannot go
red.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import probes  # noqa: E402

FAILURES: list[str] = []


def expect(name: str, problems: list[str], should_fail: bool) -> None:
    if bool(problems) != should_fail:
        FAILURES.append(f"{name}: expected {'failure' if should_fail else 'pass'}, got {problems}")


def test_oracle() -> None:
    want = pd.DataFrame({"label": ["a", "b"], "size": [3, 4], "cohesion": [0.5, 0.25]})
    expect("oracle/equal", checks.check_oracle(want.iloc[::-1].copy(), want), False)
    ulp = want.copy()
    ulp.loc[1, "cohesion"] = np.nextafter(0.25, 1.0)
    expect("oracle/last-ulp", checks.check_oracle(ulp, want), True)
    expect("oracle/dropped-row", checks.check_oracle(want.iloc[:1], want), True)


def test_metrics_table() -> None:
    labels = pd.DataFrame({"node": ["1", "2", "3", "4"], "label": ["1", "1", "3", "3"]})
    table = pd.DataFrame({
        "label": ["1", "3"], "size": [2, 2], "cohesion": [0.9, 0.8],
        "separation": [0.7, 0.6], "conductance": [0.1, None],
        "density_internal": [1.0, 1.0], "variance": [0.2, 0.3],
    })
    nodes = {"1", "2", "3", "4", "5"}
    expect("metrics/valid", checks.check_metrics_table(table, labels, nodes), False)
    stray = pd.concat([labels, pd.DataFrame({"node": ["9"], "label": ["3"]})])
    expect("metrics/stray-node", checks.check_metrics_table(table, stray, nodes), True)
    sizes = table.assign(size=[2, 3])
    expect("metrics/size-sum", checks.check_metrics_table(sizes, labels, nodes), True)
    cohesion = table.assign(cohesion=[1.5, 0.8])
    expect("metrics/range", checks.check_metrics_table(cohesion, labels, nodes), True)


def test_scd2() -> None:
    t0, t1 = pd.Timestamp("2024-01-01"), pd.Timestamp("2024-02-01")
    before = pd.DataFrame({
        "community_id": ["c0", "c0", "c0"], "node_id": ["a", "b", "c"],
        "valid_from": [t0] * 3, "valid_to": [pd.NaT] * 3,
    })
    new = pd.DataFrame({"community_id": ["c1", "c1"], "node_id": ["a", "b"]})
    after = pd.DataFrame({
        "community_id": ["c0", "c0", "c0", "c1", "c1"],
        "node_id": ["c", "a", "b", "a", "b"],
        "valid_from": [t0, t0, t0, t1, t1],
        "valid_to": [pd.NaT, t1, t1, pd.NaT, pd.NaT],
    })
    expect("scd2/valid", checks.check_scd2(before, after, new), False)
    not_expired = after.assign(valid_to=[pd.NaT, pd.NaT, pd.NaT, pd.NaT, pd.NaT])
    expect("scd2/not-expired", checks.check_scd2(before, not_expired, new), True)
    wrong = after.copy()
    wrong.loc[wrong.community_id == "c1", "community_id"] = "c9"
    expect("scd2/wrong-community", checks.check_scd2(before, wrong, new), True)
    touched = after.copy()
    touched.loc[touched.node_id == "c", "valid_to"] = t1
    expect("scd2/untouched-row-changed", checks.check_scd2(before, touched, new), True)


def test_ingest() -> None:
    batches = [
        [{"did": "u1", "handle": "a1", "display_name": "A"},
         {"did": "u2", "handle": "", "display_name": None},
         {"type": "LIKED", "user_did": "u1", "uri": "p1"},
         {"type": "LIKED", "user_did": "u1", "uri": "p1"}],
        [{"did": "u1", "handle": "a2", "display_name": "A2"},
         {"type": "LIKED", "user_did": "u2", "uri": "p1"}],
    ]
    want_u, want_e = checks.expected_ingest(batches)
    users = pd.DataFrame({"did": ["u2", "u1"], "handle": ["unknown", "a2"],
                          "display_name": ["unknown", "A2"], "_bucket": [3, 5]})
    likes = pd.DataFrame({"user_did": ["u2", "u1"], "post_uri": ["p1", "p1"],
                          "kind": ["LIKED"] * 2})
    expect("ingest/valid", checks.check_ingest(users, likes, want_u, want_e), False)
    stale = users.assign(handle=["unknown", "a1"])
    expect("ingest/first-write-wins", checks.check_ingest(stale, likes, want_u, want_e), True)
    expect("ingest/dropped-like", checks.check_ingest(users, likes.iloc[:1], want_u, want_e), True)
    dup = pd.concat([likes, likes.iloc[:1]])
    expect("ingest/duplicate-like", checks.check_ingest(users, dup, want_u, want_e), True)


def test_search() -> None:
    rng = np.random.default_rng(0)
    x = rng.normal(size=(200, 8))
    ids = [str(i) for i in range(200)]
    q = rng.normal(size=8)
    exact = checks.exact_topk(ids, x, q, 5)
    scores = (x @ q) / (np.linalg.norm(x, axis=1) * np.linalg.norm(q))
    assert exact[0][0] == str(int(np.argmax(scores)))
    expect("search/valid", checks.check_search(list(exact), exact), False)
    swapped = [exact[1], exact[0]] + list(exact[2:])
    expect("search/order", checks.check_search(swapped, exact), True)
    off = [(exact[0][0], exact[0][1] + 1e-6)] + list(exact[1:])
    expect("search/score", checks.check_search(off, exact), True)
    expect("search/short", checks.check_search(list(exact[:4]), exact), True)


def test_job_counter() -> None:
    """130 jobs in one layer, past the session's 100-job status store,
    plus untagged jobs inside another layer's span."""
    root = os.getcwd()
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"selftest-{os.getpid()}")
    log = os.path.join(work, "eventlog")
    os.makedirs(log)
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import run
    from echo_chambers_detection_spark import get_spark

    spark = get_spark(app_name="perfbench-selftest", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    try:
        sc = spark.sparkContext
        tracer = probes.Tracer(pass_id="selftest")
        sc.setJobGroup("operators.graph", "selftest")
        with tracer.span("operators.graph"):
            for _ in range(130):
                sc.parallelize([1]).count()  # exactly one job each
        retained = len(sc.statusTracker().getJobIdsForGroup("operators.graph"))
        sc.setLocalProperty("spark.jobGroup.id", None)
        time.sleep(0.05)
        with tracer.span("streaming.ingest"):
            for _ in range(3):
                sc.parallelize([1]).count()
        run.stop_spark(spark)
        spark = None
        stats = probes.read_event_log(log, tracer.spans)
    finally:
        if spark is not None:
            run.stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    got = stats.get("operators.graph", probes.GroupStats()).jobs
    if got != 130:
        FAILURES.append(f"jobs/over-100: event log counted {got}, ran 130")
    if retained >= 130:
        FAILURES.append(f"jobs/over-100: status store kept {retained} jobs; "
                        "the test no longer exceeds its cap")
    got = stats.get("streaming.ingest", probes.GroupStats()).jobs
    if got != 3:
        FAILURES.append(f"jobs/by-span: counted {got} untagged jobs, ran 3")


def main() -> int:
    for t in (test_oracle, test_metrics_table, test_scd2, test_ingest, test_search):
        t()
    if "--no-spark" not in sys.argv:
        test_job_counter()
    for f in FAILURES:
        print("FAIL", f)
    print("selftest:", "ok" if not FAILURES else f"{len(FAILURES)} failures")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
