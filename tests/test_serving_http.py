"""Standing-process HTTP shell (serving.http_api): request → top-k JSON
parity-checked against the batch `ivf_topk` path, plus route/error
behavior and 50-repeat sub-second latency — the reference's Qdrant
server role (project/qdrant/consumer_post.py:42-49) minus the external
dependency."""

from __future__ import annotations

import json
import time
import urllib.request

import pytest

SF = "/root/testdata/sf0.001"
EMB_PARQUET = SF + "/embeddings.parquet"


@pytest.fixture(scope="module")
def emb(spark):
    from echo_chambers_detection_spark.catalog import _emb

    return _emb(spark, SF).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def server(emb, tmp_path_factory):
    from echo_chambers_detection_spark.operators.ann import ivf_index_build
    from echo_chambers_detection_spark.serving import IvfProbe
    from echo_chambers_detection_spark.serving.http_api import start_server

    idx = str(tmp_path_factory.mktemp("http") / "ivf")
    ivf_index_build(emb, idx, n_cells=16, iters=2)
    srv = start_server({"ivf": IvfProbe(idx, EMB_PARQUET)})
    yield srv
    srv.shutdown()


def _base(server):
    host, port = server.server_address
    return f"http://{host}:{port}"


def _qvec():
    import pyarrow.parquet as pq

    t = pq.read_table(EMB_PARQUET, columns=["vec_id", "embedding"])
    for rid, v in zip(
        t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()
    ):
        if str(rid) == "0":
            return v
    raise AssertionError("vec_id=0 missing from test embeddings")


def _post(server, payload):
    req = urllib.request.Request(
        _base(server) + "/search",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def test_http_search_parity_with_batch_ivf_topk(spark, emb, server):
    """POST /search (exhaustive nprobe) must reproduce the batch
    ivf_topk top-10 — ids AND scores, through real sockets."""
    from echo_chambers_detection_spark.catalog import _query_vec
    from echo_chambers_detection_spark.operators.ann import ivf_topk

    batch = [
        {"id": r["post_cid"], "score": r["score"]}
        for r in ivf_topk(
            emb,
            _query_vec(spark, SF),
            k_results=10,
            n_cells=16,
            nprobe=16,
            iters=2,
        ).collect()
    ]
    code, obj = _post(
        server, {"index": "ivf", "vector": _qvec(), "k": 10, "nprobe": 16}
    )
    assert code == 200
    assert obj["results"] == batch


def test_http_get_query_string_matches_post(server):
    qv = _qvec()
    code, via_post = _post(
        server, {"vector": qv, "k": 5, "nprobe": 4}
    )
    assert code == 200
    url = (
        _base(server)
        + "/search?index=ivf&k=5&nprobe=4&vector="
        + ",".join(repr(float(x)) for x in qv)
    )
    with urllib.request.urlopen(url) as resp:
        via_get = json.loads(resp.read())
    assert via_get == via_post


def test_http_health_and_errors(server):
    with urllib.request.urlopen(_base(server) + "/health") as resp:
        assert json.loads(resp.read()) == {
            "status": "ok",
            "indexes": ["ivf"],
        }
    code, obj = _post(server, {"index": "nope", "vector": [1.0]})
    assert code == 404 and "unknown index" in obj["error"]
    code, obj = _post(server, {"index": "ivf"})
    assert code == 400 and "vector" in obj["error"]
    code, obj = _post(server, {"index": "ivf", "vector": [1.0], "k": "x"})
    assert code == 400


def test_http_repeat_latency_subsecond(server):
    """50 repeat queries through real HTTP round-trips in < 1 s total —
    the serving-regime contract (the probe itself is microseconds; this
    pins the process boundary doesn't eat it)."""
    qv = _qvec()
    payload = {"index": "ivf", "vector": qv, "k": 10, "nprobe": 4}
    _post(server, payload)  # connection/codepath warm-up
    t0 = time.perf_counter()
    for _ in range(50):
        code, obj = _post(server, payload)
        assert code == 200 and len(obj["results"]) == 10
    dt = time.perf_counter() - t0
    assert dt < 1.0, f"50 HTTP probes took {dt:.3f}s"
