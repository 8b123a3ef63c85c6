"""Interactive UI shell (the last S21 residual — reference
project/ui/app.py:17-85): the serving process now carries the client
shell itself, stdlib only. Socket-level tests drive every interaction
the Streamlit page offers: the stat tiles ('Update stats' → GET
/stats), 'Run analysis' (POST /analyze → daemon thread, spinner
semantics = 409 while running, live log streaming via GET
/analyze/status — app.py's subprocess-stdout expander), the
success/failure banners (terminal states), and the results images
served from the report dir written by sinks/report.py."""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.request

import pytest


@pytest.fixture()
def ui_server(tmp_path):
    from echo_chambers_detection_spark.serving.http_api import start_server
    from echo_chambers_detection_spark.sinks.charts import _png_encode

    import numpy as np

    # a report dir like sinks/report.py writes: one chart + the html
    png = _png_encode(np.full((4, 6, 3), 40, dtype=np.uint8))
    (tmp_path / "ecs_by_community.png").write_bytes(png)
    (tmp_path / "report.html").write_text("<html>report</html>")

    gate = threading.Event()

    def analyze(log):
        log("projecting co-engagement graph")
        assert gate.wait(timeout=30), "test never released the gate"
        log("communities: 3")

    srv = start_server(
        {},
        stats_fn=lambda: (77_000, 123_456),
        analyze_fn=analyze,
        report_dir=str(tmp_path),
    )
    srv._test_gate = gate
    yield srv
    gate.set()
    srv.shutdown()


def _base(srv):
    host, port = srv.server_address
    return f"http://{host}:{port}"


def _get(srv, path):
    try:
        with urllib.request.urlopen(_base(srv) + path) as r:
            return r.status, r.headers.get("Content-Type"), r.read()
    except urllib.error.HTTPError as err:
        return err.code, err.headers.get("Content-Type"), err.read()


def _post(srv, path):
    req = urllib.request.Request(_base(srv) + path, data=b"{}", method="POST")
    req.add_header("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def test_ui_page_has_tiles_buttons_and_wiring(ui_server):
    code, ctype, body = _get(ui_server, "/ui")
    page = body.decode()
    assert code == 200 and ctype.startswith("text/html")
    for needle in (
        "Echo Chamber Analysis",
        "Number of users",
        "Number of posts",
        "Update stats",
        "Run analysis",
        "Running analysis",  # the spinner text, app.py:50
        "/analyze/status",
        "/report/",
    ):
        assert needle in page, needle


def test_stats_endpoint(ui_server):
    code, _, body = _get(ui_server, "/stats")
    assert code == 200
    assert json.loads(body) == {"users": 77_000, "posts": 123_456}


def test_analyze_lifecycle_with_log_streaming(ui_server):
    code, obj = _post(ui_server, "/analyze")
    assert (code, obj["state"]) == (202, "running")
    # spinner semantics: a second click while running is refused
    code2, obj2 = _post(ui_server, "/analyze")
    assert code2 == 409
    # live log: the first line streams BEFORE the run finishes
    deadline = time.time() + 10
    while time.time() < deadline:
        _, _, body = _get(ui_server, "/analyze/status")
        st = json.loads(body)
        if "projecting" in st["log"]:
            break
        time.sleep(0.05)
    assert st["state"] == "running" and "projecting" in st["log"]
    ui_server._test_gate.set()
    while time.time() < deadline:
        _, _, body = _get(ui_server, "/analyze/status")
        st = json.loads(body)
        if st["state"] != "running":
            break
        time.sleep(0.05)
    assert st["state"] == "done"
    assert "communities: 3" in st["log"]
    # a finished run can be re-triggered (button becomes live again)
    code3, _ = _post(ui_server, "/analyze")
    assert code3 == 202
    ui_server._test_gate.set()


def test_analyze_failure_surfaces_as_failed_state(tmp_path):
    from echo_chambers_detection_spark.serving.http_api import start_server

    def analyze(log):
        log("starting")
        raise RuntimeError("neo4j is not here")

    srv = start_server({}, analyze_fn=analyze)
    try:
        code, _ = _post(srv, "/analyze")
        assert code == 202
        deadline = time.time() + 10
        while time.time() < deadline:
            _, _, body = _get(srv, "/analyze/status")
            st = json.loads(body)
            if st["state"] != "running":
                break
            time.sleep(0.05)
        assert st["state"] == "failed"
        assert "neo4j is not here" in st["log"]
    finally:
        srv.shutdown()


def test_report_files_served_with_types(ui_server):
    code, ctype, body = _get(ui_server, "/report/ecs_by_community.png")
    assert code == 200 and ctype == "image/png"
    assert body[:8] == b"\x89PNG\r\n\x1a\n"
    code, ctype, body = _get(ui_server, "/report/report.html")
    assert code == 200 and ctype.startswith("text/html")
    assert b"report" in body


def test_report_traversal_and_missing(ui_server):
    code, _, _ = _get(ui_server, "/report/..%2Fsecrets")
    assert code == 400
    code, _, _ = _get(ui_server, "/report/.hidden")
    assert code == 400
    code, _, _ = _get(ui_server, "/report/nope.png")
    assert code == 404


def test_ui_routes_absent_without_config():
    from echo_chambers_detection_spark.serving.http_api import start_server

    srv = start_server({})
    try:
        code, _, _ = _get(srv, "/stats")
        assert code == 404
        code, obj = _post(srv, "/analyze")
        assert code == 404
        code, _, _ = _get(srv, "/report/x.png")
        assert code == 404
    finally:
        srv.shutdown()


def test_server_module_runs_without_double_import():
    """`python -m ...serving.http_api` (how a serving process starts)
    imports the module once: the package must not import it first, or
    runpy warns that it was found in sys.modules before execution."""
    import os
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-W", "error::RuntimeWarning", "-m",
         "echo_chambers_detection_spark.serving.http_api", "--help"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
