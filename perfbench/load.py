"""Closed-loop search load against a running `serving.http_api` process.

`--conns` threads each send their next POST /search only after the
previous one answered, until `--requests` searches have been sent in
total. Query vectors come from `--seed`. Prints one JSON line:
{"latencies_ms": [...], "errors": n, "wall_s": s}.

    python3 perfbench/load.py --port 8080 --conns 4 --requests 1000 --seed 1
"""

from __future__ import annotations

import argparse
import http.client
import itertools
import json
import threading
import time

import numpy as np


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--port", type=int, required=True)
    p.add_argument("--conns", type=int, default=4)
    p.add_argument("--requests", type=int, default=1000)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--dim", type=int, default=64)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--nprobe", type=int, default=4)
    a = p.parse_args()

    rng = np.random.default_rng(a.seed + 2)
    bodies = [
        json.dumps(
            {"index": "ivf", "vector": q.tolist(), "k": a.k, "nprobe": a.nprobe}
        ).encode()
        for q in rng.normal(size=(a.requests, a.dim))
    ]
    ticket = itertools.count()
    lock = threading.Lock()
    latencies: list[float] = []
    errors = [0]

    def client() -> None:
        while True:
            with lock:
                i = next(ticket)
            if i >= a.requests:
                return
            t0 = time.perf_counter()
            try:
                conn = http.client.HTTPConnection("127.0.0.1", a.port, timeout=30)
                conn.request(
                    "POST", "/search", bodies[i], {"Content-Type": "application/json"}
                )
                resp = conn.getresponse()
                ok = resp.status == 200 and len(json.loads(resp.read())["results"]) == a.k
                conn.close()
            except (OSError, http.client.HTTPException, ValueError, KeyError):
                ok = False
            dt = (time.perf_counter() - t0) * 1e3
            with lock:
                if ok:
                    latencies.append(dt)
                else:
                    errors[0] += 1

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(a.conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    alive = sum(t.is_alive() for t in threads)
    print(json.dumps({
        "latencies_ms": latencies,
        "errors": errors[0] + alive,
        "wall_s": time.perf_counter() - t0,
    }))


if __name__ == "__main__":
    main()
