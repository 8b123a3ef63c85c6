"""The benchmark workloads.

Each workload writes its inputs and expected answers from the seed in a
separate process (`generate`, see fixtures.py), loads the expected
answers (`prepare`), runs one pass through the engine's public functions
(`run_pass`), and returns a `verify` callable that checks the pass's
outputs after the timer stops.

A pass takes a `Stage`. The plain `Stage` runs the pass exactly as a
caller of the engine would. `TracedStage` (run.py) labels each layer's
Spark jobs with a job group, records a span around it, and checkpoints
the layer's output at the boundary (`mat`) so the next layer's jobs are
its own.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pandas as pd

import checks
import probes

HERE = os.path.dirname(os.path.abspath(__file__))


class Stage:
    """Untraced pass: no labels, no spans, no extra materialization."""

    traced = False

    def layer(self, name: str):
        return contextlib.nullcontext()


class PassResult:
    def __init__(self, verify, attempted: int = 1, extra: dict | None = None):
        self.verify = verify  # () -> (failed units, [problems])
        self.attempted = attempted
        self.extra = extra or {}


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.fx = os.path.join(work, "fixtures")

    def generate(self) -> None:
        shutil.rmtree(self.fx, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "fixtures.py"), "--workload",
             self.name, "--seed", str(self.seed), "--out", self.fx],
            check=True, timeout=120,
        )


def _jobs_so_far(spark) -> int:
    """Jobs the session has submitted: the scheduler's job-id counter,
    which no status-store retention limit clips."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


# ---------------------------------------------------------------------------
# analysis_sf01
# ---------------------------------------------------------------------------

CC_KEY, HD_KEY = "analysis_run:cc_strong", "analysis_run:hdbscan"


class AnalysisSf01(Workload):
    """The "Run analysis" button over tables of the sf0.1 shape (see
    fixtures.py): the catalog's `analysis_run_metrics` (projection ->
    connected components -> metrics, oracle-checked) and
    `analysis_run_hdbscan` (projection -> FastRP -> HDBSCAN -> metrics),
    with the SCD-2 save of the HDBSCAN membership between its clustering
    and its metrics, where the reference saves it."""

    name = "analysis_sf01"

    def prepare(self) -> None:
        self.data = os.path.join(self.fx, "sf")
        self.oracle = pd.read_parquet(os.path.join(self.fx, "oracle.parquet"))
        self.state = os.path.join(self.fx, "membership_0")
        self.posts = {str(i) for i in range(100)}
        self._pass = 0

    def _save(self, labels):
        """save_communities + expire_and_append of the previous state,
        written as the next state. The saved labels get a checkpoint of
        their own: the chain frees its blocks once the metrics tail has
        them, and the check reads the labels after the pass."""
        from echo_chambers_detection_spark.operators.graph import tracked_checkpoint
        from echo_chambers_detection_spark.operators.scd2 import (
            expire_and_append,
            save_communities,
        )

        self._pass += 1
        labels = tracked_checkpoint(labels)
        _, membership = save_communities(
            labels.withColumnRenamed("node", "node_id"), f"run-{self._pass}"
        )
        before = self.state
        after = os.path.join(self.work, f"membership_{self._pass}")
        expire_and_append(
            self.spark.read.parquet(before),
            membership,
            f"2024-02-01 00:00:{self._pass % 60:02d}",
        ).write.mode("overwrite").parquet(after)
        self.state = after
        return {"labels": labels, "membership": membership,
                "before": before, "after": after}

    @contextlib.contextmanager
    def _save_inside_chain(self):
        """Run the save inside the catalog's HDBSCAN chain: the chain hands
        its noise-filtered labels to its metrics tail, `_mint_and_metrics`,
        and the save takes them there. The chain itself runs unchanged."""
        import echo_chambers_detection_spark.catalog.metrics as cm

        tail, saved = cm._mint_and_metrics, {}

        def tapped(edges, labels, emb, run_key):
            if run_key == HD_KEY:
                saved.update(self._save(labels))
            return tail(edges, labels, emb, run_key)

        cm._mint_and_metrics = tapped
        try:
            yield saved
        finally:
            cm._mint_and_metrics = tail

    def run_pass(self, st: Stage) -> PassResult:
        from echo_chambers_detection_spark.operators.graph import _release_checkpoint

        if st.traced:
            cc, hd, saved, extra = self._layered(st)
        else:
            from echo_chambers_detection_spark.catalog.metrics import (
                q_analysis_run_hdbscan,
                q_analysis_run_metrics,
            )

            jobs0, t0 = _jobs_so_far(self.spark), time.perf_counter()
            out = q_analysis_run_metrics(self.spark, self.data)
            cc = out.toPandas()
            _release_checkpoint(out)
            jobs1, t1 = _jobs_so_far(self.spark), time.perf_counter()
            with self._save_inside_chain() as saved:
                out = q_analysis_run_hdbscan(self.spark, self.data)
                hd = out.toPandas()
            _release_checkpoint(out)
            extra = {"cc_jobs": jobs1 - jobs0, "cc_s": t1 - t0,
                     "hdbscan_jobs": _jobs_so_far(self.spark) - jobs1,
                     "hdbscan_s": time.perf_counter() - t1}
        extra.update(cc_communities=len(cc), hdbscan_communities=len(hd))
        spark = self.spark

        def verify():
            if not saved:
                bad = ["the HDBSCAN chain never reached its metrics tail"]
                return 1, bad
            bad = checks.check_oracle(cc, self.oracle)
            bad += checks.check_metrics_table(
                hd, saved["labels"].toPandas(), self.posts
            )
            bad += checks.check_scd2(
                spark.read.parquet(saved["before"]).toPandas(),
                spark.read.parquet(saved["after"]).toPandas(),
                saved["membership"].toPandas(),
            )
            shutil.rmtree(saved["before"], ignore_errors=True)
            return (1 if bad else 0), bad

        return PassResult(verify, extra=extra)

    def _layered(self, st: Stage):
        """The two catalog chains written out layer by layer, with the
        catalog's checkpoint ownership (tracked_checkpoint, carry_ckpt,
        carry_input_ckpt, and the release inside `_mint_and_metrics`),
        for the traced pass."""
        from pyspark.sql import functions as F

        from echo_chambers_detection_spark.catalog.metrics import (
            _emb_nodes,
            _mint_and_metrics,
        )
        from echo_chambers_detection_spark.operators.coengagement import (
            coengagement_edges_bitmap,
        )
        from echo_chambers_detection_spark.operators.graph import (
            _release_checkpoint,
            carry_ckpt,
            connected_components,
            fastrp,
            tracked_checkpoint,
        )
        from echo_chambers_detection_spark.operators.hdbscan import hdbscan_cluster
        from echo_chambers_detection_spark.sources import (
            engagements_from_events,
            load_table,
        )

        spark, data = self.spark, self.data

        def post_graph():  # catalog.graph._post_graph
            with st.layer("sources"):
                eng = tracked_checkpoint(
                    engagements_from_events(load_table(spark, "events", data))
                )
            with st.layer("operators.coengagement"):
                return st.mat(carry_ckpt(
                    coengagement_edges_bitmap(
                        eng, user_col="post_uri", post_col="user_did", num_slots=None
                    ),
                    eng,
                ))

        def metrics(edges, labels, run_key):
            with st.layer("operators.metrics"):
                out = _mint_and_metrics(edges, labels, _emb_nodes(spark, data), run_key)
                table = out.toPandas()
                _release_checkpoint(out)
                return table

        # analysis_run_metrics
        pg = post_graph()
        with st.layer("operators.coengagement"):
            thr = pg.agg((1.2 * F.avg("weight")).alias("t"))
            strong = st.mat(carry_ckpt(
                pg.crossJoin(F.broadcast(thr))
                .where(F.col("weight") >= F.col("t"))
                .select("u1", "u2"),
                pg,
            ))
        with st.layer("operators.graph"):
            comps = connected_components(strong)
            labels = st.mat(carry_ckpt(
                comps.select("node", F.col("component").alias("label")), comps
            ))
        cc = metrics(strong, labels, CC_KEY)

        # analysis_run_hdbscan
        pg = post_graph()
        with st.layer("operators.graph"):
            rp = fastrp(pg, dim=128)
            frp = st.mat(carry_ckpt(rp.withColumnRenamed("embedding", "vector"), rp, pg))
        with st.layer("operators.hdbscan"):
            clusters = hdbscan_cluster(
                frp, min_pts=3, min_cluster_size=3, k=10, carry_input_ckpt=True
            )
            labels = st.mat(carry_ckpt(
                clusters.where(F.col("cluster") != "-1").select(
                    F.col("node"), F.col("cluster").alias("label")
                ),
                clusters,
            ))
        with st.layer("operators.scd2"):
            saved = self._save(labels)
        hd = metrics(pg.select("u1", "u2"), labels, HD_KEY)
        return cc, hd, saved, {}


# ---------------------------------------------------------------------------
# ingest_search
# ---------------------------------------------------------------------------


class IngestSearch(Workload):
    """Writes beside reads: user-topic JSON micro-batches (profiles and
    LIKED edges, with redelivered duplicates and Zipf post popularity)
    go through the streaming last-write-wins upserts; then an IVF index
    is built over a fixed embedding table and a separate
    `serving.http_api` process answers a closed loop of top-k searches
    from one load process."""

    name = "ingest_search"
    DIM, CELLS, NPROBE, K, SEARCHES = 64, 32, 4, 10, 500

    def prepare(self) -> None:
        self.conns = min(4, os.cpu_count() or 1)  # at most nproc connections
        self.topic = os.path.join(self.fx, "topic")
        self.emb_path = os.path.join(self.fx, "emb.parquet")
        self.want_users = pd.read_parquet(os.path.join(self.fx, "want_users.parquet"))
        self.want_likes = pd.read_parquet(os.path.join(self.fx, "want_likes.parquet"))
        with open(os.path.join(self.fx, "parity.json")) as fh:
            parity = json.load(fh)
        self.messages = parity["messages"]
        self.parity_queries = parity["queries"]
        self.want_topk = [[tuple(r) for r in t] for t in parity["topk"]]
        self._pass = 0

    def _written_bytes(self, roots: list[str], seen: dict) -> int:
        new = 0
        for root in roots:
            for dirpath, _, files in os.walk(root):
                for f in files:
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    key = (st.st_ino, st.st_mtime_ns, st.st_size)
                    if seen.get(p) != key:
                        seen[p] = key
                        new += st.st_size
        return new

    def run_pass(self, st: Stage) -> PassResult:
        from echo_chambers_detection_spark.operators.ann import ivf_index_build
        from echo_chambers_detection_spark.streaming.ingest import (
            run_user_topic_ingest,
        )

        self._pass += 1
        root = os.path.join(self.work, f"pass_{self._pass}")
        src = os.path.join(root, "src")
        users = os.path.join(root, "users.parquet")
        likes = os.path.join(root, "engagements.parquet")
        ckpt = os.path.join(root, "ckpt")
        os.makedirs(src)
        extra: dict = {}
        batch_s = []
        seen: dict = {}
        written = read = 0
        with st.layer("streaming.ingest"):
            for name in sorted(os.listdir(self.topic)):
                # stage outside the source dir, then rename in: the file
                # source must never list a half-written file
                shutil.copy(os.path.join(self.topic, name), os.path.join(root, name))
                os.rename(os.path.join(root, name), os.path.join(src, name))
                read += os.path.getsize(os.path.join(src, name))
                t0 = time.perf_counter()
                run_user_topic_ingest(self.spark, src, users, likes, ckpt)
                batch_s.append(time.perf_counter() - t0)
                written += self._written_bytes([users, likes, ckpt], seen)
        extra["msgs_per_s"] = self.messages / sum(batch_s)
        extra["write_amp"] = written / read
        idx = os.path.join(root, "ivf")
        with st.layer("operators.ann"):
            t0 = time.perf_counter()
            ivf_index_build(
                self.spark.read.parquet(self.emb_path), idx, n_cells=self.CELLS,
                iters=3, id_col="vec_id", vec_col="embedding",
            )
            extra["index_build_s"] = time.perf_counter() - t0
        with st.layer("serving"):
            served, load, extra["server_peak_rss_mb"] = self._serve(idx)
            if st.traced:
                extra["probe_ms"] = self._probe_in_process(idx)
        extra["latencies_ms"] = load["latencies_ms"]

        def verify():
            bad = checks.check_ingest(
                self.spark.read.parquet(users).toPandas(),
                self.spark.read.parquet(likes).toPandas(),
                self.want_users, self.want_likes,
            )
            failed = 1 if bad else 0
            for got, want in zip(served, self.want_topk):
                problems = checks.check_search(got, want)
                failed += 1 if problems else 0
                bad += problems
            if load["errors"]:
                bad.append(f"{load['errors']} searches failed")
                failed += load["errors"]
            shutil.rmtree(root, ignore_errors=True)
            return failed, bad

        attempted = 1 + len(self.parity_queries) + self.SEARCHES
        return PassResult(verify, attempted=attempted, extra=extra)

    def _serve(self, idx: str):
        """Start the serving process on the fresh index, run the exhaustive
        parity queries and the closed search loop, read the server's peak
        resident set, stop the server."""
        import urllib.request

        # one BLAS thread per request thread: the server answers requests
        # concurrently, and nested BLAS threads only contend for the cores
        env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1")
        server = subprocess.Popen(
            [sys.executable, "-m", "echo_chambers_detection_spark.serving.http_api",
             "--ivf", f"ivf={idx},{self.emb_path}", "--port", "0"],
            stdout=subprocess.PIPE, text=True, env=env,
        )
        try:
            port = json.loads(server.stdout.readline())["port"]
            served = []
            for q in self.parity_queries:
                body = json.dumps(
                    {"index": "ivf", "vector": q, "k": self.K, "nprobe": self.CELLS}
                ).encode()
                req = urllib.request.Request(
                    f"http://127.0.0.1:{port}/search", body,
                    {"Content-Type": "application/json"},
                )
                with urllib.request.urlopen(req, timeout=30) as resp:
                    res = json.loads(resp.read())["results"]
                served.append([(r["id"], r["score"]) for r in res])
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "load.py"),
                 "--port", str(port), "--conns", str(self.conns),
                 "--requests", str(self.SEARCHES), "--seed", str(self.seed),
                 "--dim", str(self.DIM), "--k", str(self.K),
                 "--nprobe", str(self.NPROBE)],
                capture_output=True, text=True, timeout=150, check=True,
            )
            load = json.loads(out.stdout.strip().splitlines()[-1])
            return served, load, probes.peak_rss_mb([server.pid])
        finally:
            server.terminate()
            server.wait(timeout=30)

    def _probe_in_process(self, idx: str) -> float:
        from echo_chambers_detection_spark.serving import IvfProbe

        probe = IvfProbe(idx, self.emb_path)
        rng = np.random.default_rng(self.seed + 1)
        times = []
        for q in rng.normal(size=(200, self.DIM)):
            t0 = time.perf_counter()
            probe.probe_one(q, k=self.K, nprobe=self.NPROBE)
            times.append((time.perf_counter() - t0) * 1e3)
        return float(np.median(times))


WORKLOADS = {w.name: w for w in (AnalysisSf01, IngestSearch)}
