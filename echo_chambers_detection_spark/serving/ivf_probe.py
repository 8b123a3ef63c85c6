"""Single-query IVF probe against the persisted parquet index — no Spark.

The batch side builds the index once (`operators/ann.py::ivf_index_build`
-> `<path>/centroids`, `<path>/assignments` parquet) and answers batch
queries with `ivf_topk_from_index` (a Spark semi-join + rerank). That is
the right shape for throughput, but a standing serving node wants
millisecond point lookups — the regime the reference delegates to its
Qdrant collection (project/qdrant/consumer_post.py:42-49,
post_distance_test.py:26-31). `IvfProbe` is that serving node's kernel:

- load once per process: centroid matrix (KB), assignments (id->cell),
  and the probed representation of the embedding table grouped by cell
  (ids + row-major float64 matrix + norms per cell), all via pyarrow —
  no SparkSession, no JVM;
- `probe_one(vector, k, nprobe)`: rank cells by centroid dot product,
  score only the probed cells' matrices with one GEMM each, exact
  cosine, HALF_UP 6-digit rounding and (score desc, id asc) ordering —
  bit-identical semantics to `ivf_topk` / `cosine_topk`, so
  nprobe == n_cells reproduces the exact top-k (parity-tested against
  `ann_ivf_topk` in tests/test_serving_probe.py).

Memory is bounded by what you load: a serving shard holds its cells'
vectors (n_shard x d float64), exactly like any ANN server. At 100 TB
you shard cells across serving nodes; the index layout already keys
every row by cell, so the shard split is a partition filter on the
assignments parquet.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np


def _round_half_up6(x: float) -> float:
    """Spark's ROUND(col, 6) on DOUBLE: HALF_UP of the double's decimal
    string, `BigDecimal(Double.toString(d))`, not of its exact binary
    value (5e-7 lies just below the half-step in binary, and Spark
    rounds "5.0E-7" up to 1e-6). Python's repr is the shortest string
    that reads back as `x`, which is the digits `Double.toString` gives
    on the half-step grids tests/test_serving_probe.py checks. A zero
    result is +0.0, as `BigDecimal.doubleValue` gives (numpy.round is
    banker's — wrong at the .5 boundary)."""
    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    ) + 0.0


class IvfProbe:
    """Resident IVF index + vectors; `probe_one` answers point queries.

    Parameters
    ----------
    index_path: directory written by `ivf_index_build` (subdirs
        `centroids`, `assignments`).
    embeddings_path: parquet file/dir of the embedding table the index
        was built over.
    id_col / vec_col: column names in the embeddings parquet. Ids are
        cast to str to match the batch path (post_embeddings casts
        vec_id to string).
    """

    def __init__(
        self,
        index_path: str,
        embeddings_path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        import os

        import pyarrow.parquet as pq

        cent_tbl = pq.read_table(os.path.join(index_path, "centroids"))
        cells = cent_tbl.column("cell").to_pylist()
        cent_vecs = cent_tbl.column("centroid").to_pylist()
        dim = len(cent_vecs[0])
        self.centroids = np.zeros((len(cells), dim), dtype="float64")
        for c, v in zip(cells, cent_vecs):
            self.centroids[c] = v

        assign_tbl = pq.read_table(
            os.path.join(index_path, "assignments")
        )
        a_ids = [str(i) for i in assign_tbl.column(0).to_pylist()]
        a_cells = assign_tbl.column("cluster").to_pylist()
        cell_of = dict(zip(a_ids, a_cells))

        emb_tbl = pq.read_table(embeddings_path, columns=[id_col, vec_col])
        ids = [str(i) for i in emb_tbl.column(id_col).to_pylist()]
        vecs = emb_tbl.column(vec_col).to_pylist()

        # group rows by cell: ids list + (n_c, d) matrix + norms
        by_cell: dict[int, list[int]] = {}
        for row, rid in enumerate(ids):
            cell = cell_of.get(rid)
            if cell is None:
                continue  # not indexed (ingested after the build)
            by_cell.setdefault(int(cell), []).append(row)
        self.cells: dict[int, tuple[list[str], np.ndarray, np.ndarray]] = {}
        for cell, rows in by_cell.items():
            x = np.asarray([vecs[r] for r in rows], dtype="float64")
            self.cells[cell] = (
                [ids[r] for r in rows],
                x,
                np.linalg.norm(x, axis=1),
            )

    @property
    def n_cells(self) -> int:
        return self.centroids.shape[0]

    def probe_one(
        self, vector, k: int = 10, nprobe: int = 4
    ) -> list[tuple[str, float]]:
        """Top-k (id, score) for one query vector. Pure numpy; repeat
        queries cost two small GEMVs + the probed cells' GEMVs."""
        qv = np.asarray(vector, dtype="float64")
        qn = np.linalg.norm(qv)
        qdir = qv / qn if qn > 0 else qv
        order = np.argsort(-(self.centroids @ qdir), kind="stable")
        probe = [int(c) for c in order[:nprobe]]

        cand_ids: list[str] = []
        cand_raw: list[float] = []
        for cell in probe:
            entry = self.cells.get(cell)
            if entry is None:
                continue
            ids, x, norms = entry
            denom = norms * qn
            with np.errstate(divide="ignore", invalid="ignore"):
                scores = np.where(denom > 0, (x @ qv) / denom, np.nan)
            cand_ids.extend(ids)
            cand_raw.extend(scores.tolist())

        # cosine_topk semantics: ROUND(score, 6), NULL (zero-vector)
        # rows keep their null score but still sort by id; Spark orders
        # NULLS LAST under DESC
        scored = []
        for rid, s in zip(cand_ids, cand_raw):
            if np.isnan(s):
                scored.append((1, 0.0, rid, None))
            else:
                r = _round_half_up6(float(s))
                scored.append((0, -r, rid, r))
        scored.sort(key=lambda t: (t[0], t[1], t[2]))
        return [(rid, s) for _, _, rid, s in scored[:k]]
