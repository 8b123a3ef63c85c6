"""Correctness checks. Each returns a list of problems; empty means the
result is correct. They take plain pandas / Python values so
`selftest.py` can feed them corrupted results without Spark."""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd


def frame_digest(df: pd.DataFrame) -> str:
    """Order-insensitive exact digest: columns by name, rows sorted,
    floats by their repr (a last-ulp difference changes the digest)."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(
        "|".join("None" if _isnull(v) else repr(_plain(v)) for v in row)
        for row in df.itertuples(index=False)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _isnull(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _plain(v):
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    return v


def check_oracle(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows, oracle has {len(want)}"]
    if frame_digest(got) != frame_digest(want):
        return ["rows differ from the DuckDB oracle"]
    return []


def _in_range(s: pd.Series, lo: float, hi: float) -> bool:
    v = s.dropna().astype(float)
    return bool(((v >= lo - 1e-9) & (v <= hi + 1e-9)).all())


def check_metrics_table(
    metrics: pd.DataFrame, labels: pd.DataFrame, input_nodes: set[str]
) -> list[str]:
    """Structural invariants of a detection branch: labelled nodes are a
    subset of the input graph, community sizes sum to the labelled nodes
    the table covers, and every metric lies in its range."""
    bad = []
    if labels.empty or metrics.empty:
        return ["no communities detected"]
    stray = set(labels["node"]) - input_nodes
    if stray:
        bad.append(f"{len(stray)} labelled nodes not in the input graph")
    if labels["node"].duplicated().any():
        bad.append("a node carries two labels")
    covered = labels[labels["label"].astype(str).isin(metrics["label"].astype(str))]
    if int(metrics["size"].sum()) != len(covered):
        bad.append(
            f"sizes sum to {int(metrics['size'].sum())}, "
            f"labelled members {len(covered)}"
        )
    if metrics["label"].duplicated().any():
        bad.append("duplicate community rows")
    for col, lo, hi in (
        ("cohesion", -1, 1),
        ("separation", 0, 2),
        ("conductance", 0, 1),
        ("density_internal", 0, 1),
        ("variance", 0, 4),
    ):
        if col in metrics and not _in_range(metrics[col], lo, hi):
            bad.append(f"{col} outside [{lo}, {hi}]")
    return bad


def check_scd2(
    before: pd.DataFrame, after: pd.DataFrame, new: pd.DataFrame
) -> list[str]:
    """expire_and_append: rows = before + new; every key of the new
    assignment has exactly one current row holding its new community;
    keys outside it keep their rows untouched."""
    bad = []
    if len(after) != len(before) + len(new):
        bad.append(f"{len(after)} rows, expected {len(before) + len(new)}")
    cur = after[after["valid_to"].isna()]
    if cur["node_id"].duplicated().any():
        bad.append("a node has two current rows")
    want = dict(zip(new["node_id"], new["community_id"]))
    got = dict(zip(cur["node_id"], cur["community_id"]))
    if any(got.get(k) != v for k, v in want.items()):
        bad.append("current rows do not hold the new assignment")
    keep = before[~before["node_id"].isin(want)]
    kept = after[~after["node_id"].isin(want)]
    if frame_digest(keep) != frame_digest(kept):
        bad.append("rows of nodes outside the new assignment changed")
    return bad


def expected_ingest(batches: list[list[dict]]) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Independent last-write-wins replay of the user topic: the last
    profile per did wins (blank or missing fields read 'unknown'), and
    LIKED edges are a set."""
    users: dict[str, tuple[str, str]] = {}
    likes: set[tuple[str, str]] = set()

    def clean(v):
        v = (v or "").strip()
        return v if v else "unknown"

    for batch in batches:
        for m in batch:
            if m.get("type") == "LIKED":
                likes.add((m["user_did"], m["uri"]))
            else:
                users[clean(m.get("did"))] = (
                    clean(m.get("handle")),
                    clean(m.get("display_name")),
                )
    u = pd.DataFrame(
        [(d, h, n) for d, (h, n) in users.items()],
        columns=["did", "handle", "display_name"],
    )
    e = pd.DataFrame(sorted(likes), columns=["user_did", "post_uri"])
    return u, e


def check_ingest(
    users: pd.DataFrame, likes: pd.DataFrame, want_users, want_likes
) -> list[str]:
    bad = []
    got_u = users[["did", "handle", "display_name"]]
    if frame_digest(got_u) != frame_digest(want_users):
        bad.append(f"users table ({len(got_u)} rows) != last-write-wins replay "
                   f"({len(want_users)} rows)")
    got_e = likes[["user_did", "post_uri"]]
    if frame_digest(got_e) != frame_digest(want_likes):
        bad.append(f"engagements ({len(got_e)} rows) != distinct likes "
                   f"({len(want_likes)} rows)")
    return bad


def _half_up6(x: float) -> float:
    return float(Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def exact_topk(ids: list[str], x: np.ndarray, q, k: int) -> list[tuple[str, float]]:
    """Brute-force cosine top-k with the serving semantics: scores
    rounded HALF_UP to 6 digits, ordered by (score desc, id asc)."""
    qv = np.asarray(q, dtype="float64")
    raw = (x @ qv) / (np.linalg.norm(x, axis=1) * np.linalg.norm(qv))
    # rounding can only reorder rows within 1e-6 of each other, so a
    # generous raw-score prefix holds the exact rounded top-k
    cand = np.argsort(-raw, kind="stable")[: k + 64]
    scored = sorted((-_half_up6(float(raw[i])), ids[i]) for i in cand)
    return [(rid, -s) for s, rid in scored[:k]]


def check_search(served: list[tuple[str, float]], exact) -> list[str]:
    served = [(str(i), float(s)) for i, s in served]
    if served != list(exact):
        return [f"served top-k {served[:3]}... != exact {list(exact)[:3]}..."]
    return []
