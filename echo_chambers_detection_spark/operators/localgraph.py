"""Driver-side small-graph fast path for the iterative graph operators.

Multilevel community detection coarsens aggressively: one level in, the
graph is communities-not-nodes, and after two it is typically thousands
of times smaller than the input. The distributed loops in graph.py pay
a fixed number of serialized Spark jobs PER ROUND regardless of data
size — measured ~15s of pure overhead running Leiden on a 100-node
graph at sf0.1 — so once a (sub)problem fits comfortably in driver
memory the right plan is to finish it locally, exactly like the
bitmap-vs-self-join and LSH-vs-exact crossovers elsewhere in this
engine. (The reference's Neo4j GDS is a single-machine library; OUR
distributed path is the superset for graphs that do not fit one node.)

Semantics here are bit-for-bit mirrors of graph.py's distributed loops
(same scores, same adaptive majority-direction move schedule, same
string-order tie-breaks), so an algorithm can cross from the
distributed path to the local path mid-run — or run entirely locally
below the threshold — and produce THE SAME partition.
tests/test_local_graph_parity.py pins distributed-vs-local equality on
the regression fixtures, forcing the distributed path with
`placement.distributed()`.

The hash mirrored is Spark's `xxhash64(col)` (catalyst XXH64, seed 42)
over the node id's UTF-8 bytes — the Leiden refinement's parity
schedule (refine_np / graph._refine) still keys off it, as do the
walk/bitmap mirrors and FastRP's init grid (`fastrp_init_mod6`, which
chains Spark's hashInt over the dim and seed columns).

Placement rule: an operator runs its mirror when `placement.on_driver`
places its kernel on the driver — the pulled edge rows, at the kernel's
bytes per row, fit the heap-derived driver budget — when the kernel's
own operation budget holds (`WALK_LOCAL_OP_LIMIT`,
`WEDGE_LOCAL_OP_LIMIT`), and when the mirror can reproduce the input;
otherwise the distributed loop runs. A kernel that returns None hands
the call back to it.
"""

from __future__ import annotations

MASK64 = (1 << 64) - 1

_PRIME1 = 0x9E3779B185EBCA87
_PRIME2 = 0xC2B2AE3D27D4EB4F
_PRIME3 = 0x165667B19E3779F9
_PRIME4 = 0x85EBCA77C2B2AE63
_PRIME5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & MASK64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 (Collet) over `data`, returned as SIGNED 64-bit to match
    Spark's LongType output of `F.xxhash64` — pinned against Spark in
    tests/test_local_graph_parity.py."""
    length = len(data)
    idx = 0
    if length >= 32:
        v1 = (seed + _PRIME1 + _PRIME2) & MASK64
        v2 = (seed + _PRIME2) & MASK64
        v3 = seed & MASK64
        v4 = (seed - _PRIME1) & MASK64
        while idx <= length - 32:
            lane = int.from_bytes(data[idx : idx + 8], "little")
            v1 = (_rotl((v1 + lane * _PRIME2) & MASK64, 31) * _PRIME1) & MASK64
            lane = int.from_bytes(data[idx + 8 : idx + 16], "little")
            v2 = (_rotl((v2 + lane * _PRIME2) & MASK64, 31) * _PRIME1) & MASK64
            lane = int.from_bytes(data[idx + 16 : idx + 24], "little")
            v3 = (_rotl((v3 + lane * _PRIME2) & MASK64, 31) * _PRIME1) & MASK64
            lane = int.from_bytes(data[idx + 24 : idx + 32], "little")
            v4 = (_rotl((v4 + lane * _PRIME2) & MASK64, 31) * _PRIME1) & MASK64
            idx += 32
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & MASK64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _PRIME2) & MASK64, 31) * _PRIME1) & MASK64
            h = ((h * _PRIME1) + _PRIME4) & MASK64
    else:
        h = (seed + _PRIME5) & MASK64
    h = (h + length) & MASK64
    while idx <= length - 8:
        lane = int.from_bytes(data[idx : idx + 8], "little")
        h ^= (_rotl((lane * _PRIME2) & MASK64, 31) * _PRIME1) & MASK64
        h = ((_rotl(h, 27) * _PRIME1) + _PRIME4) & MASK64
        idx += 8
    if idx <= length - 4:
        lane = int.from_bytes(data[idx : idx + 4], "little")
        h ^= (lane * _PRIME1) & MASK64
        h = ((_rotl(h, 23) * _PRIME2) + _PRIME3) & MASK64
        idx += 4
    while idx < length:
        h ^= (data[idx] * _PRIME5) & MASK64
        h = (_rotl(h, 11) * _PRIME1) & MASK64
        idx += 1
    h ^= h >> 33
    h = (h * _PRIME2) & MASK64
    h ^= h >> 29
    h = (h * _PRIME3) & MASK64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


# ---------------------------------------------------------------------------
# numpy mirrors of graph.py's distributed loops. Node/community ids are
# kept as the ORIGINAL strings; index spaces are always sorted lists of
# those strings, so integer comparisons on indices reproduce Spark's
# binary string-order tie-breaks (min member canonicalization, max-id
# tie-breaks, c_src < c_dst coarsening orientation) exactly.
# ---------------------------------------------------------------------------


def _np():
    import numpy as np

    return np


def _hash_arr(ids):
    np = _np()
    return np.array(
        [xxhash64(str(s).encode("utf-8")) for s in ids], dtype=np.int64
    )


def _edge_arrays(sym_rows):
    """(ids, e_src, e_dst, e_w) from either a pandas DataFrame with
    [src, dst, weight] columns (the Arrow-fetched fast path — collect()
    of millions of Row objects costs more than the whole local solve) or
    an iterable of (src, dst, w) tuples. ids come out SORTED, so index
    order == string order (Python str comparison orders by code point,
    which UTF-8 byte comparison — Spark's — preserves)."""
    np = _np()
    try:
        import pandas as pd
    except ImportError:  # pragma: no cover
        pd = None
    if pd is not None and isinstance(sym_rows, pd.DataFrame):
        src = sym_rows.iloc[:, 0].astype(str).to_numpy()
        dst = sym_rows.iloc[:, 1].astype(str).to_numpy()
        if sym_rows.shape[1] > 2:
            e_w = sym_rows.iloc[:, 2].to_numpy(dtype="float64")
        else:  # unweighted frames (kcore / connected components)
            e_w = np.ones(len(src))
    else:
        rows = [tuple(r) for r in sym_rows]
        src = np.array([str(r[0]) for r in rows], dtype=object)
        dst = np.array([str(r[1]) for r in rows], dtype=object)
        e_w = np.array(
            [float(r[2]) if len(r) > 2 else 1.0 for r in rows]
        )
    if len(src) == 0:
        return [], src.astype(np.int64), dst.astype(np.int64), e_w
    if pd is not None:
        # hash-based factorize is C-speed; object-dtype np.unique/
        # searchsorted compare Python strings pairwise (measured ~8s of a
        # 10s local solve on a 2.2M-edge frame). Sorting only the UNIQUE
        # ids keeps index order == string order.
        codes, uniq = pd.factorize(np.concatenate([src, dst]))
        order = np.argsort(uniq)
        rank = np.empty(len(order), dtype=np.int64)
        rank[order] = np.arange(len(order), dtype=np.int64)
        both = rank[codes]
        e_src = both[: len(src)]
        e_dst = both[len(src):]
        return list(uniq[order]), e_src, e_dst, e_w
    ids_arr = np.unique(np.concatenate([src, dst]))
    e_src = np.searchsorted(ids_arr, src).astype(np.int64)
    e_dst = np.searchsorted(ids_arr, dst).astype(np.int64)
    return list(ids_arr), e_src, e_dst, e_w


def _group_sum(key, w, size=None):
    """(sorted unique keys, per-key sums) — empty-safe. When the dense key
    space fits (`size` given and ≤ 2**24 slots ≈ 134 MB of float64),
    np.bincount replaces the sort: O(E + size) vs O(E log E), measured
    ~6x on the 2.2M-edge local-solve rounds. Zero-weight groups that
    APPEAR in `key` are kept in both paths (the dense path tracks
    presence separately), matching the sort path's semantics — the
    Louvain stay-option rides zero-weight self-edges."""
    np = _np()
    if len(key) == 0:
        return key, w
    if size is not None and size <= (1 << 24):
        tot = np.bincount(key, weights=w, minlength=size)
        present = np.zeros(size, dtype=bool)
        present[key] = True
        uniq = np.flatnonzero(present)
        return uniq, tot[uniq]
    order = np.argsort(key, kind="stable")
    key_s = key[order]
    start = np.flatnonzero(np.r_[True, key_s[1:] != key_s[:-1]])
    return key_s[start], np.add.reduceat(w[order], start)


def _segment_argmax(g_src, score, g_nbr):
    """Per-src argmax of (score, g_nbr) over a frame whose g_src is
    non-decreasing (both _group_sum paths emit sorted keys, and masks
    preserve order). Returns (src per segment, winning g_nbr) — the
    same (max score, tie: max nbr index) the lexsort-and-take-last
    formulation produced, in O(K) passes instead of a 3-key sort."""
    np = _np()
    bnd = np.r_[True, g_src[1:] != g_src[:-1]]
    starts = np.flatnonzero(bnd)
    seg = np.cumsum(bnd) - 1
    mx = np.maximum.reduceat(score, starts)
    cand = np.where(score == mx[seg], g_nbr, -1)
    return g_src[starts], np.maximum.reduceat(cand, starts)


def local_moves_np(n, e_src, e_dst, e_w, selfw, comm_ids, comm, m, max_rounds, h=None):
    """Mirror of graph._local_moves. `comm` holds indices into `comm_ids`
    (sorted strings, index order == string order); node indices 0..n-1
    are positions in the level's sorted node-id list. ADAPTIVE
    single-direction schedule: each round applies only the MAJORITY
    direction of wanted moves (larger-index vs smaller-index targets,
    ties to larger), with one-quiet-round convergence (total wanted
    below the 0.1% tolerance) — index order == string order, so the
    direction test matches the distributed loop's string comparison
    exactly, and the up/dn counts it majorities on are the same exact
    integers. `h` is accepted for caller compatibility but unused since
    the hash-parity schedule was retired (it let same-parity symmetric
    pairs swap forever)."""
    np = _np()
    n_comm = len(comm_ids)
    k = np.bincount(e_src, weights=e_w, minlength=n) + 2.0 * selfw
    total_moves = 0
    self_src = np.arange(n, dtype=np.int64)
    for _rnd in range(max_rounds):
        sigma = np.bincount(comm, weights=k, minlength=n_comm)
        src = np.concatenate([e_src, self_src])
        nbr = np.concatenate([comm[e_dst], comm])
        w = np.concatenate([e_w, np.zeros(n)])
        uniq, w_ic = _group_sum(src * n_comm + nbr, w, size=n * n_comm)
        g_src = uniq // n_comm
        g_nbr = uniq % n_comm
        own = g_nbr == comm[g_src]
        kk = k[g_src]
        sig_n = sigma[g_nbr]
        score = np.where(
            own,
            w_ic - kk * (sig_n - kk) / (2.0 * m),
            w_ic - kk * sig_n / (2.0 * m),
        )
        # argmax by (score, nbr index) per src — identical tie-break to
        # the distributed window-max + max(nbr_c)
        nodes_, new_c = _segment_argmax(g_src, score, g_nbr)
        old_c = comm[nodes_]
        up = int((new_c > old_c).sum())
        dn = int((new_c < old_c).sum())
        if up + dn < max(1, n // 1000):
            break
        do = (new_c > old_c) if up >= dn else (new_c < old_c)
        comm = comm.copy()
        comm[nodes_[do]] = new_c[do]
        total_moves += up if up >= dn else dn
    return comm, total_moves


def coarsen_np(e_src, e_dst, e_w, selfw, comm_ids, comm, n):
    """Mirror of graph._coarsen: aggregate by community, directed edges
    with c_src < c_dst (string order == index order) become the new
    undirected pairs; intra weight and carried self-loops fold into the
    new self-weights. Returns (ids, e_src, e_dst, e_w, selfw) in the new
    level's sorted-id space (nodes = ALL communities, even edgeless)."""
    np = _np()
    n_comm = len(comm_ids)
    cs, cd = comm[e_src], comm[e_dst]
    lt = cs < cd
    uniq, pair_w = _group_sum(
        cs[lt] * n_comm + cd[lt], e_w[lt], size=n_comm * n_comm
    )
    p_src, p_dst = uniq // n_comm, uniq % n_comm
    eq = cs == cd
    w_int = np.bincount(cs[eq], weights=e_w[eq], minlength=n_comm) / 2.0
    carried = np.bincount(comm, weights=selfw, minlength=n_comm)
    new_selfw_full = w_int + carried
    active = np.unique(comm)  # sorted community indices present
    # new id space: the active communities, sorted (string order kept)
    new_ids = [comm_ids[i] for i in active]
    remap = np.full(n_comm, -1, dtype=np.int64)
    remap[active] = np.arange(len(active))
    return (
        new_ids,
        remap[p_src],
        remap[p_dst],
        pair_w,
        new_selfw_full[active],
    )


def _symmetrize_np(e_src, e_dst, e_w):
    np = _np()
    return (
        np.concatenate([e_src, e_dst]),
        np.concatenate([e_dst, e_src]),
        np.concatenate([e_w, e_w]),
    )


def louvain_local(sym_rows, m, max_levels, max_rounds, selfw_rows=None):
    """Mirror of graph.louvain's level loop over DIRECTED (src, dst, w)
    rows (pandas DataFrame or tuple iterable). Returns
    {node_id: community_id} canonicalized to the min member id (string
    order)."""
    np = _np()
    ids, e_src, e_dst, e_w = _edge_arrays(sym_rows)
    if selfw_rows is not None and len(selfw_rows):
        extra = sorted(set(str(r[0]) for r in
                           (selfw_rows.itertuples(index=False)
                            if hasattr(selfw_rows, "itertuples") else selfw_rows))
                       - set(ids))
        if extra:
            # re-index with the union so edgeless self-weight nodes exist
            old = ids
            ids = sorted(set(old) | set(extra))
            remap = np.searchsorted(np.array(ids, dtype=object),
                                    np.array(old, dtype=object))
            e_src, e_dst = remap[e_src], remap[e_dst]
    pos = {s: i for i, s in enumerate(ids)}
    selfw = np.zeros(len(ids))
    if selfw_rows is not None:
        rows_iter = (selfw_rows.itertuples(index=False)
                     if hasattr(selfw_rows, "itertuples") else selfw_rows)
        for s, w in rows_iter:
            selfw[pos[str(s)]] = float(w)
    if m <= 0:
        return {s: s for s in ids}

    cur_ids = ids
    # mapping: original node -> community id (string), composed per level
    mapping = {s: s for s in ids}
    for _level in range(max_levels):
        n = len(cur_ids)
        comm, moves = local_moves_np(
            n, e_src, e_dst, e_w, selfw,
            cur_ids, np.arange(n, dtype=np.int64), m, max_rounds,
        )
        if moves == 0:
            break
        remap = {cur_ids[i]: cur_ids[comm[i]] for i in range(n)}
        mapping = {s: remap[c] for s, c in mapping.items()}
        cur_ids, e_src, e_dst, e_w, selfw = coarsen_np(
            e_src, e_dst, e_w, selfw, cur_ids, comm, n
        )
        e_src, e_dst, e_w = _symmetrize_np(e_src, e_dst, e_w)
        if len(e_src) == 0:
            break
    # distributed canon = min member node of the community
    members_min = {}
    for s in ids:
        c = mapping[s]
        if c not in members_min or s < members_min[c]:
            members_min[c] = s
    return {s: members_min[mapping[s]] for s in ids}


def modularity_local(sym_rows, m, max_rounds):
    """Mirror of graph.modularity_optimization (single-level moves)."""
    np = _np()
    ids, e_src, e_dst, e_w = _edge_arrays(sym_rows)
    if m <= 0:
        return {s: s for s in ids}
    n = len(ids)
    comm, _ = local_moves_np(
        n, e_src, e_dst, e_w, np.zeros(n), ids,
        np.arange(n, dtype=np.int64), m, max_rounds,
    )
    members_min = {}
    for i, s in enumerate(ids):
        c = ids[comm[i]]
        if c not in members_min or s < members_min[c]:
            members_min[c] = s
    return {s: members_min[ids[comm[i]]] for i, s in enumerate(ids)}


def kcore_local(sym_rows):
    """Mirror of graph.kcore's peel with min-degree jumping: remove all
    alive nodes with remaining degree <= k; k jumps to the remaining min
    degree. A node orphaned by its neighbors' removal has degree 0 and
    peels at the CURRENT k (mind=0 keeps k from jumping past it) — the
    textbook sequential-peel label. Returns {node_id: core_value}."""
    np = _np()
    ids, e_src, e_dst, _ = _edge_arrays(sym_rows)
    n = len(ids)
    core = {}
    alive = np.ones(n, dtype=bool)
    alive_src, alive_dst = e_src, e_dst
    k = 0
    while alive.any():
        deg = np.bincount(alive_src, minlength=n)
        k = max(k, int(deg[alive].min()))
        low = alive & (deg <= k)
        for i in np.flatnonzero(low):
            core[ids[i]] = k
        alive &= ~low
        keep = alive[alive_src] & alive[alive_dst]
        alive_src, alive_dst = alive_src[keep], alive_dst[keep]
    return core


def _cc_roots_np(n, e_src, e_dst):
    """Vectorized connected components over node INDICES: min-label
    propagation with pointer jumping (the numpy twin of
    graph.connected_components' hook+shortcut rounds) — O(|E|) ufunc
    passes, O(log diameter) of them. Replaces the per-edge Python
    union-find loops, whose interpreted find() calls dominated the
    driver tails at millions of edges (measured: most of an 11s
    leiden_local_continue at a 1.4M-edge coarse graph). Returns lab
    with lab[i] = smallest node index in i's component; with ids
    sorted, the smallest index IS the smallest string id.

    Correctness mirrors the distributed proof: labels start at the
    identity, only decrease, and always hold an index of the same
    component (neighbor labels via the edge min; shortcutting reads a
    component member's own label); at the fixpoint every edge joins
    equal labels, so the per-component constant is the component min."""
    np = _np()
    lab = np.arange(n, dtype=np.int64)
    if n == 0 or len(e_src) == 0:
        return lab
    while True:
        l_new = lab.copy()
        np.minimum.at(l_new, e_src, lab[e_dst])
        np.minimum.at(l_new, e_dst, lab[e_src])
        l_new = np.minimum(l_new, l_new[l_new])
        l_new = np.minimum(l_new, l_new[l_new])
        if np.array_equal(l_new, lab):
            return lab
        lab = l_new


def connected_components_local(sym_rows):
    """Local mirror of graph.connected_components: component id =
    min member node id (string order == UTF-8 byte order, matching
    Spark's F.least/F.min over strings; ids are sorted, so the
    min-index root from _cc_roots_np is the min string).
    Returns {node_id: component}."""
    ids, e_src, e_dst, _ = _edge_arrays(sym_rows)
    lab = _cc_roots_np(len(ids), e_src, e_dst)
    return {s: ids[lab[i]] for i, s in enumerate(ids)}


def refine_np(n, e_src, e_dst, e_w, selfw, comm, m, h,
              gamma=1.0, max_rounds=4, k=None):
    """Mirror of graph._refine: grow γ-well-connected sub-communities
    from singletons, moves restricted to intra-community edges. `comm`
    holds indices into a community-id space whose ORDER is consistent
    (only equality is used here). Returns sub (indices into node space:
    sub ids are member node ids).

    `k` (optional): precomputed per-node degree mass. The per-community
    group kernel passes it because a community's members carry degree
    from INTER-community edges the group does not see; computing k from
    the group's intra edges alone would understate the γ-gates."""
    np = _np()
    if k is None:
        k = np.bincount(e_src, weights=e_w, minlength=n) + 2.0 * selfw
    n_comm = int(comm.max()) + 1 if n else 0
    k_c = np.bincount(comm, weights=k, minlength=n_comm)
    intra_mask = comm[e_src] == comm[e_dst]
    i_src, i_dst, i_w = e_src[intra_mask], e_dst[intra_mask], e_w[intra_mask]
    w_vc = np.bincount(i_src, weights=i_w, minlength=n)
    is_mover = w_vc >= gamma * k * (k_c[comm] - k) / (2.0 * m)
    sub = np.arange(n, dtype=np.int64)
    if not is_mover.any():
        return sub
    # Termination: a round whose candidate set is empty is a true
    # fixpoint (candidates depend only on `sub`). A round with
    # candidates but zero APPLIED moves is not — the hash-parity
    # schedule alternates with rnd, so the next round may move; only
    # TWO consecutive zero-move rounds prove a fixpoint for both
    # parities. This also makes refinement exactly community-local:
    # one community's round-r stall can't be masked (or unmasked) by
    # another community's moves, so the per-community group kernel in
    # graph._refine is bit-identical to this whole-graph loop.
    zero_rounds = 0
    for rnd in range(max_rounds):
        sizes = np.bincount(sub, minlength=n)
        k_s = np.bincount(sub, weights=k, minlength=n)
        out_mask = sub[i_src] != sub[i_dst]
        w_out = np.bincount(
            sub[i_src[out_mask]], weights=i_w[out_mask], minlength=n
        )
        # a sub's community/k_C resolve through its member-node id
        ok = w_out >= gamma * k_s * (k_c[comm] - k_s) / (2.0 * m)
        own = sub[i_src]
        tgt = sub[i_dst]
        cmask = (
            (tgt != own)
            & is_mover[i_src]
            & (sizes[own] == 1)
            & ok[tgt]
        )
        c_src, c_own, c_tgt, c_w = (
            i_src[cmask], own[cmask], tgt[cmask], i_w[cmask],
        )
        uniq, w_vs = _group_sum(
            (c_src * n + c_tgt).astype(np.int64), c_w, size=n * n
        )
        g_src, g_tgt = uniq // n, uniq % n
        score = w_vs - k[g_src] * k_s[g_tgt] / (2.0 * m)
        keep = (score > 0) & ((sizes[g_tgt] > 1) | (g_tgt > sub[g_src]))
        g_src, g_tgt, score = g_src[keep], g_tgt[keep], score[keep]
        if len(g_src) == 0:
            break
        nodes_, new_sub = _segment_argmax(g_src, score, g_tgt)
        par = ((h[nodes_] + rnd) % 2) == 0
        do = par & (new_sub != sub[nodes_])
        moves = int(do.sum())
        sub = sub.copy()
        sub[nodes_[do]] = new_sub[do]
        if moves == 0:
            zero_rounds += 1
            if zero_rounds >= 2:
                break
        else:
            zero_rounds = 0
    return sub


def leiden_local(sym_rows, m, max_levels, max_rounds, gamma=1.0):
    """Mirror of graph.leiden: local moves -> refine -> aggregate by the
    REFINED partition, seed next level with the moved partition; final
    split-only connectivity pass (union-find over level-0 intra edges).
    Returns {node_id: community_id} with component-min-member ids."""
    np = _np()
    ids, e_src0, e_dst0, e_w0 = _edge_arrays(sym_rows)
    if m <= 0:
        return {s: s for s in ids}

    cur_ids = ids
    e_src, e_dst, e_w = e_src0, e_dst0, e_w0
    selfw = np.zeros(len(ids))
    mapping = {s: s for s in ids}      # node -> agg (refined-sub id)
    sub2comm = {s: s for s in ids}     # sub id -> community id
    # comm0 community-id space for the seeded level
    comm0_ids = ids
    comm0 = _np().arange(len(ids), dtype=_np().int64)
    for _level in range(max_levels):
        n = len(cur_ids)
        comm, moves = local_moves_np(
            n, e_src, e_dst, e_w, selfw, comm0_ids, comm0, m, max_rounds
        )
        # refine_np still keys its parity off the node hashes (the
        # distributed _refine kept that schedule — its singleton-
        # direction guard already rules out swaps)
        refined = refine_np(
            n, e_src, e_dst, e_w, selfw, comm, m, _hash_arr(cur_ids),
            gamma=gamma,
        )
        sub2comm = {
            cur_ids[int(refined[i])]: comm0_ids[int(comm[i])]
            for i in range(n)
        }
        remap = {cur_ids[i]: cur_ids[int(refined[i])] for i in range(n)}
        mapping = {s: remap[a] for s, a in mapping.items()}
        if moves == 0:
            break
        cur_ids2, e_src, e_dst, e_w, selfw = coarsen_np(
            e_src, e_dst, e_w, selfw, cur_ids, refined, n
        )
        e_src, e_dst, e_w = _symmetrize_np(e_src, e_dst, e_w)
        cur_ids = cur_ids2
        # seed next level with the MOVED partition (Traag aggregate-by-
        # P_ref, seed-with-P): communities live in comm0_ids' space
        new_comm0_ids = sorted({sub2comm[s] for s in cur_ids})
        cpos = {s: i for i, s in enumerate(new_comm0_ids)}
        comm0 = _np().array(
            [cpos[sub2comm[s]] for s in cur_ids], dtype=_np().int64
        )
        comm0_ids = new_comm0_ids
        if len(e_src) == 0:
            break
    base = {s: sub2comm[mapping[s]] for s in ids}
    # split-only connectivity over intra-community edges (vectorized:
    # same-label mask, then the numpy min-propagation kernel; the
    # min-index root is the min string id since ids are sorted)
    barr = _np().array([base[s] for s in ids], dtype=object)
    mask = barr[e_src0] == barr[e_dst0]
    lab = _cc_roots_np(len(ids), e_src0[mask], e_dst0[mask])
    return {s: ids[lab[i]] for i, s in enumerate(ids)}


def _row_pairs(rows):
    """(a, b) string pairs from a pandas DataFrame's first two columns
    or an iterable of 2-tuples."""
    if hasattr(rows, "itertuples"):
        return [(str(r[0]), r[1]) for r in rows.itertuples(index=False)]
    return [(str(a), b) for a, b in rows]


def leiden_local_continue(
    sym_rows,
    selfw_rows,
    seed_rows,
    unit_min_rows,
    m,
    max_levels,
    max_rounds,
    gamma=1.0,
):
    """Finish graph.leiden's remaining levels DRIVER-SIDE from mid-loop
    state: the coarse UNIT graph (aggregated by the previous level's
    refined partition), its self-weights, the seeded communities
    (sub2comm — Traag's aggregate-by-P_ref, seed-with-P), and each
    unit's min ORIGINAL member id. Mirrors the distributed continuation:
    the same local_moves_np / refine_np / coarsen_np kernels leiden_local
    uses, then the split-only connectivity pass over the ENTRY unit
    graph — exact because every unit is connected by construction, so
    contracting units preserves node-level components, and each
    component's label is the min original member via unit_min.

    max_levels=0 runs ONLY the connectivity pass — the local form of
    graph.leiden's distributed tail.

    Returns {entry_unit_id: final_community_label(min original member)}.
    """
    np = _np()
    seed = {a: str(b) for a, b in _row_pairs(seed_rows)}
    umin = {a: str(b) for a, b in _row_pairs(unit_min_rows)}
    ids, e_src, e_dst, e_w = _edge_arrays(sym_rows)
    extra = sorted(set(seed) - set(ids))
    if extra:
        # edgeless units (isolated aggregates) exist in seed/unit_min
        # but not in the edge frame; re-index with the union
        old = ids
        ids = sorted(set(old) | set(extra))
        if len(old):
            remap = np.searchsorted(
                np.array(ids, dtype=object), np.array(old, dtype=object)
            )
            e_src, e_dst = remap[e_src], remap[e_dst]
    pos = {s: i for i, s in enumerate(ids)}
    selfw = np.zeros(len(ids))
    for s, w in _row_pairs(selfw_rows):
        if s in pos:
            selfw[pos[s]] = float(w)

    e_src0, e_dst0 = e_src, e_dst
    cur_ids = ids
    mapping = {s: s for s in ids}  # entry unit -> current refined sub
    sub2comm = dict(seed)  # current sub -> community label
    comm0_ids = sorted(set(sub2comm.values()))
    cpos = {c: i for i, c in enumerate(comm0_ids)}
    comm0 = np.array(
        [cpos[sub2comm[s]] for s in cur_ids], dtype=np.int64
    )
    for _level in range(max_levels):
        n = len(cur_ids)
        comm, moves = local_moves_np(
            n, e_src, e_dst, e_w, selfw, comm0_ids, comm0, m, max_rounds
        )
        refined = refine_np(
            n, e_src, e_dst, e_w, selfw, comm, m, _hash_arr(cur_ids),
            gamma=gamma,
        )
        sub2comm = {
            cur_ids[int(refined[i])]: comm0_ids[int(comm[i])]
            for i in range(n)
        }
        remap2 = {cur_ids[i]: cur_ids[int(refined[i])] for i in range(n)}
        mapping = {s: remap2[a] for s, a in mapping.items()}
        if moves == 0:
            break
        cur_ids2, e_src, e_dst, e_w, selfw = coarsen_np(
            e_src, e_dst, e_w, selfw, cur_ids, refined, n
        )
        e_src, e_dst, e_w = _symmetrize_np(e_src, e_dst, e_w)
        cur_ids = cur_ids2
        new_comm0_ids = sorted({sub2comm[s] for s in cur_ids})
        cpos = {s: i for i, s in enumerate(new_comm0_ids)}
        comm0 = np.array(
            [cpos[sub2comm[s]] for s in cur_ids], dtype=np.int64
        )
        comm0_ids = new_comm0_ids
        if len(e_src) == 0:
            break

    base = {s: sub2comm[mapping[s]] for s in ids}
    # split-only connectivity over the ENTRY unit graph (vectorized:
    # same-label mask + the numpy min-propagation kernel); the final
    # label is the min ORIGINAL member (umin) per component, which
    # need not be the min unit id — reduce umin over the root
    barr = np.array([base[s] for s in ids], dtype=object)
    mask = barr[e_src0] == barr[e_dst0]
    lab = _cc_roots_np(len(ids), e_src0[mask], e_dst0[mask])
    comp_min: dict[int, str] = {}
    for i, s in enumerate(ids):
        r = int(lab[i])
        u = umin[s]
        if r not in comp_min or u < comp_min[r]:
            comp_min[r] = u
    return {s: comp_min[int(lab[i])] for i, s in enumerate(ids)}


def pagerank_local(sym_rows, damping, max_iter, tol, seeds=None):
    """numpy mirror of graph.pagerank over a DIRECTED (src, dst, w)
    edge frame (the symmetrized frame for undirected inputs): same
    share normalization, same teleport vector s (uniform 1/n or the
    personalized seed indicator), same r' = (1−d)·s + d·(contrib +
    dangling·s) op order, same L1 stop rule. Float sums here associate
    differently than Spark's partial aggregates, so parity is exact on
    dyadic fixtures (the pagerank_planted oracle regime) and agrees to
    ~1e-15 relative otherwise — which is why the catalog queries round
    or scale their rank output; tests/test_local_graph_parity.py pins
    both regimes. Returns {node_id: rank}."""
    np = _np()
    ids, e_src, e_dst, e_w = _edge_arrays(sym_rows)
    n = len(ids)
    if n == 0:
        return {}
    out = np.zeros(n)
    np.add.at(out, e_src, e_w)
    share = e_w / out[e_src]
    has_dangling = bool((out == 0).any())
    if seeds:
        seed_set = {str(s) for s in seeds}
        s_vec = np.array(
            [1.0 / len(seeds) if s in seed_set else 0.0 for s in ids]
        )
    else:
        s_vec = np.full(n, 1.0 / n)
    r = s_vec.copy()
    for _ in range(max_iter):
        dangling = float(r[out == 0].sum()) if has_dangling else 0.0
        contrib = np.zeros(n)
        np.add.at(contrib, e_dst, share * r[e_src])
        r_new = (1.0 - damping) * s_vec + damping * (
            contrib + dangling * s_vec
        )
        delta = float(np.abs(r_new - r).sum())
        r = r_new
        if delta <= tol:
            break
    return {s: float(r[i]) for i, s in enumerate(ids)}


# ---------------------------------------------------------------------------
# Traversal mirrors (round 11, VERDICT r10 #3): BFS / landmark BFS /
# k-hop Bellman-Ford. Unlike the community mirrors above, these do NOT
# need Spark's string-hash move schedule — distances depend only on
# graph structure — so they serve ANY orderable id type (the bench
# fixtures use longs). Ids keep their NATIVE dtype and sort order
# (numeric for ints, code-point for strings), which is exactly the
# order Spark's min()/orderBy uses on that type, so default-seed and
# landmark selection match the distributed loops bit-for-bit.
#
# Input is the RAW directed edge list as a pyarrow Table (u1, u2
# [, weight]) — half the bytes of the symmetrized frame over Arrow;
# symmetrization is two numpy concatenates here, and one pd.factorize
# over u1||u2 yields BOTH directions' index codes (src codes = [c1,c2],
# dst codes = [c2,c1]), so the O(E) id-mapping pass runs once.
# ---------------------------------------------------------------------------


def _col_np(tbl, name):
    np = _np()
    arr = tbl.column(name).combine_chunks()
    try:
        return arr.to_numpy(zero_copy_only=True)
    except Exception:
        return np.asarray(arr.to_pandas())


def _raw_edge_arrays(tbl, weighted=False):
    """(ids, e_src, e_dst, e_w) of the SYMMETRIZED graph from a raw
    directed edge Table. ids come out sorted in native dtype order, so
    index 0 is the binary-smallest node. Duplicate edges all survive
    (the distributed joins ship every row too). Weights follow
    _symmetrize's double cast; missing weight column = 1.0."""
    np = _np()
    import pandas as pd

    a1 = _col_np(tbl, "u1")
    a2 = _col_np(tbl, "u2")
    m = len(a1)
    if weighted and "weight" in tbl.column_names:
        w1 = _col_np(tbl, "weight").astype("float64")
    else:
        w1 = np.ones(m)
    if m == 0:
        z = np.array([], dtype=np.int64)
        return a1[:0], z, z, w1[:0]
    if np.issubdtype(a1.dtype, np.integer):
        # dense-int fast path: when the id RANGE is bounded (<= 16x the
        # edge count and <= 128M slots ~ 1 GB of transient int64), the
        # compact mapping is a presence mask + cumsum — O(E + range)
        # vectorized, no hash table, no sort. Measured 4-5s off the
        # 20.2M-row layered bench mapping vs pd.factorize.
        lo = min(int(a1.min()), int(a2.min()))
        hi = max(int(a1.max()), int(a2.max()))
        rng = hi - lo + 1
        if rng <= min(16 * m, 128_000_000):
            present = np.zeros(rng, dtype=bool)
            present[a1 - lo] = True
            present[a2 - lo] = True
            pos = np.flatnonzero(present)
            # rank via scatter at the n present slots — O(n), not the
            # O(range) prefix-sum (np.cumsum over a 50M-slot bool mask
            # measured 9-19s on this host vs <1s for the scatter; the
            # n <= range untouched slots stay uninitialized and are
            # never gathered because every a1/a2 is present).
            rank = np.empty(rng, dtype=np.int64)
            rank[pos] = np.arange(len(pos), dtype=np.int64)
            ids = (pos + lo).astype(a1.dtype)
            c1 = rank[a1 - lo]
            c2 = rank[a2 - lo]
            return (
                ids,
                np.concatenate([c1, c2]),
                np.concatenate([c2, c1]),
                np.concatenate([w1, w1]),
            )
    both = np.concatenate([a1, a2])
    codes, uniq = pd.factorize(both)
    order = np.argsort(uniq)
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order), dtype=np.int64)
    bc = rank[codes]
    c1, c2 = bc[:m], bc[m:]
    ids = np.asarray(uniq)[order]
    e_src = np.concatenate([c1, c2])
    e_dst = np.concatenate([c2, c1])
    e_w = np.concatenate([w1, w1])
    return ids, e_src, e_dst, e_w


def _seed_indices(ids, seeds):
    """Indices of `seeds` present in the sorted id array (absent seeds
    contribute nothing, matching the distributed isin() semantics)."""
    np = _np()
    out = []
    n = len(ids)
    for s in seeds:
        i = int(np.searchsorted(ids, s))
        if i < n and ids[i] == s:
            out.append(i)
    return out


def _bfs_np(n, e_src, e_dst, seed_idx, max_iter):
    """dist array (-1 = unreached) after `max_iter` synchronous frontier
    rounds with early exit on an empty frontier — the numpy twin of
    graph.bfs_distances' loop (one O(E) mask pass per round)."""
    np = _np()
    dist = np.full(n, -1, dtype=np.int64)
    if not seed_idx:
        return dist
    dist[np.asarray(seed_idx, dtype=np.int64)] = 0
    for d in range(1, max_iter + 1):
        tgt = e_dst[dist[e_src] == d - 1]
        tgt = tgt[dist[tgt] < 0]
        if tgt.size == 0:
            break
        dist[tgt] = d
    return dist


def bfs_local(tbl, seeds=None, max_iter=50):
    """Mirror of graph.bfs_distances: returns a pandas DataFrame
    (node, dist) of reached nodes only, dist int64. seeds=None seeds
    from the binary-smallest node (index 0 of the sorted id array —
    the same value the distributed path's min('src') job picks)."""
    import pandas as pd

    np = _np()
    ids, e_src, e_dst, _ = _raw_edge_arrays(tbl)
    n = len(ids)
    if n == 0:
        return pd.DataFrame({"node": ids, "dist": np.array([], np.int64)})
    seed_idx = [0] if seeds is None else _seed_indices(ids, seeds)
    dist = _bfs_np(n, e_src, e_dst, seed_idx, max_iter)
    reached = dist >= 0
    return pd.DataFrame({"node": ids[reached], "dist": dist[reached]})


def landmark_bfs_local(tbl, n_landmarks=4, max_iter=30):
    """Mirror of graph.bfs_landmark_distances: one BFS per landmark
    (the k binary-smallest ids = indices 0..k-1 of the sorted array);
    returns a pandas DataFrame (seed, node, dist) for reached pairs."""
    import pandas as pd

    np = _np()
    ids, e_src, e_dst, _ = _raw_edge_arrays(tbl)
    n = len(ids)
    parts = []
    for i in range(min(n_landmarks, n)):
        dist = _bfs_np(n, e_src, e_dst, [i], max_iter)
        reached = dist >= 0
        parts.append(
            pd.DataFrame(
                {
                    "seed": np.repeat(ids[i : i + 1], int(reached.sum())),
                    "node": ids[reached],
                    "dist": dist[reached],
                }
            )
        )
    if not parts:
        # ids[:0] so every column is length 0 even when the graph is
        # non-empty but n_landmarks == 0 (ADVICE r11).
        return pd.DataFrame(
            {"seed": ids[:0], "node": ids[:0], "dist": np.array([], np.int64)}
        )
    return pd.concat(parts, ignore_index=True)


def bellman_ford_local(tbl, seeds=None, k=10):
    """Mirror of graph.bellman_ford_khop: k synchronous min-plus
    relaxation rounds (cost after round r = exact min cost over paths
    of <= r edges), early exit on a stalled round. Edge costs follow
    Spark's weight.cast('bigint') — float weights truncate toward
    zero. Per round one gather + one per-dst minimum.reduceat over an
    edge list pre-sorted by dst (duplicate edges all participate, so
    the min-weight duplicate wins exactly as in the distributed join).
    Unreached sources are MASKED out of each relaxation (the
    distributed join only relaxes from non-NULL costs; without the
    mask a negative weight would make INF + w < INF and 'reach' nodes
    the distributed loop never does). Returns a pandas DataFrame
    (node, cost) of reached nodes."""
    import pandas as pd

    np = _np()
    ids, e_src, e_dst, e_w = _raw_edge_arrays(tbl, weighted=True)
    n = len(ids)
    if n == 0:
        return pd.DataFrame({"node": ids, "cost": np.array([], np.int64)})
    w = e_w.astype(np.int64)
    INF = np.int64(1) << 62  # cost[ss] + w stays < 2**63 for any sane w
    cost = np.full(n, INF, dtype=np.int64)
    seed_idx = [0] if seeds is None else _seed_indices(ids, seeds)
    if not seed_idx:
        return pd.DataFrame({"node": ids[:0], "cost": cost[:0]})
    cost[np.asarray(seed_idx, dtype=np.int64)] = 0
    order = np.argsort(e_dst, kind="stable")
    ss, ws = e_src[order], w[order]
    ds = e_dst[order]
    starts = np.flatnonzero(np.r_[True, ds[1:] != ds[:-1]])
    seg_dst = ds[starts]
    for _ in range(k):
        src_cost = cost[ss]
        cand = np.where(src_cost < INF, src_cost + ws, INF)
        best = np.minimum.reduceat(cand, starts)
        cur = cost[seg_dst]
        new = np.minimum(cur, best)
        if np.array_equal(new, cur):
            break
        cost[seg_dst] = new
    reached = cost < INF
    return pd.DataFrame({"node": ids[reached], "cost": cost[reached]})


def _sigma_np(n, e_src, e_dst, seed_i, max_iter):
    """Forward Brandes per seed: (dist, sigma) arrays. sigma is exact
    int64 (sums of path counts, level by level over the BFS DAG)."""
    np = _np()
    dist = _bfs_np(n, e_src, e_dst, [seed_i], max_iter)
    sigma = np.zeros(n, dtype=np.int64)
    sigma[seed_i] = 1
    maxd = int(dist.max())
    de_src = dist[e_src]
    de_dst = dist[e_dst]
    for d in range(1, maxd + 1):
        m = (de_src == d - 1) & (de_dst == d)
        np.add.at(sigma, e_dst[m], sigma[e_src[m]])
    return dist, sigma, maxd


def path_counts_local(tbl, n_sources=4, max_iter=30):
    """Mirror of graph.shortest_path_counts: per-pivot (dist, sigma)
    via level-masked accumulation — exact int64, bit-parity with the
    distributed sum-combining groupBy. Returns a pandas DataFrame
    (seed, node, dist, sigma) for reached pairs."""
    import pandas as pd

    np = _np()
    ids, e_src, e_dst, _ = _raw_edge_arrays(tbl)
    n = len(ids)
    parts = []
    for i in range(min(n_sources, n)):
        dist, sigma, _ = _sigma_np(n, e_src, e_dst, i, max_iter)
        reached = dist >= 0
        parts.append(
            pd.DataFrame(
                {
                    "seed": np.repeat(ids[i : i + 1], int(reached.sum())),
                    "node": ids[reached],
                    "dist": dist[reached],
                    "sigma": sigma[reached],
                }
            )
        )
    if not parts:
        z = np.array([], np.int64)
        return pd.DataFrame(
            {"seed": ids[:0], "node": ids[:0], "dist": z, "sigma": z}
        )
    return pd.concat(parts, ignore_index=True)


def betweenness_local(tbl, n_sources=4, max_iter=30):
    """Mirror of graph.brandes_betweenness: per-pivot dependency
    accumulation δ(v) = Σ σv/σw (1 + δw) processed deepest level
    first, summed over pivots. Returns a pandas DataFrame
    (node, betweenness) over ALL nodes. On fixtures with dyadic σ
    ratios (trees, C4) every float op is exact, so the mirror is
    bit-identical to the distributed path there (parity-tested)."""
    import pandas as pd

    np = _np()
    ids, e_src, e_dst, _ = _raw_edge_arrays(tbl)
    n = len(ids)
    bc = np.zeros(n, dtype=np.float64)
    for i in range(min(n_sources, n)):
        dist, sigma, maxd = _sigma_np(n, e_src, e_dst, i, max_iter)
        delta = np.zeros(n, dtype=np.float64)
        de_src = dist[e_src]
        de_dst = dist[e_dst]
        for d in range(maxd, 0, -1):
            m = (de_src == d - 1) & (de_dst == d)
            contrib = (
                sigma[e_src[m]].astype(np.float64) / sigma[e_dst[m]]
            ) * (1.0 + delta[e_dst[m]])
            np.add.at(delta, e_src[m], contrib)
        delta[i] = 0.0  # δ_s(s) never counts
        bc += delta
    return pd.DataFrame({"node": ids, "betweenness": bc})


def bellman_ford_landmark_local(tbl, n_landmarks=4, k=10):
    """Mirror of graph.bellman_ford_landmark: one k-round min-plus
    relaxation per landmark (the k binary-smallest ids), sharing ONE
    dst-sorted edge ordering across all landmarks. Returns a pandas
    DataFrame (seed, node, cost) for reached pairs."""
    import pandas as pd

    np = _np()
    ids, e_src, e_dst, e_w = _raw_edge_arrays(tbl, weighted=True)
    n = len(ids)
    if n == 0:
        z = np.array([], np.int64)
        return pd.DataFrame({"seed": ids, "node": ids, "cost": z})
    w = e_w.astype(np.int64)
    INF = np.int64(1) << 62
    order = np.argsort(e_dst, kind="stable")
    ss, ws = e_src[order], w[order]
    ds = e_dst[order]
    starts = np.flatnonzero(np.r_[True, ds[1:] != ds[:-1]])
    seg_dst = ds[starts]
    parts = []
    for i in range(min(n_landmarks, n)):
        cost = np.full(n, INF, dtype=np.int64)
        cost[i] = 0
        for _ in range(k):
            src_cost = cost[ss]
            cand = np.where(src_cost < INF, src_cost + ws, INF)
            best = np.minimum.reduceat(cand, starts)
            cur = cost[seg_dst]
            new = np.minimum(cur, best)
            if np.array_equal(new, cur):
                break
            cost[seg_dst] = new
        reached = cost < INF
        parts.append(
            pd.DataFrame(
                {
                    "seed": np.repeat(ids[i : i + 1], int(reached.sum())),
                    "node": ids[reached],
                    "cost": cost[reached],
                }
            )
        )
    if not parts:
        return pd.DataFrame(
            {"seed": ids[:0], "node": ids[:0], "cost": np.array([], np.int64)}
        )
    return pd.concat(parts, ignore_index=True)


def _rotl_np(x, r: int):
    np = _np()
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix_np(h):
    np = _np()
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(_PRIME2)
    h = h ^ (h >> np.uint64(29))
    h = h * np.uint64(_PRIME3)
    return h ^ (h >> np.uint64(32))


def _hash_int_np(v, h):
    """Spark's XXH64.hashInt(v, seed=h), broadcast over an int64 array `v`
    and a uint64 seed array `h` (arrays, not numpy scalars: array
    arithmetic wraps silently where scalar arithmetic warns)."""
    np = _np()
    k = (v.view(np.uint64) & np.uint64(0xFFFFFFFF)) * np.uint64(_PRIME1)
    h = (h + np.uint64(_PRIME5 + 4)) ^ k
    return _fmix_np(_rotl_np(h, 23) * np.uint64(_PRIME2) + np.uint64(_PRIME3))


def _hash_long_np(v: int, h):
    """Spark's XXH64.hashLong(v, seed=h) over a uint64 seed array."""
    np = _np()
    k = (_rotl((v * _PRIME2) & MASK64, 31) * _PRIME1) & MASK64
    h = (h + np.uint64(_PRIME5 + 8)) ^ np.uint64(k)
    return _fmix_np(_rotl_np(h, 27) * np.uint64(_PRIME1) + np.uint64(_PRIME4))


def fastrp_init_mod6(ids, dim: int, seed: int):
    """pmod(xxhash64(node, dim, lit(seed)), 6) over the n x dim grid, as
    int64. Spark's multi-column xxhash64 chains each column's hash into
    the next one's seed: XXH64 of the id's UTF-8 bytes (seed 42), then
    hashInt(dim), then hashInt(seed) — hashLong for a seed outside int32,
    which F.lit types as bigint."""
    np = _np()
    h = _hash_arr(ids).view(np.uint64)[:, None]
    h = _hash_int_np(np.arange(dim, dtype=np.int64)[None, :], h)
    if -(1 << 31) <= seed < (1 << 31):
        h = _hash_int_np(np.array([[seed]], dtype=np.int64), h)
    else:
        h = _hash_long_np(seed & MASK64, h)
    return h.view(np.int64) % 6


def fastrp_local(tbl, dim, iteration_weights, seed, assemble):
    """Mirror of graph.fastrp with its default xxhash64 init: a pandas
    DataFrame (node, embedding float32 array) when `assemble`, else
    (node, dim, val) over every node x dim cell.

    Init cells are ±√3 where pmod(xxhash64(node, dim, seed), 6) is 0/1
    (`fastrp_init_mod6`). Each round propagates over the symmetrized
    rows with p = w / Σw(src), duplicate edges kept, and divides each
    node's row by its L2 norm when that norm is > 0; the output is
    Σ_t w_t·r_t. Summation order differs from the distributed
    aggregation, so values agree to float rounding, not bit for bit.

    Returns None (run the distributed loop) where the mirror cannot
    reproduce it: non-string ids (the init hashes UTF-8 bytes), a NULL
    endpoint, a node of weighted degree 0 (the distributed division
    raises or yields NULL there), dim <= 0, or no non-zero iteration
    weight (the distributed term union raises)."""
    import pandas as pd
    import pyarrow as pa

    np = _np()
    id_t = tbl.schema.field("u1").type
    if not (pa.types.is_string(id_t) or pa.types.is_large_string(id_t)):
        return None
    if dim <= 0 or tbl.column("u1").null_count or tbl.column("u2").null_count:
        return None
    if not any(w != 0.0 for w in iteration_weights):
        return None
    ids, e_src, e_dst, e_w = _raw_edge_arrays(tbl, weighted=True)
    n = len(ids)
    degw = np.bincount(e_src, weights=e_w, minlength=n)
    if not np.all(degw != 0.0):
        return None
    # src-sorted rows: every node is some row's src in the symmetrized
    # graph, so the segment starts are exactly one per node, in order
    order = np.argsort(e_src, kind="stable")
    src_s, dst_s = e_src[order], e_dst[order]
    p_s = (e_w / degw[e_src])[order][:, None]
    starts = np.flatnonzero(np.r_[True, src_s[1:] != src_s[:-1]])

    h = fastrp_init_mod6(ids, dim, seed)
    sqrt3 = 3.0 ** 0.5
    r = np.where(h == 0, sqrt3, np.where(h == 1, -sqrt3, 0.0))
    out = np.zeros((n, dim))
    for t, wt in enumerate(iteration_weights):
        if t > 0 and n:
            gathered = r[dst_s]
            gathered *= p_s
            r = np.add.reduceat(gathered, starts, axis=0)
            norm = np.sqrt(np.einsum("ij,ij->i", r, r))
            pos = norm > 0
            r[pos] /= norm[pos, None]
        if wt != 0.0:
            out += r * wt
    if assemble:
        return pd.DataFrame(
            {"node": ids, "embedding": list(out.astype(np.float32))}
        )
    return pd.DataFrame(
        {
            "node": np.repeat(ids, dim),
            "dim": np.tile(np.arange(dim, dtype=np.int32), n),
            "val": out.ravel(),
        }
    )


# Operation budget for the walk mirror: each candidate evaluation is
# one Python-side md5 (~1-2 us), so the mirror only serves frontiers
# whose TOTAL candidate count (walks x weight-replica degree x steps,
# bounded a priori by walkers x max replica-degree x length) stays
# interactive. Above it graph.seeded_random_walks keeps the
# distributed loop — at real scale per-step fan-out is exactly what
# executors are for. 0 forces the distributed path (tests do).
WALK_LOCAL_OP_LIMIT = 2_000_000


def random_walks_local(tbl, length=8, weighted=False, seeds=None):
    """Mirror of graph.seeded_random_walks: md5-argmin deterministic
    walks replayed driver-side. Keys are (md5_digest_bytes, dst_str)
    tuples — hex digests order identically to their digest bytes and
    the '|' separator (0x7c) sorts above every hex char, so tuple
    order == the distributed key's string order. `seeds` is an Arrow
    table (wid, node) or None (one walk per node, wid = node).
    Returns a pandas DataFrame (wid, step, node) for steps 0..length,
    or None when the a-priori op bound exceeds WALK_LOCAL_OP_LIMIT
    (caller falls back to the distributed loop)."""
    from hashlib import md5

    import pandas as pd

    np = _np()
    ids, e_src, e_dst, e_w = _raw_edge_arrays(tbl, weighted=weighted)
    n = len(ids)
    sid = [str(v) for v in ids]

    if weighted:
        # Spark: .where(weight >= 1) then sequence(1, cast int) —
        # sub-unit weights contribute no replicas
        reps_f = np.where(e_w >= 1, e_w, 0.0)
        reps = reps_f.astype(np.int64)
    else:
        reps = np.ones(len(e_src), dtype=np.int64)
    order = np.argsort(e_src, kind="stable")
    ss, ds, rr = e_src[order], e_dst[order], reps[order]
    indptr = np.searchsorted(ss, np.arange(n + 1))

    if seeds is None:
        wids = list(ids)
        cur = list(range(n))
    else:
        w_vals = seeds.column("wid").to_pylist()
        s_vals = seeds.column("node").to_pylist()
        wids = list(w_vals)
        pos = {v: i for i, v in enumerate(ids.tolist())}
        cur = [pos.get(v, -1) for v in s_vals]

    # Budget = ACTUAL md5 evaluations, counted as the walk advances
    # (an a-priori walkers x MAX-replica-degree x steps bound
    # overestimated ~50x on real backbones — walkers spread over the
    # degree distribution, they don't all sit on the hub — and kept
    # the mirror from ever firing at bench scale). Exceeding the
    # budget mid-walk returns None and the caller's distributed loop
    # answers; the wasted partial mirror is bounded by the budget
    # itself (~2M Python md5s ≈ 2s). A first-step estimate (the
    # replica-degree mass of the ACTUAL start positions x length)
    # pre-bails the skewed-walker case without paying any md5s.
    ops_left = WALK_LOCAL_OP_LIMIT
    if n:
        deg_reps = np.zeros(n, dtype=np.int64)
        np.add.at(deg_reps, ss, rr)
        start_idx = np.asarray([c for c in cur if c >= 0], dtype=np.int64)
        first_ops = int(deg_reps[start_idx].sum()) if len(start_idx) else 0
        # x2 drift margin: weight-proportional walkers drift toward
        # HEAVIER nodes, so later steps cost more than step 1 — without
        # the margin the skewed case burns the whole budget in the md5
        # loop before the in-loop bail fires (measured 1.6s wasted on
        # the 200-walker weighted backbone at sf0.1).
        if first_ops * length * 2 > WALK_LOCAL_OP_LIMIT:
            return None

    # step-0 rows: the distributed gens[0] is the seed frame verbatim
    # (raw node values, including seeds naming absent nodes)
    out_w = list(wids)
    out_s = [0] * len(wids)
    out_n = list(ids) if seeds is None else list(s_vals)

    active = [(w, c) for w, c in zip(wids, cur) if c >= 0]
    for s in range(1, length + 1):
        ws = str(s)
        nxt = []
        for w, c in active:
            a, b = int(indptr[c]), int(indptr[c + 1])
            if a == b:
                continue
            ops_left -= int(rr[a:b].sum()) if weighted else (b - a)
            if ops_left < 0:
                return None
            wstr = str(w)
            best = None
            best_dst = -1
            for t in range(a, b):
                r = int(rr[t])
                if r <= 0:
                    continue
                dstr = sid[ds[t]]
                if weighted:
                    prefix = wstr + "|" + ws + "|" + dstr + "|"
                    for j in range(1, r + 1):
                        key = (
                            md5((prefix + str(j)).encode()).digest(),
                            dstr,
                        )
                        if best is None or key < best:
                            best, best_dst = key, ds[t]
                else:
                    key = (
                        md5((wstr + "|" + ws + "|" + dstr).encode()).digest(),
                        dstr,
                    )
                    if best is None or key < best:
                        best, best_dst = key, ds[t]
            if best is None:
                continue
            nxt.append((w, int(best_dst)))
            out_w.append(w)
            out_s.append(s)
            out_n.append(ids[best_dst])
        active = nxt
        if not active:
            break
    return pd.DataFrame(
        {
            "wid": out_w,
            "step": np.asarray(out_s, dtype=np.int64),
            "node": out_n,
        }
    )


# Wedge budget for the triangle mirrors: oriented enumeration touches
# sum-over-apexes od*(od-1)/2 candidate pairs (bounded ~m^1.5 by the
# degree orientation); all pair arrays below are materialized numpy,
# so the mirror only serves graphs whose wedge total stays in the
# tens of millions. 0 forces the distributed path (tests do).
WEDGE_LOCAL_OP_LIMIT = 20_000_000


def _canon_edge_arrays(tbl):
    """(ids, e1, e2) index arrays from a CANONICAL undirected edge
    table (u1 < u2, one row per edge) — NO symmetrization. Returns
    None when duplicate rows exist (the distributed operators count
    rows, so a multigraph input must take the distributed path)."""
    np = _np()
    import pandas as pd

    a1 = _col_np(tbl, "u1")
    a2 = _col_np(tbl, "u2")
    m = len(a1)
    if m == 0:
        return None
    both = np.concatenate([a1, a2])
    codes, uniq = pd.factorize(both)
    order = np.argsort(uniq)
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order), dtype=np.int64)
    bc = rank[codes]
    e1, e2 = bc[:m], bc[m:]
    ids = np.asarray(uniq)[order]
    n = len(ids)
    lo = np.minimum(e1, e2)
    hi = np.maximum(e1, e2)
    if bool((lo == hi).any()):
        return None  # self-loops: not a canonical edge list — distribute
    ek = lo * n + hi
    if len(np.unique(ek)) != m:
        return None
    return ids, e1, e2


def _triangles_np(ids, e1, e2):
    """Vectorized degree-oriented triangle enumeration (Suri &
    Vassilvitskii node-iterator, numpy form). Returns (ta, tb, tc)
    index arrays — one entry per triangle, a = apex (lowest
    (deg, id) rank), b/c rank-ordered — or None when the wedge total
    exceeds WEDGE_LOCAL_OP_LIMIT."""
    np = _np()
    n = len(ids)
    m = len(e1)
    deg = np.bincount(e1, minlength=n) + np.bincount(e2, minlength=n)
    # rank key encodes (deg, node-index); index order == id order
    rk = deg.astype(np.int64) * n + np.arange(n, dtype=np.int64)
    lower1 = rk[e1] < rk[e2]
    src = np.where(lower1, e1, e2)
    dst = np.where(lower1, e2, e1)
    # sort out-edges by (src, rank(dst)) so within-block pairs are
    # wedge-ordered (bd < cd, ties by id) by construction
    ordm = np.lexsort((rk[dst], src))
    s_s, d_s = src[ordm], dst[ordm]
    starts = np.flatnonzero(np.r_[True, s_s[1:] != s_s[:-1]])
    lens = np.diff(np.r_[starts, m])
    total = int((lens * (lens - 1) // 2).sum())
    if WEDGE_LOCAL_OP_LIMIT <= 0 or total > WEDGE_LOCAL_OP_LIMIT:
        return None
    if total == 0:
        z = np.array([], dtype=np.int64)
        return z, z, z
    # per sorted position t: within-block offset i, pair count l-1-i
    block_of = np.repeat(np.arange(len(starts)), lens)
    within = np.arange(m) - np.repeat(starts, lens)
    cnt = (lens[block_of] - 1 - within).astype(np.int64)
    first = np.repeat(np.arange(m), cnt)
    before = np.concatenate([[0], np.cumsum(cnt)[:-1]])
    second = np.arange(total) - np.repeat(before, cnt) + first + 1
    b = d_s[first]
    c = d_s[second]
    a = s_s[first]
    # closure: oriented edge (b -> c) must exist
    okeys = np.sort(s_s.astype(np.int64) * n + d_s)
    want = b.astype(np.int64) * n + c
    pos = np.searchsorted(okeys, want)
    hit = (pos < len(okeys)) & (okeys[np.minimum(pos, len(okeys) - 1)] == want)
    return a[hit], b[hit], c[hit]


def tricount_local(tbl):
    """Mirror of triangles.triangle_counts: pandas
    (node, triangles, deg, wedges) over every node in the edge list.
    None = duplicates / over the wedge budget / empty (distributed)."""
    import pandas as pd

    np = _np()
    canon = _canon_edge_arrays(tbl)
    if canon is None:
        return None
    ids, e1, e2 = canon
    tri = _triangles_np(ids, e1, e2)
    if tri is None:
        return None
    ta, tb, tc = tri
    n = len(ids)
    deg = np.bincount(e1, minlength=n) + np.bincount(e2, minlength=n)
    t = np.zeros(n, dtype=np.int64)
    np.add.at(t, ta, 1)
    np.add.at(t, tb, 1)
    np.add.at(t, tc, 1)
    return pd.DataFrame(
        {
            "node": ids,
            "triangles": t,
            "deg": deg.astype(np.int64),
            "wedges": deg.astype(np.int64) * (deg - 1) // 2,
        }
    )


def transitivity_local(tbl):
    """Mirror of triangles.transitivity_stats: one-row pandas
    (n_nodes, n_edges, n_triangles, n_wedges)."""
    import pandas as pd

    np = _np()
    canon = _canon_edge_arrays(tbl)
    if canon is None:
        return None
    ids, e1, e2 = canon
    tri = _triangles_np(ids, e1, e2)
    if tri is None:
        return None
    n = len(ids)
    deg = np.bincount(e1, minlength=n) + np.bincount(e2, minlength=n)
    return pd.DataFrame(
        {
            "n_nodes": [np.int64(n)],
            "n_edges": [np.int64(len(e1))],
            "n_triangles": [np.int64(len(tri[0]))],
            "n_wedges": [np.int64((deg.astype(np.int64) * (deg - 1) // 2).sum())],
        }
    )


def ktruss_local(tbl, k, max_rounds=50):
    """Mirror of triangles.ktruss_edges: enumerate triangles once, map
    each to its three canonical edge ids, then iterate the
    support-recount / drop cascade on boolean masks. The k-truss is
    the UNIQUE maximal subgraph with per-edge support >= k-2, so no
    move-schedule parity is involved — any correct fixpoint matches
    the distributed loop bit-for-bit (integer supports). Returns a
    pandas DataFrame (u1, u2, support) of surviving edges; None =
    duplicates / over the wedge budget (distributed path); raises the
    same RuntimeError contract on max_rounds exhaustion."""
    import pandas as pd

    np = _np()
    canon = _canon_edge_arrays(tbl)
    if canon is None:
        return None
    ids, e1, e2 = canon
    tri = _triangles_np(ids, e1, e2)
    if tri is None:
        return None
    ta, tb, tc = tri
    n = len(ids)
    m = len(e1)
    lo = np.minimum(e1, e2)
    hi = np.maximum(e1, e2)
    ek = lo * n + hi
    order = np.argsort(ek)
    ek_sorted = ek[order]

    def eid(x, y):
        key = np.minimum(x, y).astype(np.int64) * n + np.maximum(x, y)
        return order[np.searchsorted(ek_sorted, key)]

    t_ab, t_ac, t_bc = eid(ta, tb), eid(ta, tc), eid(tb, tc)
    alive = np.ones(m, dtype=bool)
    tri_alive = np.ones(len(ta), dtype=bool)
    need = k - 2
    for _ in range(max_rounds):
        edge_ids = np.concatenate(
            [t_ab[tri_alive], t_ac[tri_alive], t_bc[tri_alive]]
        )
        support = np.bincount(edge_ids, minlength=m)
        keep = alive & (support >= need)
        if keep.sum() == alive.sum():
            out = keep
            return pd.DataFrame(
                {
                    "u1": ids[lo[out]],
                    "u2": ids[hi[out]],
                    "support": support[out].astype(np.int64),
                }
            )
        dropped = alive & ~keep
        tri_alive &= ~(
            dropped[t_ab] | dropped[t_ac] | dropped[t_bc]
        )
        alive = keep
    raise RuntimeError(
        f"ktruss k={k} exhausted max_rounds={max_rounds} WITHOUT "
        f"reaching a fixpoint ({m} -> {int(alive.sum())} edges): the "
        f"subgraph at this point is not a k-truss. Raise max_rounds "
        f"(each round is one support recount + one anti-join)."
    )
