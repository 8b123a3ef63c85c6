"""Graph algorithms (SURVEY.md §2.10 G2, G4-G8) as iterative DataFrame loops.

The reference runs these inside Neo4j GDS over the projected co-engagement
graph (project/metrics/community_detection.py:49-83) and streams label
frames back. Here each algorithm is a driver-coordinated loop over
distributed joins/aggregations:

- every iteration is a handful of shuffles on (node) or (node, dim) keys,
  which partition evenly at any scale;
- each round's state is a checkpoint generation (`_materialize`) that
  truncates lineage so plans don't grow unboundedly (the classic
  iterative-Spark failure mode). One ownership rule covers its blocks:
  a loop's generations belong to its scope (`_generations`); only what
  `result()` hands over outlives it, and inside a public operator or a
  catalog query that falls to its scope (`_owns_checkpoints`);
- driver-side state is O(1) scalars (round counters, change counts) —
  never node/edge collections.

Edge convention: undirected graphs enter as canonical pairs
(u1 < u2, weight); `_symmetrize` expands to directed (src, dst, weight)
for neighbor aggregation.

Determinism: GDS results are nondeterministic (thread interleaving); ours
are deterministic by construction (min-label tie-breaks, hash-seeded
initialization) so tests can assert exact fixpoints. Community ids are
canonicalized to the minimum member node id.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from functools import reduce, wraps

from pyspark import SparkContext
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from echo_chambers_detection_spark import placement
from echo_chambers_detection_spark.session import driver_frame

try:  # the only failure modes _materialize's fallback should absorb are
    # "API removed/renamed" (AttributeError/TypeError) and py4j
    # PROTOCOL errors (missing method). Py4JJavaError — a real JVM
    # exception (analysis bug, OOM) — subclasses Py4JError and must
    # surface, so it is re-raised ahead of the fallback handler.
    from py4j.protocol import Py4JError as _Py4JError
    from py4j.protocol import Py4JJavaError as _Py4JJavaError
except ImportError:  # pragma: no cover - py4j always ships with pyspark
    _Py4JError = ()

    class _Py4JJavaError(Exception):  # pragma: no cover
        pass

# Node-state frames (labels, degrees, community sums) are one row per node
# or per community. After localCheckpoint Catalyst loses their size stats
# and plans full shuffle joins of the edge table against them every round.
# Below this node count we hint broadcast explicitly — the echo-chamber
# regime (77k users in the reference) is far under it; above it the
# auto-probe flips the loops back to shuffle joins, which is the correct
# plan there. 1M rows × ~25 B/row (node id + label/degree) ≈ 25 MB per
# broadcast — comfortably inside a 64 MB driver/executor budget every
# round; 10M would push hundreds of MB per executor per round.
BROADCAST_NODE_LIMIT = 1_000_000

# Leiden refinement group-parallel gate: when NO community's intra edge
# list exceeds this, refinement runs as one cogroup shuffle with a
# per-community numpy kernel (see _refine). A per-EXECUTOR-TASK bound,
# not a driver one. 0 forces the distributed round loop (tests do).
REFINE_GROUP_EDGE_LIMIT = 4_000_000


def _exceeds_rows(df: DataFrame, bound: int) -> bool:
    """True iff df has more than `bound` rows, probed JVM-side.

    Dataset.take(bound+1) drives CollectLimit's incremental
    grow-the-prefix scan — it reads roughly one partition and stops
    at scale, and never plans the LocalLimit -> single-partition
    Exchange that limit(n).count() would (ADVICE r11). Crucially the
    probe rows materialize ONLY in the driver JVM: the py4j call
    returns an array handle and we read its length, so no Python Row
    deserialization. A Python-side take() of the same probe decodes
    up to bound+1 Row objects in the driver CPython loop — measured
    round 12 at 31s for a 10.1M-row under-bound probe vs 2.2s for
    this JVM probe (and 2.3s at a 2B-row over-bound frame, where the
    incremental scan stops after ~bound rows). lit(1) keeps probe
    rows one tiny column regardless of input width; the transient
    JVM array is ~tens of bytes/row, bounded by the caller's limit.
    Falls back to the Python take() on sessions with no py4j handle
    (Spark Connect)."""
    probe = df.select(F.lit(1).alias("p"))
    try:
        arr = probe._jdf.take(bound + 1)
        jvm = probe.sparkSession._jvm
        return jvm.java.lang.reflect.Array.getLength(arr) > bound
    except AttributeError:
        return len(probe.take(bound + 1)) > bound


def _mirror_ok(edges: DataFrame, kernel: str, rows: int) -> bool:
    """Whether `kernel`'s community mirror takes `rows` edge rows of
    `edges`: `placement` puts them on the driver, and the node ids are
    strings, as the mirrors reproduce Spark's string-hash move schedule."""
    from pyspark.sql.types import StringType

    return placement.on_driver(
        edges.sparkSession, kernel, rows * placement.EDGE_ROW_BYTES
    ) and isinstance(edges.schema["u1"].dataType, StringType)


def _traversal_local_tbl(
    edges: DataFrame,
    kernel: str,
    row_bytes: int = placement.TRAVERSAL_ROW_BYTES,
    weighted: bool = False,
    drop_null_ids: bool = True,
):
    """Gate + collect for the traversal mirrors: a bounded take-probe
    on the RAW edge list (sym rows = exactly 2x input rows — unionAll,
    no dedup), then one Arrow collect of the raw edges (half the bytes
    of the symmetrized frame; symmetrization is two numpy concatenates
    in the mirror). The probe is _exceeds_rows (JVM-side incremental
    take, see its docstring): at 100 TB it reads roughly one partition
    and stops, and under the bound it never decodes probe rows into
    Python — the round-12 Python-take() probe cost ~31s of driver Row
    decoding on a 10.1M-edge under-bound frame
    (bench_bfs_layered_500k 12.1->69.4s, fixed back here). The selected
    frame is persist()ed for the gate's duration so the probe and the
    Arrow collect share ONE execution of the caller's upstream plan
    (partitions cache as take() touches them; the collect reads the
    cache). CAVEAT (same as coengagement's encode probe): the gate
    still EAGERLY executes the caller's upstream plan at gate time.
    The full collect only ever runs on graphs that passed the gate. NULL endpoints are dropped up front — the distributed joins
    never match them and the final isNotNull filter would drop their
    rows anyway. Weighted traversals with NULL or NaN weights BAIL to
    the distributed loop: the distributed min-plus join produces NULL
    (or NaN-ordered-last) cost+weight which min() ignores, yet the
    edge's ENDPOINTS still count toward the node set and landmark
    selection — the mirror can't drop the row (loses the endpoints)
    nor keep it (its int64 cast turns NaN into INT64_MIN, a fake
    hugely-negative weight), so parity demands the distributed path.
    The raw-row bound is what `placement` gives `kernel` at `row_bytes`
    driver bytes per raw row; `drop_null_ids=False` keeps NULL
    endpoints in the pull for a kernel that must see them to decline.
    Returns None (use the distributed loop) when over the bound, when
    the kernel is forced distributed (no probe runs), for un-mirrorable
    id types, or for NULL/NaN weights."""
    from pyspark.sql.types import StringType

    if not isinstance(
        edges.schema["u1"].dataType, (StringType, LongType, IntegerType)
    ):
        return None
    bound = placement.max_rows(edges.sparkSession, kernel, row_bytes)
    if bound <= 0:
        return None
    cols = ["u1", "u2"]
    if weighted and "weight" in edges.columns:
        cols.append("weight")
    e = edges.select(*cols)
    if drop_null_ids:
        e = e.where(F.col("u1").isNotNull() & F.col("u2").isNotNull())
    # persist() for the gate's duration so probe + collect share ONE
    # execution of the caller's upstream plan: Spark caches partitions
    # as the incremental take() touches them, and the toArrow below
    # reads the cache instead of recomputing (round 12 — the probe +
    # collect pair used to execute an expensive projection twice,
    # measured +4-9s per walk-family row at sf0.1). Over the bound the
    # probe caches ~one partition, we unpersist and the distributed
    # leg re-reads from source — a bounded partial waste.
    from pyspark import StorageLevel

    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if _exceeds_rows(e, bound):
            return None
        tbl = e.toArrow()
    finally:
        e.unpersist(False)
    if weighted and "weight" in cols:
        import pyarrow as pa
        import pyarrow.compute as pc

        wcol = tbl.column("weight")
        if wcol.null_count:
            return None
        if pa.types.is_floating(wcol.type) and bool(
            pc.any(pc.is_nan(wcol.combine_chunks())).as_py()
        ):
            return None
    return tbl


def _state_hint(small_state: bool):
    """Join-side hint for per-node/per-community state frames."""
    return F.broadcast if small_state else (lambda df: df)


def _probe_small(nodes: DataFrame) -> bool:
    # JVM-side incremental take (stops once the bound is hit, reads
    # ~one partition at scale, no Python Row decoding — see
    # _exceeds_rows). Runs once per operator call, not per round.
    return not _exceeds_rows(nodes, BROADCAST_NODE_LIMIT)


def _symmetrize(edges: DataFrame, weighted: bool = True) -> DataFrame:
    w = F.col("weight") if weighted and "weight" in edges.columns else F.lit(1.0)
    fwd = edges.select(
        F.col("u1").alias("src"), F.col("u2").alias("dst"), w.cast("double").alias("weight")
    )
    rev = edges.select(
        F.col("u2").alias("src"), F.col("u1").alias("dst"), w.cast("double").alias("weight")
    )
    return fwd.unionAll(rev)


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("u1").alias("node"))
        .unionAll(edges.select(F.col("u2").alias("node")))
        .distinct()
    )


def _nodes_of_sym(sym: DataFrame) -> DataFrame:
    """Node set from an already-MATERIALIZED symmetrized edge frame.

    Algorithms should derive nodes from `sym` (a checkpointed leaf), not
    from the caller's `edges`: the input is often an expensive lazy plan
    (e.g. the co-engagement projection), and every `_nodes(edges)`
    reference re-executes it — measured as 2-3 redundant graph builds per
    Louvain/Leiden call at sf0.1."""
    return sym.select(F.col("src").alias("node")).distinct()


def _pinned_ids(sc) -> list[int]:
    return [int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()]


def tracked_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint with its block ids recorded on the result
    (so `_release_checkpoint` can free it), but WITHOUT `_materialize`'s
    stats-free leaf rebuild — for one-shot frames whose Catalyst size
    estimate should keep steering downstream join planning. Loops must
    keep using `_materialize` (the stats rebuild is what stops
    checkpoint-stat compounding there).

    It never records into an ownership scope. Its one caller in the
    package is `_checkpoint`, which every engine checkpoint goes
    through; the public name stays for perfbench, whose save step must
    own a checkpoint beyond the query it runs in (it reads its labels
    after releasing the query's result)."""
    sc = df.sparkSession.sparkContext
    before = set(_pinned_ids(sc))
    out = df.localCheckpoint(eager=True)
    out._ckpt_rdd_ids = [i for i in _pinned_ids(sc) if i not in before]
    return out


# the ids `_checkpoint` made in the innermost running operator or query
# (`_owns_checkpoints`)
_SCOPE_CKPTS: ContextVar[list | None] = ContextVar("scope_ckpts", default=None)


def _checkpoint(df: DataFrame) -> DataFrame:
    """`tracked_checkpoint`, with the new block ids also recorded in the
    innermost running ownership scope (`_owns_checkpoints`: a public
    operator or a catalog query), which hands what is still pinned when
    it returns to its result. Outside any scope it is
    `tracked_checkpoint`. Every engine checkpoint goes through here, so
    operators own what they make and hand no blocks along by hand."""
    out = tracked_checkpoint(df)
    made = _SCOPE_CKPTS.get()
    if made is not None:
        made += out._ckpt_rdd_ids
    return out


def _materialize(df: DataFrame) -> DataFrame:
    """Cut lineage + force computation (iterative-loop hygiene).

    `localCheckpoint` truncates the logical plan to a LogicalRDD leaf but
    copies the ORIGINATING plan's estimated `sizeInBytes` into that leaf.
    Join estimates multiply their inputs, so across checkpoint generations
    the carried BigInt's digit count doubles per round — after ~30
    generations Catalyst spends minutes multiplying million-digit numbers
    inside SizeInBytesOnlyStatsPlanVisitor (observed: Leiden level-2 local
    moves going 16s -> 33s -> 75s per round on a 100-node coarsened
    graph). Fix: rebuild the leaf over the SAME checkpointed RDD without
    inherited stats, so every generation restarts from the default
    estimate. Join strategies don't regress — loop state joins are
    explicitly broadcast-hinted and AQE re-plans from true runtime sizes.
    `internalCreateDataFrame` is package-private in Scala, hence public in
    bytecode; if a future Spark removes it we fall back to the plain
    checkpoint (correct, slower in deep loops) — warning ONCE so the
    regression is visible instead of silent (ADVICE r2).

    The ids of the checkpoint's persisted RDDs are recorded on the
    returned DataFrame (`_ckpt_rdd_ids`, via `_checkpoint`), so
    the frame owns its blocks until they are freed. Ownership rule: a
    loop's generations belong to its scope (`_generations`); only what
    `result()` hands over outlives it — a 100-round loop must not pin
    100 generations of blocks in the block manager (at cluster scale
    that is executor-memory death by a thousand tiny frames).
    """
    global _MATERIALIZE_FALLBACK_WARNED
    out = _checkpoint(df)
    try:
        jdf = out._jdf
        jspark = out.sparkSession._jsparkSession
        new_jdf = jspark.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        result = DataFrame(new_jdf, out.sparkSession)
    except _Py4JJavaError:
        raise  # real JVM failure — never absorb into the fallback
    except (AttributeError, TypeError, _Py4JError):
        if not _MATERIALIZE_FALLBACK_WARNED:
            _MATERIALIZE_FALLBACK_WARNED = True
            import warnings

            warnings.warn(
                "internalCreateDataFrame unavailable on this Spark; "
                "falling back to plain localCheckpoint. Deep iterative "
                "loops will hit the compounding-stats slowdown "
                "(see _materialize docstring).",
                RuntimeWarning,
                stacklevel=2,
            )
        return out
    return carry_ckpt(result, out)


_MATERIALIZE_FALLBACK_WARNED = False


def _materialize_wide(df: DataFrame) -> DataFrame:
    """_materialize for frames that later stages SCAN heavily (edge
    lists): restore full parallelism first. AQE rightly coalesces a
    small shuffle output to 1-2 partitions, but a checkpoint freezes
    that partitioning — and then every loop round scans the hot edge
    frame with 2 tasks on a 32-core box (measured: the per-round edge
    aggregation ran 2.2s in 2 tasks instead of ~0.2s in 32). An explicit
    round-robin repartition to the session's shuffle parallelism is one
    extra exchange per materialization, paid once per level, amortized
    over every round that scans the leaf."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return _materialize(df.repartition(n))


def carry_ckpt(out: DataFrame, *inners: DataFrame) -> DataFrame:
    """Transfer checkpoint-block ownership from internal frames onto the
    frame a function RETURNS, so a caller's single
    `_release_checkpoint(result)` frees the whole chain. Plain column
    ops (select/withColumn/alias) mint new DataFrame objects and drop
    the `_ckpt_rdd_ids` attribute. Operators and catalog queries need
    none of it: their scope (`_owns_checkpoints`) hands the result
    everything still pinned, and inside a loop the hand-over is
    `_generations.result`. What still calls this: this module's
    machinery (`_materialize`, `_Generations.step` and `result`), the
    analysis chains' four hand-offs in `catalog/metrics.py`, which a
    release inside the query reads (`_mint_and_metrics` frees what its
    edges and labels own), and perfbench's traced pass."""
    ids = list(getattr(out, "_ckpt_rdd_ids", []))
    for f in inners:
        if f is None:
            continue
        ids += getattr(f, "_ckpt_rdd_ids", [])
        f._ckpt_rdd_ids = []
    out._ckpt_rdd_ids = ids
    return out


def _release_checkpoint(*dfs: DataFrame) -> None:
    """Free the checkpoint blocks of PROVABLY DEAD loop generations.

    Safe only when nothing will ever act on `df` (or a plan containing
    it) again — a locally-checkpointed RDD cannot be recomputed after
    unpersist. Loops call this on generation r-1 right after generation
    r is materialized: r's blocks are on storage, and every later plan
    references r, never r-1. Spark logs a WARN for every such unpersist
    (it cannot know the lineage is dead); session.py drops that one
    logger to ERROR because here the unpersist is the designed
    lifecycle, not an accident.
    """
    for df in dfs:
        if df is None:
            continue
        ids = getattr(df, "_ckpt_rdd_ids", None)
        if ids:
            _unpersist(df.sparkSession.sparkContext, ids)
            df._ckpt_rdd_ids = []


def _unpersist(sc, ids) -> None:
    jmap = sc._jsc.getPersistentRDDs()
    for i in ids:
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(False)


def _scalars(df: DataFrame, **aggs) -> tuple:
    """A round's loop-control scalars from ONE agg job over `df`, in
    keyword order. An aggregate over no rows reads 0; an agg passed as
    None is skipped and reads None (no job when all are None)."""
    live = {k: e for k, e in aggs.items() if e is not None}
    row = df.agg(*(e.alias(k) for k, e in live.items())).first() if live else {}
    return tuple(
        None if aggs[k] is None else (0 if row[k] is None else row[k])
        for k in aggs
    )


class _Generations:
    """The checkpoint generations of one loop; see `_generations`."""

    def __init__(self):
        self._owned: list[DataFrame] = []

    def _free(self, prev) -> None:
        # only ever frees what this scope owns: a caller's frame (or a
        # lazy projection of an owned one) passed as `prev` is left
        # alone, not destroyed
        for df in prev if isinstance(prev, tuple) else (prev,):
            if df is not None and any(o is df for o in self._owned):
                self._owned = [o for o in self._owned if o is not df]
                _release_checkpoint(df)

    def keep(self, df: DataFrame, wide: bool = False) -> DataFrame:
        """Materialize `df` (through `_materialize_wide` when `wide`)
        and own it until the scope exits or a step() supersedes it."""
        return self.adopt((_materialize_wide if wide else _materialize)(df))

    def adopt(
        self, df: DataFrame, prev: DataFrame | tuple | None = None
    ) -> DataFrame:
        """Own `df`, a frame another operator or scope handed over with
        its blocks (its `result()`) or a `_checkpoint` whose planner
        statistics the loop keeps, as if this scope had kept it; free
        `prev` as step() does."""
        self._owned.append(df)
        self._free(prev)
        return df

    def step(
        self,
        df: DataFrame,
        cols=None,
        prev: DataFrame | tuple | None = None,
        wide: bool = False,
        **aggs,
    ):
        """One generation: materialize `df` (wide as in keep()), free
        `prev` (the generation it supersedes, or a tuple of frames it
        makes dead) now that the new one is on storage, project to
        `cols` with ownership kept, and read `aggs` over the new leaf in
        one `_scalars` job. Returns the frame, or (frame, *scalars) when
        aggs are given."""
        leaf = (_materialize_wide if wide else _materialize)(df)
        out = self.adopt(
            leaf if cols is None else carry_ckpt(leaf.select(*cols), leaf), prev
        )
        return (out, *_scalars(leaf, **aggs)) if aggs else out

    def result(self, out: DataFrame, *frames: DataFrame) -> DataFrame:
        """Hand `frames` (and `out` itself, when it is a generation) to
        the returned frame: those blocks outlive the scope, freed by
        the caller's `_release_checkpoint(out)`."""
        carry_ckpt(out, *frames)
        self._owned = [o for o in self._owned if o is not out]
        return out


@contextmanager
def _generations():
    """Scope that owns a loop's checkpoint generations, in the spirit of
    Pregelix's superstep driver: `keep()` materializes loop-invariant
    frames (edge lists, node sets), `step()` materializes each new
    generation and frees the ones it supersedes, `adopt()` takes over
    what a nested operator or helper scope handed over, and `result()`
    hands generations to the returned frame. A loop's generations
    belong to its scope; only what `result()` hands over outlives it —
    on normal exit, early return and exception alike (a raise mid-loop
    pins nothing). Inside a public operator or a catalog query, what
    `result()` hands over falls to its scope (`_owns_checkpoints`), the
    outer owner. Loop operators that return `g.result(...)` need no
    scope of their own."""
    g = _Generations()
    try:
        yield g
    finally:
        _release_checkpoint(*g._owned)
        g._owned = []


def _owns_checkpoints(fn):
    """Make `fn`, a public operator or a catalog query
    (`catalog._core.register` applies it to every query), the one owner
    of the checkpoints it makes, so its body returns a bare frame. When
    `fn` returns, every id `_checkpoint` recorded during the call that
    is still pinned joins the result's `_ckpt_rdd_ids` (one
    `getPersistentRDDs` read, no job), so the caller's
    `_release_checkpoint(result)` frees the call whole; what the call
    freed itself is not freed twice. A scope run inside another passes
    its result's ids to the outer one. On a raise, what the call
    recorded is freed."""

    @wraps(fn)
    def run(*args, **kwargs):
        made: list[int] = []
        token = _SCOPE_CKPTS.set(made)
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            if made:
                _unpersist(SparkContext._active_spark_context, made)
            raise
        finally:
            _SCOPE_CKPTS.reset(token)
        if made:
            pinned = set(_pinned_ids(SparkContext._active_spark_context))
            out._ckpt_rdd_ids = list(dict.fromkeys([
                *getattr(out, "_ckpt_rdd_ids", []),
                *(i for i in made if i in pinned),
            ]))
            outer = _SCOPE_CKPTS.get()
            if outer is not None:
                outer += out._ckpt_rdd_ids
        return out

    return run


def _traversal_mirror(
    edges: DataFrame,
    kernel: str,
    schema,
    weighted: bool = False,
    row_bytes: int = placement.TRAVERSAL_ROW_BYTES,
    drop_null_ids: bool = True,
    **kw,
):
    """Traversal-mirror dispatch: gate + collect the edge list
    (`_traversal_local_tbl`, placed as `kernel` without its "_local"
    suffix; it takes `weighted`, `row_bytes` and `drop_null_ids`), run
    `localgraph.<kernel>(tbl, **kw)` and
    return its frame with `schema`, a list of (column, type) where a
    None type means the input's id type, or (column, type, False) for a
    column the distributed loop declares NOT NULL. Returns None — run the
    distributed loop — when the gate declines or the kernel does (its
    op/wedge budget or an input it cannot reproduce returns None)."""
    tbl = _traversal_local_tbl(
        edges, kernel.removesuffix("_local"), row_bytes,
        weighted=weighted, drop_null_ids=drop_null_ids,
    )
    if tbl is None:
        return None
    from echo_chambers_detection_spark.operators import localgraph

    pdf = getattr(localgraph, kernel)(tbl, **kw)
    if pdf is None:
        return None
    # the distributed loop's exact schema, nullability included:
    # node/seed columns keep the input id dtype
    node_t = edges.schema["u1"].dataType
    return driver_frame(
        edges.sparkSession,
        pdf,
        StructType(
            [
                StructField(c, node_t if t is None else t, *nullable)
                for c, t, *nullable in schema
            ]
        ),
    )


# ---------------------------------------------------------------------------
# G4 — k-core decomposition (reference gds.kcore.stream,
# project/metrics/community_detection.py:56-58)
# ---------------------------------------------------------------------------


def kcore(edges: DataFrame, max_rounds: int = 10_000) -> DataFrame:
    """Core number per node via distributed peeling with min-degree jumping.

    Classic peel: remove nodes with degree <= k, assigning them core k;
    k advances to max(k, current min degree) each round, so dense graphs
    (where naive peeling would crawl k up one at a time through empty
    levels) finish in a handful of rounds. Each round is one degree
    aggregation + two anti-joins. Returns (node, core_value).
    """
    with _generations() as g:
        sym = g.keep(
            _symmetrize(edges, weighted=False).select("src", "dst"), wide=True
        )
        if _mirror_ok(edges, "kcore", sym.count()):
            from echo_chambers_detection_spark.operators.localgraph import (
                kcore_local,
            )

            result = kcore_local(sym.toPandas())
            return driver_frame(
                edges.sparkSession,
                result.items(),
                "node string, core_value bigint not null",
            )
        # Peel over the ALIVE node set, not just nodes that still have
        # edges: a node orphaned by its neighbors' removal (star center)
        # must peel at the current k with degree 0, or it would silently
        # never be assigned a core (regression:
        # tests/test_graph_algorithms.py star fixture). deg left-joins
        # from `alive` so orphans surface as deg=0, which also pins
        # mind=0 and stops k jumping past them.
        alive = g.keep(_nodes_of_sym(sym))
        hint = _state_hint(_probe_small(alive))
        lows: list[DataFrame] = []
        assigned: list[DataFrame] = []
        k = 0
        for _ in range(max_rounds):
            deg = alive.join(
                sym.groupBy(F.col("src").alias("node")).agg(
                    F.count("*").alias("deg")
                ),
                "node",
                "left",
            ).na.fill({"deg": 0})
            mind, n = _scalars(deg, mind=F.min("deg"), n=F.count("*"))
            if n == 0:
                break
            k = max(k, int(mind))
            # materialize the peeled set: every later frame (including
            # the returned union) reads only these small checkpointed
            # leaves, so the big per-round sym/alive generations retire
            low = g.keep(deg.where(F.col("deg") <= k).select("node"))
            lows.append(low)
            assigned.append(
                low.select("node", F.lit(k).cast("bigint").alias("core_value"))
            )
            alive = g.step(alive.join(hint(low), "node", "leftanti"), prev=alive)
            sym = g.step(
                sym.join(
                    hint(low.withColumnRenamed("node", "src")), "src", "leftanti"
                ).join(
                    hint(low.withColumnRenamed("node", "dst")), "dst", "leftanti"
                ),
                prev=sym,
            )
        if not assigned:
            return driver_frame(
                edges.sparkSession, [], "node string, core_value bigint not null"
            )
        return g.result(reduce(DataFrame.unionAll, assigned), *lows)


# ---------------------------------------------------------------------------
# Connected components (building block for Leiden refinement + DBSCAN-style
# clustering; exposed as an operator in its own right)
# ---------------------------------------------------------------------------


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Min-label propagation with POINTER JUMPING to fixpoint: component
    id = min node id in the component. Each round takes the min over
    (own label, neighbor labels) and then shortcuts through the label
    graph — L(v) <- L(L(v)), the Shiloach-Vishkin hooking+shortcutting
    step — so the labelled distance to the component minimum roughly
    DOUBLES per round: O(log diameter) rounds instead of O(diameter)
    (a 100k-node path converges in ~17 rounds, not 100k; round-6, the
    SCALE.md known-limit this removes). Cost per round: one groupBy +
    two joins. Returns (node, component).

    Correctness of the fixpoint: labels only decrease and always hold a
    node id of the same component; the minimum c keeps L(c) = c; at a
    fixpoint every edge has equal labels (else the neighbor-min would
    fire), so the per-component constant label must be c itself.

    Raises RuntimeError if the fixpoint is not reached within max_iter —
    a partially-propagated labelling silently splits components, which
    corrupts every downstream contract (Borůvka contraction re-picks
    edges across the split, dedup keep-lists keep both halves), so
    non-convergence must be loud. With the doubling step the default
    budget covers any graph a cluster can hold.
    """
    with _generations() as g:
        sym = g.keep(
            _symmetrize(edges, weighted=False).select("src", "dst"), wide=True
        )
        if _mirror_ok(edges, "connected_components", sym.count()):
            from echo_chambers_detection_spark.operators.localgraph import (
                connected_components_local,
            )

            # collect each undirected edge ONCE (src <= dst keeps
            # self-loop nodes in the id set): halves the driver transfer,
            # and the union-find mirror only walks the src < dst half
            result = connected_components_local(
                sym.where(F.col("src") <= F.col("dst")).toPandas()
            )
            return driver_frame(
                edges.sparkSession,
                result.items(),
                "node string, component string",
            )
        labels = g.keep(_nodes_of_sym(sym).withColumn("component", F.col("node")))
        hint = _state_hint(_probe_small(labels))
        changed = 0
        for _ in range(max_iter):
            nbr_min = (
                sym.join(hint(labels.withColumnRenamed("node", "src")), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("component").alias("nbr_component"))
            )
            hooked = labels.join(nbr_min, "node", "left").select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", "component")
                ).alias("_c1"),
                F.col("component").alias("_c0"),
            )
            # shortcut: follow the label one more hop (labels are node
            # ids, so every _c1 value exists as a node row). The join
            # probes on _c1 — hot toward convergence (many nodes share a
            # label); the mapping side is hinted broadcast when small,
            # and AQE skew-splits otherwise.
            jump = hooked.select(
                F.col("node").alias("_c1"), F.col("_c1").alias("_c2")
            )
            # carry the changed flag inside the materialized frame: the
            # convergence check is a cheap agg on the checkpointed leaf
            # instead of a second distributed join job per round
            c = F.least(F.col("_c1"), F.coalesce("_c2", "_c1"))
            labels, changed = g.step(
                hooked.join(hint(jump), "_c1", "left").select(
                    "node", c.alias("component"), (c < F.col("_c0")).alias("_chg")
                ),
                ["node", "component"],
                prev=labels,
                changed=F.sum(F.col("_chg").cast("long")),
            )
            if changed == 0:
                break
        if changed != 0:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                f"({changed} labels still moving) — the graph's diameter "
                "exceeds the round budget; pass a larger max_iter"
            )
        return g.result(labels)


# ---------------------------------------------------------------------------
# G5 — label propagation (reference gds.labelPropagation.stream,
# project/metrics/community_detection.py:60-62; unweighted in reference)
# ---------------------------------------------------------------------------


def label_propagation(
    edges: DataFrame, max_iter: int = 10, weighted: bool = False
) -> DataFrame:
    """Synchronous LPA: each node adopts the most frequent (or highest
    total weight, if weighted) label among its neighbors; ties break to the
    smallest label, making the result deterministic where GDS's async
    implementation is not. Stops at fixpoint or max_iter.
    Returns (node, community).
    """
    with _generations() as g:
        sym = g.keep(_symmetrize(edges, weighted=weighted), wide=True)
        labels = g.keep(_nodes_of_sym(sym).withColumn("community", F.col("node")))
        hint = _state_hint(_probe_small(labels))
        for _ in range(max_iter):
            # Each node's own previous label rides the message stream as
            # a zero-weight self-message: it contributes nothing to any
            # label score (weights are strictly positive, so a 0-score
            # label can never win or tie the argmax), but it (a)
            # guarantees every node appears downstream — the old
            # labels⋈top join existed only for that totality — and (b)
            # carries the OLD label into the same aggregation that picks
            # the NEW one, so the convergence flag costs no extra join.
            # The argmax itself is min_by over struct(-score, community):
            # lexicographic struct ordering gives highest score first,
            # then the binary-smallest label — the exact tie-break the
            # old row_number window used, without the window's per-node
            # sort exchange. Two map-side-combining aggs replace agg +
            # window sort + join (round-10: LPA was the one loop still
            # paying a per-round window AND a per-round join).
            msgs = sym.join(
                hint(labels.withColumnRenamed("node", "src")), "src"
            ).select(
                F.col("dst").alias("node"),
                "community",
                "weight",
                F.lit(False).alias("own"),
            ).unionByName(
                labels.select(
                    "node",
                    "community",
                    F.lit(0.0).alias("weight"),
                    F.lit(True).alias("own"),
                )
            )
            counts = msgs.groupBy("node", "community").agg(
                F.sum("weight").alias("score"), F.max("own").alias("own")
            )
            labels, changed = g.step(
                counts.groupBy("node")
                .agg(
                    F.min_by(
                        "community",
                        F.struct(
                            (-F.col("score")).alias("ns"), F.col("community")
                        ),
                    ).alias("community"),
                    F.max(F.when(F.col("own"), F.col("community"))).alias(
                        "_old"
                    ),
                )
                .select(
                    "node",
                    "community",
                    (F.col("community") != F.col("_old")).alias("_chg"),
                ),
                ["node", "community"],
                prev=labels,
                changed=F.sum(F.col("_chg").cast("long")),
            )
            if changed == 0:
                break
        return g.result(labels)


def _frontier_loop(g, sym, dist, keys, max_iter):
    """The BFS loop of `bfs_distances` (keys ["node"]) and
    `bfs_landmark_distances` (keys ["seed", "node"]): `dist` holds 0
    at the sources and NULL elsewhere; round d joins the level-(d-1)
    frontier against `sym`, stamps newly reached keys with d, and stops
    once a round reaches nothing. Per round: one frontier join against
    the edge frame plus one left-join update of the state frame; the
    growth count is an agg on the materialized generation. Returns the
    reached (*keys, dist: bigint) rows, owning the last generation."""
    seed = keys[:-1]
    hint = _state_hint(_probe_small(dist))
    for d in range(1, max_iter + 1):
        frontier = dist.where(F.col("dist") == d - 1).select(
            *seed, F.col("node").alias("src")
        )
        reached = (
            sym.join(hint(frontier), "src")
            .select(*seed, F.col("dst").alias("node"))
            .distinct()
        )
        dist, grew = g.step(
            dist.join(hint(reached.withColumn("_r", F.lit(1))), keys, "left")
            .select(
                *keys,
                F.coalesce(
                    "dist", F.when(F.col("_r") == 1, F.lit(d)).cast("int")
                ).alias("dist"),
            ),
            prev=dist,
            grew=F.sum((F.col("dist") == d).cast("long")),
        )
        if grew == 0:
            break
    out = dist.where(F.col("dist").isNotNull()).select(
        *keys, F.col("dist").cast("bigint").alias("dist")
    )
    return g.result(out, dist)


def bfs_distances(
    edges: DataFrame, seeds: list | None = None, max_iter: int = 50
) -> DataFrame:
    """Multi-source BFS hop distances over the undirected graph — the
    GDS traversal/shortest-path family companion (gds.bfs /
    gds.allShortestPaths stream from the same projected graph the
    reference's community algorithms use,
    project/metrics/community_detection.py:49-83).

    ``seeds=None`` seeds from the binary-smallest node id, so the
    default run is deterministic and oracle-able. Returns
    (node, dist: bigint) for REACHED nodes only — unreached nodes drop
    out at the end instead of shipping NULL rows every round, and a
    bounded ``max_iter`` makes the result the exact ``max_iter``-hop
    neighborhood (the SQL oracle caps its recursion at the same
    constant, so the semantics is pinned, not truncated silently).

    Per round: one frontier semi-shaped join against the symmetrized
    edge frame plus one left-join update of the O(n) distance frame —
    the same per-round cost profile as the other loops in this module;
    generations are checkpointed and retired in-loop, and the
    convergence flag is an agg on the already-materialized frame.
    Within the driver budget (`placement`) the parity-tested numpy mirror
    (localgraph.bfs_local) answers driver-side — toy-scale graphs
    otherwise pay ~diameter serialized Spark rounds of pure scheduling
    latency; the distributed loop stays primary above the bound.
    """
    out = _traversal_mirror(
        edges, "bfs_local", [("node", None), ("dist", LongType())],
        seeds=seeds, max_iter=max_iter,
    )
    if out is not None:
        return out
    with _generations() as g:
        sym = g.keep(_symmetrize(edges, weighted=False), wide=True)
        if seeds is None:
            seeds = [sym.agg(F.min("src")).first()[0]]
        dist = g.keep(
            _nodes_of_sym(sym).select(
                "node",
                F.when(F.col("node").isin(list(seeds)), F.lit(0))
                .cast("int")
                .alias("dist"),
            )
        )
        return _frontier_loop(g, sym, dist, ["node"], max_iter)


def bfs_landmark_distances(
    edges: DataFrame, n_landmarks: int = 4, max_iter: int = 30
) -> DataFrame:
    """Per-landmark BFS distances, vectorized over the landmark set in
    ONE loop: the state frame is keyed (seed, node), so every round
    advances ALL landmarks' frontiers with the same single edge join —
    k landmarks cost one loop, not k loops. This is the landmark/
    pivot-distances primitive under closeness-centrality estimation
    and distance-oracle embeddings (Potamias et al., CIKM'09 — public
    literature), and the per-seed generalization of `bfs_distances`.

    Landmarks are the ``n_landmarks`` binary-smallest node ids —
    deterministic, so the result is oracle-able. Returns
    (seed, node, dist: bigint) for reached pairs only; the driver
    holds only the landmark id list (bounded by ``n_landmarks``).
    Within the driver budget (`placement`) the parity-tested numpy mirror
    (localgraph.landmark_bfs_local) answers driver-side.
    """
    out = _traversal_mirror(
        edges, "landmark_bfs_local",
        [("seed", None), ("node", None), ("dist", LongType())],
        n_landmarks=n_landmarks, max_iter=max_iter,
    )
    if out is not None:
        return out
    with _generations() as g:
        sym = g.keep(_symmetrize(edges, weighted=False), wide=True)
        nodes = _nodes_of_sym(sym)
        seeds = [
            r["node"]
            for r in nodes.orderBy("node").limit(n_landmarks).collect()
        ]
        # seed column type must FOLLOW the node id type (ADVICE r10: a
        # hardcoded 'seed string' breaks the node == seed comparison for
        # long ids, which bench.py's layered fixture uses)
        seed_schema = StructType(
            [StructField("seed", nodes.schema["node"].dataType)]
        )
        dist = g.keep(
            nodes.crossJoin(
                F.broadcast(
                    driver_frame(
                        nodes.sparkSession, [(s,) for s in seeds], seed_schema
                    )
                )
            ).select(
                "seed",
                "node",
                F.when(F.col("node") == F.col("seed"), F.lit(0))
                .cast("int")
                .alias("dist"),
            )
        )
        return _frontier_loop(g, sym, dist, ["seed", "node"], max_iter)


@_owns_checkpoints
def landmark_closeness(
    edges: DataFrame, n_landmarks: int = 4, max_iter: int = 30
) -> DataFrame:
    """Landmark-approximated closeness + harmonic centrality — one
    groupBy over the `bfs_landmark_distances` frame (Potamias et al.,
    CIKM'09, public literature; the centrality-estimate member of the
    GDS catalog family the reference's projected graph feeds,
    project/metrics/community_detection.py:49-83). Exact closeness is
    all-pairs BFS — O(n·E), dead at scale; the landmark estimate uses
    k pivots' distances, which this module already computes in one
    vectorized loop.

    Per node over the k binary-smallest-id landmarks:
    ``closeness_q9  = floor(1e9 * reached / Σ dist)`` (NULL when the
    node only ever sees dist-0 landmarks, i.e. Σ = 0) and
    ``harmonic_q9   = Σ floor(1e9 / dist)`` over dist > 0.
    Both are integer-quantized so the DuckDB oracle hash-matches:
    harmonic is pure integer arithmetic after the per-row floor, and
    closeness is one IEEE-754 multiply + divide + floor on exactly-
    representable integers — bit-identical across engines. Returns
    (node, n_landmarks_reached, dist_sum, harmonic_q9, closeness_q9).
    """
    d = bfs_landmark_distances(
        edges, n_landmarks=n_landmarks, max_iter=max_iter
    )
    return (
        d.groupBy("node")
        .agg(
            F.count("*").alias("n_landmarks_reached"),
            F.sum("dist").alias("dist_sum"),
            F.sum(
                F.when(
                    F.col("dist") > 0,
                    F.floor(F.lit(1e9) / F.col("dist")).cast("bigint"),
                ).otherwise(F.lit(0))
            ).alias("harmonic_q9"),
        )
        .withColumn(
            "closeness_q9",
            F.when(
                F.col("dist_sum") > 0,
                F.floor(
                    (F.lit(1e9) * F.col("n_landmarks_reached"))
                    / F.col("dist_sum")
                ).cast("bigint"),
            ),
        )
    )


def _min_plus_loop(g, sym, dist, keys, k):
    """The Bellman-Ford relaxation of `bellman_ford_khop` (keys
    ["node"]) and `bellman_ford_landmark` (keys ["seed", "node"]):
    `dist` holds cost 0 at the sources and NULL elsewhere; each round
    relaxes every edge out of the reached set (one join against the
    state frame, one min-combining groupBy, one least-merge update) and
    stops early on a round that changes nothing — sound because
    min-plus relaxation is a monotone fixpoint. After r rounds the
    frame holds the exact min cost over paths of <= r edges. Returns
    the reached (*keys, cost: bigint) rows, owning the last
    generation."""
    seed = keys[:-1]
    hint = _state_hint(_probe_small(dist))
    for _ in range(k):
        best = (
            sym.join(
                hint(
                    dist.where(F.col("cost").isNotNull()).select(
                        *seed, F.col("node").alias("src"), "cost"
                    )
                ),
                "src",
            )
            .select(
                *seed,
                F.col("dst").alias("node"),
                (F.col("cost") + F.col("weight").cast("bigint")).alias("nc"),
            )
            .groupBy(*keys)
            .agg(F.min("nc").alias("nc"))
        )
        cost = F.least("cost", "nc")
        dist, changed = g.step(
            dist.join(hint(best), keys, "left").select(
                *keys,
                cost.alias("cost"),
                (~cost.eqNullSafe(F.col("cost"))).alias("_chg"),
            ),
            [*keys, "cost"],
            prev=dist,
            changed=F.sum(F.col("_chg").cast("long")),
        )
        if changed == 0:
            break
    return g.result(dist.where(F.col("cost").isNotNull()), dist)


def bellman_ford_landmark(
    edges: DataFrame, n_landmarks: int = 4, k: int = 10
) -> DataFrame:
    """Per-landmark k-hop min-cost distances, ALL landmarks advanced by
    one shared min-plus loop — the weighted companion of
    `bfs_landmark_distances` (Dijkstra-per-pivot / weighted
    distance-oracle primitive, Potamias et al.; the GDS shortest-path
    family over the same projected graph,
    project/metrics/community_detection.py:49-83). The state frame is
    keyed (seed, node), so ``n_landmarks`` pivots cost one relaxation
    join per round, not n loops; landmarks are the binary-smallest node
    ids, costs are exact integer arithmetic (edge cost = the input's
    integer ``weight``), and ``k`` pins <=k-edge-path semantics the
    same way `bellman_ford_khop.k` does. Returns
    (seed, node, cost: bigint) for reached pairs. Within the driver
    budget (`placement`) the parity-tested numpy mirror
    (localgraph.bellman_ford_landmark_local) answers driver-side.
    """
    out = _traversal_mirror(
        edges, "bellman_ford_landmark_local",
        [("seed", None), ("node", None), ("cost", LongType())],
        weighted=True, n_landmarks=n_landmarks, k=k,
    )
    if out is not None:
        return out
    with _generations() as g:
        sym = g.keep(_symmetrize(edges, weighted=True), wide=True)
        nodes = _nodes_of_sym(sym)
        seeds_df = F.broadcast(
            nodes.orderBy("node").limit(n_landmarks).withColumnRenamed(
                "node", "seed"
            )
        )
        dist = g.keep(
            nodes.crossJoin(seeds_df).select(
                "seed",
                "node",
                F.when(F.col("node") == F.col("seed"), F.lit(0))
                .cast("bigint")
                .alias("cost"),
            )
        )
        return _min_plus_loop(g, sym, dist, ["seed", "node"], k)


def _sigma_forward(g, sym, seeds_df, max_iter, hint):
    """Brandes forward pass, vectorized over seeds: state frame
    (seed, node, dist, sigma) where sigma = number of shortest
    s->node paths (exact bigint — sums of path counts, no floats).
    Per round: one frontier join + one (seed, node) sum-combining
    groupBy + one O(n·k) left-join update, the module's standard loop
    shape. Returns (state, D) with D = deepest populated level."""
    state = g.keep(
        _nodes_of_sym(sym).crossJoin(F.broadcast(seeds_df)).select(
            "seed",
            "node",
            F.when(F.col("node") == F.col("seed"), F.lit(0))
            .cast("int")
            .alias("dist"),
            F.when(F.col("node") == F.col("seed"), F.lit(1))
            .cast("bigint")
            .alias("sigma"),
        )
    )
    depth = 0
    for d in range(1, max_iter + 1):
        frontier = state.where(F.col("dist") == d - 1).select(
            "seed", F.col("node").alias("src"), "sigma"
        )
        contrib = (
            sym.join(hint(frontier), "src")
            .groupBy("seed", F.col("dst").alias("node"))
            .agg(F.sum("sigma").alias("_s"))
        )
        state, grew = g.step(
            state.join(hint(contrib), ["seed", "node"], "left").select(
                "seed",
                "node",
                F.coalesce(
                    "dist",
                    F.when(F.col("_s").isNotNull(), F.lit(d)).cast("int"),
                ).alias("dist"),
                F.coalesce("sigma", "_s").alias("sigma"),
            ),
            prev=state,
            grew=F.sum((F.col("dist") == d).cast("long")),
        )
        if grew == 0:
            break
        depth = d
    return state, depth


def shortest_path_counts(
    edges: DataFrame, n_sources: int = 4, max_iter: int = 30
) -> DataFrame:
    """Number of shortest paths from each of the ``n_sources``
    binary-smallest pivot nodes — the σ half of Brandes' betweenness
    algorithm (Brandes 2001, public literature; the centrality family
    of the GDS catalog the reference's projected graph feeds,
    project/metrics/community_detection.py:49-83), exposed standalone
    because σ is EXACT INTEGER arithmetic and therefore fully
    differential-testable: a shortest path count is the number of
    minimal-length walks, which a recursive-CTE oracle enumerates
    row-by-row at the same hop cap. MULTIGRAPH convention: duplicate
    edge rows are parallel edges, each a distinct shortest path (the
    walk oracle enumerates them the same way; the co-engagement
    projections feeding the catalog are dedup'd, so there the two
    conventions coincide). Returns
    (seed, node, dist: bigint, sigma: bigint) for reached pairs.

    Within the driver budget (`placement`) the parity-tested numpy mirror
    (localgraph.path_counts_local) answers driver-side.
    """
    out = _traversal_mirror(
        edges, "path_counts_local",
        [("seed", None), ("node", None), ("dist", LongType()),
         ("sigma", LongType())],
        n_sources=n_sources, max_iter=max_iter,
    )
    if out is not None:
        return out
    with _generations() as g:
        sym = g.keep(_symmetrize(edges, weighted=False), wide=True)
        nodes = _nodes_of_sym(sym)
        seeds_df = F.broadcast(
            nodes.orderBy("node").limit(n_sources).withColumnRenamed(
                "node", "seed"
            )
        )
        hint = _state_hint(_probe_small(nodes))
        state, _ = _sigma_forward(g, sym, seeds_df, max_iter, hint)
        out = state.where(F.col("dist").isNotNull()).select(
            "seed",
            "node",
            F.col("dist").cast("bigint").alias("dist"),
            F.col("sigma").cast("bigint").alias("sigma"),
        )
        return g.result(out, state)


def brandes_betweenness(
    edges: DataFrame, n_sources: int = 4, max_iter: int = 30
) -> DataFrame:
    """Pivot-sampled betweenness centrality (Brandes 2001; the sampled
    estimator of Bader et al. / Brandes-Pich, public literature):
    bc(v) = Σ over the ``n_sources`` binary-smallest pivots s of the
    dependency δ_s(v) = Σ_{w: v ∈ pred(w)} σ_sv/σ_sw · (1 + δ_s(w)).
    With pivots = all nodes this is exact (ordered-pair convention —
    halve for the undirected textbook number); with k pivots it is the
    standard unscaled sample sum. ``max_iter`` caps the forward BFS,
    so the estimate is over the ≤max_iter-hop DAG (same k-hop
    semantics contract as the rest of the traversal family). σ and δ
    follow the MULTIGRAPH convention of `shortest_path_counts`:
    duplicate edge rows are parallel edges (each DAG row ships its own
    δ contribution) — pinned by the exact-rational hypothesis model in
    tests/test_traversal_property.py.

    Distributed shape: the σ forward loop (one edge join + one
    combining agg per level), ONE materialized DAG join (edge frame
    against the state frame on both endpoints, dist_w = dist_v + 1),
    then D backward rounds of one level-filtered join + one
    sum-combining agg each — δ for a level is complete in one round
    because dependencies flow strictly level-by-level. Returns
    (node, betweenness: double) over ALL nodes (0.0 where no shortest
    path passes). Dependency sums are floats; on fixtures whose σ
    ratios are dyadic the result is exact and the local mirror
    (localgraph.betweenness_local, within the driver budget)
    matches bit-for-bit — tests pin that plus closed forms.
    """
    out = _traversal_mirror(
        edges, "betweenness_local",
        [("node", None), ("betweenness", DoubleType(), False)],
        n_sources=n_sources, max_iter=max_iter,
    )
    if out is not None:
        return out
    with _generations() as g:
        sym = g.keep(_symmetrize(edges, weighted=False), wide=True)
        nodes = g.keep(_nodes_of_sym(sym))
        seeds_df = F.broadcast(
            nodes.orderBy("node").limit(n_sources).withColumnRenamed(
                "node", "seed"
            )
        )
        hint = _state_hint(_probe_small(nodes))
        state, depth = _sigma_forward(g, sym, seeds_df, max_iter, hint)
        # DAG edges (v at dist, w at dist+1) with both endpoints' sigma —
        # one materialized join; every backward round is a filter on it
        sv = state.where(F.col("dist").isNotNull()).select(
            "seed",
            F.col("node").alias("src"),
            F.col("dist").alias("_dv"),
            F.col("sigma").alias("_sv"),
        )
        sw = state.where(F.col("dist").isNotNull()).select(
            "seed",
            F.col("node").alias("dst"),
            F.col("dist").alias("_dw"),
            F.col("sigma").alias("_sw"),
        )
        dag = g.keep(
            sym.join(hint(sv), "src")
            .join(hint(sw), ["seed", "dst"])
            .where(F.col("_dw") == F.col("_dv") + 1)
            .select(
                "seed",
                F.col("src").alias("v"),
                F.col("dst").alias("w"),
                "_dv",
                "_sv",
                "_sw",
            )
        )
        delta_prev = None  # δ of the level just computed (deepest = 0)
        bc_parts = []
        for d in range(depth, 0, -1):
            lvl = dag.where(F.col("_dv") == d - 1)
            if delta_prev is not None:
                lvl = lvl.join(
                    hint(
                        delta_prev.select(
                            "seed", F.col("node").alias("w"), "_delta"
                        )
                    ),
                    ["seed", "w"],
                    "left",
                ).na.fill({"_delta": 0.0})
            else:
                lvl = lvl.withColumn("_delta", F.lit(0.0))
            # every level stays pinned until the scope exits: all but the
            # final level-0 output are bc_parts members the closing union
            # still reads
            delta_prev = g.keep(
                lvl.groupBy("seed", F.col("v").alias("node")).agg(
                    F.sum(
                        (F.col("_sv") / F.col("_sw"))
                        * (F.lit(1.0) + F.col("_delta"))
                    ).alias("_delta")
                )
            )
            if d - 1 >= 1:
                # level-0 nodes are the pivots themselves: δ_s(s) is
                # excluded from bc by definition, and d=1's output is the
                # last round anyway
                bc_parts.append(delta_prev.select("node", "_delta"))
        if not bc_parts:
            out = nodes.select("node", F.lit(0.0).alias("betweenness"))
        else:
            bc = reduce(DataFrame.unionByName, bc_parts).groupBy("node").agg(
                F.sum("_delta").alias("_bc")
            )
            out = (
                nodes.join(hint(bc), "node", "left")
                .na.fill({"_bc": 0.0})
                .select("node", F.col("_bc").alias("betweenness"))
            )
        return _checkpoint(out)


def _walk_step(sym, cur, s, weighted, hint):
    """Step s of `seeded_random_walks`: (wid, node) after one move of
    every walker in `cur`."""
    stepped = sym.join(
        hint(cur.select("wid", F.col("node").alias("src"))), "src"
    )
    key_parts = [F.col("wid"), F.lit(s), F.col("dst")]
    if weighted:
        # sequence(1, 0) in Spark is the DESCENDING [1, 0] — a
        # zero-weight (or <1 fractional) edge would silently get
        # TWO replicas instead of none (ADVICE r10). Guard here so
        # sub-unit weights contribute nothing, matching the
        # oracle's range(1, w + 1) which is empty for w < 1.
        stepped = stepped.where(F.col("weight") >= 1).withColumn(
            "_j",
            F.explode(F.sequence(F.lit(1), F.col("weight").cast("int"))),
        )
        key_parts.append(F.col("_j"))
    key = F.concat_ws("|", F.md5(F.concat_ws("|", *key_parts)), F.col("dst"))
    return stepped.groupBy("wid").agg(F.min_by("dst", key).alias("node"))


def seeded_random_walks(
    edges: DataFrame,
    length: int = 8,
    seeds: DataFrame | None = None,
    weighted: bool = False,
) -> DataFrame:
    """Deterministic 'random' walks — the gds.randomWalk / node2vec-
    sampling primitive (the GDS procedure family the reference's
    projected graph feeds, project/metrics/community_detection.py:49-83)
    re-expressed so the whole trajectory set is
    REPRODUCIBLE and oracle-able: at each step the walker at `node`
    moves to the neighbor minimizing md5(wid|step|neighbor) (fixed-
    width hex, then neighbor id as the tie key), i.e. a splittable
    counter-based PRNG keyed by (walk, step, candidate) instead of
    mutable RNG state. Every engine that agrees on md5 replays the
    exact same walks — the DuckDB oracle does, recursively.

    One walk starts at every node (or at `seeds`: a (wid, node)
    frame); each step is ONE adjacency join + one min_by-combining
    groupBy on the O(walks) state frame — the module's standard loop
    shape, generations checkpointed and carried on the result. Returns
    (wid, step, node) for steps 0..length; walks at dead ends (none in
    a symmetrized edge list) simply stop contributing rows.

    ``weighted=True`` makes the transition WEIGHT-PROPORTIONAL while
    staying exact: each neighbor enters the argmin once per unit of
    its integer weight (key md5(wid|step|dst|j), j = 1..w), so under
    the hash-as-random-oracle view dst wins with probability w/W —
    integer-replica weighting instead of float inverse-CDF, which is
    what keeps the DuckDB oracle bit-exact (generate_series replays
    the replicas). Fan-out per step is Σw over the frontier's incident
    edges; for capped projections (the strong-tie backbone) that is a
    small constant factor.

    Within the driver budget (`placement`) — and when the a-priori md5
    budget (walkers x max replica-degree x length,
    localgraph.WALK_LOCAL_OP_LIMIT) holds — the parity-tested driver
    mirror (localgraph.random_walks_local) replays the walks from one
    Arrow collect: the counter-based PRNG makes the trajectory set a
    pure function of the edge list, so toy-scale runs skip ~length
    serialized join+agg rounds (the traversal-mirror pattern,
    round 12).
    """
    from pyspark import StorageLevel

    # Pin the CALLER's edge plan for the whole gate/mirror attempt:
    # seed frames are usually derived from the same expensive
    # projection (the weighted catalog row builds both from one
    # backbone), so populating this cache once lets the gate probe,
    # the Arrow collect, AND the seed collection all share a single
    # upstream execution. Unpersisted before the distributed loop —
    # which at 100 TB (gate declines after ~one cached partition)
    # proceeds from source exactly as before.
    pinned = edges.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        tbl = _traversal_local_tbl(pinned, "random_walks", weighted=weighted)
        if tbl is not None:
            from echo_chambers_detection_spark.operators.localgraph import (
                random_walks_local,
            )
            from pyspark.sql.types import LongType

            seed_tbl = None
            seeds_ok = True
            if seeds is not None:
                # walker bound: the mirror is a per-walker python loop
                sframe = seeds.select("wid", "node")
                if _exceeds_rows(sframe, 200_000):
                    seeds_ok = False
                else:
                    seed_tbl = sframe.toArrow()
            if seeds_ok:
                pdf = random_walks_local(
                    tbl, length=length, weighted=weighted, seeds=seed_tbl
                )
                if pdf is not None:  # None = md5 op budget exceeded
                    node_t = edges.schema["u1"].dataType
                    wid_t = (
                        node_t
                        if seeds is None
                        else seeds.schema["wid"].dataType
                    )
                    return driver_frame(
                        edges.sparkSession,
                        pdf,
                        StructType(
                            [
                                StructField("wid", wid_t),
                                StructField("step", LongType(), False),
                                StructField("node", node_t),
                            ]
                        ),
                    )
            # Mirror declined (walker-skew budget) but the edge list is
            # ALREADY collected and bounded — replay it (and the
            # collected seed frame) as LOCAL relations so the
            # distributed loop below never re-executes the caller's
            # expensive upstream plan.
            spark = edges.sparkSession
            edges = spark.createDataFrame(tbl)
            if seed_tbl is not None:
                seeds = spark.createDataFrame(seed_tbl)
    finally:
        pinned.unpersist(False)
    with _generations() as g:
        sym = g.keep(_symmetrize(edges, weighted=weighted), wide=True)
        if seeds is None:
            cur = _nodes_of_sym(sym).select(
                F.col("node").alias("wid"), F.col("node").alias("node")
            )
        else:
            cur = seeds.select("wid", "node")
        cur = g.keep(cur)
        hint = _state_hint(_probe_small(cur))
        gens = [cur]
        for s in range(1, length + 1):
            cur = g.keep(_walk_step(sym, cur, s, weighted, hint))
            gens.append(cur)
        out = reduce(
            DataFrame.unionByName,
            [
                gen.select(
                    "wid", F.lit(step).cast("bigint").alias("step"), "node"
                )
                for step, gen in enumerate(gens)
            ],
        )
        return g.result(out, *gens)


def bellman_ford_khop(
    edges: DataFrame, seeds: list | None = None, k: int = 10
) -> DataFrame:
    """k-hop min-cost distances by Bellman-Ford relaxation — the
    weighted companion of `bfs_distances` (the GDS
    shortest-path/Dijkstra family over the same projected graph the
    reference's community algorithms stream from,
    project/metrics/community_detection.py:49-83; min-plus semiring,
    edge cost = the input's integer ``weight``).

    Each round relaxes every edge out of the currently-reached set:
    one join of the symmetrized edge frame against the O(n) cost
    frame, one min-combining groupBy (map-side combine does the heavy
    lifting), one least-merge update. After ``r`` rounds the frame
    holds the exact min cost over paths of <= r edges, so ``k`` pins
    k-hop semantics the same way `bfs_distances.max_iter` does — and
    the early exit on a no-change round is sound because min-plus
    relaxation is a monotone fixpoint (a stalled round can never be
    followed by a productive one). Integer costs stay integers:
    hash-exact against a recursive-CTE oracle capped at the same hop
    bound. Returns (node, cost: bigint) for reached nodes only.
    Within the driver budget (`placement`) the parity-tested numpy mirror
    (localgraph.bellman_ford_local) answers driver-side.
    """
    out = _traversal_mirror(
        edges, "bellman_ford_local", [("node", None), ("cost", LongType())],
        weighted=True, seeds=seeds, k=k,
    )
    if out is not None:
        return out
    with _generations() as g:
        sym = g.keep(_symmetrize(edges, weighted=True), wide=True)
        if seeds is None:
            seeds = [sym.agg(F.min("src")).first()[0]]
        dist = g.keep(
            _nodes_of_sym(sym).select(
                "node",
                F.when(F.col("node").isin(list(seeds)), F.lit(0))
                .cast("bigint")
                .alias("cost"),
            )
        )
        return _min_plus_loop(g, sym, dist, ["node"], k)


# ---------------------------------------------------------------------------
# PageRank — superset of the reference's GDS centrality family (the
# reference streams community algorithms from the same projected graph,
# project/metrics/community_detection.py:49-83; PageRank is the standard
# companion centrality over that projection and the influence signal an
# echo-chamber analysis wants next)
# ---------------------------------------------------------------------------


def _teleport(seeds: list | None, n: int):
    """PageRank's per-node teleport weight `_s`: uniform 1/n, or mass
    1/len(seeds) on each seed node (personalized)."""
    if not seeds:
        return F.lit(1.0 / n).cast("double")
    return (
        F.when(
            F.col("node").isin([str(s) for s in seeds]),
            F.lit(1.0 / len(seeds)),
        )
        .otherwise(F.lit(0.0))
        .cast("double")
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-8,
    weighted: bool = False,
    directed: bool = False,
    seeds: list | None = None,
) -> DataFrame:
    """Distributed PageRank by power iteration: one join + one
    aggregation per round over a PRE-NORMALIZED edge frame.

    The per-source share (weight / out-strength) is folded into the
    edge frame ONCE before the loop, so each round is exactly

        incoming(v) = Σ_{u→v} share(u,v) · rank(u)
        rank'(v)    = (1−d)/n + d · (incoming(v) + dangling/n)

    — a single shuffle on dst plus a broadcast-or-shuffle join of the
    O(n) rank frame, the same per-round cost profile as the other
    loops in this module. Undirected inputs (the co-engagement
    projection) are symmetrized and have no dangling nodes; with
    ``directed=True`` the input is taken as (u1 → u2) and the dangling
    mass — total rank parked on sink nodes — is one extra scalar
    aggregation per round, redistributed uniformly (the standard
    random-surfer completion).

    Personalization: ``seeds`` replaces the uniform teleport vector
    with mass 1/len(seeds) on each seed node (random walk with restart
    — the influence/recommendation variant). Internally both cases are
    ONE formula: the rank frame carries a static per-node teleport
    weight ``_s`` (uniform 1/n or the seed indicator), and each round
    computes rank' = (1−d)·s + d·(incoming + dangling·s). Seeds absent
    from the graph leak their share of teleport mass by design (the
    seed set is the caller's spec, not data-dependent).

    Convergence: stops when the L1 delta Σ|rank'−rank| ≤ ``tol``
    (computed as a flag-style agg on the already-materialized frame,
    no extra job) or after ``max_iter`` rounds; ``tol=0.0`` pins an
    exact round count, which the dyadic-exact oracle fixture relies
    on. Driver state is O(1) scalars; checkpoint generations are
    retired in-loop. Returns (node, rank); Σ rank = 1 when every seed
    is present (or no seeds given).
    """
    with _generations() as g:
        if directed:
            w = (
                F.col("weight").cast("double")
                if weighted and "weight" in edges.columns
                else F.lit(1.0)
            )
            sym = g.keep(
                edges.select(
                    F.col("u1").alias("src"),
                    F.col("u2").alias("dst"),
                    w.alias("weight"),
                ),
                wide=True,
            )
            all_nodes = (
                sym.select(F.col("src").alias("node"))
                .unionAll(sym.select(F.col("dst").alias("node")))
                .distinct()
            )
        else:
            sym = g.keep(_symmetrize(edges, weighted=weighted), wide=True)
            all_nodes = _nodes_of_sym(sym)
        if _mirror_ok(edges, "pagerank", sym.count()):
            from echo_chambers_detection_spark.operators.localgraph import (
                pagerank_local,
            )

            ranks = pagerank_local(
                sym.toPandas(), damping, max_iter, tol, seeds=seeds
            )
            return driver_frame(
                edges.sparkSession, ranks.items(),
                "node string, rank double not null",
            )
        out_strength = sym.groupBy("src").agg(F.sum("weight").alias("_wdeg"))
        shares = g.keep(
            sym.join(out_strength, "src").select(
                "src", "dst", (F.col("weight") / F.col("_wdeg")).alias("share")
            ),
            wide=True,
        )
        n = all_nodes.count()
        if n == 0:
            return driver_frame(
                edges.sparkSession, [], "node string, rank double not null"
            )
        # all_nodes is a lazy view over sym: the first rank generation
        # supersedes sym's checkpoint
        ranks = g.step(
            all_nodes.withColumn("_s", _teleport(seeds, n))
            .withColumn("rank", F.col("_s")),
            prev=sym,
        )
        hint = _state_hint(_probe_small(ranks))
        # sources that emit mass; in the directed case sinks are absent
        # here and their rank is re-injected uniformly each round
        src_set = shares.select(F.col("src").alias("node")).distinct()
        has_dangling = directed and src_set.count() < n
        for _ in range(max_iter):
            dangling = 0.0
            if has_dangling:
                (d,) = _scalars(
                    ranks.join(src_set, "node", "left_anti"), s=F.sum("rank")
                )
                dangling = float(d)
            incoming = (
                shares.join(
                    hint(
                        ranks.select(
                            F.col("node").alias("src"), F.col("rank")
                        )
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("share") * F.col("rank")).alias("_in"))
            )
            new_rank = F.lit(1.0 - damping) * F.col("_s") + F.lit(damping) * (
                F.coalesce("_in", F.lit(0.0)) + F.lit(dangling) * F.col("_s")
            )
            ranks, delta = g.step(
                ranks.join(incoming, "node", "left").select(
                    "node",
                    "_s",
                    new_rank.alias("rank"),
                    F.abs(new_rank - F.col("rank")).alias("_d"),
                ),
                ["node", "_s", "rank"],
                prev=ranks,
                # tol=0.0 pins an exact round count (the oracle
                # fixtures) — the L1-delta aggregation is then a
                # pure-overhead extra job per round; skip it and let
                # max_iter terminate the loop
                delta=F.sum("_d") if tol > 0.0 else None,
            )
            if delta is not None and delta <= tol:
                break
        return g.result(ranks.select("node", "rank"), ranks)


def pagerank_coengagement(
    eng: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-8,
    seeds: list | None = None,
    user_col: str = "user_did",
    item_col: str = "post_uri",
) -> DataFrame:
    """PageRank over the co-engagement PROJECTION computed WITHOUT
    materializing it — the factored form of
    ``pagerank(coengagement_edges(eng), weighted=True)``.

    The projection's weighted adjacency is W = B·Bᵀ − diag(|posts(u)|)
    for the binary user×post incidence B, so each power-iteration
    matvec factors through the bipartite relation:

        q_u = rank_u / wdeg_u                  (share normalization)
        t_p = Σ_u B_up · q_u                   (groupBy post)
        contrib_u = Σ_p B_up · t_p − |posts(u)| · q_u   (groupBy user)

    with wdeg_u = Σ_v≠u W_uv = Σ_p B_up (engagers(p) − 1), both
    computable in one pre-pass. Per-round cost is O(|eng|) rows through
    two joins — NOT O(|edges of B·Bᵀ|), which is quadratic in post
    degree: one celebrity post with 10^5 engagers materializes 5·10^9
    projection edges but contributes 10^5 rows here. This is the only
    viable PageRank-on-co-engagement shape at 100 TB; the materialized
    path (``pagerank`` over ``coengagement_edges``) stays the right
    call when the projection is already built for other consumers.

    Node set = users with wdeg > 0, exactly the nodes the materialized
    projection contains. No dangling handling is needed: wdeg > 0 by
    construction. ``seeds`` has ``pagerank``'s personalized-teleport
    semantics. Equality with the materialized path is exact on dyadic
    fixtures and ~1e-15 relative otherwise (float association), the
    same contract as the localgraph mirrors
    (tests/test_graph_algorithms.py pins parity).
    """
    with _generations() as g:
        B = g.keep(
            eng.select(
                F.col(user_col).alias("node"), F.col(item_col).alias("item")
            ).distinct(),
            wide=True,
        )
        cnt = B.groupBy("item").agg(F.count("*").alias("_c"))
        stats = (
            B.join(cnt, "item")
            .groupBy("node")
            .agg(
                F.count("*").alias("_np"),
                F.sum(F.col("_c") - 1).cast("double").alias("_wd"),
            )
            .where(F.col("_wd") > 0)
        )
        n = stats.count()
        if n == 0:
            return driver_frame(eng.sparkSession, [], "node string, rank double")
        ranks = g.keep(
            stats.withColumn("_s", _teleport(seeds, n))
            .withColumn("rank", F.col("_s"))
        )
        hint = _state_hint(_probe_small(ranks))
        for _ in range(max_iter):
            q = ranks.select(
                "node", (F.col("rank") / F.col("_wd")).alias("_q")
            )
            t = (
                B.join(hint(q), "node")
                .groupBy("item")
                .agg(F.sum("_q").alias("_t"))
            )
            st = B.join(t, "item").groupBy("node").agg(F.sum("_t").alias("_st"))
            new_rank = F.lit(1.0 - damping) * F.col("_s") + F.lit(damping) * (
                F.coalesce("_st", F.lit(0.0))
                - F.col("_np") * (F.col("rank") / F.col("_wd"))
            )
            ranks, delta = g.step(
                ranks.join(st, "node", "left").select(
                    "node",
                    "_np",
                    "_wd",
                    "_s",
                    new_rank.alias("rank"),
                    F.abs(new_rank - F.col("rank")).alias("_d"),
                ),
                ["node", "_np", "_wd", "_s", "rank"],
                prev=ranks,
                # tol=0.0 pins an exact round count — skip the delta job
                # (see pagerank)
                delta=F.sum("_d") if tol > 0.0 else None,
            )
            if delta is not None and delta <= tol:
                break
        return g.result(ranks.select("node", "rank"), ranks)


# ---------------------------------------------------------------------------
# G7/G8/G6 — Louvain family (reference gds.louvain / modularityOptimization /
# leiden .stream, project/metrics/community_detection.py:64-83)
# ---------------------------------------------------------------------------


def weighted_modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Q = Σ_c [Σ_in(c)/2m − (Σ_tot(c)/2m)²] over an undirected weighted
    graph — the invariant the Louvain family must not decrease. One-row
    frame (column `q`); used by tests and the local-move stop condition."""
    sym = _symmetrize(edges)
    lab_s = labels.select(F.col("node").alias("src"), F.col("community").alias("c_src"))
    lab_d = labels.select(F.col("node").alias("dst"), F.col("community").alias("c_dst"))
    we = sym.join(lab_s, "src").join(lab_d, "dst")
    deg = sym.groupBy("src").agg(F.sum("weight").alias("k"))
    sigma = (
        labels.join(deg.withColumnRenamed("src", "node"), "node", "left")
        .na.fill({"k": 0.0})
        .groupBy("community")
        .agg(F.sum("k").alias("sigma_tot"))
    )
    sigma_in = (
        we.where(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("community"))
        .agg(F.sum("weight").alias("sigma_in"))
    )
    totals = sym.agg((F.sum("weight") / 2).alias("m"))
    per_c = (
        sigma.join(sigma_in, "community", "left")
        .na.fill({"sigma_in": 0.0})
        .crossJoin(F.broadcast(totals))
        .select(
            (
                F.col("sigma_in") / (2 * F.col("m"))
                - F.pow(F.col("sigma_tot") / (2 * F.col("m")), 2)
            ).alias("term")
        )
    )
    return per_c.agg(F.coalesce(F.sum("term"), F.lit(0.0)).alias("q"))


def _local_moves(
    sym: DataFrame,
    selfw: DataFrame,
    comm: DataFrame,
    m: float,
    max_rounds: int,
    small_state: bool = False,
) -> tuple[DataFrame, int]:
    """One Louvain phase of modularity-gain local moves.

    sym:    (src, dst, weight) both directions, no self edges
    selfw:  (node, w_self) self-loop weight (counted once)
    comm:   (node, community) current assignment
    m:      total edge weight (undirected sum incl. self loops)

    Synchronous best-move with ADAPTIVE single-direction application:
    each round applies only moves toward a larger community id, or only
    toward a smaller one — whichever direction the round's candidate
    set wants MORE of (ties to larger). One direction per round keeps
    the structural guarantee of the round-12 direction-alternating
    schedule — a two-community swap (or any cyclic relabeling) needs
    moves of both directions in the same round, so oscillation is
    impossible — unlike the earlier hash-parity half-schedule, where
    two nodes whose xxhash64 values share parity were scheduled
    together in EVERY round and a symmetric pair (e.g. an isolated
    dyad, 50% of them) swapped communities forever without merging
    (found by tests/test_clique_modules_property.py). Choosing the
    MAJORITY direction instead of strict alternation fixes that
    schedule's throughput collapse: greedy merge cascades point
    overwhelmingly one way (label mass concentrates toward the
    tie-break side), so alternation wasted every other round applying
    the minority direction — measured on the 100k-node d=31 planted
    bench fixture as Leiden under-converging at max_rounds=4 to
    split-purity 0.777 (recovery bar 0.9); the adaptive schedule
    recovers the blocks exactly (split = merge = 1.0) in FEWER rounds.
    A node cannot ping-pong across rounds regardless of the direction
    sequence: the score comparison between its current and former
    community is membership-invariant (the own-community sigma
    adjustment compensates exactly), so the argmax that moved it up
    still picks the same community next round. Both direction counts
    are visible to the loop control, so convergence detection is ONE
    quiet round (total wanted moves below the GDS-style 0.1%
    tolerance) — the alternating schedule needed two. Moves are
    deterministic: ties break to the largest community id; the
    direction counts are exact integers off the materialized candidate
    frame, so the direction choice is deterministic too. Determinism
    caveat (ADVICE r12): the counts are exact integers, but each node's
    argmax compares FLOAT scores — exact when k and w_ic are
    integral-valued (every catalog input; xxhash-free sums of 1.0-width
    weights associate exactly in double), while arbitrary caller-
    supplied fractional edge weights can differ by an ULP across
    partitionings, flip one argmax, and flip a round's majority
    direction. The result is then a different but still valid greedy
    partition; callers needing cross-environment bit-reproducibility on
    fractional weights should quantize weights upstream. Returns
    (new comm, total moves applied). The phase owns its generations in
    its own `_generations` scope; only `comm`, a projection of the last
    `best` generation carrying its blocks, outlives it.

    Job shape per round (the loops' cost is FIXED per-stage overhead at
    test scale, measured via event logs — 55 serialized jobs for a
    2-round louvain before this shape): exactly one tiny `state`
    checkpoint (community sizes folded into per-node rows, so sigma is
    computed ONCE, not once per broadcast use), one big edge-scan
    checkpoint (w_nc carries the neighbor community's sigma through the
    aggregation — no separate sigma join), and one O(1) scalar agg read
    off the checkpointed leaf.
    """
    hint = _state_hint(small_state)
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.sum("weight").alias("k_adj")
    )
    with _generations() as g:
        k_i = g.keep(
            selfw.join(deg, "node", "outer")
            .na.fill({"w_self": 0.0, "k_adj": 0.0})
            .select("node", (F.col("k_adj") + 2 * F.col("w_self")).alias("k"))
        )
        total_moves = 0
        best = None
        for _ in range(max_rounds):
            # per-node state: (node, community, k, sigma_tot of own
            # community). sigma as an unbounded window sum over the
            # community partition: ONE exchange produces both the per-node
            # rows and their community mass, replacing the groupBy +
            # broadcast-join-back (round 9; two fewer jobs per round, and
            # exact — k is an integral-valued double on every real input,
            # so the sum is order-insensitive). It supersedes last round's
            # `best`, which `comm` projects.
            state = g.step(
                comm.join(hint(k_i), "node").withColumn(
                    "sigma_tot",
                    F.sum("k").over(Window.partitionBy("community")),
                ),
                prev=best,
            )
            # Zero-weight self-edges guarantee every node an own-community
            # row in w_nc — the stay option falls out of the same
            # aggregation (score 0 - k*(sigma_own-k)/2m for
            # isolated-in-community nodes) instead of a separate union
            # branch that would break the partitioning chain below.
            aug = state.select(
                F.col("node").alias("src"),
                F.col("node").alias("dst"),
                F.lit(0.0).alias("weight"),
            )
            # ONE wide exchange per round: hash(src) from the explicit
            # repartition satisfies groupBy(src, nbr_c) (src is a prefix
            # of the clustering), the window over node=src, and the final
            # groupBy(node) — Catalyst inserts no further shuffle.
            enriched = (
                sym.unionAll(aug)
                .join(
                    hint(
                        state.select(
                            F.col("node").alias("dst"),
                            F.col("community").alias("nbr_c"),
                            F.col("sigma_tot").alias("sigma_nbr"),
                        )
                    ),
                    "dst",
                )
                .repartition("src")
            )
            # weight from each node to each neighboring community, with
            # the neighbor community's sigma carried through (constant
            # per group)
            w_nc = enriched.groupBy("src", "nbr_c").agg(
                F.sum("weight").alias("w_ic"),
                F.max("sigma_nbr").alias("sigma_nbr"),
            )
            cand = w_nc.withColumnRenamed("src", "node").join(hint(state), "node")
            own = F.col("nbr_c") == F.col("community")
            # staying: exclude own k from sigma_tot; joining: full sigma_tot
            score = F.when(
                own,
                F.col("w_ic")
                - F.col("k") * (F.col("sigma_nbr") - F.col("k")) / (2 * m),
            ).otherwise(
                F.col("w_ic") - F.col("k") * F.col("sigma_nbr") / (2 * m)
            )
            scored = cand.select(
                "node", "nbr_c", score.alias("score"), "community"
            )
            # Argmax in ONE shuffle: window-max over hash(node), filter to
            # the top-score rows, then aggregate the tie-break WITHOUT a
            # new exchange (the groupBy reuses the window's hash(node)
            # partitioning). A single max_by(struct, struct) reads nicer
            # but its var-width string buffer forces a SortAggregate with
            # an INTERPRETED struct comparator — measured 44 CPU-seconds
            # per round on a 2.2M-row candidate table, ~90% of the round.
            # The loops' cost at test scale is serialized-stage count, so
            # the shuffle saved matters as much as the CPU. The same step
            # reads ALL loop-control scalars in one job: the wanted moves
            # of each direction plus n. The direction choice is made
            # driver-side from these exact integers; `comm` then becomes
            # a lazy projection over the checkpointed `best` leaf.
            wnode = Window.partitionBy("node")
            best, up, dn, n = g.step(
                scored.withColumn("best", F.max("score").over(wnode))
                .where(F.col("score") == F.col("best"))
                .groupBy("node")
                .agg(
                    # community (the node's own) is constant per node;
                    # max is just a buffer-friendly way to carry it
                    F.max("community").alias("old_c"),
                    F.max("nbr_c").alias("new_c"),
                ),
                prev=state,
                up=F.sum((F.col("new_c") > F.col("old_c")).cast("long")),
                dn=F.sum((F.col("new_c") < F.col("old_c")).cast("long")),
                n=F.count("*"),
            )
            if up + dn < max(1, n // 1000):
                # quiet: total wanted movement (BOTH directions are
                # visible here) is below the GDS-style 0.1% tolerance —
                # stop without applying the residue
                comm = best.select("node", F.col("old_c").alias("community"))
                break
            # apply only one move DIRECTION per round — the majority one
            # (see docstring); strict inequality also subsumes new_c != old_c
            direction_ok = (
                F.col("new_c") > F.col("old_c")
                if up >= dn
                else F.col("new_c") < F.col("old_c")
            )
            comm = best.select(
                "node",
                F.when(direction_ok, F.col("new_c"))
                .otherwise(F.col("old_c"))
                .alias("community"),
            )
            total_moves += up if up >= dn else dn
        return g.result(comm, best), total_moves


def _coarsen(
    sym: DataFrame, selfw: DataFrame, comm: DataFrame, small_state: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Aggregate the graph by community: communities become nodes, edge
    weights sum, internal weight folds into self-loops."""
    hint = _state_hint(small_state)
    lab_s = comm.select(F.col("node").alias("src"), F.col("community").alias("c_src"))
    lab_d = comm.select(F.col("node").alias("dst"), F.col("community").alias("c_dst"))
    we = sym.join(hint(lab_s), "src").join(hint(lab_d), "dst")
    new_edges = (
        we.where(F.col("c_src") < F.col("c_dst"))
        .groupBy(F.col("c_src").alias("u1"), F.col("c_dst").alias("u2"))
        .agg(F.sum("weight").alias("weight"))
    )
    internal = (
        we.where(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("node"))
        .agg((F.sum("weight") / 2).alias("w_int"))
    )
    carried = (
        selfw.join(comm, "node")
        .groupBy(F.col("community").alias("node"))
        .agg(F.sum("w_self").alias("w_carried"))
    )
    new_selfw = (
        internal.join(carried, "node", "outer")
        .na.fill({"w_int": 0.0, "w_carried": 0.0})
        .select("node", (F.col("w_int") + F.col("w_carried")).alias("w_self"))
    )
    return new_edges, new_selfw


def _weighted_sym(g, edges: DataFrame) -> tuple[DataFrame, float, int]:
    """The symmetrized weighted graph, kept in scope `g`, with m (the
    undirected total weight) and its row count (the local-gate probe)
    read in ONE scan of the leaf — guide S2.4: every scalar read here is
    a serialized driver round-trip."""
    sym = g.keep(_symmetrize(edges), wide=True)
    m, n = _scalars(sym, m=F.sum("weight") / 2, n=F.count("*"))
    return sym, float(m), int(n)


def louvain(
    edges: DataFrame, max_levels: int = 3, max_rounds: int = 8
) -> DataFrame:
    """Distributed Louvain (reference gds.louvain.stream with
    relationshipWeightProperty, project/metrics/community_detection.py:71-76):
    repeated (local moves -> coarsen) levels over DataFrames.

    Level mappings compose through joins; final community ids are
    canonicalized to the min member node id, so results are stable across
    runs (the reference's GDS ids are not). Returns (node, community).
    One `_generations` scope owns every level's generations; only the
    returned frame's blocks outlive the call, on every return path.
    """
    from echo_chambers_detection_spark.operators.localgraph import louvain_local

    spark = edges.sparkSession
    with _generations() as g:
        sym, m, n = _weighted_sym(g, edges)
        if m <= 0:
            return _nodes(edges).withColumn("community", F.col("node"))
        if _mirror_ok(edges, "louvain", n):
            # bounded collect (the budget's rows, by the count): finish
            # the whole multilevel loop driver-side, bit-identical
            # semantics (tests/test_local_graph_parity.py)
            result = louvain_local(sym.toPandas(), m, max_levels, max_rounds)
            return driver_frame(
                spark, result.items(), "node string, community string"
            )

        # one distinct over the edge frame: selfw shares mapping's
        # checkpoint leaf instead of re-executing the 2|E|-row distinct
        # per lazy consumer (k_i build + coarsen)
        mapping = g.keep(
            _nodes_of_sym(sym).withColumn("community", F.col("node"))
        )
        selfw = mapping.select("node", F.lit(0.0).alias("w_self"))
        small = _probe_small(mapping)
        hint = _state_hint(small)
        for _level in range(max_levels):
            comm0 = (
                mapping.select(F.col("community").alias("node")).distinct()
                .withColumn("community", F.col("node"))
            )
            comm, moves = _local_moves(
                sym, selfw, comm0, m, max_rounds, small_state=small
            )
            comm = g.adopt(comm)
            if moves == 0:
                break
            # compose: node -> old community -> new community
            new_mapping = g.step(
                mapping.join(
                    hint(
                        comm.select(
                            F.col("node").alias("community"),
                            F.col("community").alias("_next"),
                        )
                    ),
                    "community",
                ).select("node", F.col("_next").alias("community"))
            )
            new_edges, new_selfw = _coarsen(sym, selfw, comm, small_state=small)
            new_sym, n_sym = g.step(
                _symmetrize(new_edges), wide=True, n=F.count("*")
            )
            # the previous level is dead once the new one is on storage
            selfw = g.step(new_selfw, prev=(mapping, sym, comm, selfw))
            mapping, sym = new_mapping, new_sym
            if n_sym == 0:
                break
            remaining = max_levels - _level - 1
            if remaining > 0 and _mirror_ok(edges, "louvain", n_sym):
                # coarsening crossed the local threshold: finish the
                # remaining levels driver-side on the coarse graph and
                # compose through the distributed mapping (the final canon
                # below re-derives ids from original members either way)
                coarse = louvain_local(
                    sym.toPandas(), m, remaining, max_rounds,
                    selfw_rows=selfw.toPandas(),
                )
                coarse_df = driver_frame(
                    spark, coarse.items(), "community string, _next string"
                )
                mapping = mapping.join(
                    F.broadcast(coarse_df), "community"
                ).select("node", F.col("_next").alias("community"))
                break
        # canonicalize ids to the min member node
        canon = mapping.groupBy("community").agg(F.min("node").alias("_canon"))
        return g.result(
            g.keep(
                mapping.join(hint(canon), "community").select(
                    "node", F.col("_canon").alias("community")
                )
            )
        )


def modularity_optimization(edges: DataFrame, max_rounds: int = 8) -> DataFrame:
    """Single-level modularity-gain local moves (reference
    gds.modularityOptimization.stream,
    project/metrics/community_detection.py:78-83) — Louvain's phase one
    without coarsening. Returns (node, community) canonicalized to min
    member node id; only the returned frame's blocks outlive the call's
    `_generations` scope."""
    with _generations() as g:
        sym, m, n = _weighted_sym(g, edges)
        if m <= 0:
            return _nodes(edges).withColumn("community", F.col("node"))
        if _mirror_ok(edges, "modularity", n):
            from echo_chambers_detection_spark.operators.localgraph import (
                modularity_local,
            )

            result = modularity_local(sym.toPandas(), m, max_rounds)
            return driver_frame(
                edges.sparkSession, result.items(), "node string, community string"
            )
        nodes = _nodes_of_sym(sym)
        selfw = nodes.select("node", F.lit(0.0).alias("w_self"))
        comm0 = g.keep(nodes.withColumn("community", F.col("node")))
        small = _probe_small(comm0)
        comm, _ = _local_moves(sym, selfw, comm0, m, max_rounds, small_state=small)
        canon = comm.groupBy("community").agg(F.min("node").alias("_canon"))
        out = comm.join(_state_hint(small)(canon), "community").select(
            "node", F.col("_canon").alias("community")
        )
        return g.result(out, comm)


def _refine_group_kernel(m: float, gamma: float, max_rounds: int):
    """Per-community refinement kernel for the cogroup path: runs the
    parity-tested numpy mirror (localgraph.refine_np) on one community's
    intra edges + member list. k comes precomputed from the nodes side
    (members carry degree from inter-community edges the group cannot
    see). Index order inside the group is the community's sorted member
    list; all tie-breaks compare members of the SAME community, so
    community-local index order equals the global order restricted —
    bit-identical decisions to the whole-graph kernel."""

    def fn(key, edges_pdf, nodes_pdf):
        import numpy as np
        import pandas as pd

        from echo_chambers_detection_spark.operators.localgraph import (
            _hash_arr,
            refine_np,
        )

        if nodes_pdf.empty:
            return pd.DataFrame({"node": [], "sub": [], "community": []})
        ids = np.sort(nodes_pdf["node"].astype(str).to_numpy())
        n = len(ids)
        if edges_pdf.empty or n < 2:
            sub = ids
        else:
            idx = pd.Index(ids)  # hash-based C-speed lookups
            k_arr = np.zeros(n)
            k_arr[
                idx.get_indexer(nodes_pdf["node"].astype(str))
            ] = nodes_pdf["k"].to_numpy(dtype="float64")
            e_src = idx.get_indexer(edges_pdf["src"].astype(str))
            e_dst = idx.get_indexer(edges_pdf["dst"].astype(str))
            e_w = edges_pdf["weight"].to_numpy(dtype="float64")
            # the group ships each edge ONCE (src < dst), joined only on
            # the src side: dst ids outside this community mark cross
            # edges (get_indexer -> -1) — drop them, then mirror the
            # intra half-edges locally (numpy concat is free next to the
            # Arrow transfer it halves)
            keep = e_dst >= 0
            e_src, e_dst, e_w = e_src[keep], e_dst[keep], e_w[keep]
            if len(e_w) == 0:
                # only cross-community edges reached this group
                sub = ids
            else:
                e_src, e_dst = (
                    np.concatenate([e_src, e_dst]),
                    np.concatenate([e_dst, e_src]),
                )
                e_w = np.concatenate([e_w, e_w])
                subi = refine_np(
                    n,
                    e_src,
                    e_dst,
                    e_w,
                    np.zeros(n),
                    np.zeros(n, dtype=np.int64),
                    m,
                    _hash_arr(ids),
                    gamma=gamma,
                    max_rounds=max_rounds,
                    k=k_arr,
                )
                sub = ids[subi]
        return pd.DataFrame(
            {"node": ids, "sub": sub, "community": str(key[0])}
        )

    return fn


def _refine(
    sym: DataFrame,
    selfw: DataFrame,
    comm: DataFrame,
    m: float,
    small_state: bool = False,
    max_rounds: int = 4,
    gamma: float = 1.0,
) -> DataFrame:
    """Leiden refinement phase (Traag, Waltman & van Eck 2019, §A.2):
    within each community of `comm`, grow sub-communities from singletons.

    Faithful constraints:
    - moves are restricted to intra-community edges (a sub-community can
      never cross its community);
    - only nodes that are still singleton in the refined partition merge,
      and only into sub-communities they have positive modularity gain
      toward — grown subs never move again, so every sub-community is
      connected by construction;
    - both the moving node and the target sub-community must be
      γ-well-connected to the community:
      w(v, C∖v) ≥ γ·k_v·(k_C−k_v)/(2m) and w(S, C∖S) ≥ γ·k_S·(k_C−k_S)/(2m).

    Deliberate deviation (documented): Traag et al. pick the target
    randomly ∝ exp(Δ/θ) for the asymptotic guarantees; we take the θ→0
    limit (max-gain, ties to the largest sub id) so results are
    deterministic and testable — the reference's GDS runs are
    nondeterministic anyway. Returns (node, sub) — plus a `community`
    column on the group-parallel path (below), which callers may use to
    skip the sub→community re-join.

    Physical strategy (round 10): refinement NEVER crosses a community,
    so it is embarrassingly parallel across communities — when no
    community's intra edge list exceeds REFINE_GROUP_EDGE_LIMIT, ONE
    cogroup shuffle keyed by community runs the bit-identical numpy
    kernel (localgraph.refine_np, the parity-tested mirror) per
    community in parallel Arrow tasks, replacing the global round loop
    (~6 jobs/round over the full edge frame). The round-loop path
    remains for the giant-community regime, where one group would not
    fit an executor task. Either path runs in its own `_generations`
    scope; only the returned frame's blocks outlive it.
    """
    hint = _state_hint(small_state)
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.sum("weight").alias("k_adj")
    )
    k_i_lazy = (
        selfw.join(deg, "node", "outer")
        .na.fill({"w_self": 0.0, "k_adj": 0.0})
        .select("node", (F.col("k_adj") + 2 * F.col("w_self")).alias("k"))
    )
    csrc = comm.select(F.col("node").alias("src"), F.col("community").alias("c1"))
    cdst = comm.select(F.col("node").alias("dst"), F.col("community").alias("c2"))
    with _generations() as g:
        # Half-edge frame for the group-parallel gate + cogroup input:
        # each undirected edge ONCE (src < dst), labeled only with the
        # SRC side's community — half the join input and half the Arrow
        # transfer of the old both-directions intra0 double-join.
        # Cross-community edges ride along (the kernel drops them by
        # unmapped dst id); per-community counts are therefore an
        # OVERESTIMATE of intra half-edges, so the gate below (2×count vs
        # limit) only ever falls back early, never admits an oversized
        # group.
        half = g.keep(
            sym.where(F.col("src") < F.col("dst"))
            .join(hint(csrc), "src")
            .select("src", "dst", "weight", F.col("c1").alias("community"))
        )
        max_intra = 2 * (
            half.groupBy("community")
            .agg(F.count("*").alias("n"))
            .agg(F.max("n").alias("mx"))
            .first()["mx"]
            or 0
        )
        if REFINE_GROUP_EDGE_LIMIT > 0 and max_intra <= REFINE_GROUP_EDGE_LIMIT:
            nodesc = comm.join(k_i_lazy, "node")  # (node, community, k)
            return g.result(
                g.keep(
                    half.groupBy("community")
                    .cogroup(nodesc.groupBy("community"))
                    .applyInPandas(
                        _refine_group_kernel(m, gamma, max_rounds),
                        "node string, sub string, community string",
                    )
                )
            )
        k_i = g.keep(k_i_lazy)
        # giant-community fallback: reconstruct the both-directions intra
        # edge list from the half frame — ONE more half-sized join (dst
        # side) + a local mirror instead of the old second 2|E|-row join
        intra_h = (
            half.join(hint(cdst), "dst")
            .where(F.col("community") == F.col("c2"))
            .select("src", "dst", "weight")
        )
        intra = g.keep(
            intra_h.unionAll(
                intra_h.select(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    "weight",
                )
            ),
            wide=True,
        )
        k_c = comm.join(hint(k_i), "node").groupBy("community").agg(
            F.sum("k").alias("k_c")
        )
        # node gate: w(v, C∖v) ≥ γ·k_v·(k_C−k_v)/(2m)
        w_vc = intra.groupBy(F.col("src").alias("node")).agg(
            F.sum("weight").alias("w_vc")
        )
        # loop-invariant per-node state: k, community k_C, and the node
        # gate result — one checkpoint consumed as a cheap broadcast leaf
        # every round (the old shape rebuilt these as deep broadcast
        # subtrees per use, and the loops' cost at test scale is
        # serialized job count)
        naux = g.step(
            comm.join(hint(k_i), "node")
            .join(hint(k_c), "community")
            .join(hint(w_vc), "node", "left")
            .na.fill({"w_vc": 0.0})
            .select(
                "node",
                "k",
                "k_c",
                # kept: round 0's per-sub outgoing weight IS w_vc (all
                # subs are singletons), so the first round's target-gate
                # skips the pairw scan entirely
                "w_vc",
                (
                    F.col("w_vc")
                    >= gamma * F.col("k") * (F.col("k_c") - F.col("k")) / (2 * m)
                ).alias("is_mover"),
            ),
            prev=(half, k_i),
        )
        sub = applied = g.step(
            comm.select("node").withColumn("sub", F.col("node"))
        )
        if naux.where(F.col("is_mover")).isEmpty():
            # nothing is γ-well-connected enough to merge — refined
            # partition stays all-singletons; skip the round loop entirely
            return g.result(sub)

        # Incrementally-maintained SUB-PAIR weight frame (round 9, VERDICT
        # r8 #4): pairw(s1, s2, w) = total intra-community weight between
        # distinct subs s1 and s2, both directions present (intra is the
        # symmetrized edge set). All loop aggregates factor through it:
        #   w(S, C∖S)   = Σ_{s2} pairw(S, s2)      (target gate)
        #   w(v, S)     = pairw(v, S) for singleton v  (candidate scores)
        # At round 0 every sub is a singleton, so pairw IS the intra edge
        # list — no join, no aggregation. After each round's merges,
        # pairw is relabeled through the (small) moved map and
        # re-grouped: one pairw-sized exchange replaces the TWO full
        # intra double-joins the previous shape paid per round (w_out +
        # the candidate join tree), and pairw only shrinks as subs grow.
        # This is _coarsen's fold-the-graph trick applied per-round
        # inside refinement.
        pairw = intra.select(
            F.col("src").alias("s1"), F.col("dst").alias("s2"),
            F.col("weight").alias("w"),
        )
        import logging
        import time as _time

        _log = logging.getLogger(__name__)
        # two-consecutive-zero-round termination: the hash-parity
        # schedule alternates with rnd, so one zero-move round is not a
        # fixpoint — see the refine_np mirror's comment (this rule is
        # also what makes the per-community group kernel bit-identical to
        # this loop)
        zero_rounds = 0
        for rnd in range(max_rounds):
            _t0 = _time.perf_counter()
            # per-sub state: size n, degree mass k_S, community mass k_C
            # (sub id = a member node id, every member shares the sub's
            # community, so k_C resolves via naux), outgoing weight w_sc
            # from pairw, and the γ-well-connectedness target gate. Round
            # 0 reads w_sc straight off naux (singleton subs ⇒ w_sc =
            # w_vc) — no pairw scan.
            if rnd == 0:
                w_out = naux.select(
                    F.col("node").alias("sub"), F.col("w_vc").alias("w_sc")
                )
            else:
                w_out = pairw.groupBy(F.col("s1").alias("sub")).agg(
                    F.sum("w").alias("w_sc")
                )
            substate = g.step(
                sub.join(hint(naux.select("node", "k")), "node")
                .groupBy("sub")
                .agg(
                    F.count("*").alias("n"),
                    F.sum("k").alias("k_s"),
                    # for singleton subs this is THE member node — which
                    # can differ from the sub id after a chain move (v
                    # joins u while w joins v's now-vacated sub):
                    # node-level lookups (k, is_mover, the applied-join
                    # key) must go through the member, not the sub id
                    F.max("node").alias("rep"),
                )
                .join(
                    hint(naux.select(F.col("node").alias("sub"), "k_c")), "sub"
                )
                .join(hint(w_out), "sub", "left")
                .na.fill({"w_sc": 0.0})
                .select(
                    "sub",
                    "n",
                    "k_s",
                    "rep",
                    (
                        F.col("w_sc")
                        >= gamma
                        * F.col("k_s")
                        * (F.col("k_c") - F.col("k_s"))
                        / (2 * m)
                    ).alias("ok"),
                )
            )
            # singleton v -> adjacent sub S: w(v,S) = pairw(v,S), gain
            # w_vS − k_v·k_S/(2m). Every join below is sub-level state on
            # the small side (hinted); pairw itself is never re-joined
            # against the edge frame.
            cand = (
                pairw.join(
                    hint(
                        substate.where(F.col("n") == 1).select(
                            F.col("sub").alias("s1"), F.col("rep")
                        )
                    ),
                    "s1",
                )
                .join(
                    hint(
                        naux.select(
                            F.col("node").alias("rep"), "k", "is_mover"
                        )
                    ),
                    "rep",
                )
                .where(F.col("is_mover"))
                .join(
                    hint(
                        substate.select(
                            F.col("sub").alias("s2"),
                            F.col("n").alias("n_tgt"),
                            "k_s",
                            "ok",
                        )
                    ),
                    "s2",
                )
                .where(F.col("ok"))
                .select(
                    F.col("rep").alias("node"),
                    F.col("s1").alias("own"),
                    F.col("s2").alias("tgt"),
                    (
                        F.col("w") - F.col("k") * F.col("k_s") / (2 * m)
                    ).alias("score"),
                    "n_tgt",
                )
                .where(F.col("score") > 0)
                # singleton↔singleton symmetric swap guard: a singleton
                # may absorb INTO a larger-id singleton only (grown subs
                # are fair game either way — they never move)
                .where((F.col("n_tgt") > 1) | (F.col("tgt") > F.col("own")))
            )
            # one-shuffle window argmax (see _local_moves): max_by's
            # string buffer would force an interpreted SortAggregate over
            # the full candidate table
            wnode = Window.partitionBy("node")
            best = (
                cand.withColumn("best", F.max("score").over(wnode))
                .where(F.col("score") == F.col("best"))
                .groupBy("node")
                .agg(
                    F.max("tgt").alias("new_sub"),
                    # own is constant per node; carried for the pairw
                    # relabel (pairw is keyed by SUB id, which can differ
                    # from the member node id after a chain move)
                    F.max("own").alias("old_sub"),
                )
            )
            parity = F.pmod(F.xxhash64(F.col("node")) + F.lit(rnd), F.lit(2)) == 0
            moved = parity & F.col("new_sub").isNotNull()
            # supersedes the last round's assignment and this round's
            # substate: the old sub id rides along, so the pairw fold
            # below reads the moved map off THIS leaf instead of
            # re-deriving the cand→window→best pipeline for the broadcast
            # build (measured: 8 jobs/fold → ~4)
            applied, moves = g.step(
                sub.join(hint(best), "node", "left").select(
                    "node",
                    F.when(moved, F.col("new_sub"))
                    .otherwise(F.col("sub"))
                    .alias("sub"),
                    moved.alias("moved"),
                    F.col("old_sub"),
                ),
                prev=(applied, substate),
                mv=F.sum(F.col("moved").cast("long")),
            )
            _t_moves = _time.perf_counter()
            sub = applied.select("node", "sub")
            if moves == 0:
                zero_rounds += 1
                _log.info(
                    "refine round %d: moves=0 (zero_rounds=%d), %.2fs",
                    rnd, zero_rounds, _t_moves - _t0,
                )
                if zero_rounds >= 2:
                    break
                continue  # pairw unchanged — nothing merged this round
            zero_rounds = 0
            if rnd == max_rounds - 1:
                _log.info(
                    "refine round %d (last): moves=%d, %.2fs",
                    rnd, moves, _t_moves - _t0,
                )
                break
            # fold this round's merges into pairw: relabel both ends
            # through the moved map (small, hinted; keyed by the OLD SUB
            # ID, not the node id — see the rep/chain-move note on
            # substate), drop now-internal pairs, re-group. hash(s1) from
            # the repartition serves the (s1, s2) aggregation (s1 is a
            # prefix of the grouping). Round 0's pairw is a projection of
            # `intra`, which the scope keeps; later ones are superseded.
            moved_map = applied.where(F.col("moved")).select(
                F.col("old_sub").alias("_mv"),
                F.col("sub").alias("_mvsub"),
            )
            pairw = g.step(
                pairw.join(
                    hint(moved_map.withColumnRenamed("_mv", "s1")),
                    "s1",
                    "left",
                )
                .withColumn("s1n", F.coalesce("_mvsub", F.col("s1")))
                .drop("_mvsub")
                .join(
                    hint(moved_map.withColumnRenamed("_mv", "s2")),
                    "s2",
                    "left",
                )
                .withColumn("s2n", F.coalesce("_mvsub", F.col("s2")))
                .where(F.col("s1n") != F.col("s2n"))
                .repartition("s1n")
                .groupBy(
                    F.col("s1n").alias("s1"), F.col("s2n").alias("s2")
                )
                .agg(F.sum("w").alias("w")),
                prev=pairw,
                wide=True,
            )
            _log.info(
                "refine round %d: moves=%d, move-phase %.2fs, "
                "pairw-fold %.2fs",
                rnd, moves, _t_moves - _t0,
                _time.perf_counter() - _t_moves,
            )
        return g.result(sub, applied)


def leiden(
    edges: DataFrame,
    max_levels: int = 3,
    max_rounds: int = 8,
    gamma: float = 1.0,
) -> DataFrame:
    """Distributed Leiden (reference gds.leiden.stream,
    project/metrics/community_detection.py:64-69), per Traag et al. 2019:
    each level is local moves (P) → refinement (P_ref, see `_refine`) →
    aggregate the graph by P_REF while seeding the next level's local
    moves with P. Aggregating by the refined partition is what lets later
    levels pull a badly-merged community apart again — plain Louvain
    coarsens by P itself, so a bad merge becomes one indivisible node
    forever.

    A final connected-components pass enforces the connectivity guarantee
    unconditionally (with bounded max_levels the loop may stop before the
    fixpoint where Traag et al.'s connectivity proof applies); it only
    ever splits, never merges, and since round 7 it runs over the FINAL
    aggregation units rather than the level-0 graph — exact because
    refined subs are connected by construction (see the tail comment).
    Returns (node, community), ids = min member node. One
    `_generations` scope owns every level's generations; only the
    returned frame's blocks outlive the call, on every return path."""
    from echo_chambers_detection_spark.operators.localgraph import (
        leiden_local,
        leiden_local_continue,
    )

    spark = edges.sparkSession
    with _generations() as g:
        sym, m, n = _weighted_sym(g, edges)
        if m <= 0:
            return _nodes(edges).withColumn("community", F.col("node"))
        if _mirror_ok(edges, "leiden", n):
            # bounded collect (see louvain): whole multilevel loop plus
            # the split-only connectivity pass, driver-side, same semantics
            result = leiden_local(
                sym.toPandas(), m, max_levels, max_rounds, gamma=gamma
            )
            return driver_frame(
                spark, result.items(), "node string, community string"
            )

        def finish(sym_rows, selfw_rows, unit_min_rows, levels):
            # the rest driver-side with the seeded numpy mirror, labels
            # composed through the distributed mapping
            labels = leiden_local_continue(
                sym_rows, selfw_rows, sub2comm.toPandas(), unit_min_rows,
                m, levels, max_rounds, gamma=gamma,
            )
            lab_df = driver_frame(
                spark, labels.items(), "agg string, community string"
            )
            return g.result(
                g.keep(
                    mapping.join(F.broadcast(lab_df), "agg").select(
                        "node", "community"
                    )
                )
            )

        # ONE distinct over the edge frame: selfw/comm0/mapping are all
        # projections of (or derived from) this checkpointed node list —
        # the old shape re-executed the 2|E|-row distinct once per lazy
        # consumer (selfw alone fed three: both k_i builds and the coarsen)
        nodes_m = g.keep(_nodes_of_sym(sym))
        selfw = nodes_m.select("node", F.lit(0.0).alias("w_self"))
        mapping = nodes_m.withColumn("agg", F.col("node"))
        comm0 = nodes_m.withColumn("community", F.col("node"))
        small = _probe_small(mapping)
        hint = _state_hint(small)
        sub2comm = comm0.select(F.col("node").alias("sub"), "community")
        unit_edges = None  # set on the moves==0 break; else the final sym

        for _level in range(max_levels):
            comm, moves = _local_moves(
                sym, selfw, comm0, m, max_rounds, small_state=small
            )
            comm = g.adopt(comm)
            if _level == max_levels - 1:
                # LAST level: the refined partition is only ever consumed
                # by the next level's aggregation, which will not happen,
                # and the community output factors through `comm`
                # identically with or without refining (each refined sub
                # lies inside one community, so sub2comm∘mapping == comm
                # either way, and the units stay connected for the CC
                # check below) — skip the whole refinement pass (round 7;
                # 20% of the 6M-edge row)
                sub2comm = comm.select(F.col("node").alias("sub"), "community")
                break
            refined = g.adopt(
                _refine(sym, selfw, comm, m, small_state=small, gamma=gamma)
            )
            if "community" in refined.columns:
                # group-parallel refine already carries each sub's
                # community (the cogroup key) — skip the node-level re-join
                s2c = refined.select("sub", "community")
            else:
                s2c = refined.join(comm, "node").select(F.col("sub"), "community")
            # the seed partition of this level is dead once the next one
            # (Traag's aggregate-by-P_ref, seed-with-P) is on storage
            sub2comm = g.step(s2c.distinct(), prev=sub2comm)
            mapping = g.step(
                mapping.join(
                    hint(refined.select(F.col("node").alias("agg"), "sub")),
                    "agg",
                ).select("node", F.col("sub").alias("agg")),
                prev=(mapping, comm),
            )
            if moves == 0:
                # the refined subs were never coarsened: build just the
                # unit-level edge list the connectivity check below needs.
                # _coarsen emits ORIENTED (u1 < u2) pairs named u1/u2 —
                # rename to the src/dst the connectivity pass reads (its
                # src < dst filter then keeps every row, matching the
                # both-directions sym frame it otherwise receives). This
                # branch was dormant until the single-direction-per-round
                # schedules let a mid-loop level converge to moves == 0.
                fin_edges, _ = _coarsen(
                    sym,
                    selfw,
                    refined.select("node", F.col("sub").alias("community")),
                    small_state=small,
                )
                unit_edges = g.keep(
                    fin_edges.select(
                        F.col("u1").alias("src"), F.col("u2").alias("dst")
                    )
                )
                break
            new_edges, new_selfw = _coarsen(
                sym,
                selfw,
                refined.select("node", F.col("sub").alias("community")),
                small_state=small,
            )
            coarse = None
            n_units = sub2comm.count()
            if _mirror_ok(edges, "leiden", n_units):
                # aggregation may have crossed the local threshold
                # (louvain's mid-loop crossover, VERDICT r9 #3): checkpoint
                # the coarse DIRECTED edge list compactly first — the wide
                # repartition below only pays off for further distributed
                # rounds, not for a driver-side finish
                coarse = g.keep(new_edges)
                if _mirror_ok(edges, "leiden", max(2 * coarse.count(), n_units)):
                    # finish the remaining levels AND the split-only
                    # connectivity pass on the coarse unit graph. Exact:
                    # the kernels are the bit-for-bit local mirrors, and
                    # the connectivity pass over ENTRY units equals the
                    # node-level pass because every unit is connected by
                    # construction.
                    unit_min_rows = (
                        mapping.groupBy("agg")
                        .agg(F.min("node").alias("umin"))
                        .toPandas()
                    )
                    return finish(
                        _symmetrize(coarse).toPandas(),
                        new_selfw.toPandas(),
                        unit_min_rows,
                        max_levels - _level - 1,
                    )
            new_sym = g.step(
                _symmetrize(coarse if coarse is not None else new_edges),
                wide=True,
            )
            selfw = g.step(new_selfw, prev=(sym, selfw, refined, coarse))
            sym = new_sym
            comm0 = sub2comm.select(F.col("sub").alias("node"), "community")
            if sym.isEmpty():
                break

        if unit_edges is None:
            # normal exit: the latest coarsened graph IS the unit-level
            # graph (its nodes are the final refined subs); zero-level exit
            # degenerates to the level-0 graph with all-singleton
            # communities, where the intra frame below is empty and every
            # unit keeps its own label
            unit_edges = sym.select("src", "dst")

        # connectivity safety net (split-only), at the FINAL AGGREGATED
        # level (round 7 — was a full CC over the level-0 graph, ~20% of
        # the 6M-edge bench row with its two full-width label joins).
        # Every refined sub is connected by construction (_refine grows
        # subs one positive-gain edge at a time), so a community is
        # connected iff its induced subgraph over the final aggregation
        # units is, and splitting there is EXACT: units partition the
        # nodes, intra-community adjacency factors through units, and
        # each split part's label is the min original member via the
        # per-unit minima — identical labels to the node-level pass,
        # thousands of times smaller at scale.
        unit_min = mapping.groupBy("agg").agg(F.min("node").alias("umin"))
        if _mirror_ok(edges, "leiden", max(unit_edges.count(), sub2comm.count())):
            # unit graph fits the driver: the split-only connectivity
            # pass as one union-find instead of the distributed CC loop
            # (~15 serialized jobs of pure overhead at unit scale —
            # VERDICT r9 #3); leiden_local_continue with max_levels=0 IS
            # this tail
            return finish(unit_edges.toPandas(), [], unit_min.toPandas(), 0)
        lab_u1 = sub2comm.select(
            F.col("sub").alias("u1"), F.col("community").alias("c1")
        )
        lab_u2 = sub2comm.select(
            F.col("sub").alias("u2"), F.col("community").alias("c2")
        )
        intra_u = (
            unit_edges.where(F.col("src") < F.col("dst"))
            .select(F.col("src").alias("u1"), F.col("dst").alias("u2"))
            .join(lab_u1, "u1")
            .join(lab_u2, "u2")
            .where(F.col("c1") == F.col("c2"))
            .select("u1", "u2")
        )
        comps_u = g.adopt(connected_components(intra_u))
        comp_min = comps_u.join(
            unit_min.withColumnRenamed("agg", "node"), "node"
        ).groupBy("component").agg(F.min("umin").alias("cmin"))
        unit_final = comps_u.join(comp_min, "component").select(
            F.col("node").alias("agg"), "cmin"
        )
        return g.result(
            g.keep(
                mapping.join(hint(unit_final), "agg", "left")
                .join(hint(unit_min), "agg")
                .select(
                    "node", F.coalesce("cmin", F.col("umin")).alias("community")
                )
            )
        )


# ---------------------------------------------------------------------------
# G2 — FastRP node embeddings (reference gds.fastRP.mutate with
# embeddingDimension=128, relationshipWeightProperty="weight",
# project/metrics/community_detection.py:40-45)
# ---------------------------------------------------------------------------


def fastrp_md5_mod6(node, dim, seed: int):
    """Drop-in init hash for `fastrp(hash_mod6=...)`: the first hex
    digit of md5('node:dim:seed') mod 6. Slower than the default
    xxhash64 (one md5 + string conv per cell) but computable VERBATIM
    in DuckDB — `fastrp_step_recovery` uses it to hash-check one round
    of the recurrence against a plain-SQL oracle (VERDICT r6 #8), the
    same engine-portable-hash trick as simhash64_md5_near_pairs."""
    s = F.concat_ws(
        ":", node.cast("string"), dim.cast("string"), F.lit(str(seed))
    )
    return F.pmod(
        F.conv(F.substring(F.md5(s), 1, 1), 16, 10).cast("int"), F.lit(6)
    )


def fastrp(
    edges: DataFrame,
    dim: int = 64,
    iteration_weights: tuple[float, ...] = (0.0, 1.0, 1.0),
    seed: int = 42,
    assemble: bool = True,
    hash_mod6=None,
) -> DataFrame:
    """FastRP (Chen et al., CIKM'19) on DataFrames.

    - init: very sparse random projection per node — value ±√3 with
      probability 1/6 each, else 0 (Achlioptas s=3), seeded from
      xxhash64(node, dim, seed) so the embedding is DETERMINISTIC, unlike
      the reference's GDS run;
    - iterate: r_t = L2-normalize-per-node( D⁻¹·A · r_{t-1} ) — a join on
      the degree-normalized edge list + a (node, dim) sum;
    - output: Σ_t iteration_weights[t] · r_t, assembled to array<float>.

    Everything lives in the exploded (node, dim, val) representation:
    shuffles key on (node, dim) — scale-out is by node count × dim, with
    no vector-width skew. Returns (node, embedding array<float>), or the
    raw exploded (node, dim, val) frame when assemble=False (cheaper —
    skips the collect_list — and hashable by order-insensitive harnesses).

    Placement: with the default init hash, a graph whose pull fits the
    driver budget (`placement`) runs in the parity-tested numpy mirror
    (localgraph.fastrp_local) on the driver — the Run-analysis press's
    100-post graph otherwise pays ~28 serialized Spark jobs. Above the
    bound, with a custom `hash_mod6`, or on input the mirror cannot
    reproduce (non-string ids, NULL endpoints, a node of weighted
    degree 0), the distributed loop runs.
    """
    if hash_mod6 is None:
        out = _traversal_mirror(
            edges,
            "fastrp_local",
            [("node", None), ("embedding", ArrayType(FloatType(), False), False)]
            if assemble
            else [
                ("node", None),
                ("dim", IntegerType(), False),
                ("val", DoubleType(), False),
            ],
            weighted=True,
            # the mirror holds (sym rows + nodes) x dim float64s
            row_bytes=placement.FASTRP_ROW_BYTES_PER_DIM * max(dim, 1),
            drop_null_ids=False,
            dim=dim,
            iteration_weights=iteration_weights,
            seed=seed,
            assemble=assemble,
        )
        if out is not None:
            return out
    spark = edges.sparkSession
    with _generations() as g:
        sym = g.keep(_symmetrize(edges), wide=True)
        degw = sym.groupBy("src").agg(F.sum("weight").alias("degw"))
        trans = g.keep(
            sym.join(degw, "src").select(
                "src", "dst", (F.col("weight") / F.col("degw")).alias("p")
            )
        )
        nodes = _nodes_of_sym(sym)
        dims = spark.range(dim).select(F.col("id").cast("int").alias("dim"))

        sqrt3 = 3.0 ** 0.5
        if hash_mod6 is None:
            h = F.pmod(
                F.xxhash64(F.col("node"), F.col("dim"), F.lit(seed)), F.lit(6)
            )
        else:
            h = hash_mod6(F.col("node"), F.col("dim"), seed)
        init = (
            nodes.crossJoin(dims)
            .select(
                "node",
                "dim",
                F.when(h == 0, F.lit(sqrt3))
                .when(h == 1, F.lit(-sqrt3))
                .otherwise(F.lit(0.0))
                .alias("val"),
            )
            .where(F.col("val") != 0.0)
        )
        # weight-0 init (the default and the reference configuration) is
        # consumed exactly ONCE — the t=1 propagation join; checkpointing
        # it would pay a full write+read of the sparse projection for
        # nothing. Non-zero init weight keeps the checkpoint: init then
        # feeds both the propagation and the term union.
        cur = init
        terms: list[DataFrame] = []
        live: list[DataFrame] = []  # generations the term union reads
        for t, wt in enumerate(iteration_weights):
            if t > 0:
                propagated = (
                    trans.join(
                        cur.select(F.col("node").alias("dst"), "dim", "val"),
                        "dst",
                    )
                    .groupBy(F.col("src").alias("node"), "dim")
                    .agg(F.sum(F.col("p") * F.col("val")).alias("val"))
                )
                w = Window.partitionBy("node")
                norm = F.sqrt(F.sum(F.col("val") * F.col("val")).over(w))
                # plain keep, NOT wide: measured A/B at sf0.1 (round 4) —
                # re-widening the per-round (node, dim) state costs an
                # extra exchange per iteration and LOSES ~20% (cur is
                # scanned once per round, and the propagation join
                # re-shuffles it anyway).
                cur = g.keep(
                    propagated.select(
                        "node",
                        "dim",
                        F.when(norm > 0, F.col("val") / norm)
                        .otherwise(F.col("val"))
                        .alias("val"),
                    )
                )
            elif wt != 0.0:
                cur = g.keep(init)
            if wt != 0.0:
                live.append(cur)
                terms.append(
                    cur.select(
                        "node", "dim", (F.col("val") * F.lit(wt)).alias("val")
                    )
                )

        combined = terms[0]
        for part in terms[1:]:
            combined = combined.unionAll(part)
        summed = combined.groupBy("node", "dim").agg(F.sum("val").alias("val"))

        dense = (
            nodes.crossJoin(dims)
            .join(summed, ["node", "dim"], "left")
            .na.fill({"val": 0.0})
        )
        if not assemble:
            out = dense.select("node", "dim", "val")
        else:
            out = (
                dense.groupBy("node")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "val"))
                    ).alias("_pairs")
                )
                .select(
                    "node",
                    F.transform(
                        F.col("_pairs"), lambda s: s["val"].cast("float")
                    ).alias("embedding"),
                )
            )
        # sym feeds the final node x dim grid; the term generations feed
        # the union. trans and zero-weight generations die with the scope.
        return g.result(out, sym, *live)


# ---------------------------------------------------------------------------
# G3 — density clustering on embeddings (reference gds.hdbscan.stream on
# FastRP embeddings, project/metrics/community_detection.py:49-54).
# HDBSCAN itself is not honestly distributable (single-linkage hierarchy
# over a mutual-reachability graph); the documented substitution
# (SURVEY.md §7.2) is a DBSCAN-style density clustering: cosine-threshold
# neighbor graph -> core points -> connected components, with the
# reference's noise label -1 convention.
# ---------------------------------------------------------------------------


def density_cluster(
    embeddings: DataFrame,
    min_sim: float = 0.8,
    min_pts: int = 3,
    use_lsh: bool = False,
    lsh_num_planes: int = 16,
    lsh_band_bits: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """DBSCAN-flavored clustering over (node, vector).

    - neighbors: pairs with cosine >= min_sim. Two physical strategies:
      exact blocked-GEMM self-join (default — O(n²/B²) tiles, the
      verification path), or `use_lsh=True` for the scale path: banded
      hyperplane-LSH candidate generation (equi-join on (band, value),
      never n² pairs) + exact-cosine rerank of candidates only. Recall is
      tuned by lsh_num_planes/lsh_band_bits; with 4-bit bands, vectors at
      cosine ≥ 0.6 collide in ≥1 of 4 bands with high probability;
    - core nodes: >= min_pts neighbors;
    - clusters: connected components of the core-core graph; border nodes
      attach to the smallest adjacent core cluster; everything else is
      noise, labeled '-1' (reference HDBSCAN noise rows,
      /root/reference/hdbscan_clusters.csv).

    Returns (node, cluster) with cluster = min member node id or '-1'.
    One `_generations` scope owns the pair and neighbor checkpoints;
    the result owns what it reads, never the caller's `embeddings`: a
    caller that wants one release to free the whole chain hands them
    over with `carry_ckpt(out, embeddings)`.
    """
    from echo_chambers_detection_spark.operators.ann import (
        lsh_near_dup_pairs,
        similarity_self_join_gemm,
    )

    with _generations() as g:
        if use_lsh:
            if dim is None:
                dim = int(
                    embeddings.select(F.size("vector").alias("d")).first()["d"]
                )
            pairs = lsh_near_dup_pairs(
                embeddings,
                dim=dim,
                threshold=min_sim,
                num_planes=lsh_num_planes,
                band_bits=lsh_band_bits,
                id_col="node",
                vec_col="vector",
            )
        else:
            pairs = similarity_self_join_gemm(
                embeddings, threshold=min_sim, id_col="node", vec_col="vector"
            )
        # the pair generator hands over its checkpoint (the LSH signature
        # frame), dead once nbrs is a leaf
        nbrs = g.step(
            pairs.select(F.col("v1").alias("na"), F.col("v2").alias("nb")),
            prev=g.adopt(pairs),
        )
        sym_nbrs = nbrs.unionAll(
            nbrs.select(F.col("nb").alias("na"), F.col("na").alias("nb"))
        )
        deg = sym_nbrs.groupBy(F.col("na").alias("node")).agg(
            F.count("*").alias("n_nbrs")
        )
        core = deg.where(F.col("n_nbrs") >= min_pts).select("node")

        core_edges = (
            nbrs.join(core.withColumnRenamed("node", "na"), "na", "leftsemi")
            .join(core.withColumnRenamed("node", "nb"), "nb", "leftsemi")
            .select(F.col("na").alias("u1"), F.col("nb").alias("u2"))
        )
        comps = g.adopt(connected_components(core_edges))
        core_clusters = core.join(comps, "node", "left").select(
            "node", F.coalesce("component", F.col("node")).alias("cluster")
        )

        border = (
            sym_nbrs.join(
                core_clusters.select(
                    F.col("node").alias("nb"), F.col("cluster")
                ),
                "nb",
            )
            .groupBy(F.col("na").alias("node"))
            .agg(F.min("cluster").alias("cluster"))
            .join(core_clusters.select("node"), "node", "leftanti")
        )

        labeled = core_clusters.unionByName(border)
        out = (
            embeddings.select("node")
            .join(labeled, "node", "left")
            .select("node", F.coalesce("cluster", F.lit("-1")).alias("cluster"))
        )
        # nbrs/comps stay live inside the returned plan
        return g.result(out, nbrs, comps)
