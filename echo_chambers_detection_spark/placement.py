"""Driver-or-cluster placement of every driver mirror.

Each operator with a driver kernel (the numpy mirrors in
operators/localgraph.py, the k-NN tiles, the HDBSCAN chain, the
per-community metrics table, the IVF quantizer) runs it only when its
driver-side input fits one budget. The gate asks `on_driver(spark,
kernel, nbytes)` with the bytes that input takes on the driver, from
sizes it already reads: rows times that kernel's bytes per row. One
heap-derived budget replaces a hand-set bound per operator, as Pregelix
picks each superstep's plan from the data size with one optimizer.

The budget is DRIVER_SHARE of the smaller of the driver JVM's maximum
heap (`Runtime.maxMemory()`: collected rows and Arrow batches land
there first) and the physical RAM the heap does not claim (the pulled
table and the kernel's numpy state live in the Python driver), or of
the heap alone when it claims all the RAM, and never more than
`spark.driver.maxResultSize`, above which Spark aborts the pull
itself. It is read once per SparkContext over py4j, without a Spark
job. The engine's heap follows the host (`session.get_spark`), so the
budget does too: 256 MiB on a 15 GB host with a 1 GiB heap, 1 GiB (the
result-size cap) with a 7g or 48g heap.

`distributed(*kernels)` forces the named kernels, or every kernel with
no argument, onto their distributed path inside a `with` block; tests
and bench.py force a path only through it.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

# Share of the driver memory one mirror may take: the JVM keeps its
# broadcasts, status store and block manager beside the pull, and the
# Python driver holds the pulled table next to the kernel's state.
DRIVER_SHARE = 0.25

# Driver bytes per input row of each kernel family. They are set so
# that the 1 GiB budget (a 4g heap and up, so the 7g and 48g heaps too)
# gives the row bounds the mirrors ran under when each had its own
# constant, which the parity fixtures and bench rows were sized
# against; a smaller heap scales them down. Measured driver peaks
# (Python RSS high-water plus JVM old-generation peak, slope over two
# input sizes, local[4], 3g heap): ~530 B per symmetrized edge row
# (Louvain, 0.4M-1.6M rows), ~310 B per raw traversal row (BFS,
# 0.5M-2M), ~4.9 KB per FastRP row at dim 128, ~31 B per k-NN pair at
# 4000 rows, ~11 KB per table member, ~1.7 KB and ~4.6 KB per IVF
# row at dim 16 and 64 (40k-160k rows; ~740 B + ~61 B per dim). The
# two edge-row costs sit 2-3.5x under their peaks; DRIVER_SHARE's
# fourfold headroom covers that.

# A symmetrized edge row of the community and union-find mirrors (4.2M).
EDGE_ROW_BYTES = 256
# A raw edge row pulled by the traversal and triangle mirrors (12.2M).
TRAVERSAL_ROW_BYTES = 88
# A raw edge row of FastRP's pull, per embedding dimension (65,536 at 128).
FASTRP_ROW_BYTES_PER_DIM = 128
# The k-NN tiles take this many bytes per pair of rows (4096 rows).
KNN_PAIR_BYTES = 64
# A member of the per-community metrics table (4096 members).
MEMBER_BYTES = 1 << 18
# An embedding row of the IVF quantizer's pull, per dimension (131,072
# rows at dim 64): at or above its measured peak from dim 12 up.
IVF_ROW_BYTES_PER_DIM = 128

# Every kernel a gate places. Named after its localgraph kernel, or
# after its step: "kruskal" (`hdbscan._kruskal_local`),
# "boruvka_contract" (Borůvka's union-find contraction), "knn" (the
# k-NN tiles, `hdbscan._driver_tiles`), "condense" (HDBSCAN's direct
# condense of the whole forest), "community_table" (`metrics._table_np`),
# "ivf" (`ann._lloyd_np`, the IVF quantizer's Lloyd rounds).
KERNELS = frozenset({
    "kcore", "connected_components", "pagerank", "louvain", "modularity",
    "leiden", "bfs", "landmark_bfs", "bellman_ford", "bellman_ford_landmark",
    "path_counts", "betweenness", "random_walks", "fastrp", "tricount",
    "transitivity", "ktruss", "kruskal", "boruvka_contract", "knn",
    "condense", "community_table", "ivf",
})

_forced: frozenset = frozenset()


def driver_budget(max_heap: int, ram: int, max_result: int = 0) -> int:
    """Bytes a mirror may take on the driver: DRIVER_SHARE of the
    smaller of `max_heap` and the `ram` the heap leaves (of `max_heap`
    alone when it leaves none: a heap set at or above the RAM, or the
    2g floor on a smaller host), capped at `max_result` (the
    result-size limit; 0 is none)."""
    free = ram - max_heap
    budget = int((min(max_heap, free) if free > 0 else max_heap) * DRIVER_SHARE)
    return min(budget, max_result) if max_result > 0 else budget


def budget(spark) -> int:
    """`driver_budget` of this session's driver, read once per
    SparkContext."""
    sc = spark.sparkContext
    cached = getattr(sc, "_driver_budget", None)
    if cached is None:
        jvm = sc._jvm
        cached = sc._driver_budget = driver_budget(
            jvm.java.lang.Runtime.getRuntime().maxMemory(),
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
            jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                sc.getConf().get("spark.driver.maxResultSize", "1g")
            ),
        )
    return cached


def on_driver(spark, kernel: str, nbytes: int) -> bool:
    """True when `kernel` should run on the driver over an input of
    `nbytes` driver bytes: it is not forced distributed and the input
    fits the budget."""
    if kernel not in KERNELS:
        raise ValueError(f"unknown kernel {kernel!r}")
    return "*" not in _forced and kernel not in _forced and nbytes <= budget(spark)


def max_rows(spark, kernel: str, row_bytes: int) -> int:
    """The most rows of `row_bytes` each that `on_driver` places on the
    driver, 0 when the kernel is forced distributed: the bound of a gate
    that probes its input's size with a bounded take or limit, whose
    bound + 1 rows must fit a Java int."""
    if not on_driver(spark, kernel, 0):
        return 0
    return min(budget(spark) // row_bytes, 2**31 - 2)


@contextmanager
def distributed(*kernels: str):
    """Run `kernels` (every kernel when none is named) on their
    distributed path inside the block, process-wide (threads
    included); blocks nest."""
    global _forced
    unknown = set(kernels) - KERNELS
    if unknown:
        raise ValueError(f"unknown kernels {sorted(unknown)}")
    saved = _forced
    _forced = saved | (set(kernels) or {"*"})
    try:
        yield
    finally:
        _forced = saved
