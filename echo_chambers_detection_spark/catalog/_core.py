"""Query catalog: every implemented operator as a named (Spark, oracle-SQL) pair.

This is the engine's public query surface and the driver's correctness
gate in one place. Each entry:

  name -> QuerySpec(
      spark   = fn(spark, sf_dir) -> DataFrame   (the engine's answer)
      oracle  = ANSI SQL for DuckDB over the same parquet views, or None
                for genuinely non-SQL-expressible operators (iterative
                graph algorithms, stateful streaming) — driver then runs
                a weaker rows-only check.
  )

Determinism conventions (so order-insensitive value-hash comparison is
meaningful):
- every computed column is aliased identically on both sides;
- floating aggregates go through exact DECIMAL sums where inputs have
  fixed scale (TPC-H-ish money/quantity columns), then one deterministic
  double division/round — bit-identical across engines;
- float-vector math (embeddings) is rounded to 6 decimals on both sides;
- every LIMIT has a total ORDER BY (unique tiebreak column).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from echo_chambers_detection_spark.operators.graph import _checkpoint, _owns_checkpoints
from echo_chambers_detection_spark.sources.domain import engagements_from_events
from echo_chambers_detection_spark.sources.tables import load_table


@dataclass(frozen=True)
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""


QUERY_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    """Decorator: register the query function as `name`, wrapped in its
    checkpoint scope (`_owns_checkpoints`): the returned frame owns every
    checkpoint the query left pinned, so bodies hand no blocks along."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        fn = _owns_checkpoints(fn)
        QUERY_REGISTRY[name] = QuerySpec(spark=fn, oracle=oracle, doc=doc)
        return fn

    return wrap


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


def _engagements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engagement relation parsed from the events table, checkpointed:
    the co-engagement probes and the join read it more than once, and
    JSON extraction over the events scan is the expensive part to repeat."""
    return _checkpoint(engagements_from_events(_t(spark, sf_dir, "events")))


def _dec_sum(col, scale: int = 2):
    """Exact decimal sum of a fixed-scale double column, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def _spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin a SMALL scan across the cluster before per-row-heavy
    compute (md5 shingling, simhash votes, trigram counters, LSH hashing).

    A parquet row-group is the minimum split unit, so a small fixture
    table — one row-group — puts the whole column's per-row work on one
    core no matter what ``files.maxPartitionBytes`` says; a shuffle is the
    only way to fan it out. GUARDED, not unconditional: at production
    scale the scan already has >= defaultParallelism partitions and this
    returns the frame untouched (an unconditional repartition(32) would
    funnel a 100 TB scan through 32 partitions). ``.rdd.getNumPartitions``
    only plans — it launches no job.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


