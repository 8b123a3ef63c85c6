"""SparkSession factory.

Single entry point for engine sessions; every knob here is a deliberate
scale decision:

- AQE on: runtime coalescing + skew-join splitting, the first line of
  defense against skewed co-engagement keys at 100 TB.
- shuffle.partitions sized for local test runs via SPARK_GRAFT_CPUS;
  on a real cluster this is overridden (or left to AQE's coalescing,
  which makes the static number much less load-bearing).
- Arrow enabled: every pandas_udf / applyInPandas boundary is batched.
- UTC session timezone: deterministic timestamp semantics vs the oracle.

Arrow hand-off rule: every frame the driver builds from Python data
(mirror results, small lookup tables, empty results) goes through
`driver_frame`, which hands Spark a typed `pyarrow.Table`. That path is
JVM-only at any row count, including 0, whatever
`spark.sql.execution.arrow.pyspark.enabled` says. A Python list or a
pandas frame passed to `createDataFrame` instead goes through
`sc.parallelize`, whose PythonRDD starts a Python daemon plus a worker
per slice (pandas takes that path at 0 rows or with Arrow off).
`tests/test_arrow_handoff.py` holds the package to this rule.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string


def _driver_memory() -> str:
    """SPARK_GRAFT_DRIVER_MEM, else half the host's physical RAM,
    clamped to 2-48g: a fixed 48g heap on a 15 GB host let G1 try to
    commit more memory than the machine had, and the JVM died with it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(2, min(48, ram_gb // 2))}g"


def get_spark(
    app_name: str = "echo_chambers_detection_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Defaults target local[N] testing; on a cluster, master/memory come
    from spark-submit and only the semantic confs below matter.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Master resolution: SPARK_GRAFT_MASTER overrides (set it to
    # "external" to leave the master entirely to spark-submit / cluster
    # conf — calling .master() there would fight the launcher); default
    # is local[N] for this container's test runs.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata carries TIMESTAMP(NANOS) parquet columns
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        # managed tables (bucketed-table workflows) go to a scratch
        # warehouse, not $CWD/spark-warehouse in the repo checkout
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Iterative loops mint hundreds of broadcasts + shuffle stages per
        # run; ContextCleaner only reclaims them when driver GC collects
        # the references, and a large mostly-idle heap can go a whole run
        # without a collection (default periodicGC is 30min). Long
        # sessions were measured degrading 2-3x on loop-heavy queries
        # purely from this accumulation.
        .config("spark.cleaner.periodicGC.interval", "45s")
        # The app-status store retains per-job/stage/task rows even with
        # the UI disabled (defaults: 1000 jobs / 1000 stages, each with
        # task summaries). A 133-query catalog pass mints thousands of
        # jobs, so the live store + its listener churn grow for the
        # whole session — one contributor to the measured end-of-run
        # drift (BENCH drift_post vs drift, VERDICT r8 #7). Keep only a
        # small tail; nothing in the engine reads the store.
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.driver.memory", _driver_memory())
    )
    if master != "external":
        builder = builder.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Iterative loops retire dead checkpoint generations deliberately
    # (graph._release_checkpoint); Spark WARNs on every unpersist of a
    # locally-checkpointed RDD because it cannot know the lineage is
    # dead. Hundreds of those per run drown real warnings — drop the rdd
    # package logger to ERROR (the unpersist lifecycle is designed, not
    # accidental).
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.rdd", jvm.org.apache.logging.log4j.Level.ERROR
        )
    except Exception:
        pass  # cosmetic only — never fail session construction over it
    return spark


def driver_frame(spark: SparkSession, data, schema: str | StructType) -> DataFrame:
    """A Spark frame of driver-side `data` with exactly `schema` (a DDL
    string or StructType), built as a typed Arrow table (module
    docstring: the Arrow hand-off rule).

    `data` is a pandas DataFrame or a `pyarrow.Table`, whose columns map
    to the schema by position as in `createDataFrame(pdf, schema)`, or
    an iterable of row tuples.

    The returned frame keeps the table as `_arrow_table`, so a driver
    step handed this exact frame reads its rows without a Spark job
    (`driver_table`); any transform of it is a new frame without one."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = (
        schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    )
    arrow_schema = to_arrow_schema(struct)
    if isinstance(data, pa.Table):
        cols = [data.column(i).cast(f.type) for i, f in enumerate(arrow_schema)]
    elif hasattr(data, "iloc"):
        cols = [
            pa.Array.from_pandas(data.iloc[:, i], type=f.type)
            for i, f in enumerate(arrow_schema)
        ]
    else:
        rows = list(data)
        cols = [
            pa.array([r[i] for r in rows], type=f.type)
            for i, f in enumerate(arrow_schema)
        ]
    table = pa.Table.from_arrays(cols, schema=arrow_schema)
    out = spark.createDataFrame(table, struct)
    out._arrow_table = table
    return out


def driver_table(df: DataFrame):
    """The Arrow table `df` was built from by `driver_frame`, or None."""
    return getattr(df, "_arrow_table", None)
