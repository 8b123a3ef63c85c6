"""Event-cadence statistics: per-user inter-arrival gaps.

Mirrors the activity-profiling a feed-ingest pipeline runs over the
engagement stream (superset of the reference's event-time surface —
the reference materializes engagement edges with timestamps via its
Kafka consumers, project/kafka/*.py; SURVEY.md X4). Batch formulation
here; the streaming twin of per-user ordering is the stateful
first-seen/running-count family in streaming/stateful.py.

Scale shape: ONE shuffle (the lag window partitions by user), then a
map-side-combining aggregation on the bounded group key. No global
sort; no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from echo_chambers_detection_spark.operators.graph import (
    _checkpoint,
    _owns_checkpoints,
)


def interarrival_gap_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    group_col: str = "event_type",
) -> DataFrame:
    """Per-user gap between consecutive events, rolled up by the LATER
    event's ``group_col``: (group, n_gaps, sum_gap_ms, max_gap_ms,
    avg_gap_s).

    The window order is total per user — (ts, tiebreak) — so tied
    timestamps cannot flip gaps between runs; sums are exact bigint
    milliseconds and the single terminal division is bit-identical
    across engines (the DuckDB-oracle discipline of the catalog).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    ms = F.unix_millis(ts_col)
    gaps = events.select(
        group_col, (ms - F.lag(ms).over(w)).alias("gap_ms")
    ).where(F.col("gap_ms").isNotNull())
    return gaps.groupBy(group_col).agg(
        F.count("*").alias("n_gaps"),
        F.sum("gap_ms").alias("sum_gap_ms"),
        F.max("gap_ms").alias("max_gap_ms"),
        F.round(
            F.sum("gap_ms") / (F.count("*") * F.lit(1000.0)), 6
        ).alias("avg_gap_s"),
    )


def user_session_stats(
    events: DataFrame,
    gap_limit_ms: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization: consecutive per-user events more than
    ``gap_limit_ms`` apart start a new session. Returns one row per
    user: (user, n_sessions, total_events, sum_session_ms,
    max_session_events).

    The stacked-window shape — lag-gap mark, then a running sum over
    the SAME per-user total order — costs ONE shuffle: Spark plans
    both windows and the downstream partial aggregations over a single
    Exchange on the user key (plan-pinned in tests). All-integer
    outputs, so the DuckDB gaps-and-islands twin hash-verifies.
    """
    ms = F.unix_millis(ts_col)
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    gap = ms - F.lag(ms).over(w)
    marked = events.select(
        user_col,
        tiebreak_col,
        ms.alias("ms"),
        F.when(gap.isNull() | (gap > gap_limit_ms), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    wn = (
        Window.partitionBy(user_col)
        .orderBy("ms", tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = marked.select(
        user_col, "ms", F.sum("is_new").over(wn).alias("sess")
    )
    sessions = numbered.groupBy(user_col, "sess").agg(
        F.count("*").alias("n_events"),
        (F.max("ms") - F.min("ms")).alias("dur_ms"),
    )
    return sessions.groupBy(user_col).agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("total_events"),
        F.sum("dur_ms").alias("sum_session_ms"),
        F.max("n_events").alias("max_session_events"),
    )


@_owns_checkpoints
def misra_gries_heavy_hitters(
    df: DataFrame, col: str, k: int = 256
) -> DataFrame:
    """Mergeable Misra-Gries heavy-hitters summary over one column —
    the frequent-items member of the sketch toolkit (theta distinct,
    HLL++, KLL/GK quantiles are Spark-built-in; Spark 4 ships no
    frequent-items sketch, so this one is implemented as the
    mergeable-summaries construction of Agarwal et al., PODS'12).

    Contract: returns (value: string, est: bigint, max_err: bigint)
    with ``est <= true_count <= est + max_err`` for EVERY value (also
    the unreported ones: their true count is <= max_err), and
    ``max_err * (k+1) <= n``. When no truncation ever fires — every
    per-partition stream and the merged summary hold <= k distinct
    values — ``max_err = 0`` and the counts are exact, which is the
    regime the oracle-backed catalog query pins (the same
    provably-exact-regime pairing as the theta/KLL family). NULLs are
    never counted.

    Shape: one `mapInPandas` pass builds an MG(k) summary per
    partition — per Arrow batch a C-side ``value_counts`` merged into
    the running summary with a top-k truncation (never a per-row
    Python loop); per-partition decrement totals ride along as
    NULL-value marker rows. One groupBy merges summaries (<= P*k
    rows), one window + broadcast scalar applies the final
    (k+1)-th-count subtraction on that tiny frame. Driver state is
    zero; the window's single partition holds <= P*k rows by
    construction.
    """
    import pandas as pd

    def part(batches):
        acc = None
        dec = 0
        for pdf in batches:
            vc = pdf["value"].value_counts()
            acc = vc if acc is None else acc.add(vc, fill_value=0)
            if len(acc) > k:
                acc = acc.sort_values(ascending=False)
                cut = int(acc.iloc[k])
                dec += cut
                acc = acc - cut
                acc = acc[acc > 0]
        frames = []
        if acc is not None and len(acc):
            frames.append(
                pd.DataFrame(
                    {
                        "value": acc.index.astype(str),
                        "est": acc.astype("int64").values,
                    }
                )
            )
        frames.append(pd.DataFrame({"value": [None], "est": [dec]}))
        yield pd.concat(frames, ignore_index=True)

    # checkpoint the summary: it feeds FOUR consumers (merge, decrement
    # total, cut scalar, final projection) and without the cut each one
    # would re-execute the Arrow pass over the full input (caught by
    # tests/test_plans.py::test_heavy_hitters_single_arrow_pass). The
    # checkpointed frames are <= P*k + P rows — tiny by construction.
    sk = _checkpoint(
        df.select(F.col(col).cast("string").alias("value"))
        .where(F.col("value").isNotNull())
        .mapInPandas(part, "value string, est long")
    )
    data = sk.where(F.col("value").isNotNull())
    base_dec = sk.where(F.col("value").isNull()).agg(
        F.coalesce(F.sum("est"), F.lit(0)).alias("d")
    )
    merged = data.groupBy("value").agg(F.sum("est").alias("est"))
    w = Window.orderBy(F.desc("est"), F.asc("value"))
    ranked = _checkpoint(
        merged.withColumn("_rk", F.row_number().over(w))
    )
    cutv = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("_rk") == k + 1, F.col("est"))), F.lit(0)
        ).alias("cut")
    )
    errf = base_dec.crossJoin(F.broadcast(cutv)).select(
        (F.col("d") + F.col("cut")).cast("bigint").alias("max_err")
    )
    return (
        ranked.crossJoin(F.broadcast(cutv))
        .select(
            "value", (F.col("est") - F.col("cut")).cast("bigint").alias("est")
        )
        .where(F.col("est") > 0)
        .crossJoin(F.broadcast(errf))
    )
