"""SCD type-2 temporal membership + run catalog (SURVEY.md §1.4, W1/W2).

The reference keeps community membership history in Postgres:
community_membership(community_id, neo4j_id, valid_from, valid_to) with
PRIMARY KEY (community_id, neo4j_id, valid_from)
(project/postgres/postgres-schema.sql:42-48). On each clustering run it
expires current rows with an in-place
    UPDATE ... SET valid_to = NOW()
    WHERE neo4j_id = ANY(:ids) AND valid_to IS NULL
(project/db/postgres.py:38-47) then appends the new assignment
(project/metrics/community_detection.py:112-120).

Spark has no in-place UPDATE; the equivalents here are:
- `expire_and_append`: the batch-MERGE formulation — recompute the table
  as (untouched rows) ∪ (expired rows) ∪ (new rows). On a real lake this
  is a copy-on-write partition rewrite or a Delta MERGE; the DataFrame
  algebra is identical.
- `scd2_from_changelog`: rebuild the full validity history from an event
  log with one lead() window — the read-side dual of incremental expiry,
  and the natural 100 TB formulation (no row mutation at all).
- `current_rows` / `as_of`: the two read predicates (P9/W2).

Timestamps are carried as-is; query-surface outputs convert to epoch
milliseconds (unix_millis) so cross-engine comparisons are exact integers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from echo_chambers_detection_spark.session import driver_frame

# The six algorithm names the reference seeds
# (project/postgres/community.py:12-19).
ALGORITHM_NAMES = (
    "hdbscan",
    "kcore",
    "label_propagation",
    "leiden",
    "louvain",
    "modularity_optimization",
)


def scd2_from_changelog(
    changes: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Event log -> SCD-2 history: each change opens an interval that the
    next change on the same key closes.

    Returns (key, value, valid_from, valid_to) with valid_to NULL on the
    current row. One window shuffle on the key — at 100 TB this is the
    whole cost, and it partitions by key with no skew beyond key activity.
    """
    order = [F.col(ts_col)]
    if tiebreak_col:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(key_col).orderBy(*order)
    return changes.select(
        F.col(key_col),
        F.col(value_col),
        F.col(ts_col).alias("valid_from"),
        F.lead(F.col(ts_col)).over(w).alias("valid_to"),
    )


def current_rows(scd2: DataFrame) -> DataFrame:
    """Current membership: valid_to IS NULL (reference read predicate,
    project/db/postgres.py:44; SURVEY.md P9)."""
    return scd2.where(F.col("valid_to").isNull())


def as_of(scd2: DataFrame, ts: Column | str) -> DataFrame:
    """Membership valid at time ts: valid_from <= ts AND (valid_to IS NULL
    OR valid_to > ts) (implied by the reference schema,
    project/postgres/postgres-schema.sql:45-47; SURVEY.md W2)."""
    t = F.lit(ts).cast("timestamp") if isinstance(ts, str) else ts
    return scd2.where(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )


def expire_and_append(
    membership: DataFrame,
    new_assignment: DataFrame,
    at_ts: str,
    key_col: str = "node_id",
) -> DataFrame:
    """The reference's run-boundary mutation as a batch MERGE
    (project/db/postgres.py:38-47 + community_detection.py:112-120):

    - current rows (valid_to NULL) whose key appears in the new assignment
      get valid_to = at_ts;
    - new assignment rows are appended with valid_from = at_ts;
    - everything else passes through untouched.

    new_assignment: (key_col, community_id). Returns the new table state.
    """
    t = F.lit(at_ts).cast("timestamp")
    keys = new_assignment.select(key_col).distinct()

    touched_current = (
        membership.where(F.col("valid_to").isNull())
        .join(keys, key_col, "leftsemi")
        .withColumn("valid_to", t)
    )
    untouched = membership.join(
        membership.where(F.col("valid_to").isNull())
        .join(keys, key_col, "leftsemi")
        .select(key_col, "valid_from"),
        [key_col, "valid_from"],
        "leftanti",
    )
    appended = new_assignment.select(
        "community_id",
        F.col(key_col),
        t.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    return untouched.unionByName(touched_current).unionByName(appended)


def seed_algorithms(spark, existing: DataFrame | None = None) -> DataFrame:
    """Algorithm seeding with ON CONFLICT DO NOTHING semantics
    (project/postgres/community.py:51-59; SURVEY.md J8/S15): insert the six
    names that are not already present, ids deterministic (md5 of name —
    the engine's uuid5 stand-in, SURVEY.md F2)."""
    names = driver_frame(spark, [(n,) for n in ALGORITHM_NAMES], "name string")
    if existing is not None:
        names = names.join(existing.select("name"), "name", "leftanti")
    return names.select(F.md5(F.col("name")).alias("id"), "name")


def save_communities(labels: DataFrame, run_id: str) -> tuple[DataFrame, DataFrame]:
    """The reference's save_communities persist shape
    (project/metrics/community_detection.py:85-122): noise filtered,
    distinct labels minted as community rows, membership rows keyed by
    community id.

    Reference mints uuid4 per community (nondeterministic); we derive
    md5(run_id:label) so reruns are reproducible (SURVEY.md §7.2 F2).
    labels: (node_id, label). Returns (community, membership) frames
    matching the Postgres schema columns.
    """
    clean = labels.where(F.col("label") != -1)
    community = (
        clean.groupBy("label")
        .agg(F.count("*").alias("total_amount"))
        .select(
            F.md5(F.concat_ws(":", F.lit(run_id), F.col("label"))).alias("id"),
            F.lit(run_id).alias("run_id"),
            "label",
            F.col("total_amount").cast("int").alias("total_amount"),
        )
    )
    membership = clean.select(
        F.md5(F.concat_ws(":", F.lit(run_id), F.col("label"))).alias(
            "community_id"
        ),
        F.col("node_id"),
    )
    return community, membership
