"""Update-conflict resolution: the reference's dedup surface (SURVEY §2.5).

Strategy interface analog of UpdateConflictResolver.orderUpdates
(reference: dedup/UpdateConflictResolver.java:46-70). Each resolver takes the
keyed document DataFrame and returns the surviving rows; metrics analogous to
the reference's duplicate/outdated counters are exposed via
``F.observe``-friendly aggregate helpers.

Resolvers (reference file → here):
  RetainMostRecentUpdateConflictResolver (default)  → retain_most_recent
  SortingUpdateConflictResolver                     → sort_updates
  NoChangeUpdateConflictResolver                    → no_change
  RejectingUpdateConflictResolver                   → reject_conflicts
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY_COLS = ["conv_id", "turn_idx"]


class ConflictError(RuntimeError):
    """Raised by reject_conflicts when >=2 docs share a unique key
    (reference: dedup/RejectingUpdateConflictResolver.java:33-46)."""


def recency_order(df: DataFrame, order_by: str = "ts") -> list:
    """Winner-first sort columns of a key's versions: order_by, then text,
    role and tool (those df has), each descending with nulls last. Every
    other transcript column is the key itself, so the winner is the same
    row whatever order the input arrives in."""
    return [F.col(c).desc_nulls_last()
            for c in (order_by, "text", "role", "tool") if c in df.columns]


def retain_most_recent(df: DataFrame, order_by: str = "ts",
                       key_cols: list[str] | None = None) -> DataFrame:
    """Keep the single doc with max(order_by) per key. Ties go to the
    greatest (text, role, tool), compared in that order with nulls lowest
    (recency_order), so the winner does not depend on input order; the
    reference keeps the last one its comparator sorts.
    Reference: dedup/RetainMostRecentUpdateConflictResolver.java:71-112."""
    keys = key_cols or KEY_COLS
    w = Window.partitionBy(*keys).orderBy(*recency_order(df, order_by))
    return (df.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1)
              .drop("_rn"))


def sort_updates(df: DataFrame, order_by: str = "ts",
                 key_cols: list[str] | None = None) -> DataFrame:
    """Keep ALL colliding updates ordered ascending by order_by within key
    (apply-in-order partial updates).
    Reference: dedup/SortingUpdateConflictResolver.java:63-77."""
    keys = key_cols or KEY_COLS
    n = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    return (df.repartition(int(n), *keys)
              .sortWithinPartitions(*keys, order_by))


def no_change(df: DataFrame) -> DataFrame:
    """Pass-through (reference: dedup/NoChangeUpdateConflictResolver.java:32-35)."""
    return df


def reject_conflicts(df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """Assert key uniqueness as part of the returned plan (lazy — the check
    runs inside whatever job consumes the result, not as a hidden eager job
    at plan-construction time). A duplicate key fails the job with a
    'duplicate unique key' error naming the key, matching the reference's
    per-document reject (dedup/RejectingUpdateConflictResolver.java:33-46).

    The assert lives in a filter condition so Catalyst cannot prune it; the
    key-count window shuffles by the same key the pipeline shuffles on
    anyway, so no extra stage is added at scale."""
    keys = key_cols or KEY_COLS
    w = Window.partitionBy(*keys)
    return (df.withColumn("_key_count", F.count(F.lit(1)).over(w))
              .where(F.assert_true(
                  F.col("_key_count") <= 1,
                  F.concat(F.lit("duplicate unique key: "),
                           F.concat_ws("#", *keys))).isNull())
              .drop("_key_count"))


def dedup_metrics(df: DataFrame, order_by: str = "ts",
                  key_cols: list[str] | None = None) -> DataFrame:
    """Counters analog (DUPLICATES / OUTDATED, reference:
    dedup/RetainMostRecentUpdateConflictResolver.java:105-110):
    one row: n_docs, n_keys, n_duplicates (extra rows beyond 1 per key)."""
    keys = key_cols or KEY_COLS
    per_key = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("c"))
    return per_key.agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        (F.sum("c") - F.count(F.lit(1))).cast("long").alias("n_duplicates"),
    )


RESOLVERS = {
    "retain_most_recent": retain_most_recent,
    "sort_updates": sort_updates,
    "no_change": lambda df, **_: no_change(df),
    "reject_conflicts": lambda df, order_by=None, key_cols=None: reject_conflicts(df, key_cols),
}
# CLI-facing alias (the argparse choice is 'reject'); both names resolve.
RESOLVERS["reject"] = RESOLVERS["reject_conflicts"]
