"""Grouped-map operators: cogrouped applyInPandas — the escape hatch for
per-group logic the built-in operators can't express (here the as-of
merge; per-user sequence features are built-ins, see
plans/events.user_sequence_features). Arrow-batched; each group becomes
one pandas DataFrame on an executor.

At 100 TB the contract that matters: groups must fit in executor memory
(they are materialized per group) — callers pick group keys with bounded
cardinality-per-key, or pre-reduce with built-ins first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

ASOF_COGROUP_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("user_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("last_view_ts", TimestampType()),
])


def asof_join_cogroup(purchases: DataFrame, views: DataFrame) -> DataFrame:
    """As-of join via cogrouped applyInPandas (pd.merge_asof): for each
    purchase, the most recent view with ts STRICTLY before the purchase
    ts, per user. The cogroup API shuffles both sides once on the key
    and hands each user's (purchases, views) pair to one Arrow batch —
    the declarative form of the classic cogrouped merge.

    Semantics note vs events_asof_last_view: merge_asof compares event
    TIME only (strictly-backward), with no secondary event_id tiebreak —
    an equal-timestamp view does NOT match. The oracle mirrors exactly
    this (correlated MAX(ts) WHERE ts < purchase_ts)."""

    def asof(left, right):
        import pandas as pd
        left = left.sort_values("ts")
        # both sides carry the key column; keep one copy
        right = right.drop(columns=["user_id"])
        if right.empty:
            out = left.copy()
            out["last_view_ts"] = pd.NaT
        else:
            out = pd.merge_asof(
                left, right.sort_values("view_ts"),
                left_on="ts", right_on="view_ts",
                direction="backward", allow_exact_matches=False)
            out = out.rename(columns={"view_ts": "last_view_ts"})
        return out[["event_id", "user_id", "ts", "last_view_ts"]]

    return (
        purchases.groupby("user_id")
        .cogroup(views.groupby("user_id"))
        .applyInPandas(asof, ASOF_COGROUP_SCHEMA)
    )
