"""Sessionization: gap-based session assignment + per-session rollups.

Beyond-the-reference op (the reference has no window functions at all —
SURVEY §2.11); a training-data / clickstream pipeline staple. Batch
implementation uses the lag + cumulative-sum window idiom (one shuffle,
partitioned by the entity key — skew handled by AQE or `salted_agg` for
per-entity rollups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
) -> DataFrame:
    """Add a ``session_id`` column: consecutive events of the same key
    within ``gap_minutes`` share a session; a larger gap starts a new
    one. ``session_id`` numbers sessions per key from 1 in time order.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col)
    prev_ts = F.lag(ts_col).over(w)
    gap_sec = F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev_ts)
    new_session = F.when(
        prev_ts.isNull() | (gap_sec > gap_minutes * 60), 1
    ).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


def session_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
) -> DataFrame:
    """Per-session rollup: event count, start/end, duration seconds."""
    s = sessionize(df, key_col, ts_col, gap_minutes)
    return (
        s.groupBy(key_col, "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            (
                F.unix_timestamp(F.max(ts_col))
                - F.unix_timestamp(F.min(ts_col))
            ).alias("duration_sec"),
        )
    )


def conversation_stats(
    transcripts: DataFrame, salt_buckets: int = 0
) -> DataFrame:
    """Per-conversation rollup for the transcripts table: turn count,
    distinct roles, span. With ``salt_buckets > 0`` the count/min/max
    aggregates run two-phase salted for pathologically hot
    conversations (north_rule skew handling); distinct-role counting is
    combinable via partial ``collect_set`` union."""
    from datacheck_spark.dedup import salted_agg

    if salt_buckets > 0:
        partial = [
            F.count(F.lit(1)).alias("pn"),
            F.min("turn_idx").alias("pmin"),
            F.max("turn_idx").alias("pmax"),
            F.collect_set("role").alias("proles"),
        ]
        final = [
            F.sum("pn").alias("n_turns"),
            F.min("pmin").alias("first_turn"),
            F.max("pmax").alias("last_turn"),
            F.size(F.array_distinct(F.flatten(F.collect_list("proles")))).alias(
                "n_roles"
            ),
        ]
        return salted_agg(
            transcripts, ["conv_id"], salt_buckets, partial, final
        )
    return transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.min("turn_idx").alias("first_turn"),
        F.max("turn_idx").alias("last_turn"),
        F.countDistinct("role").alias("n_roles"),
    )
