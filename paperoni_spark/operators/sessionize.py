"""Gap-based sessionization over the events stream (batch shape).

Classic two-window plan: lag() to detect gap starts, running sum to assign
session indexes, then a per-session aggregate.  All window work happens in
one shuffle keyed by user_id (both windows share the partitioning, Catalyst
plans a single Exchange); the final groupBy is partial-aggregated on the
same key so it's shuffle-free after the windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_GAP_MINUTES = 30


def sessionize(events: DataFrame, gap_minutes: int = DEFAULT_GAP_MINUTES) -> DataFrame:
    """Assign session indexes: a session breaks when the gap to the previous
    event of the same user exceeds ``gap_minutes``."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000  # microsecond-exact (ts has µs)

    def _us(col):  # parquet NTZ timestamps: interpret in (UTC) session tz
        return F.unix_micros(col.cast("timestamp"))

    prev_ts = F.lag("ts").over(w)
    new_session = (
        prev_ts.isNull() | (_us(F.col("ts")) - _us(prev_ts) > gap_us)
    ).cast("int")
    running = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return events.withColumn("is_new", new_session).withColumn(
        "session_idx", F.sum("is_new").over(running)
    )


def session_stats(
    events: DataFrame, gap_minutes: int = DEFAULT_GAP_MINUTES
) -> DataFrame:
    """Per-session summary rows (the oracle-checked shape)."""
    s = sessionize(events, gap_minutes)
    return (
        s.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            )
            .cast("long")
            .alias("duration_us"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .withColumn("session_idx", F.col("session_idx").cast("long"))
    )


