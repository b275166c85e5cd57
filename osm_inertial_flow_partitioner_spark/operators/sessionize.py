"""Event-stream operators (events table: event_id, ts, user_id,
event_type, value, props).

- sessionization: 30-min-gap sessions via lag + cumulative sum (the
  classic window pattern; one shuffle on user_id);
- time rollups: per-type/hour aggregates;
- these double as the batch twins of the streaming path
  (streaming/incremental.py), which uses the same expressions over
  readStream with a watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """(user_id, event_id, ts, session_id) with session_id = cumulative
    count of gaps > gap_minutes per user (0-based), deterministic.

    Gaps are compared in microseconds, so a gap of 30 min plus a
    fraction of a second opens a new session."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us, 1).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60 * 10**6), 1).otherwise(0)
    return (
        events.withColumn("is_new", is_new)
        .withColumn(
            "session_id",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - 1,
        )
        .select("user_id", "event_id", "ts", "session_id")
    )


def session_stats(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-session aggregates: event count, span seconds."""
    s = sessionize(events, gap_minutes)
    joined = s.join(events.select("event_id", "value"), "event_id")
    return joined.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max(F.col("ts").cast("timestamp").cast("long")) - F.min(F.col("ts").cast("timestamp").cast("long"))).alias(
            "span_sec"
        ),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_value_cents"),
    )


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Per event_type x hour: count + value sum (map-side combinable).

    Values are summed as integer cents — exact under any partitioning /
    summation order (and bit-identical to the DuckDB oracle)."""
    return (
        events.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("event_type", "hour")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_value_cents"),
        )
    )
